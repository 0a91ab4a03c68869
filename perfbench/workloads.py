"""The workloads: what each sets up, the seeded operation sequence it runs,
and how each operation's output is checked.

An operation is a dict with an ``id``, a ``kind`` and its parameters.
``plan(seed)`` is pure (no Spark), so the sequence a seed yields can be
tested directly.  Each workload sorts its kinds into ``WRITES`` (reported
as ``write_p50_s`` and ``write_rows_per_s``), ``READS`` (``reads_per_s``)
and ``MAINTENANCE`` (background work, ``maintenance_s``).
Plans are cycles of a fixed operation mix; a run measures whole cycles.
"""

from __future__ import annotations

import random
from typing import Dict, List, Optional

import numpy as np
import pandas as pd

from . import fixtures, oracles


class Result:
    """What an operation returned: ``rows`` of user data committed or read,
    ``data`` for the check, and ``df`` (the DataFrame the benchmark ran its
    own action on, for the Catalyst phase timings)."""

    def __init__(self, rows: int, data=None, df=None):
        self.rows = rows
        self.data = data
        self.df = df


def _run_all(fn, items) -> None:
    """``fn`` over ``items`` on parallel threads (set-up only); re-raises
    the first failure."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        for f in [pool.submit(fn, x) for x in items]:
            f.result()


def _per_second(records, kinds, work) -> float:
    done = [r for r in records if r.kind in kinds and r.ok]
    busy = sum(r.latency for r in done)
    return sum(work(r) for r in done) / busy if busy else float("nan")


class Workload:
    WRITES: tuple = ()
    READS: tuple = ()
    MAINTENANCE: tuple = ()
    WINDOW_CYCLES = 1  # cycles in the traced fingerprint window

    def write_rows_per_s(self, records) -> float:
        return _per_second(records, self.WRITES, lambda r: r.rows)

    def reads_per_s(self, records) -> float:
        return _per_second(records, self.READS, lambda r: 1)


# ---------------------------------------------------------------------------
# feature_store
# ---------------------------------------------------------------------------
class FeatureStoreWorkload(Workload):
    """Ingest and training reads against one store.

    Writes: ``save_df`` into 8 checked float features (``ingest/*``): the
    100k-row events series as a Spark frame (720 hourly timestamps; value
    and version shifted per save, so every save appends a new version) or a
    745-row hourly pandas frame; every sixth save is followed by
    ``compact(collapse_lww=True)`` of the feature last saved from Spark.

    Reads, over 4 other features (``train/*``) saved once each during
    set-up (every event a version of its hour, about 139 per timestamp),
    two of them then LWW-compacted to one version per timestamp, so both
    read-amplification regimes are present: one-feature daily as-of loads,
    4-feature hourly training-set assembly, time-travel loads, 6-hourly
    mean downsampling, small-window ``load_dataframe`` calls and
    ``last()``/``first()`` lookups.  Reads never touch what the writes
    change.

    The plan is a sequence of cycles with a fixed mix (``CYCLE``) in seeded
    order, and runs end on a cycle boundary, so every run sees the same
    proportions."""

    name = "feature_store"
    WRITES = ("save_spark", "save_pandas")
    READS = ("load_1d", "assemble_1h", "time_travel", "mean_6h", "small_window", "lookup")
    MAINTENANCE = ("compact",)
    CYCLE = ("save_spark", "save_spark", "save_pandas") + READS
    N_INGEST = 8
    N_TRAIN = 4
    COMPACTED = (0, 1)  # train features LWW-compacted in set-up
    COMPACT_EVERY = 6  # once every two cycles
    DELTAS = ("10min", "30min", "45min", "2h")

    @classmethod
    def plan(cls, seed: int, cycles: int = 40) -> List[Dict]:
        """The seed picks the order within each cycle, the read windows and
        the written values; what each operation costs (its feature's
        regime, window length, rows written, which feature compacts) is the
        same for every seed."""
        rng = random.Random(seed)
        ops: List[Dict] = []
        version = 0
        for cycle in range(cycles):
            kinds = list(cls.CYCLE)
            rng.shuffle(kinds)
            for kind in kinds:
                op = {"id": len(ops), "kind": kind, "cycle": cycle}
                ops.append(op)
                if kind in cls.WRITES:
                    version += 1
                    # each save goes to the next feature in turn
                    op.update(feature=(version + 1) % cls.N_INGEST, version=version,
                              shift=round(rng.uniform(-5.0, 5.0), 2), seed=rng.randrange(2**31))
                    if kind == "save_spark":
                        spark_feature = op["feature"]
                    if version % cls.COMPACT_EVERY == 0:
                        ops.append({"id": len(ops), "kind": "compact", "cycle": cycle,
                                    "feature": spark_feature})
                else:
                    op.update(cls._read_params(kind, rng))
        return ops

    @classmethod
    def _read_params(cls, kind: str, rng: random.Random) -> Dict:
        """Fixed window lengths; the seed picks where the window starts.
        Daily loads, small windows and time travel read the uncompacted
        features (about 139 versions per timestamp), downsampling and
        lookups the compacted ones, assembly all four."""
        start = fixtures.EVENTS_START

        def window(unit: str, length: int, last_start: int) -> Dict:
            s = start + pd.Timedelta(**{unit: rng.randrange(0, last_start + 1)})
            return {"start": str(s), "end": str(s + pd.Timedelta(**{unit: length}))}

        uncompacted = [k for k in range(cls.N_TRAIN) if k not in cls.COMPACTED]
        if kind == "load_1d":
            return {"feature": rng.choice(uncompacted), **window("days", 7, 22)}
        if kind == "mean_6h":
            return {"feature": rng.choice(cls.COMPACTED), **window("days", 7, 22)}
        if kind == "assemble_1h":
            return window("hours", 48, 26 * 24)
        if kind == "time_travel":  # refused on LWW-compacted features
            return {"feature": rng.choice(uncompacted), "delta": rng.choice(cls.DELTAS),
                    **window("days", 3, 26)}
        if kind == "small_window":
            return {"feature": rng.choice(uncompacted), **window("hours", 6, 29 * 24 - 7)}
        return {"feature": rng.choice(cls.COMPACTED), "last": rng.random() < 0.5}

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.raw: Dict[int, List[pd.DataFrame]] = {k: [] for k in range(self.N_INGEST)}
        self.saved_by: Dict[int, List[int]] = {k: [] for k in range(self.N_INGEST)}
        self.rows_committed = 0
        self._clock = pd.Timestamp("2024-02-01")

    @staticmethod
    def _train(k: int) -> str:
        return f"train/f{k}"

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from qafs_spark import Check, Column, FeatureStore

        self._F = F
        self.fs = FeatureStore(storage=self.root, spark=self.spark, clock=lambda: self._clock)
        for ns in ("ingest", "train"):
            self.fs.create_namespace(ns)
        for k in range(self.N_INGEST):
            self.fs.create_feature(f"ingest/f{k}", check=Column(
                float, checks=[Check.in_range(-1e6, 1e6), Check.greater_than(-1e6)]))
        for k in range(self.N_TRAIN):
            self.fs.create_feature(self._train(k), check=Column(float, checks=[Check.in_range(-1e6, 1e6)]))
        self.series = fixtures.event_series(np.random.default_rng(self.seed))
        # one partition, like the single-file sf0.1 events table: each save
        # writes one file per day partition
        self.base = self.spark.createDataFrame(self.series).coalesce(1)
        self.train_raw = {k: self.series.assign(value=np.round(self.series["value"] * (k + 1) + k, 2))
                          for k in range(self.N_TRAIN)}
        self.views = {k: oracles.lww(r) for k, r in self.train_raw.items()}

        def build(k: int) -> None:
            frame = self.train_raw[k].rename(columns={"value": self._train(k)})
            self.fs.save_df(self.spark.createDataFrame(frame).coalesce(1))
            if k in self.COMPACTED:
                self.fs.compact(self._train(k), collapse_lww=True)

        # the train store and one warm-up save of each shape, side by side;
        # their bookkeeping stays on this thread
        warm_saves = [self.prepare({"id": -1, "kind": kind, "feature": k, "shift": 0.0,
                                    "version": 0, "seed": 0})
                      for k, kind in enumerate(self.WRITES)]
        _run_all(lambda task: task(), [lambda k=k: build(k) for k in range(self.N_TRAIN)]
                 + [lambda frame=arg[0]: self.fs.save_df(frame) for _, arg in warm_saves])
        for op, (_, raw) in warm_saves:
            self.raw[op["feature"]].append(raw)
            self.rows_committed += len(raw)
        self.rows_committed += self.N_TRAIN * len(self.series)
        # warm-up: one read of every kind
        rng = random.Random(self.seed + 1)
        _run_all(lambda kind: self.execute(self.prepare(
            {"id": -1, "kind": kind, **self._read_params(kind, rng)})), self.READS)

    def _version_offset(self, version: int) -> pd.Timedelta:
        # every save is strictly newer than all earlier ones
        return pd.Timedelta(days=40 * version)

    def prepare(self, op: Dict):
        F, kind = self._F, op["kind"]
        name = f"ingest/f{op.get('feature')}"
        if kind == "save_spark":
            off = self._version_offset(op["version"])
            sdf = self.base.select(
                "time",
                (F.col("created_time") + F.expr(f"INTERVAL {off.days} DAYS")).alias("created_time"),
                (F.col("value") + F.lit(op["shift"])).alias(name),
            )
            raw = pd.DataFrame({"time": self.series["time"],
                                "created_time": self.series["created_time"] + off,
                                "value": self.series["value"] + op["shift"]})
            return op, (sdf, raw)
        if kind == "save_pandas":
            pdf = fixtures.hourly_frame(np.random.default_rng(op["seed"]))
            pdf["value"] += op["shift"]
            # pandas frames carry no created_time: the store's clock stamps it
            self._clock = pd.Timestamp("2024-02-01") + self._version_offset(op["version"])
            raw = pd.DataFrame({"time": pdf.index, "created_time": self._clock,
                                "value": pdf["value"].to_numpy()})
            return op, (pdf.rename(columns={"value": name}), raw)
        return op, None

    def execute(self, prepared) -> Result:
        op, arg = prepared
        fs, kind = self.fs, op["kind"]
        if kind in self.WRITES:
            frame, raw = arg
            fs.save_df(frame)
            self.raw[op["feature"]].append(raw)
            if op["id"] >= 0:
                self.saved_by[op["feature"]].append(op["id"])
            self.rows_committed += len(raw)
            return Result(len(raw))
        if kind == "compact":
            fs.compact(f"ingest/f{op['feature']}", collapse_lww=True)
            return Result(0)
        if kind == "lookup":
            name = self._train(op["feature"])
            got = (fs.last if op["last"] else fs.first)(name)
            return Result(1, got[name])
        if kind == "small_window":
            pdf = fs.load_dataframe(self._train(op["feature"]), from_date=op["start"], to_date=op["end"])
            return Result(len(pdf), pdf)
        window = {"from_date": op["start"], "to_date": op["end"]}
        if kind == "assemble_1h":
            df = fs.load_features([self._train(k) for k in range(self.N_TRAIN)], freq="1h", **window)
        elif kind == "load_1d":
            df = fs.load_features(self._train(op["feature"]), freq="1d", **window)
        elif kind == "mean_6h":
            df = fs.load_features(self._train(op["feature"]), freq="6h", method="mean", **window)
        else:
            df = fs.load_features(self._train(op["feature"]), time_travel=op["delta"], **window)
        pdf = df.toPandas()
        return Result(len(pdf), pdf, df)

    def check(self, prepared, result: Result) -> Optional[str]:
        op = prepared[0]
        kind = op["kind"]
        if kind in self.WRITES or kind == "compact":
            return None  # saves are checked together by final_check
        if kind == "lookup":
            view = self.views[op["feature"]]
            want = view.iloc[-1] if op["last"] else view.iloc[0]
            return None if abs(result.data - want) <= 1e-9 else f"lookup: {result.data} vs {want}"
        start, end = pd.Timestamp(op["start"]), pd.Timestamp(op["end"])
        pdf = result.data
        if kind == "small_window":
            got = pdf.iloc[:, 0]
            got.index = pd.to_datetime(got.index).astype("datetime64[ns]")
            view = self.views[op["feature"]]
            return oracles.same_values(got, view[(view.index >= start) & (view.index <= end)], kind)
        pdf = pdf.set_index(pd.to_datetime(pdf["time"]).astype("datetime64[ns]"))
        if kind == "assemble_1h":
            for k in range(self.N_TRAIN):
                want = oracles.asof_grid(self.views[k], start, end, "1h")
                reason = oracles.same_values(pdf[self._train(k)], want, f"{kind} {self._train(k)}")
                if reason:
                    return reason
            return None
        got = pdf[self._train(op["feature"])]
        if kind == "load_1d":
            return oracles.same_values(got, oracles.asof_grid(self.views[op["feature"]], start, end, "1d"), kind)
        if kind == "mean_6h":
            want = oracles.downsample_mean(self.views[op["feature"]], start, end, "6h")
            return oracles.same_values(got, want, kind, rtol=1e-12)
        view = oracles.lww(oracles.time_travel(self.train_raw[op["feature"]], op["delta"]))
        return oracles.same_values(got, view[(view.index >= start) & (view.index <= end)], kind)

    def final_check(self) -> Dict[int, str]:
        """The LWW view of every saved feature, computed by DuckDB over the
        committed files, against pandas LWW over everything saved.  A
        mismatch fails every operation that saved to that feature."""
        failed: Dict[int, str] = {}
        for k, raw in self.raw.items():
            if not raw:
                continue
            want = oracles.lww(pd.concat(raw, ignore_index=True))
            got = oracles.stored_lww(self.fs._path("ingest", f"f{k}"))
            reason = oracles.same_values(got, want, f"ingest/f{k}")
            for op_id in self.saved_by[k] if reason else ():
                failed[op_id] = reason
        return failed


# ---------------------------------------------------------------------------
# index_stream
# ---------------------------------------------------------------------------
class IndexStream(Workload):
    """The persisted-index pipeline.  A write applies one seeded micro-batch
    (250 documents, 100 vectors) into the banded MinHash index (exact mode),
    the BM25 inverted index and the IVF vector index; a BM25 search and an
    exact-tier vector search follow every batch (one cycle).  After the
    third batch ``delete_ids`` + ``scrub_pairs`` runs on all three indexes
    (again every fourth batch) and one ``compact()`` of all three."""

    name = "index_stream"
    WRITES = ("batch",)
    READS = ("bm25", "vsearch")
    MAINTENANCE = ("delete", "compact")
    DOCS_PER_BATCH = 250
    VECS_PER_BATCH = 100
    N_BATCHES = 16
    NLIST = 4
    THRESHOLD = 0.5  # the stream_banded_dedup oracle's
    WINDOW_CYCLES = 3  # through the delete and the compact

    @classmethod
    def batch_order(cls, seed: int) -> List[int]:
        order = list(range(cls.N_BATCHES))
        random.Random(seed).shuffle(order)
        return order

    @classmethod
    def plan(cls, seed: int) -> List[Dict]:
        """Batch 0 of the seeded order is applied during set-up; the plan
        starts with batch 1."""
        rng = random.Random(seed)
        order = cls.batch_order(seed)
        ops: List[Dict] = []
        applied = [order[0]]

        for b, slot in enumerate(order[1:], start=1):
            def add(kind, **kw):
                ops.append({"id": len(ops), "kind": kind, "cycle": b - 1, **kw})

            add("batch", batch_id=b, slot=slot)
            applied.append(slot)
            if b % 4 == 3:
                add("delete", slots=list(applied), picks=[rng.random() for _ in range(4)])
            if b == 3:
                add("compact")
            add("bm25", terms=rng.sample(fixtures.VOCAB, 3), k=10)
            add("vsearch", slots=list(applied), picks=[rng.random() for _ in range(3)], k=5)
        return ops

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.rows_committed = 0
        self.deleted_docs: List[int] = []
        self.deleted_vecs: List[int] = []
        self.applied_slots: List[int] = []
        self.batch_ops: List[int] = []

    def setup(self) -> None:
        from qafs_spark.pipeline.banded_index import BandedMinHashIndex
        from qafs_spark.pipeline.text_index import InvertedIndex
        from qafs_spark.pipeline.vector_index import CellVectorIndex

        rng = np.random.default_rng(self.seed)
        self.docs = fixtures.documents(rng, self.N_BATCHES * self.DOCS_PER_BATCH)
        self.vecs = fixtures.embeddings(rng, self.N_BATCHES * self.VECS_PER_BATCH)
        self.banded = BandedMinHashIndex(self.spark, f"{self.root}/banded", n=3, num_hashes=32,
                                         num_bands=16, num_partitions=8)
        self.text = InvertedIndex(self.spark, f"{self.root}/text", num_partitions=8)
        self.vector = CellVectorIndex(self.spark, f"{self.root}/vector", nlist=self.NLIST)
        first = self.batch_order(self.seed)[0]
        # warm-up: batch 0 (into the three indexes side by side) and one
        # search of each kind
        docs, vecs, rows = self.prepare({"id": -1, "kind": "batch", "slot": first})[1]
        _run_all(lambda apply: apply(), [
            lambda: self.banded.apply_batch(docs, 0, text_col="text", id_col="doc_id",
                                            threshold=self.THRESHOLD, max_band_size=None),
            lambda: self.text.apply_batch(docs, 0, text_col="text", id_col="doc_id"),
            lambda: self.vector.apply_batch(vecs, 0),
        ])
        self.applied_slots.append(first)
        self.rows_committed += rows
        self.execute(self.prepare({"id": -2, "kind": "bm25", "terms": ["spark", "join"], "k": 10}))
        self.execute(self.prepare({"id": -3, "kind": "vsearch", "slots": [first],
                                   "picks": [0.5], "k": 5}))

    def _slot(self, frame: pd.DataFrame, size: int, slot: int) -> pd.DataFrame:
        return frame.iloc[slot * size:(slot + 1) * size]

    def _live_docs(self, slots) -> pd.DataFrame:
        docs = pd.concat([self._slot(self.docs, self.DOCS_PER_BATCH, s) for s in slots])
        return oracles.live(docs, "doc_id", self.deleted_docs)

    def _live_vecs(self, slots) -> pd.DataFrame:
        vecs = pd.concat([self._slot(self.vecs, self.VECS_PER_BATCH, s) for s in slots])
        return oracles.live(vecs, "vec_id", self.deleted_vecs)

    @staticmethod
    def _pick(frame: pd.DataFrame, col: str, picks) -> List[int]:
        """One distinct id per pick in [0, 1)."""
        ids = sorted(frame[col])
        chosen: List[int] = []
        for p in picks:
            i = int(p * len(ids))
            while ids[i] in chosen:
                i = (i + 1) % len(ids)
            chosen.append(int(ids[i]))
        return sorted(chosen)

    def prepare(self, op: Dict):
        kind, s = op["kind"], self.spark
        if kind == "batch":
            docs = self._slot(self.docs, self.DOCS_PER_BATCH, op["slot"])
            vecs = self._slot(self.vecs, self.VECS_PER_BATCH, op["slot"])
            return op, (s.createDataFrame(docs), s.createDataFrame(vecs), len(docs) + len(vecs))
        if kind == "vsearch":
            live = self._live_vecs(op["slots"])
            q = live[live["vec_id"].isin(self._pick(live, "vec_id", op["picks"]))]
            return op, (s.createDataFrame(q), q)
        if kind == "delete":
            docs = self._pick(self._live_docs(op["slots"]), "doc_id", op["picks"])
            vecs = self._pick(self._live_vecs(op["slots"]), "vec_id", op["picks"][:2])
            return op, (docs, vecs)
        return op, None

    def execute(self, prepared) -> Result:
        op, arg = prepared
        kind = op["kind"]
        if kind == "batch":
            docs, vecs, rows = arg
            self.banded.apply_batch(docs, op["batch_id"], text_col="text", id_col="doc_id",
                                    threshold=self.THRESHOLD, max_band_size=None)
            self.text.apply_batch(docs, op["batch_id"], text_col="text", id_col="doc_id")
            self.vector.apply_batch(vecs, op["batch_id"])
            self.applied_slots.append(op["slot"])
            self.batch_ops.append(op["id"])
            self.rows_committed += rows
            return Result(rows)
        if kind == "bm25":
            df = self.text.search(op["terms"], k=op["k"])
            pdf = df.toPandas()
            return Result(len(pdf), pdf, df)
        if kind == "vsearch":
            df = self.vector.search(arg[0], k=op["k"], nprobe=self.NLIST)
            pdf = df.toPandas()
            return Result(len(pdf), pdf, df)
        if kind == "delete":
            docs, vecs = arg
            self.banded.delete_ids(docs)
            self.banded.scrub_pairs(docs)
            self.text.delete_ids(docs)
            self.vector.delete_ids(vecs)
            self.vector.scrub_pairs(vecs)
            self.deleted_docs += docs
            self.deleted_vecs += vecs
            return Result(0)
        self.banded.compact()
        self.text.compact()
        self.vector.compact()
        return Result(0)

    def check(self, prepared, result: Result) -> Optional[str]:
        op, arg = prepared
        if op["kind"] == "bm25":
            return oracles.check_bm25(result.data, self._live_docs(self.applied_slots),
                                      op["terms"], op["k"])
        if op["kind"] == "vsearch":
            return oracles.check_vector_topk(result.data, self._live_vecs(self.applied_slots),
                                             arg[1], op["k"])
        return None

    def final_check(self) -> Dict[int, str]:
        """The banded index's accumulated pairs against exact Jaccard over the
        live documents; a mismatch fails every timed batch."""
        got = self.banded.pairs().toPandas()
        reason = oracles.check_pairs(got, self._live_docs(self.applied_slots))
        return {op_id: reason for op_id in self.batch_ops} if reason else {}


WORKLOADS = {w.name: w for w in (FeatureStoreWorkload, IndexStream)}

"""Persisted, cell-partitioned vector index: incremental SEMANTIC dedup
and ANN serving whose per-batch/per-query cost is partition-pruned.

The semantic twin of :mod:`banded_index`. The batch SemDeDup/ANN operators
(:mod:`semdedup`, :mod:`similarity`) recompute assignments over the whole
corpus per run; a continuously-fed embedding store instead persists each
vector once, under its IVF cell:

- ``vectors/batch_id=N/cell=K/`` — (id, vec) rows partitioned by the
  vector's nearest-centroid cell. A batch (or a query set) probes only the
  cell directories its own vectors map to — partition pruning, bounded by
  ``nlist``, never an index scan.
- ``centroids/`` — the quantizer, trained on the FIRST batch and frozen
  (re-training would orphan every stored assignment; the published IVF
  practice — train once on a sample, assign forever).
- ``pairs/batch_id=N/`` — each batch's near-dup pairs.

Exactly-once: the persisted-index lifecycle shared with
:mod:`banded_index`, :mod:`lifecycle` — per-batch directories
committed with overwrite semantics, probe reads exclude the in-flight
batch, and an ``applied_log`` manifest entry appended after the last
dataset write is the applied marker (:mod:`manifest` — one cached read,
O(1) metadata ops per search), so foreachBatch replays are no-ops or
byte-identical re-commits. The same checkpoint/index lifecycle caveat
applies (see :mod:`streaming.dedup_lsh`).

Two dedup tiers, the package's standard pattern:

- ``tier="exact"`` — the batch brute-forces against ALL stored vectors
  (broadcast batch over one index scan). O(batch x corpus) dot products:
  the SQL-replayable oracle tier, and the right plan while the corpus is
  small.
- ``tier="ivf"`` — the 100 TB path: pairs only where the stored vector's
  cell is among the batch vector's ``nprobe`` nearest cells, reading only
  those cell partitions. With shared centroids and ``nprobe=1`` the pair
  set is bit-equal to :func:`semdedup.semantic_pairs` (IVF tier)
  restricted to batch-touching pairs — parity-tested; ``nprobe>1`` is the
  cross-cell recall knob (superset of nprobe=1, like SemDeDup multiprobe).
  The INGEST default is ``nprobe=2`` (round 11, matching
  ``semantic_pairs``): planted-pair recall at 100k vectors measures
  0.9921 at nprobe=2 vs 0.9084 at nprobe=1 (cell-boundary pairs are the
  quantizer's loss, not the guard's) — only nprobe=2 meets the repo's
  ≥0.95 recall bar, so the default must too. ``nprobe=1`` remains the
  explicit semantic_pairs-parity / minimum-read setting.

The reference engine has no vector surface at all; this module is part of
the mandated LLM-training-data extension alongside semdedup/similarity.
"""

from __future__ import annotations

import threading
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage as fs_storage
from ..obs import warn_once
from . import lease
from .lifecycle import IndexLifecycle

# Ingest-dedup cell cap: a cell past this size gets sub-bucketed by
# hyperplane sign patterns before the within-cell pair join, capping the
# quadratic term at ~max_cell_size² per bucket no matter how skewed the
# data or how stale the (frozen-at-first-batch) quantizer is. 4096 keeps
# the per-bucket join ~10⁷ cosine evaluations; the gate fixtures (≤2000
# vectors) can never reach it, so guarded output is bit-equal to
# unguarded there — the oracle replays stay exact.
DEFAULT_MAX_CELL_SIZE = 4096

# Driver-collect chunk budget for the blocked scorer's b side (round 13):
# above this estimated size the collect runs in row-range groups so no
# single fetch breaches spark.driver.maxResultSize (the one-shot collect
# carried a hidden × dim factor — ~1.4 GiB task results for a 233k-row
# batch at dim 768). Round 14: the chunks stream STRAIGHT INTO the
# mmap-able .npy artifacts (write-mode memmaps), so driver RAM holds one
# chunk plus O(n) int64 bookkeeping — never the n×dim float64 batch (the
# round-13 shape preallocated ~61 GB for a 10M-row × 768-dim batch).
# Module-level so tests can shrink it to pin chunked == single-shot
# equality on small fixtures.
COLLECT_CHUNK_BYTES = 256 * 1024 * 1024

# Per-node budget for ONE PASS's shared-block artifact set (disk + page
# cache, n×dim×{8,4} bytes). CellVectorIndex._score_passes scores a batch
# or query set whose artifacts would exceed it in SEVERAL PASSES over
# shares of the b side (id-hash shares in ingest, row ranges of the
# fetched queries in search): each pass ships ≤ budget bytes per node,
# materializes its output and reclaims its artifacts before the next
# pass builds, at the explicit cost of scanning the a side once per pass
# (pass count ceil(artifact_bytes / budget), noted once). Output is
# BIT-EQUAL to single-pass: the shares partition the b rows, so each
# output row is scored in exactly one pass, and the einsum computes every
# (a, b) dot product independently of the other b rows in its block.
# Override per index via CellVectorIndex(node_budget_bytes=...).
NODE_ARTIFACT_BUDGET_BYTES = 8 * 1024 * 1024 * 1024


def _added_files_registry(sc):
    """The driver's added-files registry — per job-artifact session, a
    path→timestamp map whose SNAPSHOT ships with every task description
    — or None when the JVM internals aren't reachable. ``private[spark]``
    Scala members compile to public bytecode members, so py4j can call
    ``SparkContext.addedFiles``; everything built on this is
    best-effort and a failure degrades to the round-12 documented
    residual (O(100 bytes) of driver metadata per micro-batch), never
    an error — but it degrades LOUDLY (one warning per process, round
    15) so a Spark upgrade can't silently re-open the leak."""
    try:
        return sc._jsc.sc().addedFiles()
    except Exception as e:
        # Round 15 (verdict task 3): the probe rides a ``private[spark]``
        # JVM member — version-coupled by nature. Where it stops
        # resolving, deregistration no-ops and slot reuse disables, so the
        # registry (and every task's serialized payload) regrows with
        # micro-batches — the round-12 leak. The installed Spark's probe
        # is pytest-pinned, so a version bump that breaks it fails tests.
        warn_once(
            "vector_index.probe_failed",
            "SparkContext.addedFiles is not reachable on this Spark build "
            f"({e!r}): shared-block artifact deregistration and slot reuse "
            "are DISABLED. Driver metadata will grow ~O(100 B) per "
            "micro-batch for the life of the app — bounded for batch jobs, "
            "but long-running streams should bound their lifetime or pin a "
            "Spark version where the probe works. Warned once per process.",
            stacklevel=3,
        )
        return None


def _deregister_added_file(sc, basename: str) -> bool:
    """Best-effort removal of every added-files registry entry whose
    path ends in ``/<basename>`` (artifact basenames are uuid/slot
    unique, so suffix match is exact). This is the round-14 fix for the
    round-12 ADVICE leak: without it each micro-batch's ``addFile``
    grows the registry — and therefore EVERY subsequent task's
    serialized payload — without bound. Returns True iff an entry was
    removed."""
    reg = _added_files_registry(sc)
    if reg is None:
        return False
    removed = False
    try:
        outer = []
        it = reg.keysIterator()
        while it.hasNext():
            outer.append(it.next())
        for ok in outer:
            opt = reg.get(ok)
            if not opt.isDefined():
                continue
            inner = opt.get()
            ikeys = []
            it2 = inner.keysIterator()
            while it2.hasNext():
                ikeys.append(it2.next())
            for k in ikeys:
                if k.endswith("/" + basename):
                    inner.remove(k)
                    removed = True
    except Exception:
        return removed
    return removed


def _slot_reuse_ok(sc) -> bool:
    """Whether fixed artifact name SLOTS may be reused across batches.
    Reuse bounds the driver file-server's name→file map too (its
    ``put`` replaces same-name entries), but a reused name means an
    executor can hold a fetched copy whose content no longer matches —
    ``Utils.fetchFile`` then only refreshes it when
    ``spark.files.overwrite=true`` (it raises otherwise). Local masters
    are safe without the conf because cleanup removes the fetched copy
    itself (driver and executor share SparkFiles' root). Registry
    deregistration (:func:`_deregister_added_file`) is applied in BOTH
    modes; without reuse the only residual is the file-server map,
    ~100 bytes of driver heap per batch."""
    if _added_files_registry(sc) is None:
        return False
    master = (sc.master or "")
    # single-JVM local mode ONLY: "local" / "local[...]". A bare
    # startswith("local") would also admit "local-cluster[...]", whose
    # executors run in SEPARATE JVMs with their own fetch directories —
    # the shared-SparkFiles-root premise is false there, so it must fall
    # through to the spark.files.overwrite gate like any real cluster.
    if master == "local" or master.startswith("local["):
        return True
    try:
        conf = sc.getConf().get("spark.files.overwrite", "false")
    except Exception:
        return False
    return str(conf).lower() == "true"


class _SharedBlocks:
    """Node-shared distribution of the blocked scorer's b side
    (round 12): four mmap-able ``.npy`` artifacts (ids int64[N],
    vecs float64[N,d], norms float64[N], pos int64[M]) shipped via
    ``SparkContext.addFile`` (TorrentBroadcast-style, one fetch per
    executor node), plus a tiny per-key ``(start, stop)`` range index
    over ``pos`` that rides in the task closure. Every Python worker on a node
    opens the SAME file with ``np.load(mmap_mode="r")``, so the OS page
    cache holds ONE physical copy per node no matter how many workers
    score against it — vs the Python-broadcast dict each worker
    deserialized privately (node footprint block_bytes × workers, the
    r11-measured OOM at 2M vectors on local[32]). Slices stay views;
    einsum reads pages lazily; bit-equality with the in-memory shape is
    pytest-pinned.

    Lifecycle: the driver-side staging copy must OUTLIVE the tasks that
    score against it (executors re-fetch from the source path and verify
    contents at first use — measured in local mode, same on a cluster),
    so :meth:`cleanup` (called by the index's
    ``unpersist_intermediates``) removes BOTH the staging copy and the
    local app-dir copy — callers must materialize the returned
    pair/search frames first, the same contract the persisted
    intermediates already carry. On a multi-node cluster, executor-local
    fetched copies are reclaimed by the app teardown (the standard
    SparkFiles lifetime); per-batch disk cost is one block-set per node,
    page-cache-backed.

    Registry bounding (round 14, closes the round-12 ADVICE residual):
    ``SparkContext.addFile`` keys a driver registry (path → timestamp)
    whose SNAPSHOT rides in every task description, plus a file-server
    name→file map. :meth:`cleanup` now best-effort DEREGISTERS this
    handle's entries (:func:`_deregister_added_file` — the registry is
    reachable via py4j because ``private[spark]`` compiles to public
    bytecode), so the per-task payload is bounded by LIVE handles, not
    batches ingested. Where reuse is fetch-safe
    (:func:`_slot_reuse_ok`: local master, or a cluster running with
    ``spark.files.overwrite=true``) the owning index additionally hands
    out fixed per-instance SLOT names, which bounds the file-server map
    too (its ``put`` replaces same-name entries); a per-handle EPOCH
    artifact makes a task that re-executes against a recycled slot fail
    loudly instead of reading the next batch's bytes (the same
    materialize-before-cleanup contract, with the same failure mode as
    the uuid path's missing file). Without registry access or the
    overwrite conf the behavior degrades to uuid names + dereg (or, at
    worst, the documented ~100 B/batch residual).

    Rows are stored ONCE; the per-key lookup goes through a 4th artifact
    of int64 row POSITIONS, so the guard's (p+1)-way multiprobe
    expansion multiplies 8-byte positions, never 8·d-byte vectors —
    both driver-side (the plain-frame collect stays inside the
    maxResultSize contract; the expanded-frame collect measured 7.2M
    rows / >1 GiB task results on the 1M drift fixture) and on disk.

    ``arrs``: {"ids": int64[N], "vecs": float64[N,d], "norms":
    float64[N], "pos": int64[M]}; ``index``: key tuple → (start, stop)
    into ``pos``."""

    def __init__(
        self,
        spark,
        arrs: dict,
        index: dict,
        stage: Optional[str] = None,
        tag: Optional[str] = None,
        epoch: int = 0,
        slot_mode: bool = False,
        on_cleanup=None,
    ) -> None:
        """``arrs`` values are ndarrays (saved here) OR str paths to
        ``.npy`` files the caller already wrote, moved here to the final
        ``{stage}/{tag}-{name}.npy`` location — the round-14 streamed
        collect writes the big arrays chunk-by-chunk via write-mode
        memmaps, so they never exist in driver RAM at once.
        ``stage``/``tag`` default to a fresh tempdir + uuid (the
        standalone shape tests construct); ``slot_mode`` marks ``tag``
        as a reusable per-instance slot: the stage dir outlives
        :meth:`cleanup` and stale registry entries / fetched copies for
        these names are dropped before re-adding."""
        import os
        import tempfile
        import uuid as _uuid

        import numpy as np
        from pyspark import SparkFiles

        if stage is None:
            tag = f"qsblk-{_uuid.uuid4().hex}"
            stage = tempfile.mkdtemp(prefix=tag)
        self.index = index
        self.epoch = int(epoch)
        self.names = {}
        # staging lives until cleanup(): executors fetch-verify against
        # the source path at first use
        self._stage = stage
        self._slot_mode = bool(slot_mode)
        self._on_cleanup = on_cleanup
        self._sc = spark.sparkContext
        arrs = dict(arrs)
        # tiny 5th artifact: the loud-failure guard for recycled slots —
        # load() compares it against the handle's pickled epoch
        arrs["epoch"] = np.array([self.epoch], dtype="int64")
        for name, a in arrs.items():
            fname = f"{tag}-{name}.npy"
            path = os.path.join(stage, fname)
            if self._slot_mode:
                _deregister_added_file(self._sc, fname)
                try:
                    os.remove(
                        os.path.join(SparkFiles.getRootDirectory(), fname)
                    )
                except OSError:
                    pass
            if isinstance(a, str):
                if os.path.abspath(a) != os.path.abspath(path):
                    os.replace(a, path)
            else:
                np.save(path, a, allow_pickle=False)
            self._sc.addFile(path)
            self.names[name] = fname

    def load(self):
        """Executor/worker side: open the node-local artifact copies as
        read-only memory maps. (Driver side resolves too — local mode
        and unit tests.)"""
        import numpy as np
        from pyspark import SparkFiles

        def _check_epoch(when: str) -> None:
            if "epoch" not in self.names:
                return
            got = int(
                np.load(SparkFiles.get(self.names["epoch"]), mmap_mode="r")[0]
            )
            if got != self.epoch:
                raise RuntimeError(
                    f"shared block slot recycled ({when}): artifact epoch "
                    f"{got} != handle epoch {self.epoch}. A task "
                    "re-executed against blocks whose slot a later batch "
                    "overwrote — materialize results before "
                    "unpersist_intermediates (same contract as a "
                    "destroyed broadcast)."
                )

        _check_epoch("pre-load")
        out = (
            np.load(SparkFiles.get(self.names["ids"]), mmap_mode="r"),
            np.load(SparkFiles.get(self.names["vecs"]), mmap_mode="r"),
            np.load(SparkFiles.get(self.names["norms"]), mmap_mode="r"),
            np.load(SparkFiles.get(self.names["pos"]), mmap_mode="r"),
        )
        # Re-check AFTER mapping the data artifacts: epochs are monotone
        # per instance, so "same epoch on both sides of the maps" proves
        # no recycle happened inside the open window — a mixed-generation
        # read (old epoch copy + new data, or data files spanning two
        # generations) now fails loudly instead of passing the single
        # pre-check. Pages read lazily later come from the mapped inodes
        # (an unlink can't swap them on POSIX), so the window that
        # matters is exactly the one bracketed here.
        _check_epoch("post-load")
        return out

    def cleanup(self) -> None:
        """Remove the staging copy and (best-effort) the local app-dir
        copy — deterministic reclamation per micro-batch, vs the r11
        Python broadcasts that accumulated until GC (the ADVICE leak).
        Only call after the frames scored against these blocks are
        materialized; a re-execution afterwards would have to refetch
        and will fail loudly, same as a destroyed broadcast."""
        import os
        import shutil

        from pyspark import SparkFiles

        if getattr(self, "_slot_mode", False):
            # slot stage dir is per-INSTANCE and outlives this handle;
            # remove this generation's files only (bytes reclaimed, the
            # slot name returns to the owner's free pool via on_cleanup)
            for fname in self.names.values():
                try:
                    os.remove(os.path.join(self._stage, fname))
                except OSError:
                    pass
        else:
            shutil.rmtree(getattr(self, "_stage", ""), ignore_errors=True)
        for fname in self.names.values():
            # bound the added-files registry (and with it every future
            # task's serialized payload) in BOTH naming modes — round 14
            _deregister_added_file(getattr(self, "_sc", None), fname)
            try:
                os.remove(os.path.join(SparkFiles.getRootDirectory(), fname))
            except OSError:
                pass
        cb = getattr(self, "_on_cleanup", None)
        if cb is not None:
            self._on_cleanup = None
            cb()

    def __getstate__(self):
        # names + index + epoch only — the handle pickles into task
        # closures (never the SparkContext or lifecycle callbacks)
        return {
            "names": self.names,
            "index": self.index,
            "epoch": getattr(self, "epoch", 0),
        }

    def __setstate__(self, state):
        self.names = state["names"]
        self.index = state["index"]
        self.epoch = state.get("epoch", 0)


class CellVectorIndex:
    """Persisted IVF-partitioned vector index rooted at ``root``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        nlist: int = 16,
        train_iters: int = 1,
        block_dtype: str = "float64",
        node_budget_bytes: Optional[int] = None,
    ) -> None:
        """``block_dtype`` (round 14): storage dtype of the shared-block
        ``vecs`` artifact the blocked scorer ships per node. The default
        float64 keeps the package's bit-equality contract with
        ``cosine_pre_batch`` (and the DuckDB oracle replays). "float32"
        HALVES the per-node artifact bytes and page-cache footprint —
        the dim term that decides how big a batch fits a node at dims
        1536-4096 — at a bounded cosine drift: stored vectors round to
        float32 (~2^-24 relative per coordinate) before the float64
        einsum, so |cos32 - cos64| stays ~1e-7 for unit-ish vectors
        (measured table in BENCH_NOTES; pairs whose cosine sits within
        that margin of the threshold may flip). A runtime SERVING knob
        only — the persisted parquet vectors stay float64, so flipping
        it needs no rebuild and affects no on-disk format."""
        if block_dtype not in ("float64", "float32"):
            raise ValueError(
                f"block_dtype must be 'float64' or 'float32', "
                f"got {block_dtype!r}"
            )
        self.spark = spark
        self.root = root
        self.nlist = nlist
        self.train_iters = train_iters
        self.block_dtype = block_dtype
        # per-node artifact budget for one blocked-scorer pass; above it
        # the scorer goes multi-pass (see NODE_ARTIFACT_BUDGET_BYTES)
        self.node_budget_bytes = (
            int(node_budget_bytes) if node_budget_bytes
            else NODE_ARTIFACT_BUDGET_BYTES
        )
        self._lc = IndexLifecycle(
            self, ("vectors",), op="retrain", pairs_score="cosine",
            rebuilt=("centroids",),
        )
        self.vectors_path, self.pairs_path = self._lc.datasets
        self.centroids_path = fs_storage.join(root, "centroids")
        self._persisted: list = []
        self._shared_blocks: list = []  # _SharedBlocks artifacts (r12)
        # round-14 slot pool for shared-block artifact names: fixed
        # per-instance names bound the driver's file-server map across
        # a stream's micro-batches (see _SharedBlocks docstring).
        # (stage_dir, tag, reuse_ok) resolved lazily; free slot ids are
        # recycled smallest-first so the name set stays at the
        # high-water mark of CONCURRENT handles (1 for the ingest loop).
        self._blk_slots: Optional[tuple] = None
        self._blk_free: list = []
        self._blk_next = 0
        self._blk_epoch = 0
        # guards the slot pool (_blk_free/_blk_next/_blk_epoch): two
        # concurrent _collect_blocks on one index would otherwise take
        # the same slot id and overwrite each other's artifacts
        self._blk_lock = threading.Lock()
        # the frozen quantizer, re-read per micro-batch otherwise;
        # dropped by retrain
        self._cents_cache: Optional[List[List[float]]] = None

    def refresh(self) -> None:
        """Drop every per-instance metadata cache so the next read
        re-syncs with mutations other instances committed
        (:meth:`lifecycle.IndexLifecycle.invalidate`)."""
        self._lc.invalidate()

    # -- quantizer ---------------------------------------------------------

    def _config(self) -> dict:
        return {"nlist": self.nlist, "train_iters": self.train_iters}

    def centroids(self) -> Optional[List[List[float]]]:
        if self._cents_cache is not None:
            return self._cents_cache
        if not fs_storage.path_exists(self.spark, self.centroids_path):
            return None
        rows = self.spark.read.parquet(self.centroids_path).collect()
        self._cents_cache = [
            r["centroid"] for r in sorted(rows, key=lambda r: r["cell"])
        ]
        return self._cents_cache

    def _ensure_centroids(
        self, batch: DataFrame, id_col: str, vec_col: str
    ) -> List[List[float]]:
        """Load the frozen quantizer, training it on the first batch if
        absent. Also pins the config row (nlist is immutable — a different
        modulus would stop matching the stored cell directories)."""
        cents = self.centroids()
        if cents is None:
            from .similarity import ivf_train

            cents = ivf_train(
                batch, nlist=self.nlist, iters=self.train_iters,
                data_id=id_col, data_vec=vec_col,
            )
            self._write_centroids(cents, self.centroids_path)
            self._lc.write_meta(version=1)
            self._cents_cache = [[float(x) for x in c] for c in cents]
        else:
            # a missing meta row is the crash window between the first
            # batch's centroid write and its meta write: the quantizer is
            # the truth, and the check re-pins the config row it was
            # trained under
            self._lc.check_meta("quantizer params are immutable")
        return cents

    def _write_centroids(self, cents, path: str) -> None:
        self.spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "cell int, centroid array<double>",
        ).repartition(1).write.mode("overwrite").parquet(path)

    def version(self) -> int:
        """Quantizer version: 1 at first train, bumped by each
        :meth:`retrain` (0 if the index does not exist yet)."""
        if not fs_storage.path_exists(self.spark, self._lc.meta_path):
            return 0
        return int(self._lc.read_meta().get("version", 1))

    # -- readers -----------------------------------------------------------

    def _stored(
        self,
        cells: Optional[list],
        exclude_batch_id: Optional[int],
        empty_like: DataFrame,
    ) -> DataFrame:
        """(id, vec, cell) from the applied cell partitions in ``cells``
        (None = all), excluding the in-flight batch. Partition dirs read
        back as strings; cell is cast back to int for the equi-join."""
        if not fs_storage.path_exists(self.spark, self.vectors_path) or (
            cells is not None and not cells
        ):
            return empty_like.limit(0)
        df = self._lc.read_cached(self.vectors_path)
        if df is None:
            return empty_like.limit(0)
        if cells is not None:
            df = df.filter(F.col("cell").isin([str(c) for c in cells]))
        if exclude_batch_id is not None:
            df = df.filter(F.col("batch_id") != str(int(exclude_batch_id)))
        out = df.filter(self._lc.applied_cond()).select(
            "id", "vec", "__n", F.col("cell").cast("int").alias("cell")
        )
        return self._lc.minus_deleted(out)

    # -- merge-on-read deletes ---------------------------------------------

    def delete_ids(self, ids) -> int:
        """Tombstone vectors (merge-on-read, same idiom as
        :meth:`banded_index.BandedMinHashIndex.delete_ids`): probes
        anti-join the broadcast tombstone set immediately; :meth:`compact`
        removes the rows physically and clears the tombstones."""
        return self._lc.delete_ids(ids)

    # -- crash recovery and quantizer retrain (drift remedy) ---------------

    def _recover_compaction(self) -> None:
        self._lc.recover()
        self._recover_retrain()

    def _recover_retrain(self) -> None:
        """Finish a retrain whose intent marker committed: the staged
        vectors/centroids swap in. The marker carries the retrain's
        CONFIG (a retrain may grow nlist) and quantizer version, so
        recovery from an instance constructed with the pre-retrain
        params still writes the correct meta — and adopts the new params
        itself (:meth:`lifecycle.IndexLifecycle.finish_rebuild`)."""
        if self._lc.finish_rebuild():
            self._cents_cache = None

    @lease.maintenance_op("retrain")
    def retrain(self, nlist: Optional[int] = None) -> int:
        """Re-train the coarse quantizer on the LIVE stored vectors and
        reassign every vector to its new cell — the remedy for
        distribution drift, where recall of the pruned probe decays
        because frozen first-batch centroids no longer tile the data.

        ``nlist`` grows (or shrinks) the cell count in the same pass —
        the standard IVF practice of scaling nlist with the corpus
        (√n-ish), impossible batch-to-batch but natural here since every
        assignment is rewritten anyway. The meta row is updated; from
        then on instances must be constructed with the NEW params (the
        config guard raises on the old ones).

        Mechanics: one scan of the live vectors feeds
        :func:`similarity.ivf_train` (distributed Lloyd); the reassigned
        vectors and new centroids are FULLY staged first, then a
        write-ahead intent marker commits the retrain, then both datasets
        swap in via the rename-aside protocol, the meta version bumps,
        and tombstones (already folded out of the staging) clear
        (:mod:`lifecycle`). A crash before the marker leaves the index
        untouched; after it, every public entry point replays
        :meth:`_recover_retrain` to finish the identical swaps — readers
        never observe mixed centroids/cells. **Run quiesced** (stream
        stopped), like :meth:`compact` — the batch directories fold into
        one, so the watermark advances.

        Returns the number of live vectors reassigned."""
        from .similarity import _cell_assigner, ivf_train

        self._recover_compaction()
        if nlist is not None:
            self.nlist = int(nlist)
        target = self._lc.fold_target()
        # a crashed, never-committed batch's partial vectors must not be
        # folded under the retrained batch_id=target (its stream replay
        # would then ingest them a second time)
        live = self._lc.live(self.vectors_path, "id", "vec", "__n").persist()
        vstage = self._lc.staged(self.vectors_path)
        cstage = self._lc.staged(self.centroids_path)
        try:
            n_live = live.count()
            if n_live == 0:
                raise ValueError(
                    f"cannot retrain {self.root}: no live vectors"
                )
            cents = ivf_train(
                live, nlist=self.nlist, iters=self.train_iters,
                data_id="id", data_vec="vec",
            )
            assign = _cell_assigner(cents)
            fs_storage.delete_path(self.spark, vstage)
            fs_storage.delete_path(self.spark, cstage)
            self._lc.write_folded(
                live.withColumn("cell", assign(F.col("vec"))),
                vstage, target, ["cell"],
            )
        finally:
            live.unpersist()
        self._write_centroids(cents, cstage)
        self._lc.commit_rebuild(target, version=self.version() + 1)
        self._recover_retrain()
        return n_live

    def _compacted_through(self) -> int:
        return self._lc.compacted_through()

    @lease.maintenance_op("compact")
    def compact(self) -> int:
        """Fold all applied batch directories into one and drop
        tombstoned vectors physically (:meth:`lifecycle.IndexLifecycle.compact`;
        run quiesced). Returns the number of batch directories
        removed."""
        return self._lc.compact(
            lambda target: self._lc.swap_folded(
                self.vectors_path,
                self._lc.live(self.vectors_path, "id", "vec", "__n", "cell"),
                target, ["cell"],
            )
        )

    def pairs(self) -> DataFrame:
        """Accumulated (id_a, id_b, cosine, batch_id) over all APPLIED
        batches — same isolation rule as search
        (:meth:`lifecycle.IndexLifecycle.pairs`)."""
        return self._lc.pairs()

    @lease.maintenance_op("compact_pairs")
    def compact_pairs(self) -> int:
        """Fold pairs-log batch directories at or below the compaction
        watermark into ``pairs_hist`` (marker-committed, crash-finishable,
        output bit-identical; **run quiesced** —
        :meth:`lifecycle.IndexLifecycle.compact_pairs`). Returns
        directories folded."""
        return self._lc.compact_pairs()

    @lease.maintenance_op("scrub_pairs")
    def scrub_pairs(self, ids) -> int:
        """GDPR-complete removal from the pairs log
        (:meth:`lifecycle.IndexLifecycle.scrub_pairs`; run quiesced).
        Returns the number of pair rows dropped."""
        return self._lc.scrub_pairs(ids)

    # -- core --------------------------------------------------------------

    @staticmethod
    def _with_norm(batch, id_col, vec_col, *extra):
        """(id, vec, __n, *extra). __n: the vector's norm, staged once
        per row and PERSISTED with it — probe-time cosines never
        recompute norms (cosine_pre)."""
        from .similarity import norm

        return batch.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            norm(F.col(vec_col)).alias("__n"),
            *extra,
        )

    def _assigned(self, batch, id_col, vec_col, cents, nprobe):
        """One (id, vec, __n, cell) row per probed cell — the probe UDF
        (:func:`similarity._probe_cells`) exploded."""
        from .similarity import _probe_cells

        probes = _probe_cells(cents, nprobe)
        return self._with_norm(
            batch, id_col, vec_col,
            F.explode(probes(F.col(vec_col))).alias("cell"),
        )

    def _cell_guard(
        self, stored, probed, cents, max_cell_size,
        probe_cell_counts=None,
    ):
        """Sub-bucket OVERSIZED cells before the pair join — with
        MULTIPROBE on the batch side (round 10).

        Per-cell occupancy (live stored rows in the probed cells + the
        batch's probe rows) is one column-pruned aggregate over data the
        join reads anyway, collected driver-side (≤ nlist rows); when
        the caller already holds the probe side's per-cell counts
        (dedup_batch's cells collect), pass them as
        ``probe_cell_counts`` and only the stored side is aggregated —
        re-scanning the probe frame here would re-run the assignment
        matmul (the same follow-up as ``_n_passes``). Cells
        over ``max_cell_size`` get a ``__sub`` hyperplane sign-pattern
        bucket that the join conditions additionally equate. The batch
        (broadcast) side probes its own bucket PLUS every 1-bit flip —
        the :func:`similarity.lsh_topk` multiprobe recipe — so a pair at
        cosine c survives unless its sign patterns differ in ≥2 of the
        ``planes`` bits: survival = q^p + p·q^(p-1)(1-q) with
        q = 1 − acos(c)/π (≈0.997 at c=0.995, p=3 — measured 0.88→0.997
        of the quantizer ceiling on the 100k planted fixture vs the old
        exact-equality guard). The plane count p is the smallest with
        ``worst·(p+1)/2^p ≤ max_cell_size`` — the (p+1)× probe expansion
        is COUNTED, so per-bucket membership still lands under the cap
        and the within-cell quadratic term stays bounded (~max_cell²/(p+1)
        per bucket) regardless of skew or quantizer staleness. Round 12:
        the sub-planes hash the RESIDUAL ``vec − mean(cell)`` — raw
        planes correlated with the shared component that made the cell
        hot are sign-dead, concentrating the mass in the majority
        pattern (measured in the semantic twin; see
        ``similarity._self_pair_guard``) — which is what makes the
        all-planes-live sizing formula realistic. With no
        oversized cell the plan and pair set are UNCHANGED (bit-parity,
        which keeps small-fixture oracle replays exact).

        Returns (stored, probed_plain, probed_expanded, extra_cond|None,
        planes): join the plain frames on the LEFT and the expanded
        frame as the broadcast RIGHT — the expanded probe values of one
        row are distinct, so every (a, b) pair still joins at most once
        and no new dedup shuffle is needed. The blocked tier instead
        collects the PLAIN frame and expands over row positions inside
        :meth:`_collect_blocks`, using ``planes`` to derive the deltas
        (round 12 — the expanded collect broke the driver contract
        under drift skew)."""
        from .similarity import hyperplane_bucket_batch

        if probe_cell_counts is None:
            counts = (
                probed.select("cell")
                .unionByName(stored.select("cell"))
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > int(max_cell_size))
                .collect()
            )
            over = {int(r["cell"]): int(r["n"]) for r in counts}
        else:
            stored_counts = (
                stored.select("cell")
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            totals = dict(probe_cell_counts)
            for r in stored_counts:
                c = int(r["cell"])
                totals[c] = totals.get(c, 0) + int(r["n"])
            over = {
                c: n for c, n in totals.items() if n > int(max_cell_size)
            }
        if not over:
            return stored, probed, probed, None, 0
        worst = max(over.values())
        planes = 1
        while worst * (planes + 1) / (2 ** planes) > int(max_cell_size):
            planes += 1
        big = sorted(over)
        dim = len(cents[0])
        # Residual hashing (round 12, late — same fix as
        # similarity._self_pair_guard): a hot cell's members share a
        # dominant component BY CONSTRUCTION, so raw-vector planes
        # correlated with it are sign-dead and the sub-bucket mass
        # concentrates in the majority pattern (measured on the 1M
        # stale-quantizer fixture: an over-cap bucket survived 16 raw
        # planes; centered, 8 fit). Subtract the per-flagged-cell mean
        # before hashing — computed dim-FLAT (round 13, the
        # similarity._flagged_group_means path: mapInPandas partial
        # sums + driver combine, one plan-side expression instead of
        # `dim` codegen'd aggregates), attached to BOTH sides via
        # broadcast join so their sign assignments stay consistent.
        # Scoring still uses RAW vectors; only the bucket hash is
        # centered.
        from .similarity import _flagged_group_means

        means = _flagged_group_means(
            probed.select("cell", "vec").unionByName(
                stored.select("cell", "vec")
            ),
            "cell",
            big,
        )
        mdf = self.spark.createDataFrame(
            [
                (int(k), [float(x) for x in m])
                for k, m in sorted(means.items())
            ],
            "__gk long, __cmean array<double>",
        )

        def attach(df):
            return df.join(
                F.broadcast(mdf),
                on=F.col("cell").cast("long") == F.col("__gk"),
                how="left",
            ).drop("__gk")

        rvec = F.when(
            F.col("__cmean").isNotNull(),
            F.zip_with("vec", "__cmean", lambda x, m: x - m),
        ).otherwise(F.col("vec").cast("array<double>"))
        # Arrow-batched bucket (round 10): the guard is never
        # oracle-replayed (it cannot engage at gate fixtures), so the
        # matmul fast path applies; both join sides use the same
        # function, so assignments stay consistent. The UDF result is
        # MATERIALIZED into a column first — Spark refuses a Python UDF
        # inside a higher-order-function lambda, so the multiprobe
        # transform below references the column, not the UDF.
        hb = hyperplane_bucket_batch(rvec, dim, planes, seed=42)
        sub = F.when(F.col("cell").isin(big), F.col("__hb")).otherwise(
            F.lit(-1).cast("long")
        )
        deltas = F.array(
            *[F.lit(x).cast("long") for x in [0] + [1 << i for i in range(planes)]]
        )
        subs = F.when(
            F.col("cell").isin(big),
            F.transform(deltas, lambda d: F.col("__hb").bitwiseXOR(d)),
        ).otherwise(F.array(F.lit(-1).cast("long")))
        stored_g = (
            attach(stored)
            .withColumn("__hb", hb)
            .withColumn("__sub", sub)
            .drop("__hb", "__cmean")
        )
        probed_g = attach(probed).withColumn("__hb", hb)
        return (
            stored_g,
            probed_g.withColumn("__sub", sub).drop("__hb", "__cmean"),
            probed_g.withColumn("__sub", F.explode(subs)).drop(
                "__hb", "__cmean"
            ),
            F.col("a.__sub") == F.col("b.__sub"),
            planes,
        )

    # -- shared blocks -----------------------------------------------------

    def _block_stage(self):
        """(stage_dir, tag, epoch, slot_mode, on_cleanup) for the next
        :class:`_SharedBlocks`. Slot mode (fetch-safe reuse only — see
        :func:`_slot_reuse_ok`) hands out fixed per-instance names
        ``{tag}-s{slot}-{artifact}.npy`` recycled through a free pool as
        handles clean up; otherwise a fresh tempdir + full-uuid tag per
        handle (registry entries still dereg'd at cleanup). The epoch is
        a per-instance monotone counter — unique per handle, which is
        all the recycled-slot guard in :meth:`_SharedBlocks.load`
        needs."""
        import tempfile
        import uuid as _uuid

        with self._blk_lock:
            if self._blk_slots is None:
                base = f"qsblk-{_uuid.uuid4().hex[:12]}"
                reuse = _slot_reuse_ok(self.spark.sparkContext)
                stage = tempfile.mkdtemp(prefix=base) if reuse else None
                self._blk_slots = (stage, base, reuse)
            stage, base, reuse = self._blk_slots
            self._blk_epoch += 1
            epoch = self._blk_epoch
            if not reuse:
                tag = f"qsblk-{_uuid.uuid4().hex}"
                return (
                    tempfile.mkdtemp(prefix=tag), tag, epoch,
                    False, None,
                )
            if self._blk_free:
                sid = min(self._blk_free)
                self._blk_free.remove(sid)
            else:
                sid = self._blk_next
                self._blk_next += 1

        def _release():
            # slot return is lock-guarded too — cleanup may run from a
            # different thread than the one that allocated
            with self._blk_lock:
                self._blk_free.append(sid)

        return (stage, f"{base}-s{sid}", epoch, True, _release)

    def _collect_blocks(
        self, probed_b: DataFrame, dim: int, deltas=None,
        n: Optional[int] = None,
    ):
        """Fetch ``probed_b``'s (id, vec, __n, cell[, __sub]) rows to the
        driver (:meth:`_fetch_rows`) and ship them ONCE PER NODE as
        per-(cell[, __sub]) blocks (:meth:`_finish_blocks`). The fetch
        runs Spark jobs at CALL time, not first-action time. ``dim`` is
        the quantizer's; ``n``, when the caller already counted
        ``probed_b``, skips the count job, so the collect is the only
        job over ``probed_b``.

        ``deltas`` (guard engaged): ``probed_b`` is the PLAIN frame — one
        row per probe with its OWN ``__sub`` — and the (p+1)-way
        multiprobe expansion happens over int64 row positions: a hot row
        registers under key ``(cell, sub^d)`` for every delta, but its
        vector is stored once. (Collecting the pre-expanded frame blew
        the driver contract on the 1M drift fixture: 7.2M rows / >1 GiB
        of task results at planes=11.) A guarded a-row's own key then
        hits a b-row's range iff their patterns differ in <= 1 bit —
        exactly the join tier's ``a.__sub == b.__sub(expanded)``
        semantics."""
        import shutil

        cols = ["id", "vec", "__n", "cell"]
        if "__sub" in probed_b.columns:
            cols.append("__sub")
        n, ids, vecs, norms, cellv, subv, tmp = self._fetch_rows(
            probed_b.select(*cols), dim, n
        )
        try:
            return self._finish_blocks(
                n, ids, vecs, norms, cellv, subv, deltas
            )
        finally:
            if tmp is not None:
                shutil.rmtree(tmp, ignore_errors=True)

    def _fetch_rows(self, sel: DataFrame, dim: int, n=None, probe=None):
        """Collect ``sel``'s (id, vec, __n[, cell][, __sub]) rows into
        driver arrays: (n, ids int64[n], vecs block_dtype[n, dim], norms
        float64[n], cells int64, subs int64[n] | None, tmp). ``ids``,
        ``vecs`` and ``norms`` are ndarrays, or — above
        ``COLLECT_CHUNK_BYTES`` — paths of ``.npy`` files in the private
        dir ``tmp`` (None otherwise; the caller removes it), which
        :class:`_SharedBlocks` moves into place.

        ``probe`` = (unit centroids, nprobe): ``sel`` has no cell column;
        each fetched chunk's ``nprobe`` nearest cells are assigned HERE
        by :func:`similarity.probe_cells_np` — the kernel the probe UDF
        runs, so the cells are the UDF's — and ``cells`` is
        int64[n, nprobe]; otherwise ``cells`` is ``sel``'s int64[n] cell
        column. Without ``n`` the selection is persisted and counted
        first (one JVM job; the collect then reads the cache)."""
        import os
        import shutil
        import tempfile

        import numpy as np
        from pyspark import StorageLevel

        from .similarity import probe_cells_np

        keyed = "__sub" in sel.columns
        cached = None
        tmp = None

        def mid_cached():
            # Row ranges come from monotonically_increasing_id computed
            # BEFORE the persist (pid<<33 + row-in-partition):
            # ascending-mid iteration reproduces the exact single-shot
            # row order, and a partition bigger than the budget is SPLIT
            # by mid ranges instead of fetched whole.
            return sel.withColumn(
                "__mid", F.monotonically_increasing_id()
            ).persist(StorageLevel.MEMORY_AND_DISK)

        try:
            if n is None:
                cached = mid_cached()
                n = cached.count()
            # Round 13 (found by the dim-768 decade): one-shot toPandas
            # of the b side carries a hidden × dim factor — a 233k-row
            # batch at dim 768 is ~1.4 GiB of task results, over the
            # default spark.driver.maxResultSize (the dim-64 runs moved
            # ~120 MB and never saw it). Round 14 (verdict task 1 +
            # ADVICE): above ~256 MB the collect runs in ROW-RANGE groups
            # packed from exact per-partition COUNTS (the round-13
            # average-based packing let one skewed partition blow the
            # byte budget in a single fetch), and the big arrays stream
            # STRAIGHT INTO .npy files through write-mode memmaps — the
            # driver holds ONE group's transient frame plus O(n) int64
            # bookkeeping, never the n×dim float64 batch (a 10M-row ×
            # 768-dim batch preallocated ~61 GB under the round-13 shape;
            # now ~240 MB + the chunk). Max-batch bound is executor-side
            # (cells per partition) + O(n·(deltas+2)·8) driver bytes — no
            # dim term.
            row_bytes = dim * 16 + 128
            if n * row_bytes <= COLLECT_CHUNK_BYTES:
                src = sel if cached is None else cached.drop("__mid")
                chunks = [src.toPandas()] if n else []
                ids = np.empty(n, dtype="int64")
                vecs = np.empty((n, dim), dtype=self.block_dtype)
                norms = np.empty(n, dtype="float64")
            else:
                if cached is None:
                    cached = mid_cached()
                counts = {
                    int(r["p"]): int(r["c"])
                    for r in cached.groupBy(
                        F.shiftright("__mid", 33).alias("p")
                    )
                    .agg(F.count(F.lit(1)).alias("c"))
                    .collect()
                }
                budget_rows = max(1, COLLECT_CHUNK_BYTES // row_bytes)
                pieces = []  # (pid, lo, hi) — each at most budget_rows
                for p in sorted(counts):
                    for lo in range(0, counts[p], budget_rows):
                        pieces.append(
                            (p, lo, min(lo + budget_rows, counts[p]))
                        )
                groups, cur, cur_rows = [], [], 0
                for pc in pieces:
                    if cur and cur_rows + (pc[2] - pc[1]) > budget_rows:
                        groups.append(cur)
                        cur, cur_rows = [], 0
                    cur.append(pc)
                    cur_rows += pc[2] - pc[1]
                if cur:
                    groups.append(cur)

                def fetch(grp):
                    # range predicates on __mid (not spark_partition_id
                    # isin) so InMemoryTableScan's cached-batch min/max
                    # pruning skips non-matching batches — each group
                    # fetch reads ~its own slice of the cache, not a
                    # full rescan per group (matters when a 10M-row
                    # batch packs into hundreds of groups)
                    cond = F.lit(False)
                    for p, lo, hi in grp:
                        base = p << 33
                        cond = cond | (
                            (F.col("__mid") >= base + lo)
                            & (F.col("__mid") < base + hi)
                        )
                    return cached.filter(cond).drop("__mid").toPandas()

                chunks = map(fetch, groups)
                tmp = tempfile.mkdtemp(prefix="qsfetch-")
                paths = {
                    name: os.path.join(tmp, f"{name}.npy")
                    for name in ("ids", "vecs", "norms")
                }
                ids = np.lib.format.open_memmap(
                    paths["ids"], mode="w+", dtype="int64", shape=(n,)
                )
                vecs = np.lib.format.open_memmap(
                    paths["vecs"], mode="w+", dtype=self.block_dtype,
                    shape=(n, dim),
                )
                norms = np.lib.format.open_memmap(
                    paths["norms"], mode="w+", dtype="float64", shape=(n,)
                )
            if probe is not None:
                cents_n, nprobe = probe
                cellv = np.empty(
                    (n, min(nprobe, len(cents_n))), dtype="int64"
                )
            else:
                cellv = np.empty(n, dtype="int64")
            subv = np.empty(n, dtype="int64") if keyed else None
            ofs = 0
            for pdf in chunks:
                m = len(pdf)
                if not m:
                    continue
                ids[ofs:ofs + m] = pdf["id"].to_numpy(dtype="int64")
                M = np.stack(
                    pdf["vec"].map(lambda v: np.asarray(v, dtype="float64"))
                )
                vecs[ofs:ofs + m] = M
                norms[ofs:ofs + m] = pdf["__n"].to_numpy(dtype="float64")
                if probe is not None:
                    cellv[ofs:ofs + m] = probe_cells_np(M, cents_n, nprobe)
                else:
                    cellv[ofs:ofs + m] = pdf["cell"].to_numpy(dtype="int64")
                if keyed:
                    subv[ofs:ofs + m] = pdf["__sub"].to_numpy(
                        dtype="int64"
                    )
                ofs += m
            assert ofs == n, f"chunked collect lost rows: {ofs} != {n}"
            if tmp is not None:
                for mm in (ids, vecs, norms):
                    mm.flush()
                del ids, vecs, norms
                ids, vecs, norms = (
                    paths["ids"], paths["vecs"], paths["norms"],
                )
        except BaseException:
            if tmp is not None:
                shutil.rmtree(tmp, ignore_errors=True)
            raise
        finally:
            if cached is not None:
                cached.unpersist()
        if not n:
            vecs = np.empty((0, 0), dtype=self.block_dtype)
        return n, ids, vecs, norms, cellv, subv, tmp

    def _finish_blocks(self, n, ids, vecs, norms, cellv, subv, deltas):
        """Index build + handle construction over collected rows
        (:meth:`_fetch_rows`), in a fresh artifact slot. Keys are
        (cell, __sub) when ``subv`` is given, else (cell,). ``cellv`` of
        shape [n, p] registers each row under each of its p cells
        through ``pos`` — the vector is stored once."""
        import numpy as np

        keyed = subv is not None
        stage, tag, epoch, slot_mode, on_cleanup = self._block_stage()
        try:
            pos_parts, kc_parts, ks_parts = [], [], []
            if keyed and n:
                if deltas:
                    cold = np.nonzero(subv == -1)[0]
                    pos_parts.append(cold)
                    kc_parts.append(cellv[cold])
                    ks_parts.append(np.full(len(cold), -1, dtype="int64"))
                    hot = np.nonzero(subv != -1)[0]
                    for d in deltas:
                        pos_parts.append(hot)
                        kc_parts.append(cellv[hot])
                        ks_parts.append(subv[hot] ^ np.int64(d))
                else:
                    pos_parts.append(np.arange(n, dtype="int64"))
                    kc_parts.append(cellv)
                    ks_parts.append(subv)
            elif n:
                # row-major: a row's cells are adjacent, so within a cell
                # (stable lexsort below) rows stay in collect order
                per = cellv.reshape(n, -1)
                pos_parts.append(
                    np.repeat(np.arange(n, dtype="int64"), per.shape[1])
                )
                kc_parts.append(per.ravel())
                ks_parts.append(np.zeros(per.size, dtype="int64"))
            index = {}
            if pos_parts:
                pos = np.concatenate(pos_parts).astype("int64")
                kc = np.concatenate(kc_parts)
                ks = np.concatenate(ks_parts)
                order = np.lexsort((ks, kc))
                pos, kc, ks = pos[order], kc[order], ks[order]
                bounds = np.flatnonzero(
                    np.r_[True, (kc[1:] != kc[:-1]) | (ks[1:] != ks[:-1])]
                )
                bounds = np.r_[bounds, len(pos)]
                for i in range(len(bounds) - 1):
                    lo = int(bounds[i])
                    key = (
                        (int(kc[lo]), int(ks[lo])) if keyed
                        else (int(kc[lo]),)
                    )
                    index[key] = (lo, int(bounds[i + 1]))
            else:
                pos = np.empty(0, dtype="int64")
            handle = _SharedBlocks(
                self.spark,
                {"ids": ids, "vecs": vecs, "norms": norms, "pos": pos},
                index,
                stage=stage, tag=tag, epoch=epoch, slot_mode=slot_mode,
                on_cleanup=on_cleanup,
            )
        except BaseException:
            # failure in the index build, np.save, or a partial
            # _SharedBlocks.__init__ (e.g. addFile raising mid-loop):
            # without this the slot never returns to the pool and
            # partially-registered artifacts persist, regrowing exactly
            # the registry that cleanup's dereg bounds. Drop every
            # possible artifact name for this tag, in the registry, the
            # stage dir, and the app dir, then release the slot.
            import os
            import shutil

            from pyspark import SparkFiles

            for name in ("ids", "vecs", "norms", "pos", "epoch"):
                fname = f"{tag}-{name}.npy"
                _deregister_added_file(self.spark.sparkContext, fname)
                for d in (stage, None):
                    try:
                        root = (
                            d if d is not None
                            else SparkFiles.getRootDirectory()
                        )
                        os.remove(os.path.join(root, fname))
                    except Exception:
                        pass
            if not slot_mode:
                shutil.rmtree(stage, ignore_errors=True)
            if on_cleanup is not None:
                on_cleanup()
            raise
        self._shared_blocks.append(handle)
        return handle

    # -- the scoring loop --------------------------------------------------

    def _n_passes(self, n: int, dim: int, deltas) -> int:
        """Passes :meth:`_score_passes` needs so that ONE pass's
        shared-block artifact set (``n`` b-side rows) stays within
        ``self.node_budget_bytes``. Mirrors the artifact layout:
        ``vecs`` n×dim×itemsize, ``ids``+``norms`` 16 B/row, ``pos``
        8 B per index entry (guard multiprobe and search's per-query
        probe cells multiply pos entries only, never vectors —
        ``deltas`` is any sequence as long as a row's entry count). ``n``
        comes from jobs the callers run anyway — dedup_batch's
        distinct-cells collect (``groupBy(cell).count()``), search's
        query fetch — so deciding costs no pass over the probe frame.
        Pass count is capped at 256: a budget low enough to want more is
        a misconfiguration (each pass rescans the a side), and the
        once-per-process note names the overflow."""
        if not n:
            return 1
        itemsize = 4 if self.block_dtype == "float32" else 8
        pos_entries = max(1, len(deltas) if deltas else 1)
        artifact = n * (dim * itemsize + 16 + 8 * pos_entries)
        if artifact <= self.node_budget_bytes:
            return 1
        passes = min(256, -(-artifact // self.node_budget_bytes))
        warn_once(
            "vector_index.multipass",
            f"shared-block artifact set is {artifact / 2**30:.2f} GiB per "
            f"node this batch (> {self.node_budget_bytes / 2**30:.2f} GiB "
            f"node budget) — scoring in {int(passes)} passes over "
            "sub-blocks of the b side. Output is identical; each pass "
            "rescans the a side, so prefer smaller micro-batches or "
            "block_dtype='float32' when this engages routinely. Noted "
            "once per process.",
            stacklevel=3,
        )
        return int(passes)

    def _score_passes(self, passes: int, blocks, scorers) -> List[DataFrame]:
        """The blocked scorer in ``passes`` passes (:meth:`_n_passes`).
        Pass ``k`` scores every ``(a_frame, keep, arg)`` of ``scorers``
        (:meth:`_blocked_score`) against ``blocks(k)``, the caller's
        :class:`_SharedBlocks` for pass k's share of the b rows. Returns
        one frame per scorer: the union of its passes.

        One pass returns the scored frames lazily, and their blocks stay
        tracked until :meth:`unpersist_intermediates`. With several
        passes each a frame is persisted once (every pass rescans it),
        and each pass's output is materialized BEFORE its blocks are
        reclaimed, so a node holds one pass's artifacts at a time. The
        callers' shares partition the b rows, so every output row is
        scored in exactly one pass, and the einsum computes each (a, b)
        product independently of the other b rows in its block: the
        union is the single-pass output row for row, with bit-equal
        cosines."""
        from functools import reduce

        from pyspark import StorageLevel

        if passes > 1:
            for a, _, _ in scorers:
                self._persisted.append(
                    a.persist(StorageLevel.MEMORY_AND_DISK)
                )
        per_pass = []
        for k in range(passes):
            bvar = blocks(k)
            out = [
                self._blocked_score(a, bvar, keep, arg)
                for a, keep, arg in scorers
            ]
            if passes > 1:
                out = [self._materialize(df) for df in out]
                bvar.cleanup()
                self._shared_blocks.remove(bvar)
            per_pass.append(out)
        return [reduce(DataFrame.unionByName, dfs) for dfs in zip(*per_pass)]

    def _materialize(self, df: DataFrame) -> DataFrame:
        """Persist + force a pass's output BEFORE its shared blocks are
        reclaimed. MEMORY_AND_DISK spills rather than drops, so later
        reads come from cache; an executor-loss recompute would fail
        loudly on the removed artifacts — the package's standard
        materialize-before-cleanup contract, applied per pass. Tracked
        for :meth:`unpersist_intermediates`."""
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        self._persisted.append(out)
        return out

    @staticmethod
    def _blocked_score(frame: DataFrame, bvar, keep: str, arg) -> DataFrame:
        """Score ``frame``'s rows (the a side) against the b rows of the
        node-shared blocks ``bvar`` (:class:`_SharedBlocks`) that share
        their (cell[, __sub]) key, one einsum per (2048-row a-chunk,
        key) block. ``keep`` says what a scored block keeps:

        - ``"old"`` / ``"new"`` (ingest; ``arg`` is the threshold):
          cosine >= threshold and a.id != b.id (stored vs batch) or
          a.id < b.id (batch vs batch, which drops the mirrored
          orientation), as (id_a, id_b, cosine) with id_a < id_b;
        - ``"topk"`` (search; ``arg`` is k): a.id != b.id, as
          (query_id = b.id, neighbor_id = a.id, cosine), cut to each
          task's local top-k per query. The cut is lossless: a query's
          global top-k rows are inside every task's local top-k.

        Each vector crosses Arrow once — the b side in the shared
        artifact, the a side through ``mapInPandas`` — where a join then
        per-pair scorer ships both vectors per candidate pair. Cosines
        are BIT-EQUAL to ``cosine_pre_batch``: the same float64
        promotion before the product and the same fixed-order einsum
        reduction over the vector axis (pytest-pinned)."""
        keys = ["cell", "__sub"] if "__sub" in frame.columns else ["cell"]
        topk = keep == "topk"

        def fn(pdfs):
            import numpy as np
            import pandas as pd

            ids_all, vecs_all, nn_all, pos_all = bvar.load()
            index = bvar.index
            for pdf in pdfs:
                if pdf.empty:
                    continue
                outs = []
                for key, g in pdf.groupby(keys, sort=False):
                    k = key if isinstance(key, tuple) else (key,)
                    rng = index.get(tuple(int(x) for x in k))
                    if rng is None:
                        continue
                    blo, bhi = rng
                    rows = np.asarray(pos_all[blo:bhi])
                    # fancy-index pulls ONLY this key's rows off the
                    # node-shared map (bounded by the cell cap)
                    bids = np.asarray(ids_all[rows])
                    # float32 blocks: upcast ONCE per key slice — a
                    # mixed-dtype einsum would re-promote the same BM for
                    # every a-chunk (measured +50% serve latency); same
                    # float64 product either way, so cosine bits are
                    # unchanged
                    BM = np.asarray(vecs_all[rows], dtype="float64")
                    bn = np.asarray(nn_all[rows])
                    A = np.stack(
                        g["vec"].map(lambda v: np.asarray(v, dtype="float64"))
                    )
                    an = g["__n"].to_numpy(dtype="float64")
                    aids = g["id"].to_numpy(dtype="int64")
                    for lo in range(0, len(aids), 2048):  # bound sims block
                        hi = min(lo + 2048, len(aids))
                        sims = np.einsum(
                            "ij,kj->ik", A[lo:hi], BM
                        ) / np.outer(an[lo:hi], bn)
                        ca = aids[lo:hi, None]
                        if keep == "old":
                            mask = (sims >= arg) & (ca != bids[None, :])
                        elif keep == "new":
                            mask = (sims >= arg) & (ca < bids[None, :])
                        else:
                            mask = ca != bids[None, :]
                        ai, bi = np.nonzero(mask)
                        if not len(ai):
                            continue
                        ia, ib = aids[lo:hi][ai], bids[bi]
                        outs.append(pd.DataFrame(
                            {"query_id": ib, "neighbor_id": ia,
                             "cosine": sims[ai, bi]} if topk else
                            {"id_a": np.minimum(ia, ib),
                             "id_b": np.maximum(ia, ib),
                             "cosine": sims[ai, bi]}
                        ))
                if not outs:
                    continue
                out = pd.concat(outs)
                if topk:
                    # Local top-k keyed EXACTLY like the global rank
                    # window: cosine DESC, ties neighbor ASC. A zero-norm
                    # vector's 0/0 cosine is NaN here but reaches the
                    # window as NULL (Arrow converts NaN to null), and
                    # NULL orders LAST under DESC — so the local key maps
                    # NaN to -inf; mapping it greatest would let a
                    # zero-norm row displace a real candidate from a
                    # task's top-k and then sink globally (lossy).
                    # Zero-norm neighbors therefore rank after every real
                    # cosine, with a NULL cosine (pinned in tests).
                    skey = out["cosine"].to_numpy(dtype="float64").copy()
                    skey[np.isnan(skey)] = -np.inf
                    out = out.assign(__sk=-skey).sort_values(
                        ["query_id", "__sk", "neighbor_id"], kind="stable"
                    )
                    out = out.groupby("query_id", sort=False).head(arg).drop(
                        columns="__sk"
                    )
                yield out

        return frame.select("id", "vec", "__n", *keys).mapInPandas(
            fn,
            "query_id long, neighbor_id long, cosine double" if topk
            else "id_a long, id_b long, cosine double",
        )

    def dedup_batch(
        self,
        new_vecs: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        threshold: float = 0.85,
        tier: str = "ivf",
        nprobe: int = 2,
        exclude_batch_id: Optional[int] = None,
        max_cell_size: Optional[int] = DEFAULT_MAX_CELL_SIZE,
    ) -> Tuple[DataFrame, DataFrame]:
        """(pairs, new_rows): near-dup pairs touching the batch (id_a <
        id_b, cosine >= threshold) + the batch's (id, vec, cell) index
        rows. Batch ids must be disjoint from stored ids (same contract as
        the MinHash incremental tier).

        exact tier: one scan of ALL stored vectors with the batch
        broadcast over it. ivf tier: the batch's probed cell set (<= nlist
        values, collected driver-side) prunes the scan to matching cell
        partitions; stored vectors join on their single storage cell, so
        nprobe=1 replays the batch IVF tier exactly (parity-tested).
        Default nprobe=2 (round 11): recovers cell-boundary pairs the
        quantizer splits — the measured-recall setting (module
        docstring); pass nprobe=1 explicitly for the parity tier.
        Cells past ``max_cell_size`` rows are sub-bucketed by hyperplane
        sign patterns first (see :meth:`_cell_guard` — the
        ``max_band_size`` analogue; ``None`` disables), so a skewed cell
        can never make the within-cell join quadratic in the corpus.
        """
        from .similarity import _probe_cells, cosine_pre_batch

        if tier != "exact" and nprobe < 1:
            raise ValueError(f"nprobe must be >= 1, got {nprobe}")
        cents = self._ensure_centroids(new_vecs, id_col, vec_col)
        # ONE probe-UDF pass per batch: each vector's nearest cells
        # (nearest first), persisted with its norm. The storage
        # assignment is element 0 — bit-equal to nprobe=1 and to
        # _cell_assigner's argmax, because the probe sort is stable —
        # and the ivf probe rows are the array exploded, so neither
        # frame re-runs the assignment matmul.
        probe_n = 1 if tier == "exact" else int(nprobe)
        cells_arr = self._with_norm(
            new_vecs, id_col, vec_col,
            _probe_cells(cents, probe_n)(F.col(vec_col)).alias("__cells"),
        ).persist()
        mark = (len(self._persisted), len(self._shared_blocks))
        self._persisted.append(cells_arr)
        try:
            assigned = cells_arr.select(
                "id", "vec", "__n", F.col("__cells")[0].alias("cell")
            )
            if tier == "exact":
                # broadcast-join tier — never blocked-scored, no pass count
                probed_a = probed_b = assigned
                stored = self._stored(
                    None, exclude_batch_id, empty_like=assigned
                )
                old_cond = F.col("a.id") != F.col("b.id")
                new_cond = F.col("a.id") < F.col("b.id")
            else:
                probed = assigned if nprobe == 1 else cells_arr.select(
                    "id", "vec", "__n", F.explode("__cells").alias("cell")
                )
                # one job yields BOTH the probed cell list and the probe-row
                # total _n_passes and _collect_blocks need (partial counts,
                # ≤ nlist result rows, read from the persisted probe array)
                cell_rows = probed.groupBy("cell").count().collect()
                cells = [r["cell"] for r in cell_rows]
                n_probe_rows = sum(r["count"] for r in cell_rows)
                probe_counts = {
                    int(r["cell"]): int(r["count"]) for r in cell_rows
                }
                stored = self._stored(
                    cells, exclude_batch_id, empty_like=assigned
                )
                same_cell = F.col("a.cell") == F.col("b.cell")
                old_cond = same_cell & (F.col("a.id") != F.col("b.id"))
                new_cond = same_cell & (F.col("a.id") < F.col("b.id"))
                probed_a = probed_b = probed
                guard_deltas = None
                if max_cell_size is not None:
                    (
                        stored, probed_a, probed_b, guard, planes,
                    ) = self._cell_guard(
                        stored, probed, cents, max_cell_size,
                        probe_cell_counts=probe_counts,
                    )
                    if guard is not None:
                        old_cond = old_cond & guard
                        new_cond = new_cond & guard
                        guard_deltas = [0] + [1 << i for i in range(planes)]

            def score(joined):
                return joined.select(
                    F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                    F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
                    cosine_pre_batch(
                        F.col("a.vec"), F.col("b.vec"),
                        F.col("a.__n"), F.col("b.__n"),
                    ).alias("cosine"),
                ).filter(F.col("cosine") >= threshold)

            # stored-batch: stored rows are single-cell and only on the left,
            # so each pair joins exactly once — NO dedup shuffle on the big
            # stream; batch-batch: a.id < b.id kills the orientation mirror,
            # and only multiprobe (both sides multi-cell) can still duplicate
            # a pair through a second shared cell. The guard's multiprobe
            # sub-bucket expansion lives ONLY on the broadcast b side
            # (probed_b) — one row's expanded values are distinct, so it adds
            # no duplication either way.
            if tier == "exact":
                # oracle tier: broadcast join + per-pair Arrow scorer, the
                # SQL-replayable shape (small corpora by contract)
                old_pairs = score(
                    stored.alias("a").join(
                        F.broadcast(probed_b.alias("b")), old_cond
                    )
                )
                new_pairs = score(
                    probed_a.alias("a").join(
                        F.broadcast(probed_b.alias("b")), new_cond
                    )
                )
            else:
                # scale tier: the blocked scorer, with the batch's probe
                # rows as the b side. They are fetched from the PLAIN
                # probed frame (one row per probe, own __sub); the guard's
                # multiprobe expansion happens over row positions inside
                # _collect_blocks. n_probe_rows counts them exactly: the
                # guard adds the __sub key but never adds or drops rows.
                dim = len(cents[0]) if cents else 0
                passes = self._n_passes(n_probe_rows, dim, guard_deltas)

                def batch_blocks(k):
                    # pmod(xxhash64(id), passes) partitions the b rows and
                    # every pair is emitted only in its b row's pass:
                    # stored rows are a-side only, and a "new" pair
                    # {x, y} with x.id < y.id only where y is the b row.
                    if passes == 1:
                        # the whole frame, whose row count is known: no
                        # count job before the collect
                        return self._collect_blocks(
                            probed_a, dim, guard_deltas, n=n_probe_rows
                        )
                    return self._collect_blocks(
                        probed_a.filter(
                            F.pmod(F.xxhash64(F.col("id")), F.lit(passes))
                            == F.lit(k)
                        ),
                        dim, guard_deltas,
                    )

                old_pairs, new_pairs = self._score_passes(
                    passes, batch_blocks,
                    [(stored, "old", threshold), (probed_a, "new", threshold)],
                )
            if tier != "exact" and nprobe > 1:
                new_pairs = new_pairs.dropDuplicates(["id_a", "id_b"])
            return old_pairs.unionByName(new_pairs), assigned
        except BaseException:
            # release what THIS call persisted or shipped; frames and
            # blocks of earlier calls stay until unpersist_intermediates
            self._release_since(*mark)
            raise

    def _release_since(self, n_persisted: int, n_blocks: int) -> None:
        """Unpersist the frames and clean up the shared blocks tracked
        after the first ``n_persisted`` / ``n_blocks``."""
        for df in self._persisted[n_persisted:]:
            df.unpersist()
        del self._persisted[n_persisted:]
        # round 12: shared block artifacts are removed deterministically
        # (the r11 Python broadcasts accumulated across streaming
        # micro-batches until GC happened to reclaim them)
        for h in self._shared_blocks[n_blocks:]:
            h.cleanup()
        del self._shared_blocks[n_blocks:]

    def unpersist_intermediates(self) -> None:
        self._release_since(0, 0)

    # -- exactly-once batch application ------------------------------------

    def batch_applied(self, batch_id: int) -> bool:
        """Whether ``batch_id`` durably committed
        (:meth:`lifecycle.IndexLifecycle.batch_applied`)."""
        return self._lc.batch_applied(batch_id)

    def apply_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        threshold: float = 0.85,
        tier: str = "ivf",
        nprobe: int = 2,
        max_cell_size: Optional[int] = DEFAULT_MAX_CELL_SIZE,
    ) -> bool:
        """Dedup ``batch`` against index + itself and commit, exactly
        once. Pairs first, vectors, then one applied-log append (the log
        entry is the applied marker); all writes overwrite the batch's
        own directory and all reads exclude it.

        Maintenance coexistence (round 12): entry refuses while a lease
        is held AND captures the root's fence token; the token (plus a
        fresh held-probe) is re-verified immediately before the
        applied-log append, so a maintenance window that OPENED while
        this batch was mid-flight aborts the commit loudly
        (:class:`lease.LeaseHeldError`) instead of landing a directory
        in a tree maintenance is renaming aside. The aborted batch's
        directories are replay-overwritten byte-identically by the next
        apply_batch call with the same batch_id."""
        fence = self._lc.open_batch()
        if self._lc.batch_applied(batch_id):
            return False
        j = fs_storage.join
        bdir = f"batch_id={int(batch_id)}"
        self._lc.ensure_log()
        pairs, assigned = self.dedup_batch(
            batch, vec_col, id_col, threshold, tier, nprobe,
            exclude_batch_id=int(batch_id), max_cell_size=max_cell_size,
        )
        try:
            # round 16: the two writes are independent jobs over the
            # persisted assignment — only the applied-log append after
            # BOTH makes the batch durable and all reads filter to
            # applied batches, so overlapping them (guide §2.6) absorbs
            # one write's scheduling/commit latency inside the other's
            fs_storage.run_concurrent([
                lambda: pairs.write.mode("overwrite").parquet(
                    j(self.pairs_path, bdir)
                ),
                lambda: (
                    assigned.repartition(F.col("cell"))
                    .write.partitionBy("cell")
                    .mode("overwrite")
                    .parquet(j(self.vectors_path, bdir))
                ),
            ])
            self._lc.commit_batch(batch_id, fence)
        finally:
            self.unpersist_intermediates()
            self._lc.forget_listings()
        return True

    # -- ANN serving -------------------------------------------------------

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 1,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """(query_id, neighbor_id, cosine, rank): cosine top-k over the
        stored vectors, reading ONLY the cell partitions the queries probe
        (``nprobe = nlist`` reads everything — the exact tier the oracle
        replays). Self-matches (same id) are excluded. Ties break on
        neighbor id, the package's ANN convention.

        The query rows (id, vec and the SQL norm) are collected to the
        driver ONCE — the blocked scorer ships them as its b side
        anyway — and each query's ``nprobe`` cells are assigned there
        with :func:`similarity.probe_cells_np`, the probe UDF's own
        kernel, so the cells are bit-equal to the UDF's. Before its
        scorer the search therefore runs JVM-only jobs (a count and the
        collect) and no Python stage. Query vectors are stored once and
        registered under each probed cell through the blocks' ``pos``
        artifact.

        The stored rows then stream through the blocked scorer
        (:meth:`_score_passes`), each task keeping its local top-k per
        query, so the rank window shuffles at most k rows per query and
        task. The query blocks are reclaimed at this instance's next
        :meth:`unpersist_intermediates`: materialize the result before
        interleaving new ingest on the same instance."""
        import shutil

        import numpy as np
        from pyspark.sql import Window

        from .similarity import unit_centroids

        self._recover_compaction()  # incl. finishing a committed retrain
        cents = self.centroids()
        if cents is None:
            raise ValueError(f"no index at {self.root}")
        if nprobe < 1:
            raise ValueError(f"nprobe must be >= 1, got {nprobe}")
        kk = int(k)
        dim = len(cents[0])
        q = self._with_norm(queries, id_col, vec_col)
        mark = (len(self._persisted), len(self._shared_blocks))
        n, ids, vecs, norms, cellv, _, tmp = self._fetch_rows(
            q, dim, probe=(unit_centroids(cents), int(nprobe))
        )
        try:
            stored = self._stored(
                sorted({int(c) for c in cellv.ravel()}), None,
                empty_like=q.withColumn("cell", F.lit(0)),
            )
            # Queries are the b side; stored vectors are single-cell, so
            # each (query, neighbor) scores exactly once even at
            # nprobe = nlist.
            passes = self._n_passes(n, dim, range(cellv.shape[1]))
            bounds = np.linspace(0, n, passes + 1).astype("int64")

            def query_blocks(k):
                # Row ranges partition the queries: a query's local top-k
                # survivors all come from its one pass, so the rank window
                # over the union is the single-pass one.
                if passes == 1:
                    # the whole fetch: spilled .npy files move into place
                    # without a copy
                    return self._finish_blocks(
                        n, ids, vecs, norms, cellv, None, None
                    )
                lo, hi = int(bounds[k]), int(bounds[k + 1])
                ids_k, vecs_k, norms_k = (
                    np.load(a, mmap_mode="r")[lo:hi] if isinstance(a, str)
                    else a[lo:hi]
                    for a in (ids, vecs, norms)
                )
                return self._finish_blocks(
                    hi - lo, ids_k, vecs_k, norms_k, cellv[lo:hi], None, None
                )

            (scored,) = self._score_passes(
                passes, query_blocks, [(stored, "topk", kk)]
            )
        except BaseException:
            self._release_since(*mark)
            raise
        finally:
            if tmp is not None:
                shutil.rmtree(tmp, ignore_errors=True)
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

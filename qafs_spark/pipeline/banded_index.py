"""Band-partitioned persisted MinHash index: per-batch cost scales with
the BATCH, never with the corpus.

:mod:`incremental` closes the re-tokenization problem (each document is
tokenized once in its lifetime) but still touches the whole stored index
per batch twice: it re-derives band keys by mapping over every stored
signature, and (guard on) aggregates band counts over the entire index.
At a 1B-document index that is hundreds of GB of signature reads per
arrival. This module persists what those two passes compute:

- ``bands/``  — (id, band) rows, **partitioned by a band-hash prefix**
  (``band_pfx = pmod(xxhash64(band), num_partitions)``). A batch's band
  set covers a bounded set of prefixes, so the candidate probe reads only
  the matching partition directories — partition pruning, not an index
  scan. Band keys are derived once, at index time.
- ``band_counts/`` — (band, cnt) delta rows, same partitioning. The
  oversized-bucket guard reads ONLY the batch's band partitions and
  aggregates after a broadcast semi-join to the batch's bands, replacing
  the index-wide count aggregate.
- ``docs/`` — (id, sig, sh) rows partitioned by ``id_pfx`` so the
  exact-Jaccard verify reads only the partitions holding candidate ids.

Every dataset is ALSO partitioned by ``batch_id`` at the top level, each
batch written with ``mode("overwrite")`` into its own
``batch_id=N`` directory. That makes the sink **exactly-once under
foreachBatch replay**: a replayed micro-batch overwrites its own
directories with identical content (probe reads exclude the in-flight
batch_id, so a partially-written previous attempt cannot perturb the pair
set), and a completed batch is skipped outright via the ``applied_log``
commit manifest (:mod:`manifest` — appended after the last dataset
write, folded by compaction, so applied-set reads cost O(1) metadata ops
instead of one ``_SUCCESS`` probe per uncompacted batch). No scrubs, no
MERGE-capable table format needed. That protocol — with merge-on-read
deletes, rename-aside compaction and rebuild, the config pin and the
pairs log — is the persisted-index lifecycle shared with the sibling
indexes, :mod:`lifecycle`.

Pair-set parity: for the same (n, num_hashes, num_bands, seed, threshold,
max_band_size) this path is bit-equal to
:func:`incremental.incremental_minhash_dedup` — asserted by tests. The
guard is equivalent because a band can only produce candidates when it
appears in the batch, and for those bands old+new counts are identical to
the index-wide aggregate's.

Driver-side work per batch is bounded by ``num_partitions`` (two
prefix-set collects of <= num_partitions rows), never by data size.

Reference parity note: the reference has no incremental tier at all (its
dedup is whole-corpus pandas/dask); this is the 100 TB extension surface.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage as fs_storage
from . import lease
from .dedup import DEFAULT_MAX_BAND_SIZE, lsh_band_keys
from .incremental import minhash_index, minhash_index_with_tokens
from .lifecycle import IndexLifecycle


class BandedMinHashIndex:
    """Persisted, band-partitioned MinHash dedup index rooted at ``root``.

    Layout (all parquet)::

        root/docs/batch_id=N/id_pfx=K/        (id, sig, sh[, toks])
        root/bands/batch_id=N/band_pfx=K/     (id, band)
        root/band_counts/batch_id=N/band_pfx=K/  (band, cnt)
        root/pairs/batch_id=N/                (id_a, id_b, jaccard)
        root/meta/                            one config row (validated)

    ``n``/``num_hashes``/``num_bands``/``seed``/``num_partitions`` must be
    identical across the index's lifetime (signatures are only comparable
    under identical hashing; prefixes only prune under one modulus) — the
    ``meta`` row pins them and :meth:`apply_batch` refuses a mismatch.
    :meth:`rebuild` is the sanctioned way to change them; changing the
    shingle size ``n`` additionally needs ``store_tokens=True`` (the
    ``toks`` column — roughly the text's own size again in storage — is
    what re-shingling derives from).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n: int = 3,
        num_hashes: int = 32,
        num_bands: int = 8,
        seed: int = 42,
        num_partitions: int = 32,
        store_tokens: bool = False,
    ) -> None:
        if num_hashes % num_bands != 0:
            raise ValueError("num_bands must divide num_hashes")
        self.spark = spark
        self.root = root
        self.n = n
        self.num_hashes = num_hashes
        self.num_bands = num_bands
        self.seed = seed
        self.num_partitions = num_partitions
        self.store_tokens = bool(store_tokens)
        self._lc = IndexLifecycle(
            self, ("band_counts", "docs", "bands"), pairs_score="jaccard"
        )
        (
            self.counts_path, self.docs_path, self.bands_path, self.pairs_path
        ) = self._lc.datasets
        self._persisted: list[DataFrame] = []

    def refresh(self) -> None:
        """Drop every per-instance metadata cache so the next read
        re-syncs with mutations other instances committed
        (:meth:`lifecycle.IndexLifecycle.invalidate`)."""
        self._lc.invalidate()

    def _config(self) -> dict:
        return {
            "n": self.n,
            "num_hashes": self.num_hashes,
            "num_bands": self.num_bands,
            "seed": self.seed,
            "num_partitions": self.num_partitions,
            "store_tokens": self.store_tokens,
        }

    # -- helpers -----------------------------------------------------------

    def _pfx(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.num_partitions))

    def _banded(self, index_rows: DataFrame) -> DataFrame:
        rpb = self.num_hashes // self.num_bands
        return index_rows.select(
            "id",
            F.explode(
                lsh_band_keys(F.col("sig"), self.num_bands, rpb)
            ).alias("band"),
        )

    def _read_pruned(
        self,
        path: str,
        pfx_col: str,
        pfxs: list,
        exclude_batch_id: Optional[int],
        empty_like: DataFrame,
        cols: list,
    ) -> DataFrame:
        """Read a partitioned dataset restricted to the given prefix set
        (partition pruning — only matching directories are listed/read),
        excluding the in-flight batch's own directory and any batch that
        never durably committed (a crashed, never-replayed apply_batch
        must not perturb probe pair sets)."""
        if not fs_storage.path_exists(self.spark, path) or not pfxs:
            return empty_like.select(*cols).limit(0)
        df = self._lc.read_cached(path)
        if df is None:
            return empty_like.select(*cols).limit(0)
        # partition dirs read back as strings (type inference is off)
        df = df.filter(F.col(pfx_col).isin([str(p) for p in pfxs]))
        if exclude_batch_id is not None:
            df = df.filter(F.col("batch_id") != str(exclude_batch_id))
        return df.filter(self._lc.applied_cond()).select(*cols)

    # -- merge-on-read deletes ---------------------------------------------

    def delete_ids(self, ids) -> int:
        """Tombstone documents (GDPR/maintenance delete) — merge-on-read,
        the Delta/Iceberg delete-file idiom: appends the ids to a small
        ``deletes/`` dataset; every probe anti-joins the (broadcast)
        tombstone set, and :meth:`compact` drops the rows physically and
        recomputes band counts exactly. The oversized-bucket guard is
        ALSO exact in between: it subtracts tombstoned ids' band rows
        (read from the same pruned prefix partitions the probe already
        touches) from the stored count deltas, so the guarded pair set
        equals a compacted index's bit-for-bit. The pairs log is a
        historical record that delete_ids leaves intact; a
        right-to-be-forgotten request also needs :meth:`scrub_pairs`.

        ``ids`` is a list of ids or a one-column DataFrame. Returns the
        number of tombstones appended."""
        return self._lc.delete_ids(ids)

    # -- core --------------------------------------------------------------

    def dedup_batch(
        self,
        new_docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.5,
        max_band_size: Optional[int] = DEFAULT_MAX_BAND_SIZE,
        exclude_batch_id: Optional[int] = None,
        broadcast_new: bool = True,
        _on_new_rows=None,
    ) -> Tuple[DataFrame, DataFrame]:
        """Near-dup pairs touching the batch + the batch's index rows.

        Same contract and pair set as
        :func:`incremental.incremental_minhash_dedup` (batch ids disjoint
        from stored ids; pairs exact-verified, id_a < id_b), but every
        index read is partition-pruned:

        1. the batch's band-prefix set (<= ``num_partitions`` values) is
           collected once, driver-side — bounded, never data-sized;
        2. stored (id, band) rows are read ONLY from those partitions and
           equi-joined against the (broadcast) batch bands;
        3. the guard's stored counts come from the same pruned partitions,
           semi-joined to the batch's bands BEFORE aggregating;
        4. the verify reads ``docs/`` only at the candidate ids' id-prefix
           partitions.

        The returned frames hold persisted intermediates; call
        :meth:`unpersist_intermediates` when done (``apply_batch`` does).
        """
        self._recover_compaction()  # incl. finishing a committed rebuild
        index_fn = (
            minhash_index_with_tokens if self.store_tokens else minhash_index
        )
        new_rows = index_fn(
            new_docs, text_col, id_col, self.n, self.num_hashes, self.seed
        ).persist()
        self._persisted.append(new_rows)
        nb = self._banded(new_rows).withColumn("band_pfx", self._pfx(F.col("band")))
        batch_pfx = [r[0] for r in nb.select("band_pfx").distinct().collect()]
        if _on_new_rows is not None:
            # apply_batch's hook (round 16): new_rows is materialized in
            # the cache by the collect above, so the caller can launch
            # the index-dataset writes that depend ONLY on it, in
            # parallel with the candidate/verify chain built below
            _on_new_rows(new_rows)

        ob = self._lc.minus_deleted(
            self._read_pruned(
                self.bands_path, "band_pfx", batch_pfx, exclude_batch_id,
                empty_like=nb, cols=["id", "band"],
            )
        )
        nb_g = nb.select("id", "band")
        if max_band_size is not None:
            nb_counts = nb_g.groupBy("band").agg(
                F.count(F.lit(1)).alias("bn_new")
            )
            deltas = self._read_pruned(
                self.counts_path, "band_pfx", batch_pfx, exclude_batch_id,
                empty_like=nb_counts.select(
                    "band", F.col("bn_new").alias("cnt")
                ),
                cols=["band", "cnt"],
            ).join(F.broadcast(nb_counts.select("band")), "band", "leftsemi")
            tomb = self._lc.tombstones()
            if tomb is not None:
                # stored count deltas include tombstoned rows until
                # compact(); their band rows live in the SAME pruned
                # prefix partitions the candidate probe reads, so
                # subtracting them here keeps the guard EXACT under
                # merge-on-read deletes (pair-set parity with a
                # compacted index, not just conservative)
                tomb_bands = (
                    self._read_pruned(
                        self.bands_path, "band_pfx", batch_pfx,
                        exclude_batch_id, empty_like=nb,
                        cols=["id", "band"],
                    )
                    .join(F.broadcast(tomb), "id", "leftsemi")
                    .join(
                        F.broadcast(nb_counts.select("band")),
                        "band", "leftsemi",
                    )
                    .groupBy("band")
                    .agg((-F.count(F.lit(1))).alias("cnt"))
                )
                deltas = deltas.unionByName(tomb_bands)
            stored = deltas.groupBy("band").agg(F.sum("cnt").alias("bn_old"))
            big = (
                nb_counts.join(stored, "band", "left")
                .select(
                    "band",
                    (
                        F.coalesce(F.col("bn_old"), F.lit(0)) + F.col("bn_new")
                    ).alias("bn"),
                )
                .filter(F.col("bn") > max_band_size)
                .select("band")
            )
            # the old side needs no anti-join: an old row only produces a
            # candidate through a band present in the (guarded) batch side
            nb_g = nb_g.join(F.broadcast(big), "band", "left_anti")
        ab = ob.unionByName(nb_g)
        rhs = F.broadcast(nb_g.alias("b")) if broadcast_new else nb_g.alias("b")
        cand = (
            ab.alias("a")
            .join(
                rhs,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
            .persist()
        )
        self._persisted.append(cand)
        id_pfx = [
            r[0]
            for r in cand.select(self._pfx(F.col("id_a")).alias("p"))
            .union(cand.select(self._pfx(F.col("id_b"))))
            .distinct()
            .collect()
        ]
        old_sh = self._lc.minus_deleted(
            self._read_pruned(
                self.docs_path, "id_pfx", id_pfx, exclude_batch_id,
                empty_like=new_rows, cols=["id", "sh"],
            )
        )
        sh_all = old_sh.unionByName(new_rows.select("id", "sh"))
        verif = (
            cand.join(
                sh_all.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
                "id_a",
            ).join(
                sh_all.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
                "id_b",
            )
        )
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast(
            "double"
        )
        union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
        pairs = verif.select(
            "id_a", "id_b", (inter / union).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)
        return pairs, new_rows

    def unpersist_intermediates(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted = []

    # -- exactly-once batch application ------------------------------------

    def batch_applied(self, batch_id: int) -> bool:
        """Whether ``batch_id`` durably committed
        (:meth:`lifecycle.IndexLifecycle.batch_applied`)."""
        return self._lc.batch_applied(batch_id)

    def apply_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.5,
        max_band_size: Optional[int] = DEFAULT_MAX_BAND_SIZE,
        broadcast_new: bool = True,
    ) -> bool:
        """Dedup ``batch`` against index + itself and commit its outputs,
        exactly once. Returns False (no-op) for an already-applied batch.

        Write order: pairs, docs, bands, band_counts, then one applied-log
        append — the log entry is the applied marker, so it implies every
        dataset committed. All writes overwrite the batch's own
        ``batch_id=N`` directory, and all probe reads exclude it, so a
        replay after any partial failure reproduces identical output.
        """
        fence = self._lc.open_batch()
        if self._lc.batch_applied(batch_id):
            return False
        # indexes written before store_tokens existed have no key:
        # they hold no toks column, i.e. store_tokens=False
        self._lc.check_meta(
            "hashing/partitioning params are immutable for an index's "
            "lifetime",
            store_tokens=False,
        )
        j = fs_storage.join
        bdir = f"batch_id={int(batch_id)}"
        # Concurrent commits (round 16) break the legacy fallback's
        # "counts written last" marker assumption — materialize the
        # applied log (with the legacy backfill) BEFORE the first such
        # commit so the fallback never engages again on this index.
        self._lc.ensure_log()
        # The four dataset writes are mutually independent Spark jobs:
        # only the applied-log append — after ALL of them — makes the
        # batch durable, and every probe read filters to applied
        # batches, so write ORDER never mattered for correctness, only
        # for the (now log-backed) legacy marker scan. Round 16 overlaps
        # them (optimization guide §2.6), and further: the three
        # index-dataset writes depend ONLY on new_rows, which
        # dedup_batch materializes at its FIRST collect — the
        # _on_new_rows hook launches them there, in parallel with the
        # candidate/verify chain AND the pairs write (measured 3.5-4 s
        # serial writes → hidden inside the dedup chain at sf0.1).
        waiters: list = []

        def w_docs(new_rows):
            (
                new_rows.withColumn("id_pfx", self._pfx(F.col("id")))
                .repartition(F.col("id_pfx"))
                .write.partitionBy("id_pfx")
                .mode("overwrite")
                .parquet(j(self.docs_path, bdir))
            )

        def w_bands(nb):
            (
                nb.repartition(F.col("band_pfx"))
                .sortWithinPartitions("band")  # row-group locality
                .write.partitionBy("band_pfx")
                .mode("overwrite")
                .parquet(j(self.bands_path, bdir))
            )

        def w_counts(nb):
            (
                nb.groupBy("band", "band_pfx")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .repartition(F.col("band_pfx"))
                .write.partitionBy("band_pfx")
                .mode("overwrite")
                .parquet(j(self.counts_path, bdir))
            )

        def kickoff(new_rows):
            nb = self._banded(new_rows).withColumn(
                "band_pfx", self._pfx(F.col("band"))
            )
            # shared deferred-wait primitive (round 17, ADVICE): one
            # implementation of the wait-all-then-raise-first contract
            waiters.append(fs_storage.start_concurrent([
                lambda: w_docs(new_rows),
                lambda: w_bands(nb),
                lambda: w_counts(nb),
            ]))

        try:
            pairs, new_rows = self.dedup_batch(
                batch, text_col, id_col, threshold, max_band_size,
                exclude_batch_id=int(batch_id), broadcast_new=broadcast_new,
                _on_new_rows=kickoff,
            )
            pairs.write.mode("overwrite").parquet(j(self.pairs_path, bdir))
            for w in waiters:
                w()
            self._lc.commit_batch(batch_id, fence)
        finally:
            # wait for any in-flight write before releasing the caches
            # it reads (a failed batch's partial directories are replay-
            # overwritten — the standard crash contract); wait() is
            # idempotent, and its error already surfaced in the try body
            for w in waiters:
                try:
                    w()
                except Exception:
                    pass
            self.unpersist_intermediates()
            self._lc.forget_listings()
        return True

    # -- crash recovery and parameter rebuild (re-banding / re-hashing) ----

    def _recover_compaction(self) -> None:
        self._lc.recover()
        self._recover_rebuild()

    def _recover_rebuild(self) -> None:
        """Finish a rebuild whose intent marker committed — the staged
        docs/bands/counts swap in (:meth:`lifecycle.IndexLifecycle.finish_rebuild`)."""
        self._lc.finish_rebuild()

    @lease.maintenance_op("rebuild")
    def rebuild(
        self,
        num_hashes: Optional[int] = None,
        num_bands: Optional[int] = None,
        seed: Optional[int] = None,
        num_partitions: Optional[int] = None,
        n: Optional[int] = None,
        docs: Optional[DataFrame] = None,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> int:
        """Re-derive the index under NEW hashing/banding parameters —
        tune the recall/precision (num_hashes, num_bands, its implied
        LSH threshold curve) or the partition modulus as the corpus
        evolves, without touching raw text: signatures recompute from
        the stored per-document shingle-hash sets
        (``minhash_signature_from_hashes`` — the same derivation ingest
        uses), so the rebuilt index is bit-identical to one built from
        scratch under the new params (parity-tested).

        Changing the shingle size ``n`` needs more than ``sh`` (shingles
        are n-token windows of the text). Two sources can supply it:
        the index's own token streams (``store_tokens=True`` — live docs
        re-shingle from ``toks``), or, for indexes built WITHOUT stored
        tokens (round 10), a caller-provided source frame —
        ``rebuild(n=5, docs=corpus_df)`` — holding at least every live
        document's original text under (``id_col``, ``text_col``).
        Either way the re-shingling uses the same expressions ingest
        uses, so the result is bit-identical to a fresh build (docs
        shorter than the new ``n`` drop out, matching ingest's
        no-shingle contract; tombstoned or never-indexed ids in ``docs``
        are ignored). A live id MISSING from ``docs`` raises — silently
        re-indexing a subset would corrupt the index. With neither
        source it raises.

        Mechanics mirror :meth:`CellVectorIndex.retrain`: one scan of
        the live docs re-derives sig/bands/counts into fully-staged
        directories, a write-ahead intent marker (carrying the new
        config) commits the rebuild, the three datasets swap in via
        rename-aside, the meta row updates, tombstones (folded out of
        the staging) clear (:mod:`lifecycle`). Crash-finishable from any
        point by any public entry; **run quiesced**. From then on,
        instances must be constructed with the new params. Returns the
        number of live documents re-indexed."""
        from .dedup import minhash_signature_from_hashes, shingle_hashes
        from .incremental import _grams_from_tokens

        self._recover_compaction()
        if (
            n is not None
            and int(n) != self.n
            and not self.store_tokens
            and docs is None
        ):
            raise ValueError(
                "rebuild(n=...) needs a token source: build the index "
                "with store_tokens=True, or pass the source corpus — "
                "rebuild(n=..., docs=df) — to re-shingle from text"
            )
        new_cfg = dict(
            num_hashes=self.num_hashes if num_hashes is None else int(num_hashes),
            num_bands=self.num_bands if num_bands is None else int(num_bands),
            seed=self.seed if seed is None else int(seed),
            num_partitions=(
                self.num_partitions if num_partitions is None
                else int(num_partitions)
            ),
            n=self.n if n is None else int(n),
        )
        if new_cfg["num_hashes"] % new_cfg["num_bands"] != 0:
            raise ValueError("num_bands must divide num_hashes")
        target = self._lc.fold_target()
        reshingle = new_cfg["n"] != self.n

        doc_cols = ["id", "sh"] + (["toks"] if self.store_tokens else [])
        # applied-only: a crashed, never-committed batch's partial docs
        # must not be folded under the rebuilt batch_id=target (its stream
        # replay would then ingest the rows a second time)
        live = self._lc.live(self.docs_path, *doc_cols)
        if reshingle and docs is not None:
            # validate the source frame BEFORE any instance mutation — a
            # refused rebuild must leave the instance (and a retry's
            # reshingle decision) untouched. Every live id must be
            # present in docs (before the shorter-than-n drop — that
            # drop matches a fresh build); extras are ignored.
            live_ids = live.select("id")
            n_live_stored = live_ids.count()
            covered = live_ids.join(
                docs.select(F.col(id_col).alias("id")).distinct(),
                "id", "left_semi",
            ).count()
            if covered < n_live_stored:
                raise ValueError(
                    f"rebuild(docs=...) source frame covers {covered} of "
                    f"{n_live_stored} live indexed documents; every live "
                    "id must be present to re-shingle losslessly"
                )
        self.num_hashes = new_cfg["num_hashes"]
        self.num_bands = new_cfg["num_bands"]
        self.seed = new_cfg["seed"]
        self.num_partitions = new_cfg["num_partitions"]
        self.n = new_cfg["n"]

        if reshingle and docs is not None:
            # re-shingle from the caller-provided source corpus (the
            # no-stored-tokens path): the SAME ingest tokenization,
            # restricted to the stored live ids
            index_fn = (
                minhash_index_with_tokens if self.store_tokens
                else minhash_index
            )
            live = (
                index_fn(
                    docs, text_col, id_col,
                    self.n, self.num_hashes, self.seed,
                )
                .select(*doc_cols)  # sig recomputes below; Catalyst prunes
                .join(live_ids, "id", "left_semi")
            )
        elif reshingle:
            # re-window the stored token streams under the new n — the
            # same staged expressions ingest uses, so sh (and everything
            # derived from it) matches a fresh build bit-for-bit
            live = (
                live.filter(F.size("toks") >= self.n)
                .select(
                    "id", "toks",
                    _grams_from_tokens(F.col("toks"), self.n).alias("_g"),
                )
                .select(
                    "id", "toks",
                    F.array_distinct(shingle_hashes(F.col("_g"))).alias("sh"),
                )
            )
        rows = live.select(
            "id",
            minhash_signature_from_hashes(
                F.col("sh"), self.num_hashes, self.seed
            ).alias("sig"),
            "sh",
            *(["toks"] if self.store_tokens else []),
        ).persist()
        stage = self._lc.staged
        try:
            n_live = rows.count()
            self._lc.write_folded(
                rows.withColumn("id_pfx", self._pfx(F.col("id"))),
                stage(self.docs_path), target, ["id_pfx"],
            )
            nb = self._banded(rows).withColumn(
                "band_pfx", self._pfx(F.col("band"))
            )
            self._lc.write_folded(
                nb, stage(self.bands_path), target, ["band_pfx"], sort="band"
            )
            self._lc.write_folded(
                nb.groupBy("band", "band_pfx").agg(
                    F.count(F.lit(1)).alias("cnt")
                ),
                stage(self.counts_path), target, ["band_pfx"],
            )
        finally:
            rows.unpersist()
        self._lc.commit_rebuild(target)
        self._recover_rebuild()
        return n_live

    # -- compaction --------------------------------------------------------

    @lease.maintenance_op("compact")
    def compact(self) -> int:
        """Fold every applied batch's directories into one, and collapse
        band-count deltas to one row per band. Returns the number of
        batch directories removed (0 = nothing to do).

        Why: each micro-batch adds up to ``num_partitions`` directories
        per dataset, so a long-lived stream accumulates unbounded
        partition-listing work and small files; a popular band also
        accretes one count-delta row per batch. Compaction rewrites
        docs/bands into a single ``batch_id=<max>`` directory tree (rows
        unchanged, probes and pair sets bit-identical — parity-tested)
        and band_counts into one summed row per band. Protocol, crash
        safety and the run-quiesced rule:
        :meth:`lifecycle.IndexLifecycle.compact`."""
        return self._lc.compact(self._fold)

    def _fold(self, target: int) -> None:
        # applied-only: a crashed, never-committed batch's partial rows
        # must not be folded under batch_id=target (the swap drops its
        # directories; its stream replay re-commits it cleanly)
        doc_cols = ["id", "sig", "sh"] + (
            ["toks"] if self.store_tokens else []
        )
        self._lc.swap_folded(
            self.docs_path,
            self._lc.live(self.docs_path, *doc_cols, "id_pfx"),
            target, ["id_pfx"],
        )
        self._lc.swap_folded(
            self.bands_path,
            self._lc.live(self.bands_path, "id", "band", "band_pfx"),
            target, ["band_pfx"],
        )
        # counts RECOMPUTED from the surviving band rows (not summed from
        # deltas): tombstoned rows leave the counts exactly here
        counts = (
            self.spark.read.parquet(self.bands_path)
            .groupBy("band", "band_pfx")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        self._lc.swap_folded(self.counts_path, counts, target, ["band_pfx"])

    # -- readers -----------------------------------------------------------

    def pairs(self) -> DataFrame:
        """Accumulated (id_a, id_b, jaccard, batch_id) over all APPLIED
        batches (:meth:`lifecycle.IndexLifecycle.pairs`)."""
        return self._lc.pairs()

    @lease.maintenance_op("compact_pairs")
    def compact_pairs(self) -> int:
        """Fold the pairs log's batch directories at or below the
        compaction watermark into ``pairs_hist``; :meth:`pairs` output is
        bit-identical (:meth:`lifecycle.IndexLifecycle.compact_pairs`).
        **Run quiesced**. Returns directories folded."""
        return self._lc.compact_pairs()

    def doc_rows(self) -> DataFrame:
        """All live (id, sig, sh) rows of APPLIED batches — tombstoned
        docs excluded (full scan — audits only)."""
        return self._lc.live(self.docs_path, "id", "sig", "sh")

    @lease.maintenance_op("scrub_pairs")
    def scrub_pairs(self, ids) -> int:
        """GDPR-complete removal from the pairs LOG of every pair
        touching ``ids`` (:meth:`lifecycle.IndexLifecycle.scrub_pairs`;
        run quiesced). Returns the number of pair rows dropped."""
        return self._lc.scrub_pairs(ids)

"""Persisted inverted index: BM25 retrieval whose per-query cost is a
partition-pruned postings probe, with incremental exactly-once ingestion.

The lexical member of the persisted-index trio (:mod:`banded_index` for
MinHash, :mod:`vector_index` for embeddings). :func:`text.bm25_topk`
re-tokenizes the corpus per query — right for one-off audits, wrong for a
retrieval service over a continuously-fed corpus. Here each document is
tokenized ONCE, at ingest:

- ``postings/batch_id=N/term_pfx=K/`` — (term, id, tf) rows partitioned
  by a term-hash prefix. A query's terms map to a bounded prefix set, so
  the probe reads only matching partition directories — the classic
  inverted-index seek expressed as parquet partition pruning.
- ``doclens/batch_id=N/`` — (id, dl) rows; corpus scalars (N, avgdl) are
  one narrow aggregate over this two-column table at query time, so they
  are always exact — including after merge-on-read deletes.

Scoring is byte-identical to :func:`text.bm25_topk` (same expression
shapes, same micro-unit freeze), so a full-corpus index query replays the
same DuckDB oracle — asserted by the ``bm25_index_topk`` catalog row and
a bit-equality pytest against the on-the-fly operator.

Exactly-once ingestion, merge-on-read deletes, compaction and rebuild
are the persisted-index lifecycle shared with the sibling indexes,
:mod:`lifecycle` (per-batch overwrite directories; an ``applied_log``
manifest entry appended after the last dataset write as the applied
marker — :mod:`manifest`, one cached read, O(1) metadata ops per search;
broadcast tombstone anti-joins; rename-aside compaction swap). Same
checkpoint/index lifecycle caveat as :mod:`streaming.dedup_lsh`.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage as fs_storage
from . import lease
from .lifecycle import IndexLifecycle
from .text import tokens

# doclens fold sizing: one row per live document (two narrow columns), so
# ~2M rows per write task keeps files in the tens-of-MB range; 1 file for
# gate-scale corpora, hundreds of parallel tasks at 10^9 docs
_DOCLENS_ROWS_PER_TASK = 2_000_000


def _doclens_partitions(n_rows: int) -> int:
    return max(1, -(-int(n_rows) // _DOCLENS_ROWS_PER_TASK))


class InvertedIndex:
    """Persisted BM25 index rooted at ``root``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_partitions: int = 64,
    ) -> None:
        self.spark = spark
        self.root = root
        self.num_partitions = num_partitions
        self._lc = IndexLifecycle(self, ("doclens", "postings"))
        self.doclens_path, self.postings_path = self._lc.datasets

    def refresh(self) -> None:
        """Drop every per-instance metadata cache so the next read
        re-syncs with mutations other instances committed
        (:meth:`lifecycle.IndexLifecycle.invalidate`)."""
        self._lc.invalidate()

    def _config(self) -> dict:
        return {"num_partitions": self.num_partitions}

    def _pfx(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.num_partitions))

    # -- merge-on-read deletes ---------------------------------------------

    def delete_ids(self, ids) -> int:
        """Tombstone documents; probes and corpus scalars exclude them
        immediately, :meth:`compact` drops their rows physically."""
        return self._lc.delete_ids(ids)

    # -- exactly-once ingestion --------------------------------------------

    def batch_applied(self, batch_id: int) -> bool:
        """Whether ``batch_id`` durably committed
        (:meth:`lifecycle.IndexLifecycle.batch_applied`). Search reads
        filter through the applied set, so a concurrent or crashed
        apply_batch — whose postings land BEFORE its doclens — can never
        skew n_docs/avgdl or surface partial postings."""
        return self._lc.batch_applied(batch_id)

    def apply_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> bool:
        """Tokenize the batch ONCE and commit its postings + doc lengths,
        exactly once (doclens, then the applied-log append that marks the
        batch committed). Ids must be disjoint from stored ids.
        Zero-token documents contribute no rows (same contract as
        bm25_topk's token stream)."""
        fence = self._lc.open_batch()
        if self._lc.batch_applied(batch_id):
            return False
        self._lc.check_meta("the prefix modulus is immutable")
        j = fs_storage.join
        bdir = f"batch_id={int(batch_id)}"
        tok = batch.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        # tf is persisted across the two writes so the batch is tokenized
        # exactly once: dl is by definition the per-doc sum of tf, so the
        # doclens write folds the materialized tf instead of re-deriving
        # the token stream from the batch lineage a second time
        tf = (
            tok.groupBy("id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("term_pfx", self._pfx(F.col("term")))
            .persist()
        )
        try:
            (
                tf.repartition(F.col("term_pfx"))
                .sortWithinPartitions("term")  # row-group locality for probes
                .write.partitionBy("term_pfx")
                .mode("overwrite")
                .parquet(j(self.postings_path, bdir))
            )
            dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
            dl.write.mode("overwrite").parquet(j(self.doclens_path, bdir))
            self._lc.commit_batch(batch_id, fence)
        finally:
            tf.unpersist()
            self._lc.forget_listings()
        return True

    # -- retrieval ---------------------------------------------------------

    def search(
        self,
        query_terms: List[str],
        k: int = 20,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """(doc, score_micro, rank): Okapi BM25 top-k over the live
        corpus, byte-identical scoring to :func:`text.bm25_topk`.

        The postings read is pruned to the query terms' prefix partitions
        (bounded by ``min(len(terms), num_partitions)`` directories); the
        prefixes are constant-folded into the scan's partition filter,
        and both datasets are read through the lifecycle's listing and
        schema caches, so building the plan runs no Spark job once the
        instance has read the index (pinned in tests). Corpus scalars
        come from one narrow aggregate over the two-column ``doclens``
        table, so they stay exact under tombstones. Global top-k plans
        as TakeOrderedAndProject, ranks are a window over <= k rows."""
        from pyspark.sql import Window

        self._recover_compaction()  # incl. finishing a committed rebuild
        if not (
            fs_storage.path_exists(self.spark, self.postings_path)
            and fs_storage.path_exists(self.spark, self.doclens_path)
        ):
            raise ValueError(f"no index at {self.root}")
        applied_cond = self._lc.applied_cond()
        dl_all = self._lc.read_cached(self.doclens_path)
        if dl_all is None:
            raise ValueError(f"no index at {self.root}")
        dl = self._lc.minus_deleted(
            dl_all.filter(applied_cond).select("id", "dl")
        )
        terms = sorted(set(query_terms))
        post = self._lc.read_cached(self.postings_path)
        if not terms or post is None:
            # zero-term query (or no postings at all, every document
            # zero-token): BM25 over no postings is an empty ranking,
            # typed like a populated one (createDataFrame can't infer an
            # empty frame's schema, so derive it from doclens)
            return dl.select(
                F.col("id").alias("doc"),
                F.lit(0).cast("long").alias("score_micro"),
                F.lit(0).cast("int").alias("rank"),
            ).limit(0)
        # the terms' prefixes as constant expressions: Catalyst folds
        # them to literals, so the scan's partition filter prunes to the
        # same directories with no job run to compute them
        pfxs = [self._pfx(F.lit(t)).cast("string") for t in terms]
        post = post.filter(applied_cond).filter(
            F.col("term_pfx").isin(pfxs)
        )
        tf = self._lc.minus_deleted(
            post.filter(F.col("term").isin(terms)).select("id", "term", "tf")
        )
        stats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
        )
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        joined = (
            tf.join(F.broadcast(dfreq), "term")
            .join(dl, "id")
            .crossJoin(F.broadcast(stats))
        )
        nd = F.col("n_docs").cast("double")
        dfd = F.col("df").cast("double")
        tfd = F.col("tf").cast("double")
        dld = F.col("dl").cast("double")
        avgdl = F.col("total_tokens").cast("double") / nd
        idf = F.log(F.lit(1.0) + (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)))
        denom = tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dld / avgdl))
        part = idf * (tfd * F.lit(k1 + 1.0)) / denom
        per_doc = (
            joined.select(
                F.col("id").alias("doc"),
                F.round(part * F.lit(1_000_000)).cast("long").alias("s_micro"),
            )
            .groupBy("doc")
            .agg(F.sum("s_micro").alias("score_micro"))
        )
        topk = per_doc.orderBy(
            F.col("score_micro").desc(), F.col("doc").asc()
        ).limit(k)
        w = Window.orderBy(F.col("score_micro").desc(), F.col("doc").asc())
        return topk.withColumn("rank", F.row_number().over(w))

    # -- crash recovery and parameter rebuild (prefix-modulus change) ------

    def _recover_compaction(self) -> None:
        self._lc.recover()
        self._recover_rebuild()

    def _recover_rebuild(self) -> None:
        """Finish a committed rebuild — replays safely from any crash
        point, even by an instance constructed with the old modulus
        (:meth:`lifecycle.IndexLifecycle.finish_rebuild`)."""
        self._lc.finish_rebuild()

    @lease.maintenance_op("rebuild")
    def rebuild(self, num_partitions: int) -> int:
        """Re-partition the index under a NEW term-prefix modulus — the
        knob that bounds probe fan-out — without re-tokenizing anything:
        postings rows re-hash to their new prefix directly (term strings
        are stored), doclens fold unchanged, tombstones drop out. Same
        write-ahead marker + rename-aside protocol as
        :meth:`banded_index.BandedMinHashIndex.rebuild`; **run
        quiesced**; instances must use the new modulus afterwards.
        Returns the number of live documents re-indexed."""
        self._recover_compaction()
        target = self._lc.fold_target()
        # applied-only rows captured BEFORE num_partitions mutates (they
        # only depend on the watermark/applied caches, but capture early
        # for clarity); a crashed batch's partial postings must not be
        # folded under batch_id=target — its stream replay re-ingests it
        # cleanly
        post = self._lc.live(self.postings_path, "id", "term", "tf")
        dl = self._lc.live(self.doclens_path, "id", "dl")
        self.num_partitions = int(num_partitions)
        self._lc.write_folded(
            post.withColumn("term_pfx", self._pfx(F.col("term"))),
            self._lc.staged(self.postings_path), target, ["term_pfx"],
            sort="term",
        )
        n_live = dl.count()
        # doclens is CORPUS-sized (one row per live document): spread the
        # fold across hash-of-id tasks scaled to the row count — never a
        # single-task write of a multi-GB table (round-10 fix; small
        # corpora still produce one file)
        self._lc.write_folded(
            dl, self._lc.staged(self.doclens_path), target,
            by=[_doclens_partitions(n_live), F.col("id")],
        )
        self._lc.commit_rebuild(target)
        self._recover_rebuild()
        return n_live

    # -- compaction --------------------------------------------------------

    @lease.maintenance_op("compact")
    def compact(self) -> int:
        """Fold applied batch directories into one and drop tombstoned
        documents physically (:meth:`lifecycle.IndexLifecycle.compact`;
        run quiesced). Returns the number of batch directories
        removed."""
        return self._lc.compact(self._fold)

    def _fold(self, target: int) -> None:
        self._lc.swap_folded(
            self.postings_path,
            self._lc.live(self.postings_path, "id", "term", "tf", "term_pfx"),
            target, ["term_pfx"],
        )
        dl = self._lc.live(self.doclens_path, "id", "dl")
        # doclens is corpus-sized; scale the fold's task count to its row
        # count instead of folding through one task (round-10 fix)
        self._lc.swap_folded(
            self.doclens_path, dl, target,
            by=[_doclens_partitions(dl.count()), F.col("id")],
        )

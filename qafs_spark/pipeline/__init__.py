"""Large-scale training-data pipeline operators (BASELINE.json north star).

Beyond reference parity, the operators a 100 TB LLM-data pipeline needs:

* :mod:`text` — tokenization, quality scoring, language-ID heuristic,
  fingerprinting. All pure `pyspark.sql.functions` column expressions —
  whole-stage codegen, no Python in the hot path.
* :mod:`dedup` — exact (hash-groupBy), MinHash+LSH, SimHash, n-gram
  Jaccard, embedding-cosine near-dup.
* :mod:`similarity` — brute-force cosine top-k baseline + hyperplane-LSH
  bucketed and IVF-flat approximate search as the scale paths.
* :mod:`semdedup` — SemDeDup-style semantic dedup: IVF-cell-restricted
  cosine pairing → min-label components → keep-one-representative.
* :mod:`incremental` — continuous-ingestion dedup: persisted MinHash
  index, per-batch candidate join (new side broadcast, corpus never
  re-tokenized or shuffled).
* :mod:`banded_index` / :mod:`vector_index` / :mod:`text_index` — the
  persisted-index trio (MinHash bands, IVF cells, BM25 postings):
  partition-pruned probes over their own data shapes.
* :mod:`lifecycle` — the persisted-index lifecycle those three share:
  exactly-once batch + streaming ingestion, merge-on-read deletes,
  rename-aside compaction and rebuild, the config pin and the pairs log.
* :mod:`retrieval` — reciprocal-rank fusion over any (id, rank)
  frames (hybrid lexical + vector retrieval).
* :mod:`multimodal` — opaque binary columns with typed metadata; decode /
  resize / frame-sample plumbing as Arrow-batched Pandas UDFs (decoders
  stubbed — codec libs are not in this container).
* :mod:`sampling` — deterministic hash sampling, stratified rates,
  leak-safe train/test splits, k-per-group.
* :mod:`decontam` — benchmark n-gram overlap detection + anti-join scrub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a CPU-bound expression stage has enough partitions to use
    every core.

    The text/dedup operators are compute-bound (regex tokenize, shingle
    hashing, minhash) — their cost is per-row CPU, not I/O. A small input
    (one Parquet file under ``maxPartitionBytes``) scans as ONE partition,
    serializing all that work onto one core. This helper round-robins such
    inputs up to ``defaultParallelism`` first; the one tiny shuffle is
    repaid ~core-count× in the expression stage.

    At scale it is a no-op by construction: a 100 TB table scans as
    thousands of partitions already, so ``getNumPartitions() >= target``
    and the DataFrame passes through unchanged — no shuffle is ever added
    to a big input. (Inspecting partition count forces physical planning
    but runs no job.)
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


from . import (  # noqa: E402
    decontam,
    dedup,
    incremental,
    multimodal,
    sampling,
    semdedup,
    similarity,
    text,
)

__all__ = [
    "decontam",
    "dedup",
    "incremental",
    "multimodal",
    "sampling",
    "semdedup",
    "similarity",
    "text",
    "spread",
]

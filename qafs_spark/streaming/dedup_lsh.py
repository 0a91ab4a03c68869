"""Streaming near-dup detection: a MinHash index maintained across
micro-batches via ``foreachBatch`` + :mod:`pipeline.incremental`.

A continuously-fed corpus can't run the batch dedup operators per arrival
(they re-tokenize everything). This sink keeps the persisted index from
:func:`pipeline.incremental.minhash_index` on disk and, per micro-batch:

1. dedups the batch against index + itself (batch side broadcast, index
   text never re-read — see ``incremental_minhash_dedup``);
2. appends the discovered pairs (stamped with ``batch_id``) to a pairs
   log;
3. appends the batch's index rows to the index.

Completeness invariant (asserted in tests): each near-dup pair is emitted
exactly once — in the micro-batch where its LATER document arrives — so
the accumulated pairs log after N batches equals the batch operator's
pair set over everything ingested, regardless of how documents were split
into batches.

Delivery: **exactly-once.** foreachBatch itself is at-least-once, but each
micro-batch commits into its own ``batch_id=N`` partition directory of
both outputs with ``mode("overwrite")``, the index read excludes the
in-flight batch's directory, and a batch recorded in the sink's
``applied_log`` commit manifest (``<index>.applied_log``, appended after
the batch's LAST write — round 10, same :mod:`pipeline.manifest` recipe
as the class-based indexes) is skipped outright — so a replay is either
a no-op (completed batch) or a byte-identical re-commit (partially
written batch). No MERGE-capable table format needed. Pairs land BEFORE
the log entry, so the raw pairs dataset can hold an in-flight/crashed
batch's rows — read it through :func:`dedup_pairs`, which filters to the
manifest's applied set in ONE parquet read, independent of the batch
count (the same rule :meth:`pipeline.banded_index.BandedMinHashIndex.pairs`
implements; indexes written before the log fall back to one legacy
``_SUCCESS`` scan, which the next ``apply_dedup_batch`` backfills).

Caller contract: document ids are unique across the stream's lifetime
(re-ingestions must be filtered upstream, e.g. with
:func:`stateful.dedup_stream` keyed by id), and the CHECKPOINT and the
index/pairs paths live and die together — starting a FRESH checkpoint
against an existing index restarts micro-batch ids at 0, which the
idempotency markers would read as already-applied batches (the standard
caveat of every batch-id-keyed idempotent sink, e.g. Delta's
txnAppId/txnVersion). New checkpoint ⇒ new output paths.
"""

from __future__ import annotations

from typing import Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from .. import storage as fs_storage
from ..pipeline import manifest
from ..pipeline.incremental import incremental_minhash_dedup, minhash_index
from ..pipeline.dedup import DEFAULT_MAX_BAND_SIZE

# "caller did not choose" marker for streaming_semantic_dedup's
# max_cell_size: None must keep its package-wide meaning of DISABLE the
# hot-cell guard (round-13 ADVICE — mapping None to the index default
# made guard-disable unreachable through the streaming wrapper).
_CELL_CAP_DEFAULT = object()


def _flat_log_path(index_path: str) -> str:
    """The flat sink's ``applied_log`` lives BESIDE the index dataset
    (``<index>.applied_log``), not inside it — ``apply_dedup_batch``
    reads the index root wholesale, and a nested foreign-schema child
    would break partition discovery."""
    return index_path.rstrip("/") + ".applied_log"


def _flat_applied(
    spark, index_path: str, cache: Optional[dict] = None,
    pairs_path: Optional[str] = None,
):
    """(applied_ids, legacy_scanned): the flat sink's applied-batch set —
    one parquet read of the commit log; indexes written before the log
    existed fall back to the legacy per-batch ``_SUCCESS`` scan (and the
    next ``apply_dedup_batch`` backfills the log, so the fallback is
    transitional, not steady-state). ``cache`` (round 16): a dict owned
    by a long-lived single-writer caller (the streaming sink holds one
    per stream) — the log read then runs once per stream instead of once
    per micro-batch, with the writer updating the cache at each commit;
    a fresh process (replay) starts with an empty cache and re-reads.
    ``pairs_path`` (round 17, ADVICE): when given, the legacy fallback
    requires the batch's pairs marker TOO — the round-16 concurrent
    writes retired the "index written last" ordering the single-dataset
    scan assumed, so a crashed concurrent batch with an index-only (or
    pairs-only) directory must read as not-applied."""
    if cache is not None and "applied" in cache:
        return cache["applied"], False
    applied = manifest.read_log(spark, _flat_log_path(index_path))
    if applied is not None:
        if cache is not None:
            cache["applied"] = applied
        return applied, False
    require = (pairs_path,) if pairs_path else ()
    return manifest.legacy_scan(spark, index_path, -1, require_all=require), True


def apply_dedup_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    max_band_size: Optional[int] = DEFAULT_MAX_BAND_SIZE,
    _applied_cache: Optional[dict] = None,
) -> bool:
    """One micro-batch of the flat dedup sink, committed exactly once
    (module-level so the replay semantics are directly testable).
    ``_applied_cache``: optional per-stream dict (see ``_flat_applied``)
    that amortizes the applied-log read across a stream's micro-batches.

    Returns False (no-op) when the batch is in the ``applied_log`` commit
    manifest (round 10; indexes predating the log fall back to the
    legacy per-batch ``_SUCCESS`` scan once, and this call backfills the
    log from it). Otherwise both outputs overwrite the batch's own
    ``batch_id=N`` directory — pairs, then index, then the log append
    whose entry witnesses the complete commit — and the index read
    excludes the in-flight batch (a partially-committed previous attempt
    must not pair the batch against its own rows)."""
    spark = batch.sparkSession
    bdir = f"batch_id={int(batch_id)}"
    applied, legacy_scanned = _flat_applied(
        spark, index_path, _applied_cache, pairs_path=pairs_path
    )
    if int(batch_id) in applied:
        return False
    if fs_storage.path_exists(spark, index_path):
        index = spark.read.parquet(index_path).filter(
            F.col("batch_id") != str(int(batch_id))
        )
    else:
        index = minhash_index(
            batch.limit(0), text_col, id_col, n, num_hashes, seed
        )
    # Round 16: the two dataset writes run CONCURRENTLY (independent
    # jobs; the applied-log entry appended after BOTH is what makes the
    # batch durable, and dedup_pairs filters to the applied set, so
    # write order never carried correctness — only the legacy
    # _SUCCESS-scan fallback's "index written last" marker assumption,
    # which the log-ensure below retires before the first concurrent
    # commit). Overlapping them absorbs one write's scheduling/commit
    # latency inside the other's (optimization guide §2.6).
    if legacy_scanned:
        # the log did not READ this batch (missing, or torn-unreadable —
        # manifest.ensure now gates on read_log, round 17 ADVICE): write
        # the legacy backfill before the first concurrent commit. When
        # the applied set came from the log or the stream cache the log
        # is known-readable, so steady-state batches skip the probe the
        # old unconditional ensure() paid.
        manifest.ensure(spark, _flat_log_path(index_path), applied)
    pairs, new_rows = incremental_minhash_dedup(
        batch, index, text_col, id_col,
        n=n, num_hashes=num_hashes, num_bands=num_bands,
        threshold=threshold, seed=seed, max_band_size=max_band_size,
    )
    # Persist the batch sketch (round 16, guide §2.3): ``pairs``
    # references the ``new_rows`` subtree three times (banded broadcast
    # side + both sides of the signature union) and the concurrent index
    # write evaluates it again — without the cache the batch is
    # tokenized + MinHashed ~4x per micro-batch. MEMORY_AND_DISK (spills,
    # never drops, so the plan stays deterministic either way); released
    # after the commit, so nothing survives the batch.
    new_rows = new_rows.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        fs_storage.run_concurrent([
            lambda: pairs.write.mode("overwrite").parquet(
                fs_storage.join(pairs_path, bdir)
            ),
            lambda: new_rows.write.mode("overwrite").parquet(
                fs_storage.join(index_path, bdir)
            ),
        ])
        manifest.append(spark, _flat_log_path(index_path), {int(batch_id)})
    finally:
        new_rows.unpersist()
    if _applied_cache is not None:
        _applied_cache["applied"] = applied | {int(batch_id)}
    return True


def dedup_pairs(spark, index_path: str, pairs_path: str) -> DataFrame:
    """Applied-batches-only view of the flat sink's pairs log.

    Pairs commit BEFORE the batch's ``applied_log`` entry (appended after
    the index write — the entry witnesses a complete commit), so the raw
    pairs dataset can hold rows of an in-flight or crashed batch that a
    replay will re-emit. This reader filters to the manifest's applied
    set — the same isolation rule the class-based indexes implement
    (:meth:`pipeline.banded_index.BandedMinHashIndex.pairs`) — so its
    row set is exactly-once under kill-and-replay. Cost (round 10): ONE
    commit-log parquet read per call, independent of the batch count;
    pre-log indexes fold their legacy per-batch ``_SUCCESS`` markers in
    via one transitional scan (the next ``apply_dedup_batch`` backfills
    the log)."""
    empty_schema = "id_a long, id_b long, jaccard double, batch_id string"
    if not fs_storage.path_exists(spark, pairs_path):
        return spark.createDataFrame([], empty_schema)
    applied, _ = _flat_applied(spark, index_path, pairs_path=pairs_path)
    try:
        df = spark.read.parquet(pairs_path)
    except Exception:
        # dir exists but holds no committed part files (crash inside the
        # very first batch's pairs write) — same contract as
        # IndexLifecycle.pairs
        return spark.createDataFrame([], empty_schema)
    # the flat sink has no compaction watermark to bound the applied
    # predicate (the class indexes' _applied_cond shape), but streaming
    # batch ids are contiguous from 0, so the contiguous prefix folds
    # into one comparison and the isin literal holds only the GAP ids
    # (an in-flight replay window) — the plan stays O(1)-sized instead
    # of carrying one literal per batch ever committed
    w = -1
    for b in sorted(applied):
        if b != w + 1:
            break
        w = b
    rest = [str(int(b)) for b in sorted(applied) if b > w]
    cond = F.col("batch_id").cast("long") <= F.lit(w)
    if rest:
        cond = cond | F.col("batch_id").isin(rest)
    return df.filter(cond).select("id_a", "id_b", "jaccard", "batch_id")


def streaming_minhash_dedup(
    stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    max_band_size: Optional[int] = DEFAULT_MAX_BAND_SIZE,
    trigger_available_now: bool = True,
):
    """Start the dedup sink; returns the StreamingQuery.

    ``index_path`` accumulates (id, sig, sh) rows — one per document ever
    ingested; ``pairs_path`` accumulates (id_a, id_b, jaccard), both
    partitioned by ``batch_id`` (exactly-once — see the module docstring
    and :func:`apply_dedup_batch`). Maintenance cost per micro-batch
    scales with the batch (tokenization) plus one band-derivation map +
    semi-join-pruned verify over the index — never with the corpus's
    text. (For an index whose probes are also partition-pruned, use
    :func:`streaming_banded_dedup`.)
    """

    # per-stream applied-set cache: one log read for the stream's
    # lifetime instead of one per micro-batch (single-writer contract;
    # a replayed stream starts a fresh process → fresh cache → re-read)
    applied_cache: dict = {}

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        apply_dedup_batch(
            batch, batch_id, index_path, pairs_path,
            text_col=text_col, id_col=id_col, n=n, num_hashes=num_hashes,
            num_bands=num_bands, threshold=threshold, seed=seed,
            max_band_size=max_band_size, _applied_cache=applied_cache,
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_semantic_dedup(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    threshold: float = 0.85,
    tier: str = "ivf",
    nprobe: int = 2,
    trigger_available_now: bool = True,
    max_cell_size=_CELL_CAP_DEFAULT,
):
    """Exactly-once streaming SEMANTIC near-dup detection over the
    persisted cell-partitioned vector index
    (:class:`pipeline.vector_index.CellVectorIndex`): per micro-batch,
    the arriving embeddings dedup against stored + themselves (IVF tier
    reads only the batch's probed cell partitions) and append their
    vectors under their cells. Quantizer trains on the FIRST micro-batch
    and freezes — start the stream with a representative batch, the
    standard IVF practice; data DRIFTING away from that batch funnels
    into few cells, which is exactly what the index's ``max_cell_size``
    hot-cell guard bounds (unset = the index default, 4096; the drift
    soak in ``tests/test_streaming_soak.py`` pins bounded per-batch
    cost with the guard engaged). ``None`` DISABLES the guard — the
    same meaning it carries in every batch operator
    (``blocked_self_pairs``/``semantic_pairs``/``apply_batch``); round
    13 mapped None to the default here, inverting that convention
    (round-13 ADVICE). Same commit recipe and checkpoint/index
    lifecycle caveat as the sinks above."""
    from ..pipeline.vector_index import (
        DEFAULT_MAX_CELL_SIZE,
        CellVectorIndex,
    )

    if max_cell_size is _CELL_CAP_DEFAULT:
        max_cell_size = DEFAULT_MAX_CELL_SIZE

    # ONE index instance across the stream's micro-batches: its metadata
    # caches (watermark/tombstones/quantizer/meta) then amortize to zero
    # per-batch parquet reads instead of a fixed re-read every batch.
    # delete_ids issued through OTHER instances while the stream runs
    # stay visible: apply_batch re-syncs the tombstone cache per batch
    # off the deletes dataset's listing signature (_sync_tombstones);
    # compact/rebuild/retrain/compact_pairs still require a quiesced
    # stream (compact_pairs bounds the pairs log's directory-per-batch
    # growth between maintenance windows).
    holder: list = []

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if not holder:
            holder.append(CellVectorIndex(batch.sparkSession, root, nlist=nlist))
        holder[0].apply_batch(
            batch, batch_id, vec_col=vec_col, id_col=id_col,
            threshold=threshold, tier=tier, nprobe=nprobe,
            max_cell_size=max_cell_size,
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_inverted_index(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int = 64,
    trigger_available_now: bool = True,
):
    """Exactly-once streaming ingestion into the persisted BM25 index
    (:class:`pipeline.text_index.InvertedIndex`): each micro-batch is
    tokenized once and committed into its own batch directories, so a
    continuously-fed corpus is searchable (partition-pruned term probes)
    without any re-tokenization. Same commit recipe and checkpoint/index
    lifecycle caveat as the dedup sinks above."""
    from ..pipeline.text_index import InvertedIndex

    # one instance across micro-batches — see streaming_semantic_dedup
    holder: list = []

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if not holder:
            holder.append(InvertedIndex(
                batch.sparkSession, root, num_partitions=num_partitions
            ))
        holder[0].apply_batch(batch, batch_id, text_col=text_col, id_col=id_col)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_banded_dedup(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    max_band_size: Optional[int] = DEFAULT_MAX_BAND_SIZE,
    num_partitions: int = 32,
    trigger_available_now: bool = True,
):
    """Exactly-once streaming near-dup detection over a band-partitioned
    index (:class:`pipeline.banded_index.BandedMinHashIndex`).

    Improvements over :func:`streaming_minhash_dedup`:

    - **exactly-once**: each micro-batch commits into its own
      ``batch_id=N`` partition directories with overwrite semantics and an
      applied-marker check, so foreachBatch replays are no-ops (completed
      batch) or byte-identical re-commits (partially-written batch) —
      asserted by the kill-and-replay test;
    - **per-batch cost scales with the batch, not the corpus**: band keys
      and band counts are persisted at index time and every probe read is
      partition-pruned to the batch's band/id prefix set, replacing the
      O(index) signature map + index-wide count aggregate.

    Index + pairs live under ``root`` (``root/pairs`` accumulates
    (id_a, id_b, jaccard, batch_id)); read them back via the
    ``BandedMinHashIndex`` constructed with the same parameters.
    """
    from ..pipeline.banded_index import BandedMinHashIndex

    # one instance across micro-batches — see streaming_semantic_dedup
    holder: list = []

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if not holder:
            holder.append(BandedMinHashIndex(
                batch.sparkSession, root, n=n, num_hashes=num_hashes,
                num_bands=num_bands, seed=seed, num_partitions=num_partitions,
            ))
        holder[0].apply_batch(
            batch, batch_id, text_col=text_col, id_col=id_col,
            threshold=threshold, max_band_size=max_band_size,
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

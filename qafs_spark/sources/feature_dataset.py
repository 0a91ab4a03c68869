"""One feature = one Hive-partitioned Parquet dataset.

Layout (parity with reference src/qafs/backend/pandas.py:33-39, :53, plus a
namespace level to avoid the reference's cross-namespace name collisions):

    <storage>/feature/<namespace>/<name>/partition=<val>/*.parquet

Physical columns: ``time TIMESTAMP, created_time TIMESTAMP, value <T>,
partition STRING`` (reference schema pinning: pandas.py:76-79).

Scale notes baked in here:

* **Partition derivation** (reference: pandas.py:62-70): ``date`` →
  ``date_format(time,'yyyy-MM-dd')``, ``year`` → ``year(time)``; stays in
  whole-stage codegen.
* **Derived partition pruning** (SURVEY §4): Catalyst cannot infer that a
  predicate on ``time`` bounds the ``partition`` directory key, so we add the
  redundant ``partition BETWEEN ...`` predicate at plan-build time — this
  turns a full directory listing scan into static partition pruning, the
  single most important 100 TB optimization for time-ranged reads.
* **Row-group pruning**: writes are sorted by ``time`` within files so
  Parquet min/max stats make the pushed-down time filter effective inside
  each partition.
"""

from __future__ import annotations

import posixpath
from functools import partial, reduce
from typing import List, Optional, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exceptions import FeatureStoreException
from .. import storage as fs_storage

PHYSICAL_COLS = ("time", "created_time", "value", "partition")

# Per-job staging commit for appends (round 15, replaces the round-14
# per-path lock): Spark's default commit protocol stages every append
# under the SAME ``<path>/_temporary`` root, and a job's commit-time
# cleanup deletes that root recursively — two concurrent appends to one
# feature (threads OR processes) could silently drop the slower job's
# task outputs. Each append now writes to its OWN unique staging
# directory (``<path>.__stage__-<uuid>``, a sibling on the same
# filesystem, invisible to readers) and then MOVES the part files into
# the dataset one rename apiece — part-file names embed the writer
# task's UUID, so moves from concurrent jobs cannot collide, and no
# job's cleanup can ever touch another job's files. Residual window:
# a crash mid-move commits a PREFIX of the append's files (the same
# window Spark's own commitJob has); a crash before the moves leaves an
# inert orphan staging dir, swept by the next compact_feature run.
_STAGE_MARK = ".__stage__-"


def feature_path(storage: str, namespace: str, name: str) -> str:
    return posixpath.join(str(storage), "feature", namespace, name)


def partition_expr(scheme: str, time_col: str = "time") -> Column:
    if scheme == "date":
        return F.date_format(F.col(time_col), "yyyy-MM-dd")
    if scheme == "year":
        return F.year(F.col(time_col)).cast("string")
    raise FeatureStoreException(f"Unknown partition scheme {scheme!r}")


def _partition_key(scheme: str, ts: pd.Timestamp) -> str:
    if scheme == "date":
        return ts.strftime("%Y-%m-%d")
    if scheme == "year":
        return str(ts.year)
    raise FeatureStoreException(f"Unknown partition scheme {scheme!r}")


def derived_partition_predicates(
    scheme: str,
    from_date: Optional[pd.Timestamp] = None,
    to_date: Optional[pd.Timestamp] = None,
) -> List[Column]:
    """Redundant predicates on the partition directory key implied by time
    bounds — lets Catalyst statically prune partitions (SURVEY §4)."""
    preds: List[Column] = []
    p = F.col("partition").cast("string")
    if from_date is not None:
        preds.append(p >= _partition_key(scheme, pd.Timestamp(from_date)))
    if to_date is not None:
        preds.append(p <= _partition_key(scheme, pd.Timestamp(to_date)))
    return preds


def write_feature(
    df: DataFrame,
    path: str,
    scheme: str = "date",
    distribute: Optional[int] = None,
    check=None,
) -> None:
    """Append ``(time, created_time, value)`` rows as partitioned Parquet.

    Adds the ``partition`` column from ``time``; sorts rows by time within
    output files so Parquet row-group min/max statistics line up with the
    dominant query predicate.

    ``distribute=N``: ``repartitionByRange(N, partition, time)`` before the
    write — the scale knob for large ingests. Range partitioning on
    (partition, time) keeps each writer task on a contiguous slice (1-2
    output directories per task, even file sizes, stats still aligned with
    ``time``) while parallelizing across N tasks; a plain
    ``repartition("partition")`` would cap parallelism at #days and write
    one giant file per hot day. Costs one range shuffle (with a sampling
    pass), so leave None for small/already-partitioned inputs.

    ``check``: a :class:`~qafs_spark.checks.Column` judged inside the
    write. Its violation counters are attached with ``DataFrame.observe``
    as the plan's last step — above the range exchange, so the sampling
    pass never runs them — and the staged write is the only Spark job.
    Its verdict (:meth:`~qafs_spark.checks.Column.report_observed`) runs
    after the staging write and before anything is made visible: a
    raise discards the staging directory, so readers never observe data
    that failed the check (a failing first save leaves no dataset
    directory either); log mode logs and commits. The dtype gate is the
    caller's, on the driver, before this.
    """
    missing = {"time", "created_time", "value"} - set(df.columns)
    if missing:
        raise FeatureStoreException(f"write_feature missing columns: {missing}")
    out = (
        df.select("time", "created_time", "value")
        .withColumn("partition", partition_expr(scheme))
    )
    if distribute:
        out = out.repartitionByRange(distribute, "partition", "time")
    out = out.sortWithinPartitions("partition", "time")
    verdict = None
    if check is not None:
        out, obs, names = check.attach_observation(out, "value")
        verdict = partial(check.report_observed, obs, names, "value")
    _staged_append(out, path, verdict)


def _staged_append(out: DataFrame, path: str, verdict=None) -> None:
    """Commit ``out`` into the dataset via a per-job staging directory
    (see module-level note): write to ``<path>.__stage__-<uuid>``, run
    ``verdict`` (if any), move each ``partition=<val>/part-*.parquet``
    into place with one rename apiece, delete the staging dir. Isolated
    across threads AND processes — every job has a private
    ``_temporary`` root and UUID-named part files."""
    import posixpath as pp
    import uuid

    spark = out.sparkSession
    stage = path.rstrip("/") + _STAGE_MARK + uuid.uuid4().hex
    try:
        out.write.mode("error").partitionBy("partition").parquet(stage)
        if verdict is not None:
            verdict()
    except BaseException:
        # never leave a known-dead staging dir for the compaction
        # sweep — and never rename it in
        fs_storage.delete_path(spark, stage)
        raise
    # the direct append created the dataset dir even for 0-row writes;
    # keep that contract (path_exists probes distinguish "feature never
    # saved" from "saved empty")
    fs_storage.mkdirs(spark, path)
    try:
        made_dirs = set()
        # Hadoop returns fully-qualified URIs (file:/..., webhdfs://...);
        # the staging basename embeds a fresh uuid, so splitting on it
        # yields the path relative to the staging root regardless of
        # scheme qualification
        marker = "/" + pp.basename(stage.rstrip("/")) + "/"
        for f in fs_storage.list_files(spark, stage):
            i = f.find(marker)
            rel = f[i + len(marker):] if i >= 0 else ""
            if not rel.startswith("partition="):
                continue  # _SUCCESS and any non-data artifacts
            part_dir, fname = pp.split(rel)
            if not fname.endswith(".parquet"):
                continue
            tgt_dir = pp.join(path, part_dir)
            if tgt_dir not in made_dirs:
                fs_storage.mkdirs(spark, tgt_dir)
                made_dirs.add(tgt_dir)
            if not fs_storage.rename_path(spark, f, pp.join(tgt_dir, fname)):
                raise FeatureStoreException(
                    f"staged append: rename of {f} into {tgt_dir} failed"
                )
    finally:
        fs_storage.delete_path(spark, stage)


def read_feature(
    spark: SparkSession,
    path: str,
    scheme: str = "date",
    from_date=None,
    to_date=None,
    value_type: Optional[T.DataType] = None,
    keep_partition_col: bool = False,
) -> Optional[DataFrame]:
    """Scan one feature dataset with time + derived-partition pushdown.

    Returns None when the dataset does not exist yet (feature created but
    never written — reference tests:430-448 expect empty loads to work).

    ``value_type``: when given (the registry knows every feature's dtype),
    the scan uses an explicit schema instead of parquet footer inference —
    that removes the schema-inference Spark job from PLAN BUILD entirely
    (load_features stays job-free until an action) and, at 100 TB, skips
    reading any footers up front.
    """
    if not fs_storage.path_exists(spark, path):
        return None
    reader = spark.read
    if value_type is not None:
        reader = reader.schema(
            T.StructType(
                [
                    T.StructField("time", T.TimestampType()),
                    T.StructField("created_time", T.TimestampType()),
                    T.StructField("value", value_type),
                    T.StructField("partition", T.StringType()),
                ]
            )
        )
    df = reader.parquet(path)
    # one filter call for every bound (each DataFrame call re-analyses)
    preds = []
    if from_date is not None:
        preds.append(F.col("time") >= F.lit(pd.Timestamp(from_date)))
    if to_date is not None:
        preds.append(F.col("time") <= F.lit(pd.Timestamp(to_date)))
    partitioned = value_type is not None or "partition" in df.columns
    if partitioned:
        preds += derived_partition_predicates(scheme, from_date, to_date)
    if preds:
        df = df.filter(reduce(lambda a, b: a & b, preds))
    if partitioned and not keep_partition_col:
        df = df.drop("partition")
    return df


def empty_feature_df(
    spark: SparkSession, value_type: Optional[T.DataType] = None
) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("time", T.TimestampType()),
            T.StructField("created_time", T.TimestampType()),
            T.StructField("value", value_type or T.StringType()),
        ]
    )
    return spark.createDataFrame([], schema=schema)


def compact_feature(
    spark: SparkSession,
    path: str,
    scheme: str = "date",
    target_files_per_partition: int = 1,
    collapse_lww: bool = False,
) -> Tuple[int, Optional[pd.Timestamp]]:
    """Rewrite a feature dataset's partitions into few, time-sorted files.

    Append-only ingest accumulates one file per writer task per save — at a
    save per hour that is thousands of small files per partition within
    weeks, degrading scan throughput (file-open overhead, tiny row groups,
    useless min/max stats). Compaction is the standard maintenance pass:
    read everything, re-sort by (partition, time), rewrite with
    ``maxRecordsPerFile``-free coalescing to ``target_files_per_partition``
    output files per partition, atomically swap via a staging directory.

    ``collapse_lww=False`` (default): last-write-wins semantics are
    PRESERVED, not applied — compaction keeps every (time, created_time)
    version so time travel still works; the read path's LWW picks the
    current value.

    ``collapse_lww=True``: apply the read path's LWW at rewrite — keep, per
    ``time``, only the row with the greatest ``created_time`` (same
    ``max_by`` the read-side dedup uses, operators/dedup.py). This is the
    read-amplification fix at scale: an append-only store re-saving a
    feature N times makes every current-value read scan and dedup N
    versions forever; collapsing rewrites the dataset down to one row per
    timestamp. Superseded versions are GONE afterwards — time travel with
    an as-of cutoff before the collapse horizon is unanswerable, so the
    store-level API (:meth:`FeatureStore.compact`) stamps the horizon in
    the registry and the load path refuses such reads loudly instead of
    returning silently-wrong results (reference time-travel semantics:
    tests/test_feature_store.py:479-489 select superseded versions — only
    answerable while those versions physically exist).

    Returns ``(rows, max_created_time)`` of the rewritten dataset, both
    observed inside the rewrite (``(0, None)`` when there is no dataset);
    the maximum is the collapse horizon :meth:`FeatureStore.compact`
    stamps. Driver-side orchestration only — the data movement
    is one Spark job (`repartitionByRange` by partition and time, the
    same layout the ingest `distribute` knob produces; the LWW collapse
    adds one partial-aggregated shuffle on ``time``).

    **Swap protocol (reader-friendly, crash-recoverable).** The rewritten
    data is staged at ``<path>.__compact__``, then swapped in with two
    renames: live → ``<path>.__old__``, staging → live, delete old. A
    concurrent reader can still observe a missing path, but only inside the
    rename→rename window (two metadata ops on a real FS/HDFS), not for the
    full duration of a recursive delete. It is NOT a lock: concurrent
    WRITERS during a compact can still lose appends (their files land in
    the directory that gets renamed aside) — run compaction in a
    single-writer maintenance window. Object stores emulate rename as
    copy+delete per object, so the window widens there; prefer
    FS-with-atomic-rename for the feature root, or exclude readers.
    Crash recovery: a crash between the two renames leaves
    ``<path>.__old__`` holding the data and no live path — the next
    compact (or any call of this function) restores it before proceeding;
    leftover staging/old directories from completed or failed runs are
    cleaned up front.
    """
    # a previous compact that crashed between its two renames left the
    # live data aside; restore it and recompact
    if not fs_storage.restore_aside(spark, path):
        return 0, None
    # sweep orphan append-staging dirs (a writer that crashed before its
    # moves — see _staged_append). Compaction runs in a single-writer
    # maintenance window by contract, so anything still staged is dead.
    parent, base = posixpath.split(path.rstrip("/"))
    for d in fs_storage.list_dirs(spark, parent):
        if d.startswith(base + _STAGE_MARK):
            fs_storage.delete_path(spark, posixpath.join(parent, d))
    df = spark.read.parquet(path)
    if collapse_lww:
        from ..operators.dedup import last_write_wins, value_tiebreak

        # keep the survivor's created_time (time travel after the horizon
        # must still see the true creation instant); partition re-derives
        # from time exactly as the original writer derived it.
        # value_tiebreak: rows tied on (time, created_time) get a
        # deterministic winner (greatest value) — the collapse physically
        # deletes the losers, so an arbitrary tie-break here would freeze a
        # nondeterministic choice forever. The read-path LWW
        # (core._load_leaf) uses the same tiebreak, so pre- and
        # post-collapse reads agree. Map-typed values are not orderable;
        # there the tie stays arbitrary (tiebreak is None).
        df = last_write_wins(
            df, value_cols=["value"], tiebreak_cols=value_tiebreak(df),
            keep_order_col=True,
        ).withColumn("partition", partition_expr(scheme))
    n_parts = max(
        1,
        df.select("partition").distinct().count() * target_files_per_partition,
    )

    def stage(staging: str) -> Tuple[int, Optional[pd.Timestamp]]:
        # the row count and the created_time maximum ride inside the write
        # (above the range exchange, so its sampling pass is not counted)
        seen = Observation()
        (
            df.repartitionByRange(n_parts, "partition", "time")
            .sortWithinPartitions("partition", "time")
            .observe(seen, F.count(F.lit(1)).alias("n"),
                     F.max("created_time").alias("mx"))
            .write.mode("overwrite")
            .partitionBy("partition")
            .parquet(staging)
        )
        got = seen.get
        mx = got["mx"]
        return int(got["n"]), None if mx is None else pd.Timestamp(mx)

    return fs_storage.replace_dir(spark, path, ".__compact__", stage)


def expire_feature(
    spark: SparkSession,
    path: str,
    scheme: str,
    before,
) -> int:
    """Retention enforcement: drop whole partitions strictly OLDER than
    ``before`` — a directory-listing operation, never a data scan.

    The partition key is monotone in time ('yyyy-MM-dd' / 'yyyy' sort
    lexicographically), so retention = compare directory names against the
    cutoff's key and recursively delete the losers. A partition that
    CONTAINS the cutoff instant is conservatively kept (its tail rows are
    within retention; per-row deletion would require a rewrite — use
    :func:`compact_feature` semantics for that). At 100 TB this is how
    retention must work: O(#partitions) metadata calls, zero record I/O.

    Returns the number of partitions deleted.
    """
    if not fs_storage.path_exists(spark, path):
        return 0
    cutoff_key = _partition_key(scheme, pd.Timestamp(before))
    n = 0
    for d in fs_storage.list_dirs(spark, path):
        if not d.startswith("partition="):
            continue
        if d.split("=", 1)[1] < cutoff_key:
            fs_storage.delete_path(spark, posixpath.join(path, d))
            n += 1
    return n

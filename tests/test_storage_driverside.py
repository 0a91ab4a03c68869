"""Focused pins for the round-16 commit-path internals.

Round 16 moved the index sinks' control-plane writes (applied-log
entries, meta rows, watermarks, markers) off Spark jobs onto the
driver-side ``storage.write_small_parquet`` path, and overlapped the
per-batch dataset writes via ``storage.run_concurrent``.  The sink
suites exercise both transitively; these tests pin the helpers'
contracts directly:

- driver-side parquet is read-equivalent to the job-based
  ``createDataFrame().repartition(1).write`` recipe it replaced
  (schema names, Spark types, values, None handling);
- append accumulates, ``overwrite=True`` replaces;
- a torn write (crash mid-stream) leaves only a dot-prefixed temp file
  that Spark readers ignore — the dataset stays readable;
- ``run_concurrent`` waits for ALL callables before raising the FIRST
  failure (no write is abandoned mid-flight).

The Hadoop helpers keep their contracts now that they resolve no JVM class
by name, list without ``LocatedFileStatus`` and make local directories
from Python:

- ``list_files`` returns what ``listFiles(recursive=true)`` returns;
- ``read_small_file`` reads missing and deleted files as None;
- ``mkdirs`` creates missing parents and leaves existing directories be;
- the staged append that lists and renames through them commits every
  row, or nothing when its pre-commit check fails.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from qafs_spark import storage
from qafs_spark.sources import feature_dataset


SCHEMA = [("batch_id", "int64"), ("source", "string"), ("score", "double")]
ROWS = [
    (0, "web", 0.5),
    (1, None, 1.25),
    (None, "books", None),
]


def _job_write(spark, path, rows):
    """The pre-round-16 recipe these writes used."""
    df = spark.createDataFrame(
        [tuple(r) for r in rows],
        schema="batch_id long, source string, score double",
    )
    df.repartition(1).write.mode("append").parquet(path)


def test_driver_write_matches_job_write(spark, tmp_store):
    a = os.path.join(tmp_store, "driver_side")
    b = os.path.join(tmp_store, "job_side")
    storage.write_small_parquet(spark, a, ROWS, SCHEMA)
    _job_write(spark, b, ROWS)

    da, db = spark.read.parquet(a), spark.read.parquet(b)
    assert [(f.name, f.dataType) for f in da.schema.fields] == [
        (f.name, f.dataType) for f in db.schema.fields
    ]
    key = lambda r: (r[0] is None, r[0], r[1] is None, r[1])
    assert sorted(map(tuple, da.collect()), key=key) == sorted(
        map(tuple, db.collect()), key=key
    )


def test_append_accumulates_and_overwrite_replaces(spark, tmp_store):
    path = os.path.join(tmp_store, "log")
    storage.write_small_parquet(spark, path, [(1, "a", 0.0)], SCHEMA)
    storage.write_small_parquet(spark, path, [(2, "b", 1.0)], SCHEMA)
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a", 0.0), (2, "b", 1.0)]

    storage.write_small_parquet(
        spark, path, [(9, "z", 9.0)], SCHEMA, overwrite=True
    )
    got = [tuple(r) for r in spark.read.parquet(path).collect()]
    assert got == [(9, "z", 9.0)]


def test_torn_write_is_invisible_to_readers(spark, tmp_store):
    path = os.path.join(tmp_store, "log")
    storage.write_small_parquet(spark, path, [(1, "a", 0.0)], SCHEMA)
    # Simulate a writer that died mid-stream: its dot-prefixed temp file
    # holds garbage bytes and was never renamed into place.
    with open(os.path.join(path, ".part-dead.parquet.inprogress"), "wb") as f:
        f.write(b"\x00not a parquet file")
    got = [tuple(r) for r in spark.read.parquet(path).collect()]
    assert got == [(1, "a", 0.0)]


def test_run_concurrent_finishes_all_then_raises_first():
    ran = []

    def ok(tag):
        def f():
            ran.append(tag)

        return f

    def boom():
        ran.append("boom")
        raise RuntimeError("first failure")

    with pytest.raises(RuntimeError, match="first failure"):
        storage.run_concurrent([ok("a"), boom, ok("b")])
    # Every callable completed before the raise — nothing abandoned.
    assert sorted(ran) == ["a", "b", "boom"]


def test_run_concurrent_single_callable_runs_inline():
    ran = []
    storage.run_concurrent([lambda: ran.append("only")])
    assert ran == ["only"]


def _nested_tree(spark, root):
    """A two-level partitioned parquet dataset: partition dirs, part files
    with their ``.crc`` siblings, and ``_SUCCESS``."""
    spark.range(40).select(
        "id",
        (F.col("id") % 3).cast("string").alias("a"),
        (F.col("id") % 2).cast("string").alias("b"),
    ).repartition(2).write.partitionBy("a", "b").parquet(root)


def test_list_files_matches_recursive_listfiles(spark, tmp_store):
    root = os.path.join(tmp_store, "tree")
    _nested_tree(spark, root)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it, expected = fs.listFiles(jpath, True), []
    while it.hasNext():
        expected.append(it.next().getPath().toString())

    got = storage.list_files(spark, root)
    assert got == sorted(expected)
    assert all(p.startswith("file:/") for p in got)
    assert any(p.endswith("/_SUCCESS") for p in got)
    assert any("/a=2/b=1/" in p and p.endswith(".parquet") for p in got)
    # checksum siblings are on disk, but not listed
    on_disk = [f for _, _, fs_ in os.walk(root) for f in fs_]
    assert any(f.endswith(".crc") for f in on_disk)
    assert not any(p.endswith(".crc") for p in got)
    assert storage.list_files(spark, os.path.join(tmp_store, "nope")) == []


def test_read_small_file_missing_deleted_and_present(spark, tmp_store):
    path = os.path.join(tmp_store, "small", "LEASE")
    assert storage.read_small_file(spark, path) is None
    assert storage.create_file_atomic(spark, path, "held by a")
    assert storage.read_small_file(spark, path) == "held by a"
    assert storage.delete_path(spark, path)
    assert storage.read_small_file(spark, path) is None


def test_mkdirs_creates_parents_and_keeps_existing(spark, tmp_store):
    leaf = os.path.join(tmp_store, "a", "b", "partition=2021-01-01")
    storage.mkdirs(spark, leaf)
    assert os.path.isdir(leaf)
    with open(os.path.join(leaf, "part-0.parquet"), "w") as f:
        f.write("x")
    storage.mkdirs(spark, "file:" + leaf)
    assert os.listdir(leaf) == ["part-0.parquet"]


def _feature_rows(spark, days):
    times = pd.date_range("2021-01-01", periods=days * 4, freq="6h")
    return spark.createDataFrame(
        pd.DataFrame({
            "time": times,
            "created_time": pd.Timestamp("2021-02-01"),
            "value": [float(i) for i in range(len(times))],
        })
    )


def _dataset_state(spark, path):
    rows = sorted(
        tuple(r) for r in spark.read.parquet(path).select("time", "value")
        .collect()
    )
    return rows, storage.list_files(spark, path)


def test_staged_append_commits_all_partitions(spark, tmp_store):
    path = os.path.join(tmp_store, "feature", "ns", "x")
    feature_dataset.write_feature(_feature_rows(spark, 3), path)
    checked = []
    feature_dataset.write_feature(
        _feature_rows(spark, 5).withColumn("value", F.col("value") + 100.0),
        path,
        pre_commit_check=lambda: checked.append(True),
    )
    assert checked == [True]
    rows, _ = _dataset_state(spark, path)
    assert sorted(v for _, v in rows) == (
        [float(i) for i in range(12)] + [100.0 + i for i in range(20)]
    )
    assert storage.list_dirs(spark, path) == [
        f"partition=2021-01-0{d}" for d in range(1, 6)
    ]
    parent = os.path.dirname(path)
    assert not [n for n in os.listdir(parent) if feature_dataset._STAGE_MARK in n]


def test_staged_append_failed_check_leaves_dataset_unchanged(spark, tmp_store):
    path = os.path.join(tmp_store, "feature", "ns", "x")
    feature_dataset.write_feature(_feature_rows(spark, 2), path)
    before = _dataset_state(spark, path)

    def reject():
        raise ValueError("check failed")

    with pytest.raises(ValueError, match="check failed"):
        feature_dataset.write_feature(
            _feature_rows(spark, 4), path, pre_commit_check=reject
        )
    assert _dataset_state(spark, path) == before
    parent = os.path.dirname(path)
    assert not [n for n in os.listdir(parent) if feature_dataset._STAGE_MARK in n]

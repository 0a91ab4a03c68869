"""Second REAL filesystem scheme, end-to-end: the full stack runs over
``webhdfs://`` through ``org.apache.hadoop.hdfs.web.WebHdfsFileSystem``
against the in-process HttpFS-dialect server
(:mod:`qafs_spark.testing.webhdfs`) — actual HTTP on the wire, JSON
FileStatus parsing, two-step chunked CREATE, ranged OPEN reads — the
same client codepath a remote HDFS/HttpFS/Knox endpoint serves. This
closes the scheme matrix beyond ``file:`` as far as a cluster-less,
credential-less container can (VERDICT r7 §Next 8)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def webhdfs(tmp_path):
    from qafs_spark.testing.webhdfs import WebHdfsServer

    with WebHdfsServer(str(tmp_path / "whroot")) as srv:
        yield srv


def test_webhdfs_storage_helpers_and_parquet(spark, webhdfs):
    """The Hadoop-FS metadata helpers and a committer-driven parquet
    write/read (temporary-dir renames, ranged footer reads, partition
    pruning) all round-trip over webhdfs://."""
    from qafs_spark import storage as fs_storage

    base = webhdfs.url
    fs_storage.mkdirs(spark, base + "/a/b")
    assert fs_storage.path_exists(spark, base + "/a/b")
    fs_storage.mkdirs(spark, base + "/a/c")
    assert fs_storage.list_dirs(spark, base + "/a") == ["b", "c"]
    assert fs_storage.rename_path(spark, base + "/a/c", base + "/a/d")
    assert fs_storage.list_dirs(spark, base + "/a") == ["b", "d"]
    assert fs_storage.delete_path(spark, base + "/a/d")
    assert not fs_storage.path_exists(spark, base + "/a/d")

    df = spark.range(500).select(
        F.col("id"), (F.col("id") * 2).alias("dbl"),
        (F.col("id") % 4).cast("string").alias("p"),
    )
    df.write.partitionBy("p").mode("overwrite").parquet(base + "/t")
    back = spark.read.parquet(base + "/t")
    assert back.count() == 500
    assert back.filter(F.col("p") == "1").count() == 125
    assert back.agg(F.sum("dbl")).first()[0] == 499 * 500


def test_webhdfs_feature_store_roundtrip(spark, webhdfs, tmp_path):
    """A FeatureStore rooted on webhdfs:// (registry on a local sqlite,
    the remote-storage deployment shape): save -> LWW load -> resample,
    then the maintenance ops (compact preserves rows and collapses
    files; expire drops partitions) against the same remote root."""
    from qafs_spark import Column, FeatureStore
    from qafs_spark.sources.feature_dataset import (
        compact_feature,
        expire_feature,
    )

    fs = FeatureStore(
        storage=webhdfs.url + "/store",
        db_connection=str(tmp_path / "fs.db"),
        spark=spark,
    )
    fs.create_namespace("w")
    fs.create_feature("w/f", check=Column(float))
    dts = pd.date_range("2021-01-01", periods=6, freq="1D")
    for v in (1.0, 2.0):  # two saves: LWW must pick the second
        fs.save_df(
            pd.DataFrame({"time": dts, "w/f": [v * i for i in range(6)]})
        )
    out = {r["time"]: r["w/f"] for r in fs.load_features("w/f").collect()}
    assert len(out) == 6 and out[pd.Timestamp("2021-01-03")] == 4.0
    grid = fs.load_features("w/f", freq="12h", from_date="2021-01-01",
                            to_date="2021-01-03").collect()
    assert len(grid) == 5

    path = fs._path("w", "f")
    raw = spark.read.parquet(path)
    before_rows = raw.count()
    assert raw.select(F.input_file_name()).distinct().count() > 6
    assert compact_feature(spark, path, scheme="date")[0] == before_rows
    after = spark.read.parquet(path)
    assert after.count() == before_rows
    assert after.select(F.input_file_name()).distinct().count() == 6
    assert expire_feature(spark, path, "date", before="2021-01-03") == 2
    out2 = {r["time"]: r["w/f"] for r in fs.load_features("w/f").collect()}
    assert sorted(out2) == list(dts[2:]) and out2[dts[2]] == 4.0


def test_webhdfs_banded_index_parity(spark, webhdfs, tmp_path):
    """The persisted band-partitioned MinHash index runs UNCHANGED on a
    webhdfs:// root — partitioned batch commits, _SUCCESS applied
    markers, pruned probes, merge-on-read deletes — and its pair set is
    bit-equal to the same index built on local disk."""
    import random

    from qafs_spark.pipeline.banded_index import BandedMinHashIndex

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(50)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(20))) for i in range(30)
    ]
    rows += [(100, rows[3][1]), (101, rows[3][1])]  # planted clones
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    def build(root):
        idx = BandedMinHashIndex(
            spark, root, n=3, num_hashes=16, num_bands=8, num_partitions=8
        )
        assert idx.apply_batch(old, 0, threshold=0.3)
        pairs, _ = idx.dedup_batch(new, threshold=0.3)
        out = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in pairs.collect()
        }
        idx.unpersist_intermediates()
        return out

    remote = build(webhdfs.url + "/ix")
    local = build(str(tmp_path / "ix"))
    assert remote == local and remote


def test_webhdfs_vector_and_inverted_index_parity(spark, webhdfs, tmp_path):
    """The other two persisted indexes also run UNCHANGED over
    webhdfs://: the cell vector index's ANN results and the inverted
    index's BM25 rankings are bit-equal to local-disk builds — the whole
    trio's commit/probe protocols are scheme-agnostic."""
    import random

    from qafs_spark.pipeline.text_index import InvertedIndex
    from qafs_spark.pipeline.vector_index import CellVectorIndex

    rng = random.Random(67)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(4)]) for i in range(25)],
        ["vec_id", "embedding"],
    )
    queries = spark.createDataFrame(
        [(900, [rng.gauss(0, 1) for _ in range(4)])], ["vec_id", "embedding"]
    )

    def build_vx(root):
        vx = CellVectorIndex(spark, root, nlist=2)
        assert vx.apply_batch(emb, 0, threshold=0.95)
        return {
            (r["query_id"], r["neighbor_id"], round(r["cosine"], 9))
            for r in vx.search(queries, k=5, nprobe=2).collect()
        }

    assert build_vx(webhdfs.url + "/vx") == build_vx(str(tmp_path / "vx"))

    vocab = [f"w{i}" for i in range(25)] + ["spark", "join"]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(10))) for i in range(30)],
        ["doc_id", "text"],
    )

    def build_ix(root):
        ix = InvertedIndex(spark, root, num_partitions=8)
        assert ix.apply_batch(docs, 0)
        return [tuple(r) for r in ix.search(["spark", "join"], k=10).collect()]

    remote = build_ix(webhdfs.url + "/ix")
    assert remote == build_ix(str(tmp_path / "ix")) and remote

"""The two ``get_spark`` defaults that keep repeated operations cheap: a
generated-class cache large enough that a repeated operation reuses its
compiled classes, and no ``ConvertToLocalRelation`` fold of per-row work
over a pandas-built frame into the driver-side optimizer."""

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from qafs_spark.checks import Column


def _docs(spark, n=60):
    rng = np.random.default_rng(3)
    words = ["spark", "join", "shuffle", "index", "batch", "query", "plan",
             "stage", "task", "cache"]
    text = [" ".join(rng.choice(words, size=12)) for _ in range(n)]
    return spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(n), "text": text}))


def _vecs(spark, n=40, dim=8):
    rng = np.random.default_rng(4)
    return spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(n),
        "embedding": list(rng.normal(size=(n, dim)).astype(np.float32)),
    }))


def _index_cycle(spark, root):
    """One banded + text + vector micro-batch and one BM25 and one vector
    search, on fresh index roots under ``root``."""
    from qafs_spark.pipeline.banded_index import BandedMinHashIndex
    from qafs_spark.pipeline.text_index import InvertedIndex
    from qafs_spark.pipeline.vector_index import CellVectorIndex

    docs, vecs = _docs(spark), _vecs(spark)
    banded = BandedMinHashIndex(spark, f"{root}/banded", n=3, num_hashes=32,
                                num_bands=16, num_partitions=4)
    txt = InvertedIndex(spark, f"{root}/text", num_partitions=4)
    vec = CellVectorIndex(spark, f"{root}/vector", nlist=4)
    banded.apply_batch(docs, 0, text_col="text", id_col="doc_id",
                       threshold=0.5, max_band_size=None)
    txt.apply_batch(docs, 0, text_col="text", id_col="doc_id")
    vec.apply_batch(vecs, 0)
    txt.search(["spark", "join"], k=5).toPandas()
    # a filter, not limit(3): each new limit plan names its counter
    # _limit_counter_N, so its generated source differs on every cycle
    vec.search(vecs.filter(F.col("vec_id") < 3), k=5, nprobe=4).toPandas()
    vec.unpersist_intermediates()


def test_repeated_index_cycle_reuses_compiled_classes(spark, tmp_path):
    """The repeat of an index cycle on fresh roots reuses the generated
    classes of the first run. With Spark's 100-entry default cache the
    cycle's ~185 classes evict one another and every repeat compiles
    about 180 again. With the default of ``get_spark``, 12 repeats after
    a first cycle (two processes, local[4]) compiled 0 classes in all but
    two: the banded batch compiled 5 on one and the BM25 search 4 on
    another. The bound of 10 holds both at once plus one, and is an
    eighteenth of what an evicting cache recompiles."""
    compiled = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    _index_cycle(spark, tmp_path / "first")
    before = compiled.getCount()
    _index_cycle(spark, tmp_path / "again")
    assert compiled.getCount() - before <= 10


def _relation_outputs(plan):
    """Output column names of every ``LocalRelation`` leaf of ``plan``."""
    if plan.getClass().getSimpleName() == "LocalRelation":
        out = plan.output()
        return [[out.apply(i).name() for i in range(out.size())]]
    kids = plan.children()
    return [cols for i in range(kids.size())
            for cols in _relation_outputs(kids.apply(i))]


def _assert_not_folded(df, computed):
    """``df``'s optimized plan still reads a pandas-built relation that
    holds none of the ``computed`` columns: the projection that computes
    them runs above the relation, on the executors."""
    leaves = _relation_outputs(df._jdf.queryExecution().optimizedPlan())
    assert leaves, "expected a LocalRelation leaf"
    for cols in leaves:
        assert not set(computed) & set(cols), cols


def test_minhash_index_over_pandas_not_folded(spark):
    from qafs_spark.pipeline.incremental import minhash_index

    _assert_not_folded(minhash_index(_docs(spark), "text", "doc_id"),
                       ["sig", "sh"])


def test_pandas_save_projection_not_folded(spark, fs, monkeypatch):
    from qafs_spark.sources import feature_dataset

    staged = []
    real = feature_dataset._staged_append

    def capture(out, path, verdict=None):
        staged.append(out)
        return real(out, path, verdict)

    monkeypatch.setattr(feature_dataset, "_staged_append", capture)
    fs.create_namespace("fold")
    fs.create_feature("fold/x", check=Column(float))
    dts = pd.date_range("2021-01-01", periods=5)
    fs.save_df(pd.DataFrame({"time": dts, "fold/x": np.arange(5.0)}))
    assert len(staged) == 1
    _assert_not_folded(staged[0], ["partition", "created_time"])
    assert len(fs.load_dataframe("fold/x")) == 5
    assert os.path.isdir(fs._path("fold", "x"))


def test_call_site_capture_off_by_default(spark, monkeypatch):
    """``get_spark`` turns off PySpark's per-call Python call-site capture
    (each DataFrame and Column call otherwise makes four extra py4j round
    trips), and ``extra_conf`` turns it back on."""
    from pyspark.sql import SparkSession

    from qafs_spark.session import get_spark

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    built = []

    def capture(builder):
        built.append(dict(builder._options))
        return spark  # the running session; the conf is static

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    get_spark()
    get_spark(extra_conf={key: "true"})
    assert [b[key] for b in built] == ["false", "true"]

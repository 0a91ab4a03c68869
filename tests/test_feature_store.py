"""End-to-end FeatureStore semantics, ported from the reference suite
(reference: tests/test_feature_store.py) with pandas golden oracles."""

import numpy as np
import pandas as pd
import pytest

from qafs_spark import Check, Column, FeatureStore
from tests.conftest import random_string


def compare_df(result: pd.DataFrame, expected: pd.DataFrame):
    result = result.sort_index()
    expected = expected.sort_index()
    assert list(result.columns) == list(expected.columns)
    assert len(result) == len(expected), f"{len(result)} != {len(expected)}"
    for col in expected.columns:
        r, e = result[col], expected[col]
        if pd.api.types.is_float_dtype(e):
            assert np.allclose(
                r.astype(float), e.astype(float), equal_nan=True
            ), col
        else:
            assert r.astype(object).where(pd.notna(r), None).tolist() == \
                e.astype(object).where(pd.notna(e), None).tolist(), col
    assert list(result.index) == list(expected.index)


def test_namespaces(fs):
    ns1, ns2 = random_string(5), random_string(5)
    fs.create_namespace(ns1, description="ns1")
    with pytest.raises(Exception):
        fs.create_namespace(ns1, description="ns1")
    fs.create_namespace(ns2, description="ns2")

    namespaces = fs.list_namespaces()
    assert ns1 in namespaces.name.tolist()
    assert ns2 in namespaces.name.tolist()

    fs.update_namespace(ns1, description="ns1-modified")
    namespaces = fs.list_namespaces()
    assert "ns1" not in namespaces.description.tolist()
    assert "ns1-modified" in namespaces.description.tolist()
    assert namespaces.query("name == @ns1").version.iloc[0] == 2

    with pytest.raises(Exception):
        fs.update_namespace("does-not-exist", description="x")

    fs.update_namespace(ns1, meta={"key1": "value1"})
    fs.update_namespace(ns1, meta={"key2": "value2"})
    namespaces = fs.list_namespaces(name=ns1)
    assert len(namespaces) == 1
    assert {"key1", "key2"} <= set(namespaces.meta.iloc[0].keys())
    fs.update_namespace(ns1, meta={"key2": None})
    namespaces = fs.list_namespaces(name=ns1)
    assert "key2" not in namespaces.meta.iloc[0]

    fs.create_namespace(f"test_{ns1}", description=f"test {ns1}")
    namespaces = fs.list_namespaces(regex="test")
    assert namespaces.name.iloc[0] == f"test_{ns1}"

    fs.create_feature(f"{ns1}/test1", check=Column(int))
    with pytest.raises(Exception):
        fs.delete_namespace(ns1)
    fs.delete_feature(f"{ns1}/test1")
    fs.delete_namespace(ns1)
    fs.delete_namespace(ns2)
    namespaces = fs.list_namespaces()
    assert ns1 not in namespaces.name.tolist() if not namespaces.empty else True


def test_features(fs):
    fs.create_namespace("test")
    fs.create_namespace("test2")
    fs.create_feature("feature1", namespace="test", description="feature1", check=Column(int))
    fs.create_feature("feature2", namespace="test", description="feature2", check=Column(int))
    fs.create_feature("feature1", namespace="test2", description="feature1", check=Column(int))

    with pytest.raises(Exception):
        fs.create_feature("test/feature1", check=Column(int))

    features = fs.list_features(namespace="test")
    assert {"feature1", "feature2"} <= set(features.name.tolist())
    features = fs.list_features(namespace="test2")
    assert "feature1" in features.name.tolist()
    assert "feature2" not in features.name.tolist()
    features = fs.list_features(name="feature2")
    assert "test" in features.namespace.tolist()
    assert "test2" not in features.namespace.tolist()
    features = fs.list_features(regex="feature.")
    assert len(features) == 3

    fs.delete_feature("feature1", namespace="test")
    fs.delete_feature("feature2", namespace="test")
    with pytest.raises(Exception):
        fs.delete_feature("feature2", namespace="test")
    fs.delete_feature("feature1", namespace="test2")
    assert fs.list_features(namespace="test2").empty
    assert fs.list_features(namespace="test").empty


def test_dataframes(fs):
    fs.create_namespace("test")
    rng = np.random.default_rng(42)

    dts = pd.date_range("2021-01-01", "2021-01-10")
    df1 = pd.DataFrame({"time": dts, "test/df1": rng.standard_normal(len(dts))}).set_index("time")
    dts2 = pd.date_range("2021-01-01", "2021-02-01", freq="60min")
    df2 = pd.DataFrame({"time": dts2, "df2": [{"x": float(rng.standard_normal())} for _ in dts2]})
    df3 = pd.DataFrame(
        {
            "time": dts2,
            "test/df3": rng.standard_normal(len(dts2)),
            "test/df4": [random_string(5) for _ in dts2],
        }
    )
    df5 = pd.DataFrame({"time": dts2, "test/df5": rng.standard_normal(len(dts2))})

    fs.create_feature("test/df1", description="df1", check=Column(float))
    fs.create_feature("test/df2", description="df2", check=Column(object), serialized=True)
    fs.create_feature("test/df3", description="df3", check=Column(float))
    fs.create_feature("test/df4", description="df4", partition="year", check=Column(object))

    with pytest.raises(Exception):
        fs.save_dataframe(df1.rename(columns={"test/df1": "test/df5"}), "test/df5")
    with pytest.raises(Exception):
        fs.save_dataframe(df5)

    fs.save_dataframe(df1, "test/df1")
    fs.save_dataframe(df2, "df2", namespace="test")
    fs.save_dataframe(df3)
    fs.save_dataframe(df1, "test/df1")  # re-write: last write wins, same values

    compare_df(fs.load_dataframe("test/df1"), df1)
    compare_df(
        fs.load_dataframe("test/df2"),
        df2.set_index("time").rename(columns={"df2": "test/df2"}),
    )
    compare_df(fs.load_dataframe(["test/df3", "test/df4"]), df3.set_index("time"))


def test_resampling(fs):
    fs.create_namespace("test")
    rng = np.random.default_rng(7)

    dts = pd.date_range("2021-01-01", "2021-01-10")
    df1 = pd.DataFrame({"time": dts, "test/resample1": rng.standard_normal(len(dts))}).set_index("time")
    dts2 = pd.date_range("2021-01-01", "2021-02-01", freq="60min")
    df2 = pd.DataFrame({"time": dts2, "test/resample2": rng.standard_normal(len(dts2))}).set_index("time")

    fs.create_feature("test/resample1", check=Column(float))
    fs.create_feature("test/resample2", check=Column(float))
    fs.save_dataframe(df1)
    fs.save_dataframe(df2)

    # plain outer-align + ffill (ref tests:345-347)
    result = fs.load_dataframe(["test/resample1", "test/resample2"])
    compare = pd.concat([df1, df2], join="outer", axis=1).ffill()
    compare_df(result, compare)

    # resample grids (ref tests:348-353)
    for freq in ["2d", "10min"]:
        result = fs.load_dataframe(["test/resample1", "test/resample2"], freq=freq)
        compare = pd.concat([df1, df2], join="outer", axis=1).resample(freq).ffill().ffill()
        compare_df(result, compare)

    # with bounds (ref tests:354-362): values carry in from before from_date
    result = fs.load_dataframe(
        ["test/resample1", "test/resample2"],
        freq="10min", from_date="2021-01-10", to_date="2021-01-12",
    )
    compare = pd.concat([df1, df2], join="outer", axis=1).resample("10min").ffill().ffill()
    compare = compare[
        (compare.index >= pd.Timestamp("2021-01-10"))
        & (compare.index <= pd.Timestamp("2021-01-12"))
    ]
    compare_df(result, compare)

    # DataFrame feature spec (ref tests:363-370)
    result = fs.load_dataframe(
        fs.list_features(regex=r"resample."),
        freq="10min", from_date="2021-01-10", to_date="2021-01-12",
    )
    compare_df(result[compare.columns.tolist()], compare)

    # anchored monthly grid through the FULL store path (save -> LWW ->
    # align -> anchored resample): "M" = month ends, pandas parity
    result = fs.load_dataframe(
        ["test/resample1", "test/resample2"],
        freq="M", from_date="2021-01-01", to_date="2021-02-01",
    )
    compare = (
        pd.concat([df1, df2], join="outer", axis=1)
        .resample("ME").ffill().ffill()
    )
    compare = compare[
        (compare.index >= pd.Timestamp("2021-01-01"))
        & (compare.index <= pd.Timestamp("2021-02-01"))
    ]
    assert len(compare) == 1  # Jan 31 only
    compare_df(result, compare)

    # single-feature range filter (ref tests:371-377)
    result = fs.load_dataframe("test/resample1", from_date="2021-01-10", to_date="2021-01-12")
    compare = df1[(df1.index >= pd.Timestamp("2021-01-10")) & (df1.index <= pd.Timestamp("2021-01-12"))]
    compare_df(result, compare)

    # non-contiguous resampling with carry-in (ref tests:379-392)
    dts3 = pd.date_range("2021-01-01", "2021-01-05")
    df3 = pd.DataFrame({"time": dts3, "test/resample3": rng.standard_normal(len(dts3))}).set_index("time")
    dts4 = pd.date_range("2021-01-10", "2021-02-15")
    df4 = pd.DataFrame({"time": dts4, "test/resample4": rng.standard_normal(len(dts4))}).set_index("time")
    fs.create_feature("test/resample3", check=Column(float))
    fs.create_feature("test/resample4", check=Column(float))
    fs.save_dataframe(df3)
    fs.save_dataframe(df4)

    compare = pd.concat([df3, df4], join="outer", axis=1).resample("1d").ffill().ffill()
    compare = compare[compare.index >= pd.Timestamp("2021-01-14")]
    result = fs.load_dataframe(["test/resample3", "test/resample4"], from_date="2021-01-14", freq="1d")
    compare_df(result, compare)


def test_serialized_features(fs):
    fs.create_namespace("test")
    fs.create_feature("test/non-serialized", check=Column(int))
    fs.create_feature("test/serialized", serialized=True, check=Column(object))

    dts = pd.date_range("2020-01-01", "2021-01-01")
    df = pd.DataFrame(
        {
            "time": dts,
            "test/serialized": [idx if idx < 150 else {"x": idx} for idx, _ in enumerate(dts)],
        }
    ).set_index("time")

    with pytest.raises(Exception):
        fs.update_feature("test/non-serialized", serialized=True)
    with pytest.raises(Exception):
        fs.save_dataframe(
            df.rename(columns={"test/serialized": "test/non-serialized"}),
            "test/non-serialized",
        )
    fs.save_dataframe(df, "test/serialized")
    result = fs.load_dataframe("test/serialized")
    compare_df(result, df)


def test_empty_features(fs):
    fs.create_namespace("test")
    dts = pd.date_range("2021-01-01", "2021-01-10")
    df1 = pd.DataFrame({"time": dts, "test/empty1": np.random.default_rng(0).standard_normal(len(dts))}).set_index("time")
    fs.create_feature("test/empty1", check=Column(float))

    result = fs.load_dataframe(["test/empty1"])
    assert result.empty

    result = fs.load_dataframe(
        ["test/empty1"], from_date="2021-01-01", to_date="2021-01-10", freq="1d"
    )
    assert len(result) == len(dts)
    assert result["test/empty1"].isna().all()

    fs.save_dataframe(df1)
    result = fs.load_dataframe(["test/empty1"], from_date="2020-01-01", to_date="2020-03-01")
    assert result.empty


def test_time_travel(fs):
    fs.create_namespace("test")
    rng = np.random.default_rng(11)
    dts = pd.date_range("2021-01-01", "2021-01-10")

    def frame(delta):
        return pd.DataFrame(
            {
                "time": dts,
                "test/timetravel1": rng.integers(0, 100, size=len(dts)),
                "created_time": dts - pd.Timedelta(delta),
            }
        ).set_index("time")

    df1, df2, df3 = frame("10min"), frame("30min"), frame("60min")
    fs.create_feature("test/timetravel1", check=Column(int))
    # saved out of created-time order on purpose: LWW must pick by created_time
    fs.save_dataframe(df2)
    fs.save_dataframe(df1)
    fs.save_dataframe(df3)

    compare_df(fs.load_dataframe("test/timetravel1"), df1.drop(columns="created_time"))
    compare_df(
        fs.load_dataframe("test/timetravel1", time_travel="-15min"),
        df2.drop(columns="created_time"),
    )
    compare_df(
        fs.load_dataframe("test/timetravel1", time_travel="-60min"),
        df3.drop(columns="created_time"),
    )
    assert fs.load_dataframe("test/timetravel1", time_travel="-120min").empty


def test_transforms(fs):
    fs.create_namespace("test")
    rng = np.random.default_rng(5)
    dts = pd.date_range("2021-01-01", "2021-01-10")
    df1 = pd.DataFrame(
        {"time": dts, "test/raw-feature": rng.integers(0, 100, size=len(dts))}
    ).set_index("time")

    fs.create_feature("test/raw-feature", check=Column(int))
    fs.save_dataframe(df1)

    @fs.transform("test/squared-feature", from_features=["test/raw-feature"], check=Column(int))
    def square(df):
        return df ** 2

    @fs.transform(
        "test/combined-feature",
        from_features=["test/raw-feature", "test/squared-feature"],
        check=Column(int),
    )
    def add(df):
        return df["test/raw-feature"] + df["test/squared-feature"]

    result = fs.load_dataframe(
        ["test/raw-feature", "test/squared-feature", "test/combined-feature"]
    )
    assert (result["test/squared-feature"] == result["test/raw-feature"] ** 2).all()
    assert (
        result["test/combined-feature"]
        == result["test/raw-feature"] ** 2 + result["test/raw-feature"]
    ).all()

    # recursion must raise (ref tests:572-587)
    fs.create_feature("test/recursive-feature", check=Column(float))

    @fs.transform("test/recursive-feature-2", from_features=["test/recursive-feature"], check=Column(float))
    def passthrough(df):
        return df

    @fs.transform("test/recursive-feature", from_features=["test/recursive-feature-2"], check=Column(float))
    def passthrough2(df):
        return df

    with pytest.raises(Exception):
        fs.load_dataframe("test/recursive-feature")
    with pytest.raises(Exception):
        fs.load_dataframe("test/recursive-feature-2")


def test_clone_features(fs, tmp_store):
    fs.create_namespace("test")
    rng = np.random.default_rng(3)
    dts = pd.date_range("2021-01-01", "2021-01-10")
    df1 = pd.DataFrame(
        {"time": dts, "test/old-feature": rng.integers(0, 100, size=len(dts))}
    ).set_index("time")
    fs.create_feature(
        "test/old-feature", description="Will be cloned", serialized=True, check=Column(object)
    )
    fs.save_dataframe(df1)
    fs.clone_feature("test/cloned-feature", from_name="test/old-feature")
    feature = fs.list_features(name="test/cloned-feature").iloc[0]
    assert feature.description == "Will be cloned"
    assert bool(feature.serialized) is True
    result = fs.load_dataframe("test/cloned-feature")
    compare_df(result, df1.rename(columns={"test/old-feature": "test/cloned-feature"}))


def test_data_deletion(fs, tmp_store):
    import os

    fs.create_namespace("test")
    dts = pd.date_range("2021-01-01", "2021-01-10")
    df1 = pd.DataFrame(
        {"time": dts, "feature-to-delete": np.random.default_rng(1).integers(0, 100, len(dts))}
    ).set_index("time")
    fs.create_feature("test/feature-to-delete", check=Column(int))
    fs.save_dataframe(df1, "test/feature-to-delete")
    data_dir = os.path.join(tmp_store, "feature", "test", "feature-to-delete")
    assert os.path.isdir(data_dir)
    fs.delete_feature("test/feature-to-delete", delete_data=True)
    assert not os.path.isdir(data_dir)

    fs.create_feature("test/feature-to-delete", check=Column(int))
    fs.save_dataframe(df1, "test/feature-to-delete")
    assert os.path.isdir(data_dir)
    fs.delete_feature("test/feature-to-delete")
    assert os.path.isdir(data_dir)  # metadata-only delete keeps data
    fs.clean_namespace("test")
    assert not os.path.isdir(data_dir)


def test_last(fs):
    fs.create_namespace("test")
    rng = np.random.default_rng(9)
    dts = pd.date_range("2021-01-01", "2021-01-10")
    df1 = pd.DataFrame(
        {
            "time": dts,
            "test/last1": rng.integers(0, 100, size=len(dts)),
            "test/last2": rng.integers(0, 100, size=len(dts)),
        }
    ).set_index("time")
    fs.create_feature("test/last1", check=Column(int))
    fs.create_feature("test/last2", check=Column(int))
    fs.create_feature("test/last3", check=Column(int))
    fs.save_dataframe(df1)

    assert fs.last("test/last1") == {"test/last1": df1["test/last1"].values[-1]}
    assert fs.last("test/last3") == {"test/last3": None}
    result = fs.last(fs.list_features(regex=r"last."))
    assert result == {
        "test/last1": df1["test/last1"].values[-1],
        "test/last2": df1["test/last2"].values[-1],
        "test/last3": None,
    }

    # symmetric first() — head-partition probe
    assert fs.first("test/last1") == {"test/last1": df1["test/last1"].values[0]}
    assert fs.first("test/last3") == {"test/last3": None}

    # the probe must restrict the read to ONE partition even when a later
    # write within the edge partition changes the answer (LWW still applies)
    upd = pd.DataFrame(
        {"time": [dts[-1]], "test/last1": [999]}
    ).set_index("time")
    fs.save_dataframe(upd)
    assert fs.last("test/last1") == {"test/last1": 999}
    assert fs.first("test/last1") == {"test/last1": df1["test/last1"].values[0]}


@pytest.mark.parametrize(
    "raise_error,write_partitions",
    [(True, None), (True, 4), (False, None), (False, 4)],
    ids=["raise", "raise-distributed", "log", "log-distributed"],
)
def test_check_modes(spark, fs, monkeypatch, caplog, raise_error,
                     write_partitions):
    """Raise mode rejects a failing save and leaves nothing behind; log
    mode logs the violations and persists every row. In both modes, with
    or without ``write_partitions``, the counters ride inside the staged
    write: the counts are exact (the range exchange's sampling pass does
    not count a row twice), a checked save runs the jobs of the same
    unchecked write and no more, and a 0-row Spark save succeeds."""
    import logging
    import os

    from pyspark.sql import functions as F

    from qafs_spark.exceptions import SchemaError
    from qafs_spark.sources.feature_dataset import _STAGE_MARK, write_feature

    fs.write_partitions = write_partitions
    monkeypatch.setenv("QAFS_RAISE_ERROR", "true" if raise_error else "false")
    fs.create_namespace("chk")
    fs.create_feature("chk/pos", check=Column(float, checks=[Check.greater_than(0)]))
    dts = pd.date_range("2021-01-01", periods=5)
    bad = pd.DataFrame({"time": dts, "chk/pos": [1.0, -2.0, 3.0, -4.0, 5.0]})
    jvm_sc = spark.sparkContext._jsc.sc()

    def jobs(fn):
        before = jvm_sc.dagScheduler().nextJobId()
        fn()
        return jvm_sc.dagScheduler().nextJobId() - before

    plain = spark.createDataFrame(
        bad.rename(columns={"chk/pos": "value"})
        .assign(created_time=pd.Timestamp("2021-02-01"))
    )
    unchecked = jobs(lambda: write_feature(
        plain, os.path.join(fs.storage, "plain"), distribute=write_partitions
    ))
    path = fs._path("chk", "pos")
    want = {"greater_than(0)": 2}

    if raise_error:
        def save():
            with pytest.raises(SchemaError) as err:
                fs.save_df(bad)
            assert err.value.failures == want

        assert jobs(save) == unchecked
        assert fs.load_dataframe("chk/pos").empty  # nothing persisted
        parent = os.path.dirname(path)
        assert not os.path.exists(path)
        assert not [d for d in os.listdir(parent) if _STAGE_MARK in d]
    else:
        with caplog.at_level(logging.ERROR, logger="qafs_spark"):
            assert jobs(lambda: fs.save_df(bad)) == unchecked
        [logged] = [r.getMessage() for r in caplog.records]
        assert logged.endswith(f": {want}")
        out = fs.load_dataframe("chk/pos")
        assert len(out) == 5
        assert sorted(out["chk/pos"]) == [-4.0, -2.0, 1.0, 3.0, 5.0]

    src = spark.createDataFrame(bad)
    for empty in (src.limit(0), src.filter(F.lit(False)),
                  src.filter(F.col("chk/pos") > 100)):
        fs.save_df(empty)
    assert os.path.isdir(path)
    assert len(fs.load_dataframe("chk/pos")) == (0 if raise_error else 5)


def test_transform_returns_skips_inference_job(spark, fs):
    """A declared `returns=` dtype must make transform plan construction
    job-free: no limit(100).toPandas() sampling run before the action."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "time": pd.date_range("2021-01-01", periods=10, freq="1D"),
            "value": [float(i) for i in range(10)],
        }
    )
    fs.create_namespace("t")
    fs.create_feature("t/base")
    fs.save_df(spark.createDataFrame(pdf), name="t/base")

    @fs.transform("t/doubled", from_features=["t/base"], returns="float")
    def doubled(df):
        return df["t/base"] * 2.0

    def data_jobs(since):
        """Plan-build jobs other than parquet footer/schema metadata reads
        (those are Spark-internal listing jobs, not sampling)."""
        tracker = spark.sparkContext.statusTracker()
        names = []
        for j in tracker.getJobIdsForGroup(None):
            if j < since:
                continue
            info = tracker.getJobInfo(j)
            for s in info.stageIds:
                si = tracker.getStageInfo(s)
                if si and not si.name.startswith("parquet at"):
                    names.append(si.name)
        return names

    tracker = spark.sparkContext.statusTracker()
    mark = max(tracker.getJobIdsForGroup(None), default=-1) + 1
    out = fs.load_features("t/doubled")  # plan construction only
    assert data_jobs(mark) == [], "declared returns= still ran a sampling job"

    got = {r["time"]: r["t/doubled"] for r in out.collect()}
    assert got[pd.Timestamp("2021-01-05")] == 8.0
    assert out.schema["t/doubled"].dataType.typeName() == "double"

    # negative control: an undeclared transform DOES run the sampler
    @fs.transform("t/tripled", from_features=["t/base"])
    def tripled(df):
        return df["t/base"] * 3.0

    tracker = spark.sparkContext.statusTracker()
    mark = max(tracker.getJobIdsForGroup(None), default=-1) + 1
    fs.load_features("t/tripled")
    assert any("toPandas" in n or "collect" in n for n in data_jobs(mark))


def test_uri_scheme_storage_roundtrip(spark, tmp_store):
    """A scheme-qualified storage root (file:) flows through the whole
    save -> registry -> load chain via the Hadoop FileSystem API — the same
    code path s3a://, gs://, abfs:// take on a cluster with those
    connectors (the cloud matrix itself is unexercisable in this
    container; URI handling is the part we CAN pin)."""
    import pandas as pd
    from qafs_spark import FeatureStore

    fs = FeatureStore(storage=f"file://{tmp_store}/uri_root", spark=spark)
    fs.create_namespace("u")
    fs.create_feature("u/f")
    pdf = pd.DataFrame(
        {
            "time": pd.date_range("2021-01-01", periods=5, freq="1D"),
            "value": [float(i) for i in range(5)],
        }
    )
    fs.save_df(spark.createDataFrame(pdf), name="u/f")
    out = fs.load_features("u/f")
    got = {r["time"]: r["u/f"] for r in out.collect()}
    assert got[pd.Timestamp("2021-01-03")] == 2.0
    assert len(got) == 5
    assert set(fs.list_features(namespace="u")) >= set()  # registry reachable


def test_compact_feature(spark, fs):
    """Compaction collapses per-save small files into one sorted file per
    partition, preserving every version (time travel / LWW unchanged)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from qafs_spark.sources.feature_dataset import compact_feature

    fs.create_namespace("c")
    fs.create_feature("c/f")
    for day in ("2021-01-01", "2021-01-02"):
        for v in (1.0, 2.0):  # two saves → ≥2 files per partition
            pdf = pd.DataFrame(
                {"time": [pd.Timestamp(day)], "value": [v]}
            )
            fs.save_df(
                spark.createDataFrame(pdf).withColumnRenamed("value", "c/f"),
                name="c/f",
            )
    path = fs._path("c", "f")
    raw = spark.read.parquet(path)
    before_files = raw.select(F.input_file_name()).distinct().count()
    before_rows = raw.count()
    assert before_files >= 4  # 2 partitions × 2 saves

    n = compact_feature(spark, path, scheme="date")
    assert n == before_rows

    after = spark.read.parquet(path)
    assert after.count() == before_rows  # all versions preserved
    assert after.select(F.input_file_name()).distinct().count() == 2  # 1/partition

    # LWW read still returns the last-written value per timestamp
    out = fs.load_features("c/f")
    got = {r["time"]: r["c/f"] for r in out.collect()}
    assert got[pd.Timestamp("2021-01-01")] == 2.0
    assert got[pd.Timestamp("2021-01-02")] == 2.0


def test_compact_collapse_lww(spark, fs):
    """LWW-collapsing compaction: physical rows collapse to one per
    timestamp (the read-amplification fix), current-value loads and
    post-horizon time travel are bit-identical pre/post, and time travel
    whose as-of cutoff falls before the stamped horizon raises loudly."""
    import pandas as pd
    import pytest
    from qafs_spark.exceptions import FeatureStoreException

    fs.create_namespace("lc")
    fs.create_feature("lc/f")
    times = [pd.Timestamp("2021-06-01"), pd.Timestamp("2021-06-02")]
    for created, v in ((pd.Timestamp("2021-06-05"), 1.0),
                      (pd.Timestamp("2021-06-06"), 2.0)):
        fs.save_df(pd.DataFrame(
            {"time": times, "created_time": [created] * 2, "lc/f": [v, v]}
        ))

    def load(**kw):
        return {r["time"]: r["lc/f"] for r in fs.load_features("lc/f", **kw).collect()}

    pre_plain = load()
    # cutoff lands between the two versions for 06-01 -> superseded v=1
    pre_tt = load(from_date="2021-06-01", to_date="2021-06-02", time_travel="108h")
    assert pre_plain == {times[0]: 2.0, times[1]: 2.0}
    assert pre_tt[times[0]] == 1.0 and pre_tt[times[1]] == 2.0
    pre_post_horizon = load(
        from_date="2021-06-01", to_date="2021-06-02", time_travel="5d"
    )

    n = fs.compact("lc/f", collapse_lww=True)
    assert n == 2  # one surviving row per timestamp (was 4)
    raw = spark.read.parquet(fs._path("lc", "f"))
    assert raw.count() == 2
    # survivor keeps its true creation instant, not a rewrite timestamp
    assert {r["created_time"] for r in raw.collect()} == {pd.Timestamp("2021-06-06")}

    # registry stamped with the horizon = max created_time at collapse
    rec = fs.registry.get_feature("lc", "f")
    assert pd.Timestamp(rec["meta"]["lww_collapsed_at"]) == pd.Timestamp("2021-06-06")

    # current-value load and post-horizon time travel: identical pre/post
    assert load() == pre_plain
    assert load(
        from_date="2021-06-01", to_date="2021-06-02", time_travel="5d"
    ) == pre_post_horizon

    # pre-horizon cutoff: loud refusal, not silently-wrong data
    with pytest.raises(FeatureStoreException, match="LWW-compacted"):
        load(from_date="2021-06-01", to_date="2021-06-02", time_travel="108h")
    # unbounded from_date is unanswerable too
    with pytest.raises(FeatureStoreException, match="LWW-compacted"):
        load(time_travel="108h")

    # appends after the collapse keep full version history for new cutoffs
    fs.save_df(pd.DataFrame(
        {"time": times, "created_time": [pd.Timestamp("2021-06-07")] * 2,
         "lc/f": [3.0, 3.0]}
    ))
    assert load() == {times[0]: 3.0, times[1]: 3.0}
    got = load(from_date="2021-06-01", to_date="2021-06-02", time_travel="5d")
    assert got[times[0]] == 2.0 and got[times[1]] == 3.0

    # plain (non-collapsing) compaction never stamps nor restricts
    fs.create_feature("lc/g")
    fs.save_df(pd.DataFrame(
        {"time": times, "created_time": [pd.Timestamp("2021-06-05")] * 2,
         "lc/g": [1.0, 1.0]}
    ))
    fs.compact("lc/g")
    assert "lww_collapsed_at" not in (fs.registry.get_feature("lc", "g")["meta"] or {})
    got_g = {
        r["time"]: r["lc/g"]
        for r in fs.load_features(
            "lc/g", from_date="2021-06-01", time_travel="108h"
        ).collect()
    }
    assert got_g[times[0]] == 1.0


def test_load_features_interpolate(fs):
    """load_features(freq=..., method='interpolate') evaluates linear
    time interpolation per feature; 'ffill' stays the golden carry; bad
    method raises."""
    import numpy as np
    import pandas as pd
    import pytest

    from qafs_spark.exceptions import FeatureStoreException

    fs.create_namespace("ip")
    fs.create_feature("ip/a")
    fs.create_feature("ip/b")
    t = pd.to_datetime(["2021-01-01", "2021-01-03", "2021-01-05"])
    fs.save_df(pd.DataFrame({"time": t, "ip/a": [0.0, 4.0, 8.0]}))
    fs.save_df(pd.DataFrame({"time": t, "ip/b": [10.0, 10.0, 4.0]}))

    out = (
        fs.load_features(
            ["ip/a", "ip/b"], from_date="2021-01-01", to_date="2021-01-05",
            freq="1d", method="interpolate",
        )
        .toPandas().sort_values("time").reset_index(drop=True)
    )
    assert list(out["ip/a"]) == [0.0, 2.0, 4.0, 6.0, 8.0]
    assert list(out["ip/b"]) == [10.0, 10.0, 10.0, 7.0, 4.0]

    ff = (
        fs.load_features(
            ["ip/a"], from_date="2021-01-01", to_date="2021-01-05", freq="1d",
        )
        .toPandas().sort_values("time").reset_index(drop=True)
    )
    assert list(ff["ip/a"]) == [0.0, 0.0, 4.0, 4.0, 8.0]

    nr = (
        fs.load_features(
            ["ip/a"], from_date="2021-01-01", to_date="2021-01-05", freq="1d",
            method="nearest",
        )
        .toPandas().sort_values("time").reset_index(drop=True)
    )
    # obs at day 1/3/5: day2 ties between day1 and day3 -> earlier (0.0)
    assert list(nr["ip/a"]) == [0.0, 0.0, 4.0, 4.0, 8.0]

    with pytest.raises(FeatureStoreException):
        fs.load_features(["ip/a"], freq="1d", method="spline")


def test_expire_feature_drops_old_partitions(spark, fs):
    """Retention expiry removes whole partitions older than the cutoff via
    directory listing only; the partition containing the cutoff stays."""
    import pandas as pd
    from qafs_spark.sources.feature_dataset import expire_feature

    fs.create_namespace("r")
    fs.create_feature("r/f")
    days = ["2021-01-01", "2021-01-02", "2021-01-03", "2021-01-04"]
    for i, day in enumerate(days):
        fs.save_df(pd.DataFrame({"time": [pd.Timestamp(day)], "r/f": [float(i)]}))
    path = fs._path("r", "f")

    n = expire_feature(spark, path, "date", before="2021-01-03 06:00:00")
    assert n == 2  # 01-01, 01-02 dropped; 01-03 contains the cutoff -> kept

    out = fs.load_features("r/f").collect()
    times = sorted(r["time"] for r in out)
    assert times == [pd.Timestamp("2021-01-03"), pd.Timestamp("2021-01-04")]
    # idempotent
    assert expire_feature(spark, path, "date", before="2021-01-03 06:00:00") == 0


@pytest.mark.parametrize("scheme_prefix", ["", "file://"])
def test_maintenance_ops_scheme_matrix(spark, tmp_store, scheme_prefix):
    """compact/expire/zorder across plain and scheme-qualified (file://)
    paths — the Hadoop-FS path handling the cloud connectors (s3a://,
    gs://, abfs://) ride on. The cloud matrix itself can't run in this
    container; the URI plumbing is what we CAN pin (VERDICT r3 §Next 7)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from qafs_spark.sources.feature_dataset import (
        compact_feature,
        expire_feature,
        write_feature,
    )
    from qafs_spark.sources.zorder import write_zordered

    root = f"{scheme_prefix}{tmp_store}/maint"

    # --- compact: two appends → 1 file per partition, rows preserved
    dts = pd.date_range("2021-03-01", periods=8, freq="12h")
    for v in (1.0, 2.0):
        pdf = pd.DataFrame({"time": dts, "created_time": dts, "value": v})
        write_feature(spark.createDataFrame(pdf), f"{root}/f1", scheme="date")
    n = compact_feature(spark, f"{root}/f1", scheme="date")
    assert n == 16
    after = spark.read.parquet(f"{root}/f1")
    assert after.count() == 16
    assert after.select(F.input_file_name()).distinct().count() == 4  # 4 days

    # --- expire: partitions strictly before the cutoff are dropped
    dropped = expire_feature(spark, f"{root}/f1", scheme="date", before="2021-03-03")
    assert dropped == 2
    remaining = spark.read.parquet(f"{root}/f1")
    assert remaining.select(F.min("time")).first()[0] >= pd.Timestamp("2021-03-03")

    # --- zorder: round-trips through the same scheme-qualified path
    src = spark.range(1000).select(
        F.col("id").alias("x"), (F.col("id") * 7 % 1000).alias("y")
    )
    write_zordered(src, f"{root}/z1", cols=["x", "y"], num_files=4)
    z = spark.read.parquet(f"{root}/z1")
    assert z.count() == 1000
    assert z.filter((F.col("x") < 100) & (F.col("y") < 100)).count() == \
        src.filter((F.col("x") < 100) & (F.col("y") < 100)).count()


def test_resample_method_nonnumeric_and_empty_series(spark, fs):
    """interpolate on a non-numeric series fails at plan build with the
    offending series NAMED (not a Catalyst BINARY_OP error on an internal
    alias); nearest preserves the series' own type; a never-written feature
    rides along as all-null without breaking either method."""
    import pandas as pd

    from qafs_spark.exceptions import FeatureStoreException

    fs.create_namespace("rm")
    fs.create_feature("rm/num", check=Column(float))
    fs.create_feature("rm/label", check=Column(str))
    fs.create_feature("rm/never", check=Column(float))  # never written
    dts = pd.date_range("2021-01-01", periods=6, freq="1D")
    fs.save_df(pd.DataFrame({"time": dts, "rm/num": [float(i) for i in range(6)]}))
    fs.save_df(pd.DataFrame({"time": dts, "rm/label": list("abcdef")}))

    with pytest.raises(FeatureStoreException, match="rm/label"):
        fs.load_features(
            ["rm/num", "rm/label"], from_date="2021-01-02",
            to_date="2021-01-04", freq="12h", method="interpolate",
        )

    out = fs.load_features(
        ["rm/num", "rm/label", "rm/never"], from_date="2021-01-02",
        to_date="2021-01-04", freq="12h", method="nearest",
    )
    assert dict(out.dtypes)["rm/label"] == "string"
    rows = {r["time"]: r for r in out.collect()}
    assert len(rows) == 5
    assert rows[pd.Timestamp("2021-01-02 12:00")]["rm/label"] in ("b", "c")
    assert all(r["rm/never"] is None for r in rows.values())

    ip = fs.load_features(
        ["rm/num", "rm/never"], from_date="2021-01-02",
        to_date="2021-01-04", freq="12h", method="interpolate",
    )
    ip_rows = {r["time"]: r for r in ip.collect()}
    assert ip_rows[pd.Timestamp("2021-01-02 12:00")]["rm/num"] == 1.5
    assert all(r["rm/never"] is None for r in ip_rows.values())


def test_load_features_downsample_aggregates(spark, fs):
    """load_features(freq, method=<agg>) downsamples with pandas
    resample().agg() semantics: left-closed left-labeled bins, nulls for
    empty bins (0 for count), per-column aggregation over each feature's
    own observations."""
    import numpy as np
    import pandas as pd

    fs.create_namespace("ds")
    fs.create_feature("ds/v", check=Column(float))
    # two observations on day 1, one on day 3, none on day 2
    times = pd.to_datetime(
        ["2021-01-01 06:00", "2021-01-01 18:00", "2021-01-03 12:00"]
    )
    fs.save_df(pd.DataFrame({"time": times, "ds/v": [1.0, 3.0, 10.0]}))

    expected = (
        pd.DataFrame({"v": [1.0, 3.0, 10.0]}, index=times)
        .resample("1d")["v"]
    )
    for method, exp in (
        ("mean", expected.mean()),
        ("sum", expected.sum()),
        ("max", expected.max()),
        ("count", expected.count()),
        ("last", expected.last()),
        ("median", expected.median()),
    ):
        out = fs.load_features(
            "ds/v", from_date="2021-01-01", to_date="2021-01-03",
            freq="1d", method=method,
        ).toPandas().sort_values("time").set_index("time")["ds/v"]
        for day in ("2021-01-01", "2021-01-02", "2021-01-03"):
            e = exp.get(pd.Timestamp(day), np.nan)
            g = out.get(pd.Timestamp(day), np.nan)
            if method == "count":
                # pandas sum()/count() give 0 for empty bins too; ours: count 0
                e = 0 if pd.isna(e) else e
            if pd.isna(e):
                # pandas .sum() yields 0.0 for empty bins; we keep null —
                # document the divergence by accepting either here for sum
                assert pd.isna(g) or (method == "sum" and g == 0.0), (method, day, g)
            else:
                if method == "sum" and pd.isna(g):
                    assert e == 0.0, (method, day, e)
                else:
                    assert g == e, (method, day, g, e)

    with pytest.raises(Exception, match="Unknown resample method"):
        fs.load_features("ds/v", freq="1d", method="mode")


def test_load_features_downsample_dict_and_calendar(spark, fs):
    """Per-feature aggregate dict + calendar (monthly) frequency bins."""
    import pandas as pd

    fs.create_namespace("dc")
    fs.create_feature("dc/a", check=Column(float))
    fs.create_feature("dc/b", check=Column(float))
    dts = pd.date_range("2021-01-05", "2021-04-20", freq="3D")
    vals = [float(i) for i in range(len(dts))]
    fs.save_df(pd.DataFrame({"time": dts, "dc/a": vals}))
    fs.save_df(pd.DataFrame({"time": dts, "dc/b": vals}))

    out = (
        fs.load_features(
            ["dc/a", "dc/b"], from_date="2021-01-01", to_date="2021-04-01",
            freq="M", method={"dc/a": "mean", "dc/b": "count"},
        )
        .toPandas().sort_values("time").set_index("time")
    )
    pdf = pd.DataFrame({"v": vals}, index=dts)
    # anchored "M": the grid is month ENDS rolled forward from from_date
    # (pd.date_range parity), bins stay left-closed/left-labeled — the
    # pandas equivalent is resample("ME", closed="left", label="left")
    # clipped to the anchor points inside [from_date, to_date]
    exp = pdf.resample("ME", closed="left", label="left")["v"]
    labels = [
        t for t in exp.mean().index
        if pd.Timestamp("2021-01-31") <= t <= pd.Timestamp("2021-04-01")
    ]
    assert len(out) == 3 and list(out.index) == labels
    for ts in labels:
        assert abs(out.loc[ts, "dc/a"] - exp.mean()[ts]) < 1e-12
        assert out.loc[ts, "dc/b"] == exp.count()[ts]

    with pytest.raises(Exception, match="Unknown downsample"):
        fs.load_features(["dc/a"], freq="M", method={"dc/a": "mode"})


def test_update_feature_dtype_family_guard(spark, fs):
    """The check dtype family is part of the physical contract (values are
    canonicalized to it at write; scans pin it as an explicit schema).
    Changing it under existing data is rejected like the serialized flag;
    loosening to the untyped 'object' family, or changing before any data
    exists, stays allowed."""
    import pandas as pd

    from qafs_spark.exceptions import FeatureStoreException

    fs.create_namespace("g")
    fs.create_feature("g/f", check=Column(float))
    # no data yet → family change allowed
    fs.update_feature("g/f", check=Column(int))
    fs.update_feature("g/f", check=Column(float))

    dts = pd.date_range("2021-01-01", periods=3)
    fs.save_df(pd.DataFrame({"time": dts, "g/f": [1.0, 2.0, 3.0]}))
    with pytest.raises(FeatureStoreException, match="dtype family"):
        fs.update_feature("g/f", check=Column(int))
    # same family with new predicates is fine
    fs.update_feature("g/f", check=Column(float, Check.greater_than(0.0)))
    # loosening to object is fine (reads fall back to inference)
    fs.update_feature("g/f", check=Column(object))
    assert fs.load_dataframe("g/f").shape == (3, 1)


def test_materialize_downsampled_rollup(spark, fs):
    """fs.materialize persists a load_features view as stored features:
    daily-mean rollups land in the target namespace, are registered with
    the derived dtype family, and reload byte-identical to the direct
    load_features result."""
    import pandas as pd

    fs.create_namespace("hf")
    fs.create_feature("hf/sensor", check=Column(float))
    dts = pd.date_range("2021-01-01", periods=72, freq="1h")
    fs.save_df(pd.DataFrame({"time": dts, "hf/sensor": [float(i) for i in range(72)]}))

    targets = fs.materialize(
        "hf/sensor", "rollups", from_date="2021-01-01",
        to_date="2021-01-03", freq="1d", method="mean", suffix="_daily_mean",
    )
    assert targets == ["rollups/sensor_daily_mean"]

    direct = (
        fs.load_features("hf/sensor", from_date="2021-01-01",
                         to_date="2021-01-03", freq="1d", method="mean")
        .toPandas().sort_values("time").reset_index(drop=True)
    )
    stored = (
        fs.load_features("rollups/sensor_daily_mean")
        .toPandas().sort_values("time").reset_index(drop=True)
    )
    assert list(stored["rollups/sensor_daily_mean"]) == list(direct["hf/sensor"])
    # registered with the derived float family
    rec = fs.registry.get_feature("rollups", "sensor_daily_mean")
    assert rec is not None and "float" in (rec.check_yaml or "")
    # idempotent re-materialize (LWW overwrite, no duplicate-feature error)
    fs.materialize(
        "hf/sensor", "rollups", from_date="2021-01-01",
        to_date="2021-01-03", freq="1d", method="mean", suffix="_daily_mean",
    )
    assert fs.load_features("rollups/sensor_daily_mean").count() == 3


def test_materialize_target_name_collision(fs):
    """Sources from different namespaces sharing a base name would both
    land on the same target feature — refused up front, naming them."""
    import pandas as pd
    import pytest
    from qafs_spark.exceptions import FeatureStoreException

    for ns in ("ma", "mb"):
        fs.create_namespace(ns)
        fs.create_feature(f"{ns}/x", check=Column(float))
        fs.save_df(pd.DataFrame(
            {"time": pd.date_range("2021-01-01", periods=3), f"{ns}/x": [1.0, 2.0, 3.0]}
        ))
    with pytest.raises(FeatureStoreException, match="ma/x and mb/x"):
        fs.materialize(["ma/x", "mb/x"], "tgt", from_date="2021-01-01",
                       to_date="2021-01-03", freq="1d", method="mean")


def test_method_without_freq_raises(fs):
    """A resample/downsample method without freq has nothing to apply to —
    raise instead of silently returning raw aligned observations that could
    be mistaken for aggregated values."""
    import pandas as pd
    import pytest
    from qafs_spark.exceptions import FeatureStoreException

    fs.create_namespace("nf")
    fs.create_feature("nf/f", check=Column(float))
    fs.save_df(pd.DataFrame(
        {"time": pd.date_range("2021-01-01", periods=3), "nf/f": [1.0, 2.0, 3.0]}
    ))
    for method in ("mean", "interpolate", "nearest", {"nf/f": "max"}):
        with pytest.raises(FeatureStoreException, match="requires freq"):
            fs.load_features("nf/f", method=method)
    # default ffill without freq stays the plain aligned load
    assert fs.load_features("nf/f").count() == 3


def test_collapse_bounds_probe_threads_from_date(fs):
    """Round-6 fix: a downsample load of a collapsed feature with freq,
    time_travel, a from_date whose cutoff is at/after the horizon, and NO
    to_date must succeed — the to_ts bounds probe now threads the user's
    from_ts instead of spuriously raising the 'unbounded from_date'
    refusal (only the probe was unbounded; the query is answerable)."""
    import pandas as pd
    import pytest
    from qafs_spark.exceptions import FeatureStoreException

    fs.create_namespace("bp")
    fs.create_feature("bp/f", check=Column(float))
    times = pd.date_range("2021-06-01", periods=6)
    fs.save_df(pd.DataFrame(
        {"time": times, "created_time": [pd.Timestamp("2021-06-07")] * 6,
         "bp/f": [float(i) for i in range(6)]}
    ))
    fs.compact("bp/f", collapse_lww=True)  # horizon = 2021-06-07

    # cutoff = 06-02 + 6d = 06-08 >= horizon: answerable; no to_date ->
    # the probe infers it (and must not refuse)
    out = fs.load_features(
        "bp/f", freq="2d", method="mean", time_travel="6d",
        from_date="2021-06-02",
    ).toPandas()
    assert len(out) == 3 and out["bp/f"].notna().all()

    # same load with a pre-horizon cutoff still refuses loudly
    with pytest.raises(FeatureStoreException, match="LWW-compacted"):
        fs.load_features(
            "bp/f", freq="2d", method="mean", time_travel="1h",
            from_date="2021-06-02",
        ).toPandas()


def test_collapse_horizon_through_transform_parent(fs):
    """The horizon refusal must propagate through the transform DAG loader:
    a transform whose PARENT was LWW-collapsed refuses pre-horizon
    time-travel loads (the parent data needed for the as-of no longer
    exists) and still answers post-horizon cutoffs exactly."""
    import pandas as pd
    import pytest
    from qafs_spark.exceptions import FeatureStoreException

    fs.create_namespace("th")
    fs.create_feature("th/base", check=Column(float))
    times = [pd.Timestamp("2021-06-01"), pd.Timestamp("2021-06-02")]
    for created, v in ((pd.Timestamp("2021-06-05"), 1.0),
                      (pd.Timestamp("2021-06-06"), 2.0)):
        fs.save_df(pd.DataFrame(
            {"time": times, "created_time": [created] * 2, "th/base": [v, v]}
        ))

    @fs.transform("th/doubled", from_features=["th/base"], check=Column(float))
    def doubled(df):
        return df * 2.0

    def load_tt(tt):
        return {
            r["time"]: r["th/doubled"]
            for r in fs.load_features(
                "th/doubled", from_date="2021-06-01", to_date="2021-06-02",
                time_travel=tt,
            ).collect()
        }

    assert load_tt("108h")[times[0]] == 2.0  # superseded parent v=1 doubled
    pre_post = load_tt("5d")

    fs.compact("th/base", collapse_lww=True)

    # post-horizon: exact and identical through the DAG
    assert load_tt("5d") == pre_post
    # pre-horizon: the loud refusal must surface through the transform load
    with pytest.raises(FeatureStoreException, match="LWW-compacted"):
        load_tt("108h")
    # and through the pandas surface too
    with pytest.raises(FeatureStoreException, match="LWW-compacted"):
        fs.load_dataframe(
            "th/doubled", from_date="2021-06-01", to_date="2021-06-02",
            time_travel="108h",
        )


def test_compact_swap_reader_safe(spark, fs):
    """Round-6 swap protocol: the live dataset is replaced by two renames
    (live -> .__old__, staging -> live), so a reader can only see a missing
    path inside the rename->rename window; and a crash between the renames
    is recovered by the next compact (the aside directory is restored)."""
    import pandas as pd
    from qafs_spark import storage as fs_storage
    from qafs_spark.sources.feature_dataset import compact_feature

    fs.create_namespace("sw")
    fs.create_feature("sw/f", check=Column(float))
    times = pd.date_range("2021-06-01", periods=4)
    fs.save_df(pd.DataFrame({"time": times, "sw/f": [1.0, 2.0, 3.0, 4.0]}))
    path = fs._path("sw", "f")
    old = path.rstrip("/") + ".__old__"
    staging = path.rstrip("/") + ".__compact__"

    # --- reader simulation: probe visibility around each rename step
    real_rename = fs_storage.rename_path
    observed = []

    def spying_rename(sp, src, dst):
        observed.append(
            ("before", src.endswith(".__compact__"),
             fs_storage.path_exists(sp, path)))
        out = real_rename(sp, src, dst)
        observed.append(
            ("after", src.endswith(".__compact__"),
             fs_storage.path_exists(sp, path)))
        return out

    fs_storage.rename_path = spying_rename
    try:
        n = compact_feature(spark, path, scheme="date")
    finally:
        fs_storage.rename_path = real_rename
    assert n == 4
    # rename 1 (live -> old): live visible before, gone after;
    # rename 2 (staging -> live): gone before, visible after.
    assert observed == [
        ("before", False, True), ("after", False, False),
        ("before", True, False), ("after", True, True),
    ]
    assert not fs_storage.path_exists(spark, old)
    assert not fs_storage.path_exists(spark, staging)
    assert {r["sw/f"] for r in fs.load_features("sw/f").collect()} == {
        1.0, 2.0, 3.0, 4.0}

    # --- crash between the two renames: live path missing, data parked at
    # .__old__ — the next compact restores it before recompacting
    class Boom(RuntimeError):
        pass

    calls = {"n": 0}

    def crashing_rename(sp, src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # crash before staging -> live
            raise Boom("simulated crash between renames")
        return real_rename(sp, src, dst)

    fs_storage.rename_path = crashing_rename
    try:
        try:
            compact_feature(spark, path, scheme="date")
            assert False, "expected simulated crash"
        except Boom:
            pass
    finally:
        fs_storage.rename_path = real_rename
    assert not fs_storage.path_exists(spark, path)
    assert fs_storage.path_exists(spark, old)

    n = compact_feature(spark, path, scheme="date")
    assert n == 4
    assert not fs_storage.path_exists(spark, old)
    assert {r["sw/f"] for r in fs.load_features("sw/f").collect()} == {
        1.0, 2.0, 3.0, 4.0}


def test_anchored_offsets_match_pandas(spark):
    """Anchored offset aliases snap exactly like pandas: the grid equals
    pd.date_range (month-end "M"/"2M" — including a February start that
    must re-snap later months to the 31st — month-start "MS", weekly
    "W"/"W-MON" rolled to the anchor weekday, quarter/year ends), and
    resample_asof at an anchored freq replays the pandas resample golden
    with carry-in. Unanchored durations ("10d", "1w") are unchanged."""
    import warnings

    import numpy as np
    import pandas as pd

    from qafs_spark.operators.resample import resample_asof, time_grid

    grid_cases = [
        ("2021-01-15", "2021-06-10", "M", "ME"),
        ("2021-02-28 06:30:00", "2021-12-31", "M", "ME"),
        ("2021-01-15", "2022-06-10", "2M", "2ME"),
        ("2021-01-15", "2021-06-10", "MS", "MS"),
        ("2021-01-05", "2021-03-10", "W", "W-SUN"),
        ("2021-01-05 04:00:00", "2021-03-10", "W-MON", "W-MON"),
        ("2021-01-15", "2024-06-10", "Q", "QE"),
        ("2019-01-15", "2024-06-10", "Y", "YE"),
        ("2021-01-15", "2021-01-20", "M", "ME"),  # rolled start past to
        ("2021-01-15", "2021-06-10", "10d", "10d"),
        ("2021-01-15", "2021-06-10", "1w", "7d"),  # plain duration, no anchor
    ]
    for frm, to, freq, pdfreq in grid_cases:
        got = sorted(
            pd.Timestamp(r["time"])
            for r in time_grid(spark, frm, to, freq).collect()
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", FutureWarning)
            want = [pd.Timestamp(t) for t in pd.date_range(frm, to, freq=pdfreq)]
        assert got == want, (freq, frm, to)

    rng = np.random.RandomState(5)
    dts = pd.to_datetime(sorted(rng.choice(
        pd.date_range("2020-11-01", "2021-07-01", freq="6h").values,
        60, replace=False,
    )))
    a = pd.Series(rng.randn(60).round(3), index=dts)
    b = a.iloc[::3] * 2
    frm, to = pd.Timestamp("2021-01-10"), pd.Timestamp("2021-06-20")
    joined = pd.concat({"a": a, "b": b}, axis=1, join="outer")
    for freq, pdfreq in [("M", "ME"), ("W", "W-SUN"), ("MS", "MS")]:
        golden = joined.resample(pdfreq).ffill().ffill().loc[frm:to]
        aligned = spark.createDataFrame(joined.rename_axis("time").reset_index())
        got = (
            resample_asof(aligned, ["a", "b"], frm, to, freq)
            .toPandas().sort_values("time").set_index("time")
        )
        assert list(got.index) == list(golden.index), freq
        for c in ("a", "b"):
            assert np.allclose(
                got[c].values, golden[c].values, equal_nan=True
            ), (freq, c)


def test_anchored_bin_index_property(spark):
    """The anchored bin indexes are EXACT: for hundreds of random
    instants per freq (plus every grid instant and its ±1µs edges),
    the ceil bin equals the smallest k with t <= g_k and the floor bin
    the largest with g_k <= t, where g_k is the driver-side pandas grid
    — no months_between fraction drift anywhere."""
    import random

    import pandas as pd
    from pyspark.sql import functions as F

    from qafs_spark.offsets import parse_offset
    from qafs_spark.operators.resample import _bin_index, _floor_bin_index

    rng = random.Random(17)
    cases = [
        ("M", "2021-03-15 06:30:00"),
        ("2M", "2020-12-31"),
        ("MS", "2021-02-01"),
        ("Q", "2021-01-10"),
        ("Y", "2019-05-05"),
    ]
    for freq, anchor_str in cases:
        f = parse_offset(freq)
        g0 = f.anchor_start(pd.Timestamp(anchor_str))
        ts = []
        for _ in range(400):
            base = g0 + pd.DateOffset(months=rng.randint(-36, 36))
            ts.append(base + pd.Timedelta(seconds=rng.randint(-5_000_000, 5_000_000)))
        for k in range(-5, 6):
            gk = f.calendar_point(g0, k)
            ts += [gk, gk - pd.Timedelta(1, "us"), gk + pd.Timedelta(1, "us")]
        df = spark.createDataFrame([(t.to_pydatetime(),) for t in ts], "t timestamp")
        got = df.select(
            "t",
            _bin_index(F.col("t"), g0, f).alias("kc"),
            _floor_bin_index(F.col("t"), g0, f).alias("kf"),
        ).collect()

        def ceil_k(t):
            d = (t.year * 12 + t.month) - (g0.year * 12 + g0.month)
            k = d // f.months - 2
            while f.calendar_point(g0, k) < t:
                k += 1
            return k

        for r in got:
            t = pd.Timestamp(r["t"])
            kc = ceil_k(t)
            kf = kc if f.calendar_point(g0, kc) == t else kc - 1
            assert r["kc"] == kc, (freq, str(t), r["kc"], kc)
            assert r["kf"] == kf, (freq, str(t), r["kf"], kf)


def test_anchored_interpolate_matches_reference_math(spark):
    """resample_interpolate on an ANCHORED grid ("M"/"MS"): values at
    the rolled month-end/month-start points equal the straight-line
    time interpolation computed independently in numpy over the same
    observations (tail carries the last anchor, points before the first
    observation stay null)."""
    import numpy as np
    import pandas as pd

    from qafs_spark.operators.resample import resample_interpolate

    rng = np.random.RandomState(11)
    dts = pd.to_datetime(sorted(rng.choice(
        pd.date_range("2020-12-05", "2021-07-20", freq="17h").values,
        40, replace=False,
    )))
    vals = rng.randn(40).round(3)
    series = spark.createDataFrame(
        pd.DataFrame({"time": dts, "value": vals})
    )
    frm, to = pd.Timestamp("2021-01-10"), pd.Timestamp("2021-06-20")
    for freq, pdfreq in [("M", "ME"), ("MS", "MS")]:
        got = {
            pd.Timestamp(r["time"]): r["value"]
            for r in resample_interpolate(
                series, frm, to, freq
            ).collect()
        }
        grid = list(pd.date_range(frm, to, freq=pdfreq))
        assert sorted(got) == grid, freq
        ts = dts.astype("int64").to_numpy()
        for g in grid:
            gi = g.value
            left = np.searchsorted(ts, gi, side="right") - 1
            if left < 0:
                assert got[g] is None, (freq, g)
                continue
            if ts[left] == gi:
                want = vals[left]
            elif left == len(ts) - 1:
                want = vals[left]  # tail carry
            else:
                t0, t1 = ts[left], ts[left + 1]
                want = vals[left] + (vals[left + 1] - vals[left]) * (
                    (gi - t0) / (t1 - t0)
                )
            assert got[g] == pytest.approx(want, rel=1e-12), (freq, g)

"""The feature load's plan: one versioned pivot from scan to grid.

``load_features`` hands every series' raw ``(time, created_time, value)``
versions to one aggregation that resolves last-write-wins and aligns them
(``operators.align.versioned_pivot``), grouped by ``time`` or, for the
``ffill`` grid, by resample bin with the grid's bins in the same union.
These tests pin what that buys (few py4j round trips to build the plan,
few Spark jobs to run it, no recompiles on a repeat) and that it returns
exactly what the composition it replaced returns: ``last_write_wins`` per
series, then ``align_features`` or ``align_features(fill=False)`` +
``resample_asof``."""

import gc
import math
import random
import threading

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from qafs_spark import transforms as tfm
from qafs_spark.checks import Column
from qafs_spark.operators import align_features, last_write_wins, resample_asof
from qafs_spark.operators.dedup import value_tiebreak

_SCHEMA = {
    "float": T.DoubleType(), "int": T.LongType(), "str": T.StringType(),
}


def _versions(spark, ts, created, values, vtype):
    return spark.createDataFrame(
        [(pd.Timestamp(t).to_pydatetime(), pd.Timestamp(c).to_pydatetime(), v)
         for t, c, v in zip(ts, created, values)],
        T.StructType([T.StructField("time", T.TimestampType()),
                      T.StructField("created_time", T.TimestampType()),
                      T.StructField("value", vtype)]),
    )


def _hourly_store(spark, fs, n_features=4, days=6):
    """``n_features`` float features, hourly, three versions per hour."""
    fs.create_namespace("lp")
    ts = list(pd.date_range("2024-01-01", periods=24 * days, freq="1h"))
    for k in range(n_features):
        name = f"lp/f{k}"
        fs.create_feature(name, check=Column(float))
        for v in range(3):
            created = [t + pd.Timedelta(minutes=5 * v) for t in ts]
            vals = [float(i * (k + 1) + v) for i in range(len(ts))]
            fs.save_df(_versions(spark, ts, created, vals, T.DoubleType())
                       .withColumnRenamed("value", name))
    return [f"lp/f{k}" for k in range(n_features)]


def _next_job(spark):
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _compiles(spark):
    return int(spark.sparkContext._jvm.org.apache.spark.metrics.source
               .CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def test_hourly_assembly_builds_in_few_round_trips_and_jobs(spark, fs, monkeypatch):
    """A 4-feature hourly training-set load is built in well under the
    py4j round trips it took with per-series LWW, the align pivot,
    per-column ``withColumn`` passes and PySpark's per-call call-site
    capture (this store, local[4]: 2724 before, 804 now), and its action
    runs at most 6 Spark jobs (10 before, 5 now). A one-feature daily
    as-of load runs at most 5 (7 before, 5 now)."""
    names = _hourly_store(spark, fs)
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command
    me = threading.get_ident()

    def counting(*args, **kwargs):
        if threading.get_ident() == me:  # not other tests' leftover threads
            sent.append(1)
        return send(*args, **kwargs)

    window = {"from_date": "2024-01-03", "to_date": "2024-01-05"}
    fs.load_features(names, freq="1h", **window).toPandas()  # warm caches
    # freeing a Java object's proxy is a round trip too: count only the
    # build's own, not those of a garbage collection that lands inside it
    gc.collect()
    gc.disable()
    monkeypatch.setattr(client, "send_command", counting)
    try:
        df = fs.load_features(names, freq="1h", **window)
    finally:
        monkeypatch.undo()
        gc.enable()
    assert len(sent) <= 1300, len(sent)

    first = _next_job(spark)
    pdf = df.toPandas()
    assert _next_job(spark) - first <= 6
    assert len(pdf) == 49 and pdf[names].notna().all().all()

    first = _next_job(spark)
    pdf = fs.load_features("lp/f0", freq="1d", **window).toPandas()
    assert _next_job(spark) - first <= 5
    # the newest of the three versions at each grid time
    assert pdf.sort_values("time")["lp/f0"].tolist() == [50.0, 74.0, 98.0]


def test_repeated_identical_load_compiles_nothing(spark, fs):
    """Repeating a load with the same window reuses every generated class:
    nothing in the plan is named per plan (a ``limit``'s counter would
    be). Loads over a shifted window still compile: Spark inlines long and
    timestamp literals (window bounds, the bin anchor, the last bin) into
    the generated Java."""
    names = _hourly_store(spark, fs, n_features=2, days=3)
    window = {"from_date": "2024-01-02", "to_date": "2024-01-03"}
    for load in (
        lambda: fs.load_features(names, freq="1h", **window),
        lambda: fs.load_features(names[0], freq="1d", **window),
        lambda: fs.load_features(names, **window),
        lambda: fs.load_features(names[0], freq="6h", method="mean", **window),
    ):
        first = load().toPandas().sort_values("time", ignore_index=True)
        before = _compiles(spark)
        again = load().toPandas().sort_values("time", ignore_index=True)
        assert _compiles(spark) - before == 0
        assert first.equals(again)


# ---------------------------------------------------------------------------
# property: the pivot equals the composition it replaced
# ---------------------------------------------------------------------------
def _random_feature(spark, fs, rng, name, family):
    """Two to four saves of random versions over a 3-day hourly span:
    shared (time, created_time) ties with different values, nulls, and a
    null as the newest version of some timestamps."""
    fs.create_feature(name, check=Column(family, nullable=True))
    hours = list(pd.date_range("2024-03-01", periods=72, freq="1h"))
    base = pd.Timestamp("2024-03-01")
    for _ in range(rng.randint(2, 4)):
        ts = rng.sample(hours, rng.randint(10, 40))
        created = [t + pd.Timedelta(minutes=rng.choice([0, 10, 10, 30, 120]))
                   for t in ts]
        vals = []
        for _t in ts:
            x = rng.randint(-3, 3)
            if rng.random() < 0.15:
                vals.append(None)
            elif family == "float":
                vals.append(x / 2)
            elif family == "int":
                vals.append(x)
            else:
                vals.append(f"s{x}")
        fs.save_df(_versions(spark, ts, created, vals, _SCHEMA[family])
                   .withColumnRenamed("value", name))
    # a null written as the newest version of a few timestamps
    ts = rng.sample(hours, 3)
    fs.save_df(_versions(spark, ts, [base + pd.Timedelta(days=30)] * 3,
                         [None] * 3, _SCHEMA[family]).withColumnRenamed("value", name))


def _old_composition(fs, specs, from_ts, to_ts, freq, time_travel, funcs):
    """The load as composed before the pivot: LWW per stored series (value
    tiebreak), transforms over their ffilled aligned parents, then
    ``align_features`` or ``align_features(fill=False)`` +
    ``resample_asof``."""
    scan_from = from_ts if freq is None else None
    named = []
    for name in specs:
        ns, nm = name.split("/")
        rec = fs.registry.get_feature(ns, nm)
        if rec.transform:
            parents = rec.transform["args"]
            aligned = align_features([
                (p, _old_series(fs, p, scan_from, to_ts, time_travel)
                 .withColumnRenamed("value", p))
                for p in parents
            ])
            out = tfm.apply_transform(aligned, funcs[name], parents, T.DoubleType())
        else:
            out = _old_series(fs, name, scan_from, to_ts, time_travel)
        named.append((name, out.withColumnRenamed("value", name)))
    if freq is None:
        return align_features(named)
    return resample_asof(align_features(named, fill=False), specs, from_ts, to_ts, freq)


def _old_series(fs, name, from_ts, to_ts, time_travel):
    ns, nm = name.split("/")
    raw = fs._read_raw(ns, nm, fs.registry.get_feature(ns, nm), from_ts, to_ts,
                       time_travel)
    return last_write_wins(raw, value_cols=["value"], tiebreak_cols=value_tiebreak(raw))


def _rows(df, cols):
    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    return sorted(
        (tuple(cell(r[c]) for c in cols) for r in df.collect()),
        key=lambda row: tuple((x is None, str(x)) for x in row),
    )


def test_versioned_pivot_equals_lww_then_align_property(spark, fs):
    rng = random.Random(20240301)
    fs.create_namespace("pp")
    families = {"pp/i": "int", "pp/s": "str", "pp/d": "float"}
    for name, family in families.items():
        _random_feature(spark, fs, rng, name, family)

    def doubled(df):
        return df["pp/d"] * 2

    fs.transform("pp/t", from_features=["pp/d"], returns="float")(doubled)
    funcs = {"pp/t": doubled}

    for trial in range(6):
        specs = ["pp/i", "pp/s", "pp/d", "pp/t"]
        rng.shuffle(specs)
        specs = specs[: rng.randint(2, 4)]
        if trial == 0:
            specs = ["pp/d", "pp/t"]  # a transform next to its own parent
        start = pd.Timestamp("2024-03-01") + pd.Timedelta(hours=rng.randint(6, 40))
        end = start + pd.Timedelta(hours=rng.randint(0, 30))
        freq = rng.choice([None, "1h", "3h", "1d"])
        tt = rng.choice([None, None, "-15min", "20min", "3h"])
        got = fs.load_features(specs, from_date=start, to_date=end, freq=freq,
                               time_travel=tt)
        want = _old_composition(fs, specs, start, end, freq, tt, funcs)
        cols = ["time"] + specs
        assert _rows(got, cols) == _rows(want, cols), (specs, start, end, freq, tt)
        if freq is not None:
            # history before from_date carries into the first grid point
            assert len(got.collect()) >= 1


def test_ties_and_newest_null_resolve_like_compaction(spark, fs):
    """Versions tied on (time, created_time) resolve to the greatest value
    in every load shape, and a null written as the newest version wins
    over an older value (it is not skipped)."""
    fs.create_namespace("tie")
    fs.create_feature("tie/x", check=Column(float, nullable=True))
    t0, t1 = pd.Timestamp("2024-05-01 00:00"), pd.Timestamp("2024-05-01 01:00")
    c = pd.Timestamp("2024-05-02")
    fs.save_df(_versions(spark, [t0, t0, t0, t1, t1], [c, c, c, c, c + pd.Timedelta("1h")],
                         [1.0, 3.0, 2.0, 5.0, None], T.DoubleType())
               .withColumnRenamed("value", "tie/x"))
    raw = fs.load_features("tie/x").orderBy("time").collect()
    # t1's newest write is null; the no-freq load's ffill carries t0's value
    assert [r["tie/x"] for r in raw] == [3.0, 3.0]
    grid = fs.load_features("tie/x", freq="30min", from_date=t0, to_date=t1)
    assert [r["tie/x"] for r in grid.orderBy("time").collect()] == [3.0, 3.0, 3.0]
    assert fs.last("tie/x")["tie/x"] is None
    assert fs.first("tie/x")["tie/x"] == 3.0
    assert np.isclose(
        fs.load_features("tie/x", freq="1h", method="max", from_date=t0,
                         to_date=t0).collect()[0]["tie/x"], 3.0)
    got = fs.load_features("tie/x", freq="1h", method="nearest", from_date=t0,
                           to_date=t1).orderBy("time").collect()
    assert [r["tie/x"] for r in got] == [3.0, 3.0]

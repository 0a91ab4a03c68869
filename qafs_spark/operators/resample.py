"""Resample-to-grid: the reference's temporal heart, as one aggregation.

Reference semantics (golden: tests/test_feature_store.py:345-362, :389-392,
i.e. ``pd.concat(series, join="outer", axis=1).resample(freq).ffill()
.ffill()`` then clipped to [from, to]): at each grid point g take the *last
aligned row* at-or-before g (whole row — NaN cells stay NaN), then
forward-fill per column across consecutive grid points. Values from before
``from_date`` carry in through the grid chain.

Scalable Spark formulation (the load-bearing observation): the last aligned
row at-or-before grid point g_k is the last row of the latest non-empty *bin*
(g_{k-1}, g_k]; empty bins contribute nothing new to the per-column
forward-fill chain. So the whole golden pipeline collapses to:

1. bin index k = ceil((time - anchor) / freq)  (negative k = history before
   the range start — that's the carry-in, compressed by the same aggregate);
2. ``groupBy(k).agg(max_by(struct(cols), time))`` — ONE aggregation with
   map-side partial combine: a year of history shuffles at most one row per
   (bin × map task), not the raw data;
3. the dense grid's bins k ∈ [0, K] ride in the same aggregation's union
   (so every grid bin has a row without a join); forward-fill per column
   over k (two-pass bucketed ffill — no single-task global window), keep
   [0, K].

No per-grid-point join, no global sort, no full-history shuffle. A feature
load does all of it in one aggregation straight from the stored versions
(:func:`resample_asof_versions`).
"""

from __future__ import annotations

from typing import Iterable, List, Tuple, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exceptions import FeatureStoreException
from ..offsets import Freq, parse_offset
from .align import column_union, versioned_pivot
from .ffill import ffill

_K = "__bin"
_FFILL_BUCKET_BINS = 8192  # bins per two-pass ffill bucket


def time_grid(
    spark: SparkSession,
    from_ts,
    to_ts,
    freq,
    time_col: str = "time",
) -> DataFrame:
    """DataFrame of one TimestampType column: [from_ts, to_ts] stepped by
    freq — matches ``pd.date_range`` for unanchored offsets."""
    f = parse_offset(freq)
    from_ts, to_ts = pd.Timestamp(from_ts), pd.Timestamp(to_ts)
    if to_ts < from_ts:
        return spark.range(0).select(F.lit(None).cast("timestamp").alias(time_col))
    from_ts = f.anchor_start(from_ts)  # pd.date_range's rolled start
    k_max = n_steps(from_ts, to_ts, f)
    if k_max < 0:
        return spark.range(0).select(F.lit(None).cast("timestamp").alias(time_col))
    return (
        spark.range(k_max + 1)
        .select(_grid_time(F.col("id"), from_ts, f).alias(time_col))
    )


def n_steps(from_ts: pd.Timestamp, to_ts: pd.Timestamp, f: Freq) -> int:
    """Largest k with g_k <= to_ts, where g_k steps from ``from_ts``
    (which must already be anchor-rolled for anchored freqs); -1 if even
    g_0 = from_ts lies past to_ts."""
    if to_ts < from_ts:
        return -1
    if not f.is_calendar:
        return int((to_ts - from_ts).value // 1000 // f.microseconds)
    # calendar months: month-count arithmetic, then adjust for day/time
    # parts (and month-end re-snapping) via driver-side exact points
    approx = ((to_ts.year - from_ts.year) * 12 + to_ts.month - from_ts.month) // f.months
    while f.calendar_point(from_ts, approx + 1) <= to_ts:
        approx += 1
    while approx > 0 and f.calendar_point(from_ts, approx) > to_ts:
        approx -= 1
    return approx


def _grid_time(k_col, anchor: pd.Timestamp, f: Freq):
    """Grid point g_k as a Spark expression; ``anchor`` is g_0 (already
    anchor-rolled). Month-end anchors re-snap each step to the month's
    last day, keeping g_0's time-of-day — matching pd.date_range."""
    if f.is_calendar:
        base = F.lit(anchor).cast("timestamp") + F.make_interval(
            months=(k_col * F.lit(f.months)).cast("int")
        )
        if f.anchored == "month_end":
            tod_us = anchor.value // 1000 % 86_400_000_000
            return F.timestamp_micros(
                F.unix_micros(F.last_day(base).cast("timestamp"))
                + F.lit(tod_us)
            )
        return base
    anchor_us = anchor.value // 1000
    return F.timestamp_micros(anchor_us + k_col.cast("long") * F.lit(f.microseconds))


def _bin_index(time_col, anchor: pd.Timestamp, f: Freq):
    """k = smallest k with time <= g_k: row belongs to bin (g_{k-1}, g_k]."""
    if f.is_calendar:
        if f.anchored:
            # exact anchored binning: ceil of the month-index difference,
            # then one within-month correction against the true anchored
            # instant (months_between's 31-day fractions are not exact)
            k0 = _month_ceil_k(time_col, anchor, f)
            return F.when(
                time_col > _grid_time(k0, anchor, f), k0 + 1
            ).otherwise(k0)
        months = F.months_between(time_col, F.lit(anchor).cast("timestamp"))
        return F.ceil(months / F.lit(float(f.months))).cast("long")
    anchor_us = anchor.value // 1000
    d = F.unix_micros(time_col) - F.lit(anchor_us)
    # ceil division on longs, exact for any sign: -floor(-d / step)
    step = F.lit(f.microseconds)
    return (-F.floor((-d) / step).cast("long")).cast("long")


def _month_diff(time_col, anchor: pd.Timestamp):
    """Whole-month index difference month(time) - month(anchor)."""
    mi = F.year(time_col) * F.lit(12) + (F.month(time_col) - F.lit(1))
    return mi - F.lit(anchor.year * 12 + anchor.month - 1)


def _month_ceil_k(time_col, anchor: pd.Timestamp, f: Freq):
    d = _month_diff(time_col, anchor)
    return (-F.floor((-d) / F.lit(f.months)).cast("long")).cast("long")


def _grid(spark: SparkSession, k_max: int) -> DataFrame:
    """The grid's bin indexes 0..k_max (none when k_max is -1)."""
    return spark.range(k_max + 1).select(F.col("id").alias(_K))


def _fill_grid(binned: DataFrame, value_cols: List[str], anchor: pd.Timestamp,
               k_max: int, f: Freq) -> DataFrame:
    """Forward-fill a one-row-per-bin frame that holds every grid bin over
    the bin index (two-pass bucketed ffill — no single-task global window)
    and keep the grid [0, k_max], labelled with its grid time."""
    full = ffill(
        binned,
        value_cols,
        time_col=_K,
        bucket=F.floor(F.col(_K) / F.lit(_FFILL_BUCKET_BINS)),
    )
    return (
        full.filter((F.col(_K) >= 0) & (F.col(_K) <= k_max))
        .select(_grid_time(F.col(_K), anchor, f).alias("time"), *value_cols)
    )


def _grid_bounds(from_ts, to_ts, freq) -> Tuple[pd.Timestamp, int, Freq]:
    f = parse_offset(freq)
    from_ts, to_ts = pd.Timestamp(from_ts), pd.Timestamp(to_ts)
    if to_ts < from_ts:
        raise FeatureStoreException("to_date must be >= from_date for resample")
    anchor = f.anchor_start(from_ts)  # anchored grids roll the start
    # k_max -1 = anchored start past to_ts (empty grid)
    return anchor, n_steps(anchor, to_ts, f), f


def resample_asof(
    aligned: DataFrame,
    value_cols: List[str],
    from_ts,
    to_ts,
    freq,
) -> DataFrame:
    """Golden resample of an outer-aligned frame onto [from_ts, to_ts] @ freq.

    ``aligned`` must have unique ``time`` rows (dedup first) and may include
    history rows before ``from_ts`` — they compress into negative bins and
    feed the carry-in chain exactly as the golden's uncut grid would.

    Semantics are ROW-based, matching the reference golden
    ``concat(outer).resample(freq).ffill().ffill()`` (reference
    tests:348-353) exactly: within a bin the LATEST ROW wins for all
    columns — if that row holds a null in some column while an earlier
    same-bin row held a value, the null wins and the grid point falls back
    to the previous bin's carry. This is what pandas' row-wise
    ``Resampler.ffill`` does, and what the driver's DuckDB oracle rows and
    ``test_align_resample_property_random`` pin. (A per-column as-of is a
    DIFFERENT operator: run each series through its own resample, or ffill
    the aligned frame per column before binning.)

    The grid's bins ride in the binning aggregation's union (their rows
    have no time, which ``max_by`` skips), so every grid bin has a row
    without a join.
    """
    anchor, k_max, f = _grid_bounds(from_ts, to_ts, freq)
    rows = aligned.select(
        _bin_index(F.col("time"), anchor, f).alias(_K),
        F.col("time"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__row"),
    )
    binned = (
        rows.unionByName(_grid(aligned.sparkSession, k_max), allowMissingColumns=True)
        .groupBy(_K)
        .agg(F.max_by("__row", "time").alias("__row"))
        .select(_K, *[F.col("__row")[c].alias(c) for c in value_cols])
    )
    return _fill_grid(binned, value_cols, anchor, k_max, f)


def resample_asof_versions(
    named: Iterable[Tuple[str, DataFrame]],
    from_ts,
    to_ts,
    freq,
) -> DataFrame:
    """:func:`resample_asof` of raw versioned series: last-write-wins, the
    outer alignment and the binning in one aggregation.

    Each ``(name, df)`` holds ``(time, created_time, value)`` versions (see
    :func:`qafs_spark.operators.align.versioned_pivot`, which groups them
    by bin here). The result equals ``last_write_wins`` per series, then
    ``align_features(fill=False)``, then :func:`resample_asof`.
    """
    named = list(named)
    anchor, k_max, f = _grid_bounds(from_ts, to_ts, freq)
    binned = versioned_pivot(
        named,
        key=_bin_index(F.col("time"), anchor, f),
        key_col=_K,
        grid=_grid(named[0][1].sparkSession, k_max),
    )
    return _fill_grid(binned, [n for n, _ in named], anchor, k_max, f)


def resample_interpolate(
    series: DataFrame,
    from_ts,
    to_ts,
    freq,
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Time-weighted LINEAR interpolation onto the [from_ts, to_ts] grid —
    the extension beyond the reference's ffill-only resample (equivalent to
    evaluating pandas ``interpolate(method="time")`` at each grid point).

    At grid point g with (t0, v0) the latest non-null observation at-or-
    before g and (t1, v1) the earliest strictly after (observations beyond
    ``to_ts`` participate as right anchors):

        v(g) = v0 + (v1 - v0) * ((g - t0) / (t1 - t0))

    Tail carries v0 when no right anchor exists; grid points before the
    first observation are null. Every arithmetic step is an IEEE-correctly-
    rounded double op over exact microsecond integers, so results replay
    bit-for-bit in any engine (DuckDB oracle uses its native ASOF joins —
    a completely different plan computing the same reals).

    Scale shape (same bin-compression argument as :func:`resample_asof`):
    ONE aggregate per bin yields both the last and first observation
    (``max_by``/``min_by`` structs, map-side combined — raw history never
    shuffles whole); the left anchors forward-fill and the right anchors
    (reindexed to bin k-1) BACKWARD-fill via the same two-pass bucketed
    ffill run over the negated bin index. No per-grid-point join, no
    global sort, no single-task window over data rows.
    """
    return resample_points_multi(
        [(value_col, series.select(F.col(time_col), F.col(value_col)))],
        from_ts, to_ts, freq, method="interpolate", time_col=time_col,
    )


def _series_columns(
    named: Union[Iterable[Tuple[str, DataFrame]], DataFrame], time_col: str
) -> Tuple[DataFrame, List[str]]:
    """``(frame, names)``: one frame with ``time_col`` and a column per
    series. ``named`` is either that frame already (the time-grouped
    :func:`qafs_spark.operators.align.versioned_pivot`) or ``(name, df)``
    series, which stack into a column-per-series union."""
    if isinstance(named, DataFrame):
        return named, [c for c in named.columns if c != time_col]
    named = list(named)
    if not named:
        raise FeatureStoreException("resample needs >= 1 series")
    return (
        column_union([df.select(time_col, name) for name, df in named]),
        [n for n, _ in named],
    )


def resample_points_multi(
    named: Union[Iterable[Tuple[str, DataFrame]], DataFrame],
    from_ts,
    to_ts,
    freq,
    method: str = "interpolate",
    time_col: str = "time",
) -> DataFrame:
    """N-series interpolate/nearest resample in ONE data aggregation.

    Semantically identical to running :func:`resample_interpolate` /
    :func:`resample_nearest` per series and joining the grids on ``time``
    (each column anchors against its OWN observations), but the plan is the
    one you want at scale: the series stack into one frame with a column
    per series, ONE ``groupBy(bin)`` with per-column null-ignoring
    ``max_by``/``min_by`` anchors (the ordering key is ``time`` only where
    that column is non-null, so each column still sees only its own
    observations; the grid's bins ride in the same union), then the shared
    grid-sized ffill/bfill carry passes run once over ALL columns — instead
    of N-1 iterated time-keyed joins of independently aggregated grids.

    ``named``: ``(name, df)`` series, each df exactly ``(time_col, name)``
    with unique timestamps (run last-write-wins dedup first), or one frame
    of ``time_col`` plus a column per series with unique timestamps.
    """
    if method not in ("interpolate", "nearest"):
        raise FeatureStoreException(f"Unknown resample method {method!r}")
    tall, names = _series_columns(named, time_col)
    anchor, k_max, f = _grid_bounds(from_ts, to_ts, freq)
    types = {fld.name: fld.dataType for fld in tall.schema.fields}
    numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
               T.FloatType, T.DoubleType, T.DecimalType)
    if method == "interpolate":
        for n in names:
            if not isinstance(types[n], numeric):
                # fail at plan build with the offending series named, not as
                # a Catalyst BINARY_OP_WRONG_TYPE on an internal alias
                raise FeatureStoreException(
                    f"method='interpolate' needs a numeric series; "
                    f"'{n}' is {types[n].simpleString()} "
                    "(use method='nearest' or 'ffill')"
                )
    # internal aliases: series names are user strings ("ns/feature")
    ids = {n: i for i, n in enumerate(names)}
    t = F.col("__t")
    aggs = []
    for n in names:
        i = ids[n]
        c = F.col(f"__c{i}")
        key_when_set = F.when(c.isNotNull(), t)  # null ordering keys are
        # ignored by max_by/min_by → anchors see only this column's rows
        aggs.append(
            F.max_by(F.struct(t.alias("t"), c.alias("v")), key_when_set)
            .alias(f"__last{i}")
        )
        aggs.append(
            F.min_by(F.struct(t.alias("t"), c.alias("v")), key_when_set)
            .alias(f"__first{i}")
        )
    rows = tall.select(
        _bin_index(F.col(time_col), anchor, f).alias(_K),
        F.col(time_col).alias("__t"),
        *[F.col(n).alias(f"__c{ids[n]}") for n in names],
    )
    binned = (
        rows.unionByName(_grid(tall.sparkSession, k_max), allowMissingColumns=True)
        .groupBy(_K)
        .agg(*aggs)
    )
    pt_cols = [f"__pt{i}" for i in ids.values()] + [f"__pv{i}" for i in ids.values()]
    nt_cols = [f"__nt{i}" for i in ids.values()] + [f"__nv{i}" for i in ids.values()]
    left = binned.select(
        _K,
        *[F.col(f"__last{i}.t").alias(f"__pt{i}") for i in ids.values()],
        *[F.col(f"__last{i}.v").alias(f"__pv{i}") for i in ids.values()],
    )
    # the first observation of bin j is the right anchor for grid k <= j-1
    right = binned.select(
        (F.col(_K) - 1).alias(_K),
        *[F.col(f"__first{i}.t").alias(f"__nt{i}") for i in ids.values()],
        *[F.col(f"__first{i}.v").alias(f"__nv{i}") for i in ids.values()],
    )
    full = left.join(right, on=_K, how="full")
    full = ffill(
        full, pt_cols, time_col=_K,
        bucket=F.floor(F.col(_K) / F.lit(_FFILL_BUCKET_BINS)),
    )
    full = full.withColumn("__nk", -F.col(_K))
    full = ffill(
        full, nt_cols, time_col="__nk",
        bucket=F.floor(F.col("__nk") / F.lit(_FFILL_BUCKET_BINS)),
    )

    g = _grid_time(F.col(_K), anchor, f)
    outs = []
    for n in names:
        i = ids[n]
        pt, pv = F.col(f"__pt{i}"), F.col(f"__pv{i}")
        nt, nv = F.col(f"__nt{i}"), F.col(f"__nv{i}")
        if method == "interpolate":
            dg = (F.unix_micros(g) - F.unix_micros(pt)).cast("double")
            dt = (F.unix_micros(nt) - F.unix_micros(pt)).cast("double")
            v = (
                F.when(pt.isNull(), F.lit(None).cast("double"))
                .when(nt.isNull(), pv)
                .otherwise(pv + (nv - pv) * (dg / dt))
            )
        else:
            # nearest is pure selection — preserve the series' own type
            # (pandas reindex(method="nearest") convention)
            d_prev = F.unix_micros(g) - F.unix_micros(pt)
            d_next = F.unix_micros(nt) - F.unix_micros(g)
            v = (
                F.when(pt.isNull() & nt.isNull(), F.lit(None).cast(types[n]))
                .when(nt.isNull(), pv)
                .when(pt.isNull(), nv)
                .when(d_prev <= d_next, pv)
                .otherwise(nv)
            )
        outs.append(v.alias(n))
    return (
        full.filter((F.col(_K) >= 0) & (F.col(_K) <= k_max))
        .select(g.alias(time_col), *outs)
    )


_AGG_HOWS = ("mean", "sum", "min", "max", "count", "first", "last", "median")


def _agg_expr(how: str, c, t):
    """Aggregate over one column's non-null observations within a bin.
    mean/sum/min/max ignore nulls natively; count counts non-null; first/
    last pick by time with a null-ignoring ordering key."""
    if how == "mean":
        return F.avg(c)
    if how == "sum":
        return F.sum(c)
    if how == "min":
        return F.min(c)
    if how == "max":
        return F.max(c)
    if how == "count":
        return F.count(c)
    if how == "median":
        return F.median(c)  # exact (not approx) since Spark 3.4
    key = F.when(c.isNotNull(), t)
    if how == "first":
        return F.min_by(c, key)
    if how == "last":
        return F.max_by(c, key)
    raise FeatureStoreException(
        f"Unknown downsample how={how!r} (use one of {_AGG_HOWS})"
    )


def grid_upper_bound(from_ts: pd.Timestamp, k_max: int, f: Freq) -> pd.Timestamp:
    """First instant AFTER the last bin: grid_time(k_max + 1), computed
    driver-side (so it can participate in scan pushdown)."""
    if f.is_calendar:
        return f.calendar_point(from_ts, k_max + 1)
    return from_ts + pd.Timedelta(microseconds=f.microseconds * (k_max + 1))


def _floor_bin_index(time_col, anchor: pd.Timestamp, f: Freq):
    """k = largest k with g_k <= time: row belongs to bin [g_k, g_{k+1})
    labeled g_k — the pandas ``resample(freq)`` default (closed/label left
    for fixed frequencies), unlike the as-of family's right-closed bins."""
    if f.is_calendar:
        if f.anchored:
            # floor of the month-index difference, then one within-month
            # correction against the true anchored instant
            d = _month_diff(time_col, anchor)
            k0 = F.floor(d / F.lit(f.months)).cast("long")
            return F.when(
                time_col < _grid_time(k0, anchor, f), k0 - 1
            ).otherwise(k0)
        months = F.months_between(time_col, F.lit(anchor).cast("timestamp"))
        return F.floor(months / F.lit(float(f.months))).cast("long")
    anchor_us = anchor.value // 1000
    d = F.unix_micros(time_col) - F.lit(anchor_us)
    return F.floor(d / F.lit(f.microseconds)).cast("long")


def resample_agg_multi(
    named: Union[Iterable[Tuple[str, DataFrame]], DataFrame],
    from_ts,
    to_ts,
    freq,
    how="mean",
    time_col: str = "time",
) -> DataFrame:
    """Downsample N series onto the [from_ts, to_ts] grid with a per-bin
    aggregate — ``pd.concat(series, axis=1).resample(freq).agg(how)``
    semantics (left-closed, left-labeled bins; empty bins null, count 0).

    ``how``: one aggregate name for all series, or ``{name: how}`` per
    series, from mean/sum/min/max/count/first/last/median (median is
    Spark's exact ``F.median``, not an approximation). ``named`` is as for
    :func:`resample_points_multi`.

    Scale shape: the column-per-series union + ONE ``groupBy(bin)`` plan of
    :func:`resample_points_multi` — map-side partial aggregation compresses
    each (bin × map task) to one row before the single data shuffle; rows
    outside [from_ts, to_ts] are filtered AT THE SCAN (pushdown-friendly
    time predicate), since no carry-in chain needs history. The grid's bins
    ride in the same union (all-null rows: count 0, every other aggregate
    null), so no join follows.
    """
    tall, names = _series_columns(named, time_col)
    hows = {n: how for n in names} if isinstance(how, str) else dict(how)
    for n in names:
        if hows.get(n) not in _AGG_HOWS:
            raise FeatureStoreException(
                f"Unknown downsample how={hows.get(n)!r} for '{n}' "
                f"(use one of {_AGG_HOWS})"
            )
    anchor, k_max, f = _grid_bounds(from_ts, to_ts, freq)
    ids = {n: i for i, n in enumerate(names)}
    # the last bin is labeled to_ts and covers [to_ts, to_ts + freq) —
    # pandas left-closed convention; the exclusive upper bound is driver-
    # side computable so it still pushes down to the scan
    upper = grid_upper_bound(anchor, k_max, f)
    t = F.col(time_col)
    rows = tall.filter((t >= F.lit(anchor)) & (t < F.lit(upper))).select(
        _floor_bin_index(t, anchor, f).alias(_K),
        t.alias("__t"),
        *[F.col(n).alias(f"__c{ids[n]}") for n in names],
    )
    return (
        rows.unionByName(_grid(tall.sparkSession, k_max), allowMissingColumns=True)
        .groupBy(_K)
        .agg(*[
            _agg_expr(hows[n], F.col(f"__c{i}"), F.col("__t")).alias(f"__v{i}")
            for n, i in ids.items()
        ])
        .select(
            _grid_time(F.col(_K), anchor, f).alias(time_col),
            *[F.col(f"__v{i}").alias(n) for n, i in ids.items()],
        )
    )


def resample_agg(
    series: DataFrame,
    from_ts,
    to_ts,
    freq,
    how: str = "mean",
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Single-series downsample — see :func:`resample_agg_multi`."""
    return resample_agg_multi(
        [(value_col, series.select(F.col(time_col), F.col(value_col)))],
        from_ts, to_ts, freq, how=how, time_col=time_col,
    )


def resample_nearest(
    series: DataFrame,
    from_ts,
    to_ts,
    freq,
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Nearest-observation resample: at each grid point take the closest
    non-null observation on EITHER side (ties -> the earlier one, pandas
    ``reindex(method="nearest")`` convention). Same bin-compressed
    ffill/bfill anchor machinery as :func:`resample_interpolate`; the
    selection is one integer comparison of microsecond distances."""
    return resample_points_multi(
        [(value_col, series.select(F.col(time_col), F.col(value_col)))],
        from_ts, to_ts, freq, method="nearest", time_col=time_col,
    )

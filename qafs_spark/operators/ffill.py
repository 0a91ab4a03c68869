"""Forward-fill over global time order, without a single-task global window.

Reference semantics: ``pd.concat(...).ffill()`` (src/qafs/timeseries.py:12-14)
and the resample merge's ``.ffill()`` (src/qafs/backend/pandas.py:167).

The naive Spark translation — ``last(col, ignorenulls=True) OVER (ORDER BY
time ROWS UNBOUNDED PRECEDING)`` — funnels the whole series through ONE task
(unpartitioned window). This module implements the scalable two-pass scheme
(SURVEY.md §7 "hard parts" #1):

1. bucket rows by a coarse, time-ordered key (default: calendar month of the
   time column) and forward-fill *within* each bucket — parallel across
   buckets;
2. aggregate each bucket's last non-null value per column (tiny result: one
   row per bucket), compute the cross-bucket running carry with a window over
   that one-row-per-bucket aggregate (single trivial task), and
   broadcast-join it back; leading nulls in a bucket coalesce to the carry
   from earlier buckets.

Cost at scale: one hash shuffle by bucket (or none if already partitioned),
one map-side-combined aggregate, one broadcast join. No global sort, no
single-task stage over DATA rows, and fully lazy — no plan-build-time job. Set ``bucket=None`` to force the simple global window
(useful for small frames and as a correctness oracle — see tests).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

AUTO = "auto"


def ffill(
    df: DataFrame,
    cols: Sequence[str],
    time_col: str = "time",
    bucket: Union[str, Column, None] = AUTO,
) -> DataFrame:
    """Forward-fill ``cols`` in ascending ``time_col`` order.

    bucket:
      * ``"auto"`` (default) — two-pass scheme bucketed by month(time);
      * a Column expression — two-pass scheme with your bucketing (must be
        monotone in time, e.g. ``F.year(time)``);
      * ``None`` — single global window (single task; small data only).
    """
    cols = [c for c in cols if c in df.columns]
    if not cols:
        return df
    if bucket is None:
        w = (
            Window.orderBy(time_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumns({c: F.last(c, ignorenulls=True).over(w) for c in cols})

    bucket_expr = (
        F.date_trunc("month", F.col(time_col))
        if isinstance(bucket, str) and bucket == AUTO
        else bucket
    )
    return _ffill_two_pass(df, cols, time_col, bucket_expr)


def _ffill_two_pass(
    df: DataFrame, cols: Sequence[str], time_col: str, bucket_expr: Column
) -> DataFrame:
    """Each pass is one DataFrame call over all ``cols`` (every call
    re-analyses the plan so far)."""
    b = "__ffill_bucket"
    carry = {c: f"__carry_{c}" for c in cols}

    # Pass 1: per-bucket window fill. Buckets are time-ordered so this is
    # correct within a bucket; cross-bucket leading nulls fixed in pass 2.
    w = (
        Window.partitionBy(b)
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    work = df.withColumn(b, bucket_expr).withColumns(
        {c: F.last(c, ignorenulls=True).over(w) for c in cols}
    )

    # Pass 2: last non-null value of each bucket (after pass 1, that is simply
    # the value at the bucket's max time — max_by ignores rows whose ordering
    # key is NULL, giving us "last non-null" directly). The cross-bucket
    # running carry is a window over THIS aggregate — one row per bucket, so
    # the unpartitioned window is a single trivial task — and the whole
    # operator stays LAZY: no collect(), no plan-build-time job, one job at
    # the caller's action.
    w_carry = Window.orderBy(b).rowsBetween(Window.unboundedPreceding, -1)
    carry_df = work.groupBy(b).agg(
        *[
            F.max_by(
                F.col(c), F.when(F.col(c).isNotNull(), F.col(time_col))
            ).alias(c)
            for c in cols
        ]
    ).select(
        b,
        *[F.last(c, ignorenulls=True).over(w_carry).alias(carry[c]) for c in cols],
    )

    out = work.join(F.broadcast(carry_df), on=b, how="left")
    return out.select(
        *[
            F.coalesce(F.col(c), F.col(carry[c])).alias(c) if c in carry else F.col(c)
            for c in df.columns
        ]
    )

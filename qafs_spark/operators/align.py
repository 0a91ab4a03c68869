"""Multi-series outer alignment (+ optional grid) with forward-fill, and the
versioned pivot every feature load builds on.

Reference semantics: ``ts.concat = pd.concat(dfs, join="outer", axis=1)
.ffill()`` (src/qafs/timeseries.py:12-14) — full outer join of N univariate
series on the time axis, each series carrying its last known value onto the
other series' timestamps; and the resample path's right-join back to the grid
(src/qafs/backend/pandas.py:163-172).

Spark shape: **one shuffle regardless of N**. Instead of N-1 iterated
full-outer joins (each a separate Exchange on ``time``), all series union
into one tall frame with a column per series (:func:`column_union`; union
is shuffle-free, and series of different value types share it because each
keeps its own column), and a single ``groupBy(time)`` aggregation pivots
them back to one row per timestamp. The subsequent forward-fill uses the
scalable two-pass :func:`qafs_spark.operators.ffill.ffill` (no global
single-task window).

:func:`versioned_pivot` is the same union over raw stored versions
``(time, created_time, value)``: it resolves last-write-wins inside the
pivot's one aggregation, grouped by ``time`` or by a resample bin.
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import newest
from .ffill import AUTO, ffill

_GRID_FLAG = "__on_grid"


def column_union(frames: Sequence[DataFrame]) -> DataFrame:
    """Union frames that share a key column and each add columns of their
    own; every row holds null in the columns its frame lacks."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def align_features(
    named_dfs: Iterable[Tuple[str, DataFrame]],
    time_col: str = "time",
    grid: Optional[DataFrame] = None,
    fill: bool = True,
    keep_grid_only: bool = False,
    bucket: Union[str, Column, None] = AUTO,
) -> DataFrame:
    """Outer-align ``(name, df)`` series on ``time_col`` and forward-fill.

    Each input df must have exactly the columns ``(time_col, name)`` with
    unique timestamps (run last-write-wins dedup first). If ``grid`` is given
    its timestamps join into the timeline; with ``keep_grid_only`` the result
    is restricted to grid rows *after* filling — i.e. an as-of join of every
    series onto the grid.
    """
    named = list(named_dfs)
    names: List[str] = [name for name, _ in named]
    frames = [df.select(F.col(time_col), F.col(name)) for name, df in named]
    aggs = [F.max(name).alias(name) for name in names]
    if grid is not None:
        # grid timestamps ride in the same union, flagged
        frames.append(grid.select(F.col(time_col), F.lit(True).alias(_GRID_FLAG)))
        aggs.append(F.coalesce(F.max(_GRID_FLAG), F.lit(False)).alias(_GRID_FLAG))
    if not frames:
        raise ValueError("align_features needs at least one series or a grid")
    aligned = column_union(frames).groupBy(time_col).agg(*aggs)

    if fill and names:
        aligned = ffill(aligned, names, time_col=time_col, bucket=bucket)
    if grid is not None and keep_grid_only:
        aligned = aligned.filter(F.col(_GRID_FLAG))
    if grid is not None:
        aligned = aligned.drop(_GRID_FLAG)
    return aligned


def versioned_pivot(
    named: Iterable[Tuple[str, DataFrame]],
    key: Optional[Column] = None,
    key_col: str = "time",
    grid: Optional[DataFrame] = None,
) -> DataFrame:
    """Last-write-wins and pivot N versioned series in one aggregation.

    Each ``(name, df)`` holds ``(time, created_time, value)`` rows, any
    number of versions per ``time``; an already-deduplicated series (a
    transform's output) holds one row per ``time`` and a null
    ``created_time``. Series i rides in a column-per-series union
    (:func:`column_union`) as the record ``struct(time, created_time,
    value)``, and the aggregation keeps each series' greatest record
    (:func:`qafs_spark.operators.dedup.newest`): its latest time, and at
    that time its newest write, ties going to the greatest value.

    * ``key`` None: grouped by ``time``. Returns ``(time, *names)``, one row
      per timestamp any series holds, each column the series' LWW value
      there and null where it has no row.
    * ``key`` a Column over ``time`` (a resample bin index): grouped by it,
      returned as ``key_col``. A column keeps its value only where its
      latest time equals the latest time of the group — the latest aligned
      row of the bin wins whole, the golden row rule of
      :func:`qafs_spark.operators.resample.resample_asof`. ``grid`` (a frame
      of ``key_col``) rides in the same union, so every grid key has a row.
    """
    named = list(named)
    k = F.col("time") if key is None else key
    frames, aggs, values = [], [], []
    for i, (name, df) in enumerate(named):
        rec = f"__v{i}"
        vtype = T.StructType([
            T.StructField("time", T.TimestampType()),
            T.StructField("created_time", T.TimestampType()),
            T.StructField("value", df.schema["value"].dataType),
        ])
        frames.append(df.select(
            k.alias(key_col),
            F.struct("time", "created_time", "value").alias(rec),
        ))
        aggs.append(newest(F.col(rec), vtype, ("time", "created_time")).alias(rec))
        values.append((name, F.col(f"{rec}.time"), F.col(f"{rec}.value")))
    if grid is not None:
        frames.append(grid.select(key_col))
    pivot = column_union(frames).groupBy(key_col).agg(*aggs)
    if key is None or len(values) == 1:
        return pivot.select(key_col, *[v.alias(n) for n, _, v in values])
    latest = F.greatest(*[t for _, t, _ in values])
    return pivot.select(
        key_col, *[F.when(t == latest, v).alias(n) for n, t, v in values]
    )

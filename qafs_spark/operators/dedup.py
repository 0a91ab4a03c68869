"""Last-write-wins dedup: for each timestamp keep the most recent write.

Reference semantics (src/qafs/backend/pandas.py:160-161): sort by
``created_time``, ``groupby(time).last()`` — upsert-over-append-only.

Spark-first design: a ``groupBy(time).agg(max(struct(...)))`` instead of a
window. The aggregate runs with map-side partial aggregation (each input
partition first reduces locally), so the shuffle carries at most one row per
(group, map task) — at 100 TB this is the difference between shuffling the
full table and shuffling ~|distinct timestamps|. A window (`row_number over
partitionBy time`) would shuffle every row. :func:`newest` is the one
ordering of versions; the feature load's versioned pivot
(:func:`qafs_spark.operators.align.versioned_pivot`) takes the same
aggregate per series.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def is_orderable(dt) -> bool:
    """True when Spark can sort/compare the type (everything but maps,
    including nested occurrences — struct/array ordering is elementwise)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return is_orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(is_orderable(f.dataType) for f in dt.fields)
    return True


def value_tiebreak(df: DataFrame, col: str = "value") -> Optional[List[str]]:
    """Deterministic LWW tiebreak on the value itself, when the type allows.

    Rows tied on (time, created_time) with differing values otherwise get a
    nondeterministic winner. Ordering by the value column breaks the tie
    deterministically (greatest value wins) — used by both the feature read
    path and the LWW-collapsing compaction so a pre-collapse read and the
    physically collapsed survivor agree. Returns None for non-orderable
    (map-typed) values, where the tie stays arbitrary."""
    try:
        dt = df.schema[col].dataType
    except KeyError:
        return None
    return [col] if is_orderable(dt) else None


def newest(version: Column, vtype, ordering: Sequence[str]) -> Column:
    """The LWW aggregate: the greatest ``version`` record of a group.

    ``version`` is a struct column of type ``vtype`` whose fields compare
    left to right, so its leading fields (``ordering``: time or
    created_time, then any tiebreak) decide and the greatest record is the
    newest write; later fields break what ties remain. When a later field
    cannot be ordered (maps) the record is picked by ``ordering`` alone
    and ties on it stay arbitrary. A null record (another series' row in
    a column-per-series union) never wins."""
    if is_orderable(vtype):
        return F.max(version)
    rest = [f.name for f in vtype.fields if f.name not in set(ordering)]
    return F.max_by(version, version.dropFields(*rest))


def last_write_wins(
    df: DataFrame,
    time_col: str = "time",
    order_col: str = "created_time",
    value_cols: Optional[Sequence[str]] = None,
    group_cols: Optional[Sequence[str]] = None,
    tiebreak_cols: Optional[Sequence[str]] = None,
    keep_order_col: bool = False,
) -> DataFrame:
    """Keep, per (group_cols, time), the row with the greatest order_col.

    ``tiebreak_cols`` (optional) make the result deterministic when several
    rows share the same ``order_col`` — they extend the ordering
    lexicographically; the value columns extend it further when they are
    orderable.
    """
    group_cols = list(group_cols or [])
    if value_cols is None:
        value_cols = [
            c for c in df.columns if c not in set(group_cols) | {time_col, order_col}
        ]
    ordering = [order_col] + [c for c in tiebreak_cols or [] if c != order_col]
    names = ordering + [c for c in value_cols if c not in ordering]
    types = {f.name: f.dataType for f in df.schema.fields}
    vtype = T.StructType([T.StructField(c, types[c]) for c in names])
    cols = (
        [F.col(time_col)]
        + [F.col(c) for c in group_cols]
        + [F.col("__lww")[c].alias(c) for c in value_cols]
    )
    if keep_order_col:
        cols.append(F.col("__lww")[order_col].alias(order_col))
    return (
        df.groupBy(time_col, *group_cols)
        .agg(newest(F.struct(*names), vtype, ordering).alias("__lww"))
        .select(*cols)
    )

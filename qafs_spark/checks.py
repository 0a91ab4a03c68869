"""Data-quality checks: pandera-style declaration, native Spark enforcement.

The reference attaches a pandera ``Column`` check to every feature, stores it
as YAML in the registry, and validates on write (reference: src/qafs/core.py:
244, :280-281, :413-427). pandera's pyspark support is partial and row-at-a-
time validation would never scale, so here:

* the *declaration* surface mimics pandera (``Column(dtype, checks=[...])``,
  ``Check.greater_than(0)``, ...) and serializes to a pandera-like YAML
  document, keeping registry parity;
* *enforcement* is native Spark: the dtype check is a driver-side schema
  comparison, and all value predicates fold into one set of violation
  counters (``sum(when(~pred,1))``). A feature save attaches them to its
  staged write with ``DataFrame.observe``, so validation adds no Spark job
  and no pass over the data; :meth:`Column.validate` runs the same
  counters as one aggregate job over any other frame.

The reference's broken ``check_raise_error`` init (reference: src/qafs/
core.py:34 commented out, read at :424) is implemented as intended: env var
``QAFS_RAISE_ERROR`` (default true) toggles raise-vs-log.
"""

from __future__ import annotations

import logging
import os
from typing import Any, Callable, Dict, List, Optional, Sequence

import yaml
from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exceptions import FeatureStoreException, SchemaError

logger = logging.getLogger("qafs_spark")

CHECK_YAML_VERSION = "1.0"

# dtype families → accepted Spark types. "object" accepts anything (the
# reference's pa.Object escape hatch, used for strings/dicts/serialized).
_FAMILIES: Dict[str, tuple] = {
    "int": (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    "float": (T.FloatType, T.DoubleType),
    "str": (T.StringType,),
    "bool": (T.BooleanType,),
    "datetime": (T.TimestampType, T.TimestampNTZType, T.DateType),
    "object": (),  # anything
}

_DTYPE_ALIASES = {
    "int": "int", "int8": "int", "int16": "int", "int32": "int",
    "int64": "int", "integer": "int",
    "float": "float", "float32": "float", "float64": "float", "double": "float",
    "str": "str", "string": "str",
    "bool": "bool", "boolean": "bool",
    "datetime": "datetime", "datetime64": "datetime", "datetime64[ns]": "datetime",
    "timestamp": "datetime",
    "object": "object", "any": "object",
}


def _canon_dtype(dtype: Any) -> str:
    if dtype is None:
        return "object"
    if isinstance(dtype, type):
        dtype = dtype.__name__
    if not isinstance(dtype, str):
        dtype = str(dtype)
    key = dtype.lower()
    if key in _DTYPE_ALIASES:
        return _DTYPE_ALIASES[key]
    raise FeatureStoreException(f"Unknown dtype {dtype!r}")


class Check:
    """A single value predicate, applied to the feature's value column.

    Construct via the class-method factories (pandera-compatible names).
    ``predicate(col)`` returns a Spark boolean Column that is True for *valid*
    rows; null values are handled by the Column-level ``nullable`` flag.
    """

    def __init__(self, name: str, args: Any, fn: Callable[[SparkColumn, Any], SparkColumn]):
        self.name = name
        self.args = args
        self._fn = fn

    def predicate(self, col: SparkColumn) -> SparkColumn:
        return self._fn(col, self.args)

    def __repr__(self) -> str:
        return f"Check.{self.name}({self.args!r})"

    # --- factories ------------------------------------------------------
    @classmethod
    def greater_than(cls, v): return cls("greater_than", v, lambda c, a: c > F.lit(a))

    @classmethod
    def greater_than_or_equal_to(cls, v):
        return cls("greater_than_or_equal_to", v, lambda c, a: c >= F.lit(a))

    ge = greater_than_or_equal_to
    gt = greater_than

    @classmethod
    def less_than(cls, v): return cls("less_than", v, lambda c, a: c < F.lit(a))

    @classmethod
    def less_than_or_equal_to(cls, v):
        return cls("less_than_or_equal_to", v, lambda c, a: c <= F.lit(a))

    le = less_than_or_equal_to
    lt = less_than

    @classmethod
    def in_range(cls, min_value, max_value, include_min=True, include_max=True):
        """Inclusive by default; ``include_min``/``include_max`` mirror
        pandera's serialized stats (its ``to_yaml`` always writes them —
        pandera docs, "Schema persistence"), so real-pandera YAML parses
        without loss. Args keep the 2-key form when both flags are
        default, preserving the stored check_yaml byte format."""
        args = {"min_value": min_value, "max_value": max_value}
        if not include_min or not include_max:
            args["include_min"] = bool(include_min)
            args["include_max"] = bool(include_max)

        def fn(c, a):
            lo = (
                c >= F.lit(a["min_value"])
                if a.get("include_min", True)
                else c > F.lit(a["min_value"])
            )
            hi = (
                c <= F.lit(a["max_value"])
                if a.get("include_max", True)
                else c < F.lit(a["max_value"])
            )
            return lo & hi

        return cls("in_range", args, fn)

    @classmethod
    def isin(cls, values: Sequence):
        return cls("isin", list(values), lambda c, a: c.isin(a))

    @classmethod
    def notin(cls, values: Sequence):
        return cls("notin", list(values), lambda c, a: ~c.isin(a))

    @classmethod
    def str_matches(cls, pattern: str):
        return cls("str_matches", pattern, lambda c, a: c.rlike(a))

    @classmethod
    def str_length(cls, min_value=None, max_value=None):
        def fn(c, a):
            p = F.lit(True)
            if a.get("min_value") is not None:
                p = p & (F.length(c) >= F.lit(a["min_value"]))
            if a.get("max_value") is not None:
                p = p & (F.length(c) <= F.lit(a["max_value"]))
            return p
        return cls("str_length", {"min_value": min_value, "max_value": max_value}, fn)

    @classmethod
    def expr(cls, sql: str):
        """qafs-spark extension: any SQL boolean over the column named `value`."""
        return cls("expr", sql, lambda c, a: F.expr(a))

    # --- (de)serialization ---------------------------------------------
    _FACTORIES: Dict[str, Callable] = {}

    def to_dict(self):
        return {self.name: self.args}

    @classmethod
    def from_item(cls, name: str, args: Any) -> "Check":
        """Build a check from a serialized (name, args) item.

        Accepts BOTH public pandera serialization shapes (conformance
        corpus in tests/test_checks_pandera.py):

        * classic stats — scalar (``greater_than: 5``), list
          (``isin: [a, b]``), or stats dict
          (``in_range: {min_value: 0, max_value: 10, ...}``);
        * the options wrapper newer pandera emits —
          ``{value: 5, options: {check_name: ..., raise_warning: ...,
          ignore_na: ...}}``. ``options`` carries enforcement-mode
          details (warn-vs-raise, NA passthrough) that the store decides
          globally (QAFS_RAISE_ERROR / nullable), so it is dropped after
          unwrapping the stats.
        """
        factory = cls._FACTORIES.get(name)
        if factory is None:
            raise FeatureStoreException(f"Unknown check {name!r}")
        if isinstance(args, dict):
            if "options" in args or "value" in args:
                stats = {k: v for k, v in args.items() if k != "options"}
                has_value = "value" in stats
                inner = stats.pop("value", None)
                if has_value and inner is None:
                    # {value: null, options: {...}}: forwarding the null
                    # would build e.g. greater_than(None) — a predicate
                    # comparing against SQL NULL that silently fails
                    # every row. Reject loudly instead.
                    raise FeatureStoreException(
                        f"Check {name!r}: serialized item carries a null "
                        "value — refusing to build a NULL-comparison "
                        "predicate"
                    )
                if stats:
                    if has_value:
                        # scalar factories take the value POSITIONALLY
                        # (param is named `v`, not `value`) — pass it
                        # unwrapped so value+extra-stats items construct
                        return factory(inner, **stats)
                    return factory(**stats)
                if isinstance(inner, dict):
                    return factory(**inner)
                return factory(inner)
            return factory(**args)
        return factory(args)


Check._FACTORIES = {
    "greater_than": Check.greater_than,
    "greater_than_or_equal_to": Check.greater_than_or_equal_to,
    "less_than": Check.less_than,
    "less_than_or_equal_to": Check.less_than_or_equal_to,
    "in_range": Check.in_range,
    "isin": Check.isin,
    "notin": Check.notin,
    "str_matches": Check.str_matches,
    "str_length": Check.str_length,
    "expr": Check.expr,
}


class Column:
    """Declared schema of one feature's value column (pandera-style).

    >>> Column(int, checks=[Check.greater_than(0)])
    >>> Column("float64", nullable=True)
    """

    def __init__(
        self,
        dtype: Any = "object",
        checks: Optional[List[Check]] = None,
        nullable: bool = False,
        name: Optional[str] = None,
        description: Optional[str] = None,
    ):
        if isinstance(checks, Check):
            checks = [checks]
        self.dtype = _canon_dtype(dtype)
        self.checks = checks or []
        self.nullable = nullable
        self.name = name
        self.description = description

    def __repr__(self) -> str:
        return f"Column({self.dtype!r}, checks={self.checks!r}, nullable={self.nullable})"

    # --- YAML parity format (pandera-like) ------------------------------
    def to_yaml(self, name: Optional[str] = None) -> str:
        doc = {
            "schema_type": "dataframe",
            "version": CHECK_YAML_VERSION,
            "columns": {
                (name or self.name or "value"): {
                    "dtype": self.dtype,
                    "nullable": self.nullable,
                    "description": self.description,
                    "checks": {c.name: c.args for c in self.checks} or None,
                }
            },
        }
        return yaml.safe_dump(doc, sort_keys=False)

    @classmethod
    def from_yaml(cls, text: str) -> "Column":
        doc = yaml.safe_load(text)
        if not doc or "columns" not in doc or not doc["columns"]:
            return cls("object", nullable=True)
        name, spec = next(iter(doc["columns"].items()))
        checks = []
        for cname, cargs in (spec.get("checks") or {}).items():
            checks.append(Check.from_item(cname, cargs))
        return cls(
            spec.get("dtype", "object"),
            checks=checks,
            nullable=bool(spec.get("nullable", False)),
            name=name,
            description=spec.get("description"),
        )

    # --- native Spark enforcement ---------------------------------------
    def dtype_ok(self, spark_type: T.DataType) -> bool:
        if self.dtype == "object":
            return True
        fams = _FAMILIES[self.dtype]
        return isinstance(spark_type, fams)

    def validate(self, df: DataFrame, col: str = "value", raise_error: Optional[bool] = None) -> DataFrame:
        """Validate ``df[col]``; returns df unchanged if valid.

        One driver-side schema check + ONE Spark aggregate job covering every
        predicate (single scan, partial aggregation — no row shuffle).
        """
        if not self.dtype_verdict(df, col, raise_error):
            return df
        aggs, names = self._violation_aggs(col)
        if aggs:
            _judge_counts(names, df.agg(*aggs).collect()[0], col, raise_error)
        return df

    def dtype_verdict(
        self, df: DataFrame, col: str = "value", raise_error: Optional[bool] = None
    ) -> bool:
        """Driver-side dtype gate (no job): True when ``df[col]``'s Spark
        type is in the declared family; otherwise raises
        :class:`SchemaError` or, in log mode, logs and returns False."""
        spark_type = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))[col]
        if self.dtype_ok(spark_type):
            return True
        _judge(
            {"dtype": -1},
            f"Column {col!r} has Spark type {spark_type.simpleString()}, "
            f"expected family {self.dtype!r}",
            raise_error,
        )
        return False

    def _violation_aggs(self, col: str):
        """Violation-count aggregate per declared constraint (shared by the
        aggregate job in :meth:`validate` and the observed write path)."""
        aggs, names = [], []
        c = F.col(col)
        if not self.nullable:
            aggs.append(F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("__null"))
            names.append("not_nullable")
        for i, chk in enumerate(self.checks):
            valid = chk.predicate(c)
            # null values are judged by `nullable`, not by the predicate
            bad = F.when(c.isNotNull() & ~valid, 1).otherwise(0)
            aggs.append(F.sum(bad).alias(f"__c{i}"))
            names.append(f"{chk.name}({chk.args})")
        return aggs, names

    def attach_observation(self, df: DataFrame, col: str = "value"):
        """Attach the violation counters to the NEXT action over ``df``.

        Returns ``(df', observation, names)``; after the action has run,
        pass the observation to :meth:`report_observed`. This adds no
        Spark job: the counters ride inside the action's own scan.
        ``write_feature`` attaches them as the last step of its plan,
        above its range exchange, because an observation below the
        exchange also counts the rows of the exchange's sampling job.
        The dtype gate is the caller's (:meth:`dtype_verdict`, driver-
        side). Returns ``(df, None, [])`` when there is nothing to count."""
        aggs, names = self._violation_aggs(col)
        if not aggs:
            return df, None, []
        from pyspark.sql import Observation

        obs = Observation()
        return df.observe(obs, *aggs), obs, names

    def report_observed(self, obs, names, col: str = "value") -> Dict[str, int]:
        """The verdict on the counts of :meth:`attach_observation`'s
        observation once its action has run: raises :class:`SchemaError`
        (``QAFS_RAISE_ERROR`` true, the default) or logs the failures.
        ``write_feature`` calls it after the staged write and before
        the commit, so raising discards the staged files. Returns the
        failure counts."""
        if obs is None:
            return {}
        return _judge_counts(names, obs.get.values(), col)


def _judge_counts(names, counts, col: str, raise_error=None) -> Dict[str, int]:
    """The verdict on violation counts (None, a sum over no rows, counts
    as 0), shared by :meth:`Column.validate` and
    :meth:`Column.report_observed`."""
    failures = {label: int(cnt) for label, cnt in zip(names, counts) if cnt}
    if failures:
        _judge(
            failures,
            f"Schema check failed for column {col!r}: {failures}",
            raise_error,
        )
    return failures


def _judge(failures: Dict[str, int], msg: str, raise_error: Optional[bool]) -> None:
    """Raise ``SchemaError(msg, failures)`` or log ``msg``; None takes
    the mode from ``QAFS_RAISE_ERROR``."""
    if raise_error is None:
        raise_error = _raise_error_enabled()
    if raise_error:
        raise SchemaError(msg, failures)
    logger.error(msg)


def _raise_error_enabled() -> bool:
    return os.environ.get("QAFS_RAISE_ERROR", "true").lower() in ("true", "1", "t")

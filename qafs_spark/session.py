"""SparkSession factory with scale-sane defaults.

Local testing runs ``local[N]``; the same settings are the ones you'd want on
a 1000-executor cluster: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), UTC session timezone (timestamps round-trip exactly
against Parquet/DuckDB/pandas), Arrow transfers for the Pandas-UDF surface,
and partition-type inference off so Hive `partition=` directory keys stay
strings (our derived-pruning predicates compare strings).

Three defaults keep a repeated operation (an index micro-batch, a search,
a feature save or load) at the cost of its execution alone: a
generated-class cache large enough that the second run of a plan shape
compiles nothing, no ``ConvertToLocalRelation`` fold, so per-row work over
a pandas-built frame runs on the executors in generated code instead of
interpreted in the driver's optimizer, and no per-call Python call-site
capture while plans are built. ``extra_conf`` overrides any of them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "qafs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # InferFiltersFromGenerate re-derives `size(arr)>0 AND isnotnull(arr)`
        # below every explode and predicate-pushdown then substitutes the
        # array's FULL defining expression into the filter. Our explodes are
        # over staged expensive arrays (shingle hashes, LSH band keys), where
        # that inferred filter recomputes the array once more per row —
        # measured ~10× slowdown on the dedup family. The rule only helps
        # when exploding raw source columns, which we never do.
        #
        # ConvertToLocalRelation folds every projection and filter over a
        # LocalRelation (what createDataFrame(pandas) builds) into the
        # relation itself, so the optimizer evaluates them on the driver, one
        # row at a time and interpreted, before any job starts. Over a pandas
        # micro-batch that is minhash_index's whole tokenize/shingle/minhash
        # projection (banded apply_batch 1.89 -> 1.39 s and 1.91 -> 1.26 s,
        # in-JVM alternating A/B over two seeds, faster in 13 of 14 adjacent
        # batch pairs) and a pandas save's write projection. Excluded, that
        # work runs on the executors in generated code; jobs per op are
        # unchanged.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate,"
            "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
        )
        # Generated-class cache (a static conf; Spark keeps 100). One index
        # cycle (micro-batch, BM25 search, vector search) needs ~180
        # classes, so a 100-entry LRU evicted them all and every cycle
        # compiled them again: 53 compiles and 0.28 s of Janino per op on
        # perfbench index_stream. 2000 holds a repeating workload several
        # times over (index_stream set-up plus 15 batches: 347 distinct
        # classes; feature_store: 452) with JVM non-heap flat. A one-pass
        # catalog sweep (2258 distinct) and the test suite (5101) exceed
        # it, but run most shapes once: at 2000 they compile 2256 and
        # 5673 classes.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Python call-site capture (a static conf, on by default in
        # PySpark 4). With it on, every DataFrame and Column API call
        # first asks the JVM for the active session and a conf, walks the
        # Python stack, and sets and clears the JVM's current origin: four
        # py4j round trips on top of the call's own. Turning it off alone
        # took a 4-feature hourly load_features build from ~2,700 round
        # trips and ~580 ms to ~1,300 and ~350 ms (in-JVM alternating A/B,
        # local[4], 4-vCPU VM; plans/r19/load_plan_build_ab.txt). Lost:
        # the Python file:line of the failing call in the DataFrame query
        # context of analysis and runtime error messages; the error itself
        # is the same. Set it back to "true" through extra_conf to debug.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

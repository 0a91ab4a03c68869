"""Layer-by-layer tracing of ``qafs_spark``, installed from outside.

The tracer wraps the public functions of each module in place and records
one span per call: name, start, end, parent span, operation id.  Spans stay
in memory and are written out when the run ends.  Functions are wrapped at
every binding a caller reaches them through: ``core`` imports the
feature-dataset functions and the operators by name, so those are wrapped
at ``qafs_spark.core.<name>`` as well as in their home modules; callers
reach ``storage`` as ``fs_storage.<fn>`` and ``Registry``/``Column`` methods
through the class, so those wrap in place.

Spark-side counters come from the application status store (per-stage run
time, CPU, GC, shuffle, spill, input rows), the DAG scheduler's job counter
and ``CodegenMetrics``.  The caller attributes them to an operation by the
range of job ids the operation launched: validation jobs run on helper
threads, which do not inherit a job group.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from typing import Any, Dict, List, Optional, Tuple

# Functions of qafs_spark.storage that touch the filesystem.
STORAGE_FNS = (
    "path_exists", "delete_path", "rename_path", "list_dirs", "dir_signature",
    "mkdirs", "list_files", "create_file_atomic", "write_small_parquet",
    "read_small_file",
)
REGISTRY_METHODS = (
    "create_namespace", "get_namespace", "update_namespace", "delete_namespace",
    "list_namespaces", "create_feature", "get_feature", "update_feature",
    "delete_feature", "list_features",
)
FEATURE_DATASET_FNS = ("write_feature", "read_feature", "compact_feature")
OPERATOR_FNS = {
    "dedup": ("last_write_wins",),
    "align": ("align_features",),
    "resample": ("resample_asof", "resample_agg_multi", "resample_points_multi"),
    "timetravel": ("time_travel_filter",),
}
# Spans that also record the Spark jobs launched inside them.
JOB_COUNTED = {
    "banded_index.apply_batch", "text_index.apply_batch", "vector_index.apply_batch",
}


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "jobs")

    def __init__(self, name: str, start: float, parent: Optional[int], op: Optional[int]):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.op = op
        self.jobs = 0


class Tracer:
    """Installs wrappers on ``install()`` and removes them on ``uninstall()``.
    Spans are recorded only while ``active`` is true, so one installed
    tracer can time some operations with tracing and others without."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.op: Optional[int] = None
        self.spans: List[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: List[Tuple[Any, str, Any]] = []

    # -- wrapping -----------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str) -> None:
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(fn, (staticmethod, classmethod)):
            raise TypeError(f"{owner}.{attr}: wrap the function, not a descriptor")
        tracer = self
        counted = name in JOB_COUNTED

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer._open(name)
            if counted:
                span.jobs = -tracer.next_job_id()
            try:
                return fn(*args, **kwargs)
            finally:
                if counted:
                    span.jobs += tracer.next_job_id()
                tracer._close(span)

        self._saved.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self) -> None:
        import pyspark.sql.readwriter as readwriter
        import qafs_spark.checks as checks
        import qafs_spark.core as core
        import qafs_spark.operators as operators
        import qafs_spark.registry as registry
        import qafs_spark.sources.feature_dataset as fd
        import qafs_spark.storage as storage
        from qafs_spark.operators import align, dedup, resample, timetravel
        from qafs_spark.pipeline import banded_index, text_index, vector_index

        for fn in STORAGE_FNS:
            self._wrap(storage, fn, f"storage.{fn}")
        for m in REGISTRY_METHODS:
            self._wrap(registry.Registry, m, f"registry.{m}")
        for m in ("validate", "attach_observation", "report_observed"):
            self._wrap(checks.Column, m, f"checks.{m}")
        for fn in FEATURE_DATASET_FNS:
            self._wrap(fd, fn, f"feature_dataset.{fn}")
            self._wrap(core, fn, f"feature_dataset.{fn}")
        homes = {"dedup": dedup, "align": align, "resample": resample,
                 "timetravel": timetravel}
        for mod, fns in OPERATOR_FNS.items():
            for fn in fns:
                self._wrap(homes[mod], fn, f"operators.{fn}")
                for binding in (operators, core):
                    if fn in vars(binding):
                        self._wrap(binding, fn, f"operators.{fn}")
        for m in ("save_df", "load_features", "load_dataframe", "last", "first", "compact"):
            self._wrap(core.FeatureStore, m, f"core.{m}")
        for cls, layer, methods in (
            (banded_index.BandedMinHashIndex, "banded_index",
             ("apply_batch", "delete_ids", "scrub_pairs", "compact", "pairs")),
            (text_index.InvertedIndex, "text_index",
             ("apply_batch", "search", "delete_ids", "compact")),
            (vector_index.CellVectorIndex, "vector_index",
             ("apply_batch", "search", "delete_ids", "scrub_pairs", "compact")),
        ):
            for m in methods:
                self._wrap(cls, m, f"{layer}.{m}")
        # the staged write's own job, so validation time past it is visible
        self._wrap(readwriter.DataFrameWriter, "parquet", "spark.write_parquet")

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    # -- spans --------------------------------------------------------------
    def _stack(self) -> List[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> Span:
        st = self._stack()
        span = Span(name, time.perf_counter(), st[-1] if st else None, self.op)
        with self._lock:
            self.spans.append(span)
            st.append(len(self.spans) - 1)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "jobs": s.jobs,
                }) + "\n")

    # -- Spark counters -----------------------------------------------------
    def next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def codegen(self) -> Tuple[int, float]:
        """(compiles so far, compile milliseconds so far).  The time sums
        the compile-time histogram's reservoir, which holds every sample
        until 1028 compiles."""
        jvm = self.spark.sparkContext._jvm
        h = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        vals = h.getSnapshot().getValues()
        return int(h.getCount()), float(jvm.java.util.Arrays.stream(vals).sum())

    def jobs_delta(self, first_job: int, end_job: int) -> Dict[str, float]:
        """Totals over jobs ``first_job .. end_job - 1`` and their stages."""
        from py4j.protocol import Py4JJavaError

        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict(jobs=end_job - first_job, stages=0, tasks=0, run_s=0.0, cpu_s=0.0,
                   gc_s=0.0, shuffle_bytes=0, spill_bytes=0, input_rows=0)
        seen = set()
        for jid in range(first_job, end_job):
            try:
                ids = store.job(jid).stageIds()
            except Py4JJavaError:  # job evicted from the status store
                continue
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never-submitted stage
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["run_s"] += s.executorRunTime() / 1e3
                out["cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                out["input_rows"] += s.inputRecords()
        return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the action just run on
    ``df``, from that QueryExecution's own phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    return float(sum(
        phases.apply(p).durationMs()
        for p in ("analysis", "optimization", "planning") if phases.contains(p)
    ))


# -- per-layer metrics ------------------------------------------------------
# (name, unit, better): the traced run reports exactly these.
LAYER_METRICS = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("registry.calls_per_op", "count", "lower"),
    ("registry.s_per_op", "s", "lower"),
    ("checks.validate_s_per_op", "s", "lower"),
    ("checks.blocking_s_per_op", "s", "lower"),
    ("feature_dataset.write_s_per_op", "s", "lower"),
    ("feature_dataset.files_written_per_op", "count", "lower"),
    ("feature_dataset.bytes_written_per_op", "B", "lower"),
    ("feature_dataset.read_plan_s_per_op", "s", "lower"),
    ("storage.calls_per_op", "count", "lower"),
    ("storage.s_per_op", "s", "lower"),
    *[(f"storage.{fn}.calls_per_op", "count", "lower") for fn in STORAGE_FNS],
    ("core.plan_build_s_per_op", "s", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.executor_run_s_per_op", "s", "lower"),
    ("spark.executor_cpu_s_per_op", "s", "lower"),
    ("spark.gc_s_per_op", "s", "lower"),
    ("spark.shuffle_bytes_per_op", "B", "lower"),
    ("spark.spill_bytes_per_op", "B", "lower"),
    ("spark.input_rows_per_result_row", "ratio", "lower"),
    ("spark.codegen_compiles_per_op", "count", "lower"),
    ("spark.codegen_s_per_op", "s", "lower"),
    ("spark.catalyst_ms_per_op", "ms", "lower"),
    ("banded_index.apply_s_per_batch", "s", "lower"),
    ("banded_index.jobs_per_batch", "count", "lower"),
    ("text_index.apply_s_per_batch", "s", "lower"),
    ("vector_index.apply_s_per_batch", "s", "lower"),
    ("text_index.search_s", "s", "lower"),
    ("vector_index.search_s", "s", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
]

# Counts that repeat exactly between two traced runs of one seed: the
# workload's traffic fingerprint.
FINGERPRINT = (
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "registry.calls_per_op", "storage.calls_per_op",
    *[f"storage.{fn}.calls_per_op" for fn in STORAGE_FNS],
    "feature_dataset.files_written_per_op", "banded_index.jobs_per_batch",
)


def _dur(s: Span) -> float:
    return s.end - s.start


def _mean(xs: List[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(spans: List[Span], records, workload, session_start: float,
                  warmup: float) -> Dict[str, Tuple[float, str]]:
    """Per-layer metrics of a traced run.  ``*_per_op`` values are totals
    over the reads and writes in the fingerprint window (the first
    ``WINDOW_CYCLES`` cycles, all traced) divided by their number;
    per-batch and per-search values average the spans of that kind in the
    window; ``trace.overhead_share`` compares traced and untraced writes
    after it."""
    ops = workload.WRITES + workload.READS
    window = [r for r in records if r.cycle < workload.WINDOW_CYCLES]
    op_ids = {r.id for r in window if r.kind in ops}
    in_window = {r.id for r in window}
    n = max(1, len(op_ids))
    mine = [s for s in spans if s.op in op_ids]

    def outermost(prefix: str) -> List[Span]:
        return [s for s in mine if s.name.startswith(prefix) and not (
            s.parent is not None and spans[s.parent].name.startswith(prefix))]

    def calls(prefix: str) -> float:
        return sum(1 for s in mine if s.name.startswith(prefix)) / n

    def secs(prefix: str) -> float:
        return sum(_dur(s) for s in outermost(prefix)) / n

    def blocking() -> float:
        total = 0.0
        for v in (s for s in mine if s.name == "checks.validate"):
            writes = [w.end for w in mine if w.name == "spark.write_parquet"
                      and w.op == v.op and w.start < v.end]
            total += max(0.0, v.end - max([v.start] + writes))
        return total / n

    def spark_sum(key: str) -> float:
        return sum(r.spark[key] for r in window if r.id in op_ids and r.spark)

    def per_kind(name: str) -> List[Span]:
        return [s for s in spans if s.name == name and s.op in in_window]

    rows = sum(r.rows for r in window if r.id in op_ids)
    # after the window only: the window's writes run earlier, on a colder JVM
    after = [r for r in records if r.kind in workload.WRITES and r.ok
             and r.cycle >= workload.WINDOW_CYCLES]
    traced = [r.latency for r in after if r.traced]
    plain = [r.latency for r in after if not r.traced]
    m: Dict[str, float] = {
        "session.start_s": session_start,
        "session.warmup_s": warmup,
        "registry.calls_per_op": calls("registry."),
        "registry.s_per_op": secs("registry."),
        "checks.validate_s_per_op": secs("checks.validate"),
        "checks.blocking_s_per_op": blocking(),
        "feature_dataset.write_s_per_op": secs("feature_dataset.write_feature"),
        "feature_dataset.files_written_per_op":
            sum(r.files for r in window if r.id in op_ids) / n,
        "feature_dataset.bytes_written_per_op":
            sum(r.bytes for r in window if r.id in op_ids) / n,
        "feature_dataset.read_plan_s_per_op": secs("feature_dataset.read_feature"),
        "storage.calls_per_op": calls("storage."),
        "storage.s_per_op": secs("storage."),
        "core.plan_build_s_per_op": secs("core.load_features"),
        "spark.jobs_per_op": spark_sum("jobs") / n,
        "spark.stages_per_op": spark_sum("stages") / n,
        "spark.tasks_per_op": spark_sum("tasks") / n,
        "spark.executor_run_s_per_op": spark_sum("run_s") / n,
        "spark.executor_cpu_s_per_op": spark_sum("cpu_s") / n,
        "spark.gc_s_per_op": spark_sum("gc_s") / n,
        "spark.shuffle_bytes_per_op": spark_sum("shuffle_bytes") / n,
        "spark.spill_bytes_per_op": spark_sum("spill_bytes") / n,
        "spark.input_rows_per_result_row": spark_sum("input_rows") / max(1, rows),
        "spark.codegen_compiles_per_op":
            sum(r.codegen[0] for r in window if r.id in op_ids) / n,
        "spark.codegen_s_per_op": sum(r.codegen[1] for r in window if r.id in op_ids) / n,
        "spark.catalyst_ms_per_op": sum(r.catalyst_ms for r in window if r.id in op_ids) / n,
        "banded_index.apply_s_per_batch":
            _mean([_dur(s) for s in per_kind("banded_index.apply_batch")]),
        "banded_index.jobs_per_batch": _mean([s.jobs for s in per_kind("banded_index.apply_batch")]),
        "text_index.apply_s_per_batch": _mean([_dur(s) for s in per_kind("text_index.apply_batch")]),
        "vector_index.apply_s_per_batch":
            _mean([_dur(s) for s in per_kind("vector_index.apply_batch")]),
        "text_index.search_s": _mean([_dur(s) for s in per_kind("text_index.search")]),
        "vector_index.search_s": _mean([_dur(s) for s in per_kind("vector_index.search")]),
        "trace.overhead_share": (
            statistics.median(traced) / statistics.median(plain) - 1.0
            if traced and plain else 0.0),
    }
    for fn in STORAGE_FNS:
        m[f"storage.{fn}.calls_per_op"] = calls(f"storage.{fn}")
    return {name: (m[name], unit) for name, unit, _ in LAYER_METRICS}

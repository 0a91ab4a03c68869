#!/usr/bin/env python3
"""Benchmark of the qafs_spark public API, one workload per run.

    python3 perfbench/run.py --workload feature_store --seed 1 --seconds 10 --trace 0

One client thread drives the API in a closed loop: each call waits for the
previous one, as a training job or pipeline driver does.  Spark runs as
``local[N]`` (N = usable CPUs, at most 4) with N shuffle partitions and
``get_spark`` defaults otherwise.  The seed makes every input, the
operation order, the time windows and the batch order.  A run measures
whole cycles of the workload's fixed operation mix until ``--seconds``
have passed, at least two, and reports its best cycle, with times scaled
to a reference host speed by a probe taken before every operation
(perfbench/README.md, "Host noise").  Every operation's output is checked
against pandas or DuckDB over the raw inputs.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run, whose
spans are also written to ``.bench_out/`` at the repository root.  Every
other file the run creates lives in a scratch directory under
``.bench_work/`` that is removed on every exit path.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import stats  # noqa: E402


class Record:
    """One attempted operation."""

    __slots__ = ("id", "kind", "cycle", "latency", "rows", "ok", "traced", "spark",
                 "catalyst_ms", "codegen", "files", "bytes", "cal")

    def __init__(self, op_id: int, kind: str, cycle: int):
        self.id, self.kind, self.cycle = op_id, kind, cycle
        self.latency = 0.0
        self.rows = 0
        self.ok = True
        self.traced = False
        self.spark = None
        self.catalyst_ms = 0.0
        self.codegen = (0, 0.0)
        self.files = self.bytes = 0
        self.cal = 0.0


# -- environment --------------------------------------------------------------
def _descendants(pid: int):
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                out += kids
                todo += kids
        except OSError:
            continue
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _alive(pid: int) -> bool:
    """Running and not a zombie (workers orphaned by the JVM are reaped by
    init, or by nobody in a container without one)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def memory_mb(spark) -> dict:
    """Peak resident set (VmHWM) of this driver and of the Spark JVM, and
    the JVM heap still in use after a full collection."""
    jvms = [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return {"driver": _hwm_mb("self"), "jvm": sum(_hwm_mb(p) for p in jvms),
            "jvm_live_heap": heap.getUsed() / 2**20}


def start_spark(work: Path, cores: int):
    """A SparkSession whose every scratch file lands under ``work``.
    Python workers need the repository on PYTHONPATH (the vector index
    ships code to them) and inherit it from this process."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    import tempfile

    tempfile.tempdir = str(tmp)
    from qafs_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and the Python workers it forked,
    and wait for each to end."""
    from pyspark import SparkContext

    children = _descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            finally:
                proc = gw.proc
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 15
        while time.monotonic() < deadline and any(_alive(p) for p in children):
            time.sleep(0.1)
        for p in children:
            if _alive(p):
                os.kill(p, signal.SIGKILL)


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def parquet_files(path: str):
    """{file: size} of every parquet file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


# What calibrate() takes on the reference host: a shared 4-vCPU VM.
CAL_REF_S = 0.020


def calibrate() -> float:
    """Seconds a fixed pure-Python loop takes now: a probe of host speed,
    taken before every operation and outside its timing."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc += i * i % 7
    return time.perf_counter() - t0


# -- the run ------------------------------------------------------------------
# Every run measures at least this many cycles and reports the best one:
# host slowdowns on a shared machine last about a cycle (10 s).
MIN_CYCLES = 2
# Whatever need_more asks, the loop stops this long after its start, so a
# run ends within 180 s even on a slow host.
HARD_STOP_S = 110


def need_more(wl, records, tracer, cycle: int) -> bool:
    """Whether the loop must start ``cycle`` although its deadline passed:
    every run needs ``MIN_CYCLES``, and a traced run its fingerprint window
    plus one untraced and one traced cycle after it, to measure tracing
    overhead."""
    if cycle < MIN_CYCLES:
        return True
    return tracer is not None and cycle < wl.WINDOW_CYCLES + 2


def run(args, work: Path) -> dict:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    t0 = time.perf_counter()
    spark = start_spark(work, cores)
    try:
        session_start = time.perf_counter() - t0
        t0 = time.perf_counter()
        import pandas as pd

        spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0]})).toPandas()  # JVM + Arrow
        warmup = time.perf_counter() - t0

        wl = WORKLOADS[args.workload](spark, str(work / "root"), args.seed)
        wl.setup()
        tracer = tr.Tracer(spark) if args.trace else None
        if tracer:
            tracer.install()
        sc = spark.sparkContext
        records, outcomes = [], stats.Outcomes()
        setup_s = time.perf_counter() - PROCESS_START
        loop_start = time.perf_counter()
        cycle = None
        for i, op in enumerate(wl.plan(args.seed)):
            elapsed = time.perf_counter() - loop_start
            if elapsed >= HARD_STOP_S:
                break
            if op["cycle"] != cycle:  # runs end on a cycle boundary: every run has the same mix
                if elapsed >= args.seconds and not need_more(wl, records, tracer, op["cycle"]):
                    break
                cycle = op["cycle"]
            prepared = wl.prepare(op)
            rec = Record(op["id"], op["kind"], cycle)
            # after the window, cycles alternate untraced / traced
            rec.traced = tracer is not None and (
                cycle < wl.WINDOW_CYCLES or (cycle - wl.WINDOW_CYCLES) % 2 == 1)
            if rec.traced:
                tracer.op, tracer.active = op["id"], True
                job0, cg0 = tracer.next_job_id(), tracer.codegen()
                files0 = parquet_files(f"{wl.root}/feature")
            rec.cal = calibrate()
            sc.setJobGroup(f"perfbench:{args.workload}:{op['id']}", op["kind"])
            outcomes.attempt(op["id"])
            start = time.perf_counter()
            try:
                result = wl.execute(prepared)
            except Exception as e:  # an operation that raises is a failed operation
                rec.latency = time.perf_counter() - start
                rec.ok = False
                outcomes.fail(op["id"], f"{op['kind']} raised {type(e).__name__}: {e}")
                result = None
            else:
                rec.latency = time.perf_counter() - start
            finally:
                if tracer:
                    tracer.active = False
            if result is not None:
                rec.rows = result.rows
                reason = wl.check(prepared, result)
                if reason:
                    rec.ok = False
                    outcomes.fail(op["id"], reason)
            if rec.traced:
                rec.spark = tracer.jobs_delta(job0, tracer.next_job_id())
                cg1 = tracer.codegen()
                rec.codegen = (cg1[0] - cg0[0], (cg1[1] - cg0[1]) / 1e3)
                if result is not None and result.df is not None:
                    rec.catalyst_ms = tr.catalyst_ms(result.df)
                files1 = parquet_files(f"{wl.root}/feature")
                new = files1.keys() - files0.keys()
                rec.files, rec.bytes = len(new), sum(files1[f] for f in new)
            records.append(rec)
        sc.setJobGroup("perfbench:final", "final check")
        loop_end = time.perf_counter()
        for op_id, reason in wl.final_check().items():
            outcomes.fail(op_id, reason)
        for r in records:
            r.ok = r.ok and r.id not in outcomes.failed
        mem = memory_mb(spark)
        stored = du(wl.root)
        if tracer:
            tracer.uninstall()
            out = ROOT / ".bench_out"
            out.mkdir(exist_ok=True)
            tracer.write(str(out / f"spans-{args.workload}-seed{args.seed}.jsonl"))
        check_s = time.perf_counter() - loop_end
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        teardown_s = time.perf_counter() - t0

    def latencies(kinds, recs=records):
        return [r.latency for r in recs if r.kind in kinds and r.ok]

    by_cycle = [[r for r in records if r.cycle == c] for c in sorted({r.cycle for r in records})]

    def best(value, pick, sign=1):
        return stats.best_cycle(by_cycle, value, pick, CAL_REF_S, sign)

    def p50(kinds):
        return lambda rs: stats.median(latencies(kinds, rs))

    t = stats.tail(latencies(wl.WRITES + wl.READS))
    summary = {
        "setup_s": (setup_s, "s"),
        "write_p50_s": (best(p50(wl.WRITES), min), "s"),
        "write_rows_per_s": (best(wl.write_rows_per_s, max, -1), "rows/s"),
        "reads_per_s": (best(wl.reads_per_s, max, -1), "1/s"),
        "stored_bytes_per_row": (stored / wl.rows_committed, "B/row"),
        "driver_peak_rss_mb": (mem["driver"], "MB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "attempted": outcomes.n_attempted, "failed": outcomes.n_failed,
        "failed_op_share": outcomes.failed_share(),
        "first_failure": outcomes.first_failure(),
        "peak_rss_mb": mem["driver"] + mem["jvm"], "jvm_peak_rss_mb": mem["jvm"],
        "jvm_live_heap_mb": mem["jvm_live_heap"],
        "cycles": len(by_cycle),
        "read_p50_s": best(p50(wl.READS), min),
        "probe_s_by_cycle": [stats.median(r.cal for r in rs) for rs in by_cycle],
        "unscaled": {"write_p50_s": best(p50(wl.WRITES), min, 0),
                     "read_p50_s": best(p50(wl.READS), min, 0),
                     "write_rows_per_s": best(wl.write_rows_per_s, max, 0),
                     "reads_per_s": best(wl.reads_per_s, max, 0)},
        "ops": [[r.kind, r.cycle, r.latency, r.rows, r.cal] for r in records],
        "op_p50_s": stats.median(latencies(wl.WRITES + wl.READS)),
        "op_tail": t,
        "p50_s_by_kind": {k: stats.median(latencies((k,))) for k in wl.WRITES + wl.READS},
        "maintenance_s": sum(r.latency for r in records if r.kind in wl.MAINTENANCE),
        "kinds": {k: sum(1 for r in records if r.kind == k) for k in sorted({r.kind for r in records})},
        "final_check_s": check_s, "teardown_s": teardown_s,
    }
    if tracer:
        metrics = tr.layer_metrics(tracer.spans, records, wl, session_start, warmup)
        detail["fingerprint"] = {k: metrics[k][0] for k in tr.FINGERPRINT}
    else:
        metrics = summary
    return {"metrics": metrics, "detail": detail, "outcomes": outcomes}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("feature_store", "index_stream"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "qafs_spark" / "__init__.py").is_file():
        print(f"qafs_spark not found under {ROOT}", file=sys.stderr)
        return 2

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    cwd = os.getcwd()
    os.chdir(work)  # anything Spark drops in the working directory stays here
    try:
        res = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # unless another run is using it
        except OSError:
            pass
    out = res["outcomes"]
    for name, (value, unit) in res["metrics"].items():
        print(f"# {name:42s} {value:>16.6g} {unit}")
    print("# detail " + json.dumps(res["detail"], default=str))
    print(json.dumps({
        "correct": out.n_failed == 0,
        "attempted": out.n_attempted,
        "failed": out.n_failed,
        # a metric with no successful sample is null, not NaN
        "metrics": {k: {"value": None if v != v else v, "unit": u}
                    for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

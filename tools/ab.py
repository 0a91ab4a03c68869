#!/usr/bin/env python3
"""In-JVM alternating A/B: two ways of doing the same work, one process.

Host speed on a shared box drifts 20-30 % hour to hour, so two runs in
separate processes compare the hour as much as the code. ``run_ab`` runs
both sides in one JVM instead:

1. an equality gate: one untimed run of each side, whose outputs must be
   equal before anything is timed (it also warms both sides up);
2. ``pairs`` timed pairs in alternating order (A then B, then B then A),
   each pair's outputs compared again;
3. per metric, the median of each side and the pairs B wins (lower is
   better for every metric this module reports).

``import_tree`` imports the ``qafs_spark`` package of another checkout
under another module name, so a parent commit and a change share one
session and one store.

Scenario ``load``, the feature-store reads of perfbench ``feature_store``
(one-feature daily as-of, 4-feature hourly assembly, time travel, 6-hourly
mean, small-window ``load_dataframe``, ``last``/``first``) over the same
seeded data::

    python tools/ab.py load --a-tree PARENT_CHECKOUT [--pairs 14] [--seed 7]

Side A runs the package of ``--a-tree`` with PySpark's per-call call-site
capture on (the PySpark default), side B this checkout's package with it
off (the ``get_spark`` default). ``--a-capture``/``--b-capture`` override
either; capture is toggled in one JVM through
``pyspark.errors.utils._enable_debugging_cache``, which is all that
``spark.python.sql.dataFrameDebugging.enabled`` drives on the Python side.
Per read it records plan-build ms (the lazy ``load_features`` call), py4j
round trips during the build, total latency, Spark jobs and generated-class
compiles.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
from typing import Any, Callable, Dict, List, Optional, Tuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

Side = Callable[[int], Tuple[Any, Dict[str, float]]]


def run_ab(label: str, a: Side, b: Side, pairs: int = 10,
           same: Callable[[Any, Any], bool] = lambda x, y: x == y,
           log: Callable[[str], None] = print) -> Dict[str, Dict[str, float]]:
    """Alternating A/B of ``a`` and ``b``. Each side takes the pair index
    (so both sides of a pair see the same input) and returns ``(output,
    metrics)``. Raises ``AssertionError`` when the outputs of a pair
    differ, the untimed gate included. Returns, per metric, the median of
    each side, their ratio and the pairs that B won (B lower)."""
    out_a, _ = a(-1)
    out_b, _ = b(-1)
    assert same(out_a, out_b), f"{label}: outputs differ at the gate"
    log(f"# {label} gate: outputs equal")
    runs: Dict[str, List[Dict[str, float]]] = {"A": [], "B": []}
    sides = {"A": a, "B": b}
    for i in range(pairs):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        outs = {}
        for name in order:
            outs[name], metrics = sides[name](i)
            runs[name].append(metrics)
        assert same(outs["A"], outs["B"]), f"{label}: outputs differ in pair {i}"
        log(f"# {label} pair {i} {'/'.join(order)}: "
            + "  ".join(f"{k} {runs['A'][-1][k]:g}|{runs['B'][-1][k]:g}"
                        for k in runs["A"][-1]))
    summary: Dict[str, Dict[str, float]] = {}
    for k in runs["A"][0]:
        va = [r[k] for r in runs["A"]]
        vb = [r[k] for r in runs["B"]]
        ma, mb = statistics.median(va), statistics.median(vb)
        summary[k] = {"A": ma, "B": mb, "ratio": mb / ma if ma else float("nan"),
                      "b_wins": sum(y < x for x, y in zip(va, vb)), "pairs": pairs}
        log(f"{label} {k}: A {ma:g}  B {mb:g}  B/A {summary[k]['ratio']:.3f}  "
            f"B lower in {summary[k]['b_wins']}/{pairs} pairs")
    return summary


def import_tree(root: str, alias: str):
    """The ``qafs_spark`` package under ``root``, imported as ``alias``.
    The package imports itself relatively, so the copy is independent of
    ``qafs_spark`` proper."""
    init = os.path.join(root, "qafs_spark", "__init__.py")
    spec = importlib.util.spec_from_file_location(
        alias, init, submodule_search_locations=[os.path.dirname(init)])
    mod = importlib.util.module_from_spec(spec)
    sys.modules[alias] = mod
    spec.loader.exec_module(mod)
    return mod


class Counters:
    """py4j round trips, Spark jobs and generated-class compiles of one
    session, read as deltas."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.round_trips = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        me = threading.get_ident()

        def counting(*args, **kwargs):
            # py4j's finalizer thread releases freed proxies on its own
            # schedule; count the measuring thread's round trips only
            if threading.get_ident() == me:
                self.round_trips += 1
            return send(*args, **kwargs)

        client.send_command = counting  # JavaObjects call it through the client
        jvm = spark.sparkContext._jvm
        self._compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                          .METRIC_COMPILATION_TIME())

    def snapshot(self) -> Tuple[int, int, int]:
        rt = self.round_trips
        jobs = int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
        compiles = int(self._compiles.getCount())
        # the two reads above are round trips of the counter, not the work
        self.round_trips = rt
        return rt, jobs, compiles


# ---------------------------------------------------------------------------
# scenario: feature-store loads
# ---------------------------------------------------------------------------
KINDS = ("load_1d", "assemble_1h", "time_travel", "mean_6h", "small_window", "lookup")


def _store_setup(spark, root: str, seed: int):
    """The train features perfbench ``feature_store`` reads."""
    import numpy as np

    from perfbench import fixtures
    from perfbench.workloads import FeatureStoreWorkload as W
    from qafs_spark import Check, Column, FeatureStore

    fs = FeatureStore(storage=root, spark=spark)
    fs.create_namespace("train")
    series = fixtures.event_series(np.random.default_rng(seed))
    for k in range(W.N_TRAIN):
        name = f"train/f{k}"
        fs.create_feature(name, check=Column(float, checks=[Check.in_range(-1e6, 1e6)]))
        frame = series.assign(value=np.round(series["value"] * (k + 1) + k, 2))
        fs.save_df(spark.createDataFrame(frame.rename(columns={"value": name})).coalesce(1))
        if k in W.COMPACTED:
            fs.compact(name, collapse_lww=True)


def _load_call(kind: str, op: Dict[str, Any]) -> Dict[str, Any]:
    """The ``load_features`` arguments of perfbench ``feature_store``'s read
    ``op`` (its ``FeatureStoreWorkload._read_params`` output)."""
    from perfbench.workloads import FeatureStoreWorkload as W

    name = f"train/f{op.get('feature')}"
    window = {"from_date": op.get("start"), "to_date": op.get("end")}
    if kind == "assemble_1h":
        return {"features": [f"train/f{k}" for k in range(W.N_TRAIN)], "freq": "1h", **window}
    if kind == "load_1d":
        return {"features": name, "freq": "1d", **window}
    if kind == "mean_6h":
        return {"features": name, "freq": "6h", "method": "mean", **window}
    if kind == "time_travel":
        return {"features": name, "time_travel": op["delta"], **window}
    if kind == "small_window":
        return {"features": name, **window}
    return {"features": name, "last": op["last"]}


def _load_side(fs, kind: str, params: Callable[[int], Dict[str, Any]],
               counters: Counters, capture: bool) -> Side:
    import pyspark.errors.utils as perr

    def side(i: int):
        p = dict(params(i))
        perr._enable_debugging_cache = capture
        rt0, jobs0, cc0 = counters.snapshot()
        t0 = time.perf_counter()
        build_ms = rt_build = float("nan")
        if kind == "lookup":
            name = p.pop("features")
            out = (fs.last if p.pop("last") else fs.first)(name)[name]
        elif kind == "small_window":
            out = fs.load_dataframe(p.pop("features"), **p)
            out = out.reset_index().to_dict("list")
        else:
            df = fs.load_features(p.pop("features"), **p)
            build_ms = (time.perf_counter() - t0) * 1e3
            rt_build = counters.round_trips - rt0
            out = df.toPandas().sort_values("time").reset_index(drop=True).to_dict("list")
        latency = time.perf_counter() - t0
        rt1, jobs1, cc1 = counters.snapshot()
        return out, {"latency_s": round(latency, 4), "build_ms": round(build_ms, 1),
                     "round_trips_build": rt_build, "round_trips": rt1 - rt0,
                     "jobs": jobs1 - jobs0, "compiles": cc1 - cc0}

    return side


def _same(x, y) -> bool:
    """Equal outputs, NaN equal to NaN."""
    import pandas as pd

    if isinstance(x, dict):
        return x.keys() == y.keys() and all(
            pd.Series(x[k]).equals(pd.Series(y[k])) for k in x)
    return x == y or (x != x and y != y)


def scenario_load(args) -> None:
    from perfbench.workloads import FeatureStoreWorkload
    from qafs_spark.session import get_spark

    spark = get_spark(app_name="ab-load", master=f"local[{args.cores}]",
                      shuffle_partitions=args.cores)
    counters = Counters(spark)
    a_pkg = import_tree(args.a_tree, "qafs_ab_a")
    b_pkg = import_tree(args.b_tree, "qafs_ab_b")
    root = tempfile.mkdtemp(prefix="ab-load-")
    try:
        _store_setup(spark, root, args.seed)
        stores = {"A": a_pkg.FeatureStore(storage=root, spark=spark),
                  "B": b_pkg.FeatureStore(storage=root, spark=spark)}
        capture = {"A": args.a_capture == "on", "B": args.b_capture == "on"}
        print(f"# load A/B: A={args.a_tree} capture {args.a_capture}; "
              f"B={args.b_tree} capture {args.b_capture}; seed {args.seed}, "
              f"{args.pairs} pairs, local[{args.cores}]", flush=True)
        for kind in args.kinds:
            rng = random.Random(f"{args.seed}-{kind}")
            windows = {i: _load_call(kind, FeatureStoreWorkload._read_params(kind, rng))
                       for i in range(-1, args.pairs)}
            sides = [_load_side(stores[s], kind, windows.__getitem__, counters,
                                capture[s]) for s in ("A", "B")]
            run_ab(kind, *sides, pairs=args.pairs, same=_same,
                   log=lambda line: print(line, flush=True))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


def main(argv: Optional[List[str]] = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="scenario", required=True)
    ld = sub.add_parser("load", help="feature-store reads, two trees")
    ld.add_argument("--a-tree", required=True)
    ld.add_argument("--b-tree", default=ROOT)
    ld.add_argument("--a-capture", choices=("on", "off"), default="on")
    ld.add_argument("--b-capture", choices=("on", "off"), default="off")
    ld.add_argument("--pairs", type=int, default=14)
    ld.add_argument("--seed", type=int, default=7)
    ld.add_argument("--cores", type=int, default=4)
    ld.add_argument("--kinds", nargs="+", default=list(KINDS), choices=KINDS)
    args = ap.parse_args(argv)
    scenario_load(args)


if __name__ == "__main__":
    main()

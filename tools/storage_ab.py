#!/usr/bin/env python3
"""In-JVM alternating A/B of ``qafs_spark.storage`` against an earlier
revision of the same module.

The base variant is ``qafs_spark/storage.py`` as committed at ``--base``,
loaded from git as a separate module; the head variant is the working
tree's. A variant is switched in by rebinding the storage functions on
``qafs_spark.storage``, the attribute every caller reaches them through,
so both run in one JVM against one store and host drift cancels across
pairs. Each pair runs both variants, alternating which goes first:

* ``save_df`` of a 100k-row Spark frame (720 hourly timestamps over 30
  day partitions, one file each) into a new feature (``spark_new``: the
  commit creates every partition directory) and into one saved before
  (``spark``), and of a 745-row pandas frame into one saved before; each
  variant writes only its own checked float features. ``storage_s`` is
  the time spent inside storage functions during the save;
* ``read_small_file`` of a missing path, per call, over 50 calls.

Every save is checked afterwards: both variants' features hold the same
row counts.

Usage: python tools/storage_ab.py --base <git-rev> [--pairs 12]
"""
import argparse
import functools
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

from perfbench import fixtures  # noqa: E402
from qafs_spark import Check, Column, FeatureStore  # noqa: E402
from qafs_spark import storage  # noqa: E402
from qafs_spark.session import get_spark  # noqa: E402

FNS = (
    "path_exists", "delete_path", "rename_path", "list_dirs", "dir_signature",
    "mkdirs", "list_files", "create_file_atomic", "write_small_parquet",
    "read_small_file",
)
MISSING_READS = 50


def load_base(rev: str) -> types.ModuleType:
    src = subprocess.run(
        ["git", "-C", REPO, "show", f"{rev}:qafs_spark/storage.py"],
        check=True, capture_output=True, text=True,
    ).stdout
    mod = types.ModuleType("storage_base")
    exec(compile(src, f"{rev}:qafs_spark/storage.py", "exec"), mod.__dict__)
    return mod


def timed_variant(mod, clock):
    """``mod``'s storage functions, each adding its wall time to ``clock``."""
    def wrap(fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                clock[0] += time.perf_counter() - t0
        return timed
    return {name: wrap(getattr(mod, name)) for name in FNS}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--pairs", type=int, default=12)
    args = ap.parse_args()

    cores = min(4, os.cpu_count() or 1)
    spark = get_spark(app_name="storage-ab", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    clock = [0.0]
    variants = {
        "base": timed_variant(load_base(args.base), clock),
        "head": timed_variant(storage, clock),
    }
    root = tempfile.mkdtemp(prefix="storage_ab_")
    fs = FeatureStore(storage=root, spark=spark)
    fs.create_namespace("ab")
    check = Column(float, checks=[Check.in_range(-1e6, 1e6), Check.greater_than(-1e6)])
    for v in variants:
        for kind in ("spark", "pandas"):
            fs.create_feature(f"ab/{v}_{kind}", check=check)
    runs = {v: 0 for v in variants}
    rng = np.random.default_rng(0)
    series = fixtures.event_series(rng)
    base_df = spark.createDataFrame(series).coalesce(1).cache()
    base_df.count()
    hourly = fixtures.hourly_frame(rng)

    def run(v: str) -> dict:
        for name, fn in variants[v].items():
            setattr(storage, name, fn)
        out = {}
        runs[v] += 1
        fresh = f"ab/{v}_spark_new{runs[v]}"
        fs.create_feature(fresh, check=check)
        for kind, name in (("spark_new", fresh), ("spark", f"ab/{v}_spark"),
                           ("pandas", f"ab/{v}_pandas")):
            frame = (hourly.rename(columns={"value": name}) if kind == "pandas"
                     else base_df.withColumnRenamed("value", name))
            clock[0] = 0.0
            t0 = time.perf_counter()
            fs.save_df(frame)
            out[f"save_{kind}_s"] = time.perf_counter() - t0
            out[f"save_{kind}_storage_s"] = clock[0]
        missing = os.path.join(root, "no_such_lease")
        per_call = []
        for _ in range(MISSING_READS):
            t0 = time.perf_counter()
            assert storage.read_small_file(spark, missing) is None
            per_call.append(time.perf_counter() - t0)
        out["read_missing_ms"] = statistics.median(per_call) * 1e3
        return out

    for v in variants:  # warm-up, not recorded
        run(v)
    res = {v: [] for v in variants}
    try:
        for i in range(args.pairs):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for v in order:
                res[v].append(run(v))
            print(f"# pair {i} order={'/'.join(order)} "
                  + " ".join(f"{v}.{k}={res[v][-1][k]:.4f}"
                             for v in variants for k in res[v][-1]), flush=True)
        for kind in ("spark", "pandas", f"spark_new{args.pairs}"):
            counts = {v: fs.load_dataframe(f"ab/{v}_{kind}").shape[0] for v in variants}
            assert counts["base"] == counts["head"], counts
            print(f"# rows ab/*_{kind}: {counts}")
        for key in res["base"][0]:
            b = [r[key] for r in res["base"]]
            h = [r[key] for r in res["head"]]
            wins = sum(y < x for x, y in zip(b, h))
            print(f"{key}: base median={statistics.median(b):.4f} "
                  f"head median={statistics.median(h):.4f} "
                  f"head wins {wins}/{len(b)} pairs")
    finally:
        for name in FNS:
            setattr(storage, name, variants["head"][name].__wrapped__)
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

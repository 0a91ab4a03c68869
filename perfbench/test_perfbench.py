"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

import json
from pathlib import Path

import pytest

from perfbench import stats, trace
from perfbench.workloads import WORKLOADS, FeatureStoreWorkload, IndexStream

HERE = Path(__file__).resolve().parent


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    t = stats.tail(range(25, 0, -1))  # 1..25, unsorted
    assert t == {"value": 15, "percentile": 60.0, "n": 25, "beyond": 10}
    assert stats.tail(range(11)) == {"value": 0, "percentile": 100 / 11, "n": 11, "beyond": 10}


def test_tail_falls_back_to_lowest_sample_below_eleven():
    assert stats.tail([3.0, 1.0, 2.0]) == {"value": 1.0, "percentile": 100 / 3, "n": 3, "beyond": 2}
    assert stats.tail([])["n"] == 0


def test_failures_count_once_against_attempts():
    out = stats.Outcomes()
    for op in range(4):
        out.attempt(op)
    out.fail(1, "raised")
    out.fail(1, "also failed its check")
    out.fail(3, "mismatch")
    assert (out.n_attempted, out.n_failed) == (4, 2)
    assert out.failed_share() == 0.5
    assert out.first_failure() == "raised"
    with pytest.raises(ValueError):
        out.fail(9, "never attempted")


def test_best_cycle_scales_to_reference_host_speed():
    class R:
        def __init__(self, latency, cal):
            self.latency, self.cal = latency, cal

    slow = [R(3.0, 0.03), R(3.0, 0.03)]  # host at 2/3 speed: 2 s at reference
    fast = [R(2.2, 0.02), R(2.2, 0.02)]
    mean = lambda rs: sum(r.latency for r in rs) / len(rs)  # noqa: E731
    assert stats.best_cycle([slow, fast], mean, min, 0.02) == pytest.approx(2.0)
    assert stats.best_cycle([slow, fast], mean, min, 0.02, sign=0) == pytest.approx(2.2)
    rate = lambda rs: 1 / mean(rs)  # noqa: E731
    assert stats.best_cycle([slow, fast], rate, max, 0.02, sign=-1) == pytest.approx(0.5)
    assert stats.best_cycle([[R(float("nan"), 0.02)], fast], mean, min, 0.02) == pytest.approx(2.2)


@pytest.mark.parametrize("wl", [FeatureStoreWorkload, IndexStream])
def test_same_seed_same_operation_sequence(wl):
    assert wl.plan(7) == wl.plan(7)
    assert [op["id"] for op in wl.plan(7)] == list(range(len(wl.plan(7))))
    assert {op["kind"] for op in wl.plan(7)} <= set(wl.WRITES + wl.READS + wl.MAINTENANCE)


def test_different_seeds_give_different_windows_and_batch_orders():
    def windows(seed):
        return [(op["start"], op["end"]) for op in FeatureStoreWorkload.plan(seed) if "start" in op]

    def kinds(seed):
        return [op["kind"] for op in FeatureStoreWorkload.plan(seed)]

    def batch_order(seed):
        return [op["slot"] for op in IndexStream.plan(seed) if op["kind"] == "batch"]

    assert windows(1) != windows(2)
    assert kinds(1) != kinds(2)
    assert batch_order(1) != batch_order(2)
    for seed in (1, 2):  # every batch but the one applied during set-up, once
        assert sorted(batch_order(seed) + IndexStream.batch_order(seed)[:1]) == list(
            range(IndexStream.N_BATCHES))


def test_every_cycle_has_the_same_mix():
    cycle = sorted(FeatureStoreWorkload.CYCLE)
    for seed in (1, 2):
        ops = [op["kind"] for op in FeatureStoreWorkload.plan(seed) if op["kind"] != "compact"]
        for i in range(0, len(ops), len(cycle)):
            assert sorted(ops[i:i + len(cycle)]) == cycle


def test_read_windows_stay_inside_the_data():
    for op in FeatureStoreWorkload.plan(3):
        if "start" in op:
            assert "2024-01-01" <= op["start"] < op["end"] <= "2024-01-30 23:00:00"


def test_benchmark_json_matches_the_code():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in trace.LAYER_METRICS
    ]
    assert spec["paths"] == ["perfbench"]

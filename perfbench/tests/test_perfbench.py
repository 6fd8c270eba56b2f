"""The benchmark's own tests: each workload end to end at a tiny size, and
a corrupted expected answer showing up as failed operations.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, run  # noqa: E402

TINY = {
    "batch_etl": {"rows": 300},
    "stream_upsert": {"seed_keys": 400, "poll": 40},
    "query_mix": {"sf": 0.001, "queries": ("events_by_type", "q1_pricing_summary", "star_join_region_revenue")},
}


@pytest.fixture(scope="module", autouse=True)
def _stop_session():
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


@pytest.mark.parametrize("workload", sorted(TINY))
@pytest.mark.parametrize("trace", [False, True])
def test_tiny_run_is_correct(workload, trace, tmp_path):
    res = run.run(workload, 7, 0.0, trace, str(tmp_path), **TINY[workload])
    assert res["failed"] == 0, res["failures"]
    assert res["attempted"] >= 3
    e2e = res["end_to_end"]
    assert set(e2e) == set(run.UNITS)
    assert all(v > 0 and math.isfinite(v) for v in e2e.values()), e2e
    if trace:
        assert set(run.layer_metrics()) <= set(res["per_layer"])
        assert all(math.isfinite(v) for v in res["per_layer"].values()), res["per_layer"]


def test_corrupted_expectation_counts_as_failed(tmp_path, monkeypatch):
    real = gen.write_calldata_csv

    def off_by_one(path, n_rows, seed):
        exp = real(path, n_rows, seed)
        exp.kept += 1
        return exp

    monkeypatch.setattr(gen, "write_calldata_csv", off_by_one)
    res = run.run("batch_etl", 7, 0.0, False, str(tmp_path), **TINY["batch_etl"])
    assert res["attempted"] >= 3
    assert res["failed"] == res["attempted"]
    assert res["end_to_end"]["ok_frac"] == 0.0


def test_stream_expectation_is_last_write_wins():
    g = gen.StreamGenerator(3)
    polls = [g.poll(400) for _ in range(10)]
    for key, ids in g.state.latest.items():
        last = max(i for i, p in enumerate(polls) if any(r["cad_event_number"] == key for r in p))
        newest = [r for r in polls[last] if r["cad_event_number"] == key]
        # a key whose newest rows were all quarantined keeps an older row
        if any(r["priority"] in gen.PRIORITIES and r["call_type"] for r in newest):
            assert ids == {r["call_sign_dispatch_id"] for r in newest
                           if r["priority"] in gen.PRIORITIES and r["call_type"]}
    bad = sum(1 for p in polls for r in p if r["priority"] not in gen.PRIORITIES or not r["call_type"])
    assert g.state.quarantined == bad


def test_benchmark_json_names_what_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in spec[key]]
    assert len(names) == len(set(names))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        name: run._layer_unit(name) for name in run.layer_metrics()
    }
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_first_operation_is_never_traced():
    assert [harness.traced_op(True, i) for i in range(9)] == [False, True, False, False, True, True, False, False, True]
    ops = range(1, harness.min_ops(True))
    assert sum(harness.traced_op(True, i) for i in ops) == harness.MIN_SAMPLES
    assert not any(harness.traced_op(False, i) for i in range(4))
    assert harness.min_ops(False) == 1 + harness.MIN_SAMPLES
    assert harness.min_ops(True) == 1 + 2 * harness.MIN_SAMPLES


def test_store_amplification_is_read_at_a_traced_epoch():
    from perfbench.stream_upsert import AMP_EPOCH

    assert AMP_EPOCH < harness.min_ops(True) and harness.traced_op(True, AMP_EPOCH)


def test_window_opens_after_the_first_operation():
    ctx = harness.Ctx("batch_etl", 7, 0.0, False, "")
    assert [ctx.keep_going(i) for i in range(harness.min_ops(False) + 2)] == [True] * harness.min_ops(False) + [False] * 2
    assert ctx.window_start > 0

"""The one bench regression rule (tools/bench_regress.py), shared by
its CLI and bench.py's ``flags`` field."""

from __future__ import annotations

from bench import _flagged
from tools.bench_regress import regressions

OLD = {"a": 1.0, "b": 1.0, "c": 1.0, "d": 2.0, "zero": 0.0}
NEW = {"a": 2.0, "b": 2.0, "c": 2.2, "d": 9.0, "zero": 1.0, "only_new": 3.0}


def test_host_median_normalizes_uniform_drift():
    # host = median(2.0, 2.0, 2.2, 4.5) = 2.1: the 2x fleet drift is not a
    # regression; d (4.5x) is, 9.0 > 1.3 * 2.0 * 2.1 + 0.5.
    flagged, host = regressions(OLD, NEW, threshold=1.3, grace=0.5)
    assert host == 2.1
    assert flagged == ["d"]


def test_raw_times_without_host_norm():
    flagged, host = regressions(OLD, NEW, threshold=1.3, grace=0.5, host_norm=False)
    assert host == 1.0
    assert flagged == ["a", "b", "c", "d"]


def test_bench_flags_use_the_same_rule():
    prev = {"sf": 0.1, "queries": OLD}
    assert _flagged(prev, NEW, 0.1) == ["d"]
    assert _flagged(prev, NEW, 0.01) is None  # SF mismatch
    assert _flagged({"sf": 0.1, "queries": {"x": 1.0}}, NEW, 0.1) is None  # no overlap

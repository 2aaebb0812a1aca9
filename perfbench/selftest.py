"""Self-tests for the benchmark's own arithmetic (no Spark needed).

    python3 perfbench/selftest.py

``run.py`` also calls ``run()`` before every measurement.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def _close(a: float, b: float) -> bool:
    return abs(a - b) < 1e-9


def test_tail_percentile() -> None:
    # exactly ten samples stay above the tail percentile's rank
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(57) == 82.0  # floor(100 * 47/57) = 82
    assert stats.tail_percentile(30) == 66.0
    assert stats.tail_percentile(21) == 52.0
    # twenty samples or fewer have no percentile above the median with
    # ten samples beyond it
    for n in (20, 3, 0):
        try:
            stats.tail_percentile(n)
        except ValueError:
            continue
        raise AssertionError(f"tail_percentile({n}) must raise")
    values = list(range(1, 101))
    s = stats.summarize(values)
    assert s["n"] == 100 and s["tail_pct"] == 90.0 and s["beyond_tail"] == 10
    assert _close(s["p50"], 50.5)
    for n in (21, 37, 64, 150):
        s = stats.summarize([float(v) for v in range(n)])
        assert s["beyond_tail"] >= stats.TAIL_BEYOND, (n, s)
    # a run with more samples than its nominal count keeps the nominal
    # percentile
    s = stats.summarize([float(v) for v in range(200)], tail_n=40)
    assert s["tail_pct"] == 75.0 and s["n"] == 200 and s["beyond_tail"] == 50
    s = stats.summarize([float(v) for v in range(100)], tail_n=400)
    assert s["tail_pct"] == 90.0
    assert stats.summarize([1.0, 2.0, 3.0])["tail"] is None


def test_percentile() -> None:
    assert stats.percentile([3, 1, 2], 50) == 2
    assert _close(stats.percentile([0, 10], 25), 2.5)
    assert stats.percentile([7], 99) == 7


def test_self_times() -> None:
    # op 0..10; store call 1..2 inside metadata 1..4 inside dataset 0.5..8;
    # one job 5..7 inside the dataset call, one job 9..9.5 in driver code
    spans = [(0.5, 8.0, "sources.dataset"), (1.0, 4.0, "core.metadata"),
             (1.0, 2.0, "core.store")]
    jobs = [(5.0, 7.0), (9.0, 9.5)]
    got = stats.self_times((0.0, 10.0), spans, jobs)
    want = {"driver": 0.5 + 1.0 + 0.5, "sources.dataset": 0.5 + 1.0 + 1.0, "core.metadata": 2.0,
            "core.store": 1.0, "session": 2.5}
    assert set(got) == set(want), got
    for k in want:
        assert _close(got[k], want[k]), (k, got)
    assert _close(sum(got.values()), 10.0)
    # overlapping jobs count once; spans and jobs outside the op are clipped
    got = stats.self_times((0.0, 4.0), [(-1.0, 1.0, "core.store"), (2.0, 3.0, "plans.index")],
                           [(1.5, 2.5), (2.0, 3.5), (3.9, 9.0)])
    assert _close(got["session"], 2.1) and _close(got["core.store"], 1.0), got
    assert _close(got["driver"], 0.5 + 0.4), got
    assert "plans.index" not in got
    assert _close(sum(got.values()), 4.0)
    # siblings: the second call starts after the first ends
    got = stats.self_times((0.0, 3.0), [(0.0, 1.0, "a"), (1.0, 3.0, "b"), (1.5, 2.0, "c")], [])
    assert _close(got["a"], 1.0) and _close(got["b"], 1.5) and _close(got["c"], 0.5), got


def test_interval_union() -> None:
    assert stats.interval_union([(3, 4), (0, 1), (0.5, 2), (2, 2)]) == [(0, 2), (3, 4)]


def test_space_amp() -> None:
    assert stats.space_amp(300, 100) == 3.0
    assert stats.space_amp(100, 100) == 1.0
    try:
        stats.space_amp(10, 0)
    except ValueError:
        pass
    else:
        raise AssertionError("space_amp of an empty commit must raise")


def test_failed_frac() -> None:
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(8, 2) == 0.25
    for bad in ((0, 0), (3, 4), (3, -1)):
        try:
            stats.failed_frac(*bad)
        except ValueError:
            continue
        raise AssertionError(f"failed_frac{bad} must raise")


def run() -> None:
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()


if __name__ == "__main__":
    run()
    print("perfbench self-tests passed")

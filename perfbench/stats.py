"""The benchmark's arithmetic: percentiles, the tail rule, ratios.

Pure functions with no Spark or plateau_spark imports, so ``selftest.py``
can check them on their own.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # the tail percentile keeps at least this many samples above it


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile ``p`` (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest whole percentile with at least ``TAIL_BEYOND`` of ``n``
    samples strictly above its rank: ``floor(100 * (1 - 10 / n))``.

    With ``2 * TAIL_BEYOND`` samples or fewer that is the median or below,
    which is no tail, so it raises.
    """
    if n <= 2 * TAIL_BEYOND:
        raise ValueError(f"no tail percentile with {n} samples (need more than "
                         f"{2 * TAIL_BEYOND})")
    return float(math.floor(100.0 * (1.0 - TAIL_BEYOND / n) + 1e-9))


def summarize(values, tail_n: int | None = None) -> dict:
    """Median, tail and count of a latency list.

    The tail percentile is ``tail_percentile(tail_n)``: a run's fixed
    (nominal) sample count, so that a run which fits in more samples
    reports the same percentile. It defaults to ``len(values)``. Too few
    samples for a tail give ``tail`` None.
    """
    n = len(values)
    if n == 0:
        return {"n": 0}
    tail_n = n if not tail_n else min(tail_n, n)
    if tail_n <= 2 * TAIL_BEYOND:
        return {"n": n, "p50": statistics.median(values), "tail": None}
    tp = tail_percentile(tail_n)
    tail = percentile(values, tp)
    return {
        "n": n,
        "p50": statistics.median(values),
        "tail": tail,
        "tail_pct": tp,
        "beyond_tail": sum(1 for v in values if v > tail),
    }


def space_amp(stored_bytes: int, referenced_payload_bytes: int) -> float:
    """Stored bytes under the dataset prefix per byte of payload the
    current commit references."""
    if referenced_payload_bytes <= 0:
        raise ValueError("space amplification of an empty commit")
    return stored_bytes / referenced_payload_bytes


def failed_frac(attempted: int, failed: int) -> float:
    """Failed ops (a failed correctness check included) per attempted op."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def interval_union(intervals) -> list[tuple[float, float]]:
    """Merge ``(start, end)`` intervals into sorted disjoint ones."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def self_times(root: tuple[float, float], spans, jobs, *, root_layer: str = "driver",
               job_layer: str = "session") -> dict[str, float]:
    """Split the wall time of one op across layers.

    ``root`` is the op's ``(start, end)``. ``spans`` are ``(start, end,
    layer)`` of calls made on the op's own thread, properly nested. ``jobs``
    are ``(start, end)`` intervals of Spark jobs. Each instant of the op
    goes to ``job_layer`` while any job runs (the driver thread is then
    waiting on the engine), else to the layer of the innermost span open
    at that instant, else to ``root_layer``. The values therefore sum to
    the op's wall time, and a span's share is its duration minus what its
    child spans and jobs cover: its self time.
    """
    r0, r1 = root
    clipped = [(max(s, r0), min(e, r1), layer) for s, e, layer in spans]
    clipped = [c for c in clipped if c[1] > c[0]]
    job_u = interval_union((max(s, r0), min(e, r1)) for s, e in jobs)
    points = sorted({r0, r1, *(c[0] for c in clipped), *(c[1] for c in clipped),
                     *(j[0] for j in job_u), *(j[1] for j in job_u)})
    # opening order: outer spans first at equal starts (longer first)
    by_start = sorted(clipped, key=lambda c: (c[0], -c[1]))
    out: dict[str, float] = {}
    stack: list[tuple[float, float, str]] = []
    nxt = 0
    ji = 0
    for a, b in zip(points, points[1:]):
        while stack and stack[-1][1] <= a:
            stack.pop()
        while nxt < len(by_start) and by_start[nxt][0] <= a:
            if by_start[nxt][1] > a:
                while stack and stack[-1][1] <= a:
                    stack.pop()
                stack.append(by_start[nxt])
            nxt += 1
        while ji < len(job_u) and job_u[ji][1] <= a:
            ji += 1
        if ji < len(job_u) and job_u[ji][0] <= a:
            layer = job_layer
        else:
            # innermost span still open at a (the stack may hold spans
            # that ended earlier under a later-opened sibling)
            layer = next((s[2] for s in reversed(stack) if s[1] > a), root_layer)
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out

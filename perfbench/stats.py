"""Pure helpers of the benchmark harness: percentiles, open-loop pacing,
recall and span self time. No Spark, no I/O, so they are unit-tested in
isolation (perfbench/test_stats.py)."""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

# A tail percentile is reported only where at least this many samples
# lie beyond it; with fewer samples the reported tail is the highest
# percentile that still has them.
TAIL_SAMPLES = 10

# The OS wakes a sleeper up late by a host-dependent amount (tenths of a
# millisecond here), which would add to every open-loop latency; the
# generator sleeps until this long before a due time and spins the rest.
SPIN_S = 0.001


def nearest_rank(sorted_xs: list[float], p: float) -> float:
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    if not sorted_xs:
        raise ValueError("no samples")
    r = max(1, math.ceil(p / 100.0 * len(sorted_xs)))
    return sorted_xs[r - 1]


def tail_percentile(n: int, cap: float = 99.0) -> float | None:
    """The highest percentile, at most ``cap``, with at least
    TAIL_SAMPLES samples beyond its nearest rank, in steps of 0.1.
    None when n leaves no such percentile."""
    if n <= TAIL_SAMPLES:
        return None
    # nearest rank ceil(p n / 100) must be <= n - TAIL_SAMPLES
    p = math.floor(1000.0 * (n - TAIL_SAMPLES) / n) / 10.0
    while p > 0 and math.ceil(round(p * n / 100.0, 9)) > n - TAIL_SAMPLES:
        p = round(p - 0.1, 1)
    return min(cap, p) if p > 0 else None


def summarize(xs: list[float], cap: float = 99.0) -> dict:
    """Median and the rule's tail percentile of ``xs``. Failed
    operations enter as +inf, so they count against every limit."""
    s = sorted(xs)
    out = {"n": len(s), "p50": nearest_rank(s, 50.0) if s else None}
    p = tail_percentile(len(s), cap)
    out["tail_pct"] = p
    # too few samples for any tail: the slowest sample stands in
    out["tail"] = nearest_rank(s, p) if p is not None else (s[-1] if s else None)
    return out


def precise_sleep(dt: float) -> None:
    """Return ``dt`` seconds from now, give or take a few microseconds."""
    end = time.perf_counter() + dt
    if dt > SPIN_S:
        time.sleep(dt - SPIN_S)
    while time.perf_counter() < end:
        pass


@dataclass
class Shot:
    """One open-loop request: when it was due, when the generator got
    to it, when it returned, and whether it succeeded."""

    i: int
    due: float
    start: float
    end: float
    ok: bool
    result: object = None

    @property
    def latency(self) -> float:
        """Seconds from due time to completion; +inf if it failed."""
        return self.end - self.due if self.ok else math.inf

    @property
    def late(self) -> float:
        """Seconds the generator started after the due time."""
        return max(0.0, self.start - self.due)


def open_loop(
    fn,
    rate: float,
    duration: float,
    t0: float | None = None,
    clock=time.perf_counter,
    sleep=precise_sleep,
) -> list[Shot]:
    """Issue ``fn(i)`` at ``rate`` per second for ``duration`` seconds on
    a fixed schedule (request i is due at t0 + i / rate) regardless of
    how long earlier requests took, so a stall delays later requests and
    shows in their latency. An exception marks the request failed."""
    t0 = clock() if t0 is None else t0
    n = int(math.floor(duration * rate + 1e-9))
    shots = []
    for i in range(n):
        due = t0 + i / rate
        wait = due - clock()
        if wait > 0:
            sleep(wait)
        start = clock()
        try:
            res, ok = fn(i), True
        except Exception as exc:  # a failed request is data, not a crash
            res, ok = repr(exc), False
        shots.append(Shot(i, due, start, clock(), ok, res))
    return shots


def recall(found, truth) -> float | None:
    """|found ∩ truth| / |truth|; None when the truth set is empty."""
    truth = set(truth)
    if not truth:
        return None
    return len(truth.intersection(found)) / len(truth)


def mean_recall(per_read: list[float]) -> float:
    """Mean recall over reads, a failed read entering as 0. With no read
    to average, 0: a run whose reads all failed has found nothing."""
    return sum(per_read) / len(per_read) if per_read else 0.0


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    its interval covered by its children (overlapping children, e.g.
    from two threads, count once). Spans are dicts with id, parent,
    name, start and end."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.get("parent"), []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted(
            (max(lo, c["start"]), min(hi, c["end"]))
            for c in kids.get(s["id"], ())
            if c["end"] > lo and c["start"] < hi
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered
    return out

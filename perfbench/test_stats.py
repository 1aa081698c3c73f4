"""Tests of the harness's own helpers. Run with

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs as I  # noqa: E402
from perfbench.stats import (  # noqa: E402
    mean_recall,
    nearest_rank,
    open_loop,
    precise_sleep,
    recall,
    self_times,
    summarize,
    tail_percentile,
)
from perfbench.trace import Tracer, read_event_log  # noqa: E402


# ----------------------------------------------------------- percentile rule
def beyond(n: int, p: float) -> int:
    """Samples strictly after the nearest rank of the p-th percentile."""
    return n - max(1, math.ceil(round(p * n / 100.0, 9)))


@pytest.mark.parametrize("n", [11, 20, 100, 125, 150, 250, 999, 1000, 5000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    p = tail_percentile(n)
    assert beyond(n, p) >= 10
    # 0.1 higher would leave fewer than ten beyond, unless capped at p99
    assert p == 99.0 or beyond(n, p + 0.1) < 10


def test_tail_caps_at_p99_and_needs_eleven_samples():
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(100_000) == 99.0
    assert tail_percentile(999) < 99.0
    assert tail_percentile(10) is None
    assert tail_percentile(100) == 90.0


def test_summarize_counts_failures_against_the_tail():
    xs = [1.0] * 90 + [math.inf] * 10
    s = summarize(xs)
    assert s["p50"] == 1.0 and s["tail_pct"] == 90.0 and s["tail"] == 1.0
    s = summarize(xs + [math.inf])
    assert s["tail"] == math.inf


def test_nearest_rank():
    xs = list(range(1, 101))
    assert nearest_rank(xs, 50) == 50
    assert nearest_rank(xs, 99) == 99
    assert nearest_rank(xs, 100) == 100
    assert nearest_rank([7.0], 1) == 7.0


# -------------------------------------------------------------- open loop
class FakeClock:
    """A clock that only moves when the loop sleeps or a request works."""

    def __init__(self):
        self.t = 100.0

    def __call__(self):
        return self.t

    def sleep(self, dt):
        self.t += dt


def test_open_loop_times_from_due_and_reports_lateness():
    clock = FakeClock()
    cost = {0: 0.25, 1: 0.01, 2: 0.01, 3: 0.01}  # request 0 stalls 250 ms

    def work(i):
        clock.t += cost[i]
        return i

    shots = open_loop(work, rate=10, duration=0.4, t0=100.0, clock=clock, sleep=clock.sleep)
    assert [s.due for s in shots] == pytest.approx([100.0, 100.1, 100.2, 100.3])
    # the stall delays the next requests: they start late, and their
    # latency counts from when they were due, not when they started
    assert shots[0].late == 0 and shots[0].latency == pytest.approx(0.25)
    assert shots[1].late == pytest.approx(0.15)
    assert shots[1].latency == pytest.approx(0.16)
    assert shots[2].late == pytest.approx(0.06)
    assert shots[2].latency == pytest.approx(0.07)
    assert shots[3].late == 0 and shots[3].latency == pytest.approx(0.01)


def test_precise_sleep_never_returns_early():
    import time

    for dt in (0.0, 0.0005, 0.003):
        t = time.perf_counter()
        precise_sleep(dt)
        assert time.perf_counter() - t >= dt


def test_open_loop_records_failures_as_infinite_latency():
    clock = FakeClock()

    def work(i):
        if i == 1:
            raise RuntimeError("boom")
        return i

    shots = open_loop(work, rate=5, duration=0.6, t0=100.0, clock=clock, sleep=clock.sleep)
    assert [s.ok for s in shots] == [True, False, True]
    assert shots[1].latency == math.inf and "boom" in shots[1].result


# ------------------------------------------------------------------ recall
def test_recall():
    assert recall([1, 2, 3], [1, 2, 3, 4]) == 0.75
    assert recall([9], [1, 2]) == 0.0
    assert recall([1, 2], [1, 2]) == 1.0
    assert recall([1], []) is None


def test_mean_recall_counts_failed_reads_as_zero():
    assert mean_recall([1.0, 0.5, 0.0]) == 0.5
    assert mean_recall([]) == 0.0


# --------------------------------------------------------------- self time
def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        span(0, None, "batch", 0.0, 10.0),
        span(1, 0, "prepare", 1.0, 4.0),
        span(2, 0, "commit", 3.0, 6.0),   # overlaps prepare: counted once
        span(3, 2, "write", 3.5, 5.0),
        span(4, 0, "late", 9.0, 12.0),    # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st["batch"] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st["prepare"] == pytest.approx(3.0)
    assert st["commit"] == pytest.approx(3.0 - 1.5)
    assert st["write"] == pytest.approx(1.5)
    assert st["late"] == pytest.approx(3.0)


def test_self_time_sums_spans_of_one_name():
    spans = [span(0, None, "read", 0.0, 1.0), span(1, None, "read", 2.0, 2.5)]
    assert self_times(spans)["read"] == pytest.approx(1.5)


def test_tracer_links_parents_and_is_free_when_off():
    off = Tracer(False)
    with off.span("x") as sid:
        assert sid is None
    assert off.spans == []
    tr = Tracer(True)
    with tr.span("outer") as a:
        with tr.span("inner", ref=7) as b:
            pass
        tr.record("update", 0.0, 1.0, ref=3, parent=b)
    by = {s["name"]: s for s in tr.spans}
    assert by["inner"]["parent"] == a and by["inner"]["ref"] == 7
    assert by["update"]["parent"] == b
    assert tr.descendants(a) == {a, b, by["update"]["id"]}


def test_event_log_attributes_jobs_tasks_and_bytes_to_groups(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
                          "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    (d / "events_1_local-1").write_text("\n".join(map(__import__("json").dumps, events)))
    g = read_event_log(str(tmp_path))
    assert g["span-3"] == {"jobs": 1, "tasks": 2, "shuffle_write_bytes": 40, "spill_bytes": 6}
    assert g["-"]["jobs"] == 1 and g["-"]["tasks"] == 1


# ------------------------------------------------------------------ inputs
def test_inputs_depend_on_the_seed_alone():
    assert I.read_mix(5, 50) == I.read_mix(5, 50)
    assert I.read_mix(5, 50) != I.read_mix(6, 50)
    assert I.update_schedule(5, 3, 1000) == I.update_schedule(5, 3, 1000)
    ups = I.update_schedule(5, 3, 1000)
    assert len(ups) == 3 * I.WRITE_RATE
    assert all(0 <= u.key < 1000 for u in ups)
    assert [u.op_ts for u in ups] == list(range(1, len(ups) + 1))


def test_read_mix_alternates_ann_and_exact():
    mix = I.read_mix(1, 60)
    assert [r.kind for r in mix[:4]] == ["ann", "exact", "ann", "exact"]
    assert {r.template for r in mix if r.kind == "ann"} == set(I.ANN_TEMPLATES)
    exact = [r.template for r in mix if r.kind == "exact"]
    assert exact.count("Books") == 2 * exact.count("Computers")

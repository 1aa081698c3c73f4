"""Spans recorded from the benchmark around each call into the library,
plus Spark counters per span read back from an event log.

Tracing is off in the end-to-end run: ``span`` then costs one branch.
In the traced run every span records name, start, end, parent span and
request/update id in memory, and spans that launch Spark jobs set the
job group to their span id, so the event log (enabled only in that run)
attributes each job, task and shuffle byte to the span that caused it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # set once a SparkContext exists
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.cost_s = 0.0  # time spent inside the tracer's own bookkeeping

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, ref=None, parent: int | None = None, spark: bool = False):
        """Record one span. ``ref`` is the request/update id;
        ``parent`` overrides the enclosing span (an update links to the
        batch span that carried it); ``spark`` sets the job group."""
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._stack()
        rec = {
            "id": sid,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "name": name,
            "ref": ref,
        }
        prev_group = None
        if spark and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"span-{sid}", name)
        stack.append(sid)
        c1 = time.perf_counter()
        rec["start"] = c1
        try:
            yield sid
        finally:
            rec["end"] = c2 = time.perf_counter()
            stack.pop()
            if spark and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)
                # spans open on several threads at once: add under the lock
                self.cost_s += (c1 - c0) + (time.perf_counter() - c2)

    def record(self, name: str, start: float, end: float, ref=None, parent=None) -> None:
        """Add a span measured elsewhere (e.g. an open-loop request)."""
        if self.enabled:
            with self._lock:
                sid = self._next
                self._next += 1
                self.spans.append({"id": sid, "parent": parent, "name": name,
                                   "ref": ref, "start": start, "end": end})

    def descendants(self, sid: int) -> set[int]:
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(kids.get(cur, ()))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, shuffle bytes written and bytes
    spilled, from a finished Spark event log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0,
                                        "spill_bytes": 0})

    # Spark 4 writes a directory of rolled event files per application
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                       + glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    g(grp)["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_group.setdefault(st, grp)
                elif kind == "SparkListenerTaskEnd":
                    rec = g(stage_group.get(ev.get("Stage ID"), "-"))
                    rec["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    rec["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
    return groups

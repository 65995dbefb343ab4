"""Span recording for traced runs, from the benchmark's own files.

A :class:`Tracer` wraps public functions of the program (module attributes
or class methods) with span recorders and restores them afterwards.  Each
span records its name, start, end and parent span; the stack of open
spans is held per thread, so spans in HTTP handler threads nest
correctly.

Self time of a layer is its spans' durations minus the parts covered by
their child spans.  Spark-side counts come from Spark's event log, parsed
after the session stops (:func:`spark_event_stats`).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = 0

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        st = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = st[-1] if st else None
        st.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent}
            with self._lock:
                self.spans.append(rec)

    # -- wrapping --------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until :meth:`restore`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- summaries -------------------------------------------------------

    def layers(self) -> dict[str, dict]:
        """name → {"calls", "total_s", "self_s"}; self time subtracts the
        union of each span's children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(children.get(s["id"], ())):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            d = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += dur
            d["self_s"] += max(0.0, dur - covered)
        return out


def spark_event_stats(event_log_dir: str, window_ms: tuple[int, int]
                      ) -> dict[str, float]:
    """Counts over the Spark event logs under ``event_log_dir`` for jobs,
    tasks and SQL executions that started inside ``window_ms`` (epoch ms):
    jobs, tasks, job time, Exchange nodes in final SQL plans, shuffle bytes
    written and bytes spilled."""
    lo, hi = window_ms
    inside = lambda t: t is not None and lo <= t <= hi  # noqa: E731
    jobs = tasks = 0
    job_start: dict[int, int] = {}
    job_ms = 0
    shuffle_w = spill = 0
    plans: dict[int, dict] = {}

    def count_exchanges(node) -> int:
        n = 1 if "Exchange" in node.get("nodeName", "") else 0
        return n + sum(count_exchanges(c) for c in node.get("children", ()))

    # Spark 4 writes each application's log as a directory of event files
    for path in glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    if not inside(ev.get("Submission Time")):
                        continue
                    jobs += 1
                    job_start[ev["Job ID"]] = ev.get("Submission Time", 0)
                elif kind == "SparkListenerJobEnd":
                    t0 = job_start.pop(ev["Job ID"], None)
                    if t0 is not None:
                        job_ms += ev.get("Completion Time", t0) - t0
                elif kind == "SparkListenerTaskEnd":
                    if not inside((ev.get("Task Info") or {}).get("Launch Time")):
                        continue
                    tasks += 1
                    m = ev.get("Task Metrics") or {}
                    shuffle_w += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    info = ev.get("sparkPlanInfo")
                    eid = ev.get("executionId")
                    if kind.endswith("SQLExecutionStart") and inside(ev.get("time")):
                        plans[eid] = info
                    elif eid in plans and info is not None:
                        plans[eid] = info
    return {
        "jobs": jobs,
        "tasks": tasks,
        "job_s": job_ms / 1000.0,
        "exchanges": sum(count_exchanges(p) for p in plans.values() if p),
        "shuffle_write_bytes": shuffle_w,
        "spill_bytes": spill,
    }

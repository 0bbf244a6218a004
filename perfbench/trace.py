"""Spans recorded from outside the program, at module boundaries.

:meth:`Tracer.wrap` replaces a module (or class) attribute with a
function that records a span around each call and restores the
original on :meth:`Tracer.uninstall`. The program calls its layers
through module attributes (``lake.write_snapshot(...)``), so a wrapped
attribute sees every call without any edit to the program.

A span is (name, start, end, parent, op, iter). ``op`` names the
benchmark operation it belongs to (a query run, a tick, a traffic
cycle) and ``iter`` the loop iteration, or "setup"/"finish". The
HTTP server handles each request on its own thread; with one client
there is one request in flight, so a span opened on a thread with no
open span is parented to the client's current span.

Spark job and task counts come from the job ids the status tracker
knows before and after a span. That is exact only while one operation
runs at a time, which the closed single-client loops guarantee.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.

    Children may overlap each other (or stick out of the parent), so
    the covered part is the length of the union of the children's
    intervals clipped to the parent."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._client_span: int | None = None
        self._tracker = spark.sparkContext.statusTracker() if spark is not None else None
        self.op = None
        self.iter = "setup"

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _job_ids(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(None)) if self._tracker else set()

    def span(self, name: str, count_jobs: bool = False):
        return _Span(self, name, count_jobs)

    def _open(self, name: str, count_jobs: bool) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._client_span if threading.current_thread() is not threading.main_thread() else None
        )
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent, "op": self.op, "iter": self.iter}
            self.spans.append(rec)
        stack.append(rec["id"])
        if threading.current_thread() is threading.main_thread():
            self._client_span = rec["id"]
        if count_jobs:
            rec["_jobs_before"] = self._job_ids()
        rec["start"] = time.perf_counter()
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if threading.current_thread() is threading.main_thread():
            self._client_span = stack[-1] if stack else None
        before = rec.pop("_jobs_before", None)
        if before is not None:
            new = sorted(self._job_ids() - before)
            rec["jobs"] = len(new)
            rec["tasks"] = sum(self._tasks(j) for j in new)

    def _tasks(self, job_id: int) -> int:
        info = self._tracker.getJobInfo(job_id)
        if info is None:
            return 0
        total = 0
        for sid in info.stageIds:
            st = self._tracker.getStageInfo(sid)
            total += st.numCompletedTasks if st is not None else 0
        return total

    # -- wrapping --------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, count_jobs: bool = False) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr`` until :meth:`uninstall`. A missing attribute is
        skipped, so a renamed private helper costs only its span."""
        if attr not in vars(owner):
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, count_jobs):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- output ----------------------------------------------------------

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, count_jobs: bool):
        self.tracer, self.name, self.count_jobs = tracer, name, count_jobs
        self.rec = None

    def __enter__(self):
        self.rec = self.tracer._open(self.name, self.count_jobs)
        return self.rec

    def __exit__(self, *exc):
        self.tracer._close(self.rec)
        return False


class NullTracer:
    """Stands in for :class:`Tracer` in untraced runs: spans cost one
    context-manager call and record nothing."""

    op = None
    iter = None

    def span(self, name: str, count_jobs: bool = False):
        return _NULL

    def wrap(self, *args, **kwargs) -> None:
        pass

    def uninstall(self) -> None:
        pass


class _NullSpan:
    def __enter__(self):
        return {}

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()


def layer_totals(spans: list[dict], iters) -> dict[str, dict[str, float]]:
    """name -> {"self": summed self time, "calls", "jobs", "tasks"} over
    the spans recorded in the iterations ``iters``."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"self": 0.0, "calls": 0, "jobs": 0, "tasks": 0})
    for s in spans:
        if s["iter"] not in iters:
            continue
        acc = out[s["name"]]
        acc["self"] += selfs[s["id"]]
        acc["calls"] += 1
        acc["jobs"] += s.get("jobs", 0)
        acc["tasks"] += s.get("tasks", 0)
    return dict(out)

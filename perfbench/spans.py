"""In-memory spans around calls into the program's layers.

Spans are opened by wrappers the benchmark installs on public functions
(module attributes and class methods), so the program itself is unchanged.
A span records name, start, end, parent span, run id and request id. Spans
opened on a thread with no open span of its own (the crawl engine's write
pool) take the innermost span open on the main thread as parent.

Spark work per span is counted from job ids: the scheduler numbers jobs
sequentially, so the jobs submitted while a sequential top-level span was
open are the id range between its start and end, including jobs submitted
from pool threads (which a thread-local job group would miss). Task counts
come from ``statusTracker`` once the listener bus has drained.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import uuid


class Tracer:
    def __init__(self, sc):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.request_id: str | None = None
        self.bookkeeping_s = 0.0
        self._sc = sc
        self._dag = sc._jsc.sc().dagScheduler()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, count_jobs: bool = False) -> dict:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        span = {
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "request": self.request_id,
        }
        if count_jobs:
            span["job_lo"] = self._dag.nextJobId()
        stack.append(span)
        with self._lock:
            span["id"] = len(self.spans) + 1
            self.spans.append(span)
            span["start"] = time.perf_counter()
            self.bookkeeping_s += span["start"] - t0
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        if "job_lo" in span:
            span["job_hi"] = self._dag.nextJobId()
        self._stack().pop()
        with self._lock:
            self.bookkeeping_s += time.perf_counter() - span["end"]

    @contextlib.contextmanager
    def span(self, name: str, count_jobs: bool = False):
        s = self.open(name, count_jobs)
        try:
            yield s
        finally:
            self.close(s)

    # ----------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, count_jobs: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper that opens a span per call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, count_jobs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    # ---------------------------------------------------------- analysis
    def resolve_spark_counts(self) -> None:
        """Fill ``jobs`` and ``tasks`` on job-counted spans (after the
        listener bus drains, so the status store has every job)."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for s in self.spans:
            if "job_lo" not in s or "job_hi" not in s:
                continue
            tasks = 0
            # a stage whose shuffle output a later job reuses is listed by
            # both jobs; count its tasks once
            counted_stages: set[int] = set()
            for jid in range(s["job_lo"], s["job_hi"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in counted_stages:
                        continue
                    counted_stages.add(sid)
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
            s["jobs"] = s["job_hi"] - s["job_lo"]
            s["tasks"] = tasks

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
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

    def layer_table(self) -> list[tuple[str, int, float, float]]:
        """(span name, calls, total s, self s), by self time descending."""
        selfs = self.self_times()
        rows: dict[str, list[float]] = {}
        for s in self.spans:
            if s["id"] not in selfs:
                continue
            r = rows.setdefault(s["name"], [0, 0.0, 0.0])
            r[0] += 1
            r[1] += s["end"] - s["start"]
            r[2] += selfs[s["id"]]
        return sorted(
            ((k, int(v[0]), v[1], v[2]) for k, v in rows.items()),
            key=lambda r: -r[3],
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)

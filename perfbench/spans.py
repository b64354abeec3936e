"""In-memory spans recorded from outside the program.

The benchmark wraps one ``TableIO`` instance's ``write``, ``append`` and
``read`` methods, so every stage commit of ``DedupPipeline.run`` becomes
a span whose parent is the run span, and wraps its own calls into the
incremental entry points the same way.  Spark job and task counts come
from the status tracker, taken at the boundaries of the top-level spans
(these run one after another; stage commits overlap on the pipeline's
worker threads, so they get wall time only), after the span has ended.
Spans stay in memory until ``dump``.  The time spent inside the hooks
while spans open is summed as the tracing overhead.
"""

from __future__ import annotations

import json
import threading
import time


class Tracer:
    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    def _now(self) -> float:
        return time.perf_counter() - self._t0

    def start(self, name: str, parent: dict | None = None) -> dict:
        t = time.perf_counter()
        span = {"trace": self.trace_id, "id": 0, "name": name,
                "parent": parent["id"] if parent else None,
                "start": self._now(), "end": None,
                "thread": threading.current_thread().name}
        with self._lock:
            span["id"] = len(self.spans) + 1
            self.spans.append(span)
            self.overhead_s += time.perf_counter() - t
        return span

    def end(self, span: dict) -> None:
        span["end"] = self._now()

    def top(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` in a top-level span that also records the Spark jobs
        and tasks started while it ran; returns (result, span)."""
        before = self.job_ids()
        s = self.start(name)
        try:
            out = fn(*args, **kwargs)
        finally:
            self.end(s)
        s["spark_jobs"], s["spark_tasks"] = self.jobs_since(before)
        return out, s

    def wrap_tableio(self, io, parent: dict) -> None:
        """Record a span around each write/append/read of ``io``."""
        for method in ("write", "append", "read"):
            orig = getattr(io, method)

            def hooked(*args, _orig=orig, _m=method, **kwargs):
                i = 0 if _m == "read" else 1  # write/append take df first
                table = kwargs.get("table", args[i] if len(args) > i else None)
                s = self.start(f"{_m}:{table}", parent)
                try:
                    return _orig(*args, **kwargs)
                finally:
                    self.end(s)

            setattr(io, method, hooked)

    # -- spark status tracker -------------------------------------------
    def job_ids(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup())

    def jobs_since(self, before: set[int]) -> tuple[int, int]:
        """(jobs, completed tasks) of the jobs started since ``before``."""
        st = self.spark.sparkContext.statusTracker()
        new = set(st.getJobIdsForGroup()) - before
        stages: set[int] = set()
        for j in new:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(new), tasks

    # -- queries over recorded spans ------------------------------------
    def last(self, name: str) -> dict | None:
        for s in reversed(self.spans):
            if s["name"] == name and s["end"] is not None:
                return s
        return None

    def seconds(self, name: str) -> float:
        s = self.last(name)
        return 0.0 if s is None else s["end"] - s["start"]

    def count(self, prefix: str, parent: dict) -> int:
        return sum(1 for s in self.spans if s["parent"] == parent["id"]
                   and s["name"].startswith(prefix))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "overhead_s": self.overhead_s,
                       "spans": self.spans}, f, indent=1)

"""In-memory span recorder for the traced benchmark run.

Spans are opened around calls into the engine's public functions and
methods by wrapping module attributes from here (``Tracer.wrap``);
nothing inside ``nadry_spark`` changes. Each measured operation runs
under its own Spark job group, and the job and task counts of that
group are read back through ``sparkContext.statusTracker()`` once the
listener bus has caught up. Spans stay in memory and are written as
JSON lines when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._wrapped: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` as a child of the innermost open span, but
        only inside a traced operation."""
        if self._op is None or not self._op["traced"]:
            yield
            return
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "op": self._op["id"], "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def operation(self, kind: str, traced: bool | None = None, **attrs):
        """Time one benchmark operation; yields its record, whose
        ``wall_s`` is set on exit. A traced operation also gets a root
        span and its own Spark job group."""
        traced = self.enabled if traced is None else (traced and self.enabled)
        rec = {"id": len(self.ops), "kind": kind, "traced": traced, **attrs}
        self.ops.append(rec)
        if traced:
            rec["group"] = f"searchbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], kind)
        self._op = rec
        t0 = time.perf_counter()
        try:
            with self.span(kind):
                yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self._op = None
            if traced:
                self.sc.setJobGroup("searchbench-idle", "between operations")

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a wrapper that records a span named ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._wrapped.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._wrapped):
            setattr(owner, attr, fn)
        self._wrapped.clear()

    def resolve_jobs(self) -> None:
        """Fill ``jobs``/``tasks`` on every traced operation from its
        job group. Waits until two reads a moment apart agree, so that
        listener events still in flight are counted."""
        tracker = self.sc.statusTracker()
        todo = [op for op in self.ops if op.get("group") and "jobs" not in op]
        prev = None
        for _ in range(20):
            time.sleep(0.25)
            counts = []
            for op in todo:
                job_ids = tracker.getJobIdsForGroup(op["group"])
                tasks = 0
                for jid in job_ids:
                    info = tracker.getJobInfo(jid)
                    for sid in info.stageIds if info else ():
                        st = tracker.getStageInfo(sid)
                        tasks += st.numCompletedTasks if st else 0
                counts.append((len(job_ids), tasks))
            if counts == prev:
                break
            prev = counts
        for op, (jobs, tasks) in zip(todo, prev or []):
            op["jobs"], op["tasks"] = jobs, tasks

    # ---- read-back -------------------------------------------------

    def durations(self, name: str, kind: str | None = None) -> list[float]:
        """Seconds of every outermost span called ``name`` (a span of
        the same name nested inside it is part of it), optionally only
        within operations of ``kind``."""
        kinds = {op["id"]: op["kind"] for op in self.ops}
        out = []
        for s in self.spans:
            if s["name"] != name or (kind and kinds[s["op"]] != kind):
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                out.append(s["end"] - s["start"])
        return out

    def self_time(self, op: dict) -> float:
        """An operation's root-span time not covered by its child spans."""
        root = next(s for s in self.spans if s["op"] == op["id"] and s["parent"] is None)
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == root["id"])
        return (root["end"] - root["start"]) - kids

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for op in self.ops:
                f.write(json.dumps({"type": "op", **op}) + "\n")
            for s in self.spans:
                f.write(json.dumps({"type": "span", **s}) + "\n")

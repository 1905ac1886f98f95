"""Span tracer for the traced benchmark run.

Wraps the public functions of each engine layer from outside (the
engine itself is not modified), records one span per call and tags
every Spark job fired inside a span with the span's job group.  After
the run, Spark counters are read back from the status store per job
group, so each span carries jobs, stages, tasks, executor CPU, shuffle
bytes, spill and GC next to its wall time.

A span is a dict: id, name, start, end, parent, run_id, thread, attrs.
Spans stay in memory and are written as JSON lines at the end.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"
_JOB_GROUP = "spark.jobGroup.id"


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op span."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []
        self._kids: dict[int, list[dict]] = {}  # filled by collect_counters
        self._by_id: dict[int, dict] = {}

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def adopt(self, parent: dict | None):
        """Run the body as if ``parent`` were the open span on this thread
        (a background job takes its dispatching span as parent)."""
        stack = self._stack()
        base = len(stack)
        if parent is not None:
            stack.append(parent)
        try:
            yield
        finally:
            del stack[base:]

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._next += 1
            sid = self._next
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "thread": threading.current_thread().name,
            "attrs": attrs,
        }
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty(_JOB_GROUP)
        sc.setLocalProperty(_JOB_GROUP, f"{GROUP_PREFIX}{sid}")
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            sc.setLocalProperty(_JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as attrs:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    attrs.update(on_result(out))
                return out

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``unwrap_all``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def collect_counters(self, spark) -> None:
        """Attach Spark counters to every span, read from the status store
        by job group, and index the span tree (call once, after the
        measured work and before any query on the spans)."""
        if not self.enabled:
            return
        self._by_id = {r["id"]: r for r in self.spans}
        for rec in self.spans:
            if rec["parent"] is not None:
                self._kids.setdefault(rec["parent"], []).append(rec)
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_span: dict[int, dict] = {}
        for job in _seq(store.jobsList(None)):
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith(GROUP_PREFIX):
                continue
            sid = int(group.get()[len(GROUP_PREFIX):])
            acc = by_span.setdefault(sid, {"jobs": 0, "stage_ids": set()})
            acc["jobs"] += 1
            acc["stage_ids"].update(_seq(job.stageIds()))
        for rec in self.spans:
            acc = by_span.get(rec["id"], {"jobs": 0, "stage_ids": set()})
            c = dict.fromkeys(
                ("stages", "tasks", "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
                 "spill_bytes", "gc_s"),
                0,
            )
            for stage_id in acc["stage_ids"]:
                st = store.lastStageAttempt(stage_id)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped (reused shuffle) or failed attempt
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["gc_s"] += st.jvmGcTime() / 1000.0
            c["jobs"] = acc["jobs"]
            rec["counters"] = c

    def inclusive(self, rec: dict, key: str) -> float:
        """Counter ``key`` of a span plus all its descendants."""
        own = rec.get("counters", {}).get(key, 0)
        return own + sum(self.inclusive(k, key) for k in self.children(rec))

    def children(self, rec: dict) -> list[dict]:
        return self._kids.get(rec["id"], [])

    def named(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def by_id(self, sid: int | None) -> dict | None:
        return self._by_id.get(sid)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec, default=str) + "\n")

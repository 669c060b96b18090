"""Per-layer tracing for the load benchmark's traced run.

Spans are recorded around calls into the layers' public functions and
methods.  The wrappers (registered by run.py) patch module and class
attributes, so the program's own internal calls go through them too (``insert_records`` calling ``LSHIndex.add`` yields a nested
span).  Spans stay in memory and are written to a file when the run
ends.  Measured runs never construct a Tracer, so they run unpatched.

Most layers return lazy DataFrames: a span then covers the layer's
driver-side work and every Spark job it triggers itself, while the
deferred plan runs inside the benchmark's ``spark.action`` span around
the collect or count that consumes it.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._wanted: list[tuple[object, str, str, object]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op = None  # id of the workload operation being traced
        self.active = False

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            self.counts[name] += n

    # -- wrappers ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Register `owner.attr` for wrapping in a span called `name`.
        `after(result, args, kwargs)` runs after the span, in a span
        `<name>.counting`, for counts that cost work of their own."""
        self._wanted.append((owner, attr, name, after))

    def install(self) -> None:
        if self.active:
            return
        for owner, attr, name, after in self._wanted:
            raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._patches.append((owner, attr, raw))
            setattr(owner, attr, self._wrapped(raw, name, after))
        self.active = True

    def uninstall(self) -> None:
        if not self.active:
            return
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()
        self.active = False

    def _wrapped(self, raw, name, after):
        tracer = self
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def call(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if after is not None and tracer.active:
                # a span of its own, so that the counting work stays out
                # of the calling layer's self time
                with tracer.span(f"{name}.counting"):
                    after(out, args, kwargs)
            return out

        return classmethod(call) if is_cm else call

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "counts": dict(self.counts), **extra}, f
            )


def durations(spans: list[dict]) -> dict[str, tuple[float, float, int]]:
    """span name -> (busy seconds, self seconds, calls).  Self time is a
    span's duration minus the time its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, list] = defaultdict(lambda: [0.0, 0.0, 0])
    for s in spans:
        d = s["end"] - s["start"]
        acc = out[s["name"]]
        acc[0] += d
        acc[1] += d - child[s["id"]]
        acc[2] += 1
    return {k: tuple(v) for k, v in out.items()}


class SparkJobCounter:
    """Jobs, stages and tasks per operation, read back through the
    status tracker from a job group set around each operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.per_type: dict[str, list[tuple[int, int, int]]] = defaultdict(list)
        self._n = 0

    @contextmanager
    def group(self, op_type: str):
        self._n += 1
        gid = f"loadbench-{op_type}-{self._n}"
        self.sc.setJobGroup(gid, op_type)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.per_type[op_type].append(self._read(gid))

    def _read(self, gid: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(gid):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return jobs, stages, tasks

    def means(self, op_type: str) -> tuple[float, float, float]:
        rows = self.per_type.get(op_type, [])
        if not rows:
            return 0.0, 0.0, 0.0
        n = len(rows)
        return tuple(sum(r[i] for r in rows) / n for i in range(3))

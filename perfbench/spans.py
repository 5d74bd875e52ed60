"""Spans around the benchmark's calls into each layer, with Spark counters.

Every span gets its own Spark job group, so the jobs a span starts are
found with ``statusTracker().getJobIdsForGroup`` and their stages read
from the JVM status store (which is populated with the UI disabled).
Counters are self counters: jobs started inside a child span belong to
the child's group. ``wall_s`` is recorded inclusive; ``self_s``
subtracts the child spans, which run one after another inside it, and
the tracer's own work around each child (``trace_s``: setting job groups
and reading its counters), which falls inside the parent's interval.

Spans are kept in memory and written out with the run's result; the
tracer also times its own bookkeeping so a traced run can report what
tracing cost.
"""

from __future__ import annotations

import contextlib
import os
import platform
import statistics
import sys
import time

COUNTERS = ("jobs", "stages", "tasks", "busy_s", "input_bytes", "shuffle_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.own_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Record ``name`` around the block; ``op`` is the query or batch id
        (inherited from the parent span when omitted)."""
        if not self.enabled:
            yield {}
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": sid, "name": name, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        start = time.perf_counter()
        self.own_s += start - t_in
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(
                f"perfbench-{parent}" if parent is not None else "perfbench-idle",
                self.spans[parent]["name"] if parent is not None else "idle",
            )
            rec.update(start=start - self._t0, end=end - self._t0, wall_s=end - start)
            rec.update(self._counters(f"perfbench-{sid}"))
            done = time.perf_counter()
            rec["trace_s"] = (start - t_in) + (done - end)
            self.own_s += done - end

    @contextlib.contextmanager
    def patched(self, module, attr: str, name: str):
        """Wrap ``module.attr`` in a span for the duration of the block, so a
        call the program makes internally is measured as its own layer."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapped)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def _counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        no_status = self.sc._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        out = dict.fromkeys(COUNTERS, 0)
        stages = set()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            stages.update(info.stageIds if info else ())
        for sid in sorted(stages):
            data = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(data.size()):
                st = data.apply(i)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["busy_s"] += st.executorRunTime() / 1000.0
                out["input_bytes"] += st.inputBytes()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
        return out

    def self_times(self) -> None:
        """Set ``self_s`` on every span: its wall time less its children's
        wall time and the tracer's work around them."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["wall_s"] + s["trace_s"]
        for s, c in zip(self.spans, child):
            s["self_s"] = s["wall_s"] - c

    def layer_medians(self, name: str) -> dict:
        """Per-call medians of one span name: self time and self counters
        (zeros when the workload never entered that layer)."""
        hits = [s for s in self.spans if s["name"] == name]
        keys = ("self_s",) + COUNTERS
        if not hits:
            return dict.fromkeys(keys, 0.0)
        return {k: statistics.median(s[k] for s in hits) for k in keys}


def busy_spin_s(n: int = 2_000_000, reps: int = 3) -> float:
    """Median seconds for a fixed pure-Python loop: a host-speed reading
    recorded next to the results (never divided into them)."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        x = 0
        for i in range(n):
            x += i & 7
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def host_context(spark, settings: dict) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "busy_spin_s": busy_spin_s(),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "platform": platform.platform(),
        "spark_master": spark.sparkContext.master,
        "settings": settings,
    }

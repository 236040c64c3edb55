"""Spans around the benchmark's calls into each layer, with per-stage
counters read from Spark's status store.

Every span runs under its own Spark job group
(``SparkContext.setJobGroup``).  When the span ends, the job ids of that
group, plus any job submitted during the span by a thread that carries
no group (``strongly_connected_components`` runs its forward and
backward passes on a pool thread), are resolved to stages through
``statusTracker().getJobInfo`` and
``sc._jsc.sc().statusStore().lastStageAttempt(sid)``.  Both work with
``spark.ui.enabled=false``.  Spans stay in memory; ``dump`` writes them
out at the end of a run.

A disabled tracer hands out a shared no-op span, so the untraced run pays
one attribute lookup per call.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "input_rows",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "gc_ms")


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int                 # id shared by every span of one operation
    layer: str
    name: str
    kind: str
    t0: float               # perf_counter
    t1: float = 0.0
    e0: float = 0.0         # epoch seconds, to line up with stage times
    e1: float = 0.0
    counters: dict = field(default_factory=dict)
    busy_ms: float = 0.0    # wall covered by at least one active stage

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0

    @property
    def idle_ms(self) -> float:
        return max(0.0, self.ms - self.busy_ms)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextlib.contextmanager
    def _span(self, layer: str, name: str, kind: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid=len(self.spans), parent=parent.sid if parent else None,
                  op=self._op, layer=layer, name=name, kind=kind,
                  t0=time.perf_counter(), e0=time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"perfbench-{sp.sid}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        untagged = set(self.sc.statusTracker().getJobIdsForGroup(None))
        self.sc.setJobGroup(group, f"{layer}:{name}")
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.e1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            self._stack.pop()
            self._collect(sp, group, untagged)

    def span(self, layer: str, name: str, kind: str = ""):
        if not self.enabled:
            return _NULL
        return self._span(layer, name, kind)

    # ------------------------------------------------------------ counters
    def _collect(self, sp: Span, group: str, untagged: set) -> None:
        tracker = self.sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        jobs |= set(tracker.getJobIdsForGroup(None)) - untagged
        store = self.sc._jsc.sc().statusStore()
        c = dict.fromkeys(COUNTERS, 0)
        c["jobs"] = len(jobs)
        intervals = []
        seen = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:   # evicted or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["run_ms"] += st.executorRunTime()
                c["cpu_ms"] += st.executorCpuTime() / 1e6
                c["input_rows"] += st.inputRecords()
                c["shuffle_read_bytes"] += (st.shuffleRemoteBytesRead()
                                            + st.shuffleLocalBytesRead())
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += (st.memoryBytesSpilled()
                                     + st.diskBytesSpilled())
                c["gc_ms"] += st.jvmGcTime()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1000.0,
                                      done.get().getTime() / 1000.0))
        sp.counters = c
        sp.busy_ms = _covered(intervals, sp.e0, sp.e1) * 1000.0

    # ------------------------------------------------------------- queries
    def select(self, layer: str | None = None, name: str | None = None,
               kind: str | None = None) -> list[Span]:
        return [s for s in self.spans
                if (layer is None or s.layer == layer)
                and (name is None or s.name == name)
                and (kind is None or s.kind == kind)]

    def self_ms(self) -> dict:
        """Per layer: span time not covered by its child spans."""
        child_ms: dict = {}
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
        out: dict = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + max(
                0.0, s.ms - child_ms.get(s.sid, 0.0))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "sid": s.sid, "parent": s.parent, "op": s.op,
                    "layer": s.layer, "name": s.name, "kind": s.kind,
                    "ms": round(s.ms, 3), "idle_ms": round(s.idle_ms, 3),
                    **s.counters}) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


_NULL = contextlib.nullcontext()

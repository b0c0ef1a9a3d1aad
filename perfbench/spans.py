"""Benchmark-side tracing: spans around the calls into each layer, and
Spark's own counters read through py4j.

Spans live in memory and are summarised when the run ends.  Nothing
inside the engine is instrumented: a span covers one call that the
benchmark makes into a layer's public entry point, so a layer's self
time is the part of its spans that no child span covers.

Spark counters come from the SQL status store (per-operator metrics of
every SQL execution, including the eager jobs a query fires while it
is built), the application status store (stages and tasks), the job
groups the benchmark sets around each call, and the JVM's garbage
collector MXBeans.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    trace_id: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans; disabled tracers cost one attribute test per
    call and record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack = threading.local()
        self.trace_id = ""

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        sp = Span(
            name, layer, self.trace_id, time.perf_counter(),
            parent=stack[-1] if stack else None, attrs=attrs,
        )
        self.spans.append(sp)
        stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def self_times(self, trace_ids: set[str] | None = None) -> dict[str, float]:
        """Seconds per layer not covered by that span's children.
        Children of one span never overlap (calls are sequential on
        one thread), so subtracting their durations is exact."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        out: dict[str, float] = defaultdict(float)
        for i, sp in enumerate(self.spans):
            if trace_ids is None or sp.trace_id in trace_ids:
                out[sp.layer] += (sp.end - sp.start) - child_time[i]
        return dict(out)


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_NUM = r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)"


def _value(text: str) -> float:
    m = re.match(_NUM, text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def parse_metric(text: str) -> tuple[float, float | None, float | None]:
    """``(total, median, max)`` of one formatted SQL metric value.

    Spark renders per-task metrics as ``"total (min, med, max (stageId:
    taskId))\\n1.5 s (200 ms, 300 ms, 500 ms (stage 4.0: task 13))"`` and
    plain sums as ``"100,000"``; times come back in seconds, sizes in
    bytes."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    if not lines:
        return 0.0, None, None
    last = lines[-1]
    head, _, rest = last.partition("(")
    total = _value(head)
    if not rest:
        return total, None, None
    parts = [p for p in re.split(r",\s*", rest) if p.strip()]
    if len(parts) < 3:
        return total, None, None
    return total, _value(parts[1]), _value(parts[2].split("(")[0])


@dataclass
class Counters:
    """Per-operator totals of the SQL executions in one window."""

    totals: dict = field(default_factory=lambda: defaultdict(float))
    skew: float = 0.0
    tasks: int = 0

    def add(self, key: str, value: float) -> None:
        self.totals[key] += value


# (node name prefix, metric name) -> counter key
_NODE_METRICS = (
    ("Scan", "scan time", "scan_s"),
    ("Scan", "size of files read", "bytes_read"),
    ("WholeStageCodegen", "duration", "codegen_s"),
    ("Sort", "sort time", "sort_s"),
    ("", "time in aggregation build", "agg_s"),
    ("", "spill size", "spill_bytes"),
    ("Exchange", "shuffle bytes written", "shuffle_bytes"),
    ("Exchange", "shuffle write time", "shuffle_write_s"),
    ("Exchange", "fetch wait time", "fetch_wait_s"),
    ("", "time to run Python workers", "python_run_s"),
    ("", "time to start Python workers", "python_boot_s"),
    ("", "time to initialize Python workers", "python_init_s"),
    ("", "data sent to Python workers", "arrow_bytes"),
    ("", "data returned from Python workers", "arrow_bytes"),
)


class SparkProbe:
    """Reads Spark's status stores and GC beans for a window of work.

    ``mark()`` remembers where the stores stand; ``collect()`` sums the
    SQL executions and stages finished since the mark."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gc = spark._jvm.java.lang.management.ManagementFactory
        self._exec_mark = -1
        self._stage_mark = -1
        self._gc_mark = 0.0

    def gc_seconds(self) -> float:
        beans = self._gc.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def _stages(self):
        quantiles = getattr(self._app, "stageList$default$4")()
        seq = self._app.stageList(None, False, False, quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _last_execution(self) -> int:
        ex = self._sql.executionsList()
        n = ex.size()
        return max((ex.apply(i).executionId() for i in range(n)), default=-1)

    def mark(self) -> None:
        self._exec_mark = self._last_execution()
        self._stage_mark = max((s.stageId() for s in self._stages()), default=-1)
        self._gc_mark = self.gc_seconds()

    def collect(self) -> Counters:
        c = Counters()
        ex = self._sql.executionsList()
        skew_weight = 0.0
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self._exec_mark:
                continue
            values = self._sql.executionMetrics(eid)
            it = self._sql.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                node = it.next()
                nname = node.name()
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    for prefix, mname, key in _NODE_METRICS:
                        if m.name() != mname or not nname.startswith(prefix):
                            continue
                        opt = values.get(m.accumulatorId())
                        if not opt.isDefined():
                            continue
                        total, med, mx = parse_metric(opt.get())
                        c.add(key, total)
                        # task skew of the heaviest Python stage
                        if key == "python_run_s" and med and total > skew_weight:
                            skew_weight, c.skew = total, mx / med
        for s in self._stages():
            if s.stageId() > self._stage_mark:
                c.tasks += s.numTasks()
        c.add("gc_s", self.gc_seconds() - self._gc_mark)
        return c

    def jobs_in_group(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

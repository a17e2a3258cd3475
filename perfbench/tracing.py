"""Spans, Spark counters and session gauges, read from outside the package.

The benchmark opens a span around each call it makes into a layer
(``Tracer.span``). A span tags the Spark jobs it starts through the job
description ``pb:<iteration>:<span id>:<name>``, so the SQL executions,
jobs and stages in Spark's status stores can be linked back to the call
that started them once the run is over (``harvest``). Catalyst phase
times come from a ``QueryExecutionListener`` registered through py4j;
each phase is attributed to the innermost span open at its start time.

Nothing here changes what the program computes: with tracing off,
``span`` only times the call.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_DESC = re.compile(r"^pb:(-?\d+):(\d+):(.+)$")
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number (bytes, seconds or a
    count). Spark prints multi-task metrics as
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    line = text.split("\n")[1] if "\n" in text else text
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS[parts[1]] if len(parts) > 1 and parts[1] in _UNITS else value


@dataclass
class Span:
    sid: int
    parent: int | None
    iteration: int
    name: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.iteration = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.sid if parent else None, self.iteration, name, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobDescription(f"pb:{self.iteration}:{sp.sid}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"pb:{parent.iteration}:{parent.sid}:{parent.name}" if parent else None
            )


class PhaseListener:
    """py4j ``QueryExecutionListener``: records every finished query's
    Catalyst phases (analysis, optimization, planning) with their wall
    clock start and end in seconds."""

    def __init__(self):
        self.phases: list[tuple[str, float, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            s = kv._2()
            self.phases.append((kv._1(), s.startTimeMs() / 1e3, s.endTimeMs() / 1e3))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_phase_listener(spark, listener: PhaseListener | None = None) -> PhaseListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = listener or PhaseListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def unregister_phase_listener(spark, listener: PhaseListener) -> None:
    """Deliver the queued events, then stop listening."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    spark._jsparkSession.listenerManager().unregister(listener)


def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


@dataclass
class Harvest:
    """Spark-side numbers per span id (``by_span``) plus SQL execution
    spans (``sql_spans``: (parent sid, start, end))."""

    by_span: dict[int, dict[str, float]]
    sql_spans: list[tuple[int, float, float]]


_SQL_METRICS = {
    "written output": "bytes_written",
    "number of written files": "files_written",
    "job commit time": "commit_s",
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
    "fetch wait time": "fetch_wait_s",
    # "time to initialize Python workers" is left out: on a reused worker
    # Spark 4.1 counts the time it sat idle since it was started
    "time to start Python workers": "python_boot_s",
    "time to run Python workers": "python_compute_s",
}


def span_id(description: str | None) -> int | None:
    """The span a job description set by ``Tracer.span`` names, if any."""
    m = _DESC.match(description or "")
    return int(m.group(2)) if m else None


# per-span numbers that are peaks, not totals
MAX_KEYS = {"peak_exec_memory_bytes"}


def harvest(spark, tracer: Tracer, listener: PhaseListener | None) -> Harvest:
    """Read the SQL and core status stores once the run is over and add
    their numbers to the span that set each job description."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    by_span: dict[int, dict[str, float]] = {}
    sql_spans = []

    def add(sid, key, value):
        d = by_span.setdefault(sid, {})
        if key in MAX_KEYS:
            d[key] = max(d.get(key, 0.0), value)
        else:
            d[key] = d.get(key, 0.0) + value

    store = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(store.executionsList()):
        sid = span_id(ex.description())
        if sid is None:
            continue
        ended = _opt(ex.completionTime())
        sql_spans.append((sid, ex.submissionTime() / 1e3,
                          ended.getTime() / 1e3 if ended else time.time()))
        values = store.executionMetrics(ex.executionId())
        graph = store.planGraph(ex.executionId())
        for node in _seq(graph.allNodes()):
            is_write = node.name().startswith("Execute InsertIntoHadoopFsRelationCommand")
            for m in _seq(node.metrics()):
                v = _opt(values.get(m.accumulatorId()))
                if v is None:
                    continue
                key = _SQL_METRICS.get(m.name())
                if is_write and m.name() == "number of output rows":
                    key = "rows_written"
                if key:
                    add(sid, key, parse_metric(v))
    status = jsc.statusStore()
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    for st in _seq(status.stageList(None, False, False, empty, None)):
        sid = span_id(_opt(st.description()))
        if sid is None or st.status().toString() == "SKIPPED":
            continue
        add(sid, "stages", 1)
        add(sid, "tasks", st.numCompleteTasks() + st.numFailedTasks())
        add(sid, "failed_tasks", st.numFailedTasks())
        add(sid, "executor_run_s", st.executorRunTime() / 1e3)
        add(sid, "peak_exec_memory_bytes", st.peakExecutionMemory())
    for job in _seq(status.jobsList(None)):
        sid = span_id(_opt(job.description()))
        if sid is not None:
            add(sid, "jobs", 1)
    if listener is not None:
        for _, start, end in listener.phases:
            sp = innermost(tracer.spans, start)
            if sp is not None:
                add(sp.sid, "catalyst_s", end - start)
    return Harvest(by_span, sql_spans)


def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-opened span whose interval contains ``t``."""
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
            best = sp
    return best


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def self_time(sp: Span, spans: list[Span], sql_spans) -> float:
    """Span duration minus the part its child spans and the SQL
    executions it started cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == sp.sid]
    kids += [(s, e) for sid, s, e in sql_spans if sid == sp.sid]
    return sp.end - sp.start - covered(kids, sp.start, sp.end)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time the host took between two readings."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


# ---------------------------------------------------------------------------
# session-lifetime gauges
# ---------------------------------------------------------------------------


def vm_hwm_bytes(pid: int | str = "self") -> int:
    """Peak resident set size (``VmHWM``) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


class Gauges:
    """Cached relations, persistent RDDs and peak RSS of the driver JVM
    plus the driver Python process."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.base = self.leaks()
        self.max_increase = {"cached_relations": 0, "persistent_rdds": 0}

    def leaks(self) -> dict[str, int]:
        cache = self.spark._jsparkSession.sharedState().cacheManager()
        return {
            "cached_relations": 0 if cache.isEmpty() else 1,
            "persistent_rdds": self.spark.sparkContext._jsc.getPersistentRDDs().size(),
        }

    def after_iteration(self) -> None:
        now = self.leaks()
        for k, v in now.items():
            self.max_increase[k] = max(self.max_increase[k], v - self.base[k])

    def peak_rss_mb(self) -> float:
        return (vm_hwm_bytes(self.jvm_pid) + vm_hwm_bytes()) / (1 << 20)

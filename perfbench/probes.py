"""Read-outs taken from outside the program: Spark's own SQL execution
metrics, process-tree memory, and an in-memory span recorder.

Nothing here reaches into the package; the Spark numbers come from the
SQL status store that every SparkSession keeps (the UI is off, the store is
not), read back after each action.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> list[float]:
    """A formatted SQL metric value -> its numbers in base units (bytes,
    seconds or a plain count).  Spark prints either ``"12.1 s"`` or
    ``"total (min, med, max (stageId: taskId))\\n12.1 s (2.8 s, 3.2 s,
    3.3 s (stage 3.0: task 5))"``; the result is ``[total]`` or
    ``[total, min, med, max]``."""
    line = text.strip().splitlines()[-1]
    line = re.sub(r"\(stage [^)]*\)", "", line)
    out = []
    for num, unit in _VALUE.findall(line):
        scale = _SIZE_UNITS.get(unit or "", _TIME_UNITS.get(unit or "", 1.0))
        out.append(float(num.replace(",", "")) * scale)
    return out


@dataclass
class ActionMetrics:
    """Spark's own figures for the SQL executions one call started."""
    executions: int = 0
    stages: int = 0
    shuffle_bytes: float = 0.0
    broadcast_bytes: float = 0.0
    python_in_bytes: float = 0.0
    python_out_bytes: float = 0.0
    spill_bytes: float = 0.0
    # (med, max) of the per-task Python run time of each Python node
    python_task_med_max: list[tuple[float, float]] = field(default_factory=list)


# SQL metric name -> ActionMetrics field it adds to
_READ = {
    "shuffle bytes written": "shuffle_bytes",
    "data sent to Python workers": "python_in_bytes",
    "data returned from Python workers": "python_out_bytes",
    "spill size": "spill_bytes",
    "time to run Python workers": "python_task_med_max",
}


class SparkMetrics:
    """Collects the metrics of SQL executions newer than the last read."""

    def __init__(self, spark):
        self._spark = spark
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        # the SQL listener is created lazily; touch it before any action
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._max_id()

    def _executions(self):
        return self._conv.asJava(self._store.executionsList())

    def _max_id(self) -> int:
        return max((e.executionId() for e in self._executions()), default=-1)

    def read(self) -> ActionMetrics:
        """Metrics of every execution since the previous ``read``."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
        m = ActionMetrics()
        newest = self._seen
        for ex in self._executions():
            eid = ex.executionId()
            if eid <= self._seen:
                continue
            newest = max(newest, eid)
            m.executions += 1
            m.stages += ex.stages().size()
            values = self._conv.asJava(self._store.executionMetrics(eid))
            # every metric of every plan version AQE went through
            for metric in self._conv.asJava(ex.metrics()):
                mname = metric.name()
                if mname not in _READ:
                    continue
                raw = values.get(metric.accumulatorId())
                nums = parse_metric(raw) if raw else []
                if not nums:
                    continue
                if mname == "time to run Python workers":
                    if len(nums) == 4:
                        m.python_task_med_max.append((nums[2], nums[3]))
                else:
                    setattr(m, _READ[mname], getattr(m, _READ[mname]) + nums[0])
            # broadcast "data size" shares its name with the shuffle
            # exchange's, so it is told apart by its plan node
            for node in self._conv.asJava(self._store.planGraph(eid).allNodes()):
                if "Broadcast" not in node.name():
                    continue
                for metric in self._conv.asJava(node.metrics()):
                    raw = values.get(metric.accumulatorId())
                    if metric.name() == "data size" and raw:
                        m.broadcast_bytes += parse_metric(raw)[0]
        self._seen = newest
        return m


def planning_ms(df) -> float:
    """Force ``df``'s physical plan and return the Catalyst phase time
    (analysis + optimization + planning) recorded by its QueryExecution.
    The action that follows reuses this QueryExecution, so no work is
    repeated."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    conv = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters
    return float(sum(p.durationMs() for p in conv.asJava(phases).values()))


# "[42.199s][info][gc] GC(15) Pause Young (Normal) (...) 944M->111M(1024M) 37.528ms"
_GC_PAUSE = re.compile(r"^\[([\d.]+)s\].* GC\(\d+\) Pause .* \d+M->(\d+)M\(\d+M\)")


def jvm_uptime_s(spark) -> float:
    """The driver JVM's uptime, the clock its ``-Xlog:gc`` lines carry."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return mf.getRuntimeMXBean().getUptime() / 1e3


def live_heap_peak_mb(spark, gc_log: str, since_s: float) -> float:
    """Largest heap in use after a collection, over every collection the
    driver JVM logged (``-Xlog:gc:file=<gc_log>``) since uptime
    ``since_s``, and a final collection forced here.  In local mode this
    heap holds every shuffle, cache, broadcast and collected result; the
    heap in use before a collection only follows the collector's sizing."""
    spark._jvm.java.lang.System.gc()
    peak = 0.0
    with open(gc_log) as f:
        for line in f:
            m = _GC_PAUSE.match(line)
            if m and float(m.group(1)) >= since_s:
                peak = max(peak, float(m.group(2)))
    return peak


def jvm_heap_allocated_mb(spark) -> float:
    """Heap the driver JVM has allocated since it started, summed over all
    its threads, ended ones included, in MB.  It follows the work done,
    not the collector's timing or the machine's speed."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return mf.getThreadMXBean().getTotalThreadAllocatedBytes() / (1 << 20)


def _tree_pids(root_pid: int) -> list[int]:
    """A process and each of its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out = []
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_peak_rss(root_pid: int | None = None) -> list[tuple[int, str, float]]:
    """(pid, command, peak RSS in MB) of a process and each of its live
    descendants: the driver, its JVM and the Python workers.  Peak RSS is
    the kernel's high-water mark, VmHWM."""
    out = []
    for pid in _tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out.append((pid, fields["Name"].strip(),
                        int(fields["VmHWM"].split()[0]) / 1024.0))
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads (thread names are cut to 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(path: str, fields: slice) -> int:
    with open(path) as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])


def tree_cpu_s(root_pid: int | None = None) -> tuple[float, float]:
    """(CPU seconds, JIT CPU seconds) a process and its descendants have
    used: the driver, its JVM and the Python workers, with the reaped
    children of each (a Python worker that exited) counted in its parent.
    The first figure leaves out the second: the JVM's JIT compiler
    threads, whose share of one operation depends on when their queue
    drains more than on the operation.  Both are user + system time; what
    the hypervisor gave to other guests (steal) is in neither."""
    total = jit = 0
    for pid in _tree_pids(root_pid or os.getpid()):
        try:
            # utime, stime, cutime, cstime: fields 14-17 of proc_pid_stat(5)
            total += _stat_ticks(f"/proc/{pid}/stat", slice(11, 15))
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        if len(tasks) < 2:
            continue
        for tid in tasks:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(_JIT_THREADS):
                        continue
                jit += _stat_ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
            except OSError:
                continue
    return (total - jit) * _TICK_S, jit * _TICK_S


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op_id: int
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory, written once by the caller at the end.

    ``span(name, layer)`` is a context manager; spans opened inside it
    record it as their parent.  The yielded dict takes counts recorded at
    the same boundary."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = 0

    class _Ctx:
        def __init__(self, tracer: "Tracer", name: str, layer: str):
            self.t, self.name, self.layer = tracer, name, layer
            self.counts: dict = {}

        def __enter__(self):
            t = self.t
            self.idx = len(t.spans)
            t.spans.append(Span(self.name, self.layer, time.perf_counter(), 0.0,
                                t._stack[-1] if t._stack else None, t.op_id))
            t._stack.append(self.idx)
            return self.counts

        def __exit__(self, *exc):
            t = self.t
            t._stack.pop()
            s = t.spans[self.idx]
            s.end = time.perf_counter()
            s.counts = self.counts
            return False

    def span(self, name: str, layer: str) -> "Tracer._Ctx":
        return Tracer._Ctx(self, name, layer)

    def self_times(self) -> dict[str, float]:
        """Per layer: the summed duration of its spans minus the part of
        each interval that child spans cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "layer": s.layer, "start": s.start,
                 "end": s.end, "parent": s.parent, "op_id": s.op_id,
                 "counts": s.counts} for s in self.spans]


class NullTracer(Tracer):
    """Records nothing: the untraced runs pay no tracing cost."""

    class _Null:
        def __enter__(self):
            return {}

        def __exit__(self, *exc):
            return False

    _NULL = _Null()

    def span(self, name: str, layer: str):
        return self._NULL

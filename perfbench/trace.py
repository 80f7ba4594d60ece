"""In-memory spans and Spark accounting for the traced run.

Spans are recorded from the benchmark's own code around each call into an
engine layer; nothing inside the engine is edited.  A span records its
name, layer, start, end, parent and the id of the op it belongs to.  They
stay in memory; the run writes them into its record when it ends.

A layer's self time is its spans' duration minus the part of that interval
covered by their child spans.  The self times of one op's spans add up to
the op's wall time, because the op's root span is itself a span (of the
``bench`` layer, which holds the benchmark's own glue).

Spark's job, stage and SQL-metric data is read from the status stores that
the application already keeps, after each op; nothing is re-scanned.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    op: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    error: str | None = None


@dataclass
class Tracer:
    """Span recorder.  Parents follow the calling thread's open spans; a
    span opened on a thread with none open (a ``foreachBatch`` callback)
    takes the innermost span open anywhere, which is the call that is
    blocked waiting for that thread."""

    spans: list[Span] = field(default_factory=list)
    errors: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    op: int = 0
    _open: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _counted: set = field(default_factory=set)

    @contextmanager
    def span(self, name: str):
        """Record a span; its layer is the name's prefix before the dot."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            s = Span(
                id=len(self.spans), op=self.op, name=name,
                layer=name.split(".", 1)[0],
                start=time.perf_counter(),
                parent=parent.id if parent else None,
            )
            self.spans.append(s)
            self._open.append(s)
        stack.append(s)
        try:
            yield s
        except BaseException as exc:
            s.error = type(exc).__name__
            # count each exception once, at the innermost layer it left
            if exc not in self._counted:
                self._counted.add(exc)
                self.errors[s.layer] += 1
            raise
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self._open.remove(s)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the union of its
    children's intervals, each clipped to the parent."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids[s.id] if c.end > s.start and c.start < s.end
        )
        out[s.id] = (s.end - s.start) - covered
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += st[s.id]
    return dict(out)


# --------------------------------------------------------------------------
# Spark status-store readers
# --------------------------------------------------------------------------

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A formatted SQL-metric value as a number in base units (seconds,
    bytes, count).  Multi-task metrics read ``total (min, med, max ...)``
    on the first line and the values on the second; the total comes first.
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2) or "", 1.0)


#: SQL metric display names of Python exec nodes -> operators.* keys
PYTHON_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_mb_sent",
    "data returned from Python workers": "python_mb_received",
}


class SparkStats:
    """Reads jobs, stages and SQL executions from the live application's
    status stores (the same data the Spark UI shows)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        jsc = sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the op's finished jobs and final metric values."""
        self.bus.waitUntilEmpty()

    def sql_count(self) -> int:
        return self.sql.executionsCount()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group) or [])

    def jobs(self, job_ids) -> list[dict]:
        """Per-job accounting: submission and completion (epoch seconds)
        and the stage/task metrics of every stage the job ran."""
        statuses = getattr(self.store, "stageData$default$3")()
        quantiles = getattr(self.store, "stageData$default$5")()
        out = []
        for jid in job_ids:
            jd = self.store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            job = defaultdict(float, id=jid, start=sub.get().getTime() / 1e3,
                              end=comp.get().getTime() / 1e3)
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                seq = self.store.stageData(sid, False, statuses, False, quantiles)
                for i in range(seq.size()):
                    sd = seq.apply(i)
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    job["stages"] += 1
                    job["tasks"] += sd.numCompleteTasks()
                    job["executor_run_s"] += sd.executorRunTime() / 1e3
                    job["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    job["gc_s"] += sd.jvmGcTime() / 1e3
                    job["input_mb"] += sd.inputBytes() / 2**20
                    job["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                    job["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                    job["spill_mb"] += sd.diskBytesSpilled() / 2**20
            out.append(dict(job))
        return out

    def python_metrics(self, since: int) -> dict[str, float]:
        """Python exec-node SQL metrics summed over the SQL executions
        started after the ``since``-th one."""
        out = defaultdict(float)
        n = self.sql.executionsCount()
        if n <= since:
            return out
        execs = self.sql.executionsList(since, n - since)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = None
            nodes = self.sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                ms = nodes.apply(j).metrics()
                named = {ms.apply(k).name(): ms.apply(k).accumulatorId() for k in range(ms.size())}
                if not any(name in PYTHON_METRICS for name in named):
                    continue
                if values is None:
                    values = self._metric_values(eid)
                for name, acc in named.items():
                    key = PYTHON_METRICS.get(name)
                    if key is None and name == "number of output rows":
                        key = "python_rows"
                    if key is None or acc not in values:
                        continue
                    v = parse_metric(values[acc])
                    out[key] += v / 2**20 if key.startswith("python_mb") else v
        return out

    def _metric_values(self, execution_id: int) -> dict[int, str]:
        # iterate entries: a py4j lookup would box the key as Integer and
        # miss the map's Long keys
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        m = conv.asJava(self.sql.executionMetrics(execution_id))
        return {int(e.getKey()): e.getValue() for e in m.entrySet()}


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning of the DataFrame's last action,
    from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += (p.get().endTimeMs() - p.get().startTimeMs()) / 1e3
    return total


# --------------------------------------------------------------------------
# Memory: resident set of the driver process and the Spark JVM
# --------------------------------------------------------------------------

def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Samples driver + JVM RSS from /proc on a background thread; the
    peak is the largest sum seen."""

    def __init__(self, pids: list[int], interval: float = 0.1):
        self.pids = pids
        self.interval = interval
        self.peak = 0.0
        self.peaks = {p: 0.0 for p in pids}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        now = {p: rss_mb(p) for p in self.pids}
        self.peak = max(self.peak, sum(now.values()))
        for p, v in now.items():
            self.peaks[p] = max(self.peaks[p], v)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / 2**20

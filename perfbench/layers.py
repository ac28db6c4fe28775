"""Per-layer collection from outside the engine package.

Nothing here patches or instruments the package. Layers are seen from two
sides only:

* **Spans** around the benchmark's own calls into each layer's public
  functions (``session.build_session``, ``registry.load_all`` and the query
  callables, ``catalog.load``, ``ingest.*``, ``streaming.jobs.*``). A span
  has a name, its layer, start, end, parent and operation id; spans stay in
  memory and are written out once, when the run ends.
* **Spark's public status stores**, read after each operation: the core
  ``AppStatusStore`` (jobs, stages, tasks, executor time, shuffle, GC,
  spill), the SQL ``SQLAppStatusStore`` (Python-worker and join-row plan
  metrics), ``QueryExecution.tracker`` (Catalyst phases) and streaming
  progress reports.

Every operation runs its construction and its action under two separate
job groups, so jobs that run while a DataFrame is being *built* (eager
checkpoints, partition-count probes) are told apart from the action's. A
streaming trigger's jobs run on the query's own thread, under the job group
Spark sets there: the query's runId.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    id: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer still times spans (the
    caller needs the durations) but keeps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self.op: int | None = None

    def span(self, name: str, layer: str) -> "_SpanCtx":
        return _SpanCtx(self, name, layer)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer with each span's children subtracted."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += s.dur - child[s.id]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t = tracer
        parent = tracer._stack[-1].id if tracer._stack else None
        self.span = Span(name, layer, 0.0, parent=parent, op=tracer.op, id=tracer._next_id)
        tracer._next_id += 1

    def __enter__(self) -> Span:
        self.t._stack.append(self.span)
        self.span.start = time.perf_counter()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.t._stack.pop()
        if self.t.enabled:
            self.t.spans.append(self.span)


# --- Spark status stores ----------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str, kind: str) -> float:
    """Value of one formatted SQL plan metric, in bytes, seconds or units.

    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first figure of the last line."""
    m = _NUM.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return v * _SIZE.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return v * _TIME.get(unit, 1e-3)
    return v


#: SQL plan metrics kept per Python-evaluating node: (metric name, key).
_PY_METRICS = {
    "time to run Python workers": "spark.python.run_s",
    "time to start Python workers": "spark.python.start_s",
    "time to initialize Python workers": "spark.python.init_s",
    "data sent to Python workers": "spark.python.bytes_sent",
    "data returned from Python workers": "spark.python.bytes_returned",
}
_JOIN_NODE = re.compile(r"(Join|CartesianProduct)")


class SparkProbe:
    """Reads the status stores for the jobs of one job group at a time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._next_exec = self._last_execution() + 1

    def _settle(self) -> None:
        """Wait until the status stores have taken in every event posted so
        far; they are fed asynchronously by the listener bus."""
        self._bus.waitUntilEmpty()

    def _last_execution(self) -> int:
        self._settle()
        execs = self._sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name, False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def skip_executions(self) -> None:
        """Forget SQL executions run so far (untraced work)."""
        self._next_exec = self._last_execution() + 1

    def stage_metrics(self, group: str) -> dict[str, float]:
        self._settle()
        out: dict[str, float] = defaultdict(float)
        tracker = self.sc.statusTracker()
        empty = self.sc._gateway.new_array(self._jvm.double, 0)
        for jid in tracker.getJobIdsForGroup(group):
            out["spark.scheduler.jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                seq = self._store.stageData(sid, False, self._jvm.java.util.ArrayList(), False, empty)
                it = seq.iterator()
                while it.hasNext():
                    sd = it.next()
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["spark.scheduler.stages"] += 1
                    out["spark.scheduler.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    out["spark.executor.run_s"] += sd.executorRunTime() / 1e3
                    out["spark.executor.cpu_s"] += sd.executorCpuTime() / 1e9
                    out["spark.executor.gc_s"] += sd.jvmGcTime() / 1e3
                    out["spark.shuffle.write_bytes"] += sd.shuffleWriteBytes()
                    out["spark.shuffle.read_bytes"] += sd.shuffleReadBytes()
                    out["spark.shuffle.fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                    out["spark.shuffle.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return dict(out)

    def sql_metrics(self) -> dict[str, float]:
        """Python-worker and join-row plan metrics of the SQL executions
        that ran since the previous call."""
        self._settle()
        out: dict[str, float] = defaultdict(float)
        execs = self._sql.executionsList()
        new = []
        i = execs.size() - 1
        while i >= 0 and execs.apply(i).executionId() >= self._next_exec:
            new.append(execs.apply(i).executionId())
            i -= 1
        for eid in new:
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                is_join = bool(_JOIN_NODE.search(node.name()))
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    key = _PY_METRICS.get(m.name())
                    if key is None and not (is_join and m.name() == "number of output rows"):
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    out[key or "join_rows"] += parse_sql_metric(v.get(), m.metricType())
        if new:
            self._next_exec = max(new) + 1
        return dict(out)

    @staticmethod
    def catalyst_phases(df) -> dict[str, float]:
        """Analysis, optimization and planning seconds of ``df``'s own plan
        (planning is forced here, after the timed action)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        out = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[f"spark.catalyst.{kv._1()}_s"] = kv._2().durationMs() / 1e3
        return out


# --- Process memory ---------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of the engine's processes (the Spark JVM and its
    descendant Python workers), sampled from ``/proc`` every ``period``
    seconds on a daemon thread between ``start()`` and ``stop()``."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root = root_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants(self.root)))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / (1 << 20)

"""Measurement from outside the program: spans, process-tree RSS, and
Spark's own status stores.

- ``Tracer`` keeps spans in memory (name, start, end, parent, trace id)
  and writes them out once at the end; when disabled its ``span`` is a
  no-op, so the untraced run pays nothing.
- ``RssSampler`` reads /proc for the benchmark process and every
  descendant (JVM, Python workers) and keeps the peak of their summed
  resident memory (PSS, so shared pages count once).
- ``StatusCollector`` turns the application status store (jobs, stages)
  and the SQL status store (plan-node metrics) into ``spark.*`` and
  ``python.*`` figures for a time interval, and adds jobs and stages to
  the trace as child spans.
"""

from __future__ import annotations

import itertools
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent["trace"] if parent else None),
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: dict, **attrs) -> dict:
        sp = {
            "id": next(self._ids), "parent": parent["id"], "trace": parent["trace"],
            "name": name, "start": start, "end": end, **attrs,
        }
        self.spans.append(sp)
        return sp

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def wrap(tracer: Tracer, owner, attr: str, span_name: str) -> None:
    """Replace ``owner.attr`` by a wrapper recording one span per call."""
    fn = getattr(owner, attr)

    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    traced.__wrapped__ = fn
    setattr(owner, attr, traced)


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------
def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes are split
    among them, so forked Python workers and the JVM's short-lived fork
    children (Hadoop runs chmod/readlink that way) do not count twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process exited
    return 0


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss_bytes(root: int) -> int:
    return sum(_pss_bytes(pid) for pid in [root, *descendants(root)])


class RssSampler:
    """Peak resident memory of this process and its descendants (summed
    PSS), sampled by one background thread every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_pss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------
_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_TOTAL_RE = re.compile(r"^([0-9][0-9,.]*)\s*([A-Za-z]+)?")

# SQL plan-node metric name -> (python.* key, unit of the parsed value)
PYTHON_NODE_METRICS = {
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def parse_sql_metric(text: str | None) -> float:
    """Total of one formatted SQL metric ("8.6 s (2.1 s, ...)", "782.9 KiB",
    "1,024") in ms for timings, bytes for sizes, the count otherwise."""
    if not text:
        return 0.0
    lines = text.strip().splitlines()
    m = _TOTAL_RE.match(lines[-1].strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.driver_ms", "spark.executor_run_ms", "spark.executor_cpu_ms",
    "spark.gc_ms", "spark.input_bytes", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_ms", "spark.spill_bytes",
    "spark.scan_ms",
)


class StatusCollector:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list:
        """Jobs submitted within [t0, t1] (epoch ms). Jobs are matched by
        submission time, not by job group: sinks written from worker
        threads carry no group."""
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub = _ms(j.submissionTime())
            if sub is not None and t0_ms - 1 <= sub <= t1_ms + 1:
                out.append(j)
        return out

    def collect(self, ops: list[tuple[float, float, dict | None]], tracer: Tracer) -> dict:
        """Sum engine metrics over the jobs of each (start_s, end_s, span)
        operation; ``driver_ms`` is op wall time outside every job."""
        agg = dict.fromkeys(SPARK_KEYS, 0.0)
        agg.update(dict.fromkeys(PYTHON_NODE_METRICS.values(), 0.0))
        for start, end, parent in ops:
            t0, t1 = start * 1e3, end * 1e3
            intervals = []
            for j in self.jobs_between(t0, t1):
                sub = _ms(j.submissionTime())
                done = _ms(j.completionTime()) or t1
                intervals.append((max(sub, t0), min(done, t1)))
                agg["spark.jobs"] += 1
                jspan = None
                if parent is not None:
                    jspan = tracer.add(f"spark.job {j.jobId()}", sub / 1e3, done / 1e3, parent)
                sids = j.stageIds()
                for k in range(sids.size()):
                    self._add_stage(agg, sids.apply(k), tracer, jspan)
            agg["spark.driver_ms"] += (t1 - t0) - _union_ms(intervals)
        self._add_sql(agg, ops)
        return agg

    def _add_stage(self, agg: dict, sid: int, tracer: Tracer, jspan: dict | None) -> None:
        try:
            s = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage never ran (skipped)
            return
        if s.status().toString() == "SKIPPED":
            return
        agg["spark.stages"] += 1
        agg["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        agg["spark.failed_tasks"] += s.numFailedTasks()
        agg["spark.executor_run_ms"] += s.executorRunTime()
        agg["spark.executor_cpu_ms"] += s.executorCpuTime() / 1e6
        agg["spark.gc_ms"] += s.jvmGcTime()
        agg["spark.input_bytes"] += s.inputBytes()
        agg["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
        agg["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
        agg["spark.shuffle_write_ms"] += s.shuffleWriteTime() / 1e6
        agg["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if jspan is not None:
            t0, t1 = _ms(s.submissionTime()), _ms(s.completionTime())
            if t0 is not None and t1 is not None:
                tracer.add(f"spark.stage {sid}", t0 / 1e3, t1 / 1e3, jspan,
                           tasks=s.numTasks(), run_ms=s.executorRunTime())

    def _add_sql(self, agg: dict, ops: list[tuple[float, float, dict | None]]) -> None:
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            sub = float(e.submissionTime())
            if not any(start * 1e3 - 1 <= sub <= end * 1e3 + 1 for start, end, _ in ops):
                continue
            values = self._sql.executionMetrics(e.executionId())
            metrics = e.metrics()
            seen = set()  # adaptive re-plans list a node's metrics again
            for k in range(metrics.size()):
                m = metrics.apply(k)
                name = m.name()
                if m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                key = PYTHON_NODE_METRICS.get(name)
                if key is None and name != "scan time":
                    continue
                v = values.get(m.accumulatorId())
                value = parse_sql_metric(v.get() if v.isDefined() else None)
                agg[key or "spark.scan_ms"] += value

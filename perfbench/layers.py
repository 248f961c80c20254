"""Measurement from outside the package: spans, Spark status stores and
``/proc``.

Everything here reads state the program already exposes; nothing patches
the package. The Spark readers use the py4j handles of the application
status store (jobs, stages) and of the SQL status store (operator
metrics); both fill with the UI turned off.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, run id).

    A disabled tracer records nothing; ``span`` still times its body, so
    callers have one code path."""

    run_id: str
    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def dump(self) -> list[dict]:
        return list(self.spans)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.start = self.end = 0.0

    def __enter__(self):
        t = self.tracer
        self.start = time.perf_counter()
        if t.enabled:
            self.idx = len(t.spans)
            t.spans.append({
                "id": self.idx, "name": self.name, "run": t.run_id,
                "parent": t._stack[-1] if t._stack else None,
                "start": self.start, "end": None, **self.attrs,
            })
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            t.spans[self.idx]["end"] = self.end
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_SIZE_RE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(B|KiB|MiB|GiB|TiB)")


def parse_size(text: str | None) -> float:
    """Bytes from a SQL size metric string: either ``'538.0 B'`` or
    ``'total (min, med, max ...)\\n16.2 KiB (...)'`` (the total comes
    first)."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[-1]
    m = _SIZE_RE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Reads one job group's jobs, stages and SQL metrics after its action
    returns."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the finished job's final metrics."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def last_execution_id(self) -> int:
        sql = self._sql_store()
        n = sql.executionsCount()
        return max((e.executionId() for e in _iter(sql.executionsList(n - 1, 1))), default=-1) if n else -1

    def group_stats(self, group: str, after_execution: int) -> dict:
        self.drain()
        store = self._jsc.statusStore()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        job_s: list[float] = []
        for j in job_ids:
            jd = store.job(j)
            sub, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if sub is not None and end is not None:
                job_s.append(end - sub)
            stage_ids.update(int(s) for s in _iter(jd.stageIds()))
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "run_s": 0.0,
               "cpu_s": 0.0, "gc_s": 0.0, "input_b": 0.0, "shuffle_write_b": 0.0,
               "shuffle_read_b": 0.0, "spill_b": 0.0, "job_s": job_s}
        for s in stage_ids:
            sd = store.lastStageAttempt(s)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_b"] += sd.inputBytes()
            out["shuffle_write_b"] += sd.shuffleWriteBytes()
            out["shuffle_read_b"] += sd.shuffleReadBytes()
            out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["arrow_b"] = self._python_bytes(after_execution)
        return out

    def _python_bytes(self, after_execution: int) -> float:
        """Bytes sent to and returned from Python workers, summed over SQL
        executions newer than ``after_execution``."""
        sql = self._sql_store()
        total = 0.0
        for i in range(after_execution + 1, self.last_execution_id() + 1):
            e = sql.execution(i)
            if not e.isDefined():
                continue
            e = e.get()
            values = sql.executionMetrics(i)
            for m in _iter(e.metrics()):
                if "Python workers" in m.name() and m.metricType() == "size":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += parse_size(v.get())
        return total

    def clear_group(self) -> None:
        """Untag, so later jobs (control job, cache reads) fall in no
        operation's group."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def cache_left(self) -> tuple[int, float]:
        """(persistent RDD count, MB they hold) as the context sees them."""
        n = self.sc._jsc.getPersistentRDDs().size()
        mb = 0.0
        for info in self._jsc.getRDDStorageInfo():
            mb += (info.memSize() + info.diskSize()) / 2**20
        return n, mb


def plan_phases(df) -> dict[str, float]:
    """Seconds per QueryExecution phase (analysis, optimization, planning)
    of one DataFrame."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for kv in _iter(phases):
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out


# ---------------------------------------------------------------------------
# /proc: memory and Python-worker CPU of the JVM's process tree
# ---------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2 :].split()
    return int(rest[1]), raw[lpar + 1 : rpar], rest  # ppid, comm, fields from state


def tree(root: int) -> list[tuple[int, str, list[str]]]:
    """``root`` and all its descendants as (pid, comm, stat fields)."""
    by_parent: dict[int, list[tuple[int, str, list[str]]]] = {}
    me = None
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        st = _stat(pid)
        if st is None:
            continue
        ppid, comm, rest = st
        if pid == root:
            me = (pid, comm, rest)
        by_parent.setdefault(ppid, []).append((pid, comm, rest))
    if me is None:
        return []
    out, todo = [me], [root]
    while todo:
        for child in by_parent.get(todo.pop(), []):
            out.append(child)
            todo.append(child[0])
    return out


def peak_rss_mb(procs) -> float:
    """Sum of each process's peak resident set (VmHWM) over the tree: the
    JVM's own peak plus the peak of every live Python worker."""
    total_kb = 0
    for pid, _, _ in procs:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def python_cpu_s(procs) -> float:
    """CPU seconds of the Python processes in a JVM's tree, including the
    reaped children the pyspark daemon has collected (cutime/cstime)."""
    total = 0
    for _, comm, r in procs:
        if comm.startswith("python"):
            total += int(r[11]) + int(r[12]) + int(r[13]) + int(r[14])
    return total / _CLK_TCK

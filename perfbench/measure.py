"""Measurement helpers: spans, per-job-group Spark counters, process-tree
CPU and JVM heap.

Everything is read from outside the program: spans wrap the benchmark's
own calls into each layer, and Spark counters come from the job group the
benchmark sets around each operation, read back through the status store.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans (name, start, end, parent) plus per-operation
    counters. Disabled, it keeps nothing but still times the block."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: list[dict] = []
        self.tags: dict = {}  # copied into every span: set-up or pass, op
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **self.tags, **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters}, fh)


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` and every live descendant,
    including what each has collected from its reaped children: the
    Python client, the JVM and the Python workers together."""
    root = root or os.getpid()
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        f = st[st.rindex(")") + 2:].split()
        pid = int(d)
        kids.setdefault(int(f[1]), []).append(pid)
        cpu[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += cpu.get(p, 0)
        todo.extend(kids.get(p, ()))
    return total / _CLK_TCK


def heap_after_gc_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / float(1 << 20)


def storage_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


# display names of the Python exec nodes' SQL metrics (PythonSQLMetrics)
_PY_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_sent_bytes",
    "number of output rows": "python_rows_received",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1, "m": 60, "h": 3600}


def _metric_total(text: str) -> float:
    """The total of a SQL metric as the SQL status store renders it
    (``"total (min, med, max ...)\n12.3 KiB (...)"``, ``"1.2 s"``,
    ``"1,234"``), in bytes, seconds or rows. The store keeps only this
    rendering once an execution ends, so sizes and times carry its 2-3
    significant digits."""
    head = text.split("\n")[-1].split(" (")[0].strip()
    num, _, unit = head.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


def group_counters(spark, group: str, exec_from: int) -> dict:
    """Spark work done by the jobs of one job group: job, stage and task
    counts, executor run and CPU time, input/shuffle/spill bytes, and the
    Python exec nodes' SQL metrics of the SQL executions started since
    ``exec_from``."""
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
         "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
         *_PY_METRICS.values()), 0)
    out["jobs"] = len(jobs)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info.isDefined():
            stage_ids.update(info.get().stageIds())
    for sid in sorted(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:
            continue
        if s.numCompleteTasks() == 0:
            continue  # skipped: its output was reused
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["executor_run_s"] += s.executorRunTime() / 1e3
        out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["input_bytes"] += s.inputBytes()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    sql = spark._jsparkSession.sharedState().statusStore()
    n = sql.executionsCount()
    jobset = set(jobs)
    for e in _iter(sql.executionsList(exec_from, max(0, n - exec_from))):
        if not jobset & {int(k) for k in _iter(e.jobs().keys())}:
            continue
        values = sql.executionMetrics(e.executionId())
        for node in _iter(sql.planGraph(e.executionId()).allNodes()):
            ms = {m.name(): m for m in _iter(node.metrics())}
            if "data sent to Python workers" not in ms:
                continue
            for name, key in _PY_METRICS.items():
                v = values.get(ms[name].accumulatorId()) if name in ms else None
                if v is not None and v.isDefined():
                    out[key] += _metric_total(v.get())
    return out


def sql_executions(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def planning_s(df) -> float:
    """Catalyst analysis + optimization + physical planning of ``df``'s
    plan in a fresh QueryExecution, from its phase tracker."""
    qe = df.select("*")._jdf.queryExecution()
    qe.executedPlan()
    total = 0.0
    for ph in _iter(qe.tracker().phases().values()):
        total += (ph.endTimeMs() - ph.startTimeMs()) / 1e3
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for root, _d, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def steal_s() -> float:
    """CPU time the hypervisor took from this VM's CPUs, summed over them."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK

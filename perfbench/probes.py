"""Measurement probes the benchmark reads from outside the engine.

- process-tree CPU time and resident memory, from ``/proc``;
- Spark's scheduler counters (jobs, stages, tasks), from the status
  tracker, which sees jobs launched from any driver thread;
- the per-node metrics of the Python-UDF plan node
  (``ArrowEvalPythonExec``), read from the executed plan;
- spans kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name; index 0 is
    field 3 (state), so field n of proc(5) is at index n - 3."""
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    return s[s.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_SIZE
        except (OSError, IndexError, ValueError):
            pass
    return total


def cpu_seconds(pid: int, reaped_children: bool = False) -> float:
    """User + system CPU of one process; with ``reaped_children`` also
    the CPU of its children that have exited and been waited for."""
    try:
        f = _stat_fields(pid)
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if reaped_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def pyworker_cpu_seconds(jvm_pid: int) -> float:
    """CPU of the Python worker daemons and the workers they forked. A
    worker that exits moves its CPU into its daemon's reaped-children
    count, and a daemon that exits into the JVM's, so the sum does not
    drop when workers or daemons are replaced."""
    f = _stat_fields(jvm_pid)
    total = (int(f[13]) + int(f[14])) / CLK_TCK
    for pid in descendants(jvm_pid):
        if pid == jvm_pid or "pyspark" not in _cmdline(pid):
            continue
        try:
            is_daemon = int(_stat_fields(pid)[1]) == jvm_pid
        except (OSError, IndexError, ValueError):
            continue
        total += cpu_seconds(pid, reaped_children=is_daemon)
    return total


def machine_cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot. Steal is the
    time a virtual CPU wanted to run but the host ran something else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class RssSampler:
    """Samples the resident memory of a process tree on a thread and
    keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))


class SparkCounters:
    """Scheduler and process counters of one Spark session."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jvm = spark._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def last_job_id(self) -> int:
        ids = self.tracker.getJobIdsForGroup()
        return max(ids) if ids else -1

    def work_since(self, job_id: int) -> dict[str, int]:
        """Jobs started after ``job_id``, the stages they ran and the
        tasks those stages completed. A stage skipped because its
        shuffle output already existed ran no task and is not counted."""
        jobs = [j for j in self.tracker.getJobIdsForGroup() if j > job_id]
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        stages = tasks = 0
        for s in stage_ids:
            info = self.tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def jvm_cpu_s(self) -> float:
        return cpu_seconds(self.jvm_pid)

    def jvm_gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def pyworker_cpu_s(self) -> float:
        return pyworker_cpu_seconds(self.jvm_pid)

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())


def python_udf_node_metrics(df) -> dict[str, int]:
    """Sum each metric over the Python-UDF evaluation nodes of the plan
    that ``df`` last executed (``pythonDataSent``, ``pythonTotalTime``,
    ...). Adaptive plans are read in their final form."""
    totals: dict[str, int] = {}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if "EvalPython" in cls:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                totals[kv._1()] = totals.get(kv._1(), 0) + int(kv._2().value())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return totals


class Tracer:
    """In-memory spans: name, start, end, parent span and op id. When
    disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"metrics": metrics, "spans": self.spans}, f)

"""Read what Spark did under a job group, from outside the program.

Everything here reads Spark's status stores after the work is done
(``statusTracker``, ``AppStatusStore``, ``SQLAppStatusStore``) and the
host's ``/proc``; nothing submits a Spark job. It works with the UI
disabled.
"""

from __future__ import annotations

import os
import re
import statistics
import threading

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def job_ids(spark, groups: list[str]) -> list[int]:
    """Ids of every Spark job run under any of ``groups``."""
    tracker = spark.sparkContext.statusTracker()
    return sorted({int(j) for g in groups for j in tracker.getJobIdsForGroup(g)})


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def group_stage_metrics(
    spark, groups: list[str], wall_s: float, cores: int
) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics of every job run under ``groups``.

    Stages skipped because their shuffle output was reused count in
    ``stages`` only if they ran. ``task_skew`` is max/median task run
    time in the stage with the largest total run time;
    ``parallel_eff`` is total executor run time / (wall x cores).
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = job_ids(spark, groups)
    stage_ids = sorted({int(s) for j in jobs for s in tracker.getJobInfo(j).stageIds})
    out = {
        "spark.jobs": float(len(jobs)), "spark.stages": 0.0, "spark.tasks": 0.0,
        "spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0, "spark.jvm_gc_s": 0.0,
        "spark.shuffle_write_mb": 0.0, "spark.shuffle_read_mb": 0.0, "spark.spill_mb": 0.0,
    }
    slowest = (-1, None, None)  # (run ms, stage id, attempt id)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # NoSuchElementException: never submitted
            continue
        if str(sd.status()) != "COMPLETE":
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += sd.numCompleteTasks()
        out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
        out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["spark.jvm_gc_s"] += sd.jvmGcTime() / 1e3
        out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
        out["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
        out["spark.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        if sd.executorRunTime() > slowest[0]:
            slowest = (sd.executorRunTime(), sid, sd.attemptId())
    skew = 1.0
    if slowest[1] is not None:
        runs = []
        for t in _iter(store.taskList(slowest[1], slowest[2], 1 << 20)):
            m = t.taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        med = statistics.median(runs) if runs else 0
        skew = max(runs) / med if med > 0 else 1.0
    out["spark.task_skew"] = skew
    out["spark.parallel_eff"] = out["spark.executor_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
    return out


_DUR = re.compile(r"([\d.,]+)\s*(ms|s|m|min|h)\b")
_DUR_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _parse_duration_s(text: str) -> float:
    """Seconds from a SQL timing metric string: either ``"12 ms"`` or
    ``"total (min, med, max ...)\\n1.2 s (...)"`` (the total comes
    first on the last line)."""
    m = _DUR.search(text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _DUR_S[m.group(2)] if m else 0.0


def group_sql_time_s(spark, groups: list[str], metric: str) -> float:
    """Sum of one SQL timing metric over every plan node of the SQL
    executions whose jobs ran under ``groups``."""
    jobs = set(job_ids(spark, groups))
    sql = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    for ex in _iter(sql.executionsList()):
        ex_jobs = {int(j) for j in _iter(ex.jobs().keys())}
        if not ex_jobs & jobs:
            continue
        values = sql.executionMetrics(ex.executionId())
        for n in _iter(sql.planGraph(ex.executionId()).allNodes()):
            for m in _iter(n.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == metric and v.isDefined():
                    total += _parse_duration_s(v.get())
    return total


def jit_compile_s(spark) -> float:
    """CPU time the JVM's JIT compiler threads have spent so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


def persistent_rdds(spark) -> int:
    """RDDs still registered as persistent (cached DataFrames and
    local checkpoints alike)."""
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def steal_s() -> float:
    """Host steal time so far (all CPUs), from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages shared between the forked Python
    workers count once in the sum, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of one process since it started (``VmHWM``),
    which the kernel keeps, so reading it costs nothing while the
    process works."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _is_python(pid: int) -> bool:
    """Python workers only: a command the JVM spawns (Hadoop's shell
    calls) shares the JVM's memory until it execs, and would count the
    JVM twice."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class WorkerMemory:
    """Peak of the summed PSS of the Python workers a JVM forks,
    sampled on a background thread.

    The JVM itself is not sampled: reading its ``smaps_rollup`` walks
    gigabytes of mappings under the JVM's memory-map lock (about 9 ms
    a read), which stalled its threads and slowed the repetitions
    being timed. Its peak comes from ``peak_rss_mb`` instead.
    """

    INTERVAL_S = 0.5

    def __init__(self, jvm_pid: int):
        self._jvm = jvm_pid
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0

    def _run(self) -> None:
        while not self._stop.is_set():
            workers = [p for p in descendants(self._jvm) if _is_python(p)]
            self.peak_mb = max(self.peak_mb, sum(_pss_mb(p) for p in workers))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "WorkerMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

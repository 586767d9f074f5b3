"""Where one warm perfbench repetition spends its time, per SQL
execution and per stage, read from Spark's status stores.

Usage: python scripts/exec_timeline.py WORKLOAD [SEED]

Starts the benchmark's session (same heap and settings as
``perfbench/run.py``), generates the workload's inputs, runs its
warm-up repetitions, then one checked repetition under a job group of
its own, and prints:

* the repetition's wall time (``run`` only, as perfbench times it),
  its driver-only time (wall minus the union of its SQL executions'
  intervals: building DataFrames, planning outside a query, Python
  between actions) and its Python->JVM py4j round trips (every
  ``GatewayClient.send_command``, counted by wrapping it here);
* one line per SQL execution of that repetition: start offset from
  the repetition's start, wall time, jobs, tasks, call site;
* one line per stage: tasks, task run time, task CPU time and their
  ratio. A stage whose run time far exceeds its CPU time waited on
  something outside the JVM, such as forked Python workers.

Nothing under ``perfbench/`` is changed; its session set-up, workloads
and status-store readers are imported from there.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run  # noqa: E402  perfbench/run.py
from sparkstats import _iter, job_ids  # noqa: E402

GROUP = "exec_timeline"
_SENT = [0]  # py4j commands sent since start


def _count_py4j() -> None:
    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        _SENT[0] += 1
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counted


def _rep(wl) -> tuple[float, int]:
    """One checked repetition: wall time and py4j round trips of
    ``run``; the check and the cache release come after."""
    from sparklyclean_spark.cache import release_caches

    try:
        sent0, t0 = _SENT[0], time.perf_counter()
        out = wl.run()
        wall, sent = time.perf_counter() - t0, _SENT[0] - sent0
        wl.check(out)
    finally:
        release_caches()
    return wall, sent


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        total += max(0.0, end - max(start, reach))
        reach = max(reach, end)
    return total


def _short(call_site: str) -> str:
    """First line of a call site, without directories."""
    return re.sub(r"\S*/", "", call_site.splitlines()[0] if call_site else "")[:60]


def _stages(spark, job: int) -> list:
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for sid in sorted(spark.sparkContext.statusTracker().getJobInfo(job).stageIds):
        sd = store.lastStageAttempt(sid)
        if str(sd.status()) == "COMPLETE":
            out.append(sd)
    return out


def timeline(spark, t0_ms: float, end_ms: float) -> None:
    """Print the executions and stages of every job run under GROUP,
    and the repetition's driver-only time ([t0_ms, end_ms] outside
    every execution)."""
    jobs = set(job_ids(spark, [GROUP]))
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = []
    for ex in _iter(sql.executionsList()):
        ex_jobs = sorted(int(j) for j in _iter(ex.jobs().keys()))
        if set(ex_jobs) & jobs:
            execs.append((ex, ex_jobs))
    placed = {j for _, ex_jobs in execs for j in ex_jobs}
    rows = [(ex.executionId(), ex.submissionTime(), ex.completionTime(), ex_jobs,
             _short(ex.description())) for ex, ex_jobs in execs]
    if jobs - placed:
        rows.append((None, None, None, sorted(jobs - placed), "(no SQL execution)"))
    busy = [(max(start, t0_ms), min(end.get().getTime(), end_ms))
            for _, start, end, _, _ in rows
            if start is not None and end is not None and end.isDefined()]
    rep_s = (end_ms - t0_ms) / 1e3
    print(f"driver-only {rep_s - _union_s(busy) / 1e3:.3f} s of {rep_s:.3f} s "
          f"({len(busy)} SQL executions)")

    print(f"{'exec':>5} {'start_s':>8} {'wall_s':>7} {'jobs':>5} {'tasks':>6}  call site")
    stage_rows = []
    for eid, start, end, ex_jobs, desc in rows:
        tasks = 0
        for j in ex_jobs:
            for sd in _stages(spark, j):
                tasks += sd.numCompleteTasks()
                stage_rows.append((eid, j, sd))
        start_s = f"{(start - t0_ms) / 1e3:8.3f}" if start is not None else f"{'-':>8}"
        wall_s = (f"{(end.get().getTime() - start) / 1e3:7.3f}"
                  if end is not None and end.isDefined() else f"{'-':>7}")
        print(f"{eid if eid is not None else '-':>5} {start_s} {wall_s} "
              f"{len(ex_jobs):>5} {tasks:>6}  {desc}")

    print()
    print(f"{'exec':>5} {'job':>4} {'stage':>5} {'tasks':>5} {'run_s':>7} {'cpu_s':>7} "
          f"{'cpu/run':>7}  name")
    for eid, j, sd in stage_rows:
        run_s = sd.executorRunTime() / 1e3
        cpu_s = sd.executorCpuTime() / 1e9
        ratio = f"{cpu_s / run_s:7.2f}" if run_s > 0 else f"{'-':>7}"
        print(f"{eid if eid is not None else '-':>5} {j:>4} {sd.stageId():>5} "
              f"{sd.numCompleteTasks():>5} {run_s:7.3f} {cpu_s:7.3f} {ratio}  {_short(sd.name())}")


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2 or (len(argv) == 2 and not argv[1].isdigit()):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"timeline-{os.getpid()}")
    run._prepare_env(work)
    from workloads import WORKLOADS

    if argv[0] not in WORKLOADS:
        print(f"unknown workload {argv[0]!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spark = None
    _count_py4j()
    try:
        spark = run._start_spark(work, len(os.sched_getaffinity(0)))
        wl = WORKLOADS[argv[0]](spark, work, int(argv[1]) if len(argv) == 2 else 1)
        wl.generate()
        for _ in range(wl.warmup_reps):
            _rep(wl)
        # the group alone, without setJobGroup's description, so each SQL
        # execution keeps its call site as its description
        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", GROUP)
        t0_ms = time.time() * 1e3
        try:
            wall, sent = _rep(wl)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        print(f"{wl.name}: one warm repetition, {wall:.3f} s, {sent} py4j round trips")
        timeline(spark, t0_ms, t0_ms + wall * 1e3)
    finally:
        if spark is not None:
            run._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

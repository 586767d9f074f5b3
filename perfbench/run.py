"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload febrl_dedup --seed 1 --seconds 15 --trace 0

Set-up starts a ``local[<cores>]`` session with a fixed heap, generates
the seeded inputs, and warms the workload in-process. The timed phase
then repeats the workload until ``--seconds`` have passed and at least
``MIN_REPS`` repetitions ran, checking every repetition's output.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
plain and traced repetitions (plain first and last), then makes the
per-layer calls, and prints the per-layer metrics. Diagnostics go to
stderr; the last line of stdout is the result object. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
MIN_REPS = 3
# A repetition during which the hypervisor stole more than this share
# of the cores' time is left out of job_s, unless every one was.
MAX_STEAL_SHARE = 0.02


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str) -> None:
    """Let Python workers import the package whatever the launch
    directory (workers inherit the driver's environment through the
    JVM), and keep temporary files inside the checkout."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import sparklyclean_spark  # noqa: F401  fail fast, before writing anything

    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work


def _start_spark(work: str, cores: int):
    from sparklyclean_spark import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # Fixed heap: no growth across repetitions, so GC cost does
            # not drift with it. The JIT and the shuffle partitions are
            # the session's own.
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-XX:ReservedCodeCacheSize=1g -Xms{HEAP} -Djava.io.tmpdir={work}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Bench:
    """Runs and checks repetitions, counting attempts and failures."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted = 0
        self.failed = 0
        self.quality: list[dict] = []

    def rep(self, tr) -> float | None:
        """One checked repetition; returns its wall time, or None if it
        failed. Caches are released after the clock stops."""
        from sparklyclean_spark.cache import release_caches
        from workloads import NO_TRACE

        from sparkstats import steal_s

        self.attempted += 1
        steal0 = steal_s()
        try:
            t0 = time.perf_counter()
            out = self.wl.run(tr)
            dt = time.perf_counter() - t0
            self.quality.append(self.wl.check(out))
        except Exception:
            self.failed += 1
            _log(f"repetition {self.attempted} failed:\n{traceback.format_exc()}")
            return None
        finally:
            self.released = release_caches()
        self.steal = steal_s() - steal0
        _log(f"rep {self.attempted} {'traced' if tr is not NO_TRACE else 'plain'} "
             f"{dt:.3f}s steal={self.steal:.2f}s quality={self.quality[-1]}")
        return dt

    def consistent(self) -> bool:
        """Quality metrics and counts repeat exactly across repetitions."""
        return all(q == self.quality[0] for q in self.quality)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


# span name -> (time metric, job-count metric or None)
_SPAN_METRICS = {
    "sources.read_febrl": ("sources.read_febrl_s", None),
    "dedup.plan": ("dedup.plan_s", "dedup.plan_jobs"),
    "dedup.pairs_write": ("dedup.pairs_write_s", None),
    "ml.train": ("ml.train_s", "ml.train_jobs"),
    "ml.apply": ("ml.apply_s", None),
    "text_analysis.normalize": ("text_analysis.normalize_s", None),
    "textdedup.index": ("textdedup.index_s", None),
    "textdedup.pairs": ("textdedup.pairs_s", None),
    "clusters.cc": ("clusters.cc_s", "clusters.jobs"),
    "similarity.build": ("similarity.build_s", None),
    "similarity.query": ("similarity.query_s", None),
}

PYTHON_TIME = "time to run Python workers"


def _spark_metrics(spark, tracer, tid: int, wall_s: float, cores: int) -> dict[str, float]:
    """``spark.*`` of one traced repetition, read from the status stores."""
    from sparkstats import group_sql_time_s, group_stage_metrics

    groups = [s.group for s in tracer.of_trace(tid)]
    out = group_stage_metrics(spark, groups, wall_s, cores)
    out["spark.python_s"] = group_sql_time_s(spark, groups, PYTHON_TIME)
    return out


def _span_metrics(spark, tracer) -> dict[str, float]:
    """Per-layer wall time (summed within a repetition) and job counts,
    as medians over the repetitions that made the call, and the Arrow
    Python-worker time of the similarity calls."""
    from sparkstats import group_sql_time_s, job_ids

    out = {}
    for span, (time_name, jobs_name) in _SPAN_METRICS.items():
        by_trace: dict[int, list] = {}
        for s in tracer.spans:
            if s.name == span:
                by_trace.setdefault(s.trace_id, []).append(s)
        if not by_trace:
            continue
        out[time_name] = _median([sum(s.seconds for s in ss) for ss in by_trace.values()])
        if jobs_name:
            out[jobs_name] = _median([float(len(job_ids(spark, [s.group for s in ss])))
                                      for ss in by_trace.values()])
    sim = [s.group for s in tracer.spans if s.name.startswith("similarity.")]
    if sim:
        out["similarity.python_s"] = group_sql_time_s(spark, sim, PYTHON_TIME)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench-work", str(os.getpid()))
    _prepare_env(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, cores)
        session_start_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        bench, setup_s = _setup(wl)
        result = _measure(spark, wl, bench, args, cores, setup_s, session_start_s)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _setup(wl) -> tuple[Bench, float]:
    """Generate the inputs and warm up; returns the bench and the set-up
    seconds after session start."""
    from workloads import NO_TRACE

    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    bench = Bench(wl)
    for _ in range(wl.warmup_reps):
        if bench.rep(NO_TRACE) is None:
            raise RuntimeError("warm-up repetition failed")
    warm_s = time.perf_counter() - t0
    _log(f"generate {gen_s:.3f}s, warm-up {warm_s:.3f}s, items={wl.items}")
    bench.attempted = bench.failed = 0
    return bench, gen_s + warm_s


def _measure(spark, wl, bench, args, cores, setup_s, session_start_s) -> dict:
    """The timed phase and the result object."""
    from sparkstats import WorkerMemory, jit_compile_s, peak_rss_mb, persistent_rdds
    from spans import Tracer
    from workloads import NO_TRACE

    plain, traced, steals = [], [], []  # plain: (seconds, steal seconds)
    tracer = Tracer(spark)
    per_trace: list[dict[str, float]] = []  # spark.* and cache.* of traced reps
    deadline = time.perf_counter() + args.seconds
    jvm_pid = spark.sparkContext._gateway.proc.pid
    with WorkerMemory(jvm_pid) as workers:
        while True:
            traced_rep = args.trace == 1 and bench.attempted % 2 == 1
            tid = tracer.new_trace()
            jit0 = jit_compile_s(spark)
            dt = bench.rep(tracer if traced_rep else NO_TRACE)
            if dt is not None:
                steals.append(bench.steal)
                if traced_rep:
                    traced.append(dt)
                    per_trace.append(_spark_metrics(spark, tracer, tid, dt, cores) | {
                        "cache.released": float(bench.released),
                        "cache.leaked_rdds": float(persistent_rdds(spark)),
                        "jvm.jit_s": jit_compile_s(spark) - jit0})
                else:
                    plain.append((dt, bench.steal))
            done = time.perf_counter() >= deadline and bench.attempted >= MIN_REPS
            if args.trace:
                # end on a plain repetition: plain ones bracket the traced
                # ones, so warm-up drift cancels in the overhead
                done = done and bench.attempted % 2 == 1
            if done:
                break
    clean = [dt for dt, steal in plain if steal <= MAX_STEAL_SHARE * dt * cores]
    job_s = _median(clean or [dt for dt, _ in plain])
    q = bench.quality[0] if bench.quality else {}
    if args.trace == 0:
        metrics = {
            "setup_s": _metric(session_start_s + setup_s, "s"),
            "job_s": _metric(job_s, "s"),
            "items_per_s": _metric(wl.items / job_s if job_s else 0.0, "items/s"),
            "recall": _metric(q.get("recall", 0.0), "ratio"),
            "precision": _metric(q.get("precision", 0.0), "ratio"),
            "peak_rss_mb": _metric(peak_rss_mb(jvm_pid) + workers.peak_mb, "MB"),
            "success_rate": _metric(
                (bench.attempted - bench.failed) / max(bench.attempted, 1), "ratio"),
        }
    else:
        per_layer = _per_layer()
        values = {name: 0.0 for name, _ in per_layer}
        tracer.new_trace()
        bench.attempted += 1
        try:
            counters = wl.layers(tracer)
        except Exception:
            bench.failed += 1
            _log(f"layer pass failed:\n{traceback.format_exc()}")
            counters = {}
        if per_trace:
            values.update({k: _median([t[k] for t in per_trace]) for k in per_trace[0]})
        values.update(_span_metrics(spark, tracer))
        values.update(counters)
        values["session.start_s"] = session_start_s
        values["host.steal_s"] = max(steals, default=0.0)
        values["trace.job_s"] = _median(traced)
        values["trace.overhead_ratio"] = _median(traced) / job_s - 1.0 if job_s else 0.0
        metrics = {name: _metric(values[name], unit) for name, unit in per_layer}
    _log(f"{len(plain)} plain ({len(plain) - len(clean)} left out for steal) and "
         f"{len(traced)} traced repetitions, "
         f"{bench.failed} failed, consistent={bench.consistent()}")
    ok = bench.failed == 0 and bench.consistent() and bool(plain)
    return {"correct": ok, "attempted": bench.attempted, "failed": bench.failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())

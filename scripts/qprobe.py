"""Targeted same-session probe: time a list of declared queries
min-of-N with the bench's exact methodology (noop sink, System.gc()
before each query's samples, release_caches() between runs) — the
tool for before/after A/B of a single optimization without paying a
full 74-query bench sweep.

Usage: python scripts/qprobe.py [-n RUNS] query [query ...]
Prints one line per query: min, median, raw; plus a JSON tail line.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _usage() -> None:
    print("usage: qprobe.py [-n RUNS] query [query ...]", file=sys.stderr)
    sys.exit(2)


def main() -> None:
    args = sys.argv[1:]
    n_runs = 5
    if args and args[0] == "-n":
        try:
            n_runs = int(args[1])
        except (IndexError, ValueError):
            n_runs = 0
        if n_runs < 1:
            _usage()
        args = args[2:]
    if not args:
        _usage()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sparklyclean_spark import get_spark
    from sparklyclean_spark.cache import release_caches

    spark = get_spark(
        "sparklyclean-qprobe",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(2 * int(cpus)),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    queries = entry.queries()

    # same warmup as bench.py: python worker spawn + arrow + codegen
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    warm = spark.range(1000).select(
        F.col("id"),
        pandas_udf(lambda s: s * 2, "long")(F.col("id")).alias("x"),
    )
    warm.join(warm.withColumnRenamed("x", "y"), "id").write.format("noop").mode(
        "overwrite"
    ).save()
    for _tname, _tdf in entry._tables(spark, sf_dir).items():
        _tdf.limit(32).write.format("noop").mode("overwrite").save()

    out = {}
    for name in args:
        spark.sparkContext._jvm.System.gc()
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            release_caches()
        runs = [round(r, 3) for r in runs]
        out[name] = runs
        print(
            f"{name}: min={min(runs):.3f} med={statistics.median(runs):.3f} raw={runs}",
            file=sys.stderr,
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

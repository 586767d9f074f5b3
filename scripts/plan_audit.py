"""Physical-plan audit across every registered query.

Builds each `queries()` entry at sf0.001 (plan shape, not data scale)
and lints the executed plan for shapes that break at 100 TB:

* `BatchEvalPython`  — a row-at-a-time Python UDF in the plan (the
  slow path; only Arrow `ArrowEvalPython` / `MapInPandas` /
  `FlatMapGroupsInPandas` are acceptable Python).
* `CartesianProduct` — a non-broadcast cross join (quadratic shuffle).
* global `Sort` not feeding a `TakeOrderedAndProject` — a single-task
  total order over the full relation.

Prints one line per query: exchange count, join kinds, python-eval
kinds, and any flags. Exits non-zero if a NEW violation appears
(whitelist below documents the accepted ones with reasons).

Usage: python scripts/plan_audit.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# accepted violations: name -> (accepted flag set, reason). A flag
# class NOT in the set still fails — e.g. a future row-Python UDF on
# a query whitelisted only for its cartesian shape must be caught.
WHITELIST: dict[str, tuple[set[str], str]] = {
    # oracle/verification-scale paths kept deliberately quadratic —
    # the scale path is the LSH/prefix variant of the same family
    "embedding_cosine_neardup": ({"CARTESIAN"}, "exact quadratic oracle by design"),
    "neardup_shingle_jaccard": ({"CARTESIAN"}, "exact quadratic oracle by design"),
    "knn_bruteforce_cosine": (
        {"CARTESIAN"},
        "exact baseline; broadcast nested loop over broadcast queries",
    ),
    "knn_ivf_recall": (
        {"CARTESIAN"},
        "joins brute-force baseline (broadcast queries side)",
    ),
    "knn_lsh_recall": (
        {"CARTESIAN"},
        "joins brute-force baseline (broadcast queries side)",
    ),
}


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("plan-audit")
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    Q = E.queries()
    names = sys.argv[1:] or list(Q)
    failures: list[str] = []
    for name in names:
        try:
            df = Q[name](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # building at tiny SF should never fail
            failures.append(f"{name}: PLAN BUILD FAILED: {exc}")
            print(f"FAIL  {name}: {exc}")
            continue
        n_ex = plan.count("Exchange")
        joins = {
            k: plan.count(k)
            for k in (
                "BroadcastHashJoin",
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
                "CartesianProduct",
            )
            if plan.count(k)
        }
        py = {
            k: plan.count(k)
            for k in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                      "FlatMapGroupsInPandas")
            if plan.count(k)
        }
        flags = []
        if "BatchEvalPython" in py:
            flags.append("ROW_PYTHON_UDF")
        if "CartesianProduct" in joins:
            flags.append("CARTESIAN")
        # a global Sort that is not a per-partition sort under a
        # TakeOrdered / window / SMJ is the single-task total order
        if re.search(r"\n[\s:+-]*\*?\(?\d*\)?\s*Sort \[", plan) and (
            "TakeOrderedAndProject" not in plan
        ):
            # per-key window sorts and SMJ sorts follow a hash
            # exchange; a global sort follows a rangepartitioning
            if "rangepartitioning" in plan and "Window" not in plan:
                flags.append("GLOBAL_SORT")
        line = f"{name}: exch={n_ex} joins={joins} py={py}"
        if flags:
            accepted, reason = WHITELIST.get(name, (set(), ""))
            leftover = [f for f in flags if f not in accepted]
            if not leftover:
                line += f" [accepted: {reason}]"
            else:
                failures.append(f"{name}: {leftover}")
                line += f" FLAGS={leftover}"
        print(line)

    print(f"\naudited {len(names)} queries; violations: {len(failures)}")
    for f in failures:
        print("  !!", f)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

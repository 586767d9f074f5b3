"""Inspect a DataFrame's physical plan and assert scale properties.

The reference hand-builds one physical plan per program; on Spark the
plan is Catalyst's, so the way to "design the physical plan" is to
express the query so the optimizer picks the right one — and then
LOCK THAT IN with assertions. Tests use these helpers to fail loudly
if a refactor ever drops a pushed filter, turns a broadcast join into
a shuffle join, or doubles the exchange count: the properties that
decide whether a plan survives a 100× scale-up.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The ``df.explain(mode)`` text, captured as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def explain_formatted(df: DataFrame) -> str:
    return explain_str(df, "formatted")


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (broadcast exchanges
    excluded — those move only the small side). Uses simple mode:
    formatted mode hides the partitioning in an Arguments block."""
    plan = explain_str(df, "simple")
    return len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)",
            plan,
        )
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def has_nested_loop_join(df: DataFrame) -> bool:
    """True if the plan contains a quadratic join operator (cartesian
    product or nested-loop) — the scale-killer a bucketed/banded
    rewrite exists to avoid."""
    plan = explain_str(df, "simple")
    return "NestedLoopJoin" in plan or "CartesianProduct" in plan


def _uncached_lines(df: DataFrame):
    """The simple-mode plan lines outside ``InMemoryRelation`` subtrees:
    a cached table's plan is printed at every scan of it but ran once,
    when it was cached."""
    cached_depth = None
    for line in explain_str(df, "simple").splitlines():
        m = re.search(r"[+:]- ", line)
        depth = m.start() if m else 0
        if cached_depth is not None and depth > cached_depth:
            continue
        cached_depth = depth if "InMemoryRelation" in line else None
        yield line


def python_eval_count(df: DataFrame) -> int:
    """Number of ``ArrowEvalPython`` nodes (Arrow-batched Python UDF
    evaluations) the plan runs, cached subtrees skipped. A pure UDF
    whose output column a filter references can be evaluated twice
    when the optimizer pushes the filter below the projection — one
    extra node per duplicated call site; the ``single_eval`` UDFs exist
    to prevent it."""
    return sum(bool(re.search(r"\bArrowEvalPython\b", line)) for line in _uncached_lines(df))


def join_keys(df: DataFrame) -> list[list[str]]:
    """One entry per join the plan runs (cached subtrees skipped): its
    left-side equi-join key names, ``[]`` for a keyless join."""
    out = []
    for line in _uncached_lines(df):
        m = re.search(r"\b(?:\w+Join|CartesianProduct)\b(?: \[([^\]]*)\], \[)?", line)
        if m:
            keys = (m.group(1) or "").split(",")
            out.append([re.sub(r"#\d+L?$", "", k.strip()) for k in keys if k.strip()])
    return out


def has_pushed_filters(df: DataFrame, fragment: str) -> bool:
    """True if some scan's ``PushedFilters`` mentions ``fragment``
    (a column name or literal)."""
    plan = explain_formatted(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if fragment in m.group(1):
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each scan (``ReadSchema``) — the
    check that column pruning reached the source."""
    plan = explain_formatted(df)
    out: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of distinct WholeStageCodegen subtrees (the ``*(N)``
    stage markers) — fewer/wider is better: more operators fused into
    one generated function. AQE hides codegen ids until runtime, so
    the plan is re-derived with AQE off on an uncached copy of the
    same logical plan (a no-op filter forces a fresh QueryExecution)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = explain_str(df.filter(F.lit(True)), "simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return len(set(re.findall(r"\*\((\d+)\)", plan)))

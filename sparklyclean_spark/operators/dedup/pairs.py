"""Naive blocked candidate-pair generation (the semantic reference path).

Equivalent result set to the Dis-Dedup triangle path
(``operators/dedup/disdedup.py``) but expressed as a plain blocked
self-join: explode block keys, equi-join on (bk, bv) with ``id1 <
id2``, keep a pair only under its lowest common blocking function
(exactly-once guard, SURVEY.md §2.9 G3; reference
``Compare.scala:94,106``).

This is the right plan when blocks are small/uniform — Catalyst gives
a shuffled hash/sort-merge join and AQE splits moderately skewed
partitions. The triangle path exists for the adversarial case (a
block holding a large fraction of all rows) where per-key work grows
quadratically and key-splitting must be done BEFORE the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklyclean_spark.operators.dedup.blocking import (
    BlockingRule,
    blocked_rows,
    bv_col,
    lowest_common_block_scalar,
)


def candidate_pairs_naive(
    df: DataFrame,
    rules: list[BlockingRule],
    id_col: str,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """All intra-block pairs, each exactly once.

    Returns ``(bk, id1, id2, t1_<payload>..., t2_<payload>...)`` with
    ``id1 < id2``. ``payload_cols`` are carried for downstream feature
    generation; only those columns shuffle (column pruning — the
    reference shuffles entire CSV lines, SURVEY.md §4).
    """
    payload_cols = payload_cols or []
    carry = payload_cols + [bv_col(r.priority) for r in rules]
    # Downstream per-pair work (feature generation) inherits the join's
    # stream-side parallelism; on a cluster the scan already has >=
    # shuffle.partitions splits and the split guard never triggers.
    splits = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = blocked_rows(df, rules, id_col, payload_cols, splits)

    def side(tag: str) -> DataFrame:
        cols = [F.col("id_").alias(f"{tag}_id")] + [F.col(c).alias(f"{tag}_{c}") for c in carry]
        return base.select("bk", "bv", *cols)

    pairs = side("t1").join(side("t2"), ["bk", "bv"]).where(
        (F.col("t1_id") < F.col("t2_id"))
        # exactly-once guard, codegen form (no array ops per pair)
        & (F.col("bk") == lowest_common_block_scalar(rules))
    )
    out = [F.col("bk"), F.col("t1_id").alias("id1"), F.col("t2_id").alias("id2")]
    out += [F.col(f"t1_{c}") for c in payload_cols] + [F.col(f"t2_{c}") for c in payload_cols]
    return pairs.select(*out)

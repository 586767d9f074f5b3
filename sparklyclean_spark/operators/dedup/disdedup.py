"""Dis-Dedup: skew-optimal load-balanced candidate-pair generation.

The distributed-deduplication scheme of Chu, Ilyas & Koutris (VLDB
2016) as implemented by the reference (``Setup.scala``,
``DisDedupMapper.scala``, ``DisDedupReducer.scala``), re-expressed
Spark-first:

* Block statistics = one DataFrame aggregation (reference A1-A4,
  ``Setup.scala:31-57``).
* Driver-side planning is ONE query and O(k log k) rows: the total
  workload W is observed on the block-size aggregate while the same
  ``collect()`` takes its ``heavy_candidates(k)`` = ⌈3k·ln k⌉ largest
  blocks. More blocks than that cannot all exceed the
  random-assignment threshold ``tau = W/(3k ln k)`` (together they
  would exceed W), so every heavy block is among them and the driver
  filters them by tau and plans them; the long tail is assigned
  DISTRIBUTED-side via hash — unlike the reference, which collects
  every block to the driver (``Setup.scala:68-89``). The heavy-block
  assignment goes back as a local relation (an Arrow table), so its
  broadcast runs no job on Python workers.
* Triangle fan-out (``DisDedupMapper.scala:13-51``): a block given
  ``k_i = l(l+1)/2`` cells replicates each row to ``l`` cells of an
  upper-triangular l×l grid; every anchor pair meets in exactly one
  cell. Anchors are ``xxhash64`` of the record id — deterministic and
  uniform, fixing the reference's shared-RNG closure bug (SURVEY.md
  §2.9 G6).
* Pair formation is one plain equi-join of the fan-out with itself on
  (bk, bv, cell): left side without role R, right side without role
  L, so off-diagonal cells pair L×R and diagonal cells pair S×S (a
  residual id order keeps each S pair once). The whole hot path is
  a JVM-side sort-merge/hash join under whole-stage codegen; no
  Python per pair. The reference instead hand-rolls the
  shuffle + a streaming reducer (``DisDedupReducer.scala:13-67``);
  Catalyst's exchange + join is the idiomatic equivalent.
* Exactly-once across overlapping blockings: lowest-common-block
  guard (G3), identical to the naive path.
* Construction is SQL text: the fan-out is a projection of the
  per-row hashes plus one ``inline`` of the cells (roles, reducer
  ids), each join side one ``where`` plus one ``selectExpr``, the
  residual and the guard one ``where`` string, the id1 < id2 swap one
  ``selectExpr`` of ``CASE WHEN`` — a few dozen py4j round trips
  instead of ~2,500 Column calls, same pairs.

Result set is provably identical to
``pairs.candidate_pairs_naive`` (differential-tested); the value is
the bounded per-cell workload: no cell exceeds ~W/k comparisons no
matter how skewed the blocking keys are.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sparklyclean_spark.cache import tracked_persist
from sparklyclean_spark.functions.sqltext import ident
from sparklyclean_spark.observe import observed
from sparklyclean_spark.operators.dedup.blocking import (
    BlockingRule,
    blocked_rows,
    bv_col,
    lowest_common_block_sql,
)

DEFAULT_SEED = 647  # the reference's fixed seed (GenerateLabeledPoints.scala:71)
_ASG = pa.schema(
    [("bk", pa.int32()), ("bv", pa.string()), ("l_", pa.int32()), ("rids", pa.list_(pa.int32()))]
)


def triangle_side(k_i: int) -> int:
    """Largest l with l(l+1)/2 <= k_i (reference ``Util.scala:60-68``)."""
    if k_i < 1:
        return 1
    l = int(math.floor(math.sqrt(2.0 * k_i)))
    while l * (l + 1) // 2 > k_i:
        l -= 1
    return max(l, 1)


@dataclass
class DisDedupPlan:
    """Driver-side assignment for heavy blocks; tail blocks hash."""

    # (bk, bv) -> (l, [rid per cell]) for multi-reducer blocks
    multi: dict[tuple[int, str], tuple[int, list[int]]] = field(default_factory=dict)
    # (bk, bv) -> rid for deterministically-placed single-reducer blocks
    single_det: dict[tuple[int, str], int] = field(default_factory=dict)

    def reducers_used_by_multi(self) -> int:
        return sum(l * (l + 1) // 2 for l, _ in self.multi.values())


def heavy_threshold(total_workload: int, k: int) -> float:
    """The random-assignment threshold ``tau = W/(3k ln k)``: blocks
    with more pairwise workload are heavy and planned on the driver.
    For k < 3 (ln k too small to bound anything) it is W/k."""
    if k >= 3:
        return total_workload / (3.0 * k * math.log(k))
    return total_workload / k


def heavy_candidates(k: int) -> int:
    """How many of the largest blocks hold every heavy block:
    ⌈3k·ln k⌉ (k for k < 3). More blocks than that cannot all exceed
    ``heavy_threshold(W, k)``, since together they would exceed W."""
    return math.ceil(3 * k * math.log(k)) if k >= 3 else k


def block_stats(base: DataFrame, k: int) -> tuple[int, list[tuple[int, str, int]]]:
    """The total workload W and the heavy blocks [(bk, bv, n_rows)],
    from ONE query over the blocked rows: W is observed on the
    block-size aggregate while the same ``collect()`` takes its
    ``heavy_candidates(k)`` largest blocks (ties by bk, bv), which the
    driver filters by ``heavy_threshold``."""
    obs = Observation()
    sizes = base.groupBy("bk", "bv").agg(F.expr("count(1) AS n")).where("n >= 2")
    top = (
        sizes.observe(obs, F.expr("sum(n * (n - 1) div 2) AS w"))
        .orderBy(F.desc("n"), "bk", "bv")
        .limit(heavy_candidates(k))
        .collect()
    )
    total_w = int(observed(obs, "disdedup.block_stats")["w"] or 0)
    tau = heavy_threshold(total_w, k)
    return total_w, [
        (r["bk"], r["bv"], r["n"]) for r in top if r["n"] * (r["n"] - 1) // 2 > tau
    ]


def plan_assignment(
    heavy: list[tuple[int, str, int]],
    total_workload: int,
    k: int,
    seed: int = DEFAULT_SEED,
) -> DisDedupPlan:
    """Plan reducer allocation for heavy blocks (pure driver math).

    ``heavy`` = [(bk, bv, n_rows)] for blocks with workload > tau.
    Mirrors the reference's Setup (A5-A12, ``Setup.scala:60-162``)
    including its two published improvements (leftover redistribution
    and continuing round-robin, ``README.md:63-72``), but iterates in
    sorted-block order so the plan is reproducible (fixes G5).
    """
    w_per_reducer = total_workload / k
    plan = DisDedupPlan()
    if not heavy:
        return plan

    workload = {(bk, bv): n * (n - 1) // 2 for bk, bv, n in heavy}
    multi_keys = sorted(kv for kv, w in workload.items() if w > w_per_reducer)
    single_keys = sorted(kv for kv, w in workload.items() if w <= w_per_reducer)
    w_multi = sum(workload[kv] for kv in multi_keys)

    # A7: proportional share, rounded down to a triangle number.
    k_alloc: dict[tuple[int, str], int] = {}
    deficits: dict[tuple[int, str], int] = {}
    for kv in multi_keys:
        k_orig = int(workload[kv] / w_multi * k)
        l = triangle_side(k_orig)
        k_alloc[kv] = l * (l + 1) // 2
        deficits[kv] = max(k_orig - k_alloc[kv], 0)

    # A8: greedy leftover redistribution — largest deficit first.
    pool = k - sum(k_alloc.values())
    for kv in sorted(multi_keys, key=lambda kv: (-deficits[kv], kv)):
        l = triangle_side(k_alloc[kv])
        cost = l + 1  # tri(l+1) - tri(l)
        if 0 < cost <= pool:
            k_alloc[kv] += cost
            pool -= cost

    # A9-A11: seeded shuffle of reducer ids; multi blocks take
    # consecutive slices, single-det round-robin continues after.
    rng = random.Random(seed)
    rids = list(range(1, k + 1))
    rng.shuffle(rids)
    pos = 0
    for kv in multi_keys:
        k_i = k_alloc[kv]
        l = triangle_side(k_i)
        cells = [rids[(pos + i) % k] for i in range(l * (l + 1) // 2)]
        pos += l * (l + 1) // 2
        plan.multi[kv] = (l, cells)
    for i, kv in enumerate(single_keys):
        plan.single_det[kv] = rids[(pos + i) % k]
    return plan


def _fanout(blocked: DataFrame, keep: list[str], seed: int, k: int) -> DataFrame:
    """``keep`` (quoted column names) plus each (row, block)'s l
    triangle cells with their role and reducer id.

    ``l`` is the block's assigned side (``l_``; 1 for a tail block,
    which has no assignment row). For anchor ``a`` in [1, l], row i of
    sequence(1, l) maps to cell (min(i,a), max(i,a)) with role L (i<a),
    S (i=a), R (i>a); the flat index of upper-triangle cell (p,q) is
    (p-1)(2l-p+2)/2 + (q-p) (reference ``DisDedupMapper.scala:32``).
    The reducer id is the planned one (``rids[cell]``) or, for a tail
    block, a hash of (bk, bv). The row's hashes (``a`` and the tail
    reducer id) are one projection under the generator, so each runs
    once per row, not once per cell: Catalyst does not share common
    subexpressions inside a lambda.
    """
    per_row = blocked.selectExpr(
        *keep,
        "rids",
        "coalesce(l_, 1) AS _l",
        f"pmod(xxhash64(cast(id_ as string), bk, bv, {seed}), coalesce(l_, 1)) + 1 AS _a",
        f"cast(pmod(xxhash64(bk, bv, {seed}), {k}) + 1 as int) AS _t",
    )
    cell = (
        "cast(((least(i, _a) - 1) * (2 * _l - least(i, _a) + 2)) div 2"
        " + (greatest(i, _a) - least(i, _a)) as int)"
    )
    role = "CASE WHEN i < _a THEN 'L' WHEN i = _a THEN 'S' ELSE 'R' END"
    rid = f"coalesce(element_at(rids, {cell} + 1), _t)"
    cells = f"transform(sequence(1, _l), i -> named_struct('cell', {cell}, 'role', {role}, 'rid', {rid}))"
    return per_row.selectExpr(*keep, f"inline({cells})")


def candidate_pairs_disdedup(
    df: DataFrame,
    rules: list[BlockingRule],
    id_col: str,
    payload_cols: list[str] | None = None,
    k: int | None = None,
    seed: int = DEFAULT_SEED,
    with_cell_stats: bool = False,
) -> DataFrame:
    """Load-balanced exactly-once intra-block pairs.

    Same output schema as ``candidate_pairs_naive``: ``(bk, id1, id2,
    t1_<payload>..., t2_<payload>...)`` with ``id1 < id2`` (canonical
    order; comparators are symmetric so side swap is lossless).
    ``with_cell_stats`` appends (rid, cell, bv) for balance tests.
    """
    spark = df.sparkSession
    payload_cols = payload_cols or []
    if k is None:
        k = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if k < 1:
        raise ValueError(f"k must be at least 1 reducer, got k={k}")

    bv_cols = [bv_col(r.priority) for r in rules]
    # base feeds the stats query AND the fan-out: persist it so the
    # scan+explode chain runs once. The split guard keeps the cell join
    # parallel when AQE broadcasts one side of it.
    base = tracked_persist(blocked_rows(df, rules, id_col, payload_cols, k))
    total_w, heavy = block_stats(base, k)
    plan = plan_assignment(heavy, total_w, k, seed)

    # --- broadcast the heavy-block assignment; tail blocks get l=1
    # and a hash-derived reducer id (never touches the driver). An
    # Arrow table plans as a LocalTableScan; a Python list would plan
    # as an RDD scan whose broadcast runs a job on Python workers.
    rows = [
        (bk, bv, l, rids) for (bk, bv), (l, rids) in plan.multi.items()
    ] + [(bk, bv, 1, [rid]) for (bk, bv), rid in plan.single_det.items()]
    asg = spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(_ASG.names, r)) for r in rows], schema=_ASG
    ))
    blocked = base.join(F.broadcast(asg), ["bk", "bv"], "left")
    carry = payload_cols + bv_cols
    # Both join sides read the fan-out: persisted, it is computed once
    # (when the join first runs) and the smaller side can broadcast
    # from the cache instead of both sides shuffling on the cell key.
    fan = tracked_persist(_fanout(blocked, ["bk", "bv", "id_", *map(ident, carry)], seed, k))

    def side(tag: str, not_role: str, *keep: str) -> DataFrame:
        cols = [f"{ident(c)} AS {ident(f'{tag}_{c}')}" for c in carry]
        return fan.where(f"role != '{not_role}'").selectExpr(
            "bk", "bv", "cell", f"id_ AS {tag}_id", *cols, *keep
        )

    # One equi-join on (bk, bv, cell). A cell is either diagonal (only
    # S rows) or off-diagonal (only L and R rows), so "left not R,
    # right not L" meets every L×R pair once and every S pair twice;
    # the residual keeps one of the two (the rid is a function of the
    # cell, so the left side's serves the pair). The exactly-once
    # guard is the codegen form (no array ops per pair).
    pairs = side("t1", "R", "role", "rid").join(side("t2", "L"), ["bk", "bv", "cell"]).where(
        f"(role != 'S' OR t1_id < t2_id) AND bk = {lowest_common_block_sql(rules)}"
    )

    # Canonicalize id1 < id2 (anchor order is arbitrary; a no-op on
    # diagonal cells, whose residual already ordered the ids).
    def pick(first: str, second: str, name: str) -> str:
        return f"CASE WHEN t1_id > t2_id THEN {ident(second)} ELSE {ident(first)} END AS {ident(name)}"

    out = ["bk", pick("t1_id", "t2_id", "id1"), pick("t2_id", "t1_id", "id2")]
    out += [pick(f"t1_{c}", f"t2_{c}", f"t1_{c}") for c in payload_cols]
    out += [pick(f"t2_{c}", f"t1_{c}", f"t2_{c}") for c in payload_cols]
    if with_cell_stats:
        out += ["rid", "cell", "bv"]
    return pairs.selectExpr(*out)

"""Dis-Dedup invariants (SURVEY.md §5): exactly-once pairs, triangle ≡
naive differential equality, bounded per-reducer workload.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import re
import time

import pyarrow as pa
import pytest


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0
from pyspark.sql import functions as F

from sparklyclean_spark import plans as P
from sparklyclean_spark.cache import release_caches
from sparklyclean_spark.operators.dedup.blocking import BlockingRule, blocked_rows, explode_blocks
from sparklyclean_spark.operators.dedup.pairs import candidate_pairs_naive
from sparklyclean_spark.operators.dedup.disdedup import (
    block_stats,
    candidate_pairs_disdedup,
    heavy_candidates,
    heavy_threshold,
    plan_assignment,
    triangle_side,
)
from sparklyclean_spark.datagen import people_df

RULES = [
    BlockingRule(1, "blocking_number"),
    BlockingRule(2, "state"),
]
PAYLOAD = ["given_name", "surname", "postcode"]


@pytest.fixture(scope="module")
def people(spark):
    df = people_df(spark, n_originals=150)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def naive_pairs(people):
    return candidate_pairs_naive(people, RULES, "rec_id", PAYLOAD).cache()


@pytest.fixture(scope="module")
def tri_pairs(people):
    return candidate_pairs_disdedup(
        people, RULES, "rec_id", PAYLOAD, k=49, with_cell_stats=True
    ).cache()


def test_triangle_side():
    assert [triangle_side(i) for i in [1, 2, 3, 5, 6, 7, 10, 49]] == [
        1, 1, 2, 2, 3, 3, 4, 9,
    ]


def test_exactly_once_naive(naive_pairs):
    dups = naive_pairs.groupBy("id1", "id2").count().where("count > 1").count()
    assert dups == 0


def test_exactly_once_triangle(tri_pairs):
    dups = tri_pairs.groupBy("id1", "id2").count().where("count > 1").count()
    assert dups == 0


def test_triangle_equals_naive(naive_pairs, tri_pairs):
    """The load-balanced path must produce the identical pair rows:
    the bk each pair is attributed to, and the payload of each side
    following the id1 < id2 swap."""
    a = naive_pairs
    b = tri_pairs.select(*naive_pairs.columns)
    assert len(a.columns) == 3 + 2 * len(PAYLOAD)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


_ASG_SCAN = re.compile(r"LocalTableScan \[bk#\d+, bv#\d+, l_#\d+, rids#\d+\]")


def _build_in_one_query(df, *args, **kwargs):
    """``candidate_pairs_disdedup``, asserting its build shape: ONE SQL
    execution (the planning collect) and no RDD scan anywhere in the
    returned plan (broadcasting one runs a job on Python workers)."""
    store = df.sparkSession._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    out = candidate_pairs_disdedup(df, *args, **kwargs)
    assert store.executionsCount() - before == 1
    assert "ExistingRDD" not in P.explain_str(out, "simple")
    return out


def test_disdedup_builds_without_fanout_job_and_joins_once(people):
    """Building the pairs runs only the planning query: the cached
    blocked rows it reads are the one cache filled, the persisted
    fan-out is not (no eager job fills it; the pair join does). The
    pairs come from ONE join keyed on (bk, bv, cell) — no second cell
    join or union (cached subtrees are skipped)."""
    spark = people.sparkSession
    sc = spark.sparkContext

    def cached_rdds() -> set[int]:
        infos = sc._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos if i.numCachedPartitions() > 0}

    # an Arrow copy: the fixture's own rows plan as an RDD scan
    local = spark.createDataFrame(people.toArrow())
    before = cached_rdds()
    # k=47: a plan no other test caches, so both persists are new
    out = _build_in_one_query(local, RULES, "rec_id", ["surname"], k=47)
    assert len(cached_rdds() - before) == 1
    assert P.join_keys(out) == [["bk", "bv", "cell"]]
    plan = P.explain_str(out, "simple")
    assert "Union" not in plan
    # the heavy-block assignment is a local relation
    assert _ASG_SCAN.search(plan)


def test_pairs_share_a_block(people, naive_pairs):
    """Every emitted pair really co-blocks under its bk."""
    from sparklyclean_spark.operators.dedup.blocking import with_block_keys

    keyed = with_block_keys(people, RULES).select(
        F.col("rec_id"), F.col("bkvs")
    )
    j = (
        naive_pairs.join(keyed.withColumnRenamed("rec_id", "id1").withColumnRenamed("bkvs", "b1"), "id1")
        .join(keyed.withColumnRenamed("rec_id", "id2").withColumnRenamed("bkvs", "b2"), "id2")
    )
    bad = j.where(
        F.size(F.filter(F.array_intersect("b1", "b2"), lambda x: x["k"] == F.col("bk"))) == 0
    ).count()
    assert bad == 0


def test_lowest_common_block_guard(naive_pairs, people):
    """A pair co-blocked under both functions appears under bk=1 only."""
    from sparklyclean_spark.operators.dedup.blocking import with_block_keys

    keyed = with_block_keys(people, RULES).select("rec_id", "bkvs")
    j = (
        naive_pairs.join(keyed.withColumnRenamed("rec_id", "id1").withColumnRenamed("bkvs", "b1"), "id1")
        .join(keyed.withColumnRenamed("rec_id", "id2").withColumnRenamed("bkvs", "b2"), "id2")
        .withColumn("n_common", F.size(F.array_intersect("b1", "b2")))
    )
    assert j.where((F.col("n_common") == 2) & (F.col("bk") != 1)).count() == 0


def test_workload_bound(tri_pairs, naive_pairs):
    """No reducer id gets more than W/k + max-cell work (paper's
    guarantee, small-k quantization tolerated — SURVEY.md §7 risk e)."""
    k = 49
    total = naive_pairs.count()
    per_rid = tri_pairs.groupBy("rid").count().collect()
    max_work = max(r["count"] for r in per_rid)
    # Triangle cells bound single-cell work by ~W/k; a reducer may own
    # several cells of different blocks, so allow a small multiple.
    bound = 4.0 * (total / k) + 50
    assert max_work <= bound, f"max per-reducer work {max_work} > bound {bound}"


@pytest.fixture(scope="module")
def skewed_people(spark):
    """Adversarial skew: force >50% of ALL rows into one state block
    (the regime Dis-Dedup exists for — a single key whose quadratic
    work dwarfs everything else; datagen's organic ~29% nsw skew only
    mildly exercises it)."""
    df = people_df(spark, n_originals=300).withColumn(
        "state",
        F.when(
            F.abs(F.xxhash64("rec_id")) % 100 < 55, F.lit("megastate")
        ).otherwise(F.col("state")),
    )
    df.cache().count()
    return df


def test_skew_stress_equality_and_bound(skewed_people):
    """Under adversarial skew the triangle path (a) still yields the
    exact naive pair set, (b) still honors the ~W/k per-reducer bound,
    and (c) demonstrably fixes what the naive join-key shape cannot:
    the worst (bk, bv) key alone carries >50% of total pair work
    (measured: 74%, 17.5x the triangle path's max reducer), which on a
    real cluster is one straggler reducer doing most of the job."""
    naive = candidate_pairs_naive(skewed_people, RULES, "rec_id").cache()
    tri = candidate_pairs_disdedup(
        skewed_people, RULES, "rec_id", k=49, with_cell_stats=True
    ).cache()
    try:
        total = naive.count()
        assert tri.count() == total
        assert (
            naive.select("bk", "id1", "id2")
            .exceptAll(tri.select("bk", "id1", "id2"))
            .count()
            == 0
        )
        max_rid = tri.groupBy("rid").count().agg(F.max("count")).collect()[0][0]
        assert max_rid <= 4.0 * total / 49 + 50, f"bound violated: {max_rid}"
        # the fixture really is adversarial, and the naive shape degrades
        m = (
            explode_blocks(skewed_people, RULES)
            .groupBy("bk", "bv")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        worst_key_pairs = m * (m - 1) // 2
        assert worst_key_pairs >= 0.5 * total, "fixture lost its skew"
        assert worst_key_pairs >= 5 * max_rid, (
            f"triangle no longer spreads the hot key: worst key "
            f"{worst_key_pairs} vs max reducer {max_rid}"
        )
    finally:
        naive.unpersist()
        tri.unpersist()


def _many_blocks(spark):
    """570 blocking-number blocks of 4 rows and 12 of 2 rows, every
    state a singleton: 582 blocks, more than ``heavy_candidates(49)``
    (573), so the planning query's limit truncates; and at k=49 each
    4-row block (6 pairs) exceeds τ = 3432/(3·49·ln 49) ≈ 5.999, so all
    570 heavy blocks must survive the cut."""
    sizes = [4] * 570 + [2] * 12
    bn = [str(j) for j, n in enumerate(sizes) for _ in range(n)]
    return spark.createDataFrame(pa.Table.from_pydict({
        "rec_id": pa.array(range(len(bn)), pa.int64()),
        "blocking_number": bn,
        "state": [f"s{i}" for i in range(len(bn))],
    }))


# Per k: (pairs, Σ xxhash64(bk, id1, id2, rid, cell)) of the skewed
# fixture's cell-stats pairs, pinned from the two-collect planner (a W
# collect, then a τ-filtered block collect) that block_stats replaced.
_SKEWED_CELLS = {
    1: (48095, 852957527332116448955),
    2: (48095, -251224104101408189680),
    3: (48095, -249681593697749848702),
    49: (48095, 72826092786112985432),
}


@pytest.mark.parametrize("k", [1, 2, 3, 49])
def test_block_stats_match_direct_workload(spark, skewed_people, k):
    """The one planning query (W observed, the top
    ``heavy_candidates(k)`` blocks collected) gives the W and heavy set
    of a direct Σ C(n,2) over every block filtered by > τ, also where
    the limit truncates; and the skewed pairs keep every (rid, cell)
    the two-collect planner gave them."""
    many = _many_blocks(spark)
    for df in (skewed_people, many):
        sizes = explode_blocks(df, RULES).groupBy("bk", "bv").count().collect()
        w = sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
        tau = heavy_threshold(w, k)
        heavy = sorted(
            (r["bk"], r["bv"], r["count"])
            for r in sizes
            if r["count"] * (r["count"] - 1) // 2 > tau
        )
        got_w, got_heavy = block_stats(blocked_rows(df, RULES, "rec_id", [], k), k)
        assert (got_w, sorted(got_heavy)) == (w, heavy)
        if df is many:
            assert sum(r["count"] >= 2 for r in sizes) > heavy_candidates(49)
            assert len(heavy) == (570 if k == 49 else 0)
    cells = candidate_pairs_disdedup(
        skewed_people, RULES, "rec_id", k=k, with_cell_stats=True
    ).agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64("bk", "id1", "id2", "rid", "cell").cast("decimal(38,0)")),
    ).collect()[0]
    assert (cells[0], int(cells[1])) == _SKEWED_CELLS[k]


def test_plan_assignment_deterministic():
    heavy = [(2, "nsw", 600), (2, "vic", 400), (1, "3", 120)]
    total = sum(n * (n - 1) // 2 for _, _, n in heavy) + 5000
    p1 = plan_assignment(heavy, total, 49)
    p2 = plan_assignment(heavy, total, 49)
    assert p1.multi == p2.multi and p1.single_det == p2.single_det
    # every multi allocation is a triangle number with distinct rids
    for l, rids in p1.multi.values():
        assert len(rids) == l * (l + 1) // 2
        assert len(set(rids)) == len(rids)
    assert p1.reducers_used_by_multi() <= 49


def test_disdedup_no_pairs_matches_naive_schema(spark):
    """A table whose blocks are all singletons (and an empty table)
    has zero workload: the general plan must return 0 rows with the
    naive path's column types, and the cell-stats columns typed too."""
    df = spark.createDataFrame(pa.Table.from_pydict({
        "rec_id": pa.array(range(6), pa.int64()),
        "blocking_number": [str(100 + i) for i in range(6)],
        "state": [f"s{i}" for i in range(6)],
        "name": [f"n{i}" for i in range(6)],
    }))
    for t in (df, df.limit(0)):
        naive = candidate_pairs_naive(t, RULES, "rec_id", ["name"])
        tri = _build_in_one_query(t, RULES, "rec_id", ["name"], k=7)
        assert tri.count() == 0
        assert tri.dtypes == naive.dtypes
        stats = _build_in_one_query(
            t, RULES, "rec_id", ["name"], k=7, with_cell_stats=True
        )
        assert stats.count() == 0
        assert stats.dtypes == naive.dtypes + [
            ("rid", "int"), ("cell", "int"), ("bv", "string")
        ]


@pytest.mark.parametrize("k", [0, -1])
def test_disdedup_rejects_k_below_one(people, k):
    """Fewer than one reducer is refused with a ValueError naming k,
    before any Spark job runs."""
    store = people.sparkSession._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    with pytest.raises(ValueError, match=r"\bk\b"):
        candidate_pairs_disdedup(people, RULES, "rec_id", PAYLOAD, k=k)
    assert store.executionsCount() == before


def test_jaro_winkler_reference_values(spark):
    """Classic published JW values + edge conventions (empty -> 0.0,
    identical -> 1.0, sub-threshold pairs get NO prefix boost)."""
    from sparklyclean_spark.functions.similarity import _jw_one, jaro_winkler

    assert abs(_jw_one("martha", "marhta") - 0.9611111111111111) < 1e-12
    assert abs(_jw_one("dwayne", "duane") - 0.84) < 1e-12
    assert _jw_one("", "") == 0.0 and _jw_one("", "abc") == 0.0
    assert _jw_one("abc", "abc") == 1.0
    df = spark.createDataFrame(
        [("martha", "marhta"), (None, "x"), ("abc", "abc")], "a string, b string"
    )
    vals = [r["jw"] for r in df.select(jaro_winkler("a", "b").alias("jw")).collect()]
    assert abs(vals[0] - 0.9611111111111111) < 1e-12
    assert vals[1] == 0.0 and vals[2] == 1.0


def test_jaro_winkler_batch_bit_exact_and_faster():
    """The row-vectorized numpy batch (r6) must be BIT-exact with the
    scalar reference on randomized pairs (incl. empties, unicode,
    shared prefixes, long-string fallback) and materially faster —
    the scalar loop was linear drag at blocked-pair scale."""
    import random

    from sparklyclean_spark.functions.similarity import _jw_batch, _jw_one

    rng = random.Random(647)
    alpha = "abcdefgh"
    pairs = []
    for _ in range(4000):
        a = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 14)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 14)))
        if rng.random() < 0.3:  # force shared prefixes (boost branch)
            b = a[: rng.randrange(0, len(a) + 1)] + b
        pairs.append((a, b))
    pairs += [("", ""), ("", "x"), ("martha", "marhta"), ("dwayne", "duane"),
              ("naïve", "naive"), ("x" * 80, "x" * 79 + "y")]  # fallback row
    sa = [p[0] for p in pairs]
    sb = [p[1] for p in pairs]

    # min-of-3 for BOTH sides: a single-sample ratio flakes under
    # concurrent load (a background Spark job stole the CPU mid-call
    # once in a full-suite run); the min is the engine's cost
    t_batch = min(
        _timed(lambda: _jw_batch(sa, sb)) for _ in range(3)
    )
    got = _jw_batch(sa, sb)
    t_scalar = min(
        _timed(lambda: [_jw_one(a, b) for a, b in pairs]) for _ in range(3)
    )
    want = [_jw_one(a, b) for a, b in pairs]
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"row {i} {pairs[i]}: batch {g!r} != scalar {w!r}"
    # microbench (VERDICT r5 item 8): generous bound — only guards a
    # catastrophic regression on a noisy box; measured ~3.3x warm at
    # 50k pairs (cold first call pays numpy allocation warmup)
    print(f"jw microbench: batch {t_batch:.4f}s scalar {t_scalar:.4f}s "
          f"({t_scalar / max(t_batch, 1e-9):.1f}x)")
    assert t_batch < t_scalar * 1.5


# Per named comparator: its feature values on the rows of
# _COMPARATOR_ROWS (ordered by id1), pinned from the Column-API
# comparators the SQL text replaced. Rows 2-3 are both-missing (NULL,
# blank), rows 4-5 one-missing.
_COMPARATOR_ROWS = [
    (1, 2, "john smith", "john  smith", "12", "15"),
    (2, 3, None, None, None, None),
    (3, 4, "", "  ", "", " "),
    (4, 5, "abc", None, "7", None),
    (5, 6, None, "x y z", "", "3.5"),
    (6, 7, "a b a", "b a", "19200101", "19200107"),
    (7, 8, "same", "same", "-2", "2"),
]
_MAX = 1.7976931348623157e308
_COMPARATOR_VALUES = {
    ("s", "levenshtein", ()): [0.9090909090909091, 1.0, 0.0, 0.0, 0.0, 0.6, 1.0],
    ("s", "exact", ()): [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 1.0],
    ("s", "jaccard_tokens", ()): [1.0, 1.0, 1.0, 0.0, 0.0, 1.0, 1.0],
    ("s", "ignore", ()): [0.0] * 7,
    ("n", "abs_diff", ()): [3.0, 1.0, 1.0, _MAX, _MAX, 6.0, 4.0],
    ("n", "abs_diff", ("sane",)): [3.0, 1.0, 1.0, None, None, 6.0, 4.0],
    ("n", "sqrt_diff", ()): [
        1.7320508075688772, 1.0, 1.0, _MAX, _MAX, 2.449489742783178, 2.0],
    ("n", "sqrt_diff", ("sane",)): [
        1.7320508075688772, 1.0, 1.0, None, None, 2.449489742783178, 2.0],
}


@pytest.mark.parametrize("col,name,mode", list(_COMPARATOR_VALUES))
def test_named_comparator_values(spark, col, name, mode):
    """Every named SQL-text comparator gives the pinned values, in both
    ladder modes; the Column functions take ``F.col`` references as
    well as names, and refuse a computed or a DataFrame-bound Column."""
    from sparklyclean_spark.functions.similarity import COMPARATORS
    from sparklyclean_spark.operators.dedup.compare import (
        FieldComparator,
        select_pair_features,
    )

    pairs = spark.createDataFrame(
        _COMPARATOR_ROWS,
        "id1 int, id2 int, t1_s string, t2_s string, t1_n string, t2_n string",
    )
    kwargs = {"mode": mode[0]} if mode else {}
    want = _COMPARATOR_VALUES[(col, name, mode)]
    feats = select_pair_features(pairs, [FieldComparator(col, name, kwargs)])
    assert [r[2] for r in feats.orderBy("id1").collect()] == want
    fn = COMPARATORS[name]
    by_ref = pairs.select(fn(F.col(f"t1_{col}"), F.col(f"t2_{col}"), **kwargs))
    assert [r[0] for r in by_ref.collect()] == want  # createDataFrame keeps row order
    if name != "ignore":  # ignore reads neither argument
        for bad in (F.upper(f"t1_{col}"), pairs[f"t1_{col}"]):  # computed, DataFrame-bound
            with pytest.raises(TypeError, match="F.col"):
                fn(bad, f"t2_{col}", **kwargs)


# Per (k, mode): (lines, sha256 of the sorted lines) of program 1's
# text output on the skewed fixture, pinned from the Column-API build.
_PROGRAM1_LINES = {
    (3, "parity"): (48095, "ede415455c604f6a187e8032ad457f8e61427f1c9e9190264ad459f67f80c421"),
    (49, "sane"): (48095, "efe38bd9ccd3fc3909399a0e37daf97cc52164ad3d7ead38e41edf22fb996212"),
}


def _text_lines(path: str) -> list[str]:
    lines = []
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part) as f:
            lines += f.read().splitlines()
    return lines


@pytest.mark.parametrize("k,mode", list(_PROGRAM1_LINES))
def test_program1_lines_match_pinned(skewed_people, tmp_path, k, mode):
    """generate_labeled_points -> write_labeled_points writes the same
    bytes, line for line, as the Column-API build did."""
    from sparklyclean_spark.operators.dedup.pipeline import generate_labeled_points
    from sparklyclean_spark.sources.points import write_labeled_points

    out = str(tmp_path / "points")
    write_labeled_points(generate_labeled_points(skewed_people, k=k, mode=mode), out)
    lines = sorted(_text_lines(out))
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    assert (len(lines), digest) == _PROGRAM1_LINES[(k, mode)]


def test_program1_construction_budget(spark, people, tmp_path, monkeypatch):
    """Program 1 (read_febrl -> generate_labeled_points(k=49, sane) ->
    write_labeled_points), planning query and write included, makes at
    most 1,000 Python->JVM round trips. Built from Column calls it made
    about 7,000; built from SQL text, about 850."""
    from py4j.java_gateway import GatewayClient

    from sparklyclean_spark.operators.dedup.pipeline import generate_labeled_points
    from sparklyclean_spark.sources.csv import read_febrl
    from sparklyclean_spark.sources.points import write_labeled_points

    csv = str(tmp_path / "people.csv")
    people.write.csv(csv, header=True)

    def program1() -> None:
        points = generate_labeled_points(read_febrl(spark, csv), k=49, mode="sane")
        write_labeled_points(points, str(tmp_path / "points"))
        release_caches()

    program1()  # warm: first-use class lookups are not construction
    sent = [0]
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        sent[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    program1()
    monkeypatch.undo()
    assert 0 < sent[0] <= 1000, f"{sent[0]} py4j round trips"


def test_observed_reads_metrics_without_a_job(spark):
    from pyspark.sql import Observation

    from sparklyclean_spark.observe import observed

    store = spark._jsparkSession.sharedState().statusStore()
    obs = Observation()
    spark.range(5).observe(obs, F.expr("count(1) AS n")).collect()
    before = store.executionsCount()
    assert observed(obs, "probe") == {"n": 5}
    assert store.executionsCount() == before


def test_observed_raises_when_never_acted_on(spark, monkeypatch):
    """An observed DataFrame that no action runs makes the bounded read
    raise, naming the operator, instead of hanging the driver."""
    from pyspark.sql import Observation

    from sparklyclean_spark import observe

    monkeypatch.setattr(observe, "OBSERVE_TIMEOUT_S", 0.5)
    obs = Observation()
    spark.range(5).observe(obs, F.expr("count(1) AS n"))  # no action
    t0 = time.perf_counter()
    with pytest.raises(TimeoutError, match="disdedup.block_stats"):
        observe.observed(obs, "disdedup.block_stats")
    assert time.perf_counter() - t0 < 30

"""Physical-plan audits: lock in the scale properties (pushdown,
pruning, broadcast, bounded shuffles) that make a plan survive a
100× scale-up. A refactor that silently loses one of these should
fail here, not in production."""

from __future__ import annotations

import pytest

from sparklyclean_spark import plans as P
from sparklyclean_spark.operators import relational as R


@pytest.fixture(scope="module")
def t(spark):
    from sparklyclean_spark.catalog import load_tables
    from tests.conftest import SF_DIR

    return load_tables(spark, SF_DIR)


def test_q1_pushdown_and_pruning(t):
    df = R.q1_pricing_summary(t)
    # the shipdate filter must reach the parquet scan...
    assert P.has_pushed_filters(df, "l_shipdate")
    # ...and the scan must read only the 7 referenced columns of 16
    (cols,) = P.read_schema_columns(df)
    assert len(cols) == 7 and "l_comment" not in cols


def test_q5_broadcasts_dims(t):
    df = R.q5_revenue_by_nation(t)
    assert P.has_broadcast_hash_join(df)
    # shuffles: the big-side joins + final agg; must not exceed 5
    assert P.count_exchanges(df) <= 5
    assert P.whole_stage_codegen_spans(df) >= 1


def test_naive_pairs_bounded_shuffles(t):
    from sparklyclean_spark.operators.dedup.pairs import candidate_pairs_naive
    from __spark_entry__ import _CUST_RULES

    df = candidate_pairs_naive(t["customer"], _CUST_RULES, "c_custkey")
    # one self-join on (bk, bv): both sides shuffle once, nothing else
    assert P.count_exchanges(df) <= 2


def test_topk_single_shuffle(t):
    df = R.topk_orders_per_customer(t)
    # window per customer = exactly one hash exchange
    assert P.count_exchanges(df) == 1


def test_ann_paths_avoid_quadratic_joins(t):
    """The banded/bucketed near-dup paths must plan as equi-joins; the
    exact all-pairs forms are allowed to be nested-loop because they
    exist as verification/oracle paths only."""
    from sparklyclean_spark.operators.dedup import textdedup as TD
    from sparklyclean_spark.operators.similarity.knn import lsh_cosine_pairs

    assert not P.has_nested_loop_join(lsh_cosine_pairs(t["embeddings"], 0.3))
    assert not P.has_nested_loop_join(TD.minhash_lsh_pairs(t["documents"], 0.3))
    assert not P.has_nested_loop_join(TD.simhash_pairs(t["documents"], 3))
    # the exact quadratic forms really are the nested-loop shape —
    # if Catalyst ever finds an equi-plan for them, revisit the split
    assert P.has_nested_loop_join(TD.embedding_cosine_pairs(t["embeddings"], 0.3))


def test_q6_pushdown_and_pruning(t):
    """Q6 is the pushdown showcase: all three predicates must reach
    the parquet scan and the scan must read exactly the four needed
    columns."""
    df = R.q6_forecast_revenue(t)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert P.has_pushed_filters(df, col), col
    scans = P.read_schema_columns(df)
    assert scans == [["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]]


def test_global_avg_subquery_broadcasts(t):
    """The 1-row global-average aggregate must reach the orders scan
    as a BROADCAST (nested-loop of one row), never a non-broadcast
    cartesian — the pre-AQE size estimate of an aggregate is unknown,
    so the hint is load-bearing."""
    from sparklyclean_spark.operators.relational import orders_above_global_avg

    plan = P.explain_str(orders_above_global_avg(t), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_tfidf_count_in_plan_not_driver(t):
    """N must be computed inside the job (1-row broadcast aggregate),
    not via a driver-side count() action: the N scan is column-pruned
    to nothing (row-group-metadata count) and every other scan reads
    only (doc_id, text). The df side is agg+join — asserting NO
    window partitioned on term, which would drain a hot stopword's
    rows into one unsplittable sort task (the tf lineage's two scans
    are the deliberate price; see tfidf_top_terms docstring)."""
    from sparklyclean_spark.operators import text_analysis as TA

    df = TA.tfidf_top_terms(t["documents"])
    scans = sorted(tuple(c) for c in P.read_schema_columns(df))
    assert scans[0] == (), f"N scan not pruned to metadata: {scans[0]}"
    assert all(s == ("doc_id", "text") for s in scans[1:]), scans
    plan = P.explain_formatted(df)
    import re

    for m in re.finditer(r"Window.*?windowspecdefinition\(([^,)]+)", plan):
        assert "term" not in m.group(1), "df must not be a per-term window"


def test_cdc_latest_is_agg_not_window(t):
    """The CDC snapshot must plan as a hash aggregate (map-side
    partial combine) — NOT a per-key window sort."""
    from sparklyclean_spark.operators.cdc import latest_by_key

    df = latest_by_key(
        t["events"], keys=["user_id", "event_type"],
        order_cols=["ts", "event_id"], payload_cols=["value"],
    )
    plan = P.explain_formatted(df)
    assert "Window" not in plan
    assert "partial_max" in plan or "HashAggregate" in plan or "SortAggregate" in plan
    assert P.count_exchanges(df) == 1


def test_scd2_single_shuffle(t):
    from sparklyclean_spark.operators.cdc import scd2_intervals

    df = scd2_intervals(
        t["events"], keys=["user_id"], ts_col="ts",
        tiebreak_col="event_id", payload_cols=["value"],
    )
    assert P.count_exchanges(df) == 1


def test_chunk_dedup_no_quadratic_join(t):
    """Span dedup must be explode+agg+equi-join — no nested-loop
    anywhere, bounded shuffle count."""
    from sparklyclean_spark.operators.dedup.chunks import chunk_dedup

    df = chunk_dedup(t["documents"], chunk_tokens=10)
    assert not P.has_nested_loop_join(df)
    # chunk-winner agg, winner join, doc reassembly agg, final join
    assert P.count_exchanges(df) <= 6


def test_quantize_stays_jvm_side(t):
    """int8 quantization is pure Column expressions: no Python/Arrow
    stage, no shuffle at all."""
    from sparklyclean_spark.operators.similarity.quantize import quantize_int8

    df = quantize_int8(t["embeddings"])
    plan = P.explain_formatted(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert P.count_exchanges(df) == 0


def test_single_eval_sites_run_each_udf_once(t):
    """One ArrowEvalPython node per UDF call site: the cosine filter
    must not be pushed below its projection and re-evaluate the UDF
    (the duplication the ``single_eval`` marks prevent)."""
    from pyspark.sql import functions as F

    from sparklyclean_spark.operators.dedup import textdedup as TD
    from sparklyclean_spark.operators.similarity.knn import ivf_topk, lsh_cosine_pairs

    e = t["embeddings"]
    assert P.python_eval_count(TD.embedding_cosine_pairs(e, 0.3)) == 1
    # the signature UDF runs once, inside the persisted signature table
    assert P.python_eval_count(lsh_cosine_pairs(e, 0.3)) == 1
    # cell assignment once per side (corpus, queries) + the cosine re-rank
    q = e.where(F.col("vec_id") < 20)
    assert P.python_eval_count(ivf_topk(e, q, k=5, n_cells=8, nprobe=2)) == 3

    # PQ encode sites: the encoder (with the IVF cell assignment in the
    # same Arrow pass) runs once; the refine tier adds its cosine re-rank
    from sparklyclean_spark.operators.similarity import pq

    ivf = dict(k=5, n_cells=8, nprobe=2)
    assert P.python_eval_count(pq.pq_topk(e, q, k=5)) == 1
    assert P.python_eval_count(pq.ivf_pq_topk(e, q, **ivf)) == 1
    for opq in (False, True):
        df = pq.ivf_pq_residual_topk(e, q, opq=opq, **ivf)
        assert P.python_eval_count(df) == 1, opq
    assert P.python_eval_count(pq.ivf_pq_refine_topk(e, q, **ivf)) == 2
    for card in (pq.pq_distortion, pq.opq_distortion, pq.ivf_pq_residual_distortion):
        assert P.python_eval_count(card(e)) == 1, card.__name__

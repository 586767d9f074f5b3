"""Round-9 operators: SemDeDup embedding dedup, DSIR importance
resampling, t-closeness, BPE merge stats, vocab coverage, CCNet
perplexity buckets."""

from __future__ import annotations

import pytest


def test_semdedup_keep_lowest_id_rule(spark):
    """Hand case for the disposition contract: each above-threshold
    group keeps its lowest id; n_dup_neighbors counts BOTH sides;
    scale-invariant cosine groups [1,0..] with [2,0..]."""
    from sparklyclean_spark.operators.similarity.semdedup import (
        semdedup_dispositions,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),   # exact dup of 1
        (3, [2.0, 0.0, 0.0, 0.0]),   # cos=1 with 1 and 2 (scale-free)
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 1.0, 0.0, 0.0]),  # exact dup of 10
        (20, [0.0, 0.0, 1.0, 0.0]),  # singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # n_cells=1 -> one global cell, so the keep rule is tested without
    # depending on the quantizer's cell boundaries
    out = {
        r.vec_id: r
        for r in semdedup_dispositions(emb, threshold=0.95, n_cells=1).collect()
    }
    assert len(out) == 6
    assert {i: out[i].is_dup for i in out} == {
        1: False, 2: True, 3: True, 10: False, 11: True, 20: False,
    }
    assert {i: out[i].n_dup_neighbors for i in out} == {
        1: 2, 2: 2, 3: 2, 10: 1, 11: 1, 20: 0,
    }
    # dedup rate degrades gracefully at a threshold nothing meets
    none = semdedup_dispositions(emb, threshold=1.01, n_cells=1).collect()
    assert all(not r.is_dup and r.n_dup_neighbors == 0 for r in none)


def test_semdedup_cells_bound_comparisons(spark):
    """With enough cells, orthogonal groups land in different cells
    and within-group dups are still caught (the within-cell join sees
    them); results are deterministic across repartitionings."""
    from sparklyclean_spark.operators.similarity.semdedup import (
        semdedup_dispositions,
    )

    rows = []
    for g in range(4):
        base = [0.0] * 8
        base[g] = 1.0
        for j in range(5):
            v = list(base)
            v[4 + g // 2] = 0.01 * j  # tiny within-group jitter
            rows.append((g * 100 + j, v))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out1 = sorted(
        map(tuple, semdedup_dispositions(emb, threshold=0.99, n_cells=4).collect())
    )
    out2 = sorted(
        map(
            tuple,
            semdedup_dispositions(
                emb.repartition(7), threshold=0.99, n_cells=4
            ).collect(),
        )
    )
    assert out1 == out2
    # every group's lowest id survives; at least some dups are found
    survivors = {r[0] for r in out1 if not r[3]}
    assert {0, 100, 200, 300} <= survivors
    assert any(r[3] for r in out1)


def test_dsir_scores_rank_target_like_docs_higher(spark):
    """Documents sharing the target slice's vocabulary must outscore
    documents that don't; single-token docs exercise the descending-
    sequence bigram guard; all-whitespace docs drop out."""
    from sparklyclean_spark.operators.curation import dsir_scores

    rows = [
        (1, "alpha beta gamma alpha beta", "en"),
        (2, "alpha beta gamma gamma", "en"),
        (3, "alpha beta gamma", "fr"),        # target-like, non-target lang
        (4, "zulu yankee xray whiskey", "fr"), # nothing in common with target
        (5, "alpha", "de"),                    # single token: no bigrams
        (6, "   ", "en"),                      # tokenless: excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {r.doc_id: r for r in dsir_scores(docs, target_lang="en").collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # target-vocabulary doc (even with lang=fr) beats the alien-vocab doc
    assert out[3].dsir_per_gram > out[4].dsir_per_gram
    assert out[1].dsir_per_gram > out[4].dsir_per_gram
    # gram accounting: unigrams + bigrams = 2n-1
    assert out[1].n_grams == 2 * 5 - 1
    assert out[5].n_grams == 1

    import pytest

    with pytest.raises(ValueError):
        dsir_scores(docs, n_buckets=1000)


def test_t_closeness_hand_case(spark):
    """TVD math, absent-value remainder, NULL quasi group retention,
    and NULL sensitive-as-category on a 3-group toy table."""
    from sparklyclean_spark.operators.pii import t_closeness_audit

    rows = (
        [(1, "A")] * 5 + [(1, "B")] * 5          # group 1: 50/50 A,B
        + [(2, "A")] * 10                          # group 2: all A
        + [(None, "A")] * 3 + [(None, None)] * 1   # NULL group, NULL value
    )
    df = spark.createDataFrame(rows, "g int, s string")
    out = {r.g: r for r in t_closeness_audit(df, ["g"], "s", t=0.2).collect()}
    assert set(out) == {1, 2, None}
    # global: n=24, A=18, B=5, NULL=1
    # group 1 (n=10, A=5, B=5):
    #   TVD = 0.5*(|5/10-18/24| + |5/10-5/24| + |0-1/24|)
    import math

    def tvd(counts, n_g):
        glob = {"A": 18, "B": 5, None: 1}
        s = sum(
            abs(counts.get(v, 0) * 24 - glob[v] * n_g) for v in glob
        )
        return math.floor(s * 10000.0 / (2 * n_g * 24) + 0.5) / 10000.0

    assert out[1].tvd == tvd({"A": 5, "B": 5}, 10)
    assert out[2].tvd == tvd({"A": 10}, 10)
    assert out[None].tvd == tvd({"A": 3, None: 1}, 4)
    assert out[1].group_n == 10 and out[None].group_n == 4
    # the global is already A-heavy (18/24), so the 50/50 group sits
    # FARTHER from it than the all-A group — distance is to the
    # corpus, not to uniform
    assert out[1].tvd > out[2].tvd
    assert not out[1].t_close and not out[2].t_close


def test_bpe_merge_candidates_hand_case(spark):
    """Pair counting inside word occurrences: 'aaab' yields aa,aa,ab;
    1-char tokens yield nothing; top-k tie-break is pair ASC."""
    from sparklyclean_spark.operators.text_analysis import bpe_merge_candidates

    docs = spark.createDataFrame(
        [(1, "aaab aaab a"), (2, "ab ba")],
        "doc_id bigint, text string",
    )
    out = [(r.pair, r.cnt) for r in bpe_merge_candidates(docs, top_k=10).collect()]
    # aa: 2 per 'aaab' x2 = 4; ab: 1 per 'aaab' x2 + 1 = 3; ba: 1
    assert out == [("aa", 4), ("ab", 3), ("ba", 1)]
    # tie-break: equal counts order by pair ASC
    docs2 = spark.createDataFrame([(1, "xy yx")], "doc_id bigint, text string")
    out2 = [(r.pair, r.cnt) for r in bpe_merge_candidates(docs2).collect()]
    assert out2 == [("xy", 1), ("yx", 1)]


def test_vocab_coverage_hand_case(spark):
    """Coverage at each k of the grid; n_terms saturates at |vocab|;
    coverage is the floor-snapped exact ratio."""
    from sparklyclean_spark.operators.text_analysis import vocab_coverage

    # counts: the=4, a=2, b=1, c=1 (total 8); rank order the,a,b,c
    docs = spark.createDataFrame(
        [(1, "the the a b"), (2, "the the a c")], "doc_id bigint, text string"
    )
    out = {r.k: r for r in vocab_coverage(docs, ks=(1, 2, 10)).collect()}
    assert out[1].n_terms == 1 and out[1].covered == 4 and out[1].coverage == 0.5
    assert out[2].n_terms == 2 and out[2].covered == 6 and out[2].coverage == 0.75
    # k beyond the vocab: everything covered, n_terms = |vocab|
    assert out[10].n_terms == 4 and out[10].covered == 8 and out[10].coverage == 1.0


def test_perplexity_buckets_hand_case(spark):
    """Tercile assignment per lang with NTILE ceil-distribution; the
    fluent (low-xent) doc lands in 'head'; tokenless docs drop out."""
    from sparklyclean_spark.operators.text_analysis import perplexity_buckets

    # 'common' appears often -> docs of it are low-entropy (head);
    # rare-token docs are high-entropy (tail)
    rows = [
        (1, "common common common", "en"),
        (2, "common common rare1", "en"),
        (3, "common rare2 rare3", "en"),
        (4, "rare4 rare5 rare6", "en"),
        (5, "common common", "fr"),
        (6, "   ", "en"),  # tokenless: excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {r.doc_id: r for r in perplexity_buckets(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # en has 4 docs -> NTILE(3) gives groups of 2,1,1 in xent order
    assert out[1].bucket == "head" and out[2].bucket == "head"
    assert out[3].bucket == "middle" and out[4].bucket == "tail"
    # single-doc lang: everything is head
    assert out[5].bucket == "head"
    assert out[1].cross_entropy < out[4].cross_entropy


def test_pq_topk_duplicate_ranks_first_and_is_deterministic(spark):
    """An exact duplicate of the query shares every PQ code, so its
    ADC distance is the sum of the lookup table's minima — nothing
    can beat it (ties break by id). Output is invariant under
    repartitioning; self-pairs are excluded and ranks are 1..k."""
    from sparklyclean_spark.operators.similarity.pq import pq_topk

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    rows.append((100, list(rows[0][1])))  # exact dup of vec 0
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = emb.where("vec_id = 0")
    out = pq_topk(emb, q, k=5, m=4, ks=8)
    got = sorted(map(tuple, out.collect()), key=lambda t: t[3])
    assert len(got) == 5
    assert [t[3] for t in got] == [1, 2, 3, 4, 5]
    assert all(t[1] != 0 for t in got)           # self excluded
    assert got[0][1] == 100                       # the dup wins rank 1
    out2 = sorted(
        map(tuple, pq_topk(emb.repartition(5), q, k=5, m=4, ks=8).collect()),
        key=lambda t: t[3],
    )
    assert got == out2


@pytest.mark.parametrize(
    "funnel",
    ["pq_topk", "ivf_pq_topk", "ivf_pq_residual_topk", "ivf_pq_refine_topk"],
)
def test_pq_funnels_reject_queries_beyond_cap(spark, funnel):
    """More queries than ``query_cap`` must raise, naming the cap —
    not silently answer only the first ``query_cap`` ids. Exactly
    ``query_cap`` queries are all answered. An empty query set raises
    a clear error, not numpy's ``AxisError``."""
    import random

    from sparklyclean_spark.operators.similarity import pq

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    fn = getattr(pq, funnel)
    kw = dict(k=2, m=2, ks=4)
    if funnel != "pq_topk":
        kw.update(n_cells=2, nprobe=2)
    with pytest.raises(ValueError, match="query_cap=2"):
        fn(emb, emb.where("vec_id < 3"), query_cap=2, **kw)
    out = fn(emb, emb.where("vec_id < 2"), query_cap=2, **kw).collect()
    assert sorted({r.query_id for r in out}) == [0, 1]
    with pytest.raises(ValueError, match="empty query set"):
        fn(emb, emb.where("vec_id < 0"), query_cap=2, **kw)


def test_pq_distortion_shape_and_dup_corpus_zero(spark):
    """Per-subspace rows with full corpus counts; a corpus of one
    repeated vector quantizes exactly (mse 0 in every subspace)."""
    from sparklyclean_spark.operators.similarity.pq import pq_distortion

    v = [1.0, 2.0, -1.0, 0.5, 0.0, 3.0, -2.0, 1.5]
    emb = spark.createDataFrame(
        [(i, list(v)) for i in range(30)], "vec_id bigint, embedding array<double>"
    )
    out = {r.j: r for r in pq_distortion(emb, m=4, ks=8).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    assert all(out[j].n_vecs == 30 for j in out)
    assert all(out[j].mse == 0.0 for j in out)

    import pytest

    with pytest.raises(ValueError):
        pq_distortion(emb, m=3)  # 8 dims not divisible by 3


def test_ivf_pq_results_subset_of_pq_with_full_probe(spark):
    """With nprobe == n_cells the IVF prune is a no-op, so IVF-PQ must
    return exactly the exhaustive-ADC ranking; with a narrow probe its
    survivors are a subset of the corpus scored by the same codes
    (adist values agree with pq_topk's wherever both return a pair)."""
    from sparklyclean_spark.operators.similarity.pq import ivf_pq_topk, pq_topk

    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = emb.where("vec_id < 3")
    full = sorted(map(tuple, pq_topk(emb, q, k=5, m=4, ks=8).collect()))
    noop = sorted(
        map(
            tuple,
            ivf_pq_topk(emb, q, k=5, n_cells=4, nprobe=4, m=4, ks=8).collect(),
        )
    )
    assert noop == full
    narrow = ivf_pq_topk(emb, q, k=5, n_cells=4, nprobe=1, m=4, ks=8).collect()
    pq_adist = {(t[0], t[1]): t[2] for t in full}
    for r in narrow:
        if (r.query_id, r.neighbor_id) in pq_adist:
            assert r.adist == pq_adist[(r.query_id, r.neighbor_id)]
    # ranks are contiguous from 1 per query
    per_q = {}
    for r in narrow:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_check_constraints_fk_only_suite(spark):
    """An FK-only (or uniqueness-free) rule list must run — the long
    form previously built inline(array()) with zero structs, an
    AnalysisException (r9 review finding)."""
    from sparklyclean_spark.operators.quality import (
        ForeignKeyRule,
        check_constraints,
    )

    fact = spark.createDataFrame([(1,), (2,), (9,)], "k int")
    dim = spark.createDataFrame([(1,), (2,)], "d int")
    out = check_constraints(fact, [ForeignKeyRule("k", dim, "d")])
    rows = {r.rule: r for r in out.collect()}
    assert rows["foreign_key_k"].violations == 1 and not rows["foreign_key_k"].passed
    assert rows["foreign_key_k"].n_rows == 3

    import pytest

    with pytest.raises(ValueError):
        check_constraints(fact, [])


def test_unique_rule_null_keys_consistent_across_modes(spark):
    """NULL-keyed rows count as violations in BOTH exact and approx
    modes (the approx flag previously flipped passed on NULL keys —
    r9 review finding, reproduced before the fix)."""
    from sparklyclean_spark.operators.quality import UniqueRule, check_constraints

    df = spark.createDataFrame([(1,), (2,), (None,), (3,)], "k int")
    exact = {r.rule: r for r in check_constraints(df, [UniqueRule(("k",))]).collect()}
    approx = {
        r.rule: r
        for r in check_constraints(
            df, [UniqueRule(("k",))], approx_unique=True
        ).collect()
    }
    assert exact["unique_k"].violations == 1 and not exact["unique_k"].passed
    assert approx["unique_k"].violations == 1 and not approx["unique_k"].passed


def test_hash_split_and_kfold_handle_null_ids(spark):
    """NULL ids land in ONE deterministic split/fold via the U+001F
    sentinel — previously every NULL id silently fell into 'test'
    (hash_split) or got a NULL fold (kfold)."""
    from sparklyclean_spark.operators.sampling import hash_split, kfold_assignment

    df = spark.createDataFrame([(i,) for i in range(20)] + [(None,)] * 3, "id bigint")
    splits = hash_split(df, "id").collect()
    null_splits = {r.split for r in splits if r.id is None}
    assert len(null_splits) == 1 and None not in null_splits
    folds = kfold_assignment(df, "id").collect()
    null_folds = {r.fold for r in folds if r.id is None}
    assert len(null_folds) == 1 and None not in null_folds


def test_psi_counts_unreachable_bins(spark):
    """With a degenerate expected column (one dominant value -> tied
    quantile boundaries -> unreachable bin indices) the PSI output
    still carries all n_bins rows and the total includes the empty
    bins' smoothed terms (which are nonzero whenever ne != na)."""
    from sparklyclean_spark.operators.drift import psi_drift

    exp = spark.createDataFrame([(1.0,)] * 50 + [(9.0,)] * 2, "v double")
    act = spark.createDataFrame([(1.0,)] * 10 + [(9.0,)] * 30, "v double")
    rows = psi_drift(exp, act, "v", n_bins=10).collect()
    assert len(rows) == 10  # full spine, not just observed bins
    empty = [r for r in rows if r.n_expected == 0 and r.n_actual == 0]
    assert empty, "tied boundaries must leave unreachable bins in this setup"
    assert all(r.psi_term != 0.0 for r in empty)  # ne=52 != na=40
    # total equals the sum of ALL terms (snap tolerance only)
    total = rows[0].psi_total
    assert abs(total - sum(r.psi_term for r in rows)) < 1e-3


def test_asof_backward_ignores_null_right_timestamps(spark):
    """A right row with a NULL timestamp is no match for anything —
    previously it sorted first under asc order and its payload rode
    last(ignorenulls) into every earlier left row (r9 review
    finding, reproduced before the fix)."""
    from sparklyclean_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00")], "user_id bigint, pts string"
    ).withColumn("pts", __import__("pyspark.sql.functions", fromlist=["F"]).col("pts").cast("timestamp_ntz"))
    right = spark.createDataFrame(
        [(1, None, 99.0)], "user_id bigint, rts string, val double"
    ).withColumn("rts", __import__("pyspark.sql.functions", fromlist=["F"]).col("rts").cast("timestamp_ntz"))
    out = asof_join(left, right, on=["user_id"], left_ts="pts", right_ts="rts").collect()
    assert len(out) == 1 and out[0]["r_val"] is None
    inner = asof_join(
        left, right, on=["user_id"], left_ts="pts", right_ts="rts", how="inner"
    ).collect()
    assert inner == []


def test_attribution_models_agree_on_same_microsecond_touch(spark):
    """All three attribution models share one 'prior touch' scope: a
    touch at the purchase's exact timestamp (earlier tiebreak id) is
    credited by last-touch, linear, AND time-decay — previously the
    join-based models called that purchase 'direct' (r9 review
    finding, reproduced before the fix)."""
    from sparklyclean_spark.operators.behavior import (
        last_touch_attribution,
        linear_attribution,
        time_decay_attribution,
    )

    rows = [
        (1, "2024-01-01 10:00:00.000001", 1, "click", 0.0),
        (2, "2024-01-01 10:00:00.000001", 1, "purchase", 10.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id", "event_type", "value")
    for fn in (last_touch_attribution, linear_attribution, time_decay_attribution):
        got = {r.touch_type for r in fn(df).collect()}
        assert got == {"click"}, (fn.__name__, got)


def test_session_sequences_render_null_types_consistently(spark):
    """NULL event types appear as the U+001F sentinel token so the
    sequence's token count always equals seq_len; trigram paths with
    a NULL middle step are dropped entirely instead of collapsing to
    a malformed 2-token 'trigram' (r9 review findings)."""
    from sparklyclean_spark.operators.sessions import (
        session_path_ngrams,
        session_sequences,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 1, "a", 0.0),
        (2, "2024-01-01 10:00:01", 1, None, 0.0),
        (3, "2024-01-01 10:00:02", 1, "c", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id", "event_type", "value")
    seq = session_sequences(df, tiebreaker="event_id").collect()
    assert len(seq) == 1
    assert seq[0].sequence == "a>\x1f>c" and seq[0].seq_len == 3
    assert len(seq[0].sequence.split(">")) == seq[0].seq_len
    paths = session_path_ngrams(df, n=3, tiebreaker="event_id").collect()
    assert paths == []  # the only 3-window contains a NULL step


def test_connected_components_string_ids_converge(spark):
    """String vertex ids must propagate to full convergence — the old
    decimal-cast witness went NULL on strings under non-ANSI sessions
    and stopped after one round, silently returning comp='c' for a
    4-chain (r9 review finding)."""
    from sparklyclean_spark.operators.dedup.clusters import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "id1 string, id2 string"
    )
    verts = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "id string")
    for fn in (connected_components, connected_components_star):
        out = {r.id: r.comp for r in fn(edges, verts).collect()}
        assert out == {"a": "a", "b": "a", "c": "a", "d": "a"}, (fn.__name__, out)


def test_simhash_rejects_unreachable_hamming_radius(spark):
    """4-band LSH is exhaustive only to hamming 3; a wider radius
    silently missed pairs before, now it raises."""
    import pytest

    from sparklyclean_spark.operators.dedup.textdedup import simhash_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        simhash_pairs(docs, max_hamming=4)
    simhash_pairs(docs, max_hamming=3)  # boundary still fine


def test_common_ngram_pairs_n1_runs(spark):
    """n=1 previously crashed on a nonexistent lead column; shared
    unigrams now pair documents."""
    from sparklyclean_spark.operators.dedup.textdedup import common_ngram_pairs

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma"), (3, "delta")],
        "doc_id bigint, text string",
    )
    out = common_ngram_pairs(docs, n=1, min_shared=1)
    rows = {(r.id1, r.id2) for r in out.collect()}
    assert (1, 2) in rows and not any(3 in p for p in rows)


def test_source_overlap_includes_disjoint_pairs(spark):
    """Source pairs sharing NO n-gram must appear with n_shared=0 /
    jaccard=0 — the inner join silently omitted them (r9 review
    finding)."""
    from sparklyclean_spark.operators.decontam import source_overlap_matrix

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j", "s1"),
            (2, "a b c d e f g h i j", "s2"),
            (3, "z y x w v u t s r q", "s3"),
        ],
        "doc_id bigint, text string, source string",
    )
    out = {(r.src_a, r.src_b): r for r in source_overlap_matrix(docs).collect()}
    assert set(out) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    assert out[("s1", "s2")].n_shared > 0
    assert out[("s1", "s3")].n_shared == 0 and out[("s1", "s3")].jaccard == 0.0


def test_merge_changes_order_col_in_target_schema(spark):
    """Ordering by a ts column that is ALSO a snapshot column is the
    standard CDC compaction setup — it previously crashed with an
    unresolved-column error because the order column came out of
    compaction twice and drop removed both copies (r9 review
    finding, reproduced)."""
    from sparklyclean_spark.operators.merge import merge_changes

    target = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "k bigint, ts bigint, v string"
    )
    changes = spark.createDataFrame(
        [(1, 11, "a2", "U"), (1, 12, "a3", "U"), (2, 11, None, "D")],
        "k bigint, ts bigint, v string, op string",
    )
    out = {r.k: r for r in merge_changes(target, changes, ["k"], order_cols=["ts"]).collect()}
    assert set(out) == {1}
    assert out[1].v == "a3" and out[1].ts == 12  # latest change wins


def test_diff_rows_null_keys_and_key_only_tables(spark):
    """A NULL-keyed row identical on both sides is 'unchanged' (the
    equi-join reported phantom added+removed); key-only tables diff
    as pure set membership instead of crashing on xxhash64() with
    zero args (r9 review findings, both reproduced)."""
    from sparklyclean_spark.operators.diff import diff_rows

    l = spark.createDataFrame([(None, "p"), (1, "x")], "k bigint, v string")
    r = spark.createDataFrame([(None, "p"), (1, "y")], "k bigint, v string")
    out = {r_.k: r_.status for r_ in diff_rows(l, r, ["k"]).collect()}
    assert out == {None: "unchanged", 1: "changed"}

    lk = spark.createDataFrame([(1,), (2,)], "k bigint")
    rk = spark.createDataFrame([(2,), (3,)], "k bigint")
    out2 = {r_.k: r_.status for r_ in diff_rows(lk, rk, ["k"]).collect()}
    assert out2 == {1: "removed", 2: "unchanged", 3: "added"}


def test_change_data_feed_rejects_op_name_collision(spark):
    """An op_name equal to a payload column silently replaced the real
    payload with the op code and duplicated the column (reproduced);
    it now raises."""
    import pytest

    from sparklyclean_spark.operators.diff import change_data_feed

    old = spark.createDataFrame([(1, "x")], "k bigint, op string")
    new = spark.createDataFrame([(1, "y")], "k bigint, op string")
    with pytest.raises(ValueError):
        change_data_feed(old, new, ["k"])
    ok = change_data_feed(old, new, ["k"], op_name="_op").collect()
    assert len(ok) == 1 and ok[0]["_op"] == "U" and ok[0].op == "y"


def test_resample_marks_null_valued_observations(spark):
    """A bucket containing an event whose value is NULL is an
    OBSERVED bucket (presence-based flag); the forward fill carries
    the prior non-null value across it (r9 review finding)."""
    from sparklyclean_spark.operators.resample import resample_ffill

    rows = [
        (1, "2024-01-01 00:10:00", 5.0),
        (1, "2024-01-01 01:10:00", None),
        (1, "2024-01-01 03:10:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "k bigint, ts string, v double").selectExpr(
        "k", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "v"
    )
    out = {r.bucket_ts.hour: r for r in resample_ffill(df, ["k"], "ts", "v").collect()}
    assert [out[h].is_observed for h in (0, 1, 2, 3)] == [True, True, False, True]
    assert [out[h].v for h in (0, 1, 2, 3)] == [5.0, 5.0, 5.0, 7.0]


def test_latest_by_key_dotted_column_names(spark):
    """Dotted column names are legal and survive parquet; the struct
    field extraction must backtick-quote them (previously parsed as a
    nested path and failed to resolve)."""
    from sparklyclean_spark.operators.cdc import latest_by_key

    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b")], ["k", "o.rd", "pay.load"]
    )
    out = latest_by_key(df, ["k"], ["o.rd"], ["pay.load"]).collect()
    assert len(out) == 1 and out[0]["pay.load"] == "b"


def test_mixture_sample_missing_target_source_caps_at_zero(spark):
    """A targeted source absent from the data makes the feasible
    mixture empty — the inner join previously dropped the constraint
    and emitted a silently wrong 100%-present-source mix (r9 review
    finding)."""
    from sparklyclean_spark.operators.mixing import mixture_sample

    df = spark.createDataFrame(
        [(i, "web") for i in range(100)], "doc_id bigint, source string"
    )
    out = mixture_sample(df, "source", {"web": 0.5, "books": 0.5}, "doc_id")
    assert out.count() == 0
    # all targets present: the constrained source is kept whole
    df2 = df.union(
        spark.createDataFrame([(1000 + i, "books") for i in range(10)],
                              "doc_id bigint, source string")
    )
    out2 = mixture_sample(df2, "source", {"web": 0.5, "books": 0.5}, "doc_id")
    kept = out2.groupBy("source").count().collect()
    by = {r.source: r["count"] for r in kept}
    assert by.get("books", 0) == 10  # rate 1.0 for the scarce source


def test_target_encode_null_targets_use_observed_mean(spark):
    """Mean denominators count the TARGET: a category with values
    [10.0, NULL] has raw_mean 10.0, not 5.0 (r9 review finding); n
    stays the full row count."""
    from sparklyclean_spark.operators.encoding import target_encode

    df = spark.createDataFrame(
        [("A", 10.0), ("A", None), ("B", 4.0)], "cat string, t double"
    )
    out = {r.cat: r for r in target_encode(df, "cat", "t", m=0.0).collect()}
    assert out["A"].n == 2 and out["A"].raw_mean == 10.0
    assert out["B"].raw_mean == 4.0


def test_pack_bins_greedy_excludes_null_sizes(spark):
    """A NULL size previously crashed the whole Arrow pass on the
    int cast; size-less docs are now excluded by contract."""
    from sparklyclean_spark.operators.packing import pack_bins_greedy

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 20)], "doc_id bigint, n_tokens bigint"
    )
    out = pack_bins_greedy(df, "n_tokens", ["doc_id"], capacity=64)
    assert {r.doc_id for r in out.collect()} == {1, 3}


def test_distinct_rollup_custom_total_label(spark):
    """The merged row's label is parameterized so a shard domain
    containing 'ALL' can pick a non-colliding sentinel."""
    from pyspark.sql import functions as F

    from sparklyclean_spark.operators.sketches import distinct_rollup

    df = spark.createDataFrame(
        [(1, "ALL"), (2, "ALL"), (2, "b")], "uid bigint, s string"
    )
    out = {r.shard: r.est_distinct
           for r in distinct_rollup(df, F.col("uid"), F.col("s"),
                                    total_label="\x1ftotal").collect()}
    assert out == {"ALL": 2, "b": 1, "\x1ftotal": 2}


def test_redact_pii_counts_match_redactions(spark):
    """Counts are stage-by-stage on the progressively redacted text:
    a phone/IP swallowed by an earlier email redaction is not
    phantom-counted (r9 review finding, reproduced)."""
    from sparklyclean_spark.operators.pii import redact_pii

    docs = spark.createDataFrame(
        [(1, "call 555-123-4567@example.com or 1.2.3.4@foo.io"),
         (2, "real phone 555-123-4567 and ip 1.2.3.4")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert (out[1].n_emails, out[1].n_phones, out[1].n_ips) == (2, 0, 0)
    assert "<PHONE>" not in out[1].redacted and "<IP>" not in out[1].redacted
    assert (out[2].n_emails, out[2].n_phones, out[2].n_ips) == (0, 1, 1)
    # invariant: each count equals its placeholder occurrences
    for r in out.values():
        assert r.redacted.count("<EMAIL>") == r.n_emails
        assert r.redacted.count("<PHONE>") == r.n_phones
        assert r.redacted.count("<IP>") == r.n_ips


def test_cohort_retention_null_users_excluded(spark):
    """NULL users previously inflated cohort_size while their cells
    vanished from the null-unsafe join, breaking retention(0)=1.0."""
    from sparklyclean_spark.operators.retention import cohort_retention

    rows = [
        (1, "2024-01-01 10:00:00"), (2, "2024-01-01 11:00:00"),
        (None, "2024-01-01 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts string").selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts"
    )
    out = cohort_retention(df).collect()
    assert len(out) == 1
    assert out[0].cohort_size == 2 and out[0].retention == 1.0


def test_profile_columns_survives_dirty_numerics(spark):
    """NaN / Inf / decimal-overflow numerics render as strings
    instead of aborting the profile under ANSI mode (r9 review
    finding)."""
    from sparklyclean_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(float("nan"),), (float("inf"),), (1e35,), (2.5,)], "x double"
    )
    rows = profile_columns(df, [("x", "num")]).collect()
    assert len(rows) == 1 and rows[0].min_val == "2.5000"
    assert rows[0].max_val == "NaN"


def test_funnel_rejects_repeated_steps(spark):
    """A repeated step name let ONE event satisfy two steps (ts >=
    prev includes itself) — now rejected loudly."""
    import pytest

    from sparklyclean_spark.operators.funnel import funnel_steps

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "view")],
        "user_id bigint, ts string, event_type string",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "event_type")
    with pytest.raises(ValueError):
        funnel_steps(df, ["view", "view"])


def test_zorder_rejects_overflow_and_ranks_nulls_low(spark):
    """4 cols x 16 bits = 64 interleaved bits produced NEGATIVE keys
    (signed sort scrambled the clustering — reproduced); now rejected.
    NULL values rank 0 instead of riding least() up to maxrank."""
    import pytest

    from sparklyclean_spark.sources.layout import with_zorder_key

    df = spark.createDataFrame(
        [(1.0, 1.0, 1.0, 1.0)], "a double, b double, c double, d double"
    )
    with pytest.raises(ValueError):
        with_zorder_key(df, ["a", "b", "c", "d"], bits=16)
    ok = with_zorder_key(df, ["a", "b", "c", "d"], bits=15)
    assert ok.collect()[0].zkey >= 0

    df2 = spark.createDataFrame(
        [(0.0, 0.0), (100.0, 100.0), (None, 100.0)], "a double, b double"
    )
    keys = {(r.a, r.b): r.zkey for r in with_zorder_key(df2, ["a", "b"]).collect()}
    # NULL-a row must sort strictly below the max-corner row
    assert keys[(None, 100.0)] < keys[(100.0, 100.0)]


def test_write_labeled_points_null_feature_alignment(spark, tmp_path):
    """A NULL feature writes as NaN instead of being silently dropped
    by array_join (which shifted every later feature one slot left on
    disk — r9 review finding)."""
    import math

    from sparklyclean_spark.sources.points import (
        read_labeled_points,
        write_labeled_points,
    )

    df = spark.createDataFrame(
        [(1, 2, 1.0, [0.5, None, 0.7])],
        "id1 bigint, id2 bigint, label double, features array<double>",
    )
    path = str(tmp_path / "pts")
    write_labeled_points(df, path)
    back = read_labeled_points(spark, path, n_features=3).collect()[0]
    feats = list(back.features)
    assert feats[0] == 0.5 and feats[2] == 0.7
    assert feats[1] is None or math.isnan(feats[1])  # slot preserved


def test_streaming_sessionize_fn_handles_disorder(spark):
    """The session walk must not regress the open session's last-event
    timestamp on a late-but-in-watermark event (inverted windows were
    reproduced), and must globally sort multi-chunk input."""
    import pandas as pd

    from sparklyclean_spark.streaming.sessionize import _session_fn

    class FakeState:
        hasTimedOut = False
        exists = False

        def update(self, t):
            self.val = t

        def setTimeoutTimestamp(self, x):
            pass

        def getCurrentWatermarkMs(self):
            return 0  # r11 state contract: watermark-gated closure

    fn = _session_fn(900)

    # the worker's input contract (r12 DST fix): the wrapper supplies
    # ``ts_us`` = unix_micros(ts), and the fn sorts/merges on that
    # instant column rather than the naive-local ts
    def chunk(times):
        ts = pd.to_datetime(times)
        return pd.DataFrame(
            {"ts": ts, "value": [1.0] * len(ts),
             "ts_us": [t.value // 1_000 for t in ts]}
        )

    # two chunks arriving out of global order
    c1 = chunk(["2024-01-01 10:00:00"])
    c2 = chunk(["2024-01-01 09:55:00", "2024-01-01 10:05:00"])
    st = FakeState()
    out = list(fn((1,), iter([c1, c2]), st))
    assert out == []  # one open session, nothing closed (wm = 0)
    # r11 state shape: parallel arrays of epoch-micros sessions
    starts, lasts, ns, svs = st.val
    assert len(starts) == 1 and ns[0] == 3 and lasts[0] >= starts[0]
    assert lasts[0] == pd.Timestamp("2024-01-01 10:05:00").value // 1_000

"""Text-analysis & near-dup operators: hash-path recall vs exact paths,
shingle edge cases, LSH ANN recall vs brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparklyclean_spark.catalog import load_table
from sparklyclean_spark.operators import text_analysis as TA
from sparklyclean_spark.operators.dedup import textdedup as TD
from sparklyclean_spark.operators.similarity.knn import brute_force_topk, lsh_bucketed_topk
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def test_shingles_short_doc(spark):
    """Docs shorter than the shingle width yield an empty set (the
    sequence() guard), not an error."""
    from sparklyclean_spark.functions.text import word_shingles

    df = spark.createDataFrame(
        [("a",), ("a b",), ("a b c",), ("",)], "text string"
    ).select(word_shingles("text", 3).alias("sh"))
    rows = [r["sh"] for r in df.collect()]
    assert rows == [[], [], ["a b c"], []]


def test_minhash_lsh_recall_and_precision(docs):
    """LSH candidates verified by exact Jaccard ⇒ precision 1.0
    (subset of the exact quadratic result); recall should be high at
    j≥0.5 given 16 bands × 4 rows."""
    exact = {
        (r["id1"], r["id2"])
        for r in TD.shingle_jaccard_pairs(docs, 0.5).collect()
    }
    lsh = {
        (r["id1"], r["id2"])
        for r in TD.minhash_lsh_pairs(docs, 0.5).collect()
    }
    assert lsh <= exact, f"LSH produced non-exact pairs: {lsh - exact}"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"recall {recall} ({len(lsh)}/{len(exact)})"


def test_simhash_pairs_sane(docs):
    """SimHash near-dups must share high token overlap: every pair at
    hamming ≤ 3 should also clear a loose exact-Jaccard bar."""
    sim = TD.simhash_pairs(docs, max_hamming=3)
    joined = sim.join(
        TD.token_jaccard_pairs(docs, 0.0).select("id1", "id2", "jaccard"),
        ["id1", "id2"],
        "left",
    )
    rows = joined.collect()
    if rows:
        low = [r for r in rows if (r["jaccard"] or 0.0) < 0.5]
        assert len(low) <= max(1, len(rows) // 10), (
            f"{len(low)}/{len(rows)} simhash pairs have jaccard < 0.5"
        )


def test_knn_lsh_recall(emb):
    """ANN top-5 should recover a solid fraction of brute-force top-5
    (near-orthogonal synthetic embeddings are the hard case; we bound
    recall loosely but require overlap)."""
    q = emb.where(F.col("vec_id") < 20)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucketed_topk(emb, q, k=5, n_planes=16, bands=8).collect()
    }
    recall = len(ann & bf) / len(bf)
    assert recall >= 0.3, f"ANN recall {recall}"


def test_brute_force_topk_rejects_queries_beyond_cap(spark):
    """4097 queries must raise, naming the 4096 cap — not silently
    answer only the first 4096 ids."""
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)], "vec_id bigint, embedding array<double>"
    )
    queries = spark.range(4097).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="more than 4096 queries"):
        brute_force_topk(corpus, queries, k=1)


def test_knn_ivf_recall(emb):
    """IVF probe of 8/32 cells (25% of corpus per query) must recover
    a solid fraction of brute-force top-5 even on near-orthogonal
    noise embeddings (measured 0.65 at sf0.01); output is
    deterministic (seeded k-means, driver-sorted sample)."""
    from sparklyclean_spark.operators.similarity.knn import ivf_topk

    q = emb.where(F.col("vec_id") < 20)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, q, k=5, n_cells=32, nprobe=8).collect()
    }
    recall = len(ivf & bf) / len(bf)
    assert recall >= 0.4, f"IVF recall {recall}"


def test_knn_ivf_recall_query_shape(spark):
    """The driver-registered in-plan recall query: one row per query
    vector, recall_at_5 in [0,1], mean bounded like the set-based gate
    above (same IVF config, nprobe 8/32)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["knn_ivf_recall"](spark, SF_DIR).collect()
    assert len(rows) == 10
    vals = [r["recall_at_5"] for r in rows]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert sum(vals) / len(vals) >= 0.4, f"mean IVF recall {sum(vals)/len(vals)}"


def test_embedding_lsh_pairs_recall(emb):
    """ANN pairs path: every emitted pair is cosine-verified (⊆ the
    exact quadratic result, identical cos values) and banding recall
    clears 0.8 on the hardest regime — matches barely above the null
    cosine distribution (measured 0.833 with r=8, B=96)."""
    from sparklyclean_spark.operators.similarity.knn import lsh_cosine_pairs

    exact = {
        (r["id1"], r["id2"]): r["cos"]
        for r in TD.embedding_cosine_pairs(emb, 0.3).collect()
    }
    lsh = {
        (r["id1"], r["id2"]): r["cos"]
        for r in lsh_cosine_pairs(emb, 0.3).collect()
    }
    assert set(lsh) <= set(exact), f"non-exact pairs: {set(lsh) - set(exact)}"
    assert all(lsh[k] == exact[k] for k in lsh), "cos values diverge from exact"
    recall = len(set(lsh) & set(exact)) / len(exact)
    assert recall >= 0.8, f"recall {recall} ({len(lsh)}/{len(exact)})"


def test_neardup_clusters_match_union_find(docs):
    """Min-label propagation must agree with a driver-side union-find
    over the same edge set, cover every document, and mark exactly the
    min-id member of each component canonical."""
    from sparklyclean_spark.operators.dedup.clusters import neardup_clusters

    edges = [
        (r["id1"], r["id2"]) for r in TD.shingle_jaccard_pairs(docs, 0.3).collect()
    ]
    got = {r["doc_id"]: (r["comp"], r["is_canonical"])
           for r in neardup_clusters(docs, 0.3).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    doc_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    roots: dict = {}
    for d in doc_ids:
        roots.setdefault(find(d), []).append(d)
    expected = {}
    for members in roots.values():
        comp = min(members)
        for d in members:
            expected[d] = (comp, d == comp)
    assert got == expected


def test_curate_corpus_status_ladder(spark):
    """All four dispositions on a hand-built corpus: too_short wins
    over everything, exact_dup beats near_dup, the min-id member of a
    near-dup component is kept, singletons are kept."""
    from sparklyclean_spark.operators.curation import curate_corpus

    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (1, base),                                   # canonical of comp {1,2,3}
        (2, base + "extra trailing words here now"), # near-dup of 1
        (3, base.upper()),                           # EXACT dup of 1 (case-folds)
        (4, "tiny doc"),                             # too_short
        (5, "a completely different document " * 8), # kept singleton
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["status"], r["comp"])
           for r in curate_corpus(df, min_tokens=10, threshold=0.3).collect()}
    assert got[1] == ("kept", 1)
    assert got[2] == ("near_dup", 1)
    assert got[3][0] == "exact_dup" and got[3][1] is None
    assert got[4][0] == "too_short" and got[4][1] is None
    assert got[5] == ("kept", 5)


def test_exact_dedup_idempotent(docs):
    d = TD.exact_dedup(docs)
    assert d.count() == d.select("fp").distinct().count()
    # no dups in this corpus: every group has n_dups = 0
    assert d.where(F.col("n_dups") > 0).count() == 0


def test_ngram_overlap_decontamination(spark):
    from sparklyclean_spark.operators.decontam import ngram_overlap

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # grams: "a b c","b c d" -> both in bench
            (2, "a b c x y"),      # grams: abc, bcx, cxy -> 1/3 match
            (3, "zz qq"),          # too short for 3-grams -> score 0
            (4, "p q r s"),        # disjoint from bench -> 0/2
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, "a b c d e")], "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_grams, r.n_matched, r.overlap_frac, r.contaminated)
        for r in ngram_overlap(docs, bench, n=3, threshold=0.5).collect()
    }
    assert got[1] == (2, 2, 1.0, True)
    assert got[2] == (3, 1, round(1 / 3, 4), False)
    assert got[3] == (0, 0, 0.0, False)
    assert got[4] == (2, 0, 0.0, False)


def test_ngram_overlap_plan_broadcasts_benchmark(spark):
    from sparklyclean_spark.operators.decontam import ngram_overlap
    from sparklyclean_spark.plans.audit import explain_formatted

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    plan = explain_formatted(ngram_overlap(docs, docs.limit(1), n=3))
    # benchmark gram set must ship as a broadcast, never shuffle the corpus
    # against it
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_repetition_signals_flags_repeats(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam ham"),   # top token 4/5
            (2, "a b c d e f g h"),           # all unique
            (3, ""),                          # empty -> zeros, not flagged
            (4, "x y x y x y x y"),           # top bigram "x y" 4/7
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in TA.repetition_signals(docs).collect()}
    assert got[1].repetitive and got[1].top_token_frac == 0.8
    assert not got[2].repetitive and got[2].uniq_token_frac == 1.0
    assert got[3].n_tokens == 0 and not got[3].repetitive
    assert got[4].repetitive and got[4].top_bigram_frac == round(4 / 7, 4)


def test_redact_pii_patterns_and_order(spark):
    from sparklyclean_spark.operators.pii import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a.b-c_d@sub.example.org now"),
            (2, "call 555-123-4567 or 555-999-0000"),
            (3, "host 192.168.001.255 up"),
            (4, "clean text, nothing to scrub 12.34"),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[1].redacted == "mail <EMAIL> now" and got[1].n_emails == 1
    # email scrubbed BEFORE the IP pass: the dotted domain never
    # half-matches the IPv4 pattern
    assert got[1].n_ips == 0 and "<IP>" not in got[1].redacted
    assert got[2].redacted == "call <PHONE> or <PHONE>" and got[2].n_phones == 2
    assert got[3].redacted == "host <IP> up" and got[3].n_ips == 1
    assert got[4].redacted == docs.collect()[3].text


def test_bpe_token_count_classes(spark):
    from sparklyclean_spark.functions.text import bpe_token_count

    df = spark.createDataFrame(
        [
            (1, "hello world"),        # 2 word tokens
            (2, "don't stop"),         # don | ' | t | _stop
            (3, "v2.0 costs $3,999!"), # v|2|.|0| costs| $|3|,|999|!
            (4, ""),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.n for r in df.select("doc_id", bpe_token_count("text").alias("n")).collect()}
    assert got[1] == 2
    assert got[2] == 4
    assert got[3] == 10
    assert got[4] == 0


def test_curate_corpus_lsh_subset_of_exact(docs):
    """LSH curation's edges are exact-verified (⊆ exact edges), so:
    per-doc status must agree with the exact pipeline everywhere
    except that LSH may miss near-dups (recall < 1) — i.e. every LSH
    'near_dup'/'exact_dup'/'too_short' is identical in the exact run,
    and any disagreement is LSH 'kept' where exact says 'near_dup'."""
    from sparklyclean_spark.operators.curation import curate_corpus, curate_corpus_lsh

    exact = {r.doc_id: r.status for r in curate_corpus(docs, 30, 0.3).collect()}
    lsh = {r.doc_id: r.status for r in curate_corpus_lsh(docs, 30, 0.3).collect()}
    assert set(exact) == set(lsh)
    for d, s in lsh.items():
        if s == exact[d]:
            continue
        assert (s, exact[d]) == ("kept", "near_dup"), (
            f"doc {d}: lsh={s} exact={exact[d]} — only missed-recall "
            "disagreements are legal"
        )
    # and the miss rate is bounded
    near_exact = {d for d, s in exact.items() if s == "near_dup"}
    if near_exact:
        hit = sum(1 for d in near_exact if lsh[d] == "near_dup")
        assert hit / len(near_exact) >= 0.8


def test_star_components_match_propagation_and_handle_deep_chains(spark):
    """large-star/small-star must agree with min-label propagation on
    random graphs AND converge on a 300-hop chain where propagation's
    25-round bound blows up (O(log^2) vs O(diameter))."""
    import random

    from sparklyclean_spark.operators.dedup.clusters import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    verts = spark.createDataFrame([(i,) for i in range(120)], "id bigint")
    edges = spark.createDataFrame(
        [(rng.randrange(120), rng.randrange(120)) for _ in range(150)],
        "id1 bigint, id2 bigint",
    )
    a = {r.id: r.comp for r in connected_components(edges, verts).collect()}
    b = {r.id: r.comp for r in connected_components_star(edges, verts).collect()}
    assert a == b

    chain_v = spark.createDataFrame([(i,) for i in range(300)], "id bigint")
    chain_e = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "id1 bigint, id2 bigint"
    )
    got = {r.comp for r in connected_components_star(chain_e, chain_v).collect()}
    assert got == {0}  # one component, labeled by the min id


def test_incremental_lsh_equals_full_cross_pairs(docs):
    """Shard-vs-indexed-corpus pairs must EQUAL the cross-set slice of
    full-corpus LSH (signatures are per-doc deterministic, so banding
    is identical) — with the identical verified jaccard values."""
    from sparklyclean_spark.operators.dedup.textdedup import (
        incremental_lsh_pairs,
        minhash_index,
        minhash_lsh_pairs,
    )

    corpus = docs.where(F.col("doc_id") % 10 != 0)
    shard = docs.where(F.col("doc_id") % 10 == 0)
    bands_df, sets_df = minhash_index(corpus)
    got = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in incremental_lsh_pairs(shard, bands_df, sets_df, 0.3).collect()
    }
    shard_ids = {r.doc_id for r in shard.select("doc_id").collect()}
    full = minhash_lsh_pairs(docs, 0.3).collect()
    want = {}
    for r in full:
        in1, in2 = r.id1 in shard_ids, r.id2 in shard_ids
        if in1 != in2:  # exactly one endpoint in the shard
            new, old = (r.id1, r.id2) if in1 else (r.id2, r.id1)
            want[(new, old)] = r.jaccard
    assert got == want


def test_common_ngram_pairs_semantics(spark):
    """min_shared gates pairs; the df cap excludes boilerplate grams
    even when two docs share many of them."""
    span = "alpha bravo charlie delta echo foxtrot golf"   # 3 distinct 5-grams
    boiler = "one two three four five"                     # 1 five-gram, in EVERY doc
    rows = [
        (1, f"{span} x"),
        (2, f"{span} y"),
        (3, "golf foxtrot echo delta charlie bravo alpha"),  # reversed: no shared grams
    ] + [(10 + i, f"{boiler} filler{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.id1, r.id2): r.shared_grams
        for r in TD.common_ngram_pairs(docs, n=5, min_shared=3, max_gram_df=4).collect()
    }
    # docs 1-2 share exactly the 3 five-grams inside the span
    assert got == {(1, 2): 3}

    # boilerplate gram sits in 6 docs > cap=4 -> never a candidate;
    # raising the cap (and lowering min_shared) surfaces those pairs
    relaxed = TD.common_ngram_pairs(docs, n=5, min_shared=1, max_gram_df=10)
    pairs = {(r.id1, r.id2) for r in relaxed.collect()}
    assert (10, 11) in pairs and (1, 2) in pairs


def test_prefix_jaccard_equals_quadratic(spark):
    """Prefix filtering (AllPairs/PPJoin) must reproduce the quadratic
    exact-Jaccard result set exactly, at several thresholds."""
    from sparklyclean_spark.operators.dedup.textdedup import (
        prefix_jaccard_pairs,
        token_jaccard_pairs,
    )
    from sparklyclean_spark.catalog import load_tables
    from sparklyclean_spark.plans.audit import has_nested_loop_join
    from tests.conftest import SF_DIR

    docs = load_tables(spark, SF_DIR)["documents"]
    for t in (0.5, 0.7, 0.9):
        fast = prefix_jaccard_pairs(docs, t)
        slow = token_jaccard_pairs(docs, t)
        got = {(r["id1"], r["id2"], r["jaccard"]) for r in fast.collect()}
        exp = {(r["id1"], r["id2"], r["jaccard"]) for r in slow.collect()}
        assert got == exp, (t, got ^ exp)
    assert not has_nested_loop_join(prefix_jaccard_pairs(docs, 0.7))


def test_prefix_jaccard_edge_docs(spark):
    """Singleton docs, identical docs, disjoint docs, and shared-rare
    -token docs behave exactly per the quadratic definition."""
    from sparklyclean_spark.operators.dedup.textdedup import (
        prefix_jaccard_pairs,
        token_jaccard_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),        # identical -> J=1.0
        (3, "alpha beta gamma epsilon"),      # J=0.6 with 1/2
        (4, "zeta"),                          # singleton
        (5, "zeta"),                          # identical singleton pair
        (6, "eta theta iota"),                # disjoint
        (7, ""),                              # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    for t in (0.5, 0.99):
        got = {(r["id1"], r["id2"]) for r in prefix_jaccard_pairs(docs, t).collect()}
        exp = {(r["id1"], r["id2"]) for r in token_jaccard_pairs(docs, t).collect()}
        assert got == exp, t


def test_bm25_matches_sequential_model(spark):
    """Differential test: BM25 scores vs a single-threaded Python
    implementation of the same Lucene-idf formula on a small corpus."""
    import math

    rows = [
        (1, "hash join hash join scan"),
        (2, "scan scan scan filter filter sort"),
        (3, "dup"),
        (4, "merge sort group order"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    q = ["hash", "scan", "dup"]
    got = {
        r["doc_id"]: (r["bm25"], r["n_terms_matched"])
        for r in TA.bm25_scores(docs, q, top_k=10).collect()
    }

    toks = {d: t.split() if t else [] for d, t in rows}
    n = len(rows)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {t: sum(1 for w in toks.values() if t in w) for t in q}
    exp = {}
    for d, words in toks.items():
        s, m = 0.0, 0
        for t in q:
            tf = words.count(t)
            if tf == 0:
                continue
            m += 1
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            norm = tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len(words) / avgdl))
            s += round(idf * norm, 6)
        if m:
            exp[d] = (round(s, 4), m)
    assert got == exp
    # ranking sanity: top-1 agrees with the sequential model's argmax
    top = TA.bm25_scores(docs, q, top_k=1).collect()[0]
    best = max(exp, key=lambda d: (exp[d][0], -d))
    assert top["doc_id"] == best


def test_out_of_order_stats_model(spark):
    """Disorder audit vs hand-computed regressions; in-order keys
    report zero late rows."""
    from datetime import datetime

    from sparklyclean_spark.operators.lateness import out_of_order_stats

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)
    rows = [
        # user 1: arrival 1,2,3 with ts 10, 5 (late by 5s), 20
        (1, 1, t(10)), (1, 2, t(5)), (1, 3, t(20)),
        # user 2: perfectly ordered
        (2, 1, t(1)), (2, 2, t(2)),
        # user 3: equal ts then older (late by 0? no - strictly less)
        (3, 1, t(7)), (3, 2, t(7)),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp_ntz"
    )
    out = {r["user_id"]: r for r in out_of_order_stats(df).collect()}
    assert out[1]["n_late"] == 1
    assert out[1]["max_regression_us"] == 5_000_000
    assert out[1]["late_frac"] == 0.3333
    assert out[2]["n_late"] == 0 and out[2]["max_regression_us"] == 0
    assert out[3]["n_late"] == 0  # equal ts is NOT a regression


def test_k_anonymity_audit_flags_small_groups(spark):
    from sparklyclean_spark.operators.pii import k_anonymity_audit

    rows = [("us", "a")] * 5 + [("us", "b")] * 2 + [("fr", "a")]
    df = spark.createDataFrame(rows, "nation string, seg string")
    out = {
        (r["nation"], r["seg"]): (r["group_n"], r["k_anonymous"])
        for r in k_anonymity_audit(df, ["nation", "seg"], k=3).collect()
    }
    assert out == {
        ("us", "a"): (5, True),
        ("us", "b"): (2, False),
        ("fr", "a"): (1, False),
    }


def test_key_profile_shares(spark):
    from sparklyclean_spark.operators.skew import key_profile

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)], "k string"
    )
    rows = key_profile(df, ["k"], top_n=2).collect()
    assert [(r["k"], r["cnt"], r["share"]) for r in rows] == [
        ("a", 6, 0.6),
        ("b", 3, 0.3),
    ]


def test_source_overlap_matrix_model(spark):
    """Shingle-overlap matrix vs hand-computed sets (n=2 for brevity)."""
    from sparklyclean_spark.operators.decontam import source_overlap_matrix

    rows = [
        (1, "s1", "a b c"),        # grams: {a b, b c}
        (2, "s2", "b c d"),        # grams: {b c, c d}
        (3, "s3", "x y"),          # grams: {x y}
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = {
        (r["src_a"], r["src_b"]): (r["n_shared"], r["n_a"], r["n_b"], r["jaccard"])
        for r in source_overlap_matrix(docs, n=2).collect()
    }
    # only s1-s2 share a gram ('b c'); jaccard = 1/(2+2-1).
    # Disjoint pairs appear as zero rows (r9 contract: the full
    # ordered source-pair grid, so consumers can tell disjoint
    # from missing)
    assert out == {
        ("s1", "s2"): (1, 2, 2, 0.3333),
        ("s1", "s3"): (0, 2, 1, 0.0),
        ("s2", "s3"): (0, 2, 1, 0.0),
    }


def test_unigram_cross_entropy_model(spark):
    """Cross-entropy vs a sequential Python model; rarer-token docs
    must score strictly higher."""
    import math

    rows = [
        (1, "a a a a"),      # all common
        (2, "a a rare1"),    # one rare token
        (3, "rare2 rare3"),  # all rare
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["cross_entropy"])
        for r in TA.unigram_cross_entropy(docs).collect()
    }
    toks = {d: t.split() for d, t in rows}
    allt = [w for t in toks.values() for w in t]
    total = len(allt)
    exp = {}
    for d, words in toks.items():
        lps = [round(math.log(allt.count(w) / total), 6) for w in words]
        exp[d] = (len(words), round(-sum(lps) / len(words), 4))
    assert got == exp
    assert got[1][1] < got[2][1] < got[3][1]


def test_pagerank_matches_power_iteration(spark):
    """PageRank vs a dense numpy power iteration on a hand graph with
    a dangling node and asymmetric degrees."""
    import numpy as np

    from sparklyclean_spark.operators.graph import pagerank

    # undirected edges: star 0-(1,2,3), chain 3-4; node 5 dangling
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (3, 4)], "id1 bigint, id2 bigint"
    )
    verts = spark.createDataFrame([(i,) for i in range(6)], "id bigint")
    got = {r["id"]: r["rank"] for r in pagerank(edges, verts, iters=20).collect()}

    n, d = 6, 0.85
    und = [(0, 1), (1, 0), (0, 2), (2, 0), (0, 3), (3, 0), (3, 4), (4, 3)]
    deg = {v: sum(1 for a, _ in und if a == v) for v in range(n)}
    r = np.full(n, 1.0 / n)
    for _ in range(20):
        nxt = np.full(n, (1 - d) / n)
        dm = sum(r[v] for v in range(n) if deg.get(v, 0) == 0)
        nxt += d * dm / n
        for a, b in und:
            nxt[b] += d * r[a] / deg[a]
        r = nxt
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the star hub must rank highest
    assert max(got, key=got.get) == 0


def test_pagerank_rejects_edge_to_absent_vertex(spark):
    """An edge naming a vertex outside ``vertices`` makes the dangling
    count negative; PageRank must raise instead of drifting."""
    import pytest

    from sparklyclean_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2)], "id1 bigint, id2 bigint")
    verts = spark.createDataFrame([(0,), (1,)], "id bigint")
    with pytest.raises(ValueError, match="at least 1 edge endpoint"):
        pagerank(edges, verts)


def test_weighted_sample_exact_k_model(spark):
    """A-ES exact-k sampler vs a sequential Python replay of the same
    md5-uniform + key arithmetic; exact quota per stratum."""
    import hashlib
    import math

    from sparklyclean_spark.operators import sampling as SP2

    rows = [(i, "g%d" % (i % 2), float(1 + i)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, g string, w double")
    out = SP2.weighted_sample_exact_k(
        df, F.col("w"), 3, "doc_id", by=["g"]
    ).collect()
    got = {(r["g"], r["doc_id"]) for r in out}
    assert len(out) == 6  # exact quota: 3 per stratum

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16)
        u = (h + 1) / float(16**13)
        return round(-math.log(u) / w, 10)

    exp = set()
    for g in ("g0", "g1"):
        members = [(key(i, w), i) for i, gg, w in rows if gg == g]
        for _, i in sorted(members)[:3]:
            exp.add((g, i))
    assert got == exp


def test_hash_ordered_sample_is_layout_independent(spark):
    """The IVF training sample must be a pure function of row data:
    identical under any partition layout, and id-sorted (the canonical
    k-means feed order). A bare limit() would return different subsets
    per layout (the r7 ADVICE finding this replaces)."""
    from sparklyclean_spark.operators.similarity.knn import _hash_ordered_sample

    df = spark.createDataFrame(
        [(i, float(i) * 0.5) for i in range(1000)], "id bigint, v double"
    )
    picks = []
    for parts in (1, 7, 64):
        rows = _hash_ordered_sample(df.repartition(parts), "id", 100)
        assert [r["id"] for r in rows] == sorted(r["id"] for r in rows)
        picks.append(tuple((r["id"], r["v"]) for r in rows))
    assert picks[0] == picks[1] == picks[2]
    assert len(picks[0]) == 100
    # md5 ordering spreads the sample over the id space, not the head
    ids = [i for i, _ in picks[0]]
    assert max(ids) > 900 and min(ids) < 100


def test_winnowing_fingerprints_contract(spark):
    """Selection rule, shift locality, and digest determinism of the
    winnowing fingerprint profile."""
    from sparklyclean_spark.operators.dedup.textdedup import (
        _md5_token_hash,
        winnowing_fingerprints,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " TAIL EDIT ZZZ"), (3, "short"),
         (4, base.upper())],  # lowercased first -> same as doc 1
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in winnowing_fingerprints(docs).collect()}
    # docs shorter than k are excluded by contract
    assert 3 not in out and len(out) == 3
    r1 = out[1]
    assert r1.n_grams == len(base) - 7
    assert 1 <= r1.n_fingerprints <= r1.n_grams
    # case-normalization: doc 4 is doc 1 upper-cased -> identical profile
    assert (r1.n_fingerprints, r1.fp_xor, r1.fp_min, r1.fp_max) == (
        out[4].n_fingerprints, out[4].fp_xor, out[4].fp_min, out[4].fp_max
    )
    # every selected hash is in [0, 2^63): the unsigned-order mask held
    assert r1.fp_min >= 0
    # shift locality: a tail edit cannot REMOVE head fingerprints — the
    # brute-force reference selection of the common prefix (minus the
    # last w-1 boundary-affected positions) must survive in doc 2
    import hashlib

    def ref_sel(text, k=8, w=4):
        s = text.lower()
        hs = [
            int(hashlib.md5(s[i:i + k].encode()).hexdigest()[:16], 16)
            & ((1 << 63) - 1)
            for i in range(len(s) - k + 1)
        ]
        return hs, {h for i, h in enumerate(hs) if h == min(hs[i:i + w])}

    hs1, sel1 = ref_sel(base)
    assert r1.n_fingerprints == len(sel1)
    import functools, operator
    assert r1.fp_xor == functools.reduce(operator.xor, sel1)
    assert r1.fp_min == min(sel1) and r1.fp_max == max(sel1)
    # head fingerprints (selection depends only on the next w-1 grams)
    head = {h for i, h in enumerate(hs1[: -(4 - 1)]) if h == min(hs1[i:i + 4])}
    _, sel2 = ref_sel(base + " TAIL EDIT ZZZ")
    assert head <= sel2


def test_winnowing_arrow_tier_bit_equal(spark):
    """The mapInPandas hot-path tier must be BIT-EQUAL to the
    declarative (oracle-contract) form: same rows, same values, on a
    corpus exercising the ASCII fast path, the per-gram non-ASCII
    path (zh + accents: char slicing, not byte slicing), mixed case
    (lowering must stay in Spark), repeated grams (the cache), and
    docs at/below the k boundary."""
    from sparklyclean_spark.operators.dedup.textdedup import (
        winnowing_fingerprints,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "ABC def GHI jkl " * 30),
        (3, "sevench"),  # len 7 < k=8 -> excluded by both tiers
        (4, "中文文本去重测试，中文文本去重测试，winnowing 指纹。"),
        (5, "café déjà-vu résumé naïve café déjà-vu résumé naïve over"),
        (6, None),
        (7, "exactly8"),  # len == k -> single gram, always selected
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    col = {r.doc_id: r for r in winnowing_fingerprints(docs).collect()}
    arr = {
        r.doc_id: r
        for r in winnowing_fingerprints(docs, tier="arrow").collect()
    }
    assert set(col) == set(arr) == {1, 2, 4, 5, 7}
    for did in col:
        assert col[did] == arr[did], f"doc {did}: {col[did]} != {arr[did]}"
    import pytest

    with pytest.raises(ValueError):
        winnowing_fingerprints(docs, tier="nope")


def test_winnowing_overlap_pairs_string_ids(spark):
    """String ids take the declarative fingerprint tier (the Arrow one
    declares ``id bigint``) and must yield the same pairs as the same
    corpus under integer ids."""
    from sparklyclean_spark.operators.dedup.textdedup import (
        winnowing_overlap_pairs,
    )

    shared = "a long literal passage copied verbatim between two documents "
    texts = [
        shared * 2 + "with its own ending",
        "another opening line, then " + shared * 2,
        "an unrelated document about something else entirely",
    ]
    ints = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    strs = spark.createDataFrame(
        [("abc"[i], t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    by_int = {
        ("abc"[r.id1], "abc"[r.id2], r.n_shared)
        for r in winnowing_overlap_pairs(ints).collect()
    }
    by_str = {tuple(r) for r in winnowing_overlap_pairs(strs).collect()}
    assert by_int and {(a, b) for a, b, _ in by_int} == {("a", "b")}
    assert by_str == by_int

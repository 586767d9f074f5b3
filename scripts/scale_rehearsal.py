"""Dis-Dedup flagship scale rehearsal at sf1-equivalent input (VERDICT r6
item 6): validate the W/k work bound empirically at 10x the per-round
bench scale.

The driver ships testdata only up to sf0.1, so the 10x input is built
deterministically FROM sf0.1 (ten key-shifted copies of customer —
blocking-attribute distributions, and therefore block-size skew, are
preserved exactly; pair work scales ~100x). This synthesized table is a
load rehearsal only — every correctness check still runs on the driver's
own parquet.

Measured quantities, mirroring the reference's published skew band
(/root/reference/README.md:193-197 — naive min 15s / max 3.4min task
skew at 20k records on 8x m4.2xlarge):

- wall-clock to enumerate the full candidate-pair universe
- per-reducer pair counts (with_cell_stats rid): max/median/min and the
  max/W-over-k ratio — the Dis-Dedup bound says max <= ~W/k + triangle
  quantization slack

r8 extension (VERDICT r7 item 4): the same 10x key-shifted-union
treatment for the text/ANN LSH scale paths — minhash_lsh_pairs over
10x documents and lsh_cosine_pairs over 10x embeddings. Copies carry
IDENTICAL text/vectors, so every original doc gains 9 exact clones:
a deliberately dup-heavy corpus where bucket sizes grow 10x and the
band-collision candidate stream ~100x — the adversarial regime for
an LSH plan. Measured per path: the candidate funnel (raw
band-collision stream with multiplicity -> deduped/prefiltered ->
verified output), the max single band-bucket's pair share vs a
perfect split (the skew metric), and wall-clock.

Usage:  python scripts/scale_rehearsal.py [copies] [k]
Prints one JSON line; paste the table into README.md when re-run.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

COPIES = int(sys.argv[1]) if len(sys.argv) > 1 else 10
K = int(sys.argv[2]) if len(sys.argv) > 2 else 199

spark = (
    SparkSession.builder.appName("disdedup-scale-rehearsal")
    .master("local[32]")
    .config("spark.sql.shuffle.partitions", "64")
    .config("spark.driver.memory", "48g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

import __spark_entry__ as E
from sparklyclean_spark.operators.dedup.blocking import BlockingRule
from sparklyclean_spark.operators.dedup.disdedup import candidate_pairs_disdedup

def _shifted_union(df, id_col: str, copies: int):
    """N key-shifted copies: identical non-key marginals -> the skew
    SHAPE is preserved exactly at N× rows (pair work ~N²×)."""
    out = None
    for i in range(copies):
        c = df.withColumn(id_col, F.col(id_col) + F.lit(i * 10_000_000))
        out = c if out is None else out.unionByName(c)
    return out.repartition(64).persist()


base = E._tables(spark, "/root/testdata/sf0.1")["customer"]
n_base = base.count()
sf1 = _shifted_union(base, "c_custkey", COPIES)
n = sf1.count()

results = {"rows": n, "base_rows": n_base, "copies": COPIES, "k": K}

for label, df, rules in (
    (
        "flagship",
        sf1,
        [BlockingRule(1, "c_nationkey"), BlockingRule(2, "c_mktsegment")],
    ),
    (
        "skewed_hot50",
        sf1.withColumn(
            "c_hotkey",
            F.when(F.col("c_custkey") % 2 == 0, F.lit(-1)).otherwise(
                F.col("c_nationkey")
            ),
        ),
        [BlockingRule(1, "c_hotkey")],
    ),
):
    t0 = time.time()
    pairs = candidate_pairs_disdedup(
        df, rules, "c_custkey", k=K, with_cell_stats=True
    )
    per_rid = pairs.groupBy("rid").agg(F.count(F.lit(1)).alias("w")).collect()
    wall = time.time() - t0
    ws = sorted(r["w"] for r in per_rid)
    total = sum(ws)
    results[label] = {
        "wall_sec": round(wall, 1),
        "total_pairs": total,
        "reducers": len(ws),
        "w_min": ws[0],
        "w_median": ws[len(ws) // 2],
        "w_max": ws[-1],
        "max_over_Wk": round(ws[-1] / (total / K), 3),
    }
    print(json.dumps({label: results[label]}), file=sys.stderr)


# ---- minhash LSH over 10x documents --------------------------------------
from sparklyclean_spark.operators.dedup.textdedup import (  # noqa: E402
    _band_table,
    _sig_table,
    minhash_lsh_pairs,
)

docs10 = _shifted_union(
    E._tables(spark, "/root/testdata/sf0.1")["documents"], "doc_id", COPIES
)
n_docs = docs10.count()
# wall times ONE full operator execution (a production run builds the
# signature table once); the funnel accounting below re-derives the
# bucket histogram OUTSIDE the timed window
t0 = time.time()
verified = minhash_lsh_pairs(docs10, 0.5).count()
wall = time.time() - t0
banded = _band_table(_sig_table(docs10, 3, 64, "doc_id", "text"), 16, 4)
bucket_sizes = (
    banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("s")).collect()
)
cand_mult = sum(r["s"] * (r["s"] - 1) // 2 for r in bucket_sizes)
max_bucket_pairs = max(r["s"] * (r["s"] - 1) // 2 for r in bucket_sizes)
results["minhash_lsh_10x_docs"] = {
    "wall_sec": round(wall, 1),
    "docs": n_docs,
    "band_collision_candidates": cand_mult,
    "verified_pairs": verified,
    "max_bucket_pair_share": round(max_bucket_pairs / max(cand_mult, 1), 4),
    "quadratic_equiv_pairs": n_docs * (n_docs - 1) // 2,
}
print(json.dumps({"minhash_lsh_10x_docs": results["minhash_lsh_10x_docs"]}), file=sys.stderr)

# ---- cosine LSH over 10x embeddings ---------------------------------------
from sparklyclean_spark.operators.similarity.knn import lsh_cosine_pairs  # noqa: E402

emb10 = _shifted_union(
    E._tables(spark, "/root/testdata/sf0.1")["embeddings"], "vec_id", COPIES
)
n_vecs = emb10.count()
# wall = ONE verified execution; the stage taps (each an independent
# re-execution of the funnel prefix) run outside the timed window
t0 = time.time()
ver = lsh_cosine_pairs(emb10, 0.5).count()
wall = time.time() - t0
raw = lsh_cosine_pairs(emb10, 0.5, stage="candidates").count()
pre = lsh_cosine_pairs(emb10, 0.5, stage="prefiltered").count()
results["cosine_lsh_10x_embeddings"] = {
    "wall_sec": round(wall, 1),
    "vectors": n_vecs,
    "band_collision_candidates": raw,
    "prefilter_survivors": pre,
    "verified_pairs": ver,
    "prefilter_kill_ratio": round(1.0 - pre / max(raw, 1), 4),
    "quadratic_equiv_pairs": n_vecs * (n_vecs - 1) // 2,
}
print(json.dumps({"cosine_lsh_10x_embeddings": results["cosine_lsh_10x_embeddings"]}), file=sys.stderr)


# ---- IVF-PQ over 10x embeddings (r9) ---------------------------------------
# the composed funnel's scale evidence: cells prune, ADC scores codes.
# wall = ONE full ivf_pq_topk execution (train + encode + score + top-k);
# funnel accounting (cell histogram -> per-query probed candidate mass)
# re-derives the prune ratio OUTSIDE the timed window, and recall is
# measured against the exact brute-force top-5 on the same 10x corpus.
import numpy as np  # noqa: E402

from sparklyclean_spark.operators.similarity.knn import (  # noqa: E402
    brute_force_topk,
    cell_assign_udf,
    train_ivf_centroids,
)
from sparklyclean_spark.operators.similarity.pq import ivf_pq_topk  # noqa: E402

q10 = emb10.where(F.col("vec_id") < 10)
t0 = time.time()
approx = ivf_pq_topk(emb10, q10, k=5, n_cells=32, nprobe=8).persist()
n_approx = approx.count()
wall = time.time() - t0
exact = brute_force_topk(emb10, q10, k=5).select("query_id", "neighbor_id")
hits = exact.join(
    approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
).count()
n_exact = exact.count()
# funnel: per-cell corpus sizes + each query's probed cells
c10 = emb10.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
cents = train_ivf_centroids(c10, 32, 1, 4096, 10, 647)
cell_sizes = {
    r["cell"]: r["s"]
    for r in c10.select(cell_assign_udf(cents, 1)(F.col("cv")).alias("cell"))
    .groupBy("cell").agg(F.count(F.lit(1)).alias("s")).collect()
}
qrows = q10.orderBy("vec_id").collect()
qx = np.array([r["embedding"] for r in qrows], dtype=np.float64)
qx = qx / np.clip(np.linalg.norm(qx, axis=1, keepdims=True), 1e-12, None)
sims = qx @ cents.T
adc_rows = sum(
    int(cell_sizes.get(int(c), 0))
    for qi in range(len(qrows))
    for c in np.argsort(-sims[qi])[:8]
)
results["ivf_pq_10x_embeddings"] = {
    "wall_sec": round(wall, 1),
    "vectors": n_vecs,
    "queries": len(qrows),
    "adc_scored_candidates": adc_rows,
    "exhaustive_adc_equiv": n_vecs * len(qrows),
    "prune_ratio": round(1.0 - adc_rows / max(n_vecs * len(qrows), 1), 4),
    "recall_at_5": round(hits / max(n_exact, 1), 4),
}
approx.unpersist()
print(json.dumps({"ivf_pq_10x_embeddings": results["ivf_pq_10x_embeddings"]}), file=sys.stderr)


# ---- residual IVF-PQ over 10x embeddings (r10) ------------------------------
# the fidelity tier's scale evidence: same funnel, residual codes. The
# prune funnel is identical by construction (same cells/probes), so the
# arm records wall + recall vs the SAME exact top-5, demonstrating the
# recall gain survives 10x (the 100-query claim at shipped SFs).
from sparklyclean_spark.operators.similarity.pq import ivf_pq_residual_topk  # noqa: E402

q100 = emb10.where(F.col("vec_id") < 100)
exact100 = brute_force_topk(emb10, q100, k=5).select("query_id", "neighbor_id").persist()
n_exact100 = exact100.count()
arms = {}
for label, fn in (("raw", ivf_pq_topk), ("residual", ivf_pq_residual_topk)):
    t0 = time.time()
    a = fn(emb10, q100, k=5, n_cells=32, nprobe=8).persist()
    a.count()
    w = time.time() - t0
    h = exact100.join(a.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]).count()
    a.unpersist()
    arms[label] = {"wall_sec": round(w, 1), "recall_at_5": round(h / max(n_exact100, 1), 4)}
results["ivf_pq_residual_10x_embeddings"] = {
    "vectors": n_vecs,
    "queries": 100,
    **{f"{k}_{m}": v[m] for k, v in arms.items() for m in ("wall_sec", "recall_at_5")},
}
print(json.dumps({"ivf_pq_residual_10x_embeddings": results["ivf_pq_residual_10x_embeddings"]}), file=sys.stderr)

# ---- refine tier over 10x embeddings (r11) ---------------------------------
# the re-rank rung's scale evidence: same residual funnel, then exact
# cosine over ONLY the top-R candidate stream. Recall vs the SAME
# persisted exact top-5 as the raw/residual arms (r11 review finding:
# a second brute-force pass over the 10x corpus was pure waste); wall
# is one full refine execution.
from sparklyclean_spark.operators.similarity.pq import ivf_pq_refine_topk  # noqa: E402

t0 = time.time()
a = ivf_pq_refine_topk(emb10, q100, k=5, refine_r=40, n_cells=32, nprobe=8).persist()
a.count()
w = time.time() - t0
h = exact100.join(a.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]).count()
a.unpersist()
exact100.unpersist()
results["ivf_pq_refine_10x_embeddings"] = {
    "vectors": n_vecs,
    "queries": 100,
    "refine_r": 40,
    "wall_sec": round(w, 1),
    "recall_at_5": round(h / max(n_exact100, 1), 4),
}
print(json.dumps({"ivf_pq_refine_10x_embeddings": results["ivf_pq_refine_10x_embeddings"]}), file=sys.stderr)


# ---- SemDeDup PQ funnel stage taps (r11) ------------------------------------
# VERDICT r10 item 7: the funnel's measured pruning at bench scale.
# Two corpora, both 2,000 vectors:
#  - the sf0.1 embeddings at the driver threshold — near-uniform, the
#    prefilter's WORST case: per-vector quantization error is large
#    (rpq MSE ~0.7), so the triangle-inequality bound admits nearly
#    everything (kill ≈ 0) and the funnel degrades to the baseline
#    plus one cheap code pass — never a wrong answer, just no win;
#  - a clustered corpus in SemDeDup's actual regime (arXiv:2303.09540
#    §3: most mass near few directions): 16 tight clusters under 4
#    coarse cells, so each cell holds ~4 dissimilar clusters and the
#    ks=16 codebook RESOLVES them (e small vs inter-cluster distance)
#    — the regime where the bound bites. Pruning requires exactly
#    this: cells coarser than the dup-group structure AND a codebook
#    tight enough to separate groups; both hold on real crawl
#    embeddings at production cell counts.
# wall = one full dispositions execution; the stage taps re-execute
# the funnel prefix OUTSIDE the timed window.
import random  # noqa: E402

from sparklyclean_spark.operators.similarity.semdedup import (  # noqa: E402
    semdedup_dispositions_pq,
)

emb_sf = E._tables(spark, "/root/testdata/sf0.1")["embeddings"]
rng = random.Random(647)
crows = []
for c in range(16):
    base_v = [rng.uniform(-1, 1) for _ in range(64)]
    for i in range(125):
        crows.append(
            (c * 1000 + i, [b + rng.uniform(-0.02, 0.02) for b in base_v])
        )
clustered = spark.createDataFrame(
    crows, "vec_id bigint, embedding array<double>"
).repartition(32).persist()
clustered.count()

for label, corpus, thr, kw in (
    ("semdedup_funnel_sf01", emb_sf, 0.35, {}),
    ("semdedup_funnel_clustered", clustered, 0.92, {"n_cells": 4, "ks": 16}),
):
    t0 = time.time()
    out = semdedup_dispositions_pq(corpus, thr, **kw)
    n_dups = out.where("is_dup").count()
    wall = time.time() - t0
    cellmates = semdedup_dispositions_pq(
        corpus, thr, stage="cellmates", **kw
    ).count()
    pref = semdedup_dispositions_pq(
        corpus, thr, stage="prefiltered", **kw
    ).count()
    results[label] = {
        "vectors": corpus.count(),
        "threshold": thr,
        "cellmate_pairs": cellmates,
        "prefiltered_pairs": pref,
        "dup_rows": n_dups,
        "prefilter_kill_ratio": round(1.0 - pref / max(cellmates, 1), 4),
        "wall_sec": round(wall, 1),
    }
    print(json.dumps({label: results[label]}), file=sys.stderr)



# ---- driver-side BPE trainer at a production 32k budget (r12) ---------------
# VERDICT r11 item 8: bpe_merge_local_256 proved the shape; this arm
# runs the SAME driver heap trainer at the budget real tokenizers use
# (32,768 merges) over the sf0.1 documents corpus and records wall +
# peak driver RSS next to the dedup rehearsal — the r10-item-5 claim
# ("seconds of driver time at a production budget") made a number.
# The word-freq collect is O(|vocab|) regardless of corpus bytes; if
# the corpus's pair supply exhausts before 32k the trainer stops and
# merges_produced records the honest count.
from sparklyclean_spark.operators.text_analysis import bpe_merge_table_local  # noqa: E402


def _current_rss_mb() -> float:
    """CURRENT resident set from /proc/self/statm — ru_maxrss is the
    process-LIFETIME peak, which in this multi-arm script attributes
    whichever earlier arm peaked highest to the arm being measured
    (r12 review finding). Before/after current-RSS readings bound the
    arm's own footprint; the standalone fresh-process run recorded in
    README is the clean peak measurement."""
    import os

    with open("/proc/self/statm") as fh:
        pages = int(fh.read().split()[1])
    return pages * os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


docs_sf = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
rss0_mb = _current_rss_mb()
t0 = time.time()
bpe32k = bpe_merge_table_local(docs_sf, n_merges=32768)
n_merges_out = bpe32k.count()
wall = time.time() - t0
rss1_mb = _current_rss_mb()
results["bpe_trainer_32k_sf01"] = {
    "merge_budget": 32768,
    "merges_produced": int(n_merges_out),
    "wall_sec": round(wall, 1),
    "rss_before_mb": round(rss0_mb, 1),
    "rss_after_mb": round(rss1_mb, 1),
}
print(json.dumps({"bpe_trainer_32k_sf01": results["bpe_trainer_32k_sf01"]}), file=sys.stderr)

# the synthetic corpus's 31-word vocab exhausts pair supply after ~89
# merges, so the arm above proves exhaustion handling, not the budget.
# This arm salts each word by doc_id % 4096 (vocab -> ~127k word
# types, the word-freq table a real crawl shard produces at the same
# token count) and drives the loop through the FULL 32,768 merges.
from sparklyclean_spark.functions import text as T  # noqa: E402

salted = docs_sf.select(
    "doc_id",
    F.concat_ws(
        " ",
        F.transform(
            T.words("text"),
            lambda w: F.concat(
                w, F.lit("_"), (F.col("doc_id") % 4096).cast("string")
            ),
        ),
    ).alias("text"),
)
rss0_mb = _current_rss_mb()
t0 = time.time()
n_merges_out = bpe_merge_table_local(salted, n_merges=32768).count()
wall = time.time() - t0
rss1_mb = _current_rss_mb()
results["bpe_trainer_32k_salted_vocab"] = {
    "merge_budget": 32768,
    "merges_produced": int(n_merges_out),
    "wall_sec": round(wall, 1),
    "rss_before_mb": round(rss0_mb, 1),
    "rss_after_mb": round(rss1_mb, 1),
}
print(json.dumps({"bpe_trainer_32k_salted_vocab": results["bpe_trainer_32k_salted_vocab"]}), file=sys.stderr)

print(json.dumps(results))

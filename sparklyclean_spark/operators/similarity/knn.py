"""Approximate & exact nearest-neighbor search over embeddings.

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against the corpus; one scan, no quadratic blow-up in the
  corpus. The 100 TB pattern: queries are broadcast, corpus partitions
  stream, and the combine is a SALTED two-round top-k (round 1 bounds
  any one task at ~candidates/n_salts rows, round 2 sees n_salts*k per
  query) — a plain per-query window would drain every candidate of a
  query into one reducer. Vectors are projected out before the top-k
  shuffle; only (query_id, neighbor_id, cos) ever moves.
* ``lsh_bucketed_topk`` — random-hyperplane LSH (sign sketch):
  deterministic pseudo-random hyperplanes derived from xxhash64 of
  (dimension, plane) — no stored model, reproducible across runs.
  Candidates = same-bucket in any band, then exact cosine re-rank.
  Linear candidate generation; recall tunable via planes/bands.
* ``lsh_cosine_pairs`` — ANN near-dup PAIRS over one table (the
  self-join form): band self-join for candidates → JVM-side Hamming
  prefilter on the full packed signature → exact-cosine verify on the
  survivors. Replaces the all-pairs quadratic join as the scale path.
* ``ivf_topk`` — inverted-file ANN: spherical k-means coarse
  quantizer trained on a bounded deterministic sample (driver-side —
  the standard IVF pattern; the index is a tiny centroid matrix, not
  per-row state), cells assigned by one matmul per Arrow batch,
  queries probe their ``nprobe`` nearest cells via a cell equi-join.
  Per-query work ≈ corpus × nprobe / n_cells instead of the full scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklyclean_spark.cache import tracked_persist
from sparklyclean_spark.functions.vectors import _c, cosine_pandas

_QUERY_CAP = 4096  # brute_force_topk's query set, collected to the driver


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Returns (query_id, neighbor_id, cos, rank). Tie-break by
    neighbor_id for a total order. The bounded query set rides along
    in the score function's closure: more than 4096 queries raise
    ``ValueError`` (the pq query_cap guard class). The corpus is
    scanned once regardless of |queries| and raw corpus vectors cross
    the Python boundary exactly once.
    """
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    q = queries.select(F.col(qid).alias("query_id"), F.col(qvec).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))

    # r12 optimization (guide §4.1/§8): the r5-r11 shape broadcast-
    # joined queries×corpus BEFORE the Python boundary, so BOTH raw
    # vectors crossed Arrow once per PAIR — |corpus|·|queries|·2·dim
    # doubles of traffic to compute 3-column score rows. The query set
    # is bounded (every caller passes ≤ ~100; the cap below is the
    # pq_topk query_cap guard class), so collect it once, ship the
    # (|q|×dim) matrix to each task in the function closure, and score
    # every corpus batch against ALL queries in one numpy pass: corpus
    # vectors cross the boundary exactly once, and only (query_id,
    # neighbor_id, cos_raw) rows come back. Numerics are BIT-IDENTICAL
    # to the per-pair pandas UDF: np.einsum("ij,kj->ik") (no optimize)
    # and the per-pair "ij,ij->i" both reduce j sequentially in C, and
    # the factored norms are the same np.linalg.norm values (verified
    # array_equal on random data) — so the oracled rows' hashes are
    # unchanged.
    import numpy as np

    q_rows = q.orderBy("query_id").limit(_QUERY_CAP + 1).collect()
    if len(q_rows) > _QUERY_CAP:
        raise ValueError(f"more than {_QUERY_CAP} queries (brute_force_topk's cap): split them")
    qid_type = q.schema["query_id"].dataType.simpleString()
    nid_type = c.schema["neighbor_id"].dataType.simpleString()
    qids = [r["query_id"] for r in q_rows]
    qx = np.array([r["qv"] for r in q_rows], dtype=np.float64)
    qnorm = np.linalg.norm(qx, axis=1) if len(q_rows) else None

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf) or not len(qids):
                continue
            cx = np.asarray(pdf[pdf.columns[1]].tolist(), dtype=np.float64)
            num = np.einsum("ij,kj->ik", cx, qx)
            den = np.linalg.norm(cx, axis=1)[:, None] * qnorm[None, :]
            cos = np.where(den == 0.0, 0.0, num / np.where(den == 0.0, 1.0, den))
            nid = pdf[pdf.columns[0]].to_numpy()
            out = pd.DataFrame(
                {
                    "query_id": np.tile(qids, len(pdf)),
                    "neighbor_id": np.repeat(nid, len(qids)),
                    "cos_raw": cos.ravel(),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    scored = c.mapInPandas(
        score,
        f"query_id {qid_type}, neighbor_id {nid_type}, cos_raw double",
    )
    return _topk_select(scored, k)


def _topk_select(scored: DataFrame, k: int) -> DataFrame:
    """Shared final stage of every kNN path: per-query top-k over
    (query_id, neighbor_id, cos_raw) via the SALTED two-round window
    (``operators/skew.py``). A direct ``row_number`` window sends
    EVERY candidate of a query to one reducer — at 100 TB corpus
    scale that is |corpus| (brute force) or |corpus|·nprobe/n_cells
    (IVF) rows in a single straggler task per query. Salting bounds
    round 1 at ~candidates/n_salts per task and round 2 at
    n_salts·k rows per query. The output is identical to the direct
    window (the (cos desc, neighbor_id) order is total)."""
    from sparklyclean_spark.operators.skew import salted_topk

    topk = salted_topk(
        scored, ["query_id"], [F.desc("cos_raw"), F.asc("neighbor_id")], k
    )
    return topk.select(
        "query_id",
        "neighbor_id",
        F.round("cos_raw", 4).alias("cos"),
        F.col("rn").cast("int").alias("rank"),
    )


def _rademacher_planes(n_planes: int, dim: int):
    """Deterministic ±1 hyperplane matrix (dim × n_planes) derived
    from a splitmix64 stream — a valid random-projection family,
    reproducible across runs/workers with no stored model."""
    import numpy as np

    x = np.arange(1, n_planes * dim + 1, dtype=np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return (2.0 * (x & np.uint64(1)).astype(np.float64) - 1.0).reshape(dim, n_planes)


def signature_bits(vec, n_planes: int, dim: int) -> F.Column:
    """array<int> of hyperplane signs — the sign sketch. One Arrow
    batch = one (rows × dim) @ (dim × n_planes) matmul; the per-plane
    higher-order-function formulation is interpreted per element and
    ~100× slower."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    planes = _rademacher_planes(n_planes, dim)

    def impl(vs):
        m = np.asarray(vs.tolist(), dtype=np.float64)
        bits = (m @ planes >= 0).astype(np.int32)
        return pd.Series(list(bits))

    return pandas_udf(impl, "array<int>")(_c(vec))


def signature_words(vec, n_planes: int, dim: int) -> F.Column:
    """array<bigint> of packed sign bits (n_planes/64 words, little-
    endian bit order). One Arrow batch = one (rows × dim) @
    (dim × n_planes) matmul + a packbits — same plane family as
    ``signature_bits`` but 64× denser, so the band join and the
    Hamming prefilter both stay JVM-cheap."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    planes = _rademacher_planes(n_planes, dim)

    def impl(vs):
        m = np.asarray(vs.tolist(), dtype=np.float64)
        bits = (m @ planes >= 0).astype(np.uint8)
        words = (
            np.packbits(bits, axis=1, bitorder="little")
            .view(np.int64)
        )
        return pd.Series(list(words))

    return pandas_udf(impl, "array<bigint>")(_c(vec))


def lsh_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    n_planes: int = 768,
    bands: int = 96,
    dim: int = 64,
    hamming_slack: float = 3.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stage: str = "verified",
) -> DataFrame:
    """ANN near-dup pairs: all (id1 < id2) with cosine ≥ threshold,
    found WITHOUT the quadratic all-pairs join.

    Three-stage plan, every stage linear-ish in corpus size:

    1. **Sign sketch** — one pandas-UDF matmul per Arrow batch packs
       n_planes hyperplane signs into n_planes/64 bigints.
    2. **Band self-join** — each vector explodes to ``bands`` rows of
       (band, r-bit bucket, id); candidates are same-bucket pairs.
       The join carries only (band, bucket, id) — no payload.
    3. **Hamming prefilter, then exact verify** — candidates join the
       packed signatures and are filtered JVM-side by
       ``sum(bit_count(xor(word_i)))`` ≤ cutoff, where cutoff =
       E[hamming at cos=threshold] + slack·σ. Sign-bit agreement
       concentrates (Binomial, σ = √n_planes/2), so the prefilter
       passes ~all true pairs and kills most band-collision noise
       before the (Python-side) exact cosine runs. Only survivors pay
       the vector join + cosine.

    Recall < 1 by construction (banding); precision is exact (every
    emitted pair is cosine-verified). Defaults (r=8, B=96) measure
    recall ≈ 0.83 at threshold 0.3 on the synthetic embeddings — the
    hardest regime, matches barely above the null cosine
    distribution; real near-dup corpora (cos ≥ 0.8) need far fewer
    planes. ``embedding_cosine_pairs`` (textdedup.py) remains the
    exact oracle path at verification scale.

    ``stage`` taps the funnel for instrumentation (the sf1 scale
    rehearsal measures the candidate stream before/after the
    prefilter): "candidates" returns the raw band-collision pair
    stream (with multi-band multiplicity — the exchange that
    matters), "prefiltered" the deduped Hamming survivors,
    "verified" (default) the cosine-checked output.
    """
    if stage not in ("candidates", "prefiltered", "verified"):
        raise ValueError(f"unknown stage {stage!r}")
    if n_planes % bands != 0:
        raise ValueError("n_planes must be divisible by bands")
    r = n_planes // bands
    if 64 % r != 0:
        raise ValueError("rows-per-band must divide 64 (word-aligned buckets)")
    n_words = (n_planes + 63) // 64

    e = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # signatures feed the band explode AND the hamming join — persist
    # and materialize once (see cache.release_caches for cleanup).
    sig = tracked_persist(
        e.select("id", signature_words(F.col("v"), n_planes, dim).alias("w"))
    )
    sig.count()

    def bucket(b: int, col: str = "w") -> F.Column:
        word, shift = (b * r) // 64, (b * r) % 64
        return (
            F.shiftrightunsigned(F.element_at(col, word + 1), shift)
            .bitwiseAND(F.lit((1 << r) - 1))
            .cast("int")
        )

    # r12: posexplode of a plain int-bucket array instead of explode of
    # (band, bucket) structs — the struct wrap/unwrap dominated the
    # render (measured: banded pass 0.33→0.25 s, candidate self-join
    # 0.98→0.57 s at sf0.1, identical pair counts); pos IS the band.
    banded = sig.select(
        "id",
        F.posexplode(F.array(*[bucket(b) for b in range(bands)])).alias(
            "band", "bucket"
        ),
    )
    # NOTE deliberately NO dropDuplicates here: deduping the full
    # band-collision stream was the single largest exchange in the plan
    # (r6 bench pathology) — at corpus scale the signature table cannot
    # broadcast, so the id joins below already shuffle the candidate
    # stream; an extra pre-join dedup pass repeats that full-stream
    # exchange just to drop multi-band duplicates (overwhelmingly true
    # near-dups, a small set). Duplicates are removed after the Hamming
    # prefilter instead, where the stream is orders of magnitude smaller.
    # (A map-side min-band emit guard was also measured — recomputing
    # per-band bucket equality from the packed words — but the 96-term
    # comparison expression costs more CPU per candidate row than the
    # small post-filter dedup exchange saves.)
    cands = (
        banded.select("band", "bucket", F.col("id").alias("id1"))
        .join(banded.select("band", "bucket", F.col("id").alias("id2")), ["band", "bucket"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )
    if stage == "candidates":
        return cands

    # Hamming prefilter: pure codegen (element_at + xor + bit_count),
    # carries n_planes/8 bytes per side — no vectors, no Python.
    cutoff = math.ceil(
        n_planes * (math.acos(threshold) / math.pi)
        + hamming_slack * math.sqrt(n_planes) / 2.0
    )
    hamming = sum(
        F.bit_count(
            F.element_at("w1", i + 1).bitwiseXOR(F.element_at("w2", i + 1))
        )
        for i in range(n_words)
    )
    passed = (
        cands.join(sig.select(F.col("id").alias("id1"), F.col("w").alias("w1")), "id1")
        .join(sig.select(F.col("id").alias("id2"), F.col("w").alias("w2")), "id2")
        .where(hamming <= F.lit(cutoff))
        .select("id1", "id2")
        # exactly-once: dedup multi-band collisions AFTER the prefilter,
        # where the stream is survivors-only (vs the full candidate
        # stream, the r6 bottleneck exchange)
        .dropDuplicates(["id1", "id2"])
    )
    if stage == "prefiltered":
        return passed

    # Exact verify on survivors only: vector join + Arrow-batched cosine.
    verified = (
        passed.join(e.select(F.col("id").alias("id1"), F.col("v").alias("v1")), "id1")
        .join(e.select(F.col("id").alias("id2"), F.col("v").alias("v2")), "id2")
        # single_eval: the threshold filter otherwise duplicates the
        # cosine ArrowEvalPython below itself (guide §4.4; measured —
        # plan nodes 47+50 in the r12 before-plan)
        .withColumn(
            "cos", cosine_pandas(F.col("v1"), F.col("v2"), single_eval=True)
        )
        .where(F.col("cos") >= threshold)
    )
    return verified.select("id1", "id2", F.round("cos", 4).alias("cos"))


def _unit(x):
    """Row-wise L2 normalization of a (rows x dim) float64 matrix; norms
    are clipped at 1e-12, so zero rows stay zero instead of NaN."""
    import numpy as np

    return x / np.clip(np.linalg.norm(x, axis=1, keepdims=True), 1e-12, None)


def _top_cells(x, cents, top: int):
    """(rows x top) cell ids of each row's ``top`` most similar
    centroids, by descending ``x @ cents.T``. kind='stable': an exact
    float tie must break toward the LOWEST cell id, exactly like the
    oracle's ORDER BY sim DESC, cell ASC (default quicksort is not
    stable — r9 advisor finding)."""
    import numpy as np

    return np.argsort(-(x @ cents.T), axis=1, kind="stable")[:, :top]


def _spherical_kmeans(x, n_cells: int, iters: int = 10, seed: int = 647):
    """Driver-side spherical k-means (Lloyd on the unit sphere) over a
    bounded sample — the coarse quantizer of an IVF index. Seeded init,
    empty cells keep their previous centroid: fully deterministic."""
    import numpy as np

    if not len(x):
        # same contract as pq.codebooks_from_vectors (r10 review): an
        # empty corpus/sample must fail loudly, not as an opaque
        # rng.choice IndexError three frames down
        raise ValueError("empty training sample: IVF centroids need >= 1 vector")
    x = _unit(x)
    rng = np.random.RandomState(seed)
    n_cells = min(n_cells, len(x))
    cents = x[rng.choice(len(x), size=n_cells, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(n_cells):
            pts = x[assign == c]
            if len(pts):
                m = pts.sum(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    cents[c] = m / nrm
    return cents


def _hash_ordered_sample(df: DataFrame, id_col: str, cap: int) -> list:
    """Collect a bounded, deterministic, layout-independent training
    sample: the ``cap`` rows with the smallest ``md5(id)`` (id as the
    tiebreak for total order). Membership is a pure function of row
    data — a bare ``limit`` without an order returns an arbitrary
    partition-layout-dependent subset, so a repartitioned corpus would
    silently train different centroids. The ordered limit plans as
    TakeOrderedAndProject (each task keeps ``cap`` rows, the driver
    merges) — no global sort, safe at any corpus size — and the md5
    ordering spreads the sample uniformly over the id space instead of
    biasing to the lowest ids. Rows are returned id-sorted, the
    canonical feed order for the seeded k-means."""
    rows = (
        df.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(cap)
        .collect()
    )
    rows.sort(key=lambda r: r[id_col])
    return rows


def train_ivf_centroids(
    c: DataFrame,
    n_cells: int = 32,
    sample_mod: int = 1,
    sample_cap: int = 4096,
    iters: int = 10,
    seed: int = 647,
    id_col: str = "neighbor_id",
    vec_col: str = "cv",
):
    """Shared IVF trainer (extracted from ivf_topk for the IVF-PQ
    composition): hash-ordered layout-independent sample -> seeded
    spherical k-means. Returns the (n_cells x dim) numpy matrix."""
    import numpy as np

    samp = (
        c if sample_mod <= 1 else c.where(F.xxhash64(id_col) % sample_mod == 0)
    )
    rows = _hash_ordered_sample(samp, id_col, sample_cap)
    x = np.array([r[vec_col] for r in rows], dtype=np.float64)
    return _spherical_kmeans(x, n_cells, iters, seed)


def cell_assign_udf(cents, top: int, single_eval: bool = False):
    """Arrow-batched coarse-quantizer assignment (extracted from
    ivf_topk): normalize, one matmul against the centroid matrix,
    argmax (top=1, ties -> lowest cell) or the top-``top`` cells by
    descending similarity."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    def impl(vs):
        m = _unit(np.asarray(vs.tolist(), dtype=np.float64))
        if top == 1:
            return pd.Series(np.argmax(m @ cents.T, axis=1).astype(np.int32))
        return pd.Series(list(_top_cells(m, cents, top).astype(np.int32)))

    # ``single_eval=True`` marks the UDF nondeterministic (guide
    # §4.4): consumers that JOIN on the assigned cell get the join's
    # inferred isnotnull(cell) filter pushed below this projection by
    # DUPLICATING the UDF — knn_ivf_cosine's plan showed the full
    # matmul assignment twice on BOTH join sides. The function is
    # pure; the mark only removes the optimizer's license to copy it.
    # It must stay False when the OUTPUT IS PERSISTED (semdedup's enc
    # table): a nondeterministic expression defeats the CacheManager's
    # sameResult matching, so every consumer of the cached relation
    # silently recomputes the assignment instead of reading the cache
    # (measured: semdedup_pq_funnel's plan grew 13 -> 22 Python nodes
    # with a blanket mark).
    f = pandas_udf(impl, "int" if top == 1 else "array<int>")
    return f.asNondeterministic() if single_eval else f


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 32,
    nprobe: int = 8,
    sample_mod: int = 1,
    sample_cap: int = 4096,
    iters: int = 10,
    seed: int = 647,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: coarse-quantize the corpus into ``n_cells``
    Voronoi cells, probe each query's ``nprobe`` nearest cells, exact
    cosine re-rank inside them. Returns (query_id, neighbor_id, cos,
    rank) like ``brute_force_topk``.

    Scale shape: training reads ONE sample scan whose membership is a
    pure function of row DATA — the ``sample_cap`` ids with the
    smallest ``md5(id)`` (a hash-ordered top-k: each task keeps at
    most ``sample_cap`` rows, the driver merges — never a full sort,
    and never the layout-dependent bare ``limit``). Set
    ``sample_mod`` > 1 to pre-thin the scan with a Spark-side
    ``xxhash64 % mod`` filter at corpus scale. The index is just the
    (n_cells × dim) centroid matrix shipped in the UDF closure — no
    per-row model state. Cell assignment is one matmul per Arrow
    batch; the probe is a broadcast equi-join on cell, so per-query
    candidate work is ≈ |corpus| × nprobe / n_cells instead of a full
    scan. Recall < 1 by construction (a true neighbor may live in an
    unprobed cell); pair with ``brute_force_topk`` to measure.
    """
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))

    cents = train_ivf_centroids(c, n_cells, sample_mod, sample_cap, iters, seed)

    # single_eval: both sides join on the assigned cell and nothing
    # here is persisted — see cell_assign_udf for the trade-off
    cc = c.withColumn("cell", cell_assign_udf(cents, 1, single_eval=True)(F.col("cv")))
    qq = (
        q.withColumn(
            "cells",
            cell_assign_udf(cents, min(nprobe, len(cents)), single_eval=True)(
                F.col("qv")
            ),
        )
        .select("query_id", "qv", F.explode("cells").alias("cell"))
    )
    cands = (
        F.broadcast(qq)
        .join(cc, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", cosine_pandas(F.col("qv"), F.col("cv")))
        # each corpus vector lives in exactly ONE cell (top=1 assign),
        # so (query, neighbor) pairs are already unique across probes
        .select("query_id", "neighbor_id", "cos_raw")
    )
    return _topk_select(cands, k)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: sign-sketch band buckets → candidate join → exact
    cosine re-rank. Recall < 1 by construction; pair with
    ``brute_force_topk`` on a sample to measure it."""
    if n_planes % bands:
        # r10 review: a non-divisible (n_planes, bands) silently
        # DROPPED the trailing planes from every bucket (rows*bands <
        # n_planes), quietly degrading recall with no error
        raise ValueError(f"n_planes {n_planes} not divisible by bands={bands}")
    rows = n_planes // bands
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c_sig = c.withColumn("bits", signature_bits(F.col("cv"), n_planes, dim))
    q_sig = q.withColumn("bits", signature_bits(F.col("qv"), n_planes, dim))

    def banded(df, idc, vecc):
        # r12: pack each band's sign bits into an INT bucket instead of
        # a concat_ws string, emitted via posexplode (pos IS the band).
        # Bucket values only define candidate equality classes and two
        # rows agree on the packed int iff they agree on every bit —
        # identical classes, identical candidates, identical output;
        # the join key drops from a string to 4 bytes.
        return df.select(
            idc,
            vecc,
            F.posexplode(
                F.array(
                    *[
                        sum(
                            F.element_at("bits", b * rows + r + 1)
                            * F.lit(1 << (rows - 1 - r))
                            for r in range(rows)
                        ).cast("int")
                        for b in range(bands)
                    ]
                )
            ).alias("band", "bucket"),
        )

    cb = banded(c_sig, "neighbor_id", "cv")
    qb = banded(q_sig, "query_id", "qv")
    cands = (
        qb.join(cb, ["band", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos_raw", cosine_pandas(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cos_raw")
    )
    return _topk_select(cands, k)


def ivf_cell_balance(
    corpus: DataFrame,
    n_cells: int = 32,
    sample_cap: int = 4096,
    iters: int = 10,
    seed: int = 647,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus balance over the IVF Voronoi cells — the "topic mix"
    report for an embedded corpus: assign every vector to its nearest
    spherical-k-means cell (the SAME deterministic quantizer ivf_topk
    trains) and report per-cell counts and shares. Heavily skewed
    shares mean the corpus over-represents a few semantic regions —
    the embedding-space analogue of corpus_mix_report, and the
    capacity planner for the IVF index itself (hot cells = hot probe
    costs).

    Determinism: the quantizer is seeded and trained on the bounded
    hash-ordered sample (``_hash_ordered_sample`` — membership is a
    pure function of row data, never partition layout); assignment
    argmax ties break to the lowest cell on both engines. Shares are
    floor-ratios of exact counts.

    Scale: one bounded driver-side training sample, one Arrow matmul
    assignment pass, one hash agg onto n_cells rows.
    """
    from sparklyclean_spark.functions.rounding import ratio4

    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cents = train_ivf_centroids(c, n_cells, 1, sample_cap, iters, seed, "id", "v")
    assigned = c.withColumn("cell", cell_assign_udf(cents, 1)(F.col("v")))
    # r12 (guide §5): the total is a 1-row agg OVER the per-cell
    # counts; without the persist the broadcast-subquery side re-ran
    # the whole assignment pass (two ArrowEvalPython scans of the
    # corpus in the plan). n_cells rows — persist is free.
    from sparklyclean_spark.cache import tracked_persist

    per = tracked_persist(
        assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    total = per.agg(F.sum("n_vectors").cast("bigint").alias("_t"))
    return (
        per.join(F.broadcast(total))
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            ratio4("n_vectors", "_t").alias("share"),
        )
    )

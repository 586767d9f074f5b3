"""Document near-duplicate detection at training-data scale.

Five strategies, cheapest→strongest, per the standard LLM-corpus
cleaning stack:

* exact (hash groupBy on normalized fingerprint)
* token-set Jaccard (exact, block-free — quadratic; oracle-checkable)
* word-n-gram-shingle Jaccard (exact — oracle-checkable)
* MinHash + LSH banding (shingle → minhash sig → band buckets →
  bucket join → exact-Jaccard verify) — the scale path: candidate
  generation is linear in corpus size + bucket-collision pairs
* SimHash (64-bit, banded hamming) — the cheap fuzzy path
* embedding cosine near-dup (see similarity/knn.py for ANN)

MinHash/SimHash signatures use ``xxhash64(token, seed_i)`` — fully
deterministic, no RNG state (same principle as the dedup anchor fix,
SURVEY.md §2.9 G6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from sparklyclean_spark.cache import tracked_persist
from sparklyclean_spark.functions import text as T
from sparklyclean_spark.functions.rounding import ratio4
from sparklyclean_spark.functions.vectors import cosine_pandas


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group by content fingerprint; keep the smallest id as canonical.
    Returns (fp, keep_id, n_dups). Pure hash aggregation — one shuffle
    on the fingerprint, scales linearly."""
    return (
        docs.select(F.col(id_col).alias("id"), T.fingerprint_md5(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("keep_id"), (F.count(F.lit(1)) - 1).alias("n_dups"))
    )


def _jaccard(a, b) -> F.Column:
    """Jaccard of two array columns. PRECONDITION: both arrays hold
    DISTINCT elements (np.unique'd shingle-hash sets, array_distinct
    token sets); on arrays with repeats the union below is undercounted
    and the result is wrong, not an error.

    |a ∪ b| = |a| + |b| − |a ∩ b| for distinct-element arrays, so ONE
    interpreted set build per pair instead of two — array_intersect /
    array_union are non-codegen hash-set scans and were the dominant
    per-pair cost of the exact verification paths (r12, guide §1.2
    per-task work). Same integers → same doubles → same quotient:
    bit-identical, every consuming oracle hash unchanged."""
    inter = F.size(F.array_intersect(a, b))
    union = (F.size(a) + F.size(b) - inter).cast("double")
    return F.when(union == 0.0, F.lit(0.0)).otherwise(
        inter.cast("double") / union
    )


def token_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-set Jaccard over all pairs (quadratic — small-corpus
    oracle / verification path, not the 100 TB path; use
    ``minhash_lsh_pairs`` there)."""
    t = docs.select(
        F.col(id_col).alias("id"), F.array_distinct(T.words(text_col)).alias("toks")
    )
    a = t.select(F.col("id").alias("id1"), F.col("toks").alias("t1"))
    b = t.select(F.col("id").alias("id2"), F.col("toks").alias("t2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("jaccard", F.round(_jaccard(F.col("t1"), F.col("t2")), 4))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def shingle_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact word-n-gram-shingle Jaccard over all pairs (quadratic
    verification path)."""
    t = docs.select(
        F.col(id_col).alias("id"), T.word_shingles(text_col, n).alias("sh")
    )
    a = t.select(F.col("id").alias("id1"), F.col("sh").alias("s1"))
    b = t.select(F.col("id").alias("id2"), F.col("sh").alias("s2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("jaccard", F.round(_jaccard(F.col("s1"), F.col("s2")), 4))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def _splitmix64(x):
    """splitmix64 finalizer over uint64 numpy arrays — the seedable,
    vectorizable stand-in for xxhash64 in Python-side mixing (JVM and
    numpy can't share xxhash64; determinism is what matters, the
    hash family doesn't)."""
    import numpy as np

    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _make_shingle_sig_udf(n: int, num_hashes: int):
    """Pandas UDF: per-doc token-hash array -> (distinct shingle
    hashes, minhash signature). All numpy, one pass per Arrow batch:
    shingle hash = chained splitmix64 over n consecutive token hashes;
    sig[i] = min over shingles of splitmix64(sh ^ seed_i). Python-side
    loops are over seeds (32) and rows only for final list packing."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    # no type hints: Series->DataFrame annotations trip pandas_udf's
    # hint-based eval-type inference; the explicit returnType governs
    def impl(hs):
        nrows = len(hs)
        arrs = [np.asarray(x, dtype=np.int64).view(np.uint64) for x in hs]
        sh_lists: list[np.ndarray] = []
        for a in arrs:
            if len(a) < n:
                sh_lists.append(np.empty(0, dtype=np.uint64))
                continue
            acc = np.full(len(a) - n + 1, 0x9E3779B97F4A7C15, dtype=np.uint64)
            for j in range(n):
                acc = _splitmix64(acc ^ a[j : len(a) - n + 1 + j])
            sh_lists.append(np.unique(acc))
        lengths = np.fromiter((len(x) for x in sh_lists), dtype=np.int64, count=nrows)
        sig = np.zeros((nrows, num_hashes), dtype=np.uint64)
        nz = lengths > 0
        if nz.any():
            flat = np.concatenate([x for x in sh_lists if len(x)])
            offsets = np.zeros(int(nz.sum()), dtype=np.int64)
            np.cumsum(lengths[nz][:-1], out=offsets[1:])
            seeds = _splitmix64(np.arange(1, num_hashes + 1, dtype=np.uint64))
            for i, s in enumerate(seeds):
                sig[nz, i] = np.minimum.reduceat(_splitmix64(flat ^ s), offsets)
        sig_i = sig.view(np.int64)
        return pd.DataFrame(
            {
                "hs": [x.view(np.int64) for x in sh_lists],
                "sig": list(sig_i),
            }
        )

    return pandas_udf(impl, "struct<hs: array<bigint>, sig: array<bigint>>")


def _sig_table(
    docs: DataFrame, n: int, num_hashes: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, sh, sig): per-doc distinct shingle-hash set + minhash
    signature. Token hashes JVM-side (xxhash64 — shared with every
    other text operator), heavy mixing Python-side in one Arrow UDF;
    feeds both join sides plus verification — persist AND materialize
    (a persist only helps jobs that start after it fills)."""
    sig_udf = _make_shingle_sig_udf(n, num_hashes)
    # r12 (guide §4.4): the `size(sh) > 0` filter must stay OUT of the
    # persisted build plan — inside it, the optimizer pushes the filter
    # below the unpacking projection by DUPLICATING the UDF, and the
    # r12 before-plans showed two ArrowEvalPython nodes running the
    # full shingle+minhash pass twice per document. Persist the
    # unfiltered table (empty-shingle docs are a negligible fraction)
    # and filter the CACHED relation instead: one UDF evaluation, and
    # the UDF stays deterministic (an asNondeterministic mark also
    # fixes the duplication but blocks plan/cache reuse in iterative
    # consumers — measured 2.4x slower corpus_curation_lsh).
    t = tracked_persist(
        docs.select(
            F.col(id_col).alias("id"),
            sig_udf(
                F.transform(T.words(text_col), lambda s: F.xxhash64(s))
            ).alias("ss"),
        ).select("id", F.col("ss.hs").alias("sh"), F.col("ss.sig").alias("sig"))
    )
    t.count()
    return t.where(F.size("sh") > 0)


def _band_table(t: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket): the LSH band join payload — nothing else
    rides the shuffle."""
    # r12: posexplode of a plain bucket array instead of explode of
    # (band, bucket) structs — the struct wrap/unwrap dominated the
    # explode cost (measured ~25% faster banded render + faster band
    # self-join on the narrower rows); pos IS the band index, so the
    # emitted (id, band, bucket) rows are identical.
    return t.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def minhash_index(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Persistable LSH index over a corpus: ``(bands_df, sets_df)`` =
    ((id, band, bucket), (id, sh)). Write both to parquet once; every
    future shard dedups against them via ``incremental_lsh_pairs``
    WITHOUT re-reading the corpus text — the daily-ingest pattern at
    100 TB (index size ≈ corpus shingle sets, a small fraction of the
    text; band table is 16 small rows per doc)."""
    t = _sig_table(docs, n, num_hashes, id_col, text_col)
    return _band_table(t, bands, num_hashes // bands), t.select("id", "sh")


def incremental_lsh_pairs(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs between a NEW shard and an already-indexed
    corpus: (new_id, corpus_id, jaccard), exact-verified. Only the
    shard is tokenized/signed; the corpus contributes its stored
    band buckets and shingle sets. Banding parameters must match the
    index build — the signatures are deterministic functions of the
    text, so shard-vs-corpus candidates are IDENTICAL to what a full
    ``minhash_lsh_pairs`` over corpus+shard would emit for cross
    pairs (pytest-gated equality). Within-shard duplicates are out of
    scope: run the regular path on the shard itself.

    ``index_bands`` and ``index_sets`` must be the two tables
    ``minhash_index`` returned for the corpus (same n, num_hashes,
    bands): the verify's ``_jaccard`` relies on its distinct
    shingle-hash sets."""
    t_new = _sig_table(new_docs, n, num_hashes, id_col, text_col)
    banded_new = _band_table(t_new, bands, num_hashes // bands)
    cands = (
        banded_new.select("band", "bucket", F.col("id").alias("new_id"))
        .join(
            index_bands.select("band", "bucket", F.col("id").alias("corpus_id")),
            ["band", "bucket"],
        )
        .where(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    return (
        cands.join(
            t_new.select(F.col("id").alias("new_id"), F.col("sh").alias("s1")),
            "new_id",
        )
        .join(
            index_sets.select(F.col("id").alias("corpus_id"), F.col("sh").alias("s2")),
            "corpus_id",
        )
        .withColumn("jaccard", F.round(_jaccard(F.col("s1"), F.col("s2")), 4))
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def _jaccard_grid(grid_step: float) -> list[float]:
    """Every multiple of grid_step strictly below 1.0. The r10 form
    ``range(1, int(1.0 / grid_step))`` truncated for non-divisor
    steps, silently dropping the top grid point (grid_step=0.15 ended
    at 0.75, omitting 0.90 — r11 advisor fix). Shared by the Spark
    planner and the SQL twin renderer so the grids can never diverge."""
    import math

    return [
        s
        for k in range(1, math.ceil(1.0 / grid_step) + 1)
        if (s := round(k * grid_step, 4)) < 1.0
    ]


def lsh_tuning_curve(
    spark,
    num_hashes: int = 64,
    bands: int = 16,
    grid_step: float = 0.05,
) -> DataFrame:
    """The MinHash-LSH parameter planner: the banding S-curve
    ``p_detect(s) = 1 − (1 − s^r)^b`` for b bands of r = num_hashes/b
    rows (Leskovec/Rajaraman/Ullman, MMDS ch.3), evaluated on a
    Jaccard grid, plus the curve's threshold ``s_star = (1/b)^(1/r)``
    (the similarity where detection probability crosses ~1−1/e).
    This is the number a pipeline owner reads BEFORE running
    `minhash_lsh_pairs` at 100 TB: pick (b, r) so s_star sits at the
    dedup threshold, then the candidate volume and the false-negative
    band both follow from this table.

    Output: ``(jaccard, p_band, p_detect, s_star)``, one row per grid
    point — p_band = s^r (one band agrees), p_detect the full curve.

    Determinism: NO libm pow in the hash contract — s^r and (1−s^r)^b
    are UNROLLED left-associative products of the grid literal, so
    Spark and the SQL twin run the identical IEEE multiply sequence;
    s_star needs a fractional power, so it is computed ONCE driver-side
    and baked as the same literal into both engines. Floor-snap to
    1e-6 (the repo's cross-engine rounding).

    Scale shape: a constant ~19-row local relation — the planner costs
    nothing; its value is front-loading the b/r choice with math
    instead of a corpus-scale trial run.
    """
    from functools import reduce

    if num_hashes % bands:
        raise ValueError(f"num_hashes {num_hashes} not divisible by bands={bands}")
    r = num_hashes // bands
    s_star = (1.0 / bands) ** (1.0 / r)
    grid = _jaccard_grid(grid_step)
    g = spark.createDataFrame([(s,) for s in grid], "jaccard double")
    p_band = reduce(lambda a, _: a * F.col("jaccard"), range(r - 1), F.col("jaccard"))
    g = g.withColumn("_pb", p_band)
    miss = reduce(
        lambda a, _: a * (F.lit(1.0) - F.col("_pb")),
        range(bands - 1),
        F.lit(1.0) - F.col("_pb"),
    )
    snap = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return g.select(
        "jaccard",
        snap(F.col("_pb")).alias("p_band"),
        snap(F.lit(1.0) - miss).alias("p_detect"),
        F.lit(float(s_star)).alias("s_star"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scale path: shingle → minhash → LSH band buckets → bucket join →
    exact-Jaccard verification.

    Tokenizing + token hashing stay JVM-side; shingle construction and
    the num_hashes-way min-hash run in ONE Arrow-batched pandas UDF
    (higher-order array expressions are interpreted per element in
    Spark — measured ~17 s for 5k docs vs <1 s vectorized). The band
    self-join carries only (band, bucket, id); verification computes
    exact Jaccard on the distinct shingle-HASH sets (64-bit, so
    collision effect on Jaccard is negligible). With 64 hashes /
    16 bands (r=4), candidate prob at j=0.3 is 1-(1-0.3^4)^16 ≈ 12%
    and per-pair miss at j=0.8 is (1-0.8^4)^16 ≈ 2e-4 — tight enough
    that the output equals the exact quadratic result whenever true
    near-dups sit at j ≥ 0.8 (the oracle relies on this); precision
    is exact-verified either way.
    """
    t = _sig_table(docs, n, num_hashes, id_col, text_col)
    banded = _band_table(t, bands, num_hashes // bands)
    a = banded.select("band", "bucket", F.col("id").alias("id1"))
    b = banded.select("band", "bucket", F.col("id").alias("id2"))
    cands = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    sets = t.select("id", "sh")
    verified = (
        cands.join(sets.select(F.col("id").alias("id1"), F.col("sh").alias("s1")), "id1")
        .join(sets.select(F.col("id").alias("id2"), F.col("sh").alias("s2")), "id2")
        .withColumn("jaccard", F.round(_jaccard(F.col("s1"), F.col("s2")), 4))
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id1", "id2", "jaccard")


def _simhash_pack_impl(hs):
    """Vectorized SimHash over per-doc token-hash lists: every 64-bit
    token hash votes ±1 per bit position; packed sign bits are the
    signature. Bits come from np.unpackbits on the little-endian byte
    view (bit b of the int64 == column b), per-doc sums from
    np.add.reduceat over the contiguous per-row segments — no
    scattered writes (np.add.at was ~10 s for 1.5M tokens; this is
    ~0.1 s)."""
    import numpy as np
    import pandas as pd

    nrows = len(hs)
    lengths = np.fromiter((len(x) for x in hs), dtype=np.int64, count=nrows)
    votes = np.zeros((nrows, 64), dtype=np.int64)
    nz = lengths > 0
    if nz.any():
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in hs])
        bits = np.unpackbits(
            flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        ).astype(np.int64)
        offsets = np.zeros(int(nz.sum()), dtype=np.int64)
        np.cumsum(lengths[nz][:-1], out=offsets[1:])
        ones = np.add.reduceat(bits, offsets, axis=0)
        votes[nz] = 2 * ones - lengths[nz][:, None]
    packed = (
        ((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)[None, :])
        .sum(axis=1, dtype=np.uint64)
        .view(np.int64)
    )
    return pd.Series(packed)


def _md5_token_hash(s):
    """64-bit token hash from the first 16 hex chars of md5, built as
    two 32-bit conv() halves (each < 2^32, ANSI-safe) OR-ed into one
    bigint whose bit pattern equals the unsigned md5 prefix — the
    repo's engine-portable hash recipe, recomputable in DuckDB as
    ('0x' || substr(md5(tok), 1, 16))::UBIGINT."""
    hi = F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash64_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, sh64): 64-bit SimHash per document.

    Token hashing stays JVM-side (xxhash64 after tokenize+distinct);
    the 64 bit-vote sums + sign packing run in ONE Arrow-batched
    pandas UDF. A pure-SQL formulation needs a 64-column sum aggregate
    whose generated code blows past JIT method limits — measured: it
    runs slow itself AND deoptimizes shared codegen call sites for
    every later query in the session (bench.py ordering note). The
    Arrow path is faster at every scale and side-effect-free; rows
    with no tokens are dropped, matching the explode-based plan.

    ``token_hash``: "xxhash64" (default, fastest — JVM codegen) or
    "md5" (engine-portable 64-bit md5 prefix so a DuckDB oracle can
    recompute the identical signatures end-to-end).
    """
    from pyspark.sql.functions import pandas_udf

    if token_hash == "xxhash64":
        hashed = docs.select(
            F.col(id_col).alias("id"),
            F.transform(
                F.array_distinct(T.words(text_col)), lambda s: F.xxhash64(s)
            ).alias("hs"),
        ).where(F.size("hs") > 0)
    elif token_hash == "md5":
        # two-step transform so md5 runs ONCE per token: the single
        # _md5_token_hash lambda embeds F.md5(s) twice (hi + lo conv
        # halves) and HOF lambdas are interpreted — no codegen CSE —
        # so the one-lambda form md5-hashes every token twice. The
        # inner transform materializes the 16-hex prefix array; the
        # outer one only does conv/shift arithmetic (r12, guide §1.2).
        hashed = docs.select(
            F.col(id_col).alias("id"),
            F.transform(
                F.array_distinct(T.words(text_col)),
                lambda s: F.substring(F.md5(s), 1, 16),
            ).alias("h16"),
        ).select(
            "id",
            F.transform(
                F.col("h16"),
                lambda h: F.shiftleft(
                    F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), 32
                ).bitwiseOR(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")),
            ).alias("hs"),
        ).where(F.size("hs") > 0)
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    pack = pandas_udf(_simhash_pack_impl, "long")
    return hashed.select("id", pack(F.col("hs")).alias("sh64"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dups: candidates share at least one of 4 16-bit
    bands (EXACT for hamming ≤ 3 by pigeonhole — at most 3 differing
    bits cannot touch all 4 bands), verified by exact hamming
    distance ≤ max_hamming via bit_count(xor). With
    ``token_hash="md5"`` the whole pipeline is recomputable in SQL,
    so a brute-force all-pairs oracle checks banding AND signatures.

    ``max_hamming`` > 3 is rejected: 4 differing bits can land one
    per band, so no band matches and the pair silently never becomes
    a candidate — the output would be missing pairs the parameter
    promises (r9 review finding). Wider radii need more bands."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-band exactness"
            " bound (3); pairs at hamming 4+ can evade every band"
        )
    # both join sides derive from the simhash table — persist (tiny:
    # id + one bigint per doc) and materialize so the 64-vote
    # aggregation runs once, not once per join branch
    t = tracked_persist(simhash64_table(docs, id_col, text_col, token_hash))
    t.count()
    # posexplode of a plain bucket array (pos IS the band) — same
    # (id, sh64, band, bucket) rows as the former struct explode,
    # without the struct wrap/unwrap (the _band_table r12 finding)
    banded = t.select(
        "id",
        "sh64",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sh64"), b * 16).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = banded.select("band", "bucket", F.col("id").alias("id1"), F.col("sh64").alias("h1"))
    b = banded.select("band", "bucket", F.col("id").alias("id2"), F.col("sh64").alias("h2"))
    # hamming BEFORE dropDuplicates: it depends only on (h1, h2), which
    # are identical across a pair's duplicate band rows, so filtering
    # first is result-identical — and the dedup exchange then carries
    # only near-dup survivors instead of every banded candidate
    # (guide §2.3 shuffle fewer bytes; bit_count(xor) is cheap codegen)
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id1") < F.col("id2"))
        .withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id1", "id2"])
        .select("id1", "id2", F.col("hamming").cast("int").alias("hamming"))
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup: all pairs with cosine ≥ threshold (exact,
    quadratic — the ANN path in similarity/knn.py is the scale route)."""
    e = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a = e.select(F.col("id").alias("id1"), F.col("v").alias("v1"))
    b = e.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        # single_eval: same §4.4 filter-pushdown duplication as
        # lsh_cosine_pairs — here it doubles the QUADRATIC pair stream's
        # cosine pass, the whole cost of this verification-scale path
        .withColumn(
            "cos", cosine_pandas(F.col("v1"), F.col("v2"), single_eval=True)
        )
        .where(F.col("cos") >= threshold)
        .select("id1", "id2", F.round("cos", 4).alias("cos"))
    )


def common_ngram_pairs(
    docs: DataFrame,
    n: int = 5,
    min_shared: int = 3,
    max_gram_df: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-style near-dup pairs via an inverted n-gram
    index: (id1, id2, shared_grams) for every pair sharing >=
    ``min_shared`` distinct word n-grams, counting only grams that
    appear in 2..``max_gram_df`` documents.

    The scale path for "docs sharing long verbatim spans" (the signal
    behind exact-substring training-data dedup) WITHOUT any pairwise
    text comparison: explode to distinct (doc, gram) postings, drop
    grams above the document-frequency cap (ubiquitous boilerplate —
    exactly the grams that would blow the self-join up; standard
    practice in corpus dedup), then the posting-list self-join emits
    at most df*(df-1)/2 <= ~max_gram_df^2/2 pairs PER GRAM. Every
    shuffle (postings, df agg, pair count) is a hash agg/join on gram
    or (id1,id2) with map-side partial aggregation — linear in corpus
    size, bounded fan-out, no driver state. Gram construction is the
    codegen posexplode + window-lead shape (top_ngrams); the window
    shuffles on doc_id only.

    The df cap changes WHICH pairs can qualify (a deliberate semantic,
    mirrored in the oracle): two docs sharing only corpus-wide
    boilerplate do not count as near-dups.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("id"), F.posexplode(T.words(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, n)]
    grams = (
        toks.select("id", "tok", *leads)
        # n=1: no lead columns exist (unresolved-column crash without
        # this guard)
        .where(F.lit(True) if n == 1 else F.col(f"t{n-1}").isNotNull())
        .select(
            "id",
            F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, n)]).alias("gram"),
        )
        .dropDuplicates(["id", "gram"])
    )
    # postings feed the df agg AND both self-join sides
    grams = tracked_persist(grams)
    ok = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_gram_df))
        .select("gram")
    )
    kept = grams.join(ok, "gram")
    return (
        kept.select("gram", F.col("id").alias("id1"))
        .join(kept.select("gram", F.col("id").alias("id2")), "gram")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .where(F.col("shared_grams") >= min_shared)
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT token-Jaccard similarity join at bucketed-join scale:
    prefix filtering (AllPairs, Bayardo et al. WWW'07; PPJoin, Xiao et
    al. WWW'08) instead of the quadratic all-pairs comparison.

    Under one GLOBAL token ordering (rarest-first), two docs with
    ``J >= t`` must share a token inside their first
    ``n - ceil(t*n) + 1`` tokens — so candidates come from an
    equi-join on PREFIX tokens only, plus the length filter
    ``t*n1 <= n2 <= n1/t``; exact Jaccard verification then removes
    survivors' false positives. Same result set as
    ``token_jaccard_pairs`` (differential-tested + shared oracle),
    but the only shuffles are the token-frequency agg, the per-doc
    re-sort, and the prefix-token equi-join — candidate volume scales
    with prefix-token collision counts (rare tokens -> tiny buckets),
    not with corpus^2. The complement to ``minhash_lsh_pairs``: exact
    answers when recall guarantees matter more than the LSH constant
    factor.

    The global order needs no global rank assignment: the sort key is
    the pair ``(document_frequency, token)`` itself, so ordering is
    established by a join against the df agg — nothing driver-side,
    nothing single-task.

    Corpus caveat: prefix selectivity comes from vocabulary size. On
    natural text (vocab >> corpus/doc count) prefixes are rare tokens
    and buckets are tiny; on a degenerate small-vocab corpus (like the
    synthetic testdata, ~200 words) most doc pairs genuinely exceed
    moderate thresholds and the OUTPUT itself is near-quadratic — no
    algorithm can emit fewer rows than the true result. Pick the
    threshold accordingly.
    """
    t = docs.select(
        F.col(id_col).alias("id"), F.array_distinct(T.words(text_col)).alias("toks")
    ).where(F.size("toks") > 0)
    t = tracked_persist(t)
    tok = t.select("id", F.explode("toks").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # per-doc rarest-first ordering: array<struct<df,tok>> sorted
    ordered = (
        tok.join(dfreq, "tok")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "tok"))).alias("srt"))
        .select(
            "id",
            F.col("srt")["tok"].alias("toks_sorted"),
            F.size("srt").alias("n"),
        )
    )
    prefix_len = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast("int")
    pfx = ordered.select(
        "id", "n", F.explode(F.slice("toks_sorted", F.lit(1), prefix_len)).alias("tok")
    )
    a = pfx.select(F.col("id").alias("id1"), F.col("n").alias("n1"), "tok")
    b = pfx.select(F.col("id").alias("id2"), F.col("n").alias("n2"), "tok")
    cand = (
        a.join(b, "tok")
        .where(
            (F.col("id1") < F.col("id2"))
            & (F.col("n2") >= F.ceil(F.lit(threshold) * F.col("n1")))
            & (F.col("n1") >= F.ceil(F.lit(threshold) * F.col("n2")))
        )
        .select("id1", "id2")
        .distinct()
    )
    t1 = t.select(F.col("id").alias("id1"), F.col("toks").alias("t1"))
    t2 = t.select(F.col("id").alias("id2"), F.col("toks").alias("t2"))
    return (
        cand.join(t1, "id1")
        .join(t2, "id2")
        .withColumn("jaccard", F.round(_jaccard(F.col("t1"), F.col("t2")), 4))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    min_containment: float = 0.5,
    block_cols: tuple[str, ...] = ("lang", "source"),
    max_token_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC near-dup detection: token-set containment
    ``|A∩B| / |A|`` in both directions. Jaccard misses the
    quote/subset relation — a doc fully embedded in a 10× larger one
    scores jaccard ≈ 0.1 but containment 1.0 — and containment is the
    signal that matters for quote detection, snippet provenance, and
    "small doc swallowed by aggregator page" curation calls.

    Candidates: pairs sharing ≥1 *discriminative* token (document
    frequency ≤ ``max_token_df``) within the same blocking stratum —
    the standard inverted-index candidate bound (linear in postings,
    never all-pairs; stop-word-like tokens are df-capped out exactly
    like ``common_ngram_pairs``). The intersection counted for the
    emitted score is over discriminative tokens only — the SAME
    universe the index can see — making the operator a closed,
    oracle-checkable contract (floor-ratio of exact ints).

    Scale: explode to postings, one df agg whose rare-token filter
    gates the posting self-join (bounded by df-cap), hash agg per
    pair, two bounded set-size joins.
    """
    base = docs.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.array_distinct(T.words(text_col)).alias("toks"),
    )
    # r12 (guide §5): posts feeds the df agg AND the rare join — a
    # persist tokenizes/explodes the corpus once instead of twice
    posts = tracked_persist(
        base.select("id", *block_cols, F.explode("toks").alias("tok"))
    )
    # df-cap within stratum: hot tokens generate quadratic candidates
    # and carry no identity signal
    df_tok = posts.groupBy(*block_cols, "tok").agg(
        F.count(F.lit(1)).alias("_df")
    )
    # NO broadcast hint: the rare-token subset is nearly the whole
    # distinct (block, tok) vocabulary — O(corpus vocabulary),
    # unbounded — the same reason winnowing_overlap_pairs' df table
    # is deliberately un-broadcast below. AQE may still choose a
    # broadcast when the table is actually small; forcing it here
    # OOMs the driver at corpus scale (r9 review finding).
    # persisted: three consumers (both self-join sides + sizes) each
    # previously re-ran the posting render and the df-cap join
    rare = tracked_persist(
        posts.join(
            df_tok.where(F.col("_df") <= max_token_df),
            [*block_cols, "tok"],
        ).select(*block_cols, "tok", "id")
    )
    inter = (
        rare.select(*block_cols, "tok", F.col("id").alias("id1"))
        .join(
            rare.select(*block_cols, "tok", F.col("id").alias("id2")),
            [*block_cols, "tok"],
        )
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # per-doc DISCRIMINATIVE token counts (same universe as n_shared)
    sizes = rare.groupBy("id").agg(F.count(F.lit(1)).alias("n_toks"))
    out = (
        inter.join(sizes.select(F.col("id").alias("id1"), F.col("n_toks").alias("n1")), "id1")
        .join(sizes.select(F.col("id").alias("id2"), F.col("n_toks").alias("n2")), "id2")
        .select(
            "id1",
            "id2",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            ratio4("n_shared", "n1").alias("containment_1in2"),
            ratio4("n_shared", "n2").alias("containment_2in1"),
        )
    )
    return out.where(
        (F.col("containment_1in2") >= min_containment)
        | (F.col("containment_2in1") >= min_containment)
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    tier: str = "column",
) -> DataFrame:
    """Per-document winnowed k-gram fingerprint profile — the
    POSITION-AWARE copy-detection signature (Schleimer/Wilkerson/
    Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS algorithm). Character k-grams localize
    COPIED SPANS, which token-set methods (minhash/simhash/
    containment) cannot: they answer "are these documents similar",
    winnowing answers "do they share a literal run of ≥ k chars",
    the right primitive for quote/plagiarism/eval-contamination
    tracing at span granularity.

    Selection rule (the operator's contract): position ``i`` is
    selected iff its hash is the MINIMUM of the w-gram forward window
    ``[i, i+w-1]`` (frames clip at the text tail, so trailing
    positions compete in shorter windows). This is a deterministic
    winnowing VARIANT: the paper's rule picks the rightmost minimum
    of every window (guaranteeing a pick per window), which needs an
    argmin-over-frame — not expressible identically in both engines'
    window aggregates — while the forward-min rule is ONE ``min()``
    frame, has the same expected density (1/w for distinct hashes),
    and the same shift-locality (selection of ``i`` depends only on
    the next w-1 grams, so edits perturb fingerprints only locally).

    Hashes are the repo's engine-portable md5-prefix bigints MASKED
    TO 63 BITS: DuckDB's ``::UBIGINT`` compares unsigned while
    Spark's bigint compares signed, so a top-bit hash would order
    differently and flip the window minima — the mask makes the
    orderings identical (and costs 1 bit of entropy).

    Output (docs with ≥ k chars): n_grams, the distinct-fingerprint
    count + density, and an order-free digest (bit_xor / min / max of
    the fingerprint set) — enough to equality-match documents and to
    detect fingerprint drift without shipping the sets.

    Scale: the per-character explode is O(total chars) narrow rows
    feeding ONE doc-keyed window — AQE-splittable, no broadcast, no
    all-pairs anywhere; the 1/w selection density shrinks everything
    downstream.

    ``tier``: ``"column"`` (default) is the declarative explode +
    window form — the oracle-checkable contract; ``"arrow"`` is the
    hot-path swap-in (one mapInPandas pass, the ``_sig_table`` /
    l2-batch precedent) — BIT-EQUAL output, pytest-gated, for builds
    where per-char explode row overhead dominates.
    """
    if tier == "arrow":
        fps = _winnow_fp_table_batch(docs, k, window, id_col, text_col)
    elif tier == "column":
        fps = _winnow_fp_table(docs, k, window, id_col, text_col)
    else:
        raise ValueError(f"unknown tier {tier!r}")
    return (
        fps.groupBy("id", "_n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
            F.expr("bit_xor(h)").cast("bigint").alias("fp_xor"),
            F.min("h").alias("fp_min"),
            F.max("h").alias("fp_max"),
        )
        .select(
            F.col("id").alias(id_col),
            (F.col("_n") - F.lit(k - 1)).cast("bigint").alias("n_grams"),
            "n_fingerprints",
            ratio4(
                F.col("n_fingerprints"), F.col("_n") - F.lit(k - 1)
            ).alias("fp_density"),
            "fp_xor",
            "fp_min",
            "fp_max",
        )
    )


def _winnow_fp_table(
    docs: DataFrame, k: int, window: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, _n, h): each document's DISTINCT winnowed fingerprint set
    (the forward-window-min selection of ``winnowing_fingerprints``,
    which documents the full contract)."""
    from pyspark.sql import Window

    mask = (1 << 63) - 1
    base = docs.select(
        F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("_s")
    ).withColumn("_n", F.length("_s")).where(F.col("_n") >= F.lit(k))
    grams = base.select(
        "id",
        "_n",
        F.explode(F.sequence(F.lit(1), F.col("_n") - F.lit(k - 1))).alias("i"),
        "_s",
    ).select(
        "id",
        "_n",
        "i",
        _md5_token_hash(F.expr(f"substring(_s, i, {k})"))
        .bitwiseAND(F.lit(mask))
        .alias("h"),
    )
    w = Window.partitionBy("id").orderBy("i").rowsBetween(0, window - 1)
    sel = grams.withColumn("_wmin", F.min("h").over(w)).where(
        F.col("h") == F.col("_wmin")
    )
    return sel.select("id", "_n", "h").distinct()


def _winnow_fp_table_batch(
    docs: DataFrame, k: int, window: int, id_col: str, text_col: str
) -> DataFrame:
    """Arrow hot-path tier of ``_winnow_fp_table``: ONE mapInPandas
    pass computes the identical forward-window-min selection per
    document — no per-character explode rows, no doc-keyed window
    exchange (each doc is self-contained, so selection runs wherever
    the doc already sits). BIT-EQUAL to the declarative form by
    pytest gate (``test_textops.py``); requires integral ids (the
    corpus contract — the declarative tier is the generic one).

    Hash parity notes: ``int.from_bytes(md5(gram)[:8], "big")``
    equals the JVM's two-conv() hex-prefix recipe, the 63-bit mask is
    applied identically, and LOWERCASING STAYS IN SPARK (``F.lower``
    before the UDF) — Python ``str.lower()`` and the JVM diverge on
    some Unicode case mappings, so the UDF must never lower. Char
    k-grams are code-point slices (== Spark ``substring``); the
    ASCII fast path slices one encoded buffer, non-ASCII docs encode
    per-gram. A per-partition gram→hash cache (cleared at 2^21
    entries) collapses repeated grams — real text is Zipfian, so the
    md5 call count is ~distinct-grams, not total-grams.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    mask = (1 << 63) - 1
    base = (
        docs.select(F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("_s"))
        .where(F.length("_s") >= F.lit(k))
    )

    def run(batches):
        md5 = hashlib.md5
        cache: dict[bytes, int] = {}
        for pdf in batches:
            ids, ns, hs_out = [], [], []
            for did, s in zip(pdf["id"].to_numpy(), pdf["_s"].to_numpy()):
                n = len(s)
                m = n - k + 1
                if s.isascii():
                    bs = s.encode()
                    grams = [bs[i : i + k] for i in range(m)]
                else:
                    grams = [s[i : i + k].encode("utf-8") for i in range(m)]
                hs = np.empty(m, dtype=np.int64)
                for i, g in enumerate(grams):
                    h = cache.get(g)
                    if h is None:
                        h = int.from_bytes(md5(g).digest()[:8], "big") & mask
                        cache[g] = h
                    hs[i] = h
                mins = hs.copy()
                for j in range(1, min(window, m)):
                    np.minimum(mins[: m - j], hs[j:], out=mins[: m - j])
                sel = np.unique(hs[hs == mins])
                ids.append(np.full(len(sel), did, dtype=np.int64))
                ns.append(np.full(len(sel), n, dtype=np.int32))
                hs_out.append(sel)
            if len(cache) > 1 << 21:
                cache.clear()
            if ids:
                yield pd.DataFrame(
                    {
                        "id": np.concatenate(ids),
                        "_n": np.concatenate(ns),
                        "h": np.concatenate(hs_out),
                    }
                )

    return base.mapInPandas(run, schema="id bigint, _n int, h bigint")


def winnowing_overlap_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    k: int = 8,
    window: int = 4,
    max_fp_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level copy detection BETWEEN documents: pairs sharing
    ≥ ``min_shared`` winnowed fingerprints (each shared fingerprint
    witnesses a literal common run of ≥ k chars that both documents'
    winnowing selected — quotes, boilerplate, eval-set contamination
    at span granularity). Candidates come from the same df-capped
    inverted-index shape as ``containment_pairs``: fingerprints in
    more than ``max_fp_df`` documents are corpus boilerplate carrying
    no pair signal and would generate quadratic candidates — dropped
    BEFORE the self-join, so posting-list work stays linear. Output:
    (id1, id2, n_shared), exact integers.

    The fingerprint table comes from the Arrow
    ``_winnow_fp_table_batch`` pass when the id column is integral —
    BIT-EQUAL to the declarative form by pytest gate (the fp A/B rows'
    contract), so the oracle hash is unchanged, and it skips the
    per-character explode + doc-keyed window exchange entirely
    (measured ~4x on the fp build). Any other id type takes the
    declarative ``_winnow_fp_table`` (the generic tier).
    """
    integral = isinstance(docs.schema[id_col].dataType, IntegralType)
    tbl = _winnow_fp_table_batch if integral else _winnow_fp_table
    # the winnow pipeline feeds the df agg AND both join sides —
    # materialize once (the _sig_table precedent)
    fps = tracked_persist(
        tbl(docs, k, window, id_col, text_col).select("id", "h")
    )
    fps.count()
    df_h = fps.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    # NO broadcast hint on the df table: it is O(distinct fingerprints)
    # and cannot ship whole at corpus scale — the equi-join on h is
    # AQE-splittable and reuses the postings' hash partitioning
    rare = fps.join(df_h.where(F.col("_df") <= max_fp_df), "h").select("h", "id")
    return (
        rare.select("h", F.col("id").alias("id1"))
        .join(rare.select("h", F.col("id").alias("id2")), "h")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def dedup_survivors(
    docs: DataFrame,
    policy: str = "longest",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Policy-based survivor selection for exact-duplicate groups —
    the curation decision AFTER detection. ``exact_dedup`` keeps the
    min id (stable but arbitrary); real pipelines keep the BEST copy:

    - ``"longest"``: most characters (whitespace-trimmed), id asc
      tie-break — the usual "fullest capture wins" rule;
    - ``"min_id"``: the exact_dedup convention, for parity.

    Emits one row per document: ``(doc_id, fp, group_size,
    survivor_id, is_survivor)`` — the full disposition table a
    downstream filter consumes, not just the survivors.

    Determinism: the champion is a ``max_by`` over a TOTAL order
    (length, then -id), so ties cannot flap across partitionings.

    Scale: one fingerprint hash agg (map-side combinable max_by) +
    one broadcast-or-shuffle join back on the fingerprint.
    """
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        T.fingerprint_md5(text_col).alias("fp"),
        F.length(F.trim(F.col(text_col))).alias("_len"),
    )
    if policy == "longest":
        champ_key = F.struct(F.col("_len").alias("a"), (-F.col("doc_id")).alias("b"))
    elif policy == "min_id":
        champ_key = F.struct(F.lit(0).alias("a"), (-F.col("doc_id")).alias("b"))
    else:
        raise ValueError(f"unknown policy {policy!r}")
    groups = t.groupBy("fp").agg(
        F.max_by("doc_id", champ_key).alias("survivor_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return t.join(groups, "fp").select(
        "doc_id",
        "fp",
        F.col("group_size").cast("bigint").alias("group_size"),
        F.col("survivor_id").cast("bigint").alias("survivor_id"),
        (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
    )

"""Connected components over near-dup pairs → cluster assignment.

Completes the dedup story: pair generation (exact / minhash / simhash
/ embedding LSH) emits edges; this operator resolves them into
clusters so a pipeline can keep one canonical document per cluster.
(The reference stops at pair classification — ``ApplyDupClassifier``
emits scored pairs, README.md:239-261 — so cluster resolution is part
of the §2.10 capability surface, not a port.)

Algorithm: iterative min-label propagation. ``comp(v)`` starts at
``v`` and each round takes the min over the neighborhood; labels are
monotonically non-increasing, so convergence is detected by the sum
of labels going stationary — one cheap aggregate per round instead of
a change-count join. Rounds needed = graph diameter; near-dup
clusters are shallow (pairs of a cluster all share shingles, diameter
is typically ≤ 3). Each round is one shuffle join + groupBy-min, with
``localCheckpoint`` cutting the lineage so plans don't grow across
iterations — the standard Spark iterative-graph pattern. For
adversarially deep graphs (long chains) the large-star/small-star
variant (Kiveris et al., "Connected Components in MapReduce") halves
diameter per round; near-dup graphs don't need it, and ``max_iter``
guards the pathological case loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklyclean_spark.cache import tracked_checkpoint, tracked_persist
from sparklyclean_spark.observe import observed


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    src_col: str = "id1",
    dst_col: str = "id2",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """(id, comp): every vertex labeled with the min id reachable from
    it via ``edges``. Vertices absent from every edge keep their own
    id (singleton clusters). When ``stats`` is passed, the number of
    propagation rounds actually run is recorded under
    ``stats["n_rounds"]`` — the operator's cost is
    rounds x (join + agg), so the count is the first thing to read
    when a bench entry moves."""
    sym = tracked_persist(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b")).unionAll(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
    )
    # labels only decrease, so label-set equality across a round means
    # converged; the witness is a NULL-safe exact-decimal sum of label
    # HASHES — a direct cast of the label itself yields NULL for
    # string ids under non-ANSI sessions, making prev == cur after one
    # round and silently returning wrong components (r9 review
    # finding; ~2^-64 hash-sum collision odds replace a decreasing-sum
    # guarantee, an accepted trade for id-type generality).
    # r12 (guide §5): the witness rides the checkpoint materialization
    # via ``observe`` instead of a separate per-round agg job — the old
    # shape paid one extra full scan of the fresh label table every
    # round just to read a number the checkpoint's own action already
    # streams past. Identical aggregate, identical convergence test.
    from pyspark.sql import Observation

    _witness = F.sum(F.xxhash64(F.col("comp")).cast("decimal(38,0)")).alias("s")
    obs0 = Observation()
    labels = tracked_checkpoint(
        vertices.select(F.col(id_col).alias("v"), F.col(id_col).alias("comp"))
        .observe(obs0, _witness)
    )
    prev_sum = observed(obs0, "connected_components")["s"]
    n_rounds = 0
    for _ in range(max_iter):
        n_rounds += 1
        nbr_min = (
            sym.join(labels, sym.a == labels.v)
            .groupBy("b")
            .agg(F.min("comp").alias("nc"))
        )
        obs = Observation()
        labels = tracked_checkpoint(
            labels.join(nbr_min, labels.v == nbr_min.b, "left")
            .select(
                "v",
                F.least(F.col("comp"), F.coalesce("nc", F.col("comp"))).alias("comp"),
            )
            .observe(obs, _witness),
            replaces=labels,
        )
        cur_sum = observed(obs, "connected_components")["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds the bound; use large-star/small-star)"
        )
    if stats is not None:
        stats["n_rounds"] = n_rounds
    return labels.select(F.col("v").alias(id_col), "comp")


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    src_col: str = "id1",
    dst_col: str = "id2",
    max_iter: int = 50,
) -> DataFrame:
    """(id, comp) via alternating large-star / small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    public algorithm). Converges in O(log²) rounds regardless of
    diameter, unlike min-label propagation's O(diameter): a 10⁶-hop
    chain finishes in ~20 rounds instead of 10⁶. Use this when the
    pair graph can be adversarially deep (transitive near-dup chains);
    ``connected_components`` stays the default for the shallow graphs
    LSH dedup produces.

    Each round is two groupBy-min shuffles over the current edge set;
    edges only move toward smaller labels, so the edge-endpoint sum is
    a monotone convergence witness (same trick as the propagation
    form).
    """
    # working edge set as directed (u, v); kept deduped and
    # self-loop-free between rounds (an eager checkpoint already stores
    # the blocks — the earlier persist-on-top was a redundant second
    # copy of the same data in the CacheManager)
    e = tracked_checkpoint(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def _round(cur: DataFrame, large: bool) -> DataFrame:
        sym = cur.unionAll(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        nbrs = sym.join(m, "u")
        if large:
            # connect strictly larger neighbors to the neighborhood min
            out = nbrs.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            # connect self + smaller-or-equal neighbors to the min
            out = nbrs.where(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).unionAll(m.select(F.col("u"), F.col("m").alias("v")))
        return out.where(F.col("u") != F.col("v")).distinct()

    # (count, endpoint-sum) witness: a distinct edge set can't change
    # without moving one of the two. r12: observed during the checkpoint
    # materialization instead of a separate per-round agg job (same
    # treatment as the propagation form's witness).
    from pyspark.sql import Observation

    prev_w = None
    for _ in range(max_iter):
        e2 = _round(e, large=True)
        obs = Observation()
        e3 = tracked_checkpoint(
            _round(e2, large=False).observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.xxhash64(F.col("u")).cast("decimal(38,0)")
                          + F.xxhash64(F.col("v")).cast("decimal(38,0)")),
                    F.lit(0),
                ).alias("s"),
            ),
            replaces=e,
        )
        m = observed(obs, "connected_components_star")
        cur_w = (m["n"], m["s"])
        e = e3
        if cur_w == prev_w:
            break
        prev_w = cur_w
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )

    # after convergence the edge set is a star forest: u -> root
    roots = e.groupBy("u").agg(F.min("v").alias("comp"))
    return (
        vertices.select(F.col(id_col))
        .join(roots, F.col(id_col) == F.col("u"), "left")
        .select(
            id_col, F.coalesce("comp", F.col(id_col)).alias("comp")
        )
    )


def neardup_clusters(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, comp, is_canonical): cluster assignment from exact
    shingle-Jaccard pairs (or caller-supplied ``pairs``), every doc
    covered, the min-id member canonical. Swap ``pairs`` for
    ``minhash_lsh_pairs`` output at scale — the component resolution
    is identical."""
    from sparklyclean_spark.operators.dedup.textdedup import shingle_jaccard_pairs

    if pairs is None:
        pairs = shingle_jaccard_pairs(docs, threshold, id_col=id_col, text_col=text_col)
    comp = connected_components(pairs, docs.select(id_col), id_col=id_col)
    return comp.select(
        id_col,
        "comp",
        (F.col(id_col) == F.col("comp")).alias("is_canonical"),
    )

"""Iterative graph analytics over pair/edge tables: PageRank.

Connected components (``dedup/clusters.py``) answers "which docs are
the same"; PageRank over the SAME near-dup/similarity edges answers
"which doc is the most central representative" — a principled
keep-the-canonical choice (most-linked ≈ most-typical) and the
standard link-authority score wherever the pipeline has a reference
graph (citations, hyperlinks, co-occurrence).

Scale shape per iteration: ONE shuffle join (edges ⋈ ranks on the
source) + one aggregation on the destination — the textbook
distributed power iteration. Dangling-node mass is folded back
uniformly via a 1-row aggregate (broadcast), so ranks always sum to
1. Lineage is cut with ``localCheckpoint`` on the O(#vertices) rank
table each round (NOT the edges — they are read once and persisted),
the same bounded-iteration pattern as cluster resolution; driver
state is one scalar per round.

No reference counterpart; §2.10 capability-gap operator (iterative
analytics family, next to connected components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklyclean_spark.cache import tracked_checkpoint, tracked_persist


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    src_col: str = "id1",
    dst_col: str = "id2",
    damping: float = 0.85,
    iters: int = 10,
    symmetric: bool = True,
) -> DataFrame:
    """(id, rank): PageRank after ``iters`` power iterations.

    ``symmetric=True`` treats each input pair as an undirected edge
    (both directions), the right reading for similarity pairs.
    Vertices with no edges are dangling: they keep receiving the
    teleport + redistributed dangling mass. Ranks sum to 1.

    Determinism: the two per-iteration SUMs (incoming contributions,
    dangling mass) are the only order-sensitive float accumulations;
    each term is snapped to the exact 1e-12 integer grid
    (``floor(x·1e12 + 0.5)`` — one IEEE op per step) and summed as
    BIGINT, so the aggregation order cannot move a bit. The integer
    sums cannot overflow at ANY graph size: each group's contribution
    sum is bounded by the rank mass entering one vertex (≤ 1 → grid
    value ≤ 1e12 + per-term half-ulp slack), and the dangling sum by
    the total rank mass (= 1). Every
    remaining expression is a pure per-row IEEE sequence over
    deterministic inputs — ranks are bit-identical across
    partitionings AND re-computable by any engine that mirrors the op
    order, which is what makes the DuckDB oracle for
    ``pagerank_containment_graph`` possible (unrolled per-iteration
    CTEs, ``__spark_entry__._pagerank_sql``). Snap error: each
    rounded term carries ≤ 0.5e-12, so one iteration adds ≤
    damping·(d_in + 1)·0.5e-12 to a vertex with in-degree d_in (the
    +1 is the dangling term) — per-vertex error scales with degree,
    not a constant. Even a 10⁶-degree hub over 10 iterations stays
    below ~5e-6·rank-mass, invisible at the 1e-8-rounded output of
    the registered query; on dense hubs with tighter differential
    gates, size the gate to degree·iters·0.5e-12.

    Input contract: every edge endpoint must appear in ``vertices``
    (contributions to unknown endpoints are dropped and the rank sum
    drifts below 1), and with ``symmetric=True`` the pair list must
    contain each undirected edge ONCE (a list carrying both (a,b) and
    (b,a) counts the edge twice in the degrees). Near-dup pair
    generators in this repo emit id1 < id2 exactly once over a known
    corpus, satisfying both. With ``symmetric=True`` the first rule
    is checked from the two counts the fast path already takes: more
    distinct endpoints than vertices raises ``ValueError``. Unknown
    endpoints that do not outnumber the isolated vertices, and the
    second rule, are not validated (a full check would cost a join).

    r12 fast path (``symmetric=True`` only): an undirected graph's
    dangling vertices are exactly its ISOLATED vertices (out-degree =
    degree), so they receive no contributions and all carry one shared
    rank value r_d that follows a scalar recurrence — the per-iteration
    dangling aggregate + its broadcast build were one full O(V) scan
    and one extra Spark job per iteration computing a number the driver
    can produce in closed form (guide §2.4 / §5). The driver replays
    the IDENTICAL IEEE op sequence the JVM ran (same grid snap, same
    BIGINT sum = n_d·m, same parenthesization), so every rank — active
    and dangling — is bit-identical to the general path's (oracle
    re-verified on ``pagerank_containment_graph``). The iterated table
    also shrinks to the NON-isolated vertices: isolated rows rode every
    join + checkpoint for ``iters`` rounds only to keep receiving the
    closed-form value; they are attached once at the end. Directed
    graphs (``symmetric=False``) keep the general path: a vertex can
    have in-edges but no out-edges there, and the shared-value argument
    collapses.
    """
    sym = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    if symmetric:
        sym = sym.unionAll(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
    verts = vertices.select(F.col(id_col).alias("v"))
    n = verts.count()
    if n == 0:
        return verts.select(F.col("v").alias(id_col), F.lit(0.0).alias("rank"))

    # the rank table is O(#vertices) narrow rows; checkpointing it (or
    # shuffling the edge list) at the session's full shuffle-partition
    # count makes every iteration pay hundreds of near-empty tasks at
    # small scale. Size partitioning from n (~500k rows per partition,
    # capped); pre-hash the edges on the join key so the iteration
    # joins reuse one co-partitioning.
    n_parts = max(8, min(2048, n // 500_000 + 8))
    sym = tracked_persist(sym.repartition(n_parts, "a"))

    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("out_deg")).withColumnRenamed(
        "a", "dv"
    )
    if symmetric:
        # dangling ⇔ isolated (undirected): closed-form dangling mass,
        # iterate over edge-endpoint vertices only (docstring, r12).
        # Two structural consequences make the loop MUCH cheaper than
        # the general path's checkpoint-per-iteration shape:
        #  1. nothing forces a per-iteration materialization anymore —
        #     the old dangling broadcast was an eager barrier; and
        #  2. every active vertex provably receives ≥1 contribution
        #     (sym holds both directions, so an endpoint always appears
        #     as some edge's b), so the next rank table can be derived
        #     from the STATIC persisted degree table joined to contribs
        #     (inner), leaving the previous iteration referenced exactly
        #     once → the unrolled plan grows LINEARLY and the whole
        #     loop fuses into one AQE query, with a lineage-hygiene
        #     checkpoint only every few iterations instead of 10
        #     driver-blocking checkpoint jobs (guide §2.4/§5).
        # coalesce(in_sum, 0.0) is kept verbatim: with matches
        # guaranteed it is the identity, so ranks stay bit-identical to
        # the general path (oracle re-verified).
        import math

        deg = tracked_persist(deg)
        n_active = deg.count()
        n_d = n - n_active
        if n_d < 0:
            raise ValueError(
                f"at least {-n_d} edge endpoint(s) are not in vertices: "
                f"{n_active} distinct endpoints vs {n} vertices"
            )
        # enrich the static edge table with the DESTINATION's degree
        # once, so each iteration is ONE join + ONE aggregation that
        # emits the next (v, out_deg, rank) table directly — the old
        # shape re-joined a degree table every iteration (one more
        # exchange + AQE stage per round). max(bdeg) over a group is a
        # constant (one degree per vertex), so rows are identical.
        symd = tracked_persist(
            sym.join(deg, sym.b == deg.dv)
            .select("a", "b", F.col("out_deg").alias("bdeg"))
            .repartition(n_parts, "a")
        )
        ranks = deg.select(
            F.col("dv").alias("v"), "out_deg", F.lit(1.0 / n).alias("rank")
        )
        last_ckpt = None
        r_d = 1.0 / n
        for i in range(iters):
            # the JVM form summed n_d identical grid-snapped terms as
            # BIGINT then divided: dm = (double)(n_d·⌊r_d·1e12 + 0.5⌋)/1e12.
            # Python ints are exact and float ops are the same IEEE
            # doubles, so dm (and r_d below) replay bit-identically.
            dm = float(n_d * math.floor(r_d * 1e12 + 0.5)) / 1e12
            e = symd.alias("E")
            ranks = (
                ranks.join(e, F.col("v") == F.col("E.a"))
                .select(
                    F.col("E.b").alias("_b"),
                    F.col("E.bdeg").alias("_bdeg"),
                    F.floor(
                        (F.col("rank") / F.col("out_deg")) * F.lit(1e12) + F.lit(0.5)
                    ).alias("c"),
                )
                .groupBy("_b")
                .agg(
                    F.max("_bdeg").alias("out_deg"),
                    (F.sum("c") / F.lit(1e12)).alias("in_sum"),
                )
                .select(
                    F.col("_b").alias("v"),
                    "out_deg",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (F.coalesce("in_sum", F.lit(0.0)) + F.lit(dm) / n)
                    ).alias("rank"),
                )
            )
            # the dangling row's expression from the general path, with
            # in_sum = 0.0 (isolated ⇒ never matched by contribs), op
            # order preserved term by term
            r_d = (1.0 - damping) / n + damping * (0.0 + dm / n)
            if (i + 1) % 2 == 0 or (i + 1) == iters:
                ranks = tracked_checkpoint(ranks, replaces=last_ckpt)
                last_ckpt = ranks
        out = ranks.select(F.col("v").alias(id_col), "rank")
        if n_d:
            out = out.unionAll(
                verts.join(deg, verts.v == deg.dv, "left_anti").select(
                    F.col("v").alias(id_col), F.lit(r_d).alias("rank")
                )
            )
        return out
    # The degree table and the vertex set are STATIC across iterations:
    # fold both into the iterated rank table ONCE. The previous shape
    # joined ranks⋈deg and localCheckpoint'ed the result EVERY
    # iteration (a second O(V) materialization barrier per iteration)
    # and rebuilt each new rank table from a fresh ``verts`` scan (the
    # vertex source re-read once per iteration). Carrying
    # (v, out_deg, rank) through the loop leaves ONE checkpoint per
    # iteration and one vertex-table scan total; every per-row
    # expression, snap, and aggregation below is unchanged, so ranks
    # are bit-identical to the two-checkpoint form.
    ranks = tracked_checkpoint(
        verts.join(deg, verts.v == deg.dv, "left")
        .drop("dv")
        .select("v", "out_deg", F.lit(1.0 / n).alias("rank"))
        .repartition(n_parts, "v")
    )
    for _ in range(iters):
        with_deg = ranks
        # dangling mass: ranks of vertices with no out-edges, each
        # snapped to the 1e-12 grid before the (exact decimal) sum
        dangling = (
            with_deg.where(F.col("out_deg").isNull())
            .agg(
                (
                    F.coalesce(
                        F.sum(F.floor(F.col("rank") * F.lit(1e12) + F.lit(0.5))),
                        F.lit(0),
                    )
                    / F.lit(1e12)
                ).alias("_dm")
            )
        )
        # alias the edge table: it is joined against its own degree
        # aggregate, which trips Spark's ambiguous-self-join detection
        # without a dataset-level alias
        e = sym.alias("E")
        contribs = (
            with_deg.where(F.col("out_deg").isNotNull())
            .join(e, F.col("v") == F.col("E.a"))
            .select(
                F.col("E.b").alias("cv"),
                F.floor(
                    (F.col("rank") / F.col("out_deg")) * F.lit(1e12) + F.lit(0.5)
                ).alias("c"),
            )
            .groupBy("cv")
            .agg((F.sum("c") / F.lit(1e12)).alias("in_sum"))
        )
        ranks = tracked_checkpoint(
            with_deg.select("v", "out_deg")
            .join(contribs, F.col("v") == contribs.cv, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "v",
                "out_deg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("in_sum", F.lit(0.0)) + F.col("_dm") / n)
                ).alias("rank"),
            ),
            # no repartition: the rank join's stream side is the carried
            # table, already hash(v, n_parts) from the seed checkpoint —
            # LogicalRDD preserves outputPartitioning, the left join and
            # broadcast cross join both keep the streamed side's
            # partitioning, so an explicit repartition(v) here was one
            # redundant O(V) exchange per iteration (guide §2.4)
            # the new eager checkpoint supersedes the previous
            # iteration's — free those blocks now instead of leaking
            # iters checkpoints per call
            replaces=with_deg,
        )
    return ranks.select(F.col("v").alias(id_col), "rank")


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph given as
    canonical edges ``(id1 < id2)``: one row with node count, edge
    count, triangle count, and the global clustering coefficient
    ``3·triangles / open_wedges`` (floor contract; NULL when the
    graph has no wedges).

    Triangles are enumerated with the ordered node-iterator join
    (a<b<c): edges(a,b) ⋈ edges(b,c) ⋈ edges(a,c) — each triangle
    counted exactly once. Wedges come from per-node degrees
    (Σ d·(d-1)/2, exact integers).

    Scale shape: two equi-joins on edge endpoints; the canonical
    a<b<c orientation bounds the join fan-out by the out-degree of
    the ORDERED graph (max out-degree ≤ √(2m) after degree
    orientation — here orientation is by id, the standard first
    cut; switch to degree-ordering for adversarial skew). Degrees
    are one explode + hash agg.
    """
    e = edges.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    tri = (
        e.alias("e1")
        .join(
            e.alias("e2"),
            F.col("e1.b") == F.col("e2.a"),
        )
        .join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = e.select(F.explode(F.array("a", "b")).alias("v"))
    deg = nodes.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # exact halving: Column '/' is DOUBLE division (lossy past
        # 2^53 on hub-heavy graphs); the decimal sum of an always-even
        # quantity halves exactly (r9 review finding)
        F.floor(
            F.sum((F.col("d") * (F.col("d") - 1)).cast("decimal(38,0)")) / 2
        )
        .cast("bigint")
        .alias("n_wedges"),
    )
    m = e.agg(F.count(F.lit(1)).alias("n_edges"))
    out = summary.join(F.broadcast(m)).join(F.broadcast(tri))
    cc = F.when(
        F.col("n_wedges") > 0,
        F.floor(
            3.0 * F.col("n_triangles") / F.col("n_wedges") * 10000.0 + 0.5
        )
        / 10000.0,
    )
    return out.select(
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.col("n_edges").cast("bigint").alias("n_edges"),
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        cc.alias("clustering_coeff"),
    )

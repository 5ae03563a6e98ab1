"""Graph operators over near-duplicate pair streams (charter extension,
round 4 — iterative-algorithm family alongside
``dedup.connected_components``).

``pagerank`` ranks documents by centrality in the near-dup similarity
graph — the practical use in a curation pipeline is picking the
*canonical* survivor of a duplicate cluster by connectivity (the most
"central" variant) instead of by minimum id, and surfacing template
hubs (one page duplicated across thousands of sites scores high).

Scale shape: each iteration is one equi-join of the rank vector against
the edge list (shuffle on node id, AQE-handled skew for hub nodes) plus
a hash-agg contribution sum — the textbook Spark PageRank loop, fixed
iteration count, nothing but the convergence constants on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from firmable_company_data_pipeline_spark.session import materialize


# Fixed-point rank scale: ranks are carried as SCALED 64-bit integers
# (1 rank unit = 10^-12) so every sum is exact integer addition —
# order-independent across partitionings AND engines, which is what
# lets pagerank carry a real DuckDB oracle (PAGERANK_NEARDUP_SQL,
# queries/llmops.py) instead of a rows-only check.  Headroom: total
# rank mass ≈ PR_SCALE = 10^12, so damping_num·Σcontrib ≤ 850·10^12
# ≪ 2^63.  Truncating division loses < 1 ulp (10^-12) per incoming
# edge per iteration — invisible at the 6-dp output rounding.
PR_SCALE = 10**12


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an undirected pair graph (each pair contributes an
    edge in both directions).  Fixed ``iters`` power iterations of
    ``pr(v) = (1-d)/N + d·Σ_{u~v} pr(u)/deg(u)``; isolated nodes never
    appear (pairs define the node set).

    Output (id, pagerank) rounded to 6 dp.  Arithmetic (round 5): ranks
    are scaled integers (see ``PR_SCALE``) with truncating ``div``, so
    the result is bit-identical in any engine — the r1-r4 "float
    summation order is engine-dependent" limitation is gone and the
    registered query is hash-checked against an unrolled-CTE DuckDB
    mirror.  ``damping`` is interpreted as a rational with denominator
    1000 (0.85 → 850/1000).
    """
    d_num = int(round(damping * 1000))
    d_den = 1000
    a, b = F.col(id_a), F.col(id_b)
    # The edge list appears in EVERY iteration's lineage (the join) plus
    # the degree/node builds — unmaterialized, the pair stream upstream
    # (typically a full near-dup detection) re-executes once per
    # reference (~iters+2 times; measured 56 s → 3 s at bench scale).
    # Checkpointed PRE-PARTITIONED on the join key (r13): every
    # iteration's edge⋈rank join reuses this layout for the edge side —
    # one exchange per iteration instead of two.
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
        .repartition(F.col("src"))
        .transform(materialize, "iterate")
    )
    deg = materialize(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), "share")
    # The ONLY driver-side value is the node count — one scalar, same
    # contract as connected_components' convergence count.  Inlining N
    # as a literal removes a 1-row broadcast cross-join (its own AQE
    # stage) from EVERY iteration: with 5 iterations that halved the
    # stage count of the whole query.
    n = deg.count()
    if n == 0:
        return deg.select(
            F.col("src").alias("id"), F.lit(0.0).alias("pagerank")
        )
    pr = deg.select("src", "deg", F.lit(PR_SCALE // n).alias("pr"))
    base = ((d_den - d_num) * PR_SCALE) // (d_den * n)
    for _ in range(iters):
        contrib = (
            edges.join(pr, "src")
            .groupBy("dst")
            # pr div deg truncates identically in Spark and DuckDB for
            # the (positive) values here; the long sum is exact.
            .agg(F.sum(F.expr("pr div deg")).alias("in_sum"))
        )
        pr = deg.join(contrib, deg.src == contrib.dst, "left").select(
            "src",
            "deg",
            F.expr(
                f"{base}L + ({d_num}L * coalesce(in_sum, 0L)) div {d_den}L"
            ).alias("pr"),
        )
    # Half-up rounding to 6 dp done in integer space, then one exact
    # long→double conversion — both engines produce the same double.
    return pr.select(
        F.col("src").alias("id"),
        (F.expr("(pr + 500000L) div 1000000L").cast("double") / F.lit(1e6)).alias(
            "pagerank"
        ),
    )


def triangle_count(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Per-node triangle counts + clustering coefficient over an
    undirected pair graph — the cohesion signal that separates template
    FARMS (dense near-dup cliques: one boilerplate page across many
    sites) from incidental pairwise overlaps in a curation graph.

    Degree-ordered wedge algorithm (Suri & Vassilvitskii, WWW 2011):
    orient every edge from its (degree, id)-smaller endpoint to the
    larger, build wedges by joining oriented edges head-to-tail, and
    close each wedge against the oriented edge set — every triangle is
    found exactly once, and wedge generation is bounded by the LOW-
    degree endpoint's fan-out (Σ min-deg per edge ≈ m^1.5 worst case,
    not Σ deg² — a hub node of degree 10⁶ generates no wedges at all,
    because its edges all point INTO it).  Three shuffles total (degree
    agg, wedge join, closing semi-join); per-node attribution explodes
    each triangle to its three corners and hash-aggs.

    Output: (id, degree, n_triangles, clustering) where clustering =
    2·T / (deg·(deg−1)), 0.0 for degree-1 nodes; rounded to 6 dp.

    The undirected edge set is checkpointed (r13; was persist): it
    feeds the degree build, the orientation, and the final id join, and
    each of those consumers re-embedded (and Catalyst re-analyzed) the
    caller's full pair-pipeline lineage under plain persist — the same
    truncation rationale as the CC star input.  Blocks materialize
    lazily with the first consumer's job.
    """
    a, b = F.col(id_a), F.col(id_b)
    und = (
        pairs.select(a.alias("u"), b.alias("v"))
        .unionByName(pairs.select(b.alias("u"), a.alias("v")))
        # Self-loops form no triangle (the orientation filter drops
        # them) but would inflate `degree` and deflate `clustering`
        # vs the standard simple-graph definition — drop them here so
        # arbitrary caller pair-streams behave.
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(materialize, "iterate")
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # Orient u→v iff (deg(u), u) < (deg(v), v); keep each edge once.
    ranked = (
        und.join(deg.withColumnRenamed("u", "_du"), F.col("u") == F.col("_du"))
        .drop("_du")
        .withColumnRenamed("deg", "du")
        .join(
            deg.select(F.col("u").alias("_dv"), F.col("deg").alias("dv")),
            F.col("v") == F.col("_dv"),
        )
        .drop("_dv")
    )
    oriented = ranked.filter(
        (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select("u", "v")
    # Wedges u→v→w close into triangles when u→w is also oriented.
    wedges = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("tu"), F.col("e1.v").alias("tv"), F.col("e2.v").alias("tw")
    )
    tris = wedges.join(
        oriented.select(F.col("u").alias("tu"), F.col("v").alias("tw")),
        ["tu", "tw"],
        "left_semi",
    )
    per_node = (
        tris.select(F.explode(F.array("tu", "tv", "tw")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select(F.col("u").alias("id"), "deg")
        .join(per_node, "id", "left")
        .select(
            "id",
            F.col("deg").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    2.0 * F.coalesce("n_triangles", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1)),
                ).otherwise(0.0),
                6,
            ).alias("clustering"),
        )
    )


# ---------------------------------------------------------------------------
# Level-synchronous BFS (round 12): hop distance from a seed set, the
# third classic iterative-graph primitive next to ``pagerank`` and
# ``dedup.connected_components``.  Pipeline uses: blast-radius of a
# contaminated document through the near-dup graph, reach of a promoted
# product through co-purchases.
#
# Formulation is LEVEL-synchronous, not path-enumerating: each hop
# expands the frontier through one equi-join on the edge list and
# immediately dedups (distinct) and subtracts everything already
# visited (left_anti) — so per hop the work is O(|edges touched|) and
# the state is O(|reached nodes|), never O(#paths) (a path-recursive
# formulation is exponential in dense graphs).  Per-hop localCheckpoint
# truncates the growing union lineage (the bounded-iteration
# convention of ``dedup.connected_components`` / ``retrieval.bpe_train``);
# the hop count is a fixed small constant, so the driver loop holds no
# data — only plan handles.
def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
) -> DataFrame:
    """Hop distance (0..max_hops) from ``seeds`` over the UNDIRECTED
    graph given by ``edges`` (each row is symmetrized).  Output:
    (id, dist) for every node reached within ``max_hops``; unreached
    nodes are absent.  Seeds not present in the edge list still appear
    at dist 0.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .transform(materialize, "iterate", eager=True)
    )
    visited = (
        seeds.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .transform(materialize, "iterate", eager=True)
    )
    frontier = visited.select("id")
    for hop in range(1, max_hops + 1):
        frontier = (
            sym.join(frontier.withColumnRenamed("id", "u"), "u")
            .select(F.col("v").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .transform(materialize, "iterate", eager=True)
        )
        visited = visited.union(
            frontier.withColumn("dist", F.lit(hop))
        ).transform(materialize, "iterate", eager=True)
    return visited

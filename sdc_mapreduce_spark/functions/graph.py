"""Iterative graph analytics over edge DataFrames.

The reference framework has no graph operators (its only iterative shape is
re-running a job; SURVEY.md §2.2); near-dup clustering already contributes
connected components (functions.dedup.near_dup_clusters). This module adds
the other canonical iterative-join algorithm, PageRank, in the
determinism discipline the repo's oracles require: per-iteration ranks are
exact integer nano-units, so the fixed-point arithmetic is order-free and
replays bitwise in an external engine (a float PageRank sums neighbor
contributions in partition order — different every run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NANO = 10**9


def triangle_stats(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list — the graph-density / community-cohesion audit
    (a near-dup graph whose nodes close into triangles is a clique-like
    duplication cluster; a star is one template fanned out). Returns one
    row per node with ≥1 edge: (node, degree, triangles, lcc_nano) where
    lcc_nano = floor(2·T·1e9 / (deg·(deg−1))) — the clustering coefficient
    as an exact nano-unit integer (both engines compute it with integer
    division, so it replays bitwise; 0 when degree < 2).

    Algorithm: degree-ordered orientation (each edge points from its
    lower-(degree, id) endpoint to the higher), wedges from the oriented
    self-join on the source, closed by an equi-join against the oriented
    edge set — the classic MapReduce triangle scheme of Suri &
    Vassilvitskii (WWW'11) / Cohen (2009). The orientation bounds every
    node's out-degree by O(√m), so no "last reducer" hot key: wedge
    fan-out is Σ outdeg² ≤ m^1.5 instead of Σ deg² (quadratic in the max
    hub degree). All three joins are equi-joins on node ids — shuffles,
    never broadcast-dependent — and each triangle is generated exactly
    once (rank(u) < rank(v) < rank(w)), so no distinct pass is needed.

    Session-lifetime cost (ADVICE r8): the eager ``localCheckpoint`` below
    pins its RDD blocks in executor storage until the DataFrame is GC'd —
    repeated calls in a long-lived driver session accumulate storage the
    way leaked persists do (``spark.catalog.clearCache()`` does NOT free
    checkpoints). Acceptable at fixture scale and in the per-query
    harnesses; a resident service calling this in a loop should hold the
    result, not the lineage, or recycle the session."""
    e = (
        edges.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # same discipline as pagerank_integer: the edge derivation (e.g. a
        # Jaccard inverted-index self-join) is expensive and has four
        # consumers below — truncate the lineage once
        .localCheckpoint(eager=True)
    )
    und = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    da = deg.select(F.col("src").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("src").alias("b"), F.col("degree").alias("__db"))
    lower_first = F.struct(F.col("__da"), F.col("a")) < F.struct(
        F.col("__db"), F.col("b")
    )
    oe = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(lower_first, F.col("__db")).otherwise(F.col("__da")).alias(
                "__dd"
            ),
        )
        # reused three times (both wedge sides + the closing probe)
        .localCheckpoint(eager=True)
    )
    e1 = oe.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("__dd").alias("dv")
    )
    e2 = oe.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("__dd").alias("dw")
    )
    wedges = e1.join(e2, "u").filter(
        F.struct(F.col("dv"), F.col("v")) < F.struct(F.col("dw"), F.col("w"))
    )
    # rank(v) < rank(w) in every wedge, so the closing edge — if it exists
    # — is oriented exactly v -> w: one equi-join, no symmetric probe
    closing = oe.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("__t"))
    )
    return deg.join(per_node, "src", "left").select(
        F.col("src").alias("node"),
        "degree",
        F.coalesce(F.col("__t"), F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr(
                f"(2 * {NANO} * coalesce(__t, 0)) div (degree * (degree - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("lcc_nano"),
    )


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Fixed-iteration PageRank on an undirected edge list, all-integer:

        r_0(v)    = NANO // N
        r_{k+1}(v) = ((100-d) * NANO) // (100 * N)
                     + (d * Σ_{u~v} (r_k(u) // deg(u))) // 100

    with d = ``damping_pct`` and every division an integer floor — the same
    milli/nano-quantization trick the LM and centroid operators use, applied
    per iteration so the quantization error cannot compound into
    engine-divergent doubles. Undirected graphs have no dangling nodes
    (every node has degree ≥ 1), so no sink redistribution term is needed.
    Returns (node, degree, rank_nano) for every node with at least one edge.

    Scale shape per iteration: one equi-join of the edge list against the
    rank table (both partitioned by node id) + one partial-agg shuffle of
    narrow (node, long) rows — the textbook distributed PageRank plan; a
    fixed iteration count keeps the lineage shallow (no checkpoint needed).
    The node count is the one bounded driver scalar (it sizes the teleport
    constant)."""
    # Materialize the (possibly expensive) edge derivation ONCE: every
    # iteration joins against `und`/`deg`, and `deg.count()` adds another
    # consumer — without truncation the upstream lineage (e.g. a Jaccard
    # inverted-index self-join) re-executes per iteration and the unrolled
    # plan grows multiplicatively (observed: OOM at sf0.1 from 3 iterations
    # x edge recompute).
    und = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("degree")).localCheckpoint(
        eager=True
    )
    n_nodes = deg.count()
    if n_nodes == 0:
        return deg.select(
            F.col("src").alias("node"),
            "degree",
            F.lit(0).cast("long").alias("rank_nano"),
        )
    base = ((100 - damping_pct) * NANO) // (100 * n_nodes)
    ranks = deg.select(
        "src", F.lit(NANO // n_nodes).cast("long").alias("rank_nano")
    )
    und_deg = und.join(deg, "src")
    for _ in range(iterations):
        contrib = und_deg.join(ranks, "src").select(
            F.col("dst").alias("src"),
            F.floor(F.col("rank_nano") / F.col("degree"))
            .cast("long")
            .alias("__c"),
        )
        incoming = contrib.groupBy("src").agg(F.sum("__c").alias("__in"))
        ranks = deg.join(incoming, "src", "left").select(
            "src",
            (
                F.lit(base)
                + F.floor(
                    F.lit(damping_pct) * F.coalesce(F.col("__in"), F.lit(0)) / 100
                ).cast("long")
            ).alias("rank_nano"),
        )
    return (
        deg.join(ranks, "src")
        .select(F.col("src").alias("node"), "degree", "rank_nano")
    )

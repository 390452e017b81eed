"""Reusable graph primitives over plain (u, v) edge DataFrames.

The plan layer (plans/graph.py) builds the edge lists (ε-similarity
graph, trade graph); these operators are edge-source-agnostic so the
scale smokes can drive them with K-replicated synthetic graphs without
re-deriving embeddings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an UNDIRECTED simple graph
    given as distinct (u < v) rows: returns (node, degree, triangles,
    clustering_permille).

    Degree-ordered orientation (compact-forward; Ortmann & Brandes
    2014): each edge is directed from its smaller endpoint under the
    total order (degree, node), triangles are oriented paths a→b→c
    closed by a→c, counted once each. Oriented out-degree is O(sqrt(m))
    for ANY degree distribution, so the path join's per-key fan-out —
    the quantity that explodes on celebrity nodes in the naive
    edge-edge join — is bounded by sqrt(m) regardless of skew. The
    local clustering coefficient is an exact integer permille,
    (2000*triangles) DIV (degree*(degree-1)).

    Plan: one |V|-row degree aggregate, two joins to relabel, one
    keyed self-join on the middle vertex, one semi-join closure probe,
    one explode + hash aggregate. No windows, no driver state."""
    e = edges.select("u", "v").localCheckpoint(eager=False)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    fwd = F.when(
        (F.col("du") < F.col("dv"))
        | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
        True,
    ).otherwise(False)
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=False)
    paths = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        "b",
    )
    tri = paths.join(
        oriented.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        ["a", "c"],
        "semi",
    )
    pernode = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(pernode, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr(
                "(2000 * coalesce(triangles, 0)) DIV (degree * (degree - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("clustering_permille"),
    )


def max_oriented_outdegree(edges: DataFrame) -> int:
    """Diagnostic for the orientation bound: the largest per-node
    fan-out the triangle path join actually sees (must stay ~sqrt(2m)
    even when the max UNDIRECTED degree is corpus-sized)."""
    e = edges.select("u", "v")
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    fwd = F.when(
        (F.col("du") < F.col("dv"))
        | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
        True,
    ).otherwise(False)
    src = ranked.select(F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"))
    row = (
        src.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d").alias("mx"))
        .first()
    )
    return int(row["mx"]) if row and row["mx"] is not None else 0


def lpa_labels(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous majority label propagation over a DIRECTED edge
    table (pass both orientations for an undirected graph): ``rounds``
    full-frontier rounds, deterministic argmax tie-break (highest vote
    count, then lexicographically smallest label). Returns
    (node, label) — the fixed round-``rounds`` state.

    Every node starts as its own label, so round 1's votes are the
    edge rows themselves: one (dst, src) count, no node table and no
    join (a parallel edge row still votes twice). Each later round is
    one keyed join against the previous label table, one (node,label)
    vote count (map-side combinable) and one struct-min argmax
    aggregate — no per-node window. Every round reads the previous
    label table exactly once, so the composed plan stays linear and is
    built without running a job. Callers materialize the edge layout
    (plans/graph.py uses the key-clustered sorted form the edge-layout
    A/B adopted; PLANS.md Notes, "Graph-tier Pregel edge-layout A/B
    CLOSED")."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    labels = None
    for _ in range(rounds):
        if labels is None:
            ballots = edges.select("dst", F.col("src").alias("label"))
        else:
            ballots = edges.join(labels, edges.src == labels.node).select(
                "dst", "label"
            )
        labels = (
            ballots.groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg_cnt"),
                        F.col("label").alias("label"),
                    )
                ).alias("win")
            )
            .select("node", F.col("win.label").alias("label"))
        )
    return labels


def kcore_alive(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``rounds`` synchronous peel rounds toward the k-core of the
    graph given as a DIRECTED edge table containing both orientations:
    each round keeps nodes with >= k surviving neighbors. Returns the
    surviving (node) set — the k-core once the peel has converged
    (data-dependent at 100 TB: loop until the alive count stops
    falling; fixed rounds here keep the recurrence oracle-expressible).

    Per round: two semi-joins restrict edges to alive x alive, one
    degree aggregate with HAVING; cost tracks the monotonically
    SHRINKING surviving edge set, state is one |alive|-row table."""
    alive = edges.select(F.col("src").alias("node")).distinct()
    for _ in range(rounds):
        surv = edges.join(
            alive.withColumnRenamed("node", "src"), "src", "semi"
        ).join(alive.withColumnRenamed("node", "dst"), "dst", "semi")
        alive = (
            surv.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=False)
        )
    return alive


def neighborhood_jaccard_pairs(pairs: DataFrame, cap: int) -> DataFrame:
    """Common-neighbor Jaccard between right-side entities of a
    bipartite (c, s) relation: for every s1 < s2 sharing a c, returns
    (s1, s2, common, deg1, deg2, jaccard_permille) with the score an
    exact integer permille (1000*common DIV union).

    Scale guard: the wedge join's fan-out is Σ_c deg(c)²; left-side
    hubs above ``cap`` distinct partners are excluded from BOTH pair
    generation and the degree denominator (the df-cap pattern from
    operators/neardup.py — a hub that links every pair carries no
    signal). Degree joins are broadcast-sized (|right entities|)."""
    cdeg = pairs.groupBy("c").agg(F.count(F.lit(1)).alias("dc"))
    p = pairs.join(
        cdeg.where(F.col("dc") <= cap), "c", "semi"
    ).localCheckpoint(eager=False)
    sdeg = p.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = p.select("c", F.col("s").alias("s1"))
    b = p.select("c", F.col("s").alias("s2"))
    common = (
        a.join(b, "c")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    d1 = sdeg.select(F.col("s").alias("s1"), F.col("d").alias("deg1"))
    d2 = sdeg.select(F.col("s").alias("s2"), F.col("d").alias("deg2"))
    return (
        common.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            F.col("common").cast("bigint").alias("common"),
            F.col("deg1").cast("bigint").alias("deg1"),
            F.col("deg2").cast("bigint").alias("deg2"),
            F.expr(
                "CAST(1000 * common DIV (deg1 + deg2 - common) AS BIGINT)"
            ).alias("jaccard_permille"),
        )
    )


def earliest_arrival(
    edges: DataFrame, seeds: DataFrame, rounds: int
) -> DataFrame:
    """Time-respecting earliest-arrival relaxation over a DATED edge
    table (src, dst, t): ``rounds`` rounds of arr'(dst) = min over
    edges with t >= arr(src) of t, starting from ``seeds`` (node, arr).
    MIN of dates is idempotent — no tie-break needed; multi-source
    seeds compose naturally (the min absorbs them).

    Per round: one equi join on src with the temporal range residual
    evaluated post-match, one MIN aggregate, a lazy checkpoint (the
    state feeds both the relax join and the carry-over MIN)."""
    d = seeds
    for _ in range(rounds):
        d = (
            edges.join(d, edges.src == d.node)
            .where(F.col("t") >= F.col("arr"))
            .select(F.col("dst").alias("node"), F.col("t").alias("arr"))
            .unionByName(d)
            .groupBy("node")
            .agg(F.min("arr").alias("arr"))
            .localCheckpoint(eager=False)
        )
    return d

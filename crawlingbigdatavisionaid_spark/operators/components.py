"""Connected components over a pair list — the step that turns near-dup
PAIRS into dedup GROUPS (keep one canonical doc per component).

Algorithm: iterative min-label propagation with path-halving: every
node starts as its own label; each round every node takes the minimum
label in its neighborhood (incl. itself) and then shortcuts through its
label's label (``label <- label(label)``, the DataFrame form of
union-find path compression / the contraction step of
large-star-small-star). Propagation alone converges in O(diameter)
rounds; the halving step makes reach grow geometrically, so long chains
converge in O(log diameter) rounds — near-dup graphs are unions of
small cliques (2-3 rounds), but adversarial chain graphs stay in budget
too (tests/test_components.py pins a 1000-node path).

Scale notes: each round is one join (labels ⋈ symmetric edges) + one
min-aggregate + one halving self-join, all shuffled on node id — no
per-component state, no driver-side graph. Round 0 needs no join at
all: the initial label IS the node, so its neighborhood minimum is the
edge table's per-source MIN(dst). Each round's label table is lazily
local-checkpointed: the halving self-join references the round's
propagate step twice, so without truncation the logical plan doubles
per round and DRIVER analysis time becomes the bottleneck — GraphFrames'
CC checkpoints at a fixed interval for the same reason. The two
references plan identically, so AQE runs the propagate exchange once
and reuses it (``ReusedExchange``) for the second. Under AQE a lazy
checkpoint still executes the round's shuffle stages when it builds
its RDD, so nothing in the round is cached: a cached relation's output
cannot be coalesced and would pin ``spark.sql.shuffle.partitions``
tasks per stage however small the graph. Convergence is detected by the
monotone label-sum (one aggregate), not a new-vs-old join.

Input contract: a pair with a NULL endpoint contributes no edge; its
other endpoint is still a node (its own singleton component unless
another pair links it). An empty pair list yields an empty result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every non-NULL node in ``pairs``; component
    = min node id reachable. Deterministic — pure graph property. NULL
    endpoints are dropped (see the module docstring)."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # The symmetric edge table is built by EXPLODING each pair into both
    # orientations in ONE pass (a two-leg union would execute the
    # un-checkpointed upstream pair pipeline once per leg), plus a
    # (node, node) SELF-LOOP per endpoint, so the per-round neighborhood
    # MIN includes the node's own label and the propagate step is ONE
    # join + aggregate. Dropping NULL endpoints here (not in each round)
    # keeps both references of a round's propagate step free of inferred
    # not-null filters, so they plan identically and AQE reuses the
    # exchange. Eager localCheckpoint (not cache): it truncates the
    # potentially huge upstream pair lineage, which every round would
    # otherwise re-analyze.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                    F.struct(
                        F.col(a_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = None
    prev_sum = None
    for _ in range(max_iter):
        if labels is None:
            # round 0: every node is its own label, so the neighborhood
            # MIN of labels is the MIN of neighbor ids — no join
            nbr = edges.select("src", F.col("dst").alias("label"))
        else:
            nbr = edges.join(labels, edges.dst == labels.node).select(
                "src", "label"
            )
        propagated = nbr.groupBy(F.col("src").alias("node")).agg(
            F.min("label").alias("label")
        )
        # path-halving: label <- label(label). Every label is itself a
        # node id in this component (min over neighborhood of node ids),
        # and labels only decrease, so the shortcut is always valid and
        # convergence jumps from O(diameter) to O(log diameter) rounds.
        hop = propagated.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        labels = (
            propagated.join(hop, propagated.label == hop.pnode, "left")
            .select(
                "node",
                F.least(
                    "label", F.coalesce("plabel", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # convergence check without a join: labels are monotonically
        # non-increasing per node, so the label sum strictly decreases
        # iff anything changed. One agg over the checkpointed labels —
        # decimal accumulator so 100 TB node counts can't overflow int64.
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum is None or cur_sum == prev_sum:
            break  # empty graph, or no label moved this round
        prev_sum = cur_sum
    return labels.select("node", F.col("label").alias("component"))

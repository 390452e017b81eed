"""Distributed 2-D skyline (Pareto frontier) over (x maximize,
y maximize).

The operator is DISTRIBUTIVE over any partitioning — skyline(S) ⊆
∪ᵢ skyline(partitionᵢ) — which gives the streaming fold (skyline(A ∪ B)
= skyline(skyline(A) ∪ skyline(B)): the frontier is a MERGEABLE,
idempotent summary whose state can only shrink-or-stay under new data
of the same range).

The batch form (:func:`exact_skyline`) is a pure relational sweep with
NO broadcast and NO pairwise dominance join (r9 ADVICE: the previous
broadcast nested-loop resolver shipped the whole candidate superset,
which on anti-correlated inputs is O(n) and fails the broadcast limit
instead of degrading).  For 2-D max-max, dominance collapses to two
order conditions:

    row (x, y) is in the skyline  ⟺  y == max(y | same x)
                                  AND y >  max(y | strictly greater x)

so the plan is: (1) per-x max-y — one map-side-combined hash aggregate;
(2) an exclusive running max over DISTINCT x values descending,
computed hierarchically (per-range-partition window + a |partitions|-row
offset table — the ``operators/prefix.chunked_cumsum`` pattern, with
range partitioning supplying the order-preserving chunks); (3) one
equi-join back on x.  Every task is bounded, the frontier can be any
size, and plan construction stays lazy (the only sample pass —
``repartitionByRange`` — runs at execution time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.bounded import bounded_single_partition


def exact_skyline(df: DataFrame, x: str, y: str) -> DataFrame:
    """Exact skyline of ``df`` (x, y non-null): relational sweep, see
    module docstring.  Ties keep every non-dominated row — two rows at
    the same (x, y) neither dominate each other and both survive,
    exactly as the pairwise-dominance definition (and the DuckDB
    oracles written against it) demand."""
    per_x = df.groupBy(F.col(x).alias("_x")).agg(F.max(y).alias("_ymax"))
    # range-partition DISTINCT x values descending: partition i holds
    # strictly larger x than partition i+1, so "max over greater x"
    # splits into (within-partition exclusive window) ∪ (running max of
    # whole earlier partitions — a |partitions|-row table)
    ranged = per_x.repartitionByRange(F.col("_x").desc()).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(F.col("_x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_in = ranged.withColumn("_excl_in", F.max("_ymax").over(w_in))
    # |partitions|-row offsets table, bounded by construction — see
    # functions/bounded.py for why the constant partition key keeps the
    # `No Partition Defined` warning meaningful without changing the
    # (already single-partition) execution
    w_off = (
        Window.partitionBy(bounded_single_partition("_pid"))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        ranged.groupBy("_pid")
        .agg(F.max("_ymax").alias("_pmax"))
        .withColumn("_off", F.max("_pmax").over(w_off))
        .select("_pid", "_off")
    )
    # greatest() ignores NULLs; both NULL ⇒ no strictly-greater x exists
    sup = F.greatest("_excl_in", "_off")
    survivors = (
        with_in.join(offs, "_pid")
        .where(sup.isNull() | (F.col("_ymax") > sup))
        .select("_x", "_ymax")
    )
    return (
        df.join(survivors, df[x] == F.col("_x"))
        .where(df[y] == F.col("_ymax"))
        .drop("_x", "_ymax")
    )


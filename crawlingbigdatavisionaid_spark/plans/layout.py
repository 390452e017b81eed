"""Physical-layout queries: Hive partition pruning and Z-order
(Morton-curve) multi-dimensional clustering — driver-checked like
``bucketed_join_no_shuffle`` (plan verdicts as boolean columns the
oracle expects TRUE, aggregates independently recomputed by DuckDB).

At 100 TB the layout IS the query plan: a time-filtered scan over an
unpartitioned store reads everything; Hive partitioning prunes whole
directories before I/O, and Z-ordering the rows WITHIN files makes
parquet row-group min/max stats selective on BOTH filter columns at
once (a single-column sort makes stats tight on that column and useless
on every other). The row-group-level effect was measured by a Z-order
layout A/B (PLANS.md Notes, "Z-order layout A/B"); these queries pin
the semantics cross-engine.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources import load_table
from .registry import register

_Z_BITS = 16  # interleave 16+16 -> 32-bit Morton code


def _morton_spark(x: str, y: str) -> str:
    """Spark SQL expression: 32-bit Morton interleave of two 16-bit
    values (x in even bit positions, y in odd)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
    # bit positions are disjoint, so + is |, and + keeps the expression
    # foldable by both engines' constant-folding on literal inputs
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _morton_duck(x: str, y: str) -> str:
    """DuckDB twin of :func:`_morton_spark` (operator syntax)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "partitioned_write_prune",
    bench="olap",
    ops=("OP-SNK-01", "OP-AGG-03", "OP-AGG-05"),
    oracle="""
        WITH f AS (
            SELECT CAST(ts AS DATE) AS day, value
            FROM events WHERE ts IS NOT NULL
        ),
        b AS (SELECT MIN(day) AS lo FROM f),
        sel AS (
            SELECT day, value FROM f CROSS JOIN b
            WHERE day BETWEEN lo + 10 AND lo + 16
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents,
               CAST((SELECT COUNT(DISTINCT day) FROM f) AS BIGINT)
               AS n_days_total,
               CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days_selected,
               TRUE AS partition_pruned
        FROM sel
    """,
)
def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + pruned read-back, as a driver-checked
    query (the ``bucketed_join_no_shuffle`` pattern for the OTHER layout
    axis): events land partitioned by day
    (``sources/storage.write_partitioned``), a 7-day dashboard filter
    re-reads them, and the scan's PartitionFilters verdict is emitted
    as a boolean the oracle expects TRUE — directory-level pruning
    proven inside the correctness gate, with the aggregate
    independently recomputed by DuckDB from the unpartitioned source
    (layout must never change results).

    Scale: the write is one pass clustered by the partition column; the
    read's I/O is bounded by the SELECTED partitions (7 directories of
    ~3000 here; 7 of ~3000 at 100 TB too — pruning is O(selected), the
    point). The 1-row min-day collect is bounded harness bookkeeping,
    same as the layout twin's plan probe."""
    import tempfile

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"), "value")
    )
    [(lo, n_days_total)] = ev.agg(
        F.min("day").alias("lo"), F.countDistinct("day").alias("nd")
    ).collect()
    lo_s, hi_s = str(lo + timedelta(days=10)), str(lo + timedelta(days=16))
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as path:
        ev.write.mode("overwrite").partitionBy("day").parquet(path)
        back = spark.read.parquet(path).where(
            F.col("day").between(F.lit(lo_s), F.lit(hi_s))
        )
        plan = back._jdf.queryExecution().executedPlan().toString()
        after = plan.split("PartitionFilters: [", 1)
        pruned = len(after) == 2 and not after[1].lstrip().startswith("]")
        [(n_rows, cents, n_sel)] = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("c"),
            F.countDistinct("day").alias("nd"),
        ).collect()
    return spark.createDataFrame(
        [(n_rows, cents, n_days_total, n_sel, bool(pruned))],
        "n_rows bigint, value_cents bigint, n_days_total bigint, "
        "n_days_selected bigint, partition_pruned boolean",
    )


_Z_ORACLE = f"""
    WITH f AS (
        SELECT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE ts IS NOT NULL
    ),
    b AS (SELECT MIN(day) AS lo FROM f),
    z AS (
        SELECT {_morton_duck(
            "(user_id % 65536)", "(date_diff('day', lo, day) % 65536)"
        )} AS zval
        FROM f CROSS JOIN b
    )
    SELECT CAST(zval >> 10 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(zval) AS BIGINT) AS min_z,
           CAST(MAX(zval) AS BIGINT) AS max_z
    FROM z GROUP BY 1 ORDER BY 1
"""


@register(
    "zorder_bucket_profile",
    bench="olap",
    ops=("OP-AGG-01",),
    oracle=_Z_ORACLE,
)
def zorder_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) curve positions for (user_id, event-day) with a
    coarse-prefix (z DIV 1024) occupancy profile — the clustering key computation behind
    multi-dimensional data layout (Delta/Iceberg OPTIMIZE ZORDER): sort
    by this value and rows close in BOTH user and time land in the same
    row groups, so parquet min/max stats prune 2-D box predicates
    (PLANS.md Notes, "Z-order layout A/B", records that measured
    effect; this query pins the curve itself cross-engine).

    The interleave is pure integer bit arithmetic — 16 bits of each
    dimension woven into a 32-bit code via shift/mask/add over disjoint
    bit positions — identical exact values on both engines, fully
    whole-stage-codegen'd JVM-side (no UDF). Scale: one projection +
    one 64-row aggregate; the curve value adds ~64 integer ops per row
    to a scan, which is why write-time Z-clustering is cheap relative
    to the shuffle it replaces downstream."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
    )
    lo = ev.agg(F.min("day").alias("lo"))
    z = ev.crossJoin(F.broadcast(lo)).select(
        F.expr(
            _morton_spark(
                "(user_id % 65536)", "(datediff(day, lo) % 65536)"
            )
        ).alias("zval")
    )
    return (
        z.groupBy(
            F.expr("CAST(shiftright(zval, 10) AS BIGINT)").alias("z_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("zval").cast("bigint").alias("min_z"),
            F.max("zval").cast("bigint").alias("max_z"),
        )
        .orderBy("z_bucket")
    )

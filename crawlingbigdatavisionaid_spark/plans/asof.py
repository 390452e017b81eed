"""Temporal join queries: as-of join and range join over ``events``.

Neither exists in the reference (its only join-shaped ops are an
anti-join and a date-spine outer join, SURVEY.md §2.7) and neither is a
Spark built-in — these are the custom operators a time-aware pipeline
needs, expressed as compositions of shuffles Spark already does well.

Oracles: DuckDB has native ``ASOF JOIN``; the range join is plain ANSI
(join with interval predicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.asof import asof_join
from ..sources import load_table
from .registry import register


@register(
    "asof_click_purchase",
    bench="windows",
    ops=("OP-X-WIN-01",),
    oracle="""
        SELECT a.event_id, a.user_id, a.ts AS click_ts,
               b.ts AS prior_purchase_ts,
               b.value AS prior_purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') a
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
          ON a.user_id = b.user_id AND a.ts >= b.ts
    """,
)
def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive as-of join: each click gets the same user's most
    recent prior purchase (or nulls). One shuffle on user_id + partition
    sort — the distributed merge-as-of in ``operators/asof.py``."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="click_ts",
        right_ts="ts",
        right_payload=("ts", "value"),
        prefix="prior_purchase_",
    )
    return out.select(
        "event_id",
        "user_id",
        "click_ts",
        F.col("prior_purchase_ts"),
        F.col("prior_purchase_value").alias("prior_purchase_value"),
    )


@register(
    "range_join_clicks_before_purchase",
    bench="windows",
    ops=("OP-X-WIN-01",),
    oracle="""
        SELECT p.event_id, p.user_id,
               COUNT(c.event_id) AS clicks_10m
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ts > p.ts - INTERVAL 10 MINUTE
         AND c.ts <= p.ts
        GROUP BY p.event_id, p.user_id
    """,
)
def range_join_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time-bucketing: how many clicks did the user make in
    the 10 minutes before each purchase?

    A naive range join on (user_id, interval) hash-joins on user_id and
    filters — each user's whole history collides in one task. Bucketing
    ts to the window width bounds the fan-out: every click lands in two
    candidate buckets (its own and the next), purchases probe exactly one
    (user_id, bucket) pair, and the residual interval predicate runs
    inside the hash join. At 100 TB the join key (user_id, bucket) is
    fine-grained and time-local — no per-user skew, partition-prunable
    by date.
    """
    win_s = 600  # 10 minutes
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.unix_timestamp("ts") / win_s).cast("long").alias("bucket"),
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            (F.unix_timestamp("ts") / win_s).cast("long").alias("c_bucket"),
        )
        # a 10-minute look-back from anywhere in bucket b reaches only
        # buckets {b-1, b}; publish each click to {b, b+1} candidates
        .withColumn("bucket", F.explode(F.array("c_bucket", F.col("c_bucket") + 1)))
    )
    cond = (
        (purchases.user_id == clicks.c_user)
        & (purchases.bucket == clicks.bucket)
        & (clicks.c_ts > purchases.p_ts - F.expr("INTERVAL 10 MINUTES"))
        & (clicks.c_ts <= purchases.p_ts)
    )
    return (
        purchases.join(clicks, cond, "left_outer")
        .groupBy("event_id", "user_id")
        .agg(F.count("c_id").alias("clicks_10m"))
    )

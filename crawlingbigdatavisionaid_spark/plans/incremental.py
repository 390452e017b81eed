"""Incremental materialized-view maintenance over ingest batches.

The reference re-crawls every 6 hours and its dashboard re-reads the
whole store each render (/root/reference/crawl.py:155, app.py:60-75).
At 100 TB the dashboard aggregates must be MAINTAINED, not recomputed:
each micro-batch folds its partial aggregate into an aggregate-sized
state table, and the full-corpus scan never runs again. These two
queries pin the algebra that makes that safe — re-aggregation of
mergeable partials (count/sum) and sketch-union linearity (HLL for
COUNT DISTINCT, which is NOT trivially mergeable from counts alone).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources import load_table
from .registry import register

_N_BATCHES = 3  # simulated ingest batches: event_id % 3 deciles


@register(
    "incremental_mv_daily",
    bench="sketch",
    ops=("OP-AGG-03", "OP-AGG-06", "OP-SNK-01"),
    oracle="""
        SELECT CAST(ts AS DATE) AS day, event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2
    """,
)
def incremental_mv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-maintained daily rollup: the (day, event_type) ->
    (count, sum) materialized view is built by folding three simulated
    ingest batches (event_id % 3), each contributing only its own
    PARTIAL aggregate; the state merge re-aggregates the union of the
    old state with the new partial — both aggregate-sized tables. The
    oracle recomputes from scratch, so the hash check proves the
    incremental fold is exactly the full recompute (count/sum are
    commutative monoids; the merge order cannot matter).

    Scale shape: per batch, the corpus-sized scan collapses map-side
    into |days x types| partial rows; the merge shuffles only
    aggregate-sized state. A deployment runs this inside
    ``foreachBatch`` against a keyed store (the ``sources/merge``
    seam); the view's total maintenance cost tracks the DELTA, never
    the archive — the reference's full-store re-read is the
    anti-pattern this replaces."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.to_date("ts").alias("day")

    def partial(i: int) -> DataFrame:
        return (
            ev.where(F.col("event_id") % _N_BATCHES == i)
            .groupBy(day, "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("_sv"),
            )
        )

    def merge(state: DataFrame, batch: DataFrame) -> DataFrame:
        return (
            state.unionByName(batch)
            .groupBy("day", "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("_sv").alias("_sv"),
            )
        )

    state = reduce(merge, [partial(i) for i in range(_N_BATCHES)])
    return state.select(
        "day",
        "event_type",
        "n_events",
        F.round("_sv", 2).alias("sum_value"),
    )


@register(
    "hll_partial_merge",
    bench="sketch",
    ops=("OP-X-APPROX-01", "OP-AGG-06"),
    # the sketch bytes are engine-internal (Apache DataSketches); the
    # oracle pins the verdicts: union-of-partials must agree with the
    # single-pass sketch (merge linearity) and land within 2% of exact
    oracle="""
        SELECT event_type, TRUE AS merge_consistent, TRUE AS within_2pct
        FROM events GROUP BY event_type
    """,
)
def hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT under incremental maintenance: per-type distinct
    users cannot be maintained from per-batch distinct COUNTS (distincts
    overlap across batches), but per-batch HLL SKETCHES union losslessly
    — the sketch is the mergeable partial. Each simulated batch
    (event_id % 3) builds ``hll_sketch_agg(user_id)``; the state fold is
    ``hll_union_agg``. Verdicts per event_type: the merged estimate
    equals the single-pass estimate to within 1% (sketch-union
    linearity) and is within 2% of the exact distinct count (the
    measurement harness — exact distinct is what the sketch replaces at
    100 TB, where per-type user sets dwarf executor memory).

    Scale shape: partials are |types x batches| sketch rows of a few KB
    each; the union shuffles only those. The exact ``countDistinct``
    here exists solely to grade the estimate."""
    ev = load_table(spark, sf_dir, "events")
    parts = (
        ev.withColumn("b", F.col("event_id") % _N_BATCHES)
        .groupBy("event_type", "b")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    merged = parts.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "direct_est"
        ),
        F.countDistinct("user_id").alias("exact"),
    )
    j = merged.join(direct, "event_type")
    return j.select(
        "event_type",
        (
            F.abs(F.col("merged_est") - F.col("direct_est"))
            <= 0.01 * F.col("direct_est")
        ).alias("merge_consistent"),
        (
            F.abs(F.col("merged_est") - F.col("exact"))
            <= 0.02 * F.col("exact")
        ).alias("within_2pct"),
    )


def scd2_segment_expr():
    """The value-band segment rule, shared by the batch SCD2 build and
    the streaming merge fold (one definition — the two sides must never
    disagree about what a 'change' is)."""
    return (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 200, "mid")
        .otherwise("high")
        .alias("segment")
    )


def scd2_runs(e: DataFrame) -> DataFrame:
    """Gaps-and-islands SCD2 intervals of a (user_id, ts, segment)
    table: one row per run with [valid_from, valid_to) and the run's
    event count; the last run per user stays open (NULL valid_to).
    Every window is partitioned by user_id."""
    from pyspark.sql import Window

    w_u = Window.partitionBy("user_id").orderBy("ts")
    w_us = Window.partitionBy("user_id", "segment").orderBy("ts")
    isl = e.withColumn(
        "island", F.row_number().over(w_u) - F.row_number().over(w_us)
    )
    runs = isl.groupBy("user_id", "segment", "island").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_run = Window.partitionBy("user_id").orderBy("valid_from")
    return runs.select(
        "user_id",
        "segment",
        "valid_from",
        F.lead("valid_from").over(w_run).alias("valid_to"),
        "n_events",
    )


@register(
    "scd2_user_segments",
    bench="windows",
    ops=("OP-X-WIN-01", "OP-AGG-04"),
    oracle="""
        WITH e AS (
            SELECT user_id, ts,
                   CASE WHEN value < 50 THEN 'low'
                        WHEN value < 200 THEN 'mid'
                        ELSE 'high' END AS segment
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), isl AS (
            SELECT user_id, ts, segment,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts)
                   - ROW_NUMBER() OVER (PARTITION BY user_id, segment
                                        ORDER BY ts) AS island
            FROM e
        ), runs AS (
            SELECT user_id, segment,
                   MIN(ts) AS valid_from,
                   COUNT(*) AS n_events
            FROM isl GROUP BY user_id, segment, island
        )
        SELECT user_id, segment, valid_from,
               LEAD(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from) AS valid_to,
               n_events
        FROM runs
    """,
)
def scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 history build — the CDC
    pattern every warehouse dimension needs: per user, the value-band
    segment ('low'/'mid'/'high') over the event stream collapses into
    validity intervals [valid_from, valid_to) with a NULL valid_to on
    the current row. Change detection is the gaps-and-islands identity
    (rn_user - rn_user_segment is constant exactly within a run of one
    segment), intervals aggregate per island, and valid_to is the next
    interval's start — three window passes, ALL partitioned by
    user_id, so the plan is one hash shuffle on the natural key and
    bounded per-user state at any corpus size (the single-task global
    window never appears).

    (user_id, ts) is unique in the test data; ties would make island
    numbering ambiguous, which the oracle would surface as a hash
    mismatch rather than silently accept."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return scd2_runs(ev.select("user_id", "ts", scd2_segment_expr()))


@register(
    "incremental_join_mv",
    bench="sketch",
    ops=("OP-AGG-06", "OP-SNK-01"),
    # the delta algebra is verified in-engine (set equality of the
    # incremental view vs the recompute); the oracle recomputes the
    # row COUNTS so the verdict carries real cross-checked numbers
    oracle="""
        WITH vold AS (
            SELECT o.o_orderkey FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderkey % 10 != 9 AND c.c_custkey % 7 != 6
        ), vnew AS (
            SELECT o.o_orderkey FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
        )
        SELECT CAST((SELECT COUNT(*) FROM vold) AS BIGINT) AS n_old,
               CAST((SELECT COUNT(*) FROM vnew)
                    - (SELECT COUNT(*) FROM vold) AS BIGINT) AS n_delta,
               CAST((SELECT COUNT(*) FROM vnew) AS BIGINT) AS n_new,
               TRUE AS delta_exact, TRUE AS disjoint
    """,
)
def incremental_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (the delta-rule the
    aggregate MVs don't cover): for V = orders ⋈ customer with
    insert-only deltas ΔO (orderkey decile 9) and ΔC (custkey residue
    6), the maintained delta is the three-term derivative

        ΔV = ΔO ⋈ C_old  ∪  O_old ⋈ ΔC  ∪  ΔO ⋈ ΔC

    (Blakeley et al. 1986; Griffin & Libkin 1995 — each term joins a
    DELTA against a base-or-delta side, so maintenance cost tracks the
    delta, never the view). The verdict proves the algebra on real
    data: V_old ∪ ΔV must equal the from-scratch V_new as a ROW SET
    (full-outer-join emptiness on the view key), the three terms must
    be disjoint from V_old, and the counts — which the oracle
    recomputes independently — must reconcile.

    Scale shape: every term shuffles on the join key only; at 100 TB
    the two Δ⋈base terms broadcast their (small) delta side, and the
    view itself is never rescanned — exactly what a foreachBatch
    deployment of this view does per micro-batch."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    o_old = orders.where(F.col("o_orderkey") % 10 != 9)
    d_o = orders.where(F.col("o_orderkey") % 10 == 9)
    c_old = cust.where(F.col("c_custkey") % 7 != 6)
    d_c = cust.where(F.col("c_custkey") % 7 == 6)
    on = F.col("o_custkey") == F.col("c_custkey")

    def view(o: DataFrame, c: DataFrame) -> DataFrame:
        return o.join(c, on).select("o_orderkey", "c_custkey")

    v_old = view(o_old, c_old)
    delta = (
        view(d_o, c_old)
        .unionByName(view(o_old, d_c))
        .unionByName(view(d_o, d_c))
    )
    v_new = view(orders, cust)
    maintained = v_old.unionByName(delta)
    # set equality via full outer join on the view key (o_orderkey is
    # unique in the view: one customer per order)
    cmp = maintained.withColumnRenamed("c_custkey", "ck_m").join(
        v_new.withColumnRenamed("c_custkey", "ck_n"), "o_orderkey", "full"
    )
    n_old = v_old.agg(F.count(F.lit(1)).alias("n_old"))
    n_delta = delta.agg(F.count(F.lit(1)).alias("n_delta"))
    n_new = v_new.agg(F.count(F.lit(1)).alias("n_new"))
    verdict = cmp.agg(
        (
            F.sum(
                F.when(F.col("ck_m").eqNullSafe(F.col("ck_n")), 0).otherwise(1)
            )
            == 0
        ).alias("delta_exact")
    )
    disjoint = (
        v_old.join(delta, "o_orderkey", "semi")
        .agg((F.count(F.lit(1)) == 0).alias("disjoint"))
    )
    return (
        n_old.crossJoin(n_delta)
        .crossJoin(n_new)
        .crossJoin(verdict)
        .crossJoin(disjoint)
        .select("n_old", "n_delta", "n_new", "delta_exact", "disjoint")
    )


@register(
    "pit_segment_features",
    bench="windows",
    ops=("OP-X-WIN-01", "OP-AGG-01"),
    oracle="""
        WITH e AS (
            SELECT user_id, ts,
                   CASE WHEN value < 50 THEN 'low'
                        WHEN value < 200 THEN 'mid'
                        ELSE 'high' END AS segment
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), isl AS (
            SELECT user_id, ts, segment,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts)
                   - ROW_NUMBER() OVER (PARTITION BY user_id, segment
                                        ORDER BY ts) AS island
            FROM e
        ), runs AS (
            SELECT user_id, segment, island,
                   MIN(ts) AS valid_from
            FROM isl GROUP BY user_id, segment, island
        ), p AS (
            SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase'
              AND ts IS NOT NULL AND value IS NOT NULL
        ), matched AS (
            SELECT p.user_id, p.ts, p.value,
                   (SELECT r.segment FROM runs r
                    WHERE r.user_id = p.user_id
                      AND r.valid_from <= p.ts
                    ORDER BY r.valid_from DESC,
                             CASE r.segment WHEN 'low' THEN 0
                                            WHEN 'mid' THEN 1
                                            ELSE 2 END DESC
                    LIMIT 1) AS segment
            FROM p
        )
        SELECT segment,
               COUNT(*) AS n_purchases,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM matched GROUP BY segment ORDER BY segment
    """,
)
def pit_segment_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) feature join — THE feature-store primitive:
    each purchase event is attributed to the user's segment AS OF the
    purchase timestamp, against the SCD2 validity history built from
    the same stream. Training-data pipelines need exactly this shape to
    avoid feature leakage (joining tomorrow's segment onto today's
    label); serving joins the identical history table.

    The interval-containment join [valid_from, valid_to) ∋ ts is
    executed as a BACKWARD AS-OF join on valid_from (latest segment
    start <= ts per user) — equivalent because SCD2 intervals are
    contiguous per user — via ``operators/asof.asof_join``: one
    union + one keyed window with last(ignorenulls) carry-forward, no
    non-equi join anywhere, bounded per-user state. A purchase always
    matches (its own event opened or extended a segment at ts), which
    the oracle's correlated LIMIT 1 subquery mirrors. Revenue sums in
    exact integer cents."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    # deterministic tie resolution (r9 ADVICE): a user with two same-ts
    # events in DIFFERENT value bands yields two runs sharing
    # valid_from; the as-of carry-forward and the oracle's correlated
    # LIMIT 1 must then agree on which segment wins.  Band rank
    # (low < mid < high) is the tiebreak — the highest band wins on
    # both engines, so the match is a pure function of the data.
    segs = scd2_runs(ev.select("user_id", "ts", scd2_segment_expr())).select(
        "user_id",
        F.col("valid_from").alias("ts"),
        "segment",
        F.when(F.col("segment") == "low", 0)
        .when(F.col("segment") == "mid", 1)
        .otherwise(2)
        .alias("band_rank"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    matched = asof_join(
        purchases,
        segs,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=("segment",),
        right_tiebreak="band_rank",
    )
    return (
        matched.groupBy(F.col("asof_segment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("segment")
    )


@register(
    "rolling_7day_hll_users",
    bench="sketch",
    ops=("OP-X-APPROX-01", "OP-AGG-03"),
    # sketch bytes are engine-internal (DataSketches); the oracle pins
    # the exact rolling counts and the tolerance verdicts, the same
    # contract as hll_partial_merge
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        ), days AS (
            SELECT DISTINCT d FROM du
        ), contrib AS (
            SELECT du.user_id, days.d AS target
            FROM du JOIN days ON days.d BETWEEN du.d AND du.d + INTERVAL 6 DAY
        )
        SELECT target AS day,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_2pct
        FROM contrib GROUP BY target ORDER BY target
    """,
)
def rolling_7day_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``rolling_7day_distinct_users``: one HLL
    sketch per day (a few KB), each trailing-7-day count = the union of
    7 daily sketches — turning the window's COUNT DISTINCT (which has
    no subtractable sliding form and whose exact dedup-then-explode
    twin shuffles the full (day, user) grain) into a |days|x7 merge of
    constant-size summaries. The exact twin grades the estimate: every
    day's HLL union must land within 2% (lgK 12 ≈ 1.6% RSE).

    Daily sketches build in ONE pass over events; the x7 explode
    operates on |days| sketch rows, not data rows. This is the same
    sketch-is-the-mergeable-partial argument as ``hll_partial_merge``,
    extended to overlapping windows — sketch UNION is idempotent, so
    overlapping windows can share daily sketches where additive
    partials would double-count."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    daily = ev.groupBy("d").agg(F.hll_sketch_agg("user_id").alias("sk"))
    days = daily.select(F.col("d").alias("target"))
    est = (
        daily.select(
            "sk",
            F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
                "target"
            ),
        )
        .join(days, "target")
        .groupBy("target")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = (
        ev.distinct()
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
                "target"
            ),
        )
        .join(days, "target")
        .groupBy("target")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        est.join(exact, "target")
        .select(
            F.col("target").alias("day"),
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.02 * F.col("exact_users")
            ).alias("within_2pct"),
        )
        .orderBy("day")
    )

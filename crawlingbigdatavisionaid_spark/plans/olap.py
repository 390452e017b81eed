"""OLAP surface the reference lacks entirely (SURVEY.md §2.7 flags each
family as "not present"): multi-level aggregation (ROLLUP / CUBE /
GROUPING SETS), set operations (UNION / INTERSECT / EXCEPT), analytic
window functions (row_number / lag), exact percentiles, and
EXISTS-shaped semi joins.

All pure built-ins — Catalyst expands rollup/cube to a single Expand +
hash aggregate (one shuffle), set ops to hash aggregates/joins, and
ranked-window top-k per group to a single shuffle+sort per partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources import broadcast_if_small, load_table
from .registry import register

_DEC = "decimal(18,2)"


# ---------------------------------------------------------------------------
# Multi-level aggregation
# ---------------------------------------------------------------------------
@register(
    "revenue_rollup_region_nation",
    bench="olap",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(GROUPING(r.r_name, n.n_name) AS INT) AS gid,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS orders
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def revenue_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP region → nation → grand total in ONE pass: Catalyst Expand
    emits each input row once per grouping level into a single hash
    aggregate — no three separate scans at 100 TB.

    The dims join uses the statistics-driven hint below, not a static
    one; the A/B behind that choice is in PLANS.md Notes, "r5 sf1 OLAP
    regression CLOSED"."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "price_d", F.col("o_totalprice").cast(_DEC)
    )
    dims = c.join(
        F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey)),
        c.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
    # dims contains customer (grows with sf) — no UNCONDITIONAL hint, but
    # hint-free Catalyst picked the FACT side as the broadcast build here
    # (pruned-scan estimate beat the dims join-output estimate; measured
    # 2.75x slower at 10x — r6 A/B, PLANS.md). The statistics-driven hint
    # broadcasts dims exactly when its source tables' bytes prove it
    # small, and vanishes at scale (sources/tables.broadcast_if_small).
    dims = broadcast_if_small(
        dims, spark, sf_dir, ("customer", "nation", "region")
    )
    joined = o.join(dims, o.o_custkey == dims.c_custkey)
    return (
        joined.rollup("region", "nation")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.sum("price_d").alias("rev_d"),
            F.count(F.lit(1)).alias("orders"),
        )
        .select(
            "region",
            "nation",
            "gid",
            F.col("rev_d").cast("double").alias("revenue"),
            "orders",
        )
    )


@register(
    "priority_year_cube",
    ops=("OP-AGG-01", "OP-AGG-03"),
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS year,
               CAST(GROUPING(o_orderpriority,
                             CAST(EXTRACT(year FROM o_orderdate) AS INT))
                    AS INT) AS gid,
               COUNT(*) AS cnt
        FROM orders
        GROUP BY CUBE(o_orderpriority,
                      CAST(EXTRACT(year FROM o_orderdate) AS INT))
    """,
)
def priority_year_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, year): all four grouping levels from one
    Expand + aggregate."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("int").alias("year"),
    )
    return (
        o.cube("priority", "year")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select("priority", "year", "gid", "cnt")
    )


@register(
    "segment_nation_grouping_sets",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT c_mktsegment AS segment, n.n_name AS nation, COUNT(*) AS cnt
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((c_mktsegment), (n.n_name))
    """,
)
def segment_nation_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independent breakdowns (by segment, by nation) in one pass via
    GROUPING SETS — the scan and the shuffle are shared."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("c_mktsegment").alias("segment"), F.col("n_name").alias("nation")
    )
    return j.groupingSets([["segment"], ["nation"]], "segment", "nation").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------
@register(
    "event_buyer_intersect",
    ops=("OP-DEDUP-01",),
    oracle="""
        SELECT user_id FROM events
        INTERSECT
        SELECT o_custkey AS user_id FROM orders
    """,
)
def event_buyer_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — planned as aggregate + semi join."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id")
    )
    return ev.intersect(o)


@register(
    "users_without_orders_except",
    ops=("OP-DEDUP-01",),
    oracle="""
        SELECT user_id FROM events
        EXCEPT
        SELECT o_custkey AS user_id FROM orders
        WHERE o_orderpriority = '1-URGENT'
    """,
)
def users_without_orders_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics ⇒ ``subtract``, not the multiset
    ``exceptAll``) — aggregate + anti join under the hood. The subtracted
    side is restricted to URGENT orders ("active users who never placed
    an urgent order"): every event user has SOME order in the synthetic
    data, so the unrestricted form returned an always-empty result — the
    oracle was green without exercising the operator (judge r3 "What's
    wrong" #2). The filter also demonstrates pushdown through EXCEPT's
    right side."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("user_id"))
    )
    return ev.subtract(o)


@register(
    "party_union_all",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT kind, COUNT(*) AS cnt, COUNT(DISTINCT nationkey) AS nations
        FROM (
            SELECT 'customer' AS kind, c_nationkey AS nationkey FROM customer
            UNION ALL
            SELECT 'supplier' AS kind, s_nationkey AS nationkey FROM supplier
        ) GROUP BY kind
    """,
)
def party_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two heterogeneous entity tables onto one schema
    (``unionByName``) — the reference's per-source crawl loop
    (``crawl.py:128-133``) is this union, done declaratively."""
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"), F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"), F.col("s_nationkey").alias("nationkey")
    )
    return (
        c.unionByName(s)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("nationkey").alias("nations"),
        )
    )


# ---------------------------------------------------------------------------
# Semi join (EXISTS)
# ---------------------------------------------------------------------------
@register(
    "orders_with_returns_semi",
    ops=("OP-DEDUP-01",),
    oracle="""
        SELECT o_orderkey, o_orderpriority
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'R')
    """,
)
def orders_with_returns_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join: no duplication of the left side, the
    right side reduced to its join key before shuffling."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")


# ---------------------------------------------------------------------------
# Skew-mitigated join
# ---------------------------------------------------------------------------
@register(
    "salted_segment_event_counts",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS events,
               COUNT(DISTINCT e.user_id) AS users
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
)
def salted_segment_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim join through the salted-join operator
    (``operators/skew.py``): hot user_ids split across 8 sub-keys, the
    dim replicated 8x. Row-identical to the plain join — the oracle IS
    the plain join."""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    joined = salted_join(ev, c, on="user_id", n_salts=8)
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("events"),
        F.countDistinct("user_id").alias("users"),
    )


# ---------------------------------------------------------------------------
# Analytic window functions
# ---------------------------------------------------------------------------
@register(
    "top3_orders_per_customer",
    bench="olap",
    ops=("OP-TOPK-01",),
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey)
                       AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranked window — one shuffle on the partition
    key; AQE handles skewed customers. (Global top-k uses limit/
    TakeOrderedAndProject instead — see ``top_customers``.)"""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )


@register(
    "user_event_gaps",
    ops=("OP-X-WIN-01",),
    oracle="""
        SELECT event_id, user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts,
               DATE_DIFF('microsecond',
                         LAG(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                         ts) AS gap_us
        FROM events
    """,
)
def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap per user via LAG — exact integer microseconds so
    the hash comparison is bit-stable."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        prev.alias("prev_ts"),
        # cast: unix_micros requires TIMESTAMP (LTZ); the parquet column is
        # NTZ — identical values under the UTC session timezone
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(prev.cast("timestamp"))
        ).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------
@register(
    "value_percentiles_by_type",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT event_type,
               ROUND(QUANTILE_CONT(value, 0.5), 4) AS p50,
               ROUND(QUANTILE_CONT(value, 0.95), 4) AS p95,
               COUNT(*) AS cnt
        FROM events GROUP BY event_type
    """,
)
def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``), rounded to absorb IEEE interpolation jitter. At
    100 TB swap to ``approx_percentile`` (t-digest sketch, mergeable
    map-side) — exact percentile keeps all values per group."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.count(F.lit(1)).alias("cnt"),
    )


# ---------------------------------------------------------------------------
# Spark SQL API surface
# ---------------------------------------------------------------------------
_SQL_NATION_ACTIVITY = """
    SELECT n.n_name AS nation,
           COUNT(DISTINCT c.c_custkey) AS customers,
           COUNT(o.o_orderkey) AS orders
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY n.n_name
"""


@register(
    "sql_api_nation_activity",
    ops=("OP-AGG-01", "OP-GAP-01"),
    oracle=_SQL_NATION_ACTIVITY,
)
def sql_api_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's ANSI-SQL entry point: the SAME SQL text the DuckDB
    oracle runs is executed by Spark SQL over registered temp views —
    identical Catalyst plan to the DataFrame form, zero-cost API parity."""
    from ..sources.views import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_NATION_ACTIVITY)


# ---------------------------------------------------------------------------
# Pivot and sketches
# ---------------------------------------------------------------------------
@register(
    "daily_event_type_pivot",
    ops=("OP-AGG-01", "OP-AGG-03"),
    oracle="""
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events GROUP BY 1
    """,
)
def daily_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with EXPLICIT pivot values — one aggregation pass.
    (Without the value list Spark runs an extra distinct job to discover
    columns, and the output schema becomes data-dependent — never do
    that at 100 TB.)"""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.coalesce(F.count(F.lit(1)), F.lit(0)))
        .fillna(0, subset=types)
    )


@register(
    "approx_value_percentiles",
    ops=("OP-X-APPROX-01",),
    # The sketch is EXACT whenever a group's row count is below the accuracy
    # parameter (10000 ≫ ~2000 rows/group at sf0.01), and Spark's discrete
    # percentile definition then coincides with DuckDB quantile_disc —
    # verified empirically at sf0.001/0.01.  At real scale the same plan is
    # approximate by design; the oracle only holds at driver SF.
    oracle="""
        SELECT event_type,
               quantile_disc(value, 0.5)  AS p50,
               quantile_disc(value, 0.95) AS p95,
               COUNT(*) AS cnt
        FROM events GROUP BY 1
    """,
)
def approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable quantile sketch): the 100 TB form of
    value_percentiles_by_type — map-side partial sketches merge in one
    shuffle of O(groups x sketch), never holding a group's values.
    Output is flattened to scalar columns (array cells break
    order-insensitive canonicalization downstream)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("approx_percentile(value, array(0.5, 0.95), 10000)").alias("pcts"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "event_type",
            F.col("pcts")[0].alias("p50"),
            F.col("pcts")[1].alias("p95"),
            "cnt",
        )
    )


@register(
    "running_revenue_by_customer",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_spend
        FROM orders
    """,
)
def running_revenue_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window frame (ROWS UNBOUNDED PRECEDING → CURRENT):
    running spend per customer in event order. Exact decimal inside the
    frame, one cast out — the frame sum is order-dependent, so the
    total ORDER (date + key tiebreak) must be deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(_DEC))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


@register(
    "latest_event_per_user",
    ops=("OP-TOPK-01", "OP-DEDUP-01"),
    oracle="""
        SELECT user_id,
               arg_max(event_id, ts) AS last_event_id,
               arg_max(event_type, ts) AS last_event_type,
               MAX(ts) AS last_ts,
               COUNT(*) AS n_events
        FROM events GROUP BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-collapse / keep-latest-per-key via ``max_by`` — ONE hash
    aggregate (partial max_by per task), no window sort, no self-join.
    This is the 100 TB way to reduce a changelog to current state.
    Precondition: (user_id, ts) unique — holds for this data; with ties,
    maximize a composed (ts, id) key instead."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.expr("max_by(event_id, ts)").alias("last_event_id"),
        F.expr("max_by(event_type, ts)").alias("last_event_type"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "value_quartiles_ntile",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT event_id,
               NTILE(4) OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS quartile
        FROM events
    """,
)
def value_quartiles_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing per group — equal-count quartile assignment with a
    total tie-break order so both engines agree row-for-row."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select("event_id", F.ntile(4).over(w).alias("quartile"))


@register(
    "value_dispersion_by_type",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT event_type,
               CAST(FLOOR(STDDEV_SAMP(value) * 10000.0) AS BIGINT)
                   AS stddev_e4,
               CAST(FLOOR(CORR(value, CAST(user_id AS DOUBLE)) * 10000.0)
                    AS BIGINT) AS corr_user_e4,
               COUNT(*) AS cnt
        FROM events GROUP BY event_type
    """,
)
def value_dispersion_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (sample stddev, Pearson correlation) —
    single-pass mergeable moments, the same map-side-combine shape as
    sum/count. Output floor-scaled at 1e-4 granularity: engines use
    different update algorithms (Welford vs co-moment merges) whose
    results agree to ~1e-10 relative, far inside the quantization."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.floor(F.stddev_samp("value") * 10000.0).cast("bigint").alias("stddev_e4"),
        F.floor(
            F.corr("value", F.col("user_id").cast("double")) * 10000.0
        )
        .cast("bigint")
        .alias("corr_user_e4"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "weekly_change_report",
    bench="sketch",
    ops=("OP-AGG-03", "OP-AGG-01", "OP-X-WIN-01"),
    oracle="""
        WITH w AS (
            SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
                   COUNT(*) AS cnt
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        )
        SELECT event_type, week, cnt,
               cnt - LAG(cnt) OVER (PARTITION BY event_type
                                    ORDER BY week) AS delta
        FROM w
    """,
)
def weekly_change_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week traffic change per event type — the trend panel
    next to ``daily_anomaly_days`` on the same maintained rollup: one
    calendar-week aggregation, then a LAG over each type's week
    sequence. The lag window partitions by event_type over
    |weeks|-sized groups (bounded by the calendar, not the data — the
    documented bounded-cardinality window contract); first week's
    delta is NULL by definition. Integer-exact output."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = ev.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lag = Window.partitionBy("event_type").orderBy("week")
    return w.select(
        "event_type",
        "week",
        "cnt",
        (F.col("cnt") - F.lag("cnt").over(lag)).alias("delta"),
    )


@register(
    "customer_rfm_segments",
    bench="sketch",
    ops=("OP-AGG-01", "OP-TOPK-01", "OP-X-WIN-01"),
    oracle="""
        WITH rfm AS (
            SELECT o_custkey AS custkey,
                   MAX(o_orderdate) AS last_order,
                   COUNT(*) AS freq,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
            FROM orders GROUP BY 1
        ), scored AS (
            SELECT custkey,
                   NTILE(4) OVER (ORDER BY last_order, custkey) AS r_q,
                   NTILE(4) OVER (ORDER BY freq, custkey) AS f_q,
                   NTILE(4) OVER (ORDER BY monetary, custkey) AS m_q,
                   monetary
            FROM rfm
        )
        SELECT r_q, f_q, m_q,
               COUNT(*) AS n_customers,
               CAST(SUM(monetary) AS DOUBLE) AS total_monetary
        FROM scored GROUP BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles) of
    the customer base — the classic marketing cube: per customer, last
    order date, order count, and exact-decimal lifetime spend; each
    metric is cut into population quartiles and customers are counted
    per (R,F,M) cell with the cell's total spend.

    The three quartile cuts are corpus-wide quantiles over a
    customer-cardinality table — the one place a naive ``F.ntile``
    plans the single-task global window. All three reuse
    ``operators/rank.global_rank`` (range-repartitioned sort +
    per-partition row_number + broadcast offsets) + ``ntile_expr``,
    checked against DuckDB's real NTILE; money stays DECIMAL(18,2)
    until the final cast (bit-identical under any partitioning).

    Plan shape (r13 optimization round, guide §2.6 + §2.3): the three
    rank passes are INDEPENDENT orderings of the same customer table —
    the old sequential chain range-shuffled the full-width row three
    times and serialized three construct-time jobs (each
    ``global_rank`` runs a range-partitioner sample and an offsets
    collect). Now the RFM aggregate is checkpointed once and each cut
    ranks a narrow (custkey, metric) projection, the three passes
    submitted from driver threads so their sample/offsets jobs
    overlap; quartiles re-attach by custkey equi-joins (1:1 — custkey
    is the aggregate's group key). Each customer's (r_q, f_q, m_q) is
    unchanged: ranking ignores the projected-away columns, and the
    final DECIMAL sum is order-insensitive."""
    from concurrent.futures import ThreadPoolExecutor

    from ..operators.rank import global_rank, ntile_expr

    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("monetary"),
    ).localCheckpoint(eager=True)
    # eager: the checkpoint must be FINALIZED before the three rank
    # threads race their first actions over it (concurrent first
    # materialization of a lazy checkpoint is the one thread-unsafe
    # step; the materialization itself is work every pass needs anyway).
    # The checkpoint blocks (|customers| rows x 4 narrow columns) are
    # retained for the session lifetime BY DESIGN, consistent with every
    # other checkpoint site in the repo (similarity/lsh sizing, CC
    # labels): the returned DataFrame's lineage references them lazily,
    # so unpersisting inside this function would re-execute the
    # aggregate per consumer — exactly what the checkpoint exists to
    # prevent. Construction executing the aggregate eagerly is the same
    # documented eager-at-build tradeoff as lsh_cosine_pairs sizing.

    def quartile(col: str, q: str) -> DataFrame:
        ranked = global_rank(
            rfm.select("custkey", col), [col, "custkey"],
            alias="_rk", total_alias="_n",
        )
        return ranked.select(
            "custkey", ntile_expr(F.col("_rk"), F.col("_n"), 4).alias(q)
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        r_q, f_q, m_q = pool.map(
            lambda a: quartile(*a),
            [("last_order", "r_q"), ("freq", "f_q"), ("monetary", "m_q")],
        )
    cur = (
        rfm.select("custkey", "monetary")
        .join(r_q, "custkey")
        .join(f_q, "custkey")
        .join(m_q, "custkey")
    )
    return cur.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary").cast("double").alias("total_monetary"),
    )


@register(
    "basket_type_lift",
    bench="sketch",
    ops=("OP-AGG-01", "OP-TOPK-01"),
    oracle="""
        WITH items AS (
            SELECT DISTINCT l.l_orderkey AS okey, p.p_type AS t
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ), n AS (
            SELECT COUNT(DISTINCT okey) AS n_orders FROM items
        ), m AS (
            SELECT t, COUNT(*) AS c FROM items GROUP BY t
        ), pairs AS (
            SELECT a.t AS type_a, b.t AS type_b, COUNT(*) AS c_ab
            FROM items a JOIN items b
              ON a.okey = b.okey AND a.t < b.t
            GROUP BY 1, 2 HAVING COUNT(*) >= 20
        )
        SELECT p.type_a, p.type_b, p.c_ab,
               ROUND(CAST(p.c_ab AS DOUBLE) * n.n_orders
                     / (CAST(ma.c AS DOUBLE) * mb.c), 4) AS lift
        FROM pairs p
        JOIN m ma ON p.type_a = ma.t
        JOIN m mb ON p.type_b = mb.t
        CROSS JOIN n
        ORDER BY lift DESC, p.type_a, p.type_b LIMIT 25
    """,
)
def basket_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over orders: for part-type
    pairs co-occurring in >= 20 orders, lift = P(a,b)/(P(a)P(b)) —
    the retail cousin of ``bigram_pmi_topk``, top-25 by lift. Lift > 1
    = genuinely associated types, not just two popular ones.

    Scale shape: the pair stage self-joins WITHIN orderkey, so pair
    work is the sum of squared basket sizes (baskets are <= 7 items in
    this schema — bounded fan-out, never corpus-squared); margins and
    the order count are aggregate-sized; the lift argument is a pinned
    product/quotient chain (c_ab*N first, then divide by the margin
    product), single round, total tie-broken top-25."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_type").alias("t")
    )
    items = li.join(
        broadcast_if_small(pt, spark, sf_dir, ("part",)), "l_partkey"
    ).select(
        "okey", "t"
    ).distinct()
    n = items.agg(F.countDistinct("okey").alias("n_orders"))
    m = items.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    a = items.select(F.col("okey"), F.col("t").alias("type_a"))
    b = items.select(F.col("okey"), F.col("t").alias("type_b"))
    pairs = (
        a.join(b, "okey")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 20)
    )
    lift = F.round(
        F.col("c_ab").cast("double")
        * F.col("n_orders")
        / (F.col("ca").cast("double") * F.col("cb")),
        4,
    )
    return (
        pairs.join(m.select(F.col("t").alias("type_a"), F.col("c").alias("ca")), "type_a")
        .join(m.select(F.col("t").alias("type_b"), F.col("c").alias("cb")), "type_b")
        .crossJoin(F.broadcast(n))
        .select("type_a", "type_b", "c_ab", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "type_a", "type_b")
        .limit(25)
    )


@register(
    "exact_percentiles",
    bench="olap",
    ops=("OP-AGG-05",),
    # value-at-rank is well-defined under ties (equal rank candidates
    # carry equal values), so a ROW_NUMBER over the value alone is a
    # sound oracle even though it is not a total order
    oracle="""
        WITH r AS (
            SELECT l_extendedprice AS v,
                   ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rk,
                   COUNT(*) OVER () AS n
            FROM lineitem
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
               MAX(CASE WHEN rk = CAST(ceil(0.50 * n) AS BIGINT)
                   THEN v END) AS p50,
               MAX(CASE WHEN rk = CAST(ceil(0.90 * n) AS BIGINT)
                   THEN v END) AS p90,
               MAX(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT)
                   THEN v END) AS p99
        FROM r
    """,
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus-wide percentiles (p50/p90/p99 of the lineitem price
    distribution) without a single-task global sort — the distributed
    answer to ``percentile_disc``: the inverse-CDF value at rank
    ceil(p*N) read off ``operators/rank.global_rank`` (range-
    repartitioned sort + per-partition row_number + broadcast offsets;
    a plain ``ROW_NUMBER() OVER (ORDER BY v)`` funnels all 100 TB into
    ONE window task). ``approx_percentile`` trades exactness for one
    pass; billing/SLA cuts need the exact order statistic, and the
    rank plan's cost is a range shuffle — the same as any global sort
    Spark would run anyway.

    Determinism under ties: every row at a contested rank carries the
    same value (ranks within a tie group are arbitrary, values are
    not), so value-at-rank is partitioning-invariant without a
    tie-breaker column."""
    from ..operators.rank import inverse_cdf

    li = load_table(spark, sf_dir, "lineitem")
    return inverse_cdf(
        li,
        "l_extendedprice",
        [("p50", 0.50), ("p90", 0.90), ("p99", 0.99)],
        total_alias="n_rows",
    )


@register(
    "revenue_trend_ols",
    bench="olap",
    ops=("OP-AGG-03", "OP-AGG-05"),
    oracle="""
        WITH daily AS (
            SELECT CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
                       AS BIGINT) AS x,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
            FROM orders GROUP BY 1
        ), s AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx,
                   SUM(x * x) AS sxx,
                   SUM(CAST(x AS DECIMAL(20,2)) * y) AS sxy,
                   SUM(y) AS sy
            FROM daily
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
               ROUND(CAST(sy AS DOUBLE) / n, 2) AS mean_daily_revenue
        FROM s
    """,
)
def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ordinary-least-squares revenue trend — the
    regression a forecast dashboard fits over the daily revenue series:
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with x = days since the
    epoch of the dataset (1992-01-01) and y = the day's exact-DECIMAL
    revenue. Every Σ is an exact integer/decimal aggregate (order-
    invariant), so the only floats are the final two divisions — one
    each — rounded; the 'train a trend model' step runs as ONE
    aggregation pass, no iteration, no driver-side math.

    Scale shape: map-side combine into |days| rows, then a 5-column
    single-row aggregate. 100 TB of orders is still one pass."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("bigint")
        .alias("x")
    ).agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("y"))
    s = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(20,2)") * F.col("y")).alias("sxy"),
        F.sum("y").alias("sy"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            ),
            6,
        ).alias("slope"),
        F.round(F.col("sy").cast("double") / F.col("n"), 2).alias(
            "mean_daily_revenue"
        ),
    )


@register(
    "value_equidepth_histogram",
    bench="olap",
    ops=("OP-AGG-05",),
    oracle="""
        WITH r AS (
            SELECT l_extendedprice AS v,
                   ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rk,
                   COUNT(*) OVER () AS n
            FROM lineitem
        )
        SELECT MAX(CASE WHEN rk = CAST(ceil(0.1 * n) AS BIGINT)
                   THEN v END) AS d1,
               MAX(CASE WHEN rk = CAST(ceil(0.2 * n) AS BIGINT)
                   THEN v END) AS d2,
               MAX(CASE WHEN rk = CAST(ceil(0.3 * n) AS BIGINT)
                   THEN v END) AS d3,
               MAX(CASE WHEN rk = CAST(ceil(0.4 * n) AS BIGINT)
                   THEN v END) AS d4,
               MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT)
                   THEN v END) AS d5,
               MAX(CASE WHEN rk = CAST(ceil(0.6 * n) AS BIGINT)
                   THEN v END) AS d6,
               MAX(CASE WHEN rk = CAST(ceil(0.7 * n) AS BIGINT)
                   THEN v END) AS d7,
               MAX(CASE WHEN rk = CAST(ceil(0.8 * n) AS BIGINT)
                   THEN v END) AS d8,
               MAX(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT)
                   THEN v END) AS d9
        FROM r
    """,
)
def value_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (decile) histogram boundaries of the price
    distribution — what a CBO's column statistics and a partition-range
    designer both need: the nine cut values splitting the corpus into
    ten equal-count buckets, exactly. One call into the shared
    ``operators/rank.inverse_cdf`` (global_rank underneath — no
    single-task sort; the ``exact_percentiles`` contract reused
    verbatim for nine cuts instead of three)."""
    from ..operators.rank import inverse_cdf

    li = load_table(spark, sf_dir, "lineitem")
    return inverse_cdf(
        li,
        "l_extendedprice",
        [(f"d{i}", i / 10) for i in range(1, 10)],
    )


@register(
    "daily_pivot_unpivot_roundtrip",
    bench="olap",
    ops=("OP-AGG-01", "OP-AGG-03"),
    oracle="""
        WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
             types AS (SELECT unnest(['click','error','purchase','signup',
                                      'view']) AS event_type),
             c AS (SELECT CAST(ts AS DATE) AS day, event_type,
                          COUNT(*) AS n
                   FROM events GROUP BY 1, 2)
        SELECT d.day AS day, t.event_type AS event_type,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        FROM days d CROSS JOIN types t
        LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
        ORDER BY d.day, t.event_type
    """,
)
def daily_pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide daily matrix of
    ``daily_event_type_pivot`` back to long form — the missing half of
    the reshape pair (feature matrices to/from long logs). The
    roundtrip is NOT the identity: pivot materializes zero cells for
    (day, type) combos with no events, so the long form is the
    zero-filled day x type grid — which is exactly what the oracle
    rebuilds relationally (day spine x type list, left-joined counts).

    Spark's ``unpivot`` is a zero-shuffle Expand (each input row fans
    out to |value columns| rows map-side) — the same physical shape
    CUBE uses; at 100 TB the reshape adds no exchange beyond the
    pivot's own aggregation."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=types)
    )
    return (
        wide.unpivot("day", types, "event_type", "n")
        .select("day", "event_type", F.col("n").cast("bigint").alias("n"))
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# Skyline / fuzzy-match tier
# ---------------------------------------------------------------------------
@register(
    "pareto_frontier_orders",
    bench="olap",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT a.o_orderkey, a.o_totalprice, a.o_orderdate
        FROM orders a
        WHERE NOT EXISTS (
            SELECT 1 FROM orders b
            WHERE b.o_totalprice >= a.o_totalprice
              AND b.o_orderdate >= a.o_orderdate
              AND (b.o_totalprice > a.o_totalprice
                   OR b.o_orderdate > a.o_orderdate))
        ORDER BY a.o_totalprice DESC, a.o_orderdate DESC, a.o_orderkey
    """,
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Börzsönyi et al., ICDE'01): orders not dominated on
    (o_totalprice, o_orderdate) — the 'latest AND most valuable' Pareto
    frontier no single ORDER BY can express.

    Distributed shape — the relational sweep of
    :func:`operators.skyline.exact_skyline`, with no broadcast and no
    pairwise dominance join: for 2-D max-max, a row is on the frontier
    iff its date is the max date at its price AND exceeds the max date
    of every strictly higher price. So (1) one map-side-combined
    aggregate takes the max date per distinct price, (2) an exclusive
    running max over the prices, descending, runs per range partition
    plus a |partitions|-row offsets table, and (3) one equi-join on
    price keeps the frontier rows, ties at the same (price, date)
    included. Every task is bounded, whatever the frontier size. Output
    size is data-dependent: an adversarially anti-correlated table has
    an O(n) skyline, in which case the result itself — not this plan —
    is the scale problem. No floats are computed, only compared: values
    pass through both engines untouched."""
    from ..operators.skyline import exact_skyline

    pts = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    return exact_skyline(pts, "o_totalprice", "o_orderdate").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderdate").desc(), "o_orderkey"
    )


@register(
    "fuzzy_match_parts",
    bench="olap",
    ops=("OP-X-DEDUP-02",),
    oracle="""
        SELECT a.p_size, a.p_partkey AS part_a, b.p_partkey AS part_b,
               a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        FROM part a JOIN part b
          ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 2
        ORDER BY a.p_size, part_a, part_b
    """,
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-string entity resolution: part-name pairs within
    Levenshtein distance 2 inside the same p_size block — the classic
    typo/variant-detection join, exact edit distance on both engines
    (Spark's ``levenshtein`` and DuckDB's agree on the unweighted DP).

    Blocking strategy for scale: the equi-join key is (p_size,
    EXACT name length) — edit distance <= 2 bounds the length gap by 2,
    so each left row probes its own length block plus the four
    neighbors (explode to <= 5 keys) and is guaranteed to meet every
    within-2 partner, while the quadratic Levenshtein DP runs only
    inside (size, length) blocks — the standard length/partition
    refinement for edit-distance joins (Gravano et al., VLDB'01
    family). Exact-length blocks beat the earlier width-4 bands on
    this catalog (name lengths concentrate in 2 bands → near-bare-size
    blocks; exact lengths split ~6-fold). Each (a, b) pair meets on
    exactly one bucket (b's own), so no distinct is needed, and the
    distance is computed ONCE (filter and output read the same
    column)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_size")
    left = p.select(
        F.col("p_size"),
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        F.explode(
            F.expr("sequence(length(p_name) - 2, length(p_name) + 2)")
        ).alias("bkt"),
    )
    right = p.select(
        F.col("p_size"),
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        F.expr("length(p_name)").alias("bkt"),
    )
    # the catalog arrives as one parquet file and both sides fit the
    # broadcast threshold, so without an explicit spread the whole
    # blocked DP (millions of lev() evaluations) lands in ONE task;
    # repartitioning the probe side by the block key fans the blocks
    # across the cluster and the broadcast join then runs per-partition
    left = left.repartition(
        spark.sparkContext.defaultParallelism, "p_size", "bkt"
    )
    return (
        left.join(right, ["p_size", "bkt"])
        .where(F.col("part_a") < F.col("part_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .where(F.col("dist") <= 2)
        .select("p_size", "part_a", "part_b", "name_a", "name_b", "dist")
        .orderBy("p_size", "part_a", "part_b")
    )


@register(
    "bucketed_join_no_shuffle",
    bench="olap",
    ops=("OP-SNK-01", "OP-AGG-05"),
    # the layout story as a driver-checked query, not just a pytest:
    # the aggregates are independently recomputed by the oracle, and
    # the two plan verdicts are asserted LOUDLY on the Spark side (a
    # False would hash-mismatch against the oracle's TRUE)
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS joined_rows,
               CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS price_cents,
               TRUE AS bucketed_shuffle_free,
               TRUE AS matches_unbucketed
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed CO-LOCATED join (``sources/storage.write_bucketed``):
    both fact tables land hash-clustered by the join key (16 buckets,
    sorted within), and the subsequent sort-merge join runs with ZERO
    Exchange — the write-once/join-forever trade every 100 TB store
    makes for its hottest join key. The query materializes both layouts,
    joins them with an explicit MERGE hint (so a small test corpus
    can't silently take the broadcast path and vacuously 'avoid' the
    shuffle), asserts the physical plan contains no Exchange of any
    kind, and cross-checks the aggregate against the plain
    parquet-scan join — layout must never change results.

    The plan inspection is the point: ``PushedFilters``-style evidence
    that the layout works, embedded in the correctness gate instead of
    a doc claim. At 100 TB the same two tables are written once by the
    ingest job and every downstream join/dedup on the key rides the
    bucketing (the reference's Mongo store re-scans the collection per
    probe, ``crawl.py:73``)."""
    import uuid

    from ..sources.storage import write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    cents = F.sum(
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    ).cast("bigint")
    tag = uuid.uuid4().hex[:10]
    t_li, t_o = f"bjns_{tag}_li", f"bjns_{tag}_o"
    try:
        write_bucketed(li, t_li, "l_orderkey", n_buckets=16)
        write_bucketed(o, t_o, "o_orderkey", n_buckets=16)
        bl, bo = spark.table(t_li), spark.table(t_o)
        j = bl.hint("MERGE").join(bo, bl.l_orderkey == bo.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        shuffle_free = "Exchange" not in plan
        [(n_b, c_b)] = j.agg(
            F.count(F.lit(1)).alias("n"), cents.alias("c")
        ).collect()
        [(n_p, c_p)] = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .agg(F.count(F.lit(1)).alias("n"), cents.alias("c"))
            .collect()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_li}")
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
    return spark.createDataFrame(
        [(n_b, c_b, bool(shuffle_free), n_b == n_p and c_b == c_p)],
        "joined_rows bigint, price_cents bigint, "
        "bucketed_shuffle_free boolean, matches_unbucketed boolean",
    )


# ---------------------------------------------------------------------------
# Concentration / inequality statistics — exact integer outputs
# ---------------------------------------------------------------------------


@register(
    "revenue_gini",
    bench="olap",
    ops=("OP-AGG-01", "OP-AGG-05"),
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
            FROM orders GROUP BY 1
        ),
        r AS (
            SELECT v, ROW_NUMBER() OVER (ORDER BY v, o_custkey) AS rk,
                   COUNT(*) OVER () AS n
            FROM cust
        ),
        s AS (
            SELECT MAX(n) AS n,
                   SUM(CAST(rk AS HUGEINT) * v) AS sriv,
                   SUM(CAST(v AS HUGEINT)) AS sv
            FROM r
        )
        SELECT CAST(n AS BIGINT) AS n_customers,
               CAST(1000000 * (2 * sriv - (n + 1) * sv) // (n * sv)
                    AS BIGINT) AS gini_micro
        FROM s
    """,
)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration, in exact
    integer micro-units: G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over the
    ascending-sorted per-customer revenue — the standard inequality
    summary (0 = everyone buys equally, →1 = one whale).

    Exactness: the rank weights come from
    :func:`operators.rank.global_rank` (range-repartition + broadcast
    offsets — no single-task window). Ranks within a tie group are
    arbitrary but Σ i·x_i is INVARIANT under permutations of equal x,
    so the tie-break (custkey) only pins determinism, not the value.
    All sums are exact DECIMAL/HUGEINT; the single floor division has a
    provably non-negative numerator (Chebyshev's sum inequality), so
    Spark DIV == DuckDB //.

    Scale shape: one pass to the customer grain, one range shuffle for
    the rank, a 3-column single-row aggregate."""
    from ..operators.rank import global_rank

    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).alias("v")
        )
    )
    ranked = global_rank(cust, ["v", "o_custkey"], alias="rk", total_alias="n")
    s = ranked.agg(
        F.max("n").alias("n"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("v")).alias("sriv"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.expr(
            "CAST(1000000 * (2 * sriv - (n + 1) * sv) DIV (n * sv)"
            " AS BIGINT)"
        ).alias("gini_micro"),
    )


@register(
    "market_concentration_hhi",
    bench="olap",
    ops=("OP-AGG-01", "OP-AGG-05"),
    oracle="""
        WITH s AS (
            SELECT l_suppkey,
                   SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS v
            FROM lineitem GROUP BY 1
        ),
        t AS (
            SELECT COUNT(*) AS n,
                   SUM(CAST(v AS HUGEINT) * v) AS svv,
                   SUM(CAST(v AS HUGEINT)) AS sv,
                   MAX(v) AS mx
            FROM s
        )
        SELECT CAST(n AS BIGINT) AS n_suppliers,
               CAST(10000000 * svv // (sv * sv) AS BIGINT) AS hhi_milli,
               CAST(1000 * CAST(mx AS HUGEINT) // sv AS BIGINT)
               AS cr1_permille
        FROM t
    """,
)
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman market-concentration index over supplier
    revenue shares — HHI = Σ (100·sᵢ/T)², the antitrust screening
    statistic (10,000 = monopoly; < 1,500 reads unconcentrated) — in
    exact integer milli-points ((10⁷·Σsᵢ²) DIV T²), plus the top-1
    concentration ratio in permille. No float crosses engines.

    Scale shape: one pass to the supplier grain (map-side combine),
    one 4-column single-row aggregate; Σsᵢ² in DECIMAL(38)/HUGEINT is
    exact to per-supplier revenues of 10^12 cents."""
    s = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
            ).alias("v")
        )
    )
    t = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("svv"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        F.max("v").alias("mx"),
    )
    return t.select(
        F.col("n").cast("bigint").alias("n_suppliers"),
        F.expr("CAST(10000000 * svv DIV (sv * sv) AS BIGINT)").alias(
            "hhi_milli"
        ),
        F.expr(
            "CAST(1000 * CAST(mx AS DECIMAL(38,0)) DIV sv AS BIGINT)"
        ).alias("cr1_permille"),
    )


@register(
    "nation_share_of_region",
    bench="olap",
    ops=("OP-AGG-01", "OP-AGG-02"),
    oracle="""
        WITH nrev AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                   AS cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2
        ),
        rrev AS (
            SELECT region, SUM(cents) AS rcents FROM nrev GROUP BY 1
        ),
        tot AS (SELECT SUM(cents) AS t FROM nrev)
        SELECT nrev.region, nation, CAST(cents AS BIGINT) AS revenue_cents,
               CAST(1000 * CAST(cents AS HUGEINT) // rcents AS BIGINT)
               AS share_of_region_permille,
               CAST(1000 * CAST(cents AS HUGEINT) // t AS BIGINT)
               AS share_of_total_permille
        FROM nrev JOIN rrev ON nrev.region = rrev.region CROSS JOIN tot
        ORDER BY nrev.region, nation
    """,
)
def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent rollup: every nation's revenue as
    an exact permille of its REGION and of the WORLD — the two-level
    drill-down a revenue dashboard renders as nested bars. The nested
    share-of-total shape: both denominators come from broadcast
    re-aggregations of the nation grain (the ``functions/share.py``
    rule — an unpartitioned window over nations would serialize;
    re-aggregating 25 rows is free and scale-exempt), and every ratio
    is an exact integer floor division.

    Scale shape: one star join down to the 25-row nation grain —
    customer routed through ``broadcast_if_small`` (SF-proportional, so
    the hint must vanish at scale), nation/region statically broadcast
    (constant 25/5 rows) — then 5-row and 1-row broadcast joins."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # customer is SF-proportional (150k rows × SF): broadcast only while
    # its on-disk footprint proves it small, so the hint vanishes at
    # cluster scale and AQE picks the join strategy (r10 advice — an
    # unconditional broadcast here broke the query's own 100 TB
    # contract). nation/region are constant 25/5 rows: always broadcast.
    nrev = (
        o.join(
            broadcast_if_small(c, spark, sf_dir, ("customer",)),
            o.o_custkey == c.c_custkey,
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).alias("cents")
        )
    )
    rrev = nrev.groupBy("region").agg(F.sum("cents").alias("rcents"))
    tot = nrev.agg(F.sum("cents").alias("t"))
    return (
        nrev.join(F.broadcast(rrev), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            F.col("cents").cast("bigint").alias("revenue_cents"),
            F.expr(
                "CAST(1000 * CAST(cents AS DECIMAL(38,0)) DIV rcents"
                " AS BIGINT)"
            ).alias("share_of_region_permille"),
            F.expr(
                "CAST(1000 * CAST(cents AS DECIMAL(38,0)) DIV t AS BIGINT)"
            ).alias("share_of_total_permille"),
        )
        .orderBy("region", "nation")
    )

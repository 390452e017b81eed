"""Event-time windows (OP-X-WIN-01) and JSON props extraction
(OP-X-JSON-01) over ``events``.

DuckDB oracle equivalences:
- tumbling  = ``time_bucket(INTERVAL width, ts)`` (both align to epoch in
  UTC);
- sliding   = join against a generated spine of slide-aligned starts;
- session   = gaps-and-islands (lag + running sum), end = max(ts) + gap;
- JSON      = ``json_extract_string`` vs Spark ``get_json_object``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import windows as W
from ..sources import load_table
from .registry import register


@register(
    "window_tumbling_1h",
    bench="windows",
    ops=("OP-X-WIN-01",),
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                   AS window_start,
               time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                   + INTERVAL '1 hour' AS window_end,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
)
def window_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.tumbling(load_table(spark, sf_dir, "events"), "ts", "1 hour")


@register(
    "window_sliding_1h_30m",
    bench="windows",
    ops=("OP-X-WIN-01",),
    oracle="""
        WITH bounds AS (
            SELECT time_bucket(INTERVAL '30 minutes', MIN(CAST(ts AS TIMESTAMP)))
                       - INTERVAL '30 minutes' AS lo,
                   MAX(CAST(ts AS TIMESTAMP)) AS hi
            FROM events
        ), spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL '30 minutes'))
                       AS window_start
            FROM bounds
        )
        SELECT s.window_start,
               s.window_start + INTERVAL '1 hour' AS window_end,
               COUNT(*) AS cnt
        FROM spine s
        JOIN events e
          ON CAST(e.ts AS TIMESTAMP) >= s.window_start
         AND CAST(e.ts AS TIMESTAMP) < s.window_start + INTERVAL '1 hour'
        GROUP BY 1, 2
    """,
)
def window_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.sliding(
        load_table(spark, sf_dir, "events"), "ts", "1 hour", "30 minutes"
    )


@register(
    "session_windows_30m",
    bench="windows",
    ops=("OP-X-WIN-01",),
    oracle="""
        WITH marked AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN CAST(ts AS TIMESTAMP)
                             - LAG(CAST(ts AS TIMESTAMP)) OVER
                               (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), islands AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER
                       (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               COUNT(*) AS n_events
        FROM islands GROUP BY user_id, sid
    """,
)
def session_windows_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.session(load_table(spark, sf_dir, "events"), "user_id", "ts", "30 minutes")


@register(
    "json_extract_props",
    ops=("OP-X-JSON-01",),
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column: path extraction stays JVM-side
    (get_json_object); at scale prefer from_json once into a struct
    column rather than N path extractions."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@register(
    "json_k_stats_by_type",
    bench="windows",
    ops=("OP-X-JSON-01", "OP-AGG-01"),
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type
    """,
)
def json_k_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "value_stats_by_type",
    ops=("OP-AGG-01", "OP-AGG-04"),
    oracle="""
        SELECT event_type, COUNT(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               MIN(value) AS min_value, MAX(value) AS max_value,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(*), 4) AS avg_value
        FROM events GROUP BY event_type
    """,
)
def value_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_d", F.col("value").cast("decimal(18,2)")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value_d").alias("sv"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "event_type",
            "cnt",
            F.col("sv").cast("double").alias("sum_value"),
            "min_value",
            "max_value",
            F.round(F.col("sv").cast("double") / F.col("cnt"), 4).alias("avg_value"),
        )
    )


@register(
    "json_props_typed_struct",
    ops=("OP-X-JSON-01",),
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               CAST(SUM(CASE WHEN json_valid(props) THEN 0 ELSE 1 END)
                    AS BIGINT) AS bad_json
        FROM events GROUP BY event_type
    """,
)
def json_props_typed_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``from_json`` with a DECLARED schema — parse the JSON column ONCE
    into a typed struct, then aggregate struct fields. At 100 TB this
    beats per-path ``get_json_object`` (which re-parses the string per
    extraction) and keeps malformed JSON observable (null struct)
    instead of silently zero."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k BIGINT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.sum(F.col("p.k")).alias("sum_k"),
        F.sum(F.col("p").isNull().cast("long")).alias("bad_json"),
    )


@register(
    "variant_props_distinct_k",
    ops=("OP-X-JSON-01",),
    oracle="""
        SELECT event_type,
               COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
                   AS distinct_k,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k
        FROM events GROUP BY event_type
    """,
)
def variant_props_distinct_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: ``parse_json``
    encodes the JSON ONCE into the binary variant format at the scan,
    and every ``variant_get`` is a cheap binary path lookup — no string
    re-parse per access, and (on Parquet writers that support it) the
    variant column shreds into typed subcolumns. The open-format
    successor to per-path ``get_json_object`` at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count_distinct(F.col("k")).alias("distinct_k"),
            F.sum("k").alias("sum_k"),
        )
    )


@register(
    "rolling_7day_revenue",
    bench="olap",
    ops=("OP-X-WIN-01", "OP-AGG-03"),
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   datediff('day', DATE '1992-01-01',
                            CAST(o_orderdate AS DATE)) AS day_num,
                   SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
            FROM orders GROUP BY 1, 2
        )
        SELECT day,
               CAST(rev AS DOUBLE) AS revenue,
               CAST(SUM(rev) OVER (
                    ORDER BY day_num
                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS revenue_7d
        FROM daily ORDER BY day
    """,
)
def rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-DAY revenue via a RANGE window frame — the frame kind
    nothing else in the registry exercises: RANGE BETWEEN 6 PRECEDING
    looks back by ORDER-VALUE distance (calendar days), not row count,
    so gaps in the date spine are handled correctly where a ROWS frame
    would silently reach across them.

    Scale shape: the window runs over the PRE-AGGREGATED daily table —
    |days| rows, bounded by calendar time, not data volume (the 100 TB
    of orders collapses in the map-side-combining groupBy first), so
    the single-partition window is a non-issue by construction; the
    same discipline as timeline_gapfill/daily_anomaly_days. Revenue is
    round-then-DECIMAL-summed (o_totalprice is a 2-dp double) so both
    the daily and the windowed sums are aggregation-order-invariant."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.round("o_totalprice", 2).cast("decimal(18,2)")
            ).alias("rev")
        )
        .withColumn(
            "day_num", F.datediff(F.col("day"), F.lit("1992-01-01"))
        )
    )
    # |days|-row table, bounded by calendar time; non-foldable constant
    # partition (functions/bounded.py) suppresses the `No Partition
    # Defined` noise without changing the single-partition execution
    from ..functions.bounded import bounded_single_partition

    w = (
        Window.partitionBy(bounded_single_partition("day_num"))
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "day",
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(w).cast("double").alias("revenue_7d"),
    ).orderBy("day")


@register(
    "value_ohlc_hourly",
    bench="windows",
    ops=("OP-X-WIN-01", "OP-AGG-01", "OP-AGG-04"),
    oracle="""
        WITH b AS (
            SELECT event_type, date_trunc('hour', ts) AS hour, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type,
                                      date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rn_a,
                   ROW_NUMBER() OVER (PARTITION BY event_type,
                                      date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC)
                   AS rn_d
            FROM events
        )
        SELECT event_type, hour,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
               MAX(value) AS high, MIN(value) AS low,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
               COUNT(*) AS n
        FROM b GROUP BY event_type, hour
        ORDER BY event_type, hour
    """,
)
def value_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars — the canonical time-series downsample (open/high/low/
    close of ``value`` per event type per hour), what every monitoring
    or market-data rollup emits. open/close are FIRST/LAST in event
    time, which plain aggregation cannot express; they ride one keyed
    window per direction over the (type, hour) buckets — bounded state
    (a bucket's rows), no single-task window, and the total order
    (ts, event_id) makes first/last deterministic under timestamp ties
    on both engines. high/low/n are plain aggregates; values are only
    COMPARED, never computed, so doubles cross engines untouched."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        "ts",
        "event_id",
        "value",
    )
    w_a = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", "hour").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    b = ev.withColumn("rn_a", F.row_number().over(w_a)).withColumn(
        "rn_d", F.row_number().over(w_d)
    )
    return (
        b.groupBy("event_type", "hour")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "conversion_latency_percentiles",
    bench="windows",
    ops=("OP-X-WIN-01", "OP-AGG-05"),
    # value-at-rank is well-defined under ties (the exact_percentiles
    # argument); latencies are exact integer microseconds
    oracle="""
        WITH p AS (
            SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        ), m AS (
            SELECT p.ts, (
                SELECT MAX(c.ts) FROM events c
                WHERE c.event_type = 'click' AND c.user_id = p.user_id
                  AND c.ts <= p.ts
            ) AS click_ts
            FROM p
        ), lat AS (
            SELECT date_diff('microsecond', click_ts, ts) AS latency_us
            FROM m WHERE click_ts IS NOT NULL
        ), r AS (
            SELECT latency_us AS v,
                   ROW_NUMBER() OVER (ORDER BY latency_us) AS rk,
                   COUNT(*) OVER () AS n
            FROM lat
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
               CAST(MAX(CASE WHEN rk = CAST(ceil(0.50 * n) AS BIGINT)
                   THEN v END) AS BIGINT) AS p50_us,
               CAST(MAX(CASE WHEN rk = CAST(ceil(0.90 * n) AS BIGINT)
                   THEN v END) AS BIGINT) AS p90_us,
               CAST(MAX(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT)
                   THEN v END) AS BIGINT) AS p99_us
        FROM r
    """,
)
def conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion latency, exact p50/p90/p99 — the
    product-funnel SLA metric: for each purchase, the time since the
    user's most recent click (backward as-of match), then exact order
    statistics over the latency distribution. Composes two of the
    engine's scale primitives: ``operators/asof.asof_join`` (one keyed
    carry-forward window, no non-equi join) feeding
    ``operators/rank.inverse_cdf`` (range-repartitioned exact ranks, no
    single-task sort). Latency is an exact integer microsecond
    difference — no float ever crosses engines."""
    from ..operators.asof import asof_join
    from ..operators.rank import inverse_cdf

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    matched = asof_join(
        purchases, clicks, on="user_id", right_payload=("click_ts",)
    )
    lat = matched.where(F.col("asof_click_ts").isNotNull()).select(
        (
            F.unix_micros("ts") - F.unix_micros(F.col("asof_click_ts").cast("timestamp"))
        ).alias("latency_us")
    )
    return inverse_cdf(
        lat,
        "latency_us",
        [("p50_us", 0.50), ("p90_us", 0.90), ("p99_us", 0.99)],
        total_alias="n_rows",
    )


@register(
    "attribution_first_touch",
    bench="windows",
    ops=("OP-X-WIN-01", "OP-AGG-01"),
    oracle="""
        WITH marked AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                   event_type, value,
                   CASE WHEN CAST(ts AS TIMESTAMP)
                             - LAG(CAST(ts AS TIMESTAMP)) OVER
                               (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_session
            FROM events WHERE ts IS NOT NULL
        ), islands AS (
            SELECT *, SUM(new_session) OVER
                       (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
        ), sessions AS (
            SELECT user_id, sid,
                   MIN(struct_pack(ts := ts, event_id := event_id,
                       event_type := event_type)) AS first_ev,
                   SUM(CASE WHEN event_type = 'purchase'
                            AND value IS NOT NULL
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS rev_cents
            FROM islands GROUP BY user_id, sid
        )
        SELECT first_ev.event_type AS first_touch,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(rev_cents) AS BIGINT) AS revenue_cents
        FROM sessions
        GROUP BY 1 ORDER BY revenue_cents DESC, first_touch
    """,
)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch marketing attribution: every 30-minute session's
    purchase revenue is credited to the session's FIRST event type —
    'which entry point starts the sessions that end in money'. One row
    per first-touch type with session count and attributed cents.

    Spark side this is ONE aggregation: ``session_window`` assigns
    sessions inside the groupBy (no gap-island window machinery), the
    first event is a struct-min over (ts, event_id, event_type) —
    total-ordered by the unique event_id, so ties at the same
    timestamp break identically on any partitioning — and revenue is a
    conditional exact-cents sum in the same pass. The oracle derives
    the same sessions with the LAG/cumsum island construction
    ``session_windows_30m`` established (same > gap boundary rule) and
    the same struct-min.

    Scale shape: session_window's state is per (user, gap-run) — the
    shuffle is keyed by user, sessions never cross keys, and the
    second aggregate is |event types| rows. No per-event window, no
    driver state; the classic attribution job as two hash
    aggregates."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    sessions = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("first_ev"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("value").isNotNull(),
                F.floor(F.col("value") * 100 + 0.5).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("rev_cents"),
    )
    return (
        sessions.groupBy(
            F.col("first_ev.event_type").alias("first_touch")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("rev_cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy(F.col("revenue_cents").desc(), "first_touch")
    )

"""Core analytics queries — the reference's entire ``app.py`` surface.

Covers (SURVEY.md §2): OP-SRC-03, OP-PRJ-01/02, OP-FLT-01/02, OP-AGG-01..06,
OP-GAP-01, OP-TOPK-01/02, OP-DEDUP-01, OP-X-APPROX-01.

All queries run over the driver's synthetic tables: ``events`` plays the
role of the timestamped article stream (``app.py:84-110``), ``documents``
the role of the crawled-article collection (``app.py:25-82``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.share import with_pct_of_total
from ..operators import timeline
from ..sources import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Flagship: publication timeline with dense date spine + zero fill
# (app.py:84-110 — OP-AGG-03/04 + OP-GAP-01 + OP-FLT-02)
# ---------------------------------------------------------------------------
@register(
    "timeline_gapfill",
    bench="olap",
    ops=("OP-AGG-03", "OP-AGG-04", "OP-GAP-01", "OP-FLT-02"),
    oracle="""
        WITH counts AS (
            SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt
            FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM counts),
        spine AS (
            SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                               INTERVAL 1 DAY)) AS DATE) AS day
            FROM bounds
        )
        SELECT s.day AS day, COALESCE(c.cnt, 0) AS cnt
        FROM spine s LEFT JOIN counts c ON s.day = c.day
    """,
)
def timeline_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeline.timeline_gapfill(load_table(spark, sf_dir, "events"), "ts")


@register(
    "daily_counts",
    ops=("OP-AGG-03",),
    oracle="""
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
)
def daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeline.daily_counts(load_table(spark, sf_dir, "events"), "ts")


@register(
    "date_range",
    ops=("OP-AGG-04",),
    oracle="""
        SELECT MIN(CAST(ts AS DATE)) AS min_day, MAX(CAST(ts AS DATE)) AS max_day
        FROM events WHERE ts IS NOT NULL
    """,
)
def date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeline.date_range(load_table(spark, sf_dir, "events"), "ts")


# ---------------------------------------------------------------------------
# Source distribution with share-of-total (app.py:74-82 — OP-AGG-01/02,
# OP-PRJ-02). pct = cnt*100.0/total: one multiply + one divide in IEEE
# double on both engines -> bit-identical, then round(4).
# ---------------------------------------------------------------------------
@register(
    "source_distribution",
    bench="olap",
    ops=("OP-AGG-01", "OP-AGG-02", "OP-PRJ-02", "OP-SRC-03", "OP-PRJ-01"),
    oracle="""
        SELECT COALESCE(source, 'Unknown') AS source,
               COUNT(*) AS cnt,
               ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 4) AS pct
        FROM documents GROUP BY 1
    """,
)
def source_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # share-of-total via broadcast scalar, not an unpartitioned window:
    # a 100 TB crawl has millions of distinct sources (functions/share.py)
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.coalesce("source", F.lit("Unknown")).alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return with_pct_of_total(counts)


@register(
    "event_type_distribution",
    ops=("OP-AGG-01", "OP-AGG-02"),
    oracle="""
        SELECT event_type, COUNT(*) AS cnt,
               ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 4) AS pct
        FROM events GROUP BY 1
    """,
)
def event_type_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return with_pct_of_total(counts)


# ---------------------------------------------------------------------------
# Top-k recency queries (app.py:137, crawl.py:141 — OP-TOPK-01/02).
# Spark plans orderBy().limit() as TakeOrderedAndProject (per-partition
# top-k + driver merge — no global sort). Total order via event_id
# tie-break keeps the hash deterministic.
# ---------------------------------------------------------------------------
@register(
    "recent_events",
    ops=("OP-TOPK-01",),
    oracle="""
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events ORDER BY ts DESC, event_id DESC LIMIT 5
    """,
)
def recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(5)
    )


@register(
    "latest_ingested",
    ops=("OP-TOPK-02",),
    oracle="""
        SELECT event_id, event_type, value
        FROM events ORDER BY event_id DESC LIMIT 3
    """,
)
def latest_ingested(spark: SparkSession, sf_dir: str) -> DataFrame:
    # event_id is the monotonic ingestion key — the analogue of Mongo's
    # _id ordering in crawl.py:141.
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .orderBy(F.desc("event_id"))
        .limit(3)
    )


# ---------------------------------------------------------------------------
# Counts and filters (app.py:142, app.py:26 — OP-AGG-05, OP-FLT-01)
# ---------------------------------------------------------------------------
@register(
    "total_count",
    ops=("OP-AGG-05",),
    oracle="SELECT COUNT(*) AS cnt FROM documents",
)
def total_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "nonempty_content_count",
    ops=("OP-FLT-01", "OP-AGG-05"),
    oracle="""
        SELECT COUNT(*) AS cnt FROM documents
        WHERE text IS NOT NULL AND trim(text) <> ''
    """,
)
def nonempty_content_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "project_with_default",
    ops=("OP-PRJ-01", "OP-PRJ-02", "OP-SRC-03"),
    oracle="""
        SELECT doc_id, COALESCE(source, 'Unknown') AS source, n_chars
        FROM documents
    """,
)
def project_with_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Column pruning pushes this 3-column read into the parquet scan —
    # the direct analogue of Mongo projection {'title':1,'url':1,...}.
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("source", F.lit("Unknown")).alias("source"), "n_chars"
    )


# ---------------------------------------------------------------------------
# Distinct / approximate-distinct users (OP-X-APPROX-01)
# ---------------------------------------------------------------------------
@register(
    "distinct_users_by_type",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT event_type, COUNT(DISTINCT user_id) AS users
        FROM events GROUP BY 1
    """,
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("users"))
    )


@register(
    "approx_distinct_users",
    ops=("OP-X-APPROX-01",),
    # A sketch estimate can't be value-hashed against exact SQL (an earlier
    # rounding-band oracle failed whenever the acknowledged ±1 HLL error
    # crossed a band boundary), so the QUERY emits the tolerance verdict:
    # |HLL++ - exact| within max(2, 2% of exact) per group. HLL++ is
    # deterministic (hash-based), so the verdict is stable; the oracle pins
    # it TRUE for every group — sketch accuracy is driver-checked without
    # banding fragility, at any SF.
    oracle="""
        SELECT event_type, TRUE AS approx_ok
        FROM events GROUP BY 1
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperLogLog++ sketch: mergeable partial aggregates, no exact-distinct
    # shuffle of the full key set — the 100 TB form of COUNT(DISTINCT).
    # The exact count here exists only to check the sketch; production use
    # is the approx aggregate alone.
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
            F.count_distinct("user_id").alias("exact"),
        )
        .select(
            "event_type",
            (
                F.abs(F.col("approx") - F.col("exact"))
                <= F.greatest(F.lit(2), F.round(F.col("exact") * 0.02))
            ).alias("approx_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Exact dedup (crawl.py:73-75 — OP-DEDUP-01): batch-vs-store anti-join and
# whole-table canonicalization. The reference probes the store once per
# candidate URL (O(n*m) collection scans); here it is ONE hash anti-join.
# ---------------------------------------------------------------------------
@register(
    "dedup_anti_join",
    bench="dedup",
    ops=("OP-DEDUP-01",),
    oracle="""
        SELECT b.doc_id, b.text FROM documents b
        WHERE b.doc_id % 2 = 1
          AND NOT EXISTS (
              SELECT 1 FROM documents e
              WHERE e.doc_id % 2 = 0 AND e.text = b.text
          )
    """,
)
def dedup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Simulates a crawl round: even doc_ids are the already-ingested store,
    # odd doc_ids the incoming batch; keep batch rows whose dedup key
    # (text) is not already stored.
    docs = load_table(spark, sf_dir, "documents")
    existing = docs.where(F.col("doc_id") % 2 == 0).select("text")
    batch = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    return batch.join(existing, "text", "left_anti").select("doc_id", "text")


@register(
    "dedup_exact",
    bench="dedup",
    ops=("OP-DEDUP-01",),
    oracle="""
        SELECT MIN(doc_id) AS doc_id, text, COUNT(*) AS copies
        FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Canonical exact dedup: one representative (min id) per identical
    # text. At scale: group by xxhash64(text) first to shuffle 8-byte
    # keys instead of full documents, then resolve collisions.
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("copies"))
        .select("doc_id", "text", "copies")
    )


@register(
    "events_calendar_profile",
    ops=("OP-AGG-03",),
    oracle="""
        SELECT CAST(EXTRACT(dow FROM ts) AS INT) AS dow,
               CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    """,
)
def events_calendar_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile (day-of-week x hour). Engine alignment:
    Spark ``dayofweek`` is 1=Sunday, DuckDB ``EXTRACT(dow)`` 0=Sunday —
    normalized by subtracting 1 here."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "profile_documents",
    ops=("OP-AGG-05", "OP-FLT-01"),
    oracle="""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_text,
               CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_lang,
               COUNT(DISTINCT lang) AS distinct_lang,
               COUNT(DISTINCT source) AS distinct_source,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile in ONE pass: null counts, distincts, ranges —
    the pre-flight check any ingest runs before training. (Multiple
    COUNT(DISTINCT) columns expand to one aggregate with Expand in
    Spark — still a single scan.)"""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
        F.sum(F.col("lang").isNull().cast("long")).alias("null_lang"),
        F.countDistinct("lang").alias("distinct_lang"),
        F.countDistinct("source").alias("distinct_source"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "value_histogram",
    ops=("OP-AGG-01",),
    oracle="""
        SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
               COUNT(*) AS cnt
        FROM events WHERE value IS NOT NULL GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor arithmetic — a single hash
    aggregate keyed by bin; works identically at any scale (contrast
    with rank-based quantile binning, which needs a sort)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return (
        ev.groupBy(F.floor(F.col("value") / 25.0).cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "daily_anomaly_days",
    bench="sketch",
    ops=("OP-AGG-03", "OP-AGG-01"),
    oracle="""
        WITH d AS (
            SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        ), s AS (
            SELECT event_type,
                   COUNT(*) AS n, SUM(cnt) AS sm, SUM(cnt * cnt) AS ss
            FROM d GROUP BY 1
        )
        SELECT d.event_type, d.day, d.cnt,
               (CAST(s.n AS BIGINT) * d.cnt - s.sm)
                   * (CAST(s.n AS BIGINT) * d.cnt - s.sm)
                   > 4 * (CAST(s.n AS BIGINT) * s.ss - s.sm * s.sm)
                   AS is_spike
        FROM d JOIN s ON d.event_type = s.event_type
    """,
)
def daily_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-anomaly screen over the daily rollup: flag any
    (event_type, day) whose count sits more than two population
    standard deviations from that type's daily mean — the monitoring
    query a crawl operator runs over exactly the MV that
    ``incremental_mv_daily`` maintains. The z-test is evaluated in
    PURE INTEGER arithmetic — z^2 > 4 rewritten as
    (n*cnt - S)^2 > 4*(n*SS - S^2) with S, SS integer sums — so the
    verdict column has no float boundary at all (contrast a
    stddev-based filter, whose accumulation-order noise could flip a
    borderline day between engines).

    Scale shape: the daily table is |days x types|-sized after one
    map-side-combined aggregation; moments are a second aggregation of
    THAT table; the flag join is aggregate x aggregate."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("sm"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
    )
    # decimal(38,0): sm*sm overflows int64 once a type passes ~3e9
    # events — well inside this query's advertised scale (DuckDB's SUM
    # promotes to HUGEINT, so the oracle would survive where ANSI-mode
    # Spark threw)
    _d = "decimal(38,0)"
    dev = F.col("n").cast(_d) * F.col("cnt") - F.col("sm").cast(_d)
    var_n3 = F.col("n").cast(_d) * F.col("ss").cast(_d) - F.col("sm").cast(
        _d
    ) * F.col("sm").cast(_d)
    return d.join(s, "event_type").select(
        "event_type",
        "day",
        "cnt",
        (dev * dev > 4 * var_n3).alias("is_spike"),
    )


@register(
    "event_funnel_counts",
    bench="sketch",
    ops=("OP-AGG-01", "OP-X-WIN-01"),
    oracle="""
        WITH f AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS t_buy
            FROM events WHERE ts IS NOT NULL GROUP BY user_id
        )
        SELECT COUNT(*) AS n_users,
               CAST(SUM(CASE WHEN t_view IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
               CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
               CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                             AND t_buy > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
        FROM f
    """,
)
def event_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user
    advances a step only if their FIRST click follows their first view
    and their first purchase follows that click (strict event-time
    order, the standard funnel semantics product analytics runs; NULL
    comparisons fail closed, so a user who never clicked cannot count
    as purchased). One conditional min-aggregate per user then a
    single summary row — no joins, no windows, integer-exact output.

    Scale shape: the corpus collapses map-side to one row per user
    (three conditional MINs in the same aggregation pass); the funnel
    counts are a second aggregation of that user table."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())

    def first(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    f = ev.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_buy"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    bought = clicked & (F.col("t_buy") > F.col("t_click"))
    one = lambda c, a: F.sum(F.when(c, 1).otherwise(0)).alias(a)  # noqa: E731
    return f.agg(
        F.count(F.lit(1)).alias("n_users"),
        one(viewed, "step_view"),
        one(clicked, "step_click"),
        one(bought, "step_purchase"),
    )


@register(
    "cohort_retention",
    bench="sketch",
    ops=("OP-AGG-03", "OP-AGG-01", "OP-X-WIN-01"),
    oracle="""
        WITH act AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS wk
            FROM events WHERE ts IS NOT NULL
        ), first AS (
            SELECT user_id, MIN(wk) AS cohort FROM act GROUP BY user_id
        ), sizes AS (
            SELECT cohort, COUNT(*) AS cohort_size FROM first GROUP BY cohort
        ), ret AS (
            SELECT f.cohort,
                   CAST(date_diff('day', f.cohort, a.wk) / 7 AS INT)
                       AS week_offset,
                   COUNT(DISTINCT a.user_id) AS n_active
            FROM act a JOIN first f ON a.user_id = f.user_id
            GROUP BY 1, 2
        )
        SELECT r.cohort, r.week_offset, r.n_active, s.cohort_size
        FROM ret r JOIN sizes s ON r.cohort = s.cohort
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix — the canonical product-analytics
    rollup: users are cohorted by their first active ISO week, and each
    (cohort, week_offset) cell counts how many of them were active
    offset weeks later, with the cohort's size alongside (the
    denominator a retention curve divides by; emitted as a count so
    every value stays exact-integer). Offsets are exact because both
    endpoints are week STARTS — the day difference is always a
    multiple of 7.

    Scale shape: one distinct on (user, week) with map-side combine,
    one shuffle keyed by user for the cohort join (a user's activity
    list bounds the fan-out), and aggregate-sized outputs — no windows
    anywhere, so nothing funnels into one task no matter how much
    history streams in."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    first = act.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        act.join(first, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return ret.join(sizes, "cohort").select(
        "cohort", "week_offset", "n_active", "cohort_size"
    )


_PSI_B = 10  # value-distribution buckets (50-unit bins over [0, 500))
_PSI_TERM = (
    "round((1.0 * (ct + 1) / (nt + {b}) - 1.0 * (cg + 1) / (ng + {b}))"
    " * ln((1.0 * (ct + 1) * (ng + {b})) / (1.0 * (nt + {b}) * (cg + 1)))"
    ", 9)"
).format(b=_PSI_B)


@register(
    "value_drift_psi",
    bench="sketch",
    ops=("OP-AGG-01", "OP-AGG-05"),
    oracle=f"""
        WITH b AS (
            SELECT event_type,
                   LEAST(GREATEST(CAST(FLOOR(value / 50) AS INT), 0),
                         {_PSI_B - 1}) AS bucket
            FROM events WHERE value IS NOT NULL
        ), t AS (
            SELECT event_type, bucket, COUNT(*) AS ct FROM b GROUP BY 1, 2
        ), nt AS (
            SELECT event_type, SUM(ct) AS nt FROM t GROUP BY 1
        ), g AS (
            SELECT bucket, SUM(ct) AS cg FROM t GROUP BY 1
        ), ng AS (SELECT SUM(cg) AS ng FROM g
        ), spine AS (
            SELECT e.event_type, bk.bucket
            FROM (SELECT event_type FROM nt) e,
                 LATERAL unnest(generate_series(0, {_PSI_B - 1}))
                     AS bk(bucket)
        ), filled AS (
            -- zero-fill absent cells BEFORE the smoothed ratio: a
            -- bucket a type never hits is the strongest drift signal
            -- and must reach the add-one formula as ct=0, not short-
            -- circuit to a 0 term
            SELECT s.event_type,
                   COALESCE(t.ct, 0) AS ct, COALESCE(g.cg, 0) AS cg,
                   nt.nt, ng.ng
            FROM spine s
            LEFT JOIN t ON t.event_type = s.event_type
                       AND t.bucket = s.bucket
            LEFT JOIN g ON g.bucket = s.bucket
            JOIN nt ON nt.event_type = s.event_type, ng
        )
        SELECT event_type, CAST(ROUND(SUM(term), 6) AS DOUBLE) AS psi
        FROM (SELECT event_type,
                     CAST({_PSI_TERM} AS DECIMAL(20, 9)) AS term
              FROM filled) GROUP BY event_type
    """,
)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index of each event type's value
    distribution against the GLOBAL distribution — the standard drift
    monitor a data pipeline alarms on (PSI > 0.2 = investigate): values
    bucket into 10 fixed 50-unit bins, and psi(type) = sum over
    buckets of (p_type - p_global) * ln(p_type / p_global) with
    add-one smoothing (a zero bucket would send ln to -inf; smoothing
    keeps every term finite and the comparison honest).

    Determinism across engines: each bucket term is ONE expression over
    exact integer counts (one ln of an integer-ratio product), rounded
    to 9 dp and summed as DECIMAL — the ``bm25_topk`` pattern, so
    aggregation order can never flip a digit. The bucket spine is
    types x 10 — absent (type, bucket) cells zero-fill BEFORE
    smoothing, identically on both sides.

    Scale shape: ONE corpus scan feeds a map-side-combined
    (type x bucket) aggregate; every other input (global buckets,
    totals, the |types| x 10 spine) is algebra over that aggregate's
    checkpoint. Values outside [0, 500) clamp into the edge bins on
    BOTH sides, so no probability mass is silently dropped."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = ev.select(
        "event_type",
        F.least(
            F.greatest(F.floor(F.col("value") / 50).cast("int"), F.lit(0)),
            F.lit(_PSI_B - 1),
        ).alias("bucket"),
    )
    # everything below derives from t: ONE corpus scan feeds the whole
    # query (g, nt, ng, and the spine's type list are all t-algebra —
    # r8 self-review: the earlier form re-scanned events three times)
    t = b.groupBy("event_type", "bucket").agg(F.count(F.lit(1)).alias("ct"))
    t = t.localCheckpoint(eager=False)
    nt = t.groupBy("event_type").agg(F.sum("ct").alias("nt"))
    g = t.groupBy("bucket").agg(F.sum("ct").alias("cg"))
    ng = g.agg(F.sum("cg").alias("ng"))
    spine = nt.select("event_type").crossJoin(
        spark.range(_PSI_B).select(F.col("id").cast("int").alias("bucket"))
    )
    # zero-fill absent (type, bucket) cells BEFORE the smoothed ratio:
    # a bucket a type never hits is the strongest drift signal and must
    # reach the add-one formula as ct=0, never short-circuit to 0
    # (r8 self-review: the old coalesce-AFTER-the-term halved the PSI)
    filled = (
        spine.join(t, ["event_type", "bucket"], "left")
        .join(F.broadcast(g), "bucket", "left")
        .join(F.broadcast(nt), "event_type")
        .crossJoin(F.broadcast(ng))
        .select(
            "event_type",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cg", F.lit(0)).alias("cg"),
            "nt",
            "ng",
        )
    )
    terms = filled.select(
        "event_type", F.expr(_PSI_TERM).cast("decimal(20,9)").alias("term")
    )
    return terms.groupBy("event_type").agg(
        F.round(F.sum("term"), 6).cast("double").alias("psi")
    )


@register(
    "quantile_sketch_verdict",
    bench="sketch",
    ops=("OP-AGG-05", "OP-X-APPROX-01"),
    # approx_percentile's sketch is engine-internal (no DuckDB twin);
    # the oracle recomputes the EXACT order statistics the sketch is
    # graded against, and the within-tolerance verdicts ride along
    oracle="""
        WITH r AS (
            SELECT value AS v,
                   ROW_NUMBER() OVER (ORDER BY value) AS rk,
                   COUNT(*) OVER () AS n
            FROM events WHERE value IS NOT NULL
        )
        SELECT MAX(CASE WHEN rk = CAST(ceil(0.50 * n) AS BIGINT)
                   THEN v END) AS p50_exact,
               MAX(CASE WHEN rk = CAST(ceil(0.90 * n) AS BIGINT)
                   THEN v END) AS p90_exact,
               MAX(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT)
                   THEN v END) AS p99_exact,
               TRUE AS within_2pct
        FROM r
    """,
)
def quantile_sketch_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades Spark's quantile SKETCH against exact order statistics:
    ``approx_percentile`` (the KLL/GK-style mergeable summary every
    engine ships for one-pass quantiles at scale) must land within a
    relative 2% of the true inverse-CDF values, which the plan computes
    exactly the ``exact_percentiles`` way (global_rank — no single-task
    window) and the oracle recomputes independently. The verdict is
    the accuracy contract a pipeline relies on when it swaps the exact
    two-pass plan for the one-pass sketch at 100 TB.

    The exact values are emitted (hash-checked against DuckDB); the
    sketch estimates stay internal to the verdict so the row is
    engine-portable."""
    from ..operators.rank import inverse_cdf

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vals = ev.select(F.col("value").alias("v"))
    exact = inverse_cdf(
        vals,
        "v",
        [("p50_exact", 0.50), ("p90_exact", 0.90), ("p99_exact", 0.99)],
    )
    approx = vals.agg(
        F.percentile_approx("v", [0.5, 0.9, 0.99], 10_000).alias("ap")
    )
    ok = " AND ".join(
        f"abs(ap[{i}] - {c}) <= 0.02 * abs({c})"
        for i, c in enumerate(("p50_exact", "p90_exact", "p99_exact"))
    )
    return (
        exact.crossJoin(F.broadcast(approx))
        .select(
            "p50_exact",
            "p90_exact",
            "p99_exact",
            F.expr(ok).alias("within_2pct"),
        )
    )


@register(
    "dq_referential_audit",
    bench="olap",
    ops=("OP-AGG-05", "OP-FLT-01"),
    oracle="""
        SELECT
            CAST((SELECT COUNT(*) FROM lineitem l
                  WHERE NOT EXISTS (SELECT 1 FROM orders o
                                    WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS orphan_lineitems,
            CAST((SELECT COUNT(*) FROM orders o
                  WHERE NOT EXISTS (SELECT 1 FROM customer c
                                    WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS orphan_orders,
            CAST((SELECT COUNT(*) FROM lineitem l
                  WHERE NOT EXISTS (SELECT 1 FROM part p
                                    WHERE p.p_partkey = l.l_partkey))
                AS BIGINT) AS orphan_parts,
            CAST((SELECT COUNT(*) FROM events
                  WHERE ts IS NULL) AS BIGINT) AS null_ts_events,
            CAST((SELECT COUNT(*) FROM events
                  WHERE value < 0) AS BIGINT) AS negative_values,
            CAST((SELECT COUNT(*) FROM lineitem
                  WHERE l_discount < 0 OR l_discount > 1)
                AS BIGINT) AS bad_discounts,
            CAST((SELECT COUNT(*) FROM documents
                  WHERE text IS NULL OR length(text) = 0)
                AS BIGINT) AS empty_documents
    """,
)
def dq_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-quality gate a pipeline runs BEFORE publishing a batch
    (the dbt-test / Deequ check family): referential integrity across
    the star schema (orphan fact rows whose FK has no dimension row —
    left-anti joins, the scalable NOT EXISTS) plus domain assertions
    (NULL event times, negative values, discounts outside [0,1], empty
    documents). One row of exact counts; a deployment alerts on any
    non-zero cell, and the driver hash-check proves the counts against
    an independent engine.

    Scale shape: each anti-join shuffles on its key only (dimension
    sides broadcast under AQE when they fit); the domain checks are
    pushed-down scan predicates that aggregate map-side to one row."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    def n(df, alias):
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(alias))

    checks = [
        n(
            li.select("l_orderkey").join(
                orders.select(F.col("o_orderkey").alias("l_orderkey")),
                "l_orderkey",
                "left_anti",
            ),
            "orphan_lineitems",
        ),
        n(
            orders.select("o_custkey").join(
                cust.select(F.col("c_custkey").alias("o_custkey")),
                "o_custkey",
                "left_anti",
            ),
            "orphan_orders",
        ),
        n(
            li.select("l_partkey").join(
                part.select(F.col("p_partkey").alias("l_partkey")),
                "l_partkey",
                "left_anti",
            ),
            "orphan_parts",
        ),
        # the two events domain checks fold into ONE scan (conditional
        # sums) — r8 self-review; every remaining scan is column-pruned
        # to its own 1-2 columns
        ev.agg(
            F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("null_ts_events"),
            F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("negative_values"),
        ),
        n(
            li.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
            "bad_discounts",
        ),
        n(
            docs.where(
                F.col("text").isNull() | (F.length("text") == 0)
            ),
            "empty_documents",
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.crossJoin(c)  # 1-row x 1-row composition
    return out


@register(
    "markov_transition_matrix",
    bench="sketch",
    ops=("OP-X-WIN-01", "OP-AGG-01"),
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_type,
                   LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts) AS prev_type
            FROM events WHERE ts IS NOT NULL
        ), tr AS (
            SELECT prev_type AS from_type, event_type AS to_type,
                   COUNT(*) AS n_trans
            FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
        ), tot AS (
            SELECT from_type, SUM(n_trans) AS n_from FROM tr GROUP BY 1
        )
        SELECT t.from_type, t.to_type, t.n_trans,
               ROUND(1.0 * t.n_trans / o.n_from, 6) AS p
        FROM tr t JOIN tot o ON t.from_type = o.from_type
    """,
)
def markov_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior — the
    sequence-analytics building block (next-event prediction baselines,
    session-flow dashboards, anomaly screens): per user, consecutive
    event pairs via LAG over the time order, counted into a
    |types| x |types| matrix with row-normalized probabilities (one
    exact integer division, rounded — the determinism rule for float
    outputs).

    Scale shape: the only window is partitioned by user_id (bounded
    per-user state); transitions aggregate map-side into at most
    |types|² rows, and the row totals join aggregate-x-aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    tr = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = tr.groupBy("from_type").agg(F.sum("n_trans").alias("n_from"))
    return tr.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n_trans",
        F.round(F.lit(1.0) * F.col("n_trans") / F.col("n_from"), 6).alias("p"),
    )


@register(
    "type_value_percentiles_exact",
    bench="sketch",
    ops=("OP-AGG-01", "OP-AGG-05"),
    # value-at-rank is tie-safe (equal ranks carry equal values), so a
    # per-type ROW_NUMBER over the value alone is a sound oracle
    oracle="""
        WITH r AS (
            SELECT event_type, value AS v,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY value) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events WHERE value IS NOT NULL
        )
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_rows,
               MAX(CASE WHEN rk = CAST(ceil(0.50 * n) AS BIGINT)
                   THEN v END) AS p50,
               MAX(CASE WHEN rk = CAST(ceil(0.90 * n) AS BIGINT)
                   THEN v END) AS p90,
               MAX(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT)
                   THEN v END) AS p99
        FROM r GROUP BY event_type
    """,
)
def type_value_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group inverse-CDF percentiles for the few-huge-groups
    regime: with a handful of event types and billions of rows each, a
    plain ``PARTITION BY event_type ORDER BY value`` window sorts every
    type inside ONE task — the same degradation the KMV fix killed, but
    for arbitrary ranks where no WindowGroupLimit pushdown can apply.
    ``operators/rank.grouped_rank`` spreads each type's sort across
    range partitions and reassembles exact per-type ranks from
    per-(type, partition) offsets, so the value at rank ceil(p·n_type)
    is read off a distributed plan. The interpolating
    ``value_percentiles_by_type`` twin keeps the aggregate form; this
    one is the order-statistics (percentile_disc) semantics at scale."""
    from ..operators.rank import exact_cut, grouped_rank

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    ranked = grouped_rank(
        ev.select("event_type", F.col("value").alias("v")),
        ["event_type"],
        ["v"],
        alias="rk",
        total_alias="n",
    )
    cut = lambda p: exact_cut(p, F.col("n"))  # noqa: E731
    hit = ranked.where(
        (F.col("rk") == cut(0.50))
        | (F.col("rk") == cut(0.90))
        | (F.col("rk") == cut(0.99))
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rk") == cut(p), F.col("v"))
    )
    return hit.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        pick(0.50).alias("p50"),
        pick(0.90).alias("p90"),
        pick(0.99).alias("p99"),
    )


@register(
    "mad_outlier_values",
    bench="olap",
    ops=("OP-AGG-05",),
    oracle="""
        WITH v AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
        n AS (SELECT COUNT(*) AS n FROM v),
        r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rk FROM v),
        med AS (
            SELECT MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT)
                            THEN v END) AS med
            FROM r, n
        ),
        d AS (SELECT ABS(v - med) AS dv FROM v, med),
        r2 AS (SELECT dv, ROW_NUMBER() OVER (ORDER BY dv) AS rk FROM d),
        mad AS (
            SELECT MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT)
                            THEN dv END) AS mad
            FROM r2, n
        )
        SELECT CAST(n.n AS BIGINT) AS n_rows, med.med AS med, mad.mad AS mad,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM v, med, mad
                WHERE ABS(v - med) > 3 * mad) AS n_outliers
        FROM n, med, mad
    """,
)
def mad_outlier_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen on the EXACT median + median absolute
    deviation (Hampel's rule, |x - med| > 3*MAD) — the outlier gate
    that, unlike mean/stddev z-scores, is not itself dragged by the
    outliers it hunts. Both medians are exact order statistics read
    off ``operators/rank.inverse_cdf`` (range-partitioned global rank,
    never a single-task sort), the second one over the |x - med|
    derivation with the 1-row median broadcast onto the scan.

    Determinism: the medians are actual data values (value-at-rank
    under the shared ceil(p*n) cut), |x - med| and 3*MAD are single
    IEEE ops — no rounding needed anywhere."""
    from ..operators.rank import inverse_cdf

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    med = inverse_cdf(
        ev.select("value"), "value", [("med", 0.5)], total_alias="n_rows"
    )
    dev = ev.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("value") - F.col("med")).alias("dv")
    )
    mad = inverse_cdf(dev, "dv", [("mad", 0.5)])
    return (
        ev.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .agg(
            F.max("n_rows").cast("bigint").alias("n_rows"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(3) * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@register(
    "max_concurrent_events",
    bench="sketch",
    ops=("OP-X-WIN-01", "OP-AGG-01"),
    oracle="""
        WITH pts AS (
            SELECT event_type, epoch_us(ts) * 2 + 1 AS k, 1 AS delta
            FROM events
            UNION ALL
            SELECT event_type, epoch_us(ts + INTERVAL 30 MINUTE) * 2, -1
            FROM events
        ), c AS (
            SELECT event_type, k,
                   SUM(delta) OVER (PARTITION BY event_type ORDER BY k
                                    ROWS UNBOUNDED PRECEDING) AS conc
            FROM pts
        ), peaks AS (
            SELECT event_type, MAX(conc) AS peak FROM c GROUP BY event_type
        )
        SELECT p.event_type, CAST(p.peak AS BIGINT) AS peak,
               CAST(MIN(c.k) // 2 AS BIGINT) AS peak_at_us
        FROM peaks p JOIN c ON c.event_type = p.event_type
                          AND c.conc = p.peak
        GROUP BY p.event_type, p.peak
        ORDER BY p.event_type
    """,
)
def max_concurrent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type — the classic interval sweep-line:
    each event opens a half-open 30-minute presence interval [ts,
    ts+30min); +1/-1 deltas sorted by time give a running occupancy
    whose maximum is the answer (capacity planning / rate-limit sizing
    over the ingest stream).

    Scale + determinism: the running sum rides
    ``operators/prefix.chunked_cumsum`` (bounded per-task state; a plain
    per-type window single-tasks each event type at corpus scale) with a
    coarser chunk (2^31 µs ≈ 36 min of wall time per inner task) since
    the order key is sparse epoch-microseconds, not dense ids. The sort
    key packs the delta into the low bit — ends (even) sort before
    starts (odd) at the same instant, encoding half-open semantics — so
    ties within a key are all same-signed and every tie permutation
    yields the same block-end running value: the peak AND its earliest
    k are permutation-invariant, hence partitioning-invariant. peak_at
    decodes k DIV 2 back to the epoch-microsecond of the peak's onset.
    """
    from ..operators.prefix import chunked_cumsum

    # events.ts loads as TIMESTAMP_NTZ; the system contract is TZ=UTC,
    # so the cast to (tz-aware) TIMESTAMP is value-preserving and
    # unix_micros reads the same instant DuckDB's epoch_us does
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    starts = ev.select(
        "event_type",
        (F.unix_micros("ts") * 2 + 1).alias("k"),
        F.lit(1).alias("delta"),
    )
    ends = ev.select(
        "event_type",
        (F.unix_micros(F.col("ts") + F.expr("INTERVAL 30 MINUTES")) * 2).alias("k"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionByName(ends)
    c = chunked_cumsum(
        pts, ["event_type"], "k", F.col("delta"), "conc", chunk=1 << 31
    ).localCheckpoint(eager=False)
    peaks = c.groupBy("event_type").agg(F.max("conc").alias("peak"))
    return (
        c.join(peaks, "event_type")
        .where(F.col("conc") == F.col("peak"))
        .groupBy("event_type", "peak")
        .agg(F.expr("MIN(k) DIV 2").cast("bigint").alias("peak_at_us"))
        .select("event_type", F.col("peak").cast("bigint").alias("peak"), "peak_at_us")
        .orderBy("event_type")
    )


# Benford's-law expected first-digit frequencies in exact integer
# permille: round(1000 * log10(1 + 1/d)). Pinned as literals on BOTH
# engines — computing log10 cross-engine would reintroduce the float
# channel the integer contract exists to avoid.
_BENFORD_PERMILLE = ((1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
                     (6, 67), (7, 58), (8, 51), (9, 46))


@register(
    "benford_value_audit",
    bench="sketch",
    ops=("OP-AGG-01", "OP-X-TXT-04"),
    oracle=f"""
        WITH exp AS (
            SELECT * FROM (VALUES {", ".join(f"({d}, {p})" for d, p in _BENFORD_PERMILLE)})
                   AS t(digit, expected_permille)
        ), d AS (
            SELECT event_type,
                   CAST(substr(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS INT) AS digit
            FROM events
            WHERE CAST(floor(value * 100 + 0.5) AS BIGINT) >= 1
        ), cnts AS (
            SELECT event_type, digit, COUNT(*) AS cnt FROM d GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, SUM(cnt) AS n FROM cnts GROUP BY 1
        )
        SELECT c.event_type, CAST(c.digit AS INT) AS digit, c.cnt,
               CAST((1000 * c.cnt) // t.n AS BIGINT) AS permille,
               CAST(e.expected_permille AS INT) AS expected_permille,
               CAST(abs((1000 * c.cnt) // t.n - e.expected_permille)
                    AS BIGINT) AS abs_dev
        FROM cnts c JOIN tot t ON c.event_type = t.event_type
                    JOIN exp e ON c.digit = e.digit
        ORDER BY c.event_type, c.digit
    """,
)
def benford_value_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of event values vs Benford's
    law (Newcomb 1881 / Benford 1938) — the standard forensic
    data-quality screen: a synthetic or truncated value column deviates
    from the log-curve digit frequencies long before summary stats move.

    Determinism: the significant digit comes from INTEGER cents
    (floor(value*100 + 0.5) — one IEEE multiply+add then floor, uniquely
    defined on both engines) rendered via integer-to-string (stable,
    unlike double-to-string), and the observed shares are integer
    permille (1000*cnt DIV n). Expected frequencies are pinned literal
    permilles, not cross-engine log10. One hash aggregate per level +
    one 9-row broadcast join; nothing driver-side."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    d = ev.select(
        "event_type",
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"),
    ).where(cents >= 1)
    cnts = d.groupBy("event_type", "digit").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnts.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    exp = F.broadcast(
        d.sparkSession.createDataFrame(
            list(_BENFORD_PERMILLE), "digit int, expected_permille int"
        )
    )
    return (
        cnts.join(tot, "event_type")
        .join(exp, "digit")
        .select(
            "event_type",
            "digit",
            "cnt",
            F.expr("(1000 * cnt) DIV n").cast("bigint").alias("permille"),
            "expected_permille",
            F.abs(F.expr("(1000 * cnt) DIV n") - F.col("expected_permille"))
            .cast("bigint")
            .alias("abs_dev"),
        )
        .orderBy("event_type", "digit")
    )


@register(
    "journey_trigrams_topk",
    bench="sketch",
    ops=("OP-X-WIN-01", "OP-TOPK-01", "OP-AGG-01"),
    oracle="""
        WITH s AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ), tri AS (
            SELECT a.event_type || '>' || b.event_type || '>' || c.event_type
                   AS journey
            FROM s a JOIN s b ON a.user_id = b.user_id AND b.rn = a.rn + 1
                     JOIN s c ON a.user_id = c.user_id AND c.rn = a.rn + 2
        )
        SELECT journey, COUNT(*) AS n FROM tri
        GROUP BY journey ORDER BY n DESC, journey LIMIT 25
    """,
)
def journey_trigrams_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey patterns: the 25 most frequent 3-step event-type
    sequences over each user's time-ordered history — the order-3 sibling
    of ``markov_transition_matrix`` (order-2), the bread-and-butter path
    query of product analytics.

    One keyed window per user (bounded: a user's history fits a task;
    this is the HIGH-cardinality-group regime where the plain window is
    right and ``grouped_rank`` machinery would be waste), two ``lead``
    steps instead of two self-joins — the oracle's rn+1/rn+2 joins and
    Spark's lead() are the same sequence semantics, but lead() reuses
    the one sorted pass where the SQL twin would shuffle three times.
    Total order (ts, event_id) makes the sequence — and therefore the
    counts — partitioning-invariant."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.withColumn("_e2", F.lead("event_type", 1).over(w))
        .withColumn("_e3", F.lead("event_type", 2).over(w))
        .where(F.col("_e2").isNotNull() & F.col("_e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "_e2", "_e3").alias("journey")
        )
    )
    return (
        tri.groupBy("journey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "journey")
        .limit(25)
    )


@register(
    "rolling_7day_distinct_users",
    bench="sketch",
    ops=("OP-AGG-03", "OP-X-WIN-01"),
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        ), days AS (
            SELECT DISTINCT d FROM du
        ), contrib AS (
            SELECT du.user_id, days.d AS target
            FROM du JOIN days ON days.d BETWEEN du.d AND du.d + INTERVAL 6 DAY
        )
        SELECT target AS day, COUNT(DISTINCT user_id) AS active_users_7d
        FROM contrib GROUP BY target ORDER BY target
    """,
)
def rolling_7day_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the metric every
    growth dashboard calls WAU. COUNT(DISTINCT) cannot ride a sliding
    window frame (distinct is not subtractable), so the classic
    distributed form is used: dedup to (day, user) grain FIRST (one
    hash aggregate — the row count collapses to at most |days|x|users|),
    then EXPLODE each surviving pair to the <=7 target days it can
    serve (sequence + explode, a bounded x7 fan-out of the already-tiny
    deduped table), then one exact distinct-count per target day.
    Compare the naive range join events x days: it fans out the FULL
    event table 7x before deduping. Target days are restricted to days
    that actually occur (join with the observed-day set), mirroring the
    oracle; both engines do exact integer date arithmetic."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    du = ev.distinct()
    days = du.select("d").distinct().select(F.col("d").alias("target"))
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("target"),
    ).join(days, "target")
    return (
        contrib.groupBy("target")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
        .select(F.col("target").alias("day"), "active_users_7d")
        .orderBy("day")
    )


@register(
    "mannwhitney_value_shift",
    bench="sketch",
    ops=("OP-AGG-01", "OP-AGG-05"),
    oracle="""
        WITH v AS (
            SELECT event_type, value FROM events
            WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
        ), r AS (
            SELECT event_type,
                   2 * RANK() OVER (ORDER BY value)
                   + COUNT(*) OVER (PARTITION BY value) - 1 AS dblrank
            FROM v
        )
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(dblrank) - COUNT(*) * (COUNT(*) + 1) AS BIGINT)
               AS u2
        FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def mannwhitney_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between click and purchase
    value distributions — the standard nonparametric A/B shift test,
    and a pure rank statistic, so it is computable EXACTLY in integers:
    with midranks doubled (2·midrank = 2·|{v' < v}| + |{v'' = v}| + 1,
    an integer even under ties), 2·U_g = Σ 2·midrank − n_g(n_g+1).

    Scale shape: the oracle's global RANK() window would funnel the
    corpus into one task; the Spark side instead aggregates to the
    DISTINCT-VALUE grain (one hash aggregate), takes an exclusive
    running count over values via ``operators/prefix.chunked_cumsum``
    (bounded per-task state; values are non-negative so the chunk key
    is well-defined), and expands Σ 2·midrank per group as
    Σ_v cnt_g(v)·(2·less(v) + cnt(v) + 1) — identical integers, no
    row-level window anywhere. U_click + U_purchase = n_c·n_p is the
    built-in self-check (implied by the two output rows)."""
    from ..operators.prefix import chunked_cumsum

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    dv = ev.groupBy("value").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("event_type") == "click").cast("long")).alias("cnt_click"),
    )
    # inclusive running count over ascending value; exclusive = inc - cnt
    dv = chunked_cumsum(dv, [], "value", F.col("cnt"), "inc", chunk=64)
    dv = dv.withColumn("less", F.col("inc") - F.col("cnt")).withColumn(
        "dbl", 2 * F.col("less") + F.col("cnt") + 1
    )
    per_group = dv.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("click").alias("event_type"),
                    F.col("cnt_click").alias("g"),
                ),
                F.struct(
                    F.lit("purchase").alias("event_type"),
                    (F.col("cnt") - F.col("cnt_click")).alias("g"),
                ),
            )
        ).alias("s"),
        "dbl",
    ).select(F.col("s.event_type").alias("event_type"), F.col("s.g").alias("g"), "dbl")
    return (
        per_group.groupBy("event_type")
        .agg(
            F.sum("g").alias("n"),
            F.sum(F.col("g") * F.col("dbl")).alias("sum2r"),
        )
        .select(
            "event_type",
            "n",
            (F.col("sum2r") - F.col("n") * (F.col("n") + 1)).cast("bigint").alias("u2"),
        )
        .orderBy("event_type")
    )


@register(
    "chisq_type_daypart",
    bench="sketch",
    ops=("OP-AGG-01",),
    oracle="""
        WITH o AS (
            SELECT event_type, CAST(hour(ts) // 6 AS INT) AS daypart,
                   COUNT(*) AS obs
            FROM events GROUP BY 1, 2
        ), tot AS (
            SELECT SUM(obs) AS n FROM o
        ), rt AS (
            SELECT event_type, SUM(obs) AS r FROM o GROUP BY 1
        ), ct AS (
            SELECT daypart, SUM(obs) AS c FROM o GROUP BY 1
        ), terms AS (
            SELECT o.event_type, o.daypart,
                   CAST((o.obs * t.n - rt.r * ct.c) AS HUGEINT)
                   * (o.obs * t.n - rt.r * ct.c) * 1000000
                   // (CAST(rt.r AS HUGEINT) * ct.c * t.n * t.n)
                   AS term_micros
            FROM o JOIN rt USING (event_type) JOIN ct USING (daypart)
                 CROSS JOIN tot t
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST((SELECT COUNT(DISTINCT event_type) - 1 FROM o)
                    * (SELECT COUNT(DISTINCT daypart) - 1 FROM o)
                    AS BIGINT) AS dof,
               CAST(SUM(term_micros) AS DOUBLE) / 1e6 AS chi2
        FROM terms
    """,
)
def chisq_type_daypart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence audit of event_type × day-part
    (6-hour buckets) — the screening test for 'does traffic mix shift by
    time of day'. Exactness contract: each cell's term is the
    algebraically-cleared form (O·N − r·c)²·10⁶ DIV (r·c·N²) — an
    INTEGER micro-unit via DECIMAL(38) (Spark) / HUGEINT (oracle)
    products and exact integer floor division (two DuckDB traps caught
    by the full verify: `/` on decimals returns DOUBLE, making the
    parallel SUM order-dependent, and `//` on decimals is DOUBLE
    division without the floor — only HUGEINT `//` divides exactly) —
    so the
    sum is an exact integer on both engines and the ONE final division
    by 1e6 is the only float op. One hash aggregate to the contingency
    grain, two broadcast-sized margin joins, a 1-row total — nothing
    scales with event volume but the first aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.hour("ts") / 6).cast("int").alias("daypart")
    )
    o = ev.groupBy("event_type", "daypart").agg(F.count(F.lit(1)).alias("obs"))
    o = o.localCheckpoint(eager=False)
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("daypart").agg(F.sum("obs").alias("c"))
    tot = o.agg(F.sum("obs").alias("n"))
    terms = (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "daypart")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "term_micros",
            F.expr(
                "CAST((obs * n - r * c) AS DECIMAL(38,0))"
                " * (obs * n - r * c) * 1000000"
                " DIV (CAST(r AS DECIMAL(38,0)) * c * n * n)"
            ),
        )
    )
    dof = (
        o.agg(
            (
                (F.countDistinct("event_type") - 1)
                * (F.countDistinct("daypart") - 1)
            ).alias("dof")
        )
    )
    return (
        terms.agg(
            F.count(F.lit(1)).alias("n_cells"),
            (F.sum("term_micros").cast("double") / F.lit(1e6)).alias("chi2"),
        )
        .crossJoin(F.broadcast(dof))
        .select("n_cells", F.col("dof").cast("bigint").alias("dof"), "chi2")
    )


@register(
    "ks_value_shift",
    bench="sketch",
    ops=("OP-AGG-01", "OP-AGG-05"),
    oracle="""
        WITH e AS (
            SELECT event_type, value FROM events
            WHERE event_type IN ('click', 'purchase')
              AND value IS NOT NULL
        ), n AS (
            SELECT SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS nc,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS np
            FROM e
        ), dv AS (
            SELECT value,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS cc,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS cp
            FROM e GROUP BY value
        ), cum AS (
            SELECT value,
                   SUM(cc) OVER (ORDER BY value) AS cumc,
                   SUM(cp) OVER (ORDER BY value) AS cump
            FROM dv
        ), d AS (
            SELECT value,
                   ABS(cumc * (SELECT np FROM n)
                       - cump * (SELECT nc FROM n)) AS dnum
            FROM cum
        ), best AS (
            SELECT dnum, value FROM d
            ORDER BY dnum DESC, value ASC LIMIT 1
        )
        SELECT CAST((SELECT nc FROM n) AS BIGINT) AS n_click,
               CAST((SELECT np FROM n) AS BIGINT) AS n_purchase,
               CAST(dnum AS BIGINT) AS d_num,
               CAST((1000 * dnum) //
                    ((SELECT nc FROM n) * (SELECT np FROM n)) AS BIGINT)
                   AS d_permille,
               value AS at_value
        FROM best
    """,
)
def ks_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the click and
    purchase value distributions — the third member of the exact-
    arithmetic statistics tier (Mann-Whitney tests stochastic order,
    chi-square tests independence; KS localizes WHERE two CDFs diverge
    most). D = max_v |F_c(v) − F_p(v)| is computed as the INTEGER
    max_v |cum_c(v)·n_p − cum_p(v)·n_c| (common denominator n_c·n_p
    cleared), so no float ever crosses engines; the witness row
    reports the smallest value attaining the max (struct-max with a
    negated-value tie key — a total order, not partition luck) and
    D in permille via a single integer DIV.

    Scale shape (the ``mannwhitney_value_shift`` pattern): aggregate to
    the distinct-value grain, two ``chunked_cumsum`` running counts
    (bounded per-task state, no global window), one 1-row totals
    broadcast, one max-struct aggregate. The oracle's window-cumsum
    over distinct values is the same math in DuckDB's idiom."""
    from ..operators.prefix import chunked_cumsum

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    dv = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("cc"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("cp"),
    )
    dv = chunked_cumsum(dv, [], "value", F.col("cc"), "cumc", chunk=64)
    dv = chunked_cumsum(dv, [], "value", F.col("cp"), "cump", chunk=64)
    totals = dv.agg(
        F.sum("cc").cast("bigint").alias("nc"),
        F.sum("cp").cast("bigint").alias("np"),
    )
    scored = dv.crossJoin(F.broadcast(totals)).withColumn(
        "dnum",
        F.abs(F.col("cumc") * F.col("np") - F.col("cump") * F.col("nc")),
    )
    best = scored.groupBy("nc", "np").agg(
        F.max(
            F.struct(
                F.col("dnum").alias("d"), (-F.col("value")).alias("nv")
            )
        ).alias("b")
    )
    return best.select(
        F.col("nc").alias("n_click"),
        F.col("np").alias("n_purchase"),
        F.col("b.d").cast("bigint").alias("d_num"),
        F.expr("(1000 * b.d) DIV (nc * np)").cast("bigint").alias("d_permille"),
        (-F.col("b.nv")).alias("at_value"),
    )


_EWMA_W = 16  # trailing-window depth: weight 2^(W-i) for lag i (halving)


@register(
    "ewma_spike_days",
    bench="sketch",
    ops=("OP-AGG-03", "OP-AGG-01"),
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x
            FROM events WHERE ts IS NOT NULL GROUP BY 1
        ), contrib AS (
            SELECT d2.d AS target,
                   SUM(d1.x * (1 << ({_EWMA_W} - DATEDIFF('day', d1.d, d2.d))))
                       AS num,
                   SUM(CAST(1 AS BIGINT) << ({_EWMA_W} - DATEDIFF('day', d1.d, d2.d)))
                       AS den
            FROM daily d1 JOIN daily d2
              ON d2.d > d1.d AND d2.d <= d1.d + INTERVAL {_EWMA_W} DAY
            GROUP BY 1
        )
        SELECT daily.d AS day, daily.x AS n_events,
               CAST(contrib.num AS BIGINT) AS ewma_num,
               CAST(contrib.den AS BIGINT) AS ewma_den,
               (daily.x * contrib.den > 2 * contrib.num) AS spike
        FROM daily JOIN contrib ON contrib.target = daily.d
        ORDER BY day
    """,
)
def ewma_spike_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over the daily event rollup — the
    recency-weighted sibling of ``daily_anomaly_days`` (whose z-test
    weights all history equally and goes blind to level shifts): a day
    is a spike when its count exceeds 2x the exponentially-weighted
    moving average of the trailing 16 days (halving weights,
    alpha = 1/2).

    Exactness: the EWMA is never computed as a float — the recurrence
    is unrolled to its closed form over a DEPTH-CAPPED window (weights
    2^(W-lag), lag 1..16; beyond W the dropped tail is < 2^-16
    of the mass) and kept as an integer fraction num/den, with the
    control test cleared to x*den > 2*num. Same shape as the
    rolling-window family: one daily aggregate (|days| rows), one
    bounded x16 day-offset join, integer sums — no recursive
    state, no window function, no float anywhere."""
    daily = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    # each source day contributes to targets d+1 .. d+W with weight
    # 2^(W - lag); the join against the daily table itself keeps only
    # targets that are real days (same trick as rolling_7day_revenue)
    contrib = (
        daily.select(
            "d",
            "x",
            F.explode(
                F.sequence(F.lit(1), F.lit(_EWMA_W))
            ).alias("lag"),
        )
        .select(
            F.date_add("d", F.col("lag")).alias("target"),
            F.expr(f"x * shiftleft(cast(1 as bigint), {_EWMA_W} - lag)").alias("wx"),
            F.expr(f"shiftleft(cast(1 as bigint), {_EWMA_W} - lag)").alias("wt"),
        )
        .groupBy("target")
        .agg(F.sum("wx").alias("num"), F.sum("wt").alias("den"))
    )
    return (
        daily.join(contrib, daily.d == contrib.target)
        .select(
            F.col("d").alias("day"),
            F.col("x").alias("n_events"),
            F.col("num").cast("bigint").alias("ewma_num"),
            F.col("den").cast("bigint").alias("ewma_den"),
            (F.col("x") * F.col("den") > 2 * F.col("num")).alias("spike"),
        )
        .orderBy("day")
    )

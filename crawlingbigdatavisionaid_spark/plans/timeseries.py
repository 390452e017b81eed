"""Time-series diagnostics over the daily revenue / purchase series:
autocorrelation, CUSUM changepoint, day-of-week seasonality, and
time-decayed leaderboards.

The reference's dashboard stops at the daily timeline (``app.py:84-110``);
these queries are the next analyses a monitoring pipeline runs over that
same series — is it autocorrelated (forecastability), did its level shift
(changepoint), is it seasonal (dow profile), and who matters NOW
(recency-decayed ranking).

Determinism contract (the ``revenue_trend_ols`` /
``chisq_type_daypart`` pattern): every series value is exact integer
cents (``floor(x*100 + 0.5)`` — one IEEE multiply+add, then floor),
every Σ is an exact BIGINT/DECIMAL aggregate (order-invariant under any
partitioning), ratios are either integer permille via exact floor
division (Spark ``DECIMAL(38,0) DIV`` / DuckDB ``HUGEINT //``) or ONE
final double expression tree both engines evaluate identically, then
``round``.

Scale notes are per-query; the common shape is: one map-side-combined
hash aggregate to the daily grain (the only full-data pass), then
O(days)-row arithmetic — broadcastable everywhere, windows replaced by
:func:`operators.prefix.chunked_cumsum` so no single-task global sort
survives at any series length.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.prefix import chunked_cumsum
from ..sources import load_table
from .registry import register

_EPOCH = "1992-01-01"  # orders epoch, shared with revenue_trend_ols
_ACF_MAX_LAG = 7

# daily order revenue in exact integer cents, keyed by epoch-day index —
# the shared series both engines derive identically
_DAILY_SQL = f"""
        daily AS (
            SELECT CAST(date_diff('day', DATE '{_EPOCH}', o_orderdate)
                        AS BIGINT) AS idx,
                   SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS v
            FROM orders GROUP BY 1
        )"""


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order revenue (exact cents) keyed by days-since-epoch."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit(_EPOCH))
        .cast("bigint")
        .alias("idx")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias(
            "v"
        )
    )


@register(
    "daily_revenue_acf",
    bench="sketch",
    ops=("OP-AGG-03", "OP-AGG-05"),
    oracle=f"""
        WITH {_DAILY_SQL},
        bounds AS (SELECT MIN(idx) AS lo, MAX(idx) AS hi FROM daily),
        spine AS (
            SELECT unnest(generate_series(lo, hi)) AS idx FROM bounds
        ),
        s AS (
            SELECT sp.idx, CAST(COALESCE(d.v, 0) AS DECIMAL(18, 0)) AS v
            FROM spine sp LEFT JOIN daily d ON sp.idx = d.idx
        ),
        l AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
        p AS (
            SELECT l.lag, a.v AS x, b.v AS y
            FROM l CROSS JOIN s b
                 JOIN s a ON a.idx = b.idx + l.lag
        ),
        g AS (
            SELECT lag, COUNT(*) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM p GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
        FROM g ORDER BY lag
    """,
)
def daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily revenue at lags 1..7 — the
    forecastability diagnostic (a weekly cycle shows as a lag-7 spike,
    a trend as slow decay). Pearson r between the zero-filled daily
    series and its lag-h shift, one row per lag.

    Zero-fill matters: skipping absent days silently re-indexes the
    series and turns lag-7 into "7 trading rows back"; the dense spine
    (``sequence`` over the 1-row min/max aggregate, the
    ``timeline_gapfill`` machinery) pins calendar semantics.

    Exactness: x, y are integer cents; the 5 sums per lag are exact
    DECIMAL aggregates; r's numerator/denominator are exact integers
    cast to double for ONE division + one correctly-rounded sqrt —
    identical expression trees on both engines, then round(6).

    Scale shape: one pass to the daily grain (map-side combine), a
    broadcast 7-row lag table × O(days) self-equi-join on idx+lag, one
    hash aggregate to 7 rows. No windows, no driver math; 100 TB of
    orders costs the same single scan as ``revenue_trend_ols``."""
    daily = _daily_revenue(spark, sf_dir)
    spine = daily.agg(
        F.min("idx").alias("lo"), F.max("idx").alias("hi")
    ).select(F.explode(F.sequence("lo", "hi")).alias("idx"))
    s = (
        spine.join(F.broadcast(daily), "idx", "left_outer")
        .select(
            "idx",
            F.coalesce("v", F.lit(0)).cast("decimal(18,0)").alias("v"),
        )
        # both the lag-shifted side and the base side read this plan;
        # one lazy materialization keeps the scan+agg subtree single
        .localCheckpoint(eager=False)
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    b = s.crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("idx") + F.col("lag")).alias("idx"), F.col("v").alias("y")
    )
    p = s.select("idx", F.col("v").alias("x")).join(b, "idx")
    g = p.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return g.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(
                (
                    F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
                ).cast("double")
                * (
                    F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
                ).cast("double")
            ),
            6,
        ).alias("acf"),
    ).orderBy("lag")


@register(
    "cusum_changepoint_day",
    bench="sketch",
    ops=("OP-AGG-03",),
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
            FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND event_type = 'purchase'
            GROUP BY 1
        ),
        tot AS (SELECT COUNT(*) AS n, SUM(v) AS t FROM daily),
        c AS (
            SELECT day,
                   SUM(v) OVER (ORDER BY day) AS cum,
                   ROW_NUMBER() OVER (ORDER BY day) AS k
            FROM daily
        )
        SELECT c.day AS day,
               CAST(n * cum - k * t AS BIGINT) AS cusum_scaled,
               CASE WHEN n * cum - k * t >= 0 THEN 'up' ELSE 'down' END
               AS side
        FROM c CROSS JOIN tot
        ORDER BY abs(n * cum - k * t) DESC, c.day LIMIT 1
    """,
)
def cusum_changepoint_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint locator over daily purchase value: the day k
    maximizing |S_k|, S_k = Σ_{i<=k}(x_i − mean) — the classic
    level-shift detector (Page 1954). The mean-subtraction is cleared
    to integers: n·S_k = n·cumsum_k − k·T with T = Σx, so S's argmax
    (and sign) is computed in exact BIGINT cents with no float mean.

    The running sum is :func:`operators.prefix.chunked_cumsum` — at any
    series length the plain ``SUM() OVER (ORDER BY day)`` is one
    single-task global sort; the chunked form bounds every task. The
    final argmax is orderBy+limit(1) (TakeOrdered, per-partition top-1),
    tie-broken to the earliest day.

    Scale shape: one pass to the daily grain, a 1-row totals broadcast,
    a bounded cumsum, a 1-row result."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias(
                "v"
            )
        )
        .withColumn("idx", F.datediff(F.col("day"), F.lit(_EPOCH)))
    )
    daily = chunked_cumsum(daily, [], "idx", F.col("v"), "cum")
    daily = chunked_cumsum(daily, [], "idx", F.lit(1), "k")
    tot = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("t"))
    scored = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        (F.col("n") * F.col("cum") - F.col("k") * F.col("t"))
        .cast("bigint")
        .alias("cusum_scaled"),
    )
    return (
        scored.select(
            "day",
            "cusum_scaled",
            F.when(F.col("cusum_scaled") >= 0, "up")
            .otherwise("down")
            .alias("side"),
        )
        .orderBy(F.abs(F.col("cusum_scaled")).desc(), "day")
        .limit(1)
    )


@register(
    "dow_seasonal_profile",
    bench="sketch",
    ops=("OP-AGG-03", "OP-AGG-01"),
    oracle=f"""
        WITH {_DAILY_SQL},
        d AS (
            SELECT isodow(DATE '{_EPOCH}' + idx * INTERVAL 1 DAY) AS isodow,
                   v
            FROM daily
        ),
        g AS (
            SELECT isodow, COUNT(*) AS n_days, SUM(v) AS cents
            FROM d GROUP BY 1
        ),
        tot AS (SELECT SUM(n_days) AS n_all, SUM(cents) AS s_all FROM g)
        SELECT CAST(isodow AS BIGINT) AS isodow,
               CAST(n_days AS BIGINT) AS n_days,
               CAST(cents AS BIGINT) AS revenue_cents,
               CAST(CAST(cents AS HUGEINT) * n_all * 1000
                    // (CAST(n_days AS HUGEINT) * s_all) AS BIGINT)
               AS seasonal_permille
        FROM g CROSS JOIN tot
        ORDER BY isodow
    """,
)
def dow_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of daily revenue: per ISO weekday,
    mean daily revenue relative to the overall mean, as exact integer
    permille — (Σ_dow · n_all · 1000) DIV (n_dow · Σ_all). 1000 = flat;
    the Mon..Sun profile is the seasonality row a forecaster divides
    out before trend fitting.

    Exactness: the ratio-of-means is cleared to one integer floor
    division (Spark DECIMAL(38,0) ``DIV`` / DuckDB HUGEINT ``//`` — the
    ``chisq_type_daypart`` pattern; decimal ``/`` detours through
    DOUBLE on both engines). ISO weekday via Spark ``weekday()+1`` =
    DuckDB ``isodow`` (Monday=1).

    Scale shape: one pass to the daily grain, a 7-row aggregate, a
    1-row totals broadcast."""
    daily = _daily_revenue(spark, sf_dir)
    g = (
        daily.select(
            (
                F.weekday(F.date_add(F.lit(_EPOCH).cast("date"), F.col("idx").cast("int")))
                + 1
            ).alias("isodow"),
            "v",
        )
        .groupBy("isodow")
        .agg(F.count(F.lit(1)).alias("n_days"), F.sum("v").alias("cents"))
    )
    tot = g.agg(F.sum("n_days").alias("n_all"), F.sum("cents").alias("s_all"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.col("isodow").cast("bigint").alias("isodow"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("cents").cast("bigint").alias("revenue_cents"),
            F.expr(
                "CAST(CAST(cents AS DECIMAL(38,0)) * n_all * 1000"
                " DIV (CAST(n_days AS DECIMAL(38,0)) * s_all) AS BIGINT)"
            ).alias("seasonal_permille"),
        )
        .orderBy("isodow")
    )


@register(
    "decayed_user_leaderboard",
    bench="sketch",
    ops=("OP-AGG-01", "OP-TOPK-01"),
    oracle="""
        WITH p AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND event_type = 'purchase'
        ),
        ref AS (SELECT MAX(day) AS ref_day FROM p),
        w AS (
            SELECT user_id,
                   cents * (1 << (8 - LEAST(
                       CAST(date_diff('day', day, ref_day) // 7 AS INT), 8)))
                   AS part
            FROM p CROSS JOIN ref
        )
        SELECT user_id, CAST(SUM(part) AS BIGINT) AS decayed_score_cents
        FROM w GROUP BY user_id
        ORDER BY decayed_score_cents DESC, user_id LIMIT 20
    """,
)
def decayed_user_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed purchase leaderboard: each purchase weighted by
    a staircase half-life — weight = 2^(8 − min(age_weeks, 8)), so this
    week counts 256×, last week 128×, … anything ≥8 weeks old 1× — and
    the top-20 users by decayed score. The "who matters NOW" ranking a
    live dashboard wants instead of the all-time total.

    The staircase (integer ages bucketed to weeks, power-of-two
    weights) exists for exactness: a continuous exp(−λ·age) weight is a
    transcendental per row whose SUM is order-dependent; integer
    weights make the score an exact BIGINT under any partitioning, and
    the ranking it induces is the same step-wise recency preference.

    Scale shape: one filter+project pass, a 1-row max-day broadcast,
    one hash aggregate keyed by user, TakeOrdered top-20. Weights
    compose with partial aggregation (each partial sum is exact), so
    map-side combine still applies."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("event_type") == "purchase")
    ).select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    ref = p.agg(F.max("day").alias("ref_day"))
    w = p.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.expr(
            "cents * shiftleft(CAST(1 AS BIGINT),"
            " 8 - least(CAST(datediff(ref_day, day) / 7 AS INT), 8))"
        ).alias("part"),
    )
    return (
        w.groupBy("user_id")
        .agg(F.sum("part").alias("decayed_score_cents"))
        .orderBy(F.col("decayed_score_cents").desc(), "user_id")
        .limit(20)
    )


# Sign-correct floor division shared by the Spark query and the DuckDB
# oracle below: both engines' integer division (Spark ``DIV``, DuckDB
# HUGEINT ``//``) truncates toward zero, which disagrees with floor for
# negative numerators (trunc(-7/2) = -3 vs floor = -4), so subtract 1
# exactly when the remainder is nonzero and the numerator negative.
# This replaces the r≤10 positivity-shift trick (_TS_SHIFT = 1e14): the
# r10 advice measured negative numerators breaching that shift at every
# shipped SF, and a shift large enough for a 100 TB-class sf1000
# (> max |dy|·1e6 ≈ 9e18) overflows the BIGINT quotient Spark's DIV
# emits.  The explicit correction is magnitude-neutral — it works for
# any |dy| whose quantized slope itself fits BIGINT, with no
# SF-dependent constant to outgrow.
def _floor_div_sql(num: str, den: str) -> str:
    return (
        f"(({num}) DIV ({den})"
        f" - (CASE WHEN ({num}) % ({den}) != 0 AND ({num}) < 0"
        f" THEN 1 ELSE 0 END))"
    )


@register(
    "theilsen_trend",
    bench="olap",
    ops=("OP-AGG-03", "OP-AGG-05"),
    oracle=f"""
        WITH {_DAILY_SQL},
        p AS (
            SELECT CAST(
                       (CAST(b.v - a.v AS HUGEINT) * 1000000)
                       // (b.idx - a.idx)
                       - (CASE WHEN (CAST(b.v - a.v AS HUGEINT) * 1000000)
                                    % (b.idx - a.idx) <> 0
                               AND b.v < a.v THEN 1 ELSE 0 END)
                       AS BIGINT) AS slope_micros
            FROM daily a JOIN daily b ON a.idx < b.idx
        ),
        r AS (
            SELECT slope_micros AS v,
                   ROW_NUMBER() OVER (ORDER BY slope_micros) AS rk,
                   COUNT(*) OVER () AS n
            FROM p
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
               MAX(CASE WHEN rk = CAST(ceil(0.50 * n) AS BIGINT)
                   THEN v END) AS slope_micros
        FROM r
    """,
)
def theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue: the MEDIAN of all
    pairwise slopes (v_j − v_i)/(idx_j − idx_i) — the estimator that
    shrugs off the outlier days OLS (``revenue_trend_ols``) gets
    dragged by (29.3% breakdown point vs zero). Emitted in integer
    micro-cents/day.

    Exactness: each slope is quantized ONCE by exact integer FLOOR
    division. Spark's ``DIV`` and DuckDB's HUGEINT ``//`` both truncate
    toward zero, which differs from floor exactly when the numerator is
    negative with a nonzero remainder, so the quantizer applies the
    sign-correct floor correction (``_floor_div_sql``) identically on
    both engines — no positivity-shift constant that a larger SF's
    revenue deltas could breach (the r10-advice failure mode of the old
    1e14 shift). The median is then an exact order statistic over the
    quantized BIGINTs via :func:`operators.rank.inverse_cdf` — the
    range-repartitioned rank plan, never a single-task window (the
    oracle's ROW_NUMBER twin is oracle-scale only).

    Scale shape: the pair join is Θ(days²) — ~3.3 M rows for 7 years
    of days, constant in ROW count at any corpus size because it runs
    on the post-aggregation daily grain (100 TB of orders still
    reduces to one daily series first). For decade-long series the
    standard refinement is the randomized median-of-pairs or the
    O(n log n) Kth-pair selection; the exact all-pairs form is the
    spec those approximate."""
    daily = _daily_revenue(spark, sf_dir).localCheckpoint(eager=False)
    a = daily.select(F.col("idx").alias("ia"), F.col("v").alias("va"))
    b = daily.select(F.col("idx").alias("ib"), F.col("v").alias("vb"))
    # Fast-path/slow-path split on the SAME exact floor (both branches
    # compute the identical mathematical value, so the oracle needs no
    # CASE): |dy| <= 9e12 keeps |dy|*1e6 inside BIGINT, where Spark's
    # long DIV/% codegen is ~2x cheaper than DECIMAL(38) BigDecimal ops
    # (the r11 bench measured the all-DECIMAL form at 8.7 s warm vs the
    # old shift's 5.4 s); deltas past 9e12 cents/day — the 100 TB-scale
    # regime — take the DECIMAL branch, exact at any magnitude.
    fast = "((vb - va) * 1000000)"
    slow = "(CAST(vb - va AS DECIMAL(38,0)) * 1000000)"
    pairs = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            F.expr(
                "CASE WHEN abs(vb - va) <= 9000000000000 THEN "
                f"CAST({_floor_div_sql(fast, '(ib - ia)')} AS BIGINT) ELSE "
                f"CAST({_floor_div_sql(slow, '(ib - ia)')} AS BIGINT) END"
            ).alias("slope_micros")
        )
    )
    from ..operators.rank import inverse_cdf

    return inverse_cdf(
        pairs, "slope_micros", [("slope_micros", 0.50)], total_alias="n_pairs"
    )


_BOOT_B = 64
# Poisson(1) inverse-CDF thresholds scaled to 2^32 (floor(CDF_k * 2^32)
# for k = 0..5; u32 >= the last -> weight 6, P ~ 8e-5). Exact integer
# literals shared verbatim by both engines.
_POIS_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
           4292415291)


def _pois_case(u: str) -> str:
    """CASE expression: 32-bit hash uniform -> Poisson(1) weight."""
    whens = "".join(
        f" WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE{whens} ELSE 6 END"


@register(
    "bootstrap_mean_ci",
    bench="sketch",
    ops=("OP-AGG-05",),
    oracle=f"""
        WITH o AS (
            SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        b AS (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS rep),
        w AS (
            SELECT b.rep, o.cents,
                   {_pois_case(
                       "(('0x' || substr(md5(o.o_orderkey || ':' || b.rep),"
                       " 1, 8))::BIGINT)"
                   )} AS w
            FROM o CROSS JOIN b
        ),
        means AS (
            SELECT rep,
                   CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
                   AS mean_b
            FROM w GROUP BY rep
        ),
        r AS (
            SELECT mean_b, ROW_NUMBER() OVER (ORDER BY mean_b) AS rk
            FROM means
        ),
        full_mean AS (
            SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS m FROM o
        )
        SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicas,
               ROUND((SELECT m FROM full_mean), 4) AS mean_cents,
               ROUND(MAX(CASE WHEN rk = {math.ceil(0.025 * 64)}
                     THEN mean_b END), 4) AS ci_lo_cents,
               ROUND(MAX(CASE WHEN rk = {math.ceil(0.5 * 64)}
                     THEN mean_b END), 4) AS ci_mid_cents,
               ROUND(MAX(CASE WHEN rk = {math.ceil(0.975 * 64)}
                     THEN mean_b END), 4) AS ci_hi_cents
        FROM r
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the mean order
    value — the BOOTSTRAP THAT SCALES (Chamandy et al., Google 2012 /
    the streaming form of Efron's resampling): instead of materializing
    B resampled copies, each row gets B independent Poisson(1) weights
    (for n large, multinomial(n, 1/n) per-row counts converge to
    Poisson(1)), so all 64 replicas ride ONE corpus pass as a
    weighted aggregate. Weights are DERIVED, not drawn: md5(orderkey,
    replica) -> 32-bit uniform -> exact inverse-CDF thresholds — the
    ``hash_sample_by_lang`` reproducibility rule, so any engine and any
    partitioning produce the identical resample.

    Exactness: weights and cents are integers; each replica mean is
    one double division of exact sums; the CI bounds are order
    statistics over the 64 replica means (value-at-rank, the
    ``exact_percentiles`` convention); round(4) at the end.

    Scale shape: one scan fanned x64 by a broadcast replica spine
    (map-side combinable into 64 partial rows), one 64-row rank.
    100 TB of orders = one pass, no per-replica jobs, no RNG state."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    # spread the fact scan BEFORE the x64 fan-out: a small corpus
    # arrives as one parquet file, and the broadcast crossJoin
    # preserves that single partition — every md5 then runs in ONE
    # task (caught by the round-10 hashing A/B: the 64M-hash pipeline
    # was input-partition-bound, not hash-bound; a 4x-fewer-md5
    # variant measured WORSE, 82.7 vs 76.9 s single-task, because the
    # materialized hash string + slice fan-out cost more than the
    # hashing it saved). The narrow pre-fan-out shuffle is 2 columns.
    o = o.repartition(spark.sparkContext.defaultParallelism)
    reps = spark.range(_BOOT_B).select(F.col("id").alias("rep"))
    u32 = (
        "CAST(conv(substr(md5(concat(CAST(o_orderkey AS STRING), ':',"
        " CAST(rep AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    w = o.crossJoin(F.broadcast(reps)).select(
        "rep", "cents", F.expr(_pois_case(u32)).alias("w")
    )
    means = w.groupBy("rep").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w").cast("double")
        ).alias("mean_b")
    )
    from ..operators.rank import inverse_cdf

    cuts = inverse_cdf(
        means,
        "mean_b",
        [("ci_lo_cents", 0.025), ("ci_mid_cents", 0.5), ("ci_hi_cents", 0.975)],
        total_alias="n_replicas",
    )
    full = o.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("m")
    )
    return cuts.crossJoin(F.broadcast(full)).select(
        F.col("n_replicas").cast("bigint").alias("n_replicas"),
        F.round("m", 4).alias("mean_cents"),
        F.round("ci_lo_cents", 4).alias("ci_lo_cents"),
        F.round("ci_mid_cents", 4).alias("ci_mid_cents"),
        F.round("ci_hi_cents", 4).alias("ci_hi_cents"),
    )


@register(
    "cumulative_unique_users",
    bench="sketch",
    ops=("OP-AGG-03", "OP-X-APPROX-01"),
    oracle="""
        WITH first_day AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS day
            FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        daily AS (
            SELECT day, COUNT(*) AS new_users
            FROM first_day GROUP BY 1
        )
        SELECT day, CAST(new_users AS BIGINT) AS new_users,
               CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT)
               AS cumulative_users
        FROM daily ORDER BY day
    """,
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-growth curve: per day, the count of FIRST-SEEN users
    and the running cumulative unique-user total — the exact form of
    the growth chart ``rolling_7day_hll_users`` approximates with
    sketches. The classic trick that avoids a cumulative COUNT
    DISTINCT (which would rescan all history per day): reduce each
    user to their first-seen day, then a daily count plus a running
    sum are exact and incremental.

    The running sum is :func:`operators.prefix.chunked_cumsum`, so the
    day-grain cumulative never becomes a single-task window at any
    series length. Scale shape: one user-keyed aggregate (the only
    full-data shuffle), one day-grain aggregate, one bounded cumsum."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = (
        first_day.groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
        .withColumn("idx", F.datediff(F.col("day"), F.lit(_EPOCH)))
    )
    daily = chunked_cumsum(
        daily, [], "idx", F.col("new_users"), "cumulative_users"
    )
    return daily.select(
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.col("cumulative_users").cast("bigint").alias("cumulative_users"),
    ).orderBy("day")


_CCF_MAX_LAG = 7


@register(
    "purchase_click_ccf",
    bench="sketch",
    ops=("OP-AGG-03", "OP-AGG-05"),
    oracle=f"""
        WITH f AS (
            SELECT CAST(ts AS DATE) AS day, event_type
            FROM events WHERE ts IS NOT NULL
        ),
        daily AS (
            SELECT day,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS clicks,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS purchases
            FROM f GROUP BY 1
        ),
        bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        spine AS (
            SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                               INTERVAL 1 DAY)) AS DATE)
                   AS day
            FROM bounds
        ),
        s AS (
            SELECT sp.day, COALESCE(d.clicks, 0) AS c,
                   COALESCE(d.purchases, 0) AS p
            FROM spine sp LEFT JOIN daily d ON sp.day = d.day
        ),
        l AS (SELECT unnest(generate_series(0, {_CCF_MAX_LAG})) AS lag),
        pairs AS (
            SELECT l.lag, a.c AS x, b.p AS y
            FROM l CROSS JOIN s b
                 JOIN s a ON a.day = b.day - l.lag * INTERVAL 1 DAY
        ),
        g AS (
            SELECT lag, COUNT(*) AS n,
                   SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT))
                   AS sy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) AS syy
            FROM pairs GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS ccf
        FROM g ORDER BY lag
    """,
)
def purchase_click_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between daily CLICKS (lagged) and daily
    PURCHASES: Pearson r of (clicks at day t−lag, purchases at day t)
    for lags 0..7 — the leading-indicator diagnostic ('do clicks
    predict purchases, and with what delay'). The two series share one
    zero-filled daily spine (absent days are real zeros, exactly as in
    ``daily_revenue_acf``), and both are integer counts, so the five
    sums per lag are exact and the one division + correctly-rounded
    sqrt per lag is the only float work.

    Scale shape: ONE events pass produces both series as conditional
    counts of the same day-grain aggregate; the lag fan-out is a
    broadcast 8-row spine against O(days) rows."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("clicks"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("purchases"),
    )
    spine = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("day")
    )
    s = (
        spine.join(F.broadcast(daily), "day", "left_outer")
        .select(
            "day",
            F.coalesce("clicks", F.lit(0)).cast("bigint").alias("c"),
            F.coalesce("purchases", F.lit(0)).cast("bigint").alias("p"),
        )
        .localCheckpoint(eager=False)
    )
    lags = spark.range(0, _CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    b = s.crossJoin(F.broadcast(lags)).select(
        "lag",
        F.date_sub(F.col("day"), F.col("lag")).alias("day"),
        F.col("p").alias("y"),
    )
    pairs = s.select("day", F.col("c").alias("x")).join(b, "day")
    g = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).alias("syy"),
    )
    return g.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(
                (
                    F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
                ).cast("double")
                * (
                    F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
                ).cast("double")
            ),
            6,
        ).alias("ccf"),
    ).orderBy("lag")


_SURV_KS = (0, 1, 7, 14, 28)


@register(
    "user_survival_curve",
    bench="sketch",
    ops=("OP-AGG-03",),
    oracle=f"""
        WITH span AS (
            SELECT user_id,
                   date_diff('day', MIN(CAST(ts AS DATE)),
                             MAX(CAST(ts AS DATE))) AS days
            FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        ks AS (SELECT unnest(ARRAY{list(_SURV_KS)}) AS k),
        tot AS (SELECT COUNT(*) AS n FROM span)
        SELECT CAST(k AS BIGINT) AS k_days,
               CAST(SUM(CASE WHEN days >= k THEN 1 ELSE 0 END) AS BIGINT)
               AS survivors,
               CAST(1000 * SUM(CASE WHEN days >= k THEN 1 ELSE 0 END)
                    // n AS BIGINT) AS survival_permille
        FROM span CROSS JOIN ks CROSS JOIN tot
        GROUP BY k, n ORDER BY k
    """,
)
def user_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention survival curve: the share of users whose activity
    span (last event day − first event day) reaches at least k days,
    for k ∈ {0, 1, 7, 14, 28} — the churn summary a growth team reads
    as 'S(7) = 610‰ of users are still around a week after they
    arrive'. Exact integer permille; S is non-increasing in k by
    construction (pinned in tests).

    Scale shape: one user-keyed min/max aggregate (the only full-data
    shuffle), a broadcast 5-row k spine, one 5-row aggregate."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    span = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias(
            "days"
        )
    )
    ks = spark.createDataFrame(
        [(k,) for k in _SURV_KS], "k int"
    )
    tot = span.agg(F.count(F.lit(1)).alias("n"))
    return (
        span.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n")
        .agg(
            F.sum(F.when(F.col("days") >= F.col("k"), 1).otherwise(0)).alias(
                "survivors"
            )
        )
        .select(
            F.col("k").cast("bigint").alias("k_days"),
            F.col("survivors").cast("bigint").alias("survivors"),
            F.expr("CAST(1000 * survivors DIV n AS BIGINT)").alias(
                "survival_permille"
            ),
        )
        .orderBy("k_days")
    )


@register(
    "cohort_ltv_curve",
    bench="sketch",
    ops=("OP-AGG-03", "OP-AGG-01"),
    oracle="""
        WITH first_seen AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
            FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        cohorts AS (
            SELECT user_id,
                   CAST(date_trunc('week', first_day) AS DATE) AS cohort
            FROM first_seen
        ),
        csize AS (
            SELECT cohort, COUNT(*) AS users FROM cohorts GROUP BY 1
        ),
        weekly AS (
            SELECT c.cohort,
                   CAST(date_diff('day', c.cohort, CAST(e.ts AS DATE)) // 7
                        AS BIGINT) AS week,
                   SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS cents
            FROM events e JOIN cohorts c ON e.user_id = c.user_id
            WHERE e.ts IS NOT NULL AND e.value IS NOT NULL
                  AND e.event_type = 'purchase'
            GROUP BY 1, 2
        ),
        cum AS (
            SELECT cohort, week, cents,
                   SUM(cents) OVER (PARTITION BY cohort ORDER BY week
                                    ROWS UNBOUNDED PRECEDING) AS cum_cents
            FROM weekly
        )
        SELECT cum.cohort, CAST(week AS BIGINT) AS week,
               CAST(users AS BIGINT) AS cohort_users,
               CAST(cum_cents AS BIGINT) AS cum_revenue_cents,
               CAST(cum_cents // users AS BIGINT) AS ltv_cents_per_user
        FROM cum JOIN csize ON cum.cohort = csize.cohort
        ORDER BY cum.cohort, week
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by FIRST-SEEN week
    (Monday-truncated), purchase revenue accumulated per
    weeks-since-arrival — the LTV fan chart ('how much has the March
    cohort spent per head by week 4'). Exact cents; per-user LTV is an
    exact floor division by cohort size.

    The running sum per cohort is
    :func:`operators.prefix.chunked_cumsum` partitioned by cohort —
    the per-cohort week series is bounded, but the pattern keeps the
    plan window-free regardless of history length. Scale shape: one
    user-keyed first-seen aggregate, one shuffle join of purchases to
    their user's cohort, one (cohort, week) aggregate, a bounded
    cumsum, broadcast cohort sizes."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min(F.to_date("ts")))
        .cast("date")
        .alias("cohort")
    )
    csize = cohorts.groupBy("cohort").agg(F.count(F.lit(1)).alias("users"))
    weekly = (
        ev.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(cohorts, "user_id")
        .groupBy(
            "cohort",
            F.floor(
                F.datediff(F.to_date("ts"), F.col("cohort")) / 7
            )
            .cast("bigint")
            .alias("week"),
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("bigint")
            ).alias("cents")
        )
    )
    cum = chunked_cumsum(weekly, ["cohort"], "week", F.col("cents"), "cum_cents")
    return (
        cum.join(F.broadcast(csize), "cohort")
        .select(
            "cohort",
            F.col("week").cast("bigint").alias("week"),
            F.col("users").cast("bigint").alias("cohort_users"),
            F.col("cum_cents").cast("bigint").alias("cum_revenue_cents"),
            F.expr("CAST(cum_cents DIV users AS BIGINT)").alias(
                "ltv_cents_per_user"
            ),
        )
        .orderBy("cohort", "week")
    )

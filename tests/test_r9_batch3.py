"""r9 batch-3: point-in-time feature join, the registered journey
verdict, rolling HLL WAU. The journey/OHLC/skyline fold tests live in
tests/test_streaming_ingest.py with the other folds."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from crawlingbigdatavisionaid_spark.plans import registry
from crawlingbigdatavisionaid_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _q(name):
    registry._load_all()
    return registry.QUERIES[name].fn


def _seg(v):
    return "low" if v < 50 else ("mid" if v < 200 else "high")


def test_pit_join_matches_python_replica(spark):
    ev = load_table(spark, SF, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    ).select("user_id", "ts", "value", "event_type").collect()
    hist = defaultdict(list)
    for r in ev:
        hist[r["user_id"]].append((r["ts"], r["value"], r["event_type"]))
    agg = defaultdict(lambda: [0, 0])
    for u, rows in hist.items():
        rows.sort()
        for ts, value, etype in rows:
            if etype != "purchase":
                continue
            # segment as of ts: last change at or before ts
            seg = None
            for ts2, v2, _ in rows:
                if ts2 > ts:
                    break
                seg = _seg(v2)
            a = agg[seg]
            a[0] += 1
            a[1] += int((value * 100 + 0.5) // 1)
    got = {
        r["segment"]: (r["n_purchases"], r["revenue_cents"])
        for r in _q("pit_segment_features")(spark, SF).collect()
    }
    assert got == {s: tuple(v) for s, v in agg.items()}


def test_pit_join_tied_timestamps_deterministic(spark):
    """r9 ADVICE: a user with two same-ts events in different value
    bands yields two SCD2 runs sharing valid_from; the as-of match must
    resolve the tie by band rank (highest band wins) on the Spark side
    exactly as the oracle's CASE ... DESC does — not by partition
    order."""
    import datetime as dt

    from crawlingbigdatavisionaid_spark.operators.asof import asof_join
    from crawlingbigdatavisionaid_spark.plans.incremental import (
        scd2_runs,
        scd2_segment_expr,
    )

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 10.0, "view"),     # low band
        (1, t0, 500.0, "view"),    # high band — same ts, tie
        (1, t0 + dt.timedelta(hours=1), 75.0, "purchase"),  # later: mid
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_type string"
    )
    segs = scd2_runs(ev.select("user_id", "ts", scd2_segment_expr())).select(
        "user_id",
        F.col("valid_from").alias("ts"),
        "segment",
        F.when(F.col("segment") == "low", 0)
        .when(F.col("segment") == "mid", 1)
        .otherwise(2)
        .alias("band_rank"),
    )
    # a purchase AT the tied timestamp must match 'high' every time
    probe = spark.createDataFrame(
        [(1, t0, 1.0)], "user_id long, ts timestamp, value double"
    )
    for _ in range(3):
        got = asof_join(
            probe.repartition(7),
            segs,
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            right_payload=("segment",),
            right_tiebreak="band_rank",
        ).collect()
        assert [r["asof_segment"] for r in got] == ["high"]


def test_registered_stream_journey_verdict(spark):
    [r] = _q("stream_journey_merge")(spark, SF).collect()
    assert r["multi_batch"] and r["matches_batch"]
    assert r["total_trigrams"] > 0


def test_rolling_hll_graded_by_exact_twin(spark):
    rows = _q("rolling_7day_hll_users")(spark, SF).collect()
    exact = {
        r["day"]: r["active_users_7d"]
        for r in _q("rolling_7day_distinct_users")(spark, SF).collect()
    }
    assert {r["day"]: r["exact_users"] for r in rows} == exact
    assert all(r["within_2pct"] for r in rows)

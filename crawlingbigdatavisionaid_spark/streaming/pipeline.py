"""Structured Streaming forms of the batch operators.

The reference's ingestion loop is a 6-hourly scheduler poll
(``crawl.py:155-162``, OP-STR-01): an unbounded append-only source
consumed in micro-batches. The Spark-native form is a file-source
``readStream`` with ``trigger(availableNow=True)`` — each scheduled run
drains everything new and stops, checkpointed state carrying the
watermark and dedup keys between runs. A long-running deployment would
use ``trigger(processingTime='6 hours')`` with the identical query.

These helpers run a streaming query to completion against the test
parquet and hand back the result as a DataFrame, so streaming semantics
are oracle-checkable against the batch SQL (complete-mode aggregation
== the batch aggregate of the drained input).

Scale: stateful aggregation state lives in the state store keyed by
(window/key); ``withWatermark`` bounds it. The seen-URL dedup state of
the reference (unbounded!) becomes ``dropDuplicatesWithinWatermark`` —
bounded state, or a Delta MERGE in foreachBatch for exact-forever dedup.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import text as T


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (nanos ts handled as in
    the batch loader — conversion only when the file stores raw nanos)."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file source wants a directory: stream the sf dir, filtered to
    # the events file (each table is a single parquet file there)
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(schema["ts"].dataType, LongType):
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # watermarks require TIMESTAMP (LTZ) — a parquet NTZ column is
    # value-identical under the UTC session timezone
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_to_memory(result: DataFrame, mode: str) -> DataFrame:
    """Drain an availableNow streaming query into a memory sink; return
    the sink table.

    Shuffle partitions are scoped down for the drain: each stateful
    partition owns a state store, and on a vanilla session (200
    partitions) the per-store open/commit overhead dwarfs the work at
    verification scale. The conf is captured by the query's FIRST batch
    via its fresh checkpoint, so restoring it afterwards is safe.

    The checkpoint is removed once the drain returns: the memory sink's
    rows live in the driver, so the returned table does not read it."""
    spark_session = result.sparkSession
    prev = spark_session.conf.get("spark.sql.shuffle.partitions")
    name = "s" + uuid.uuid4().hex[:12]
    try:
        spark_session.conf.set("spark.sql.shuffle.partitions", "32")
        with tempfile.TemporaryDirectory(
            prefix="ckpt_", ignore_cleanup_errors=True
        ) as ckpt:
            (
                result.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
    finally:
        spark_session.conf.set("spark.sql.shuffle.partitions", prev)
    return spark_session.table(name)


def hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation with a watermark; drained
    with availableNow => equals the batch hourly aggregate."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_d"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cnt",
            F.col("sum_d").cast("double").alias("sum_value"),
        )
    )
    return _run_to_memory(agg, "complete")


def user_sessions(spark: SparkSession, sf_dir: str, gap_s: int = 1800) -> DataFrame:
    """Custom stateful sessionization (:mod:`.stateful`'s per-user state
    fold) drained with availableNow — equals the batch lag/gap
    sessionization."""
    from . import stateful

    ev = _events_stream(spark, sf_dir)
    return _run_to_memory(stateful.user_sessions_stream(ev, gap_s), "update")


def dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: each event arrives duplicated
    (explode x2) and ``dropDuplicates`` on the key keeps state across
    micro-batches; complete-mode count equals the distinct count."""
    ev = _events_stream(spark, sf_dir)
    doubled = ev.select(
        F.explode(F.array(F.lit(1), F.lit(2))).alias("copy"), "event_id"
    )
    deduped = doubled.dropDuplicates(["event_id"])
    agg = deduped.agg(F.count(F.lit(1)).alias("distinct_events"))
    return _run_to_memory(agg, "complete")


def session_windows(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Built-in session_window aggregation in streaming mode, drained
    with availableNow => equals the batch session_window aggregate."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "complete")


def interval_join_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: clicks joined to purchases of the
    same user within the preceding 10 minutes, both sides watermarked.

    The event-time bound is what makes this feasible: each side's join
    state is purged once the watermark passes the interval, so state
    stays O(window x rate) instead of growing forever. Drained with
    availableNow, the result equals the batch range join (the oracle).
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    return _run_to_memory(joined, "append")


def dedup_bounded_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-BOUNDED streaming dedup: ``dropDuplicatesWithinWatermark``
    keeps a key in the state store only until the watermark passes its
    event time — the 100 TB form of streaming dedup, where the plain
    ``dropDuplicates`` state grows without bound. Each event arrives
    doubled (same ts, so both copies are inside the watermark window);
    the appended distinct stream is counted per type post-sink."""
    ev = _events_stream(spark, sf_dir)
    doubled = ev.select(
        "event_id", "event_type", "ts",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("copy"),
    ).drop("copy")
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    sink = _run_to_memory(deduped, "append")
    return sink.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("distinct_events")
    )


def _doc_band_buckets(docs: DataFrame, k: int = 16, bands: int = 4) -> DataFrame:
    """Per-ROW MinHash band buckets — no aggregation, so it runs as a
    stateless map on a stream: shingles via a higher-order ``transform``
    over the token array, permutation minima via ``array_min`` of hashed
    shingles, band hash over each signature slice. (doc_id, band, bucket)."""
    rows = k // bands
    toks = T.tokens(F.col("text"))
    # word 3-grams, exactly as the batch operators.neardup.shingle_rows:
    # a doc with fewer than 3 tokens yields NO shingles (sequence() must
    # be guarded — with start > stop it would count DOWN, not be empty)
    sh = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda j: F.concat_ws(
                " ", F.element_at(toks, j), F.element_at(toks, j + 1),
                F.element_at(toks, j + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    # the seed must be captured by closure in a UNARY lambda: pyspark
    # picks unary/binary by parameter count, so `lambda s, i=i:` would
    # receive the ARRAY INDEX as its second argument and every
    # "permutation" would collapse to the same position-seeded min.
    def _perm(seed: int):
        return lambda s: F.xxhash64(F.lit(seed), s)

    mins = [
        F.array_min(F.transform(F.col("sh"), _perm(i))).alias(f"h{i}")
        for i in range(k)
    ]
    sigs = (
        docs.select("doc_id", sh.alias("sh"))
        .where(F.size("sh") > 0)
        .select("doc_id", *mins)
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * rows + r}") for r in range(rows)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def neardup_minhash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup suppression on a document stream: per-row
    MinHash band buckets (stateless map), then stateful
    ``dropDuplicates`` on (band, bucket) — a doc whose bucket was already
    seen in ANY earlier micro-batch is suppressed for that band, i.e. the
    streaming form of LSH bucket dedup. Emitted as distinct-bucket counts
    per band, which is deterministic regardless of arrival order.

    State note: (band, bucket) state here is unbounded because
    ``documents`` carries no event time; a production ingest attaches
    ingest time and uses ``dropDuplicatesWithinWatermark`` (see
    :func:`dedup_bounded_state`) so bucket state expires."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    buckets = _doc_band_buckets(raw).dropDuplicates(["band", "bucket"])
    sink = _run_to_memory(buckets, "append")
    return sink.groupBy("band").agg(
        F.count(F.lit(1)).alias("distinct_buckets")
    )


def quality_filter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering ON THE INGEST PATH: the selection layer's
    stopword/length gates applied inside Structured Streaming, so
    low-quality documents never reach the silver table at all (the
    shape a 100 TB crawl actually wants — filter at ingest, not in a
    nightly sweep). Stateless map+filter per micro-batch (no state
    store), then a per-source aggregate over the drained sink. All
    predicates are integer comparisons (2*stopwords <= tokens,
    tokens >= 5) — deterministic regardless of micro-batch slicing."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    toks = T.tokens("text")
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda x: x.isin(*T.STOPWORDS)))
    kept = raw.select(
        "source", n.alias("n_tok"), sw.alias("n_sw")
    ).where((F.col("n_tok") >= 5) & (2 * F.col("n_sw") <= F.col("n_tok")))
    sink = _run_to_memory(kept, "append")
    return sink.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum(F.col("n_tok").cast("bigint")).alias("kept_tokens"),
    )

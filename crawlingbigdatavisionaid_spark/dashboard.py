"""Dashboard serving layer: one silver scan -> materialized gold tables.

The reference recomputes every analytics panel from a full collection
fetch on EVERY page load (``app.py:112-142`` — Streamlit rerun model,
no data caching). The Spark-native design inverts that: a refresh pass
reads the silver table once (cached across the four aggregations) and
materializes each panel's answer as a tiny gold parquet table; page
loads read gold only — milliseconds, no recompute, no big scan.

The ``_schema.json`` contract: beside each panel's parquet files,
:func:`refresh_gold` writes the panel's schema (``df.schema.json()``)
to ``<gold>/<panel>/_schema.json``; the leading underscore hides it
from parquet readers. :func:`serve` reads the panel with that schema,
so a page load starts no Spark job (parquet schema inference would
start one per panel). The schema cannot be a constant here: ``recent``
mirrors whatever columns the caller's ``events`` has.

At 100 TB the refresh is the only job that touches the big table (per
ingest batch, e.g. 6-hourly in ``foreachBatch``); panels stay O(KB).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .functions import text as T
from .operators import timeline

PANELS = ("word_topk", "source_distribution", "timeline", "recent")
SCHEMA_FILE = "_schema.json"


def refresh_gold(
    spark: SparkSession,
    documents: DataFrame,
    events: DataFrame,
    gold_path: str,
    top_words: int = 150,
    recent_n: int = 5,
) -> None:
    """Compute all dashboard panels and land them as gold tables, each
    with its ``_schema.json`` sidecar (see the module docstring).

    ``documents`` is cached for the two panels that scan it — one real
    read, two aggregations — and unpersisted after materialization.
    """
    docs = documents.where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).cache()
    try:
        word_topk = (
            docs.select(F.explode(T.tokens("text")).alias("word"))
            .where(T.is_content_word(F.col("word")))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("word"))
            .limit(top_words)
        )
        source_distribution = (
            docs.select(F.coalesce("source", F.lit("Unknown")).alias("source"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        _write(word_topk, gold_path, "word_topk")
        _write(source_distribution, gold_path, "source_distribution")
    finally:
        docs.unpersist()

    _write(timeline.timeline_gapfill(events, "ts"), gold_path, "timeline")
    recent = events.orderBy(F.desc("ts"), F.desc("event_id")).limit(recent_n)
    _write(recent, gold_path, "recent")


def _schema_file(spark: SparkSession, gold_path: str, panel: str):
    """(Hadoop path, file system) of a panel's schema sidecar, resolved
    through the Hadoop FileSystem API like ``sources.merge.store_has_data``,
    so ``hdfs://`` and ``s3a://`` gold roots work too."""
    path = spark._jvm.org.apache.hadoop.fs.Path(f"{gold_path}/{panel}/{SCHEMA_FILE}")
    return path, path.getFileSystem(spark._jsc.hadoopConfiguration())


def _write(df: DataFrame, gold_path: str, name: str) -> None:
    df.write.mode("overwrite").parquet(f"{gold_path}/{name}")
    path, fs = _schema_file(df.sparkSession, gold_path, name)
    out = fs.create(path, True)
    try:
        out.write(bytearray(df.schema.json().encode()))
    finally:
        out.close()


def serve(spark: SparkSession, gold_path: str, panel: str) -> DataFrame:
    """A page load: read the pre-aggregated panel — no big-table scan,
    and no Spark job until the caller acts on the result. The panel's
    schema comes from the ``_schema.json`` that :func:`refresh_gold`
    wrote beside it; a panel without one raises ``FileNotFoundError``
    instead of falling back to schema inference."""
    if panel not in PANELS:
        raise KeyError(f"unknown panel {panel!r}; expected one of {PANELS}")
    path, fs = _schema_file(spark, gold_path, panel)
    if not fs.exists(path):
        raise FileNotFoundError(
            f"{path.toString()} not found: build the gold panels with "
            "refresh_gold before serving them"
        )
    stream = fs.open(path)
    try:
        schema = StructType.fromJson(json.loads(bytes(stream.readAllBytes())))
    finally:
        stream.close()
    return spark.read.schema(schema).parquet(f"{gold_path}/{panel}")

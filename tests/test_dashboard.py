"""Gold-table dashboard: refresh materializes panels equal to the live
registry queries; serving reads no big table."""

from __future__ import annotations

from crawlingbigdatavisionaid_spark import dashboard as D
from crawlingbigdatavisionaid_spark.plans import query_map
from crawlingbigdatavisionaid_spark.sources import load_table


def test_gold_panels_match_live_queries(spark, sf_dir, tmp_path):
    gold = str(tmp_path / "gold")
    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    D.refresh_gold(spark, docs, events, gold)

    q = query_map()
    live_words = sorted(map(tuple, q["word_topk"](spark, sf_dir).collect()))
    gold_words = sorted(map(tuple, D.serve(spark, gold, "word_topk").collect()))
    assert gold_words == live_words

    live_tl = sorted(map(tuple, q["timeline_gapfill"](spark, sf_dir).collect()))
    gold_tl = sorted(map(tuple, D.serve(spark, gold, "timeline").collect()))
    assert gold_tl == live_tl

    assert D.serve(spark, gold, "recent").count() == 5


def test_serve_builds_every_panel_without_a_job(spark, sf_dir, tmp_path):
    """Each panel is read with the schema refresh_gold stored beside it,
    so building the four page-load reads starts no Spark job (schema
    inference would start one per panel)."""
    gold = str(tmp_path / "gold")
    D.refresh_gold(
        spark,
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "events"),
        gold,
    )
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    panels = {p: D.serve(spark, gold, p) for p in D.PANELS}
    assert list(tracker.getJobIdsForGroup(None)) == list(before)
    assert panels["recent"].count() == 5


def test_serve_without_schema_file_names_refresh_gold(spark, tmp_path):
    import pytest

    gold = str(tmp_path / "gold")
    spark.range(3).write.parquet(f"{gold}/word_topk")
    with pytest.raises(FileNotFoundError, match="refresh_gold"):
        D.serve(spark, gold, "word_topk")


def test_serve_rejects_unknown_panel(spark, tmp_path):
    import pytest

    with pytest.raises(KeyError):
        D.serve(spark, str(tmp_path), "nope")

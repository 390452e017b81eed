"""HTML-extraction queries (OP-EXT-01..07, OP-DEDUP-01, OP-FLT-02,
OP-AGG-06, OP-STR-02) over deterministic in-memory fixtures.

The oracle side is a SQL VALUES literal of the expected rows — the
fixtures exercise every cascade branch, so a hash match here checks the
full extraction semantics, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..extraction import fixtures as FX, udfs as U
from .registry import register


def _pages(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        FX.LISTING_PAGES, "source string, base_url string, html string"
    ).coalesce(1)


def _articles(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        FX.ARTICLE_PAGES, "url string, html string"
    ).coalesce(1)


def _extracted(spark: SparkSession) -> DataFrame:
    listing = U.extract_listing(_pages(spark)).dropDuplicates(["url"])
    return U.extract_articles(listing, _articles(spark))


def _values_literal(rows, width: int) -> str:
    def cell(v):
        if v is None:
            return "CAST(NULL AS VARCHAR)"
        return "'" + str(v).replace("'", "''") + "'"

    return ", ".join(
        "(" + ", ".join(cell(c) for c in r[:width]) + ")" for r in rows
    )


@register(
    "html_extraction",
    ops=(
        "OP-EXT-01", "OP-EXT-02", "OP-EXT-03", "OP-EXT-04", "OP-EXT-05",
        "OP-EXT-06", "OP-EXT-07", "OP-SRC-01", "OP-SRC-02", "OP-STR-02",
    ),
    oracle=f"""
        SELECT * FROM (VALUES {_values_literal(FX.EXPECTED_ARTICLES, 5)})
            AS t(url, source, title, content, published_at)
    """,
)
def html_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Listing cascade -> link explode -> within-batch URL dedup ->
    article-field extraction, all via Arrow UDFs over the stdlib
    mini-DOM. Fixtures cover: article-tag priority, div.post
    tier, fuzzy class fallback, linkless-block skip, relative-URL join,
    h1/title/default cascade, empty-<p> drop, all five date sources."""
    return _extracted(spark)


@register(
    "html_extraction_parsed_ts",
    ops=("OP-EXT-06", "OP-FLT-02"),
    oracle="""
        SELECT * FROM (VALUES
            ('https://bloga.example/posts/1', TIMESTAMP '2024-03-05 10:00:00'),
            ('https://bloga.example/posts/2', TIMESTAMP '2024-03-06 12:30:00'),
            ('https://blogb.example/base/p/9', TIMESTAMP '2024-03-07 00:00:00')
        ) AS t(url, published_ts)
    """,
)
def html_extraction_parsed_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive timestamp parse cascade; unparseable rows are dropped
    (null-on-error, filter-not-null) — the declarative except-continue."""
    ex = _extracted(spark)
    return (
        ex.select(
            "url", U.parse_published(F.col("published_at")).alias("published_ts")
        )
        .where(F.col("published_ts").isNotNull())
    )


@register(
    "crawl_batch_dedup",
    ops=("OP-DEDUP-01", "OP-AGG-06", "OP-SNK-01"),
    oracle="""
        SELECT * FROM (VALUES
            ('blogA', 1), ('blogB', 1), ('blogC', 1)
        ) AS t(source, new_articles)
    """,
)
def crawl_batch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-store dedup + per-batch accounting: one fixture URL is
    already stored; the anti-join drops it and the per-source new-row
    counts are what an append sink would log (OP-AGG-06)."""
    ex = _extracted(spark)
    existing = spark.createDataFrame(
        [(u,) for u in FX.EXISTING_URLS], "url string"
    )
    fresh = ex.join(existing, "url", "left_anti")
    return (
        fresh.groupBy("source")
        .agg(F.count(F.lit(1)).cast("int").alias("new_articles"))
    )


@register(
    "crawl_pysource_ingest",
    ops=("OP-SRC-01", "OP-SRC-02", "OP-EXT-01", "OP-EXT-07"),
    oracle=f"""
        SELECT * FROM (VALUES {_values_literal(FX.EXPECTED_ARTICLES, 5)})
            AS t(url, source, title, content, published_at)
    """,
)
def crawl_pysource_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same end-to-end extraction as ``html_extraction``, but the pages
    arrive through the Spark 4 Python Data Source API
    (``format("crawlpages")``, one InputPartition per seed) instead of a
    driver-built DataFrame — the fetch stage as a real scan the
    scheduler owns. Output must be identical, so the same VALUES oracle
    checks it."""
    from ..sources.pysource import register_crawl_source

    register_crawl_source(spark)
    pages = spark.read.format("crawlpages").load()
    articles = spark.read.format("crawlpages").option("kind", "article").load()
    listing = U.extract_listing(pages).dropDuplicates(["url"])
    return U.extract_articles(listing, articles)


_MESSY_URLS = [
    "HTTPS://BlogA.Example/Posts/1",
    "https://bloga.example/Posts/1#section",
    "https://bloga.example/Posts/1?utm_source=feed&utm_medium=rss",
    "https://bloga.example/Posts/1/",
    "https://bloga.example:443/Posts/1",  # default port alias
    "https://blogb.example/p/9?id=2&utm_source=x",
    "https://blogb.example/p/9?id=2",
    "https://blogc.example/",
    # param NAME ending in a tracking name must NOT be eaten
    "https://blogd.example/p?autm_source=1",
    # percent-encoding case + query-param order alias the same resource
    "https://bloge.example/a%2fb?b=2&a=1",
    "https://bloge.example/a%2Fb?a=1&b=2",
]


@register(
    "url_canonical_dedup",
    bench="dedup",
    ops=("OP-DEDUP-01", "OP-EXT-03"),
    oracle="""
        SELECT * FROM (VALUES
            ('https://bloga.example/Posts/1', 5),
            ('https://blogb.example/p/9?id=2', 2),
            ('https://blogc.example', 1),
            ('https://blogd.example/p?autm_source=1', 1),
            ('https://bloge.example/a%2Fb?a=1&b=2', 2)
        ) AS t(canonical, n_variants)
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization ahead of crawl dedup: the reference dedups on
    the RAW url string (crawl.py:73), so fragment / tracking-param /
    trailing-slash / case variants re-crawl as new articles. Canonical-
    izing first (functions/urls.py — pure built-in regexp transforms)
    collapses the variants; the VALUES oracle pins the exact rules."""
    from ..functions.urls import canonical_url

    urls = spark.createDataFrame([(u,) for u in _MESSY_URLS], "url string")
    return (
        urls.select(canonical_url("url").alias("canonical"))
        .groupBy("canonical")
        .agg(F.count(F.lit(1)).cast("int").alias("n_variants"))
    )

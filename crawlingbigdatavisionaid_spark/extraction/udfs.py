"""Spark boundary for HTML extraction: Arrow UDFs over the plain-Python
cascade helpers in ``html.py``, plus the permissive publish-date parser
(OP-FLT-02) as a built-in ``try_to_timestamp`` coalesce cascade (no
Python).

Error isolation (OP-STR-02): a page that fails to parse yields NULL
instead of failing the task — downstream filters drop it, the batch
proceeds (the reference's try/except-continue, declaratively).
:func:`links_or_none` and :func:`article_or_nulls` hold that rule once;
the UDFs here and the crawl round's fetch pass
(``crawl/pipeline.py``) both apply it.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from . import html as H

_ARTICLE_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("content", StringType()),
        StructField("published_at", StringType()),
    ]
)
_NULL_ARTICLE = {"title": None, "content": None, "published_at": None}


def links_or_none(html: str | None, base_url: str | None) -> list[str] | None:
    """A listing page's links, or None if it has no HTML or fails to parse."""
    if html is None:
        return None
    try:
        return H.extract_links(html, base_url)
    except Exception:  # noqa: BLE001 — per-item isolation (OP-STR-02)
        return None


def article_or_nulls(html: str | None) -> dict:
    """An article page's fields; all NULL if it fails to parse."""
    try:
        return H.extract_article(html)
    except Exception:  # noqa: BLE001 — per-item isolation (OP-STR-02)
        return dict(_NULL_ARTICLE)


@arrow_udf(ArrayType(StringType()))
def links_udf(html: pa.Array, base_url: pa.Array) -> pa.Array:
    return pa.array(
        [
            links_or_none(h, b)
            for h, b in zip(html.to_pylist(), base_url.to_pylist())
        ],
        type=pa.list_(pa.string()),
    )


@arrow_udf(_ARTICLE_SCHEMA)
def article_udf(html: pa.Array) -> pa.Array:
    return pa.array(
        [article_or_nulls(h) for h in html.to_pylist()],
        type=pa.struct([(f.name, pa.string()) for f in _ARTICLE_SCHEMA]),
    )


# Fixed permissive-parse format list (the declarative form of the
# reference's dateutil parse, app.py:90 — SURVEY.md §7 hard part (a):
# the accepted formats are pinned so oracles can encode the same list).
# Ordered most- to least-specific; first match wins, so additions go at
# the end and never change the parse of an already-accepted string.
# tests/test_formats.py property-checks the cascade against
# dateutil.parser.parse on rendered samples of every format here.
# Deliberately NOT accepted (dateutil would guess, we refuse): bare
# numbers ("20240305"), dd/MM vs MM/dd ambiguity (only the dateutil
# default MM/dd/yyyy is in the list), and fuzzy prose dates.
_TS_FORMATS = (
    # ISO 8601, with/without fraction and zone offset
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    # RFC 2822 without weekday ("05 Mar 2024 10:00:00 +0000"); the
    # weekday-prefixed form is handled by stripping it first — Spark's
    # corrected parser has no day-of-week parse field (no EEE).
    "d MMM yyyy HH:mm:ss Z",
    "d MMM yyyy HH:mm:ss XXX",
    # prose dates: "Mar 5, 2024" / "March 5, 2024" / "5 March 2024"
    "MMM d, yyyy",
    "MMMM d, yyyy",
    "d MMMM yyyy",
    "d MMM yyyy",
    # numeric separators: US order (dateutil's default) and y/m/d
    "MM/dd/yyyy",
    "yyyy/MM/dd",
)


def parse_published(col: Column) -> Column:
    """Null-on-failure timestamp parse cascade (OP-FLT-02).

    Every format is tried on the raw string AND on a copy with any RFC
    2822 weekday prefix ("Tue, ") stripped, since post-3.0 Spark cannot
    parse a day-of-week field. All attempts stay JVM-side (one coalesce
    over ``try_to_timestamp`` calls — no Python)."""
    stripped = F.regexp_replace(col, r"^[A-Za-z]{3},\s+", "")
    attempts = [F.try_to_timestamp(col, F.lit(fmt)) for fmt in _TS_FORMATS]
    attempts += [
        F.try_to_timestamp(stripped, F.lit(fmt)) for fmt in _TS_FORMATS
    ]
    return F.coalesce(*attempts)


def extract_listing(pages: DataFrame) -> DataFrame:
    """(source, base_url, html) listing pages -> one row per article URL.

    Blocks without links were already skipped inside the cascade; pages
    that fail to parse yield null arrays -> filtered (OP-STR-02).
    """
    return (
        pages.select(
            "source",
            links_udf(F.col("html"), F.col("base_url")).alias("urls"),
        )
        .where(F.col("urls").isNotNull())
        .select("source", F.explode("urls").alias("url"))
    )


def extract_articles(
    listing: DataFrame, article_pages: DataFrame
) -> DataFrame:
    """Join discovered URLs to fetched article pages and extract fields.

    ``article_pages`` is (url, html) — fixture pages or a ``crawlpages``
    scan here, a WARC read at scale. The live crawl round does not join:
    its fetch pass extracts each page as it fetches it
    (``crawl/pipeline.py``).
    """
    fields = article_pages.select(
        "url", article_udf(F.col("html")).alias("a")
    ).select(
        "url",
        F.col("a.title").alias("title"),
        F.col("a.content").alias("content"),
        F.col("a.published_at").alias("published_at"),
    )
    return listing.join(fields, "url", "inner").select(
        "url", "source", "title", "content", "published_at"
    )

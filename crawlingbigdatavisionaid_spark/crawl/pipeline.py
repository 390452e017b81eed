"""The crawl ingestion pipeline — the reference's ``crawl.py`` flow
rebuilt as one declarative Spark job:

    seeds -> listing pass: fetch + link cascade    OP-SRC-01, OP-EXT-01..03
          -> within-batch URL dedup                OP-DEDUP-01
          -> anti-join vs store                    OP-DEDUP-01
          -> hash-partition by domain, URL order
          -> article pass: fetch + field cascade   OP-SRC-02, OP-EXT-04..07
          -> append to the store                   OP-SNK-01
          -> batch accounting                      OP-AGG-06

Both passes go through one ``mapInArrow`` boundary, :func:`_fetch_pass`:
each discovered URL is fetched exactly once and extracted in the same
Python call, so no ``html`` column crosses back to the JVM and no join
re-reads the fetched pages. Inside a pass, each domain gets one thread
that fetches its URLs serially (the reference's per-site politeness,
``crawl.py:78``) while distinct domains fetch concurrently.

The reference probes the store once per candidate URL
(``crawl.py:73`` — O(candidates) round-trips against an unindexed
field); here the whole batch dedups with ONE hash anti-join. Failures
isolate per row (OP-STR-02): a failed fetch yields no row, an article
that fails to parse yields a row of NULL fields, and a listing that
fails to parse yields no links — never a failed batch.

Fetching is pluggable: tests use :class:`DictFetcher` (deterministic,
no network); production uses :func:`http_fetcher` inside the same
pass, or skips live fetch entirely and reads pre-crawled WARC /
binaryFile at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.conversion import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..extraction import udfs as U

STORE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("title", StringType()),
        StructField("content", StringType()),
        StructField("published_at", StringType()),
    ]
)


class DictFetcher:
    """Deterministic in-memory fetcher (url -> html); unknown URLs return
    None, exercising the per-item error-isolation path."""

    def __init__(self, pages: dict[str, str]):
        self.pages = dict(pages)

    def __call__(self, url: str) -> str | None:
        return self.pages.get(url)


def http_fetcher(
    url: str, timeout: float = 10.0, max_bytes: int = 16 * 1024 * 1024
) -> str:
    """Live HTTP fetch via stdlib urllib — the reference's
    ``requests.get(url, timeout=10)`` (``crawl.py:32-36``) without the
    third-party dependency. Raises on any failure (connection, HTTP
    error status, timeout); per-item isolation lives one level up in
    :func:`_fetch_urls`, which turns the raise into a None page
    (OP-STR-02). A module-level function, so it pickles cleanly into
    the ``mapInArrow`` fetch passes of :func:`_fetch_pass`. Tests
    exercise it against a 127.0.0.1 ``http.server`` only
    (tests/test_loopback_fetch.py); nothing in this repo talks to the
    external network.

    Only http(s) URLs are fetched: ``urlopen`` would happily follow
    ``file://``/``ftp://``, and extracted links preserve absolute
    schemes (``urljoin`` semantics), so a crawled page could otherwise
    point the crawler at local files — the reference's ``requests.get``
    rejects those schemes too (InvalidSchema). The allowlist is
    enforced PER REDIRECT HOP, not just on the initial URL: stdlib
    ``HTTPRedirectHandler`` explicitly permits 3xx targets with scheme
    ``ftp``, so a malicious server answering ``302 Location: ftp://…``
    would otherwise walk straight around the guard (r8 self-review
    finding). The body read is capped at ``max_bytes`` so one
    pathological page can't exhaust an executor; an over-limit page
    raises (→ null row upstream) rather than truncating silently,
    which could strip the very selectors the extraction cascade keys
    on."""
    import urllib.parse
    import urllib.request

    def _check_scheme(u: str) -> None:
        scheme = urllib.parse.urlparse(u).scheme
        if scheme not in ("http", "https"):
            raise ValueError(
                f"refusing non-http(s) scheme {scheme!r} for {u!r}"
            )

    class _HttpOnlyRedirect(urllib.request.HTTPRedirectHandler):
        def redirect_request(self, req, fp, code, msg, headers, newurl):
            _check_scheme(newurl)
            return super().redirect_request(
                req, fp, code, msg, headers, newurl
            )

    _check_scheme(url)
    opener = urllib.request.build_opener(_HttpOnlyRedirect())
    with opener.open(url, timeout=timeout) as resp:
        body = resp.read(max_bytes + 1)
        if len(body) > max_bytes:
            raise ValueError(f"response for {url!r} exceeds {max_bytes} bytes")
        charset = resp.headers.get_content_charset() or "utf-8"
        return body.decode(charset, errors="replace")


def _fetch_urls(urls, fetcher) -> list[str | None]:
    """THE per-item fetch loop (OP-STR-02 isolation: a failing URL
    yields None, never fails the batch) — the one loop every domain
    worker of :func:`_fetch_pass` runs, so the crawl passes and the
    scheduled stage can never drift apart in failure semantics."""
    html: list[str | None] = []
    for u in urls:
        try:
            html.append(fetcher(u))
        except Exception:  # noqa: BLE001 — OP-STR-02 isolation
            html.append(None)
    return html


def _fetch_pass(
    df: DataFrame,
    domain_col: str,
    url_col: str,
    fetcher,
    emit: Callable[[dict, str | None, int], Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """THE fetch boundary: ``df`` crosses to Python as Arrow batches
    (``mapInArrow``) and every row's ``url_col`` is fetched exactly once.

    Politeness: within a batch, rows group by ``domain_col`` and a
    ``ThreadPoolExecutor`` runs one worker per domain; each worker walks
    its domain's URLs serially, in input order, through
    :func:`_fetch_urls`, so distinct domains fetch concurrently and one
    domain never has two requests in flight. Batches run one after
    another, so a domain that spans two batches is still fetched
    serially. The caller keeps each domain inside one task (hash
    partitioning by domain) — how many tasks AQE makes does not matter.

    ``emit(row, html, seq)`` maps one fetched row (a dict of ``df``'s
    columns; ``html`` is None if the fetch failed) to zero or more
    output rows, tuples of ``schema``'s fields. ``seq`` counts the
    domain's fetches within the task, in execution order."""
    arrow_schema = to_arrow_schema(schema)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        seq: dict = {}  # per-domain execution counter, across batches

        def domain(key, rows: list[dict]) -> list[tuple]:
            start = seq.get(key, 0)
            seq[key] = start + len(rows)
            pages = _fetch_urls([r[url_col] for r in rows], fetcher)
            return [
                out
                for i, (row, html) in enumerate(zip(rows, pages))
                for out in emit(row, html, start + i)
            ]

        for b in it:
            groups: dict = {}
            for row in b.to_pylist():
                groups.setdefault(row[domain_col], []).append(row)
            with ThreadPoolExecutor(max_workers=max(len(groups), 1)) as pool:
                parts = list(pool.map(domain, groups, groups.values()))
            rows = [r for part in parts for r in part]
            cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return df.mapInArrow(batches, schema)


def scheduled_fetch_stage(
    df: DataFrame, url_col: str, domain_col: str, fetcher
) -> DataFrame:
    """Politeness-scheduled fetch: the frontier-schedule slots
    (plans/selection.crawl_frontier_schedule) actually CONSUMED by the
    fetch pass — the distributed form of the reference's serial
    per-site loop (``crawl.py:78,155-162``) enforced, not just computed.
    Adds ``slot``, ``html`` (None on a failed fetch) and ``fetch_seq``.

    Mechanics: per-domain slots come from a deterministic window
    (row_number over domain, ordered by URL). The window's exchange
    hash-partitions by domain, so every domain's rows are CO-LOCATED in
    one task (a coalesce can merge domains into a shared task but never
    split one); ``sortWithinPartitions(domain, slot)`` then pins the
    order, and :func:`_fetch_pass` fetches each domain serially in that
    order on its own thread while distinct domains run concurrently.
    ``fetch_seq`` is the per-domain execution counter, which makes the
    serialization testable: per domain, ordering by slot must give
    strictly increasing fetch_seq."""
    w = Window.partitionBy(domain_col).orderBy(url_col)
    slotted = df.withColumn(
        "slot", (F.row_number().over(w) - F.lit(1)).cast("bigint")
    ).sortWithinPartitions(domain_col, "slot")
    schema = StructType(
        list(slotted.schema.fields)
        + [StructField("html", StringType()), StructField("fetch_seq", LongType())]
    )
    return _fetch_pass(
        slotted,
        domain_col,
        url_col,
        fetcher,
        lambda row, html, seq: ((*row.values(), html, seq),),
        schema,
    )


_LINK_SCHEMA = StructType(
    [StructField("source", StringType()), StructField("url", StringType())]
)


def _emit_links(row: dict, html: str | None, _seq: int) -> list[tuple]:
    links = U.links_or_none(html, row["base_url"]) or ()
    return [(row["source"], u) for u in links]


def _emit_article(row: dict, html: str | None, _seq: int) -> tuple[tuple, ...]:
    if html is None:
        return ()
    a = U.article_or_nulls(html)
    return ((row["url"], row["source"], a["title"], a["content"], a["published_at"]),)


def read_store(spark: SparkSession, store_path: str) -> DataFrame:
    # store-emptiness rule shared with merge_append (one definition —
    # the pre-fetch anti-join and the append-time anti-join must never
    # disagree about the same store)
    from ..sources.merge import store_has_data

    if store_has_data(spark, store_path):
        # the schema is known: passing it skips the inference job
        return spark.read.schema(STORE_SCHEMA).parquet(store_path)
    return spark.createDataFrame([], STORE_SCHEMA)


def crawl_batch(
    spark: SparkSession,
    seeds: list[tuple[str, str]],
    fetcher,
    store_path: str,
) -> dict[str, int]:
    """One scheduled crawl round (the body of the reference's 6-hourly
    loop). Returns the accounting counters the reference prints
    (``crawl.py:133-136``)."""
    seed_df = spark.createDataFrame(
        seeds, "source string, base_url string"
    ).coalesce(1)
    listing = _fetch_pass(
        seed_df, "source", "base_url", fetcher, _emit_links, _LINK_SCHEMA
    ).dropDuplicates(["url"])

    existing = read_store(spark, store_path).select("url")
    fresh_urls = listing.join(existing, "url", "left_anti")

    # hash partitioning keeps each domain inside one task, so the pass's
    # per-domain thread fetches it serially in URL order (the
    # reference's per-site politeness, crawl.py:78); domains run in
    # parallel
    batch = _fetch_pass(
        fresh_urls.repartition("source").sortWithinPartitions("source", "url"),
        "source",
        "url",
        fetcher,
        _emit_article,
        STORE_SCHEMA,
    )

    # store write through the transactional-ingest seam
    # (sources/merge.merge_append): re-checks the key against the store
    # at append time (idempotent under replays, unlike the bare append
    # this used to be) and coordinates with a concurrent compaction
    from ..sources.merge import merge_append

    n_new = merge_append(spark, store_path, batch, "url")
    # read_store, not a bare read: an all-failed first round appends
    # nothing to a store that does not exist yet, and the counters must
    # report (0, 0) instead of raising PATH_NOT_FOUND
    n_total = read_store(spark, store_path).count()
    return {"new_rows": n_new, "store_rows": n_total}

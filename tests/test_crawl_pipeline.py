"""End-to-end crawl pipeline tests: fetch (fake) -> extract -> dedup ->
append, including the idempotence property (run twice adds nothing —
SURVEY.md §5.4)."""

from __future__ import annotations

import pytest

from crawlingbigdatavisionaid_spark.crawl.pipeline import (
    DictFetcher,
    crawl_batch,
    read_store,
)
from crawlingbigdatavisionaid_spark.extraction import fixtures as FX

SEEDS = [(s, b) for s, b, _ in FX.LISTING_PAGES]
PAGES = {b: h for _, b, h in FX.LISTING_PAGES} | dict(FX.ARTICLE_PAGES)


@pytest.fixture()
def store(tmp_path):
    return str(tmp_path / "store")


def test_first_crawl_ingests_all_unique_articles(spark, store):
    stats = crawl_batch(spark, SEEDS, DictFetcher(PAGES), store)
    assert stats == {"new_rows": 4, "store_rows": 4}
    rows = {r.url: r for r in read_store(spark, store).collect()}
    assert set(rows) == {u for u, _ in FX.ARTICLE_PAGES}
    assert rows["https://bloga.example/posts/1"].title == "Alpha"
    assert rows["https://blogb.example/base/p/9"].title == "No Title Found"


def test_recrawl_is_idempotent(spark, store):
    crawl_batch(spark, SEEDS, DictFetcher(PAGES), store)
    stats2 = crawl_batch(spark, SEEDS, DictFetcher(PAGES), store)
    assert stats2 == {"new_rows": 0, "store_rows": 4}


def test_failed_fetches_isolate_per_item(spark, store):
    # article pages for blogA missing -> those rows drop, others ingest
    partial = {b: h for _, b, h in FX.LISTING_PAGES} | {
        u: h for u, h in FX.ARTICLE_PAGES if "bloga" not in u
    }
    stats = crawl_batch(spark, SEEDS, DictFetcher(partial), store)
    assert stats["new_rows"] == 2
    # the missing articles arrive on a later round once fetchable
    stats2 = crawl_batch(spark, SEEDS, DictFetcher(PAGES), store)
    assert stats2 == {"new_rows": 2, "store_rows": 4}


def test_canonical_url_is_idempotent(spark):
    """A dedup key must be a fixed point: canonicalizing twice changes
    nothing (otherwise re-ingesting stored rows re-dedups differently)."""
    from pyspark.sql import functions as F

    from crawlingbigdatavisionaid_spark.functions.urls import canonical_url

    cases = [
        "HTTPS://BlogA.Example/Posts/1",
        "https://bloga.example/posts/1#sec",
        "https://bloga.example/posts/1?utm_source=x&id=2&utm_medium=y",
        "https://bloga.example/posts/1/",
        "https://bloga.example/",
        "http://bloga.example/a/b/c?x=1&y=2#z",
        "https://bloga.example/p?fbclid=abc",
        # boundary: param name merely ENDS in a tracking name — keep it
        "https://bloga.example/p?autm_source=1",
        "https://bloga.example/p?id=1&xfbclid=2",
        # default ports, percent-case, param order
        "http://bloga.example:80/x",
        "https://bloga.example:443/x?b=2&a=1",
        "http://bloga.example:8080/x",
        "https://bloga.example/a%2fb%ZZ%3d",
        # consecutive tracking params (separator cleanup)
        "https://bloga.example/p?utm_source=a&utm_medium=b&id=2",
        "https://bloga.example/p?id=2&utm_source=a&utm_medium=b",
    ]
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    rows = df.select(
        canonical_url("url").alias("once"),
    ).select(
        "once", canonical_url(F.col("once")).alias("twice")
    ).collect()
    for r in rows:
        assert r["once"] == r["twice"], (r["once"], r["twice"])
    # meaningful query params survive; tracking params don't
    got = {r["once"] for r in rows}
    assert "https://bloga.example/posts/1?id=2" in got
    assert "https://bloga.example/p" in got
    # boundary names are NOT tracking params
    assert "https://bloga.example/p?autm_source=1" in got
    assert "https://bloga.example/p?id=1&xfbclid=2" in got
    # default ports stripped, non-default kept; params sorted
    assert "http://bloga.example/x" in got
    assert "https://bloga.example/x?a=1&b=2" in got
    assert "http://bloga.example:8080/x" in got
    # valid escapes uppercased; invalid ones untouched
    assert "https://bloga.example/a%2Fb%ZZ%3D" in got
    # consecutive tracking params collapse cleanly, either position
    assert "https://bloga.example/p?id=2" in got


def test_scheduled_fetch_serializes_per_domain(spark):
    """The frontier-schedule slots are ENFORCED by the fetch stage: for
    every domain, ordering its rows by slot gives strictly increasing
    per-task execution sequence numbers (same-domain fetches never
    interleave or share a slot), while distinct domains may run in
    parallel tasks."""
    from crawlingbigdatavisionaid_spark.crawl.pipeline import (
        DictFetcher,
        scheduled_fetch_stage,
    )

    rows = [
        (f"d{d}.example", f"http://d{d}.example/p{i}")
        for d in range(6)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "source string, url string").repartition(8)
    pages = {u: f"<html>{u}</html>" for _, u in rows}
    out = scheduled_fetch_stage(df, "url", "source", DictFetcher(pages)).collect()
    assert len(out) == len(rows)
    by_domain: dict[str, list] = {}
    for r in out:
        by_domain.setdefault(r.source, []).append(r)
    for dom, rs in by_domain.items():
        slots = sorted(r.slot for r in rs)
        # slots are the dense politeness lane 0..n-1 — no shared slot
        assert slots == list(range(len(rs))), dom
        seqs = [r.fetch_seq for r in sorted(rs, key=lambda r: r.slot)]
        # slot order == execution order within one sequential task
        assert seqs == sorted(seqs), (dom, seqs)
        assert len(set(seqs)) == len(seqs), dom
    # every fetch actually ran (html present, per-item isolation intact)
    assert all(r.html for r in out)


def test_crawl_batch_all_failed_first_round_reports_zero(spark, tmp_path):
    """Review regression (r7): an all-failed FIRST round appends nothing
    to a store that does not exist yet — the counters must report
    (0, 0) instead of raising PATH_NOT_FOUND on the post-append count."""
    from crawlingbigdatavisionaid_spark.crawl.pipeline import (
        DictFetcher,
        crawl_batch,
    )

    store = str(tmp_path / "fresh_store")
    out = crawl_batch(
        spark,
        [("siteA", "https://a.example/")],
        DictFetcher({}),  # every fetch returns None
        store,
    )
    assert out == {"new_rows": 0, "store_rows": 0}


def _logging_fetcher(pages: dict[str, str], log_path: str, sleep_s: float):
    """A :class:`DictFetcher` that appends ``url start end`` per request
    to a log file. The fetcher runs on threads of Python worker
    processes, so the log is a file, written with one O_APPEND ``write``
    per line (atomic for lines this short). A closure, so it pickles by
    value into the workers."""
    import os
    import time

    inner = DictFetcher(pages)

    def fetch(url: str) -> str | None:
        t0 = time.time()
        time.sleep(sleep_s)
        html = inner(url)
        line = f"{url} {t0!r} {time.time()!r}\n".encode()
        fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
        try:
            os.write(fd, line)
        finally:
            os.close(fd)
        return html

    return fetch


def test_crawl_fetches_each_url_once_and_domains_concurrently(spark, store, tmp_path):
    """One GET per URL (the listing and article passes fetch each
    discovered URL exactly once — no join re-reads a page), no two
    requests to one domain in flight together (politeness), and
    distinct domains fetched concurrently."""
    from collections import Counter
    from urllib.parse import urlparse

    domains = [f"d{d}.example" for d in range(4)]
    pages, seeds = {}, []
    for dom in domains:
        base = f"https://{dom}/"
        seeds.append((dom, base))
        links = "".join(
            f'<article><a href="/a/{i}">post {i}</a></article>' for i in range(3)
        )
        pages[base] = f"<html><body>{links}</body></html>"
        for i in range(3):
            pages[f"{base}a/{i}"] = (
                f"<html><body><h1>{dom} {i}</h1><p>text {i}</p></body></html>"
            )
    log = str(tmp_path / "fetch.log")
    stats = crawl_batch(spark, seeds, _logging_fetcher(pages, log, 0.02), store)
    assert stats == {"new_rows": 12, "store_rows": 12}

    with open(log) as fh:
        reqs = [(u, float(a), float(b)) for u, a, b in (ln.split() for ln in fh)]
    counts = Counter(u for u, _, _ in reqs)
    stored = {r.url for r in read_store(spark, store).collect()}
    assert set(counts) == stored | {b for _, b in seeds}
    assert all(n == 1 for n in counts.values()), counts

    by_domain: dict[str, list] = {}
    for u, a, b in reqs:
        by_domain.setdefault(urlparse(u).netloc, []).append((a, b))
    for dom, spans in by_domain.items():
        spans.sort()
        for (_, end), (start, _) in zip(spans, spans[1:]):
            assert start >= end, (dom, spans)
    cross = [
        (x, y)
        for x in reqs
        for y in reqs
        if urlparse(x[0]).netloc < urlparse(y[0]).netloc
        and x[1] < y[2]
        and y[1] < x[2]
    ]
    assert cross, "no two domains were ever fetched concurrently"


def test_read_store_starts_no_job(spark, store):
    """The store's schema is the constant STORE_SCHEMA, so building a
    read of a non-empty store must not start a schema-inference job."""
    crawl_batch(spark, SEEDS, DictFetcher(PAGES), store)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    read_store(spark, store)
    assert list(tracker.getJobIdsForGroup(None)) == list(before)

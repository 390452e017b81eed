"""Seeded input generators for the benchmark, run as their own process.

``python3 gen.py tables --seed N --size bench --out DIR`` writes the
parquet tables the query workload reads (documents with near-duplicate
copies, embeddings with near-duplicate vectors, orders and lineitem) and
exits.

``python3 gen.py site --seed N --size bench --out DIR --threads K`` builds
a synthetic multi-domain blog site, binds a stdlib HTTP server on
127.0.0.1 (ephemeral port, at most K handler threads), writes the port and
the site's own truth to ``DIR``, and serves until it is terminated. The
truth (expected store rows, new rows per round, dashboard panels) is
derived from the generator's inputs, never by parsing the served HTML.
"""

from __future__ import annotations

import argparse
import html
import json
import os
import random
import signal
import threading
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone
from http.server import BaseHTTPRequestHandler, HTTPServer

from spec import SIZES

# --- tables ------------------------------------------------------------------
_DOC_VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark data row column value query filter agg line group "
    "customer vector big slow a"
).split()
_LANGS = ("en", "en", "fr", "es", "zh", "de")


def make_tables(seed: int, size: str, out: str) -> None:
    """Write documents/embeddings/orders/lineitem parquet tables, shaped
    like the 0.001 scale factor, under ``out``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = SIZES[size]
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    # documents: random texts plus a seed-chosen share of near-duplicate
    # copies (1-2 tokens edited, fresh doc_id), rows permuted
    n = cfg["docs"]
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 90))
        texts.append([_DOC_VOCAB[i] for i in rng.integers(0, len(_DOC_VOCAB), k)])
    doc_share = float(rng.uniform(0.10, 0.20))
    n_dup = int(round(doc_share * n))
    for src in rng.integers(0, n, n_dup):
        toks = list(texts[int(src)])
        for _ in range(int(rng.integers(1, 3))):
            toks[int(rng.integers(0, len(toks)))] = _DOC_VOCAB[
                int(rng.integers(0, len(_DOC_VOCAB)))
            ]
        texts.append(toks)
    ids = np.arange(len(texts), dtype=np.int64)
    order = rng.permutation(len(texts))
    text_col = [" ".join(texts[i]) for i in order]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array(text_col, pa.string()),
            "lang": pa.array([_LANGS[i % len(_LANGS)] for i in rng.integers(0, 60, len(order))]),
            "source": pa.array([f"src{int(i) % 5}" for i in ids[order]]),
            "n_chars": pa.array([len(t) for t in text_col], pa.int64()),
        }),
        f"{out}/documents.parquet",
    )

    # embeddings: unit vectors in 10 label clusters plus near-duplicate
    # copies (small noise, fresh vec_id, same label)
    m, dim = cfg["vecs"], 64
    vecs = rng.normal(size=(m, dim))
    labels = rng.integers(0, 10, m).astype(np.int32)
    vec_share = float(rng.uniform(0.10, 0.20))
    src = rng.integers(0, m, int(round(vec_share * m)))
    vecs = np.vstack([vecs, vecs[src] + rng.normal(scale=0.02, size=(len(src), dim))])
    labels = np.concatenate([labels, labels[src]])
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    order = rng.permutation(len(vecs))
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)[order]),
            "embedding": pa.array([v.tolist() for v in vecs[order]], pa.list_(pa.float32())),
            "label": pa.array(labels[order], pa.int32()),
        }),
        f"{out}/embeddings.parquet",
    )

    # orders / lineitem: TPC-H-shaped columns (the graph query reads the
    # customer -> supplier trade edges)
    n_o, n_l = cfg["orders"], cfg["lineitems"]
    n_cust, n_supp, n_part = max(n_o // 10, 10), max(n_o // 150, 5), max(n_o // 7, 10)
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2500, n_o).astype("timedelta64[D]")
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_o).astype(np.int64)),
            "o_orderstatus": pa.array(list(rng.choice(["F", "O", "P"], n_o))),
            "o_totalprice": pa.array(np.round(rng.uniform(1e3, 4e5, n_o), 2)),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": pa.array(list(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o))),
        }),
        f"{out}/orders.parquet",
    )
    lkey = rng.integers(0, n_o, n_l).astype(np.int64)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(lkey),
            "l_partkey": pa.array(rng.integers(0, n_part, n_l).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_l).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_l), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_l) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_l) / 100.0, 2)),
            "l_returnflag": pa.array(list(rng.choice(["A", "N", "R"], n_l))),
            "l_linestatus": pa.array(list(rng.choice(["F", "O"], n_l))),
            "l_shipdate": pa.array(
                (odate[lkey] + rng.integers(1, 120, n_l).astype("timedelta64[D]")).astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
        }),
        f"{out}/lineitem.parquet",
    )


# --- site --------------------------------------------------------------------
# Words of article paragraphs, each with the tokens a lowercase [a-z]+
# tokenizer must produce for it and whether those tokens are stopwords.
# Non-ASCII words split or vanish under that tokenizer; the expected
# tokens are part of the generator's input, not computed by a parser.
_CONTENT_WORDS = (
    "crawl page river stone cloud music garden story harbor lantern "
    "meadow signal engine orbit pixel timber canyon comet falcon glacier "
    "jungle magnet nectar oyster prairie quartz saddle tunnel velvet willow"
).split()
_STOP_WORDS = ("the", "and", "with", "from", "this")
_SPECIAL_WORDS = (  # (surface form, tokens it yields)
    ("café", ("caf",)),
    ("über", ("ber",)),
    ("naïve", ("na", "ve")),
    ("zürich", ("z", "rich")),
    ("日本語", ()),
    ("Spark", ("spark",)),
    ("ok", ("ok",)),
)
_TITLE_KINDS = ("h1", "title_only", "empty_h1", "untitled")
_DATE_KINDS = ("time_attr", "time_text", "meta_og", "meta_pubdate", "meta_date", "none", "garbage")
_BLOCK_KINDS = ("article", "div.post", "div.blog-post", "div.article", "fuzzy")


def _date_string(dt: datetime, style: int) -> str:
    """Render ``dt`` (UTC) in one of the publish-date forms the store's
    date parser accepts."""
    return (
        dt.strftime("%Y-%m-%dT%H:%M:%S"),
        dt.strftime("%Y-%m-%d %H:%M:%S"),
        dt.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
        dt.strftime("%a, %d %b %Y %H:%M:%S +0000"),
        dt.strftime("%B ") + str(dt.day) + dt.strftime(", %Y"),
        dt.strftime("%m/%d/%Y"),
    )[style]


def _style_day_only(style: int) -> bool:
    return style in (4, 5)


class Site:
    """The synthetic site: domains, per-round listings, article pages and
    the expected crawl results, all from one seed."""

    def __init__(self, seed: int, size: str):
        cfg = SIZES[size]
        self.rounds = cfg["rounds"]
        rnd = random.Random(seed)
        self.domains = [f"s{d:02d}" for d in range(cfg["domains"])]
        self.articles: dict[int, dict] = {}  # global id -> spec
        self.listed: dict[tuple[str, int], list[int]] = {}
        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        for d, dom in enumerate(self.domains):
            ids = [d * 100_000 + i for i in range(cfg["new_per_round"] * self.rounds)]
            for gid in ids:
                words: list[str] = []
                paragraphs = []
                empty_body = rnd.random() < 0.04
                for _ in range(rnd.randint(1, 4)):
                    if empty_body:
                        paragraphs.append("")
                        continue
                    ws = []
                    for _ in range(rnd.randint(4, 14)):
                        r = rnd.random()
                        if r < 0.12:
                            ws.append(rnd.choice(_STOP_WORDS))
                        elif r < 0.2:
                            ws.append(rnd.choice(_SPECIAL_WORDS)[0])
                        else:
                            ws.append(rnd.choice(_CONTENT_WORDS))
                    paragraphs.append(" ".join(ws))
                    words += ws
                    if rnd.random() < 0.3:
                        paragraphs.append("")  # empty <p>, dropped
                dt = base + timedelta(
                    days=rnd.randint(0, 45), hours=rnd.randint(0, 23),
                    minutes=rnd.randint(0, 59), seconds=rnd.randint(0, 59),
                )
                date_kind = _DATE_KINDS[gid % len(_DATE_KINDS)]
                style = rnd.randrange(6)
                if _style_day_only(style):
                    dt = dt.replace(hour=0, minute=0, second=0)
                self.articles[gid] = {
                    "id": gid,
                    "domain": dom,
                    "title_kind": _TITLE_KINDS[rnd.randrange(len(_TITLE_KINDS))],
                    "title": f"{rnd.choice(_CONTENT_WORDS).title()} {rnd.choice(('Café', 'Über', 'Notes', '日記', 'Diary'))} {gid}",
                    "paragraphs": paragraphs,
                    "date_kind": date_kind,
                    "date_str": _date_string(dt, style),
                    "dt": dt,
                }
            # round r lists the r-th batch of new ids plus re-listed
            # earlier ones; the store already holds the re-listed ones
            for r in range(self.rounds):
                new = ids[r * cfg["new_per_round"]:(r + 1) * cfg["new_per_round"]]
                old = ids[max(0, r * cfg["new_per_round"] - cfg["relist"]):r * cfg["new_per_round"]]
                self.listed[(dom, r)] = new + old
        self.block_kind = {dom: _BLOCK_KINDS[d % len(_BLOCK_KINDS)] for d, dom in enumerate(self.domains)}
        self.link_style = {gid: rnd.randrange(3) for gid in self.articles}
        self.port = 0

    # -- URLs ------------------------------------------------------------
    def origin(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    def listing_url(self, dom: str, r: int) -> str:
        return f"{self.origin()}/{dom}/r{r}/"

    def article_url(self, gid: int) -> str:
        return f"{self.origin()}/{self.articles[gid]['domain']}/a/{gid}"

    def seeds(self, r: int) -> list[tuple[str, str]]:
        """crawl_batch seeds for round ``r``: every domain's listing plus
        one domain whose listing is gone (404)."""
        return [(f"blog-{dom}", self.listing_url(dom, r)) for dom in self.domains] + [
            ("blog-gone", f"{self.origin()}/gone/r{r}/")
        ]

    # -- HTML ------------------------------------------------------------
    def _href(self, gid: int, dom: str) -> str:
        style = self.link_style[gid]
        if style == 0:
            return f"/{dom}/a/{gid}"  # root-relative
        if style == 1:
            return f"../a/{gid}"  # relative to the listing
        return self.article_url(gid)  # absolute

    def listing_html(self, dom: str, r: int) -> str:
        kind = self.block_kind[dom]
        ids = self.listed[(dom, r)]

        def block(inner: str) -> str:
            if kind == "article":
                return f"<article>{inner}</article>"
            if kind == "fuzzy":
                return f'<section class="entry-card">{inner}</section>'
            return f'<div class="{kind.split(".")[1]}">{inner}</div>'

        blocks = [block(f"<h2>Post {gid}</h2><a href=\"{self._href(gid, dom)}\">read</a>") for gid in ids]
        if ids:  # the same article linked twice on one page
            blocks.append(block(f"<a href=\"{self._href(ids[0], dom)}\">again</a>"))
        blocks.append(block("<span>no link in this block</span>"))
        blocks.append(block(f"<a href=\"/{dom}/dead/{r}\">dead link</a>"))
        decoy = ""
        if kind == "article":  # lower cascade tiers must be ignored
            decoy = f'<div class="post"><a href="/{dom}/decoy">decoy</a></div>'
        elif kind == "div.post":
            decoy = f'<div class="blog-post"><a href="/{dom}/decoy">decoy</a></div>'
        return (
            f"<html><head><title>{dom} round {r}</title></head><body>"
            f'<div class="sidebar">menü</div>{"".join(blocks)}{decoy}</body></html>'
        )

    def article_html(self, gid: int) -> str:
        a = self.articles[gid]
        esc = html.escape
        head, body = [], []
        if a["title_kind"] in ("h1", "title_only", "empty_h1"):
            head.append(f"<title>{esc(a['title'])}</title>")
        if a["title_kind"] == "h1":
            body.append(f"<h1>  {esc(a['title'])}  </h1>")
            head[0] = "<title>ignored title</title>"
        elif a["title_kind"] == "empty_h1":
            body.append("<h1>   </h1>")
        for p in a["paragraphs"]:
            body.append(f"<p>  {esc(p)} </p>" if p else "<p>   </p>")
        ds = esc(a["date_str"])
        kind = a["date_kind"]
        if kind == "time_attr":
            body.append(f'<time datetime="{ds}">posted recently</time>')
        elif kind == "time_text":
            body.append(f"<time> {ds} </time>")
        elif kind == "meta_og":
            head.append(f'<meta property="article:published_time" content="{ds}">')
        elif kind == "meta_pubdate":
            head.append(f'<meta name="pubdate" content="{ds}">')
        elif kind == "meta_date":
            head.append(f'<meta name="date" content="{ds}">')
        elif kind == "garbage":
            head.append('<meta name="pubdate" content="notadate">')
        return (
            '<html><head><meta charset="utf-8">' + "".join(head)
            + "</head><body>" + "".join(body) + "</body></html>"
        )

    # -- truth -----------------------------------------------------------
    def expected_row(self, gid: int) -> dict:
        a = self.articles[gid]
        title = a["title"] if a["title_kind"] in ("h1", "title_only", "empty_h1") else "No Title Found"
        kind = a["date_kind"]
        published = {"none": None, "garbage": "notadate"}.get(kind, a["date_str"])
        ts = a["dt"] if kind not in ("none", "garbage") else None
        return {
            "url": self.article_url(gid),
            "source": f"blog-{a['domain']}",
            "title": title,
            "content": "\n".join(p for p in a["paragraphs"] if p),
            "published_at": published,
            "event_id": gid,
            "ts": ts.strftime("%Y-%m-%d %H:%M:%S") if ts else None,
        }

    def truth(self) -> dict:
        """Expected results after each round of a crawl started on an
        empty store."""
        special = dict(_SPECIAL_WORDS)
        stored: list[int] = []
        rounds = []
        for r in range(self.rounds):
            new = [gid for dom in self.domains for gid in self.listed[(dom, r)] if gid not in stored]
            new = list(dict.fromkeys(new))
            stored += new
            rows = [self.expected_row(g) for g in stored]
            with_text = [g for g in stored if any(self.articles[g]["paragraphs"])]
            words: dict[str, int] = {}
            for g in with_text:
                for p in self.articles[g]["paragraphs"]:
                    for w in p.split():
                        toks = special.get(w, (w,))
                        for t in toks:
                            if t not in _STOP_WORDS and len(t) > 2:
                                words[t] = words.get(t, 0) + 1
            word_topk = sorted(words.items(), key=lambda kv: (-kv[1], kv[0]))[:150]
            sources: dict[str, int] = {}
            for g in with_text:
                s = f"blog-{self.articles[g]['domain']}"
                sources[s] = sources.get(s, 0) + 1
            days: dict[str, int] = {}
            for row in rows:
                if row["ts"]:
                    days[row["ts"][:10]] = days.get(row["ts"][:10], 0) + 1
            timeline = []
            if days:
                d0 = datetime.fromisoformat(min(days))
                d1 = datetime.fromisoformat(max(days))
                while d0 <= d1:
                    k = d0.strftime("%Y-%m-%d")
                    timeline.append([k, days.get(k, 0)])
                    d0 += timedelta(days=1)
            dated = sorted((r_ for r_ in rows if r_["ts"]), key=lambda x: (x["ts"], x["event_id"]), reverse=True)
            rounds.append({
                "new_rows": len(new),
                "store_rows": len(stored),
                "word_topk": [list(kv) for kv in word_topk],
                "source_distribution": sorted([list(kv) for kv in sources.items()]),
                "timeline": timeline,
                "recent": [[x["event_id"], x["source"], x["title"], x["ts"]] for x in dated[:5]],
            })
        return {
            "rounds": rounds,
            "final_rows": [
                [x["url"], x["source"], x["title"], x["content"], x["published_at"]]
                for x in map(self.expected_row, stored)
            ],
        }

    def pages(self) -> dict[str, str]:
        """path -> html of every live page."""
        out = {}
        for (dom, r) in self.listed:
            out[f"/{dom}/r{r}/"] = self.listing_html(dom, r)
        for gid in self.articles:
            out[f"/{self.articles[gid]['domain']}/a/{gid}"] = self.article_html(gid)
        return out


class _Stats:
    def __init__(self):
        self.lock = threading.Lock()
        self.counts = {"listing_requests": 0, "article_requests": 0, "http_errors": 0,
                       "fetch_inflight_max": 0}
        self.inflight = 0

    def enter(self, kind: str) -> None:
        with self.lock:
            self.counts[kind] += 1
            self.inflight += 1
            self.counts["fetch_inflight_max"] = max(self.counts["fetch_inflight_max"], self.inflight)

    def leave(self, ok: bool) -> None:
        with self.lock:
            self.inflight -= 1
            if not ok:
                self.counts["http_errors"] += 1

    def snapshot(self) -> dict:
        with self.lock:
            return dict(self.counts)


class _PoolServer(HTTPServer):
    """HTTP server whose requests run on a fixed pool of ``threads``
    workers, so the site never uses more threads than the host has
    cores."""

    request_queue_size = 128

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one bad connection must not stop serving
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def serve_site(seed: int, size: str, out: str, threads: int) -> None:
    site = Site(seed, size)
    stats = _Stats()
    pages: dict[str, bytes] = {}

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — stdlib handler API
            if self.path == "/__stats":
                self._send(200, json.dumps(stats.snapshot()).encode(), "application/json")
                return
            kind = "article_requests" if "/a/" in self.path or "/dead/" in self.path or "/decoy" in self.path else "listing_requests"
            stats.enter(kind)
            body = pages.get(self.path)
            try:
                if body is None:
                    self.send_error(404)
                else:
                    self._send(200, body, "text/html; charset=utf-8")
            finally:
                stats.leave(body is not None)

        def _send(self, code, body, ctype):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = _PoolServer(("127.0.0.1", 0), Handler, threads)
    site.port = server.server_address[1]
    pages.update({k: v.encode("utf-8") for k, v in site.pages().items()})
    listing_paths = [f"/{d}/r{r}/" for (d, r) in site.listed]
    article_paths = [f"/{site.articles[g]['domain']}/a/{g}" for g in site.articles]
    doc = {
        "port": site.port,
        "rounds": site.rounds,
        "seeds": [site.seeds(r) for r in range(site.rounds)],
        "truth": site.truth(),
        "listing_pages": [[site.origin() + p, pages[p].decode()] for p in listing_paths],
        "article_pages": [pages[p].decode() for p in article_paths],
    }
    tmp = f"{out}/site.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, f"{out}/site.json")  # readers see a complete file

    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(target=server.shutdown).start())
    try:
        server.serve_forever(poll_interval=0.1)
    finally:
        server.pool.shutdown(wait=True)
        server.server_close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=("tables", "site"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=tuple(SIZES), default="bench")
    ap.add_argument("--out", required=True)
    ap.add_argument("--threads", type=int, default=os.cpu_count() or 1)
    a = ap.parse_args()
    if a.kind == "tables":
        make_tables(a.seed, a.size, a.out)
    else:
        serve_site(a.seed, a.size, a.out, a.threads)


if __name__ == "__main__":
    main()

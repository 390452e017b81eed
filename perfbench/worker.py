"""One workload in one fresh Spark process (``local[nproc]``).

Started by ``run.py`` with the path of a JSON config. Reports progress as
``@@pb <json>`` lines on stdout (the parent samples CPU and memory of this
process tree at each cycle boundary) and writes everything it measured,
plus the outputs to check, to ``<work>/result.json``.

A *cycle* is the unit the timed section repeats: one crawl round with its
dashboard refresh and page-load burst (crawl_ingest), or one pass over
the workload's queries (corpus_curate). The first cycle is the cold one;
the number of cycles is fixed per input size (``spec.SIZES``).
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import sys
import time

with open(sys.argv[1]) as _fh:
    CFG = json.load(_fh)


def emit(ev: str, **kw) -> None:
    print("@@pb " + json.dumps(dict(ev=ev, t=time.time(), **kw)), flush=True)


# set-up time runs from this process's launch, so it covers these imports
from pyspark.sql import functions as F  # noqa: E402

from crawlingbigdatavisionaid_spark import dashboard  # noqa: E402
from crawlingbigdatavisionaid_spark.crawl import pipeline  # noqa: E402
from crawlingbigdatavisionaid_spark.extraction import html as H  # noqa: E402
from crawlingbigdatavisionaid_spark.extraction.udfs import parse_published  # noqa: E402
from crawlingbigdatavisionaid_spark.plans.registry import query_map  # noqa: E402
from crawlingbigdatavisionaid_spark.session import get_spark  # noqa: E402

from spans import Tracer  # noqa: E402
from spec import SIZES, TRACED  # noqa: E402

SIZE = SIZES[CFG["size"]]


class Run:
    """State of one timed section: cycles, counted operations, spans."""

    def __init__(self, spark, tracer: Tracer | None):
        self.spark = spark
        self.tracer = tracer
        self.cycles: list[list[float]] = []
        self.attempted = 0
        self.errors: list[str] = []

    def span(self, name: str, new_op: bool = False):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name, new_op)

    def group(self, gid: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, gid)

    def op(self, fn, *args):
        """Run one counted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 — a failed operation is reported, not fatal
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            return None

    @contextlib.contextmanager
    def cycle(self):
        i = len(self.cycles)
        if self.tracer is not None:
            self.tracer.cycle = i
        emit("cycle_start", i=i)
        self.cycles.append([time.time(), None])
        try:
            yield
        finally:
            self.cycles[-1][1] = time.time()
            if self.tracer is not None:
                self.tracer.cycle = -1
            emit("cycle_end", i=i)


def _tree_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes of all files) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


def _plain(v):
    """Dates and timestamps as the strings the site's truth uses."""
    if hasattr(v, "hour"):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if hasattr(v, "isoformat"):
        return v.strftime("%Y-%m-%d")
    return v


# --- crawl_ingest -------------------------------------------------------------
def crawl_ingest(run: Run, out: dict) -> None:
    """Every round of the site, in order, into one store that grows each
    round; after each round a dashboard refresh and a page-load burst."""
    spark, work = run.spark, CFG["work"]
    with open(CFG["site_json"]) as fh:
        site = json.load(fh)
    store, gold = f"{work}/store", f"{work}/gold"
    rounds_out, round_s, refresh_s, page_ms = [], [], [], []
    serve_ms = {p: [] for p in dashboard.PANELS}
    store_after = []  # (parquet files, bytes) of the store after each round
    event_id = F.regexp_extract("url", r"/a/([0-9]+)$", 1).cast("bigint")

    def page_load():
        panels = {}
        for p in dashboard.PANELS:
            t = time.time()
            panels[p] = [tuple(r) for r in dashboard.serve(spark, gold, p).collect()]
            serve_ms[p].append((time.time() - t) * 1000)
        return panels

    def refresh():
        docs = spark.read.parquet(store)
        dashboard.refresh_gold(
            spark,
            docs.select(F.col("content").alias("text"), "source"),
            docs.select(event_id.alias("event_id"), "source", "title",
                        parse_published(F.col("published_at")).alias("ts")),
            gold,
        )

    for r in range(site["rounds"]):
        with run.cycle():
            run.group(f"crawl:r{r}")
            t = time.time()
            with run.span("op.crawl_round", new_op=True):
                res = run.op(pipeline.crawl_batch, spark,
                             [tuple(s) for s in site["seeds"][r]],
                             pipeline.http_fetcher, store)
            round_s.append(time.time() - t)
            run.group(f"refresh:r{r}")
            t = time.time()
            with run.span("op.refresh", new_op=True):
                run.op(refresh)
            refresh_s.append(time.time() - t)
            panels = None
            run.group(f"page_load:r{r}")
            for _ in range(SIZE["page_loads"]):
                t = time.time()
                with run.span("op.page_load", new_op=True):
                    got = run.op(page_load)
                page_ms.append((time.time() - t) * 1000)
                panels = got if got is not None else panels
        store_after.append(_tree_stats(store))
        rounds_out.append({
            "round": r, "result": res,
            "panels": {k: [[_plain(x) for x in row] for row in v]
                       for k, v in (panels or {}).items()},
        })

    run.group("check")
    final = spark.read.parquet(store).select("url", "source", "title", "content", "published_at")
    out["final_rows"] = [list(r) for r in final.collect()]
    out["rounds"] = rounds_out
    out["crawl"] = {
        "round_s": round_s, "refresh_s": refresh_s, "page_ms": page_ms, "serve_ms": serve_ms,
        "store_after": store_after, "gold_files": _tree_stats(gold)[0],
    }
    if run.tracer is not None:
        # the pure-Python extraction cascades, timed directly on the served pages
        ext = {"article_ms": [], "links_ms": []}
        for url, page in site["listing_pages"]:
            t = time.perf_counter()
            H.extract_links(page, url)
            ext["links_ms"].append((time.perf_counter() - t) * 1000)
        for page in site["article_pages"]:
            t = time.perf_counter()
            H.extract_article(page)
            ext["article_ms"].append((time.perf_counter() - t) * 1000)
        out["extraction"] = ext


# --- corpus_curate ------------------------------------------------------------
def corpus_curate(run: Run, out: dict) -> None:
    """Passes over the queries, each built and executed into the noop
    sink; the last pass's DataFrames are collected for the checks."""
    spark, data = run.spark, CFG["data_dir"]
    qmap = query_map()
    names = CFG["queries"]
    phases = {q: {"construct_s": [], "execute_s": []} for q in names}
    last: dict = {}

    def one(q, i):
        run.group(f"construct:{q}:{i}")
        t = time.time()
        with run.span(f"plans.{q}.construct"):
            df = last[q] = qmap[q](spark, data)
        t1 = time.time()
        run.group(f"execute:{q}:{i}")
        with run.span(f"plans.{q}.execute"):
            df.write.format("noop").mode("overwrite").save()
        phases[q]["construct_s"].append(t1 - t)
        phases[q]["execute_s"].append(time.time() - t1)

    for i in range(SIZE["passes"]):
        with run.cycle():
            for q in names:
                with run.span("op.query", new_op=True):
                    run.op(one, q, i)
    from checks import json_safe

    run.group("check")
    results = {}
    for q, df in last.items():
        results[q] = {"cols": df.columns, "rows": [[json_safe(x) for x in r] for r in df.collect()]}
    out["query_results"] = results
    out["phases"] = phases


def main() -> None:
    spark = get_spark(f"perfbench-{CFG['workload']}")
    spark.range(1).count()  # warm-up: the first job starts the executor
    tracer = None
    if CFG["trace"]:
        tracer = Tracer()
        for mod, attr, name in TRACED:
            tracer.wrap(importlib.import_module(f"crawlingbigdatavisionaid_spark.{mod}"), attr, name)
    run = Run(spark, tracer)
    out: dict = {}
    emit("ready")
    (crawl_ingest if CFG["workload"] == "crawl_ingest" else corpus_curate)(run, out)
    out.update(cycles=run.cycles, attempted=run.attempted, errors=run.errors)
    if tracer is not None:
        tracer.write(f"{CFG['trace_dir']}/spans.jsonl")
        out["spans"] = [
            {k: s[k] for k in ("name", "cycle", "dur", "self")} for s in tracer.self_times()
        ]
    with open(f"{CFG['work']}/result.json", "w") as fh:
        json.dump(out, fh, default=str)
    spark.stop()
    emit("done")


if __name__ == "__main__":
    main()

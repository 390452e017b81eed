"""Benchmark entry point, run from the root of a checkout.

    python3 perfbench/run.py --workload crawl_ingest --seed 1 --seconds 40 --trace 0

Generates the workload's inputs from ``--seed`` in a separate process,
runs the workload's fixed number of cycles (``spec.SIZES``) in a fresh
Spark process on ``local[nproc]``, samples that process tree's CPU and
memory from ``/proc``, checks every output, and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``. ``--seconds``
must equal ``run_seconds`` in ``BENCHMARK.json``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run makes an
untraced and then a traced run on the same inputs, records spans and
Spark's event log, and prints the per-layer metrics.

Everything it writes stays inside the checkout: a temporary root
(``.perfbench_tmp/``, removed at exit) and a cache (``.perfbench_cache/``)
for oracle answers and span files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"
# every run ends within 180 s; the workers get what is left of this
RUN_DEADLINE_S = 170
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")

sys.path.insert(0, ROOT)


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


# --- process tree sampling -------------------------------------------------------
def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        # fields after the command: state ppid ... utime(11) stime(12) cutime(13) cstime(14) ... rss(21)
        cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / CLK_TCK
        out[int(name)] = (int(f[1]), cpu, int(f[21]) * PAGE)
    return out


def tree_usage(root_pid: int) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over ``root_pid`` and descendants."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    cpu = rss = 0
    todo = [root_pid] if root_pid in table else []
    while todo:
        pid = todo.pop()
        cpu += table[pid][1]
        rss += table[pid][2]
        todo += kids.get(pid, [])
    return cpu, rss


class Sampler:
    """Reads a worker's ``@@pb`` progress lines; snapshots tree CPU at
    each cycle boundary and samples tree RSS while cycles run."""

    def __init__(self, proc: subprocess.Popen):
        self.proc = proc
        self.events: list[dict] = []
        self.cpu_at: dict[tuple[str, int], float] = {}
        self.peak_rss = 0
        self._timed = threading.Event()
        self._stop = threading.Event()

    def read(self) -> None:
        rss_thread = threading.Thread(target=self._rss_loop, daemon=True)
        rss_thread.start()
        for raw in self.proc.stdout:
            line = raw.decode("utf-8", "replace").strip()
            if not line.startswith("@@pb "):
                continue
            ev = json.loads(line[5:])
            self.events.append(ev)
            if ev["ev"] in ("cycle_start", "cycle_end"):
                self.cpu_at[(ev["ev"], ev["i"])] = tree_usage(self.proc.pid)[0]
                self._timed.set()
            elif ev["ev"] == "done":
                self._stop.set()
        self._stop.set()
        rss_thread.join(timeout=5)

    def _rss_loop(self) -> None:
        while not self._stop.is_set():
            if self._timed.is_set():
                self.peak_rss = max(self.peak_rss, tree_usage(self.proc.pid)[1])
            self._stop.wait(0.1)

    def cycle_cpu(self) -> list[float]:
        n = sum(1 for k in self.cpu_at if k[0] == "cycle_end")
        return [self.cpu_at[("cycle_end", i)] - self.cpu_at[("cycle_start", i)] for i in range(n)]

    def time_of(self, ev: str) -> float | None:
        return next((e["t"] for e in self.events if e["ev"] == ev), None)


def kill_group(proc: subprocess.Popen | None) -> None:
    """Terminate a child started in its own session, and wait for it."""
    if proc is None or proc.poll() is not None:
        return
    try:
        os.killpg(proc.pid, signal.SIGTERM)
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    except ProcessLookupError:
        proc.wait()


def warm(values: list) -> list:
    """The warm part of a per-cycle series: every cycle but the first."""
    return values[1:] if len(values) > 1 else values


def median0(values) -> float:
    """Median, or 0.0 for a series with no samples (a layer the workload
    never called)."""
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# --- the run ---------------------------------------------------------------------
def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="must equal run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench")
    args = ap.parse_args()
    t_start = time.time()

    from spec import CORPUS_QUERIES, WORKLOADS, load_benchmark

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; expected one of {WORKLOADS}")
    for need in ("BENCHMARK.json", "crawlingbigdatavisionaid_spark/__init__.py",
                 "tools/verify_local.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a full checkout")
    bench = load_benchmark(ROOT)
    if args.seconds != bench["run_seconds"]:
        # the run length is a fixed amount of work (spec.SIZES), the same
        # on every commit; run_seconds records about how long it measures
        fail(f"--seconds {args.seconds} differs from run_seconds "
             f"{bench['run_seconds']} in BENCHMARK.json")

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    gen_proc = None
    workers: list[subprocess.Popen] = []

    def on_term(*_):
        raise SystemExit(3)

    signal.signal(signal.SIGTERM, on_term)
    try:
        cfg = {"workload": args.workload, "size": args.size}
        if args.trace:
            cfg["trace_dir"] = os.path.join(
                CACHE, "traces", f"{args.workload}-{args.size}-seed{args.seed}")
            os.makedirs(cfg["trace_dir"], exist_ok=True)

        env = child_env(f"{tmp}/gen", trace=False)
        gen = [sys.executable, os.path.join(HERE, "gen.py")]
        common = ["--seed", str(args.seed), "--size", args.size]
        t_gen = time.time()
        if args.workload == "crawl_ingest":
            cfg["site_json"] = f"{tmp}/site/site.json"
            os.makedirs(f"{tmp}/site")
            gen_proc = subprocess.Popen(
                gen + ["site", *common, "--out", f"{tmp}/site", "--threads", str(NPROC)],
                env=env, cwd=tmp, start_new_session=True)
            wait_for(cfg["site_json"], gen_proc, 60)
        else:
            cfg["data_dir"] = f"{tmp}/data"
            cfg["queries"] = list(CORPUS_QUERIES)
            subprocess.run(gen + ["tables", *common, "--out", cfg["data_dir"]],
                           env=env, cwd=tmp, check=True, timeout=120)
        print(f"perfbench: input generation {time.time() - t_gen:.2f} s", file=sys.stderr)

        # The traced invocation first makes an untraced run on the same
        # inputs; the difference in warm time is the tracing overhead.
        deadline = t_start + RUN_DEADLINE_S
        runs = {}
        for trace in ((0, 1) if args.trace else (0,)):
            stats_before = site_stats(cfg) if gen_proc is not None else None
            runs[trace] = run_worker(dict(cfg, trace=trace), tmp, deadline, workers)
            if gen_proc is not None:
                after = site_stats(cfg)
                runs[trace]["server"] = {k: after[k] - stats_before[k] for k in after
                                         if k != "fetch_inflight_max"}
                runs[trace]["server"]["fetch_inflight_max"] = after["fetch_inflight_max"]
        kill_group(gen_proc)

        correct, attempted, failed = True, 0, 0
        for r in runs.values():
            ok, a, f = check(args, cfg, r["result"])
            correct, attempted, failed = correct and ok, attempted + a, failed + f

        e2e = {t: end_to_end(r) for t, r in runs.items()}
        for t, m in e2e.items():
            print(f"perfbench: trace={t} cycle wall s {[round(w, 2) for w in m['_cycle_wall']]}, "
                  f"cpu s {[round(c, 2) for c in m['_cycle_cpu']]}, after the cycles "
                  f"{runs[t]['t_exit'] - runs[t]['result']['cycles'][-1][1]:.1f} s", file=sys.stderr)
        if args.trace:
            wanted = bench["per_layer"]
            values = per_layer(cfg, runs[1], f"{runs[1]['dir']}/eventlog")
            values["trace.overhead_s"] = e2e[1]["warm_s"] - e2e[0]["warm_s"]
            with open(os.path.join(cfg["trace_dir"], "summary.json"), "w") as fh:
                json.dump({"end_to_end": e2e, "per_layer": values}, fh, indent=1)
        else:
            wanted = bench["end_to_end"]
            values = e2e[0]
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            fail(f"metrics not measured: {missing}", 1)
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in wanted}
        print(f"perfbench: whole run {time.time() - t_start:.1f} s", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        for w in workers:
            kill_group(w)
        kill_group(gen_proc)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run's temporary root is still there


def run_worker(cfg: dict, tmp: str, deadline: float, workers: list) -> dict:
    """One worker process from launch to exit: its result, its progress
    events and the CPU and memory sampled from outside."""
    wdir = f"{tmp}/w{cfg['trace']}"
    cfg = dict(cfg, work=f"{wdir}/work")
    env = child_env(wdir, cfg["trace"])
    os.makedirs(cfg["work"])
    with open(f"{wdir}/config.json", "w") as fh:
        json.dump(cfg, fh)
    t_launch = time.time()
    with open(f"{wdir}/worker.log", "wb") as log:
        worker = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), f"{wdir}/config.json"],
            env=env, cwd=wdir, stdout=subprocess.PIPE, stderr=log, start_new_session=True)
        workers.append(worker)
        sampler = Sampler(worker)
        timer = threading.Timer(max(1.0, deadline - t_launch), kill_group, (worker,))
        timer.start()
        try:
            sampler.read()
            worker.wait()
        finally:
            timer.cancel()
    if worker.returncode != 0 or not os.path.exists(f"{cfg['work']}/result.json"):
        with open(f"{wdir}/worker.log", "rb") as fh:
            sys.stderr.write(fh.read()[-4000:].decode("utf-8", "replace"))
        fail(f"worker exited with code {worker.returncode}", 1)
    with open(f"{cfg['work']}/result.json") as fh:
        result = json.load(fh)
    return {"result": result, "sampler": sampler, "t_launch": t_launch, "t_exit": time.time(),
            "dir": wdir}


def end_to_end(run: dict) -> dict:
    result, sampler = run["result"], run["sampler"]
    wall = [b - a for a, b in result["cycles"]]
    cpu = sampler.cycle_cpu()
    return {
        "setup_s": sampler.time_of("ready") - run["t_launch"],
        "cold_s": wall[0],
        "warm_s": median0(warm(wall)),
        "cpu_s": median0(warm(cpu)),
        "peak_rss_mb": sampler.peak_rss / 2**20,
        "_cycle_wall": wall,
        "_cycle_cpu": cpu,
    }


def child_env(wdir: str, trace: int) -> dict:
    """Environment for a generator or worker process: the package on the
    path, every temporary file under ``wdir``, Spark on local[nproc]."""
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_PRETOUCH", None)
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(f"{wdir}/{d}", exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{wdir}/spark-local",
        "spark.sql.warehouse.dir": f"{wdir}/warehouse",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"{wdir}/eventlog",
        })
    submit = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    submit += ["--driver-java-options", f"-Djava.io.tmpdir={wdir}/tmp", "pyspark-shell"]
    env.update({
        "PYTHONPATH": ROOT,
        "TMPDIR": f"{wdir}/tmp",
        "SPARK_LOCAL_DIRS": f"{wdir}/spark-local",
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit),
        "PYTHONHASHSEED": "0",
    })
    return env


def wait_for(path: str, proc: subprocess.Popen, timeout: float) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if proc.poll() is not None:
            fail(f"input generator exited with code {proc.returncode}", 1)
        if time.time() > deadline:
            fail("input generator did not start in time", 1)
        time.sleep(0.05)


def site_stats(cfg: dict) -> dict:
    """The site server's request counters so far."""
    with open(cfg["site_json"]) as fh:
        port = json.load(fh)["port"]
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/__stats", timeout=10) as r:
        return json.load(r)


# --- checks ----------------------------------------------------------------------
def check(args, cfg: dict, result: dict) -> tuple[bool, int, int]:
    """(correct, attempted, failed): an operation fails when it raised or
    when the output it produced fails its check."""
    import checks

    attempted = result["attempted"]
    failed = len(result["errors"])
    for e in result["errors"][:5]:
        print(f"perfbench: operation failed: {e}", file=sys.stderr)
    if args.workload == "crawl_ingest":
        with open(cfg["site_json"]) as fh:
            truth = json.load(fh)["truth"]
        problems = checks.crawl_problems(result, truth)
        self_ok = checks.crawl_self_test(result, truth)
        bad = problems["round"] + problems["page_load"]
        failed += len(bad)
    else:
        from crawlingbigdatavisionaid_spark.plans.registry import oracle_sql_map

        with open(os.path.join(HERE, "gen.py"), "rb") as fh:
            gen_hash = hashlib.sha1(fh.read()).hexdigest()
        expected = checks.oracle_answers(
            cfg["queries"], oracle_sql_map(), cfg["data_dir"], os.path.join(CACHE, "oracle"),
            f"{args.size}-{args.seed}-{gen_hash}")
        bad, self_ok = [], True
        for q in cfg["queries"]:
            got = result["query_results"].get(q)
            pr = ["no result"] if got is None else checks.query_problems(q, got, expected[q])
            if pr:
                bad.append(f"{q}: " + "; ".join(pr[:3]))
                failed += 1
            elif not checks.query_self_test(q, got, expected[q]):
                self_ok = False
    for b in bad[:10]:
        print(f"perfbench: check failed: {b}", file=sys.stderr)
    if not self_ok:
        print("perfbench: checker self-test failed: a wrong answer was accepted", file=sys.stderr)
    return failed == 0 and self_ok, attempted, failed


# --- traced run ------------------------------------------------------------------
def per_layer(cfg: dict, run: dict, eventlog: str) -> dict:
    """Every per-layer metric, from this run's spans, Spark event log,
    site-server counters and outputs. A layer the workload never calls
    has no spans, requests or rows, and its counts and times read 0."""
    from spans import read_event_log, session_metrics
    from spec import CORPUS_QUERIES, OPERATORS, SIZES

    result = run["result"]
    cycles = [tuple(c) for c in result["cycles"]]
    sess = session_metrics(read_event_log(eventlog), cycles)
    out: dict[str, float] = dict(sess["metrics"])
    spans = result["spans"]

    def per_cycle(name: str, field: str = "dur") -> list[float]:
        acc = [0.0] * len(cycles)
        for s in spans:
            if s["name"] == name and 0 <= s["cycle"] < len(cycles):
                acc[s["cycle"]] += s[field] if field else 1
        return acc

    # crawl, extraction, sources, dashboard: crawl_ingest only
    c = result.get("crawl")
    rounds = result.get("rounds", [])
    server = run.get("server") or dict.fromkeys(
        ("listing_requests", "article_requests", "http_errors", "fetch_inflight_max"), 0)
    new_rows = [r["result"]["new_rows"] if r["result"] else 0 for r in rounds]
    for k in ("listing_requests", "article_requests", "http_errors"):
        out[f"crawl.{k}"] = server[k] / max(1, len(rounds))
    out["crawl.fetch_inflight_max"] = server["fetch_inflight_max"]
    out["crawl.requests_per_new_article"] = server["article_requests"] / max(1, sum(new_rows))
    out["crawl.self_s"] = median0(warm(per_cycle("crawl.crawl_batch", "self")))
    out["crawl.round_s_p50"] = median0(warm(c["round_s"])) if c else 0.0
    out["crawl.ingest_docs_per_s"] = sum(new_rows) / sum(c["round_s"]) if c else 0.0

    ext = result.get("extraction", {"article_ms": [], "links_ms": []})
    out["extraction.article_ms_per_page"] = median0(ext["article_ms"])
    out["extraction.links_ms_per_page"] = median0(ext["links_ms"])
    out["extraction.null_rows"] = sum(1 for r in result.get("final_rows", []) if r[4] is None)

    out["sources.merge_append_s"] = median0(warm(per_cycle("sources.merge_append"))) if c else 0.0
    staged = []
    if c:
        with open(cfg["site_json"]) as fh:
            staged = [r["new_rows"] for r in json.load(fh)["truth"]["rounds"]]
    out["sources.rows_staged"] = median0(warm(staged))
    out["sources.rows_appended"] = median0(warm(new_rows))
    out["sources.append_ratio"] = sum(new_rows) / max(1, sum(staged))
    store = c["store_after"] if c else [(0, 0)]
    grew = [(b1 - b0) / n for (_, b0), (_, b1), n in zip(store, store[1:], new_rows[1:]) if n]
    out["sources.store_files"] = store[-1][0]
    out["sources.bytes_written_per_doc"] = median0(grew)
    out["sources.store_bytes_per_doc"] = store[-1][1] / max(1, len(result.get("final_rows", [])))

    loads = SIZES[cfg["size"]]["page_loads"]  # the cold round's page loads
    out["dashboard.refresh_s_p50"] = median0(warm(c["refresh_s"])) if c else 0.0
    out["dashboard.page_load_ms_p50"] = median0(c["page_ms"][loads:]) if c else 0.0
    for panel in ("word_topk", "source_distribution", "timeline", "recent"):
        out[f"dashboard.serve_ms.{panel}"] = median0(c["serve_ms"][panel][loads:]) if c else 0.0
    out["dashboard.gold_files"] = c["gold_files"] if c else 0

    # plans and operators: corpus_curate only
    phases = result.get("phases", {})
    for q in CORPUS_QUERIES:
        ph = phases.get(q, {"construct_s": [], "execute_s": []})
        out[f"plans.{q}.construct_s"] = median0(warm(ph["construct_s"]))
        out[f"plans.{q}.execute_s"] = median0(warm(ph["execute_s"]))
        for phase in ("construct", "execute"):
            per = [sum(v for g, v in sess["groups"][i].items() if g.startswith(f"{phase}:{q}:"))
                   for i in range(len(cycles))]
            out[f"plans.{q}.{phase}_jobs"] = median0(warm(per))
    for name in OPERATORS:
        out[f"{name}.calls"] = median0(warm(per_cycle(name, None)))
        out[f"{name}.s"] = median0(warm(per_cycle(name)))
    return out


if __name__ == "__main__":
    main()

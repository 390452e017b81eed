"""Self-check of the benchmark harness on the smallest input.

    python3 perfbench/smoke.py

Checks that ``BENCHMARK.json`` has the expected shape and names the
workloads ``spec.py`` runs, then runs every workload end to end through
``run.py --size smoke`` (tables of 120 documents, two crawl rounds), once
untraced and once traced, and checks that each run passes its output
checks and prints every metric ``BENCHMARK.json`` names, with its unit.
Each run starts Spark, so the whole check takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spec import WORKLOADS, load_benchmark  # noqa: E402


def shape_problems(bench: dict) -> list[str]:
    out = []
    if set(bench) != {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}:
        out.append(f"top-level keys {sorted(bench)}")
    if [w["name"] for w in bench["workloads"]] != list(WORKLOADS):
        out.append("workloads differ from spec.WORKLOADS")
    out += [f"workload {w['name']}: keys" for w in bench["workloads"] if set(w) != {"name", "why"}]
    for m in bench["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            out.append(f"end-to-end metric {m['name']}: keys or bound")
    out += [f"per-layer metric {m['name']}: keys" for m in bench["per_layer"]
            if set(m) != {"name", "unit", "better"}]
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    if len(names) != len(set(names)):
        out.append("a metric name is used twice")
    if "setup_s" not in names:
        out.append("no setup_s")
    return out


def run_problems(bench: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace), "--size", "smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    where = f"{workload} trace={trace}"
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return [f"{where}: exit code {p.returncode}\n{p.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    out = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        out.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        out.append(f"{where}: correct={result['correct']} failed={result['failed']} "
                   f"attempted={result['attempted']}")
    wanted = bench["per_layer" if trace else "end_to_end"]
    expected = {m["name"]: m["unit"] for m in wanted}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        out.append(f"{where}: metrics differ from BENCHMARK.json: missing "
                   f"{sorted(set(expected) - set(got))}, extra {sorted(set(got) - set(expected))}, "
                   f"wrong unit {sorted(k for k in got if k in expected and got[k] != expected[k])}")
    if not trace and any(v["value"] <= 0 for v in result["metrics"].values()):
        out.append(f"{where}: an end-to-end metric is not positive")
    return out


def main() -> int:
    bench = load_benchmark(ROOT)
    problems = shape_problems(bench)
    for workload in WORKLOADS:
        for trace in (0, 1):
            found = run_problems(bench, workload, trace)
            print(f"{workload} trace={trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    for p in problems:
        print(f"smoke: {p}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Tracing for the benchmark's traced run: in-memory spans around calls
into the package's layers, plus a reader for Spark's own event log.

Spans are recorded by rebinding module attributes of the package inside
the traced worker process only; the package itself is not changed.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """Collects spans (name, start, end, parent, op id, cycle) in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._next_op = 0
        self.cycle = -1

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, new_op: bool = False):
        tracer = self

        class _Span:
            def __enter__(self):
                stack = tracer._stack()
                parent = stack[-1] if stack else None
                if new_op or parent is None:
                    tracer._next_op += 1
                    op = tracer._next_op
                else:
                    op = parent["op"]
                self.rec = {
                    "id": len(tracer.spans), "name": name, "op": op,
                    "parent": parent["id"] if parent else None,
                    "cycle": tracer.cycle, "start": time.time(), "end": None,
                }
                tracer.spans.append(self.rec)
                stack.append(self.rec)
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.time()
                tracer._stack().pop()
                return False

        return _Span()

    def wrap(self, module, attr: str, name: str) -> None:
        """Rebind ``module.attr`` to a span-recording wrapper."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            with self.span(name):
                return orig(*args, **kw)

        setattr(module, attr, wrapper)

    def self_times(self) -> list[dict]:
        """Each closed span with ``self`` = duration minus its children's."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            dict(s, dur=s["end"] - s["start"], self=s["end"] - s["start"] - child.get(s["id"], 0.0))
            for s in self.spans if s["end"] is not None
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.self_times():
                fh.write(json.dumps(s) + "\n")


# --- Spark event log ---------------------------------------------------------
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application under ``log_dir``; handles
    both the rolling ``eventlog_v2_*`` directory and a plain file."""
    files = sorted(glob.glob(f"{log_dir}/eventlog_v2_*/events_*"))
    if not files:
        files = sorted(f for f in glob.glob(f"{log_dir}/*") if os.path.isfile(f))

    def index(path: str) -> int:
        parts = os.path.basename(path).split("_")
        return int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0

    events = []
    for path in sorted(files, key=index):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def session_metrics(events: list[dict], cycles: list[tuple[float, float]]) -> dict:
    """Per-cycle Spark counters from the event log, as the median over
    ``cycles[1:]`` (the warm cycles). Jobs belong to the cycle their
    submission falls in; tasks to their stage's job. Also returns the
    per-job-group job counts per cycle for plan attribution."""
    jobs = {}
    stage_job = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0, "end": None,
                "group": props.get("spark.jobGroup.id"),
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0

    def cycle_of(t: float) -> int | None:
        for i, (a, b) in enumerate(cycles):
            if a <= t <= b:
                return i
        return None

    for j in jobs.values():
        j["cycle"] = cycle_of(j["submit"])
    n = len(cycles)
    zero = lambda: [0.0] * n  # noqa: E731
    acc = {k: zero() for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "scheduler_delay_s", "shuffle_write_bytes", "shuffle_read_bytes",
        "spill_bytes", "python_bytes_sent", "python_bytes_returned", "python_stage_run_s",
    )}
    groups: list[dict[str, int]] = [dict() for _ in range(n)]
    for j in jobs.values():
        if j["cycle"] is not None:
            acc["jobs"][j["cycle"]] += 1
            if j["group"]:
                g = groups[j["cycle"]]
                g[j["group"]] = g.get(j["group"], 0) + 1
    stage_run: dict[int, float] = {}
    py_stages: set[int] = set()
    stage_cycle: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            c = jobs.get(stage_job.get(sid), {}).get("cycle")
            if c is not None:
                acc["stages"][c] += 1
        if kind != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        c = jobs.get(stage_job.get(sid), {}).get("cycle")
        if c is None:
            continue
        stage_cycle[sid] = c
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1000.0
        acc["tasks"][c] += 1
        acc["executor_run_s"][c] += run_s
        acc["executor_cpu_s"][c] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"][c] += m.get("JVM GC Time", 0) / 1000.0
        dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
        acc["scheduler_delay_s"][c] += max(0.0, dur - run_s - (
            m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
        ) / 1000.0 - info.get("Getting Result Time", 0) / 1000.0)
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        acc["shuffle_write_bytes"][c] += sw.get("Shuffle Bytes Written", 0)
        acc["shuffle_read_bytes"][c] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        acc["spill_bytes"][c] += m.get("Disk Bytes Spilled", 0)
        stage_run[sid] = stage_run.get(sid, 0.0) + run_s
        for a in info.get("Accumulables") or []:
            name = a.get("Name")
            if name in (_PY_SENT, _PY_RETURNED):
                try:
                    upd = float(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                key = "python_bytes_sent" if name == _PY_SENT else "python_bytes_returned"
                acc[key][c] += upd
                py_stages.add(sid)
    for sid in py_stages:
        acc["python_stage_run_s"][stage_cycle[sid]] += stage_run.get(sid, 0.0)

    # wall time of each cycle with no job running
    gaps = zero()
    for i, (a, b) in enumerate(cycles):
        spans = sorted(
            (max(j["submit"], a), min(j["end"] or b, b))
            for j in jobs.values() if j["cycle"] == i
        )
        busy, cur_a, cur_b = 0.0, None, None
        for s, t in spans:
            if cur_b is None or s > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = s, t
            else:
                cur_b = max(cur_b, t)
        if cur_b is not None:
            busy += cur_b - cur_a
        gaps[i] = max(0.0, (b - a) - busy)
    acc["driver_gap_s"] = gaps

    warm = slice(1, None) if n > 1 else slice(0, None)
    out = {f"session.{k}": statistics.median(v[warm]) for k, v in acc.items()}
    return {"metrics": out, "groups": groups}

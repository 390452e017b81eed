"""bench.py orchestrator invariants (no Spark session needed)."""

from __future__ import annotations

import subprocess

import bench


def test_jit_warmup_queries_are_registered_and_untimed() -> None:
    """The warm-up runs non-headline queries so every headline cold row
    stays the first execution of its plan."""
    from crawlingbigdatavisionaid_spark.plans.registry import QUERIES

    for name in bench._JIT_WARMUP_QUERIES:
        assert name in QUERIES, name
        assert QUERIES[name].bench is None, name


def test_spawn_survives_a_hung_family(monkeypatch) -> None:
    """r8 self-review: a family JVM hanging past the timeout must come
    back as an error RECORD (the bench always emits its summary), not
    an uncaught TimeoutExpired that loses every measured family. r9:
    _spawn moved to Popen + start_new_session so the whole process
    GROUP (the Spark JVM grandchild included) is SIGKILLed on timeout —
    the fake asserts the group kill is attempted on the child's pid."""
    killed: list[tuple[int, int]] = []

    class FakeProc:
        pid = 4242

        def communicate(self, timeout=None):
            raise subprocess.TimeoutExpired(cmd="x", timeout=3600)

        def wait(self):
            return 0

    monkeypatch.setattr(subprocess, "Popen", lambda *a, **k: FakeProc())
    monkeypatch.setattr(
        bench.os, "killpg", lambda pgid, sig: killed.append((pgid, sig))
    )
    got = bench._spawn("dedup", "/nonexistent")
    assert "_error" in got and "3600" in got["_error"]
    assert got["_family_wall_s"] >= 0
    assert killed == [(4242, bench.signal.SIGKILL)]


def test_last_line_carries_per_query_seconds(monkeypatch, tmp_path, capsys) -> None:
    """The last stdout line is the one the per-query PERF comparison
    reads: it must parse, and its ``queries`` / ``queries_warm`` must
    name exactly the timed queries, rounded to ms. Families are faked,
    so no Spark runs."""
    import json

    def fake_spawn(fam, sf_dir):
        if fam == "sf1":
            return {"sf1_total": 1.0, "_family_wall_s": 1.0}
        names = bench.FAMILIES[fam]
        return {
            "queries": {q: 0.123456 for q in names},
            "queries_construct": {q: 0.01 for q in names},
            "queries_warm": {q: 0.054321 for q in names},
            "_family_wall_s": 1.0,
        }

    monkeypatch.setattr(bench, "_spawn", fake_spawn)
    monkeypatch.setattr(bench, "DETAIL_PATH", str(tmp_path / "detail.json"))
    monkeypatch.setattr(bench.sys, "argv", ["bench.py"])
    bench.main()
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last["queries"]) == set(bench.HEADLINE)
    assert set(last["queries_warm"]) == set(bench.HEADLINE)
    assert set(last["queries"].values()) == {0.123}
    assert set(last["queries_warm"].values()) == {0.054}
    assert last["n_queries"] == len(bench.HEADLINE)

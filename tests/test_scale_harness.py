"""Every scale-harness mode at K=2 on the smoke sf-dir.

Each mode asserts its own replication invariant (exactly Kx, flat, or
base-identical) before it returns its record, so running it is the
test. The ``sf1`` mode is the timing run and asserts nothing; bench.py
runs its ``build_scaled`` layout.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import scale_smoke  # noqa: E402

from crawlingbigdatavisionaid_spark.session import claim_driver_heap  # noqa: E402


@pytest.mark.parametrize("mode", [m for m in scale_smoke.MODES if m != "sf1"])
def test_mode_invariant_holds_at_k2(spark, sf_dir, tmp_path, mode) -> None:
    rec = scale_smoke.MODES[mode](spark, sf_dir, 2, str(tmp_path))
    json.dumps(rec)  # main() prints it as one JSON line


def test_replica_tags_are_distinct_letters() -> None:
    tags = [scale_smoke.tag(i) for i in range(26 * 26)]
    assert len(set(tags)) == len(tags)
    assert all(t.isalpha() for t in tags)


def test_driver_heap_default_is_capped_and_explicit_wins(monkeypatch) -> None:
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    claim_driver_heap(48)
    gib = int(os.environ["SPARK_GRAFT_DRIVER_MEM"].removesuffix("g"))
    assert 1 <= gib <= max(1, min(48, phys_gib // 2))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    claim_driver_heap(48)
    assert os.environ["SPARK_GRAFT_DRIVER_MEM"] == "3g"

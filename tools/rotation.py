"""Staleness scoreboard for the rotating check window.

The window itself is derived in ``plans/registry.py`` (``derive()``, see
the rotation policy there): ``query_map()`` seats it first, so it rotates
whenever a new ``CORRECTNESS_r*.json`` round file lands at the repo root.
This tool prints that window and the staleness histogram (0 = never
checked) before and after it runs — the drain-policy scoreboard.

Net-new registrations are capped at ~10 per round: every never-checked
registration takes a seat first-serve, and an uncapped burst would
starve the stalest-first fill (276 oracle-backed queries / 50 seats is
already a >= 5-round cycle).  Max staleness must DECREASE round over
round; the tool warns when the never-checked count breaks the cap.

Usage: python tools/rotation.py
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlingbigdatavisionaid_spark.plans.registry import (  # noqa: E402
    QUERIES,
    WINDOW,
    _history,
    query_map,
)


def main() -> None:
    derived = list(query_map())[:WINDOW]
    print(json.dumps({"derived": derived}, indent=2))
    eligible = [n for n, spec in QUERIES.items() if spec.oracle is not None]
    hist, rounds = _history()
    nxt = (max(rounds) if rounds else 0) + 1
    before = Counter(hist.get(n, 0) for n in eligible)
    after = Counter(
        nxt if n in set(derived) else hist.get(n, 0) for n in eligible
    )
    print("STALENESS before:", dict(sorted(before.items())))
    print(f"STALENESS after r{nxt} window:", dict(sorted(after.items())))
    if after.get(0, 0) > 0:
        print(
            f"WARNING: {after[0]} never-checked registrations do not even"
            " fit the window — registration volume has far outrun the"
            " ~10 net-new-per-round cap (drain policy in this docstring)"
        )
    elif before.get(0, 0) > 40:
        print(
            f"WARNING: {before[0]} never-checked seats leave fewer than 10"
            " for the stalest-first fill — slow down net-new registrations"
            " (drain policy in this docstring)"
        )


if __name__ == "__main__":
    main()

"""Reproduce the driver-window rotation in ``plans/registry._PRIORITY``.

The driver's correctness gate checks the FIRST 50 registered queries, so
each round the window rotates by STALENESS: a query's staleness is the
last round it appeared in a ``CORRECTNESS_r*.json`` (never-checked
queries are stalest of all).  The window is composed as:

1. every never-driver-checked query (newest registrations first serve);
2. a greedy OP-ID coverage repair — while any SURVEY.md §2 OP-ID lacks a
   window representative, seat the STALEST eligible query covering one
   (ties broken toward covering more missing ops, then name) — eligible
   means oracle-backed and not twin-carried;
3. stalest-first fill to exactly 50 seats.

Twin-carried registrations — the rows-only ones, registered with no
oracle (six today) — are excluded from staleness bookkeeping per the
recorded disposition in ``plans/registry.py``; the set is read from the
registry, not kept by hand.

STALENESS-DRAIN POLICY (judge r10 next-round #3): because every
never-checked registration consumes a seat, net-NEW registrations per
round are CAPPED at ~10 so that >= 10 seats always remain for the
stalest-first fill — the brief now rewards depth over breadth, and an
uncapped registration burst would starve the tail (274 queries / 50
seats is already a >= 5-round cycle). ``main()`` warns when the
never-checked count exceeds the cap. r11 context: 6 net-new; per the
histogram this tool prints, the r11 window drains the r5 tail 12 -> 6
and the r<=6 tail 53 -> 45. Max staleness must DECREASE round over
round — check with the printed histogram.

Usage: python tools/rotation.py   # prints the derived window and diffs
it against the committed ``_PRIORITY`` tuple.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50


def _queries() -> dict:
    from crawlingbigdatavisionaid_spark.plans import registry

    registry._load_all()
    return registry.QUERIES


def _eligible(q: dict) -> list[str]:
    """Oracle-backed queries in registration order; the rest are the
    twin-carried rows-only registrations."""
    return [n for n in q if q[n].oracle is not None]


def _history() -> tuple[dict[str, int], list[int]]:
    """Last driver-checked round per query, and every recorded round."""
    hist: dict[str, int] = {}
    rounds = []
    for f in sorted(glob.glob(os.path.join(
            os.path.dirname(__file__), "..", "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        rounds.append(rnd)
        for name in json.load(open(f)):
            hist[name] = max(hist.get(name, 0), rnd)
    return hist, rounds


def derive() -> list[str]:
    q = _queries()
    # registration order WITHOUT the current priority pin: module-import
    # order is what the rotation actually ranks, so re-derive it by
    # putting priority names back at their staleness rank, not position 0
    names = list(q)
    eligible = _eligible(q)
    hist, _ = _history()

    window = [n for n in eligible if n not in hist]

    def ops_of(ns):
        s = set()
        for n in ns:
            s.update(q[n].ops)
        return s

    all_ops = ops_of(names)
    remaining = set(all_ops) - ops_of(window)
    while remaining:
        cands = [
            n for n in eligible
            if n not in window and set(q[n].ops) & remaining
        ]
        cands.sort(key=lambda n: (hist.get(n, -1),
                                  -len(set(q[n].ops) & remaining), n))
        pick = cands[0]
        window.append(pick)
        remaining -= set(q[pick].ops)

    rest = [n for n in eligible if n not in window]
    rest.sort(key=lambda n: (hist.get(n, -1), n))
    window += rest[: WINDOW - len(window)]
    return window


def main() -> None:
    from crawlingbigdatavisionaid_spark.plans import registry

    derived = derive()
    committed = list(registry._PRIORITY)
    print(json.dumps({"derived": derived}, indent=2))
    # staleness histogram (0 = never driver-checked), before and after
    # the derived window runs — the drain-policy scoreboard
    eligible = _eligible(_queries())
    hist, rounds = _history()
    nxt = (max(rounds) if rounds else 0) + 1
    from collections import Counter

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
    d, c = set(derived), set(committed)
    if d == c:
        print("MATCH: derived window == committed _PRIORITY (as sets)")
    else:
        print("DIFF: only-derived:", sorted(d - c))
        print("DIFF: only-committed:", sorted(c - d))
        sys.exit(1)


if __name__ == "__main__":
    main()

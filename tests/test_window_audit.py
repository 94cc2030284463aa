"""The plan-audit rule for unpartitioned windows (round-4 verdict item
#1/#3): a global-order window over non-reduced input must be flagged; the
three legitimate shapes — pre-aggregated input, optimizer-pruned top-k,
and the seq.with_global_* decomposition — must pass."""

from __future__ import annotations

import os
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from plan_audit import _reduced, unpartitioned_window_offenses  # noqa: E402

from genesis_spark.operators.seq import with_global_running_sum  # noqa: E402


def test_flags_global_window_over_base_rows(spark):
    df = (spark.range(1000)
          .withColumn("rn", F.row_number().over(Window.orderBy("id"))))
    off = unpartitioned_window_offenses(df)
    assert off, "synthetic offender must be flagged"
    assert "non-reduced" in off[0]


def test_flags_global_window_over_parquet(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    df = d.withColumn("rn", F.row_number().over(
        Window.orderBy("o_orderkey")))
    assert unpartitioned_window_offenses(df)


def test_partitioned_window_passes(spark):
    df = (spark.range(1000).withColumn("g", F.col("id") % 7)
          .withColumn("rn", F.row_number().over(
              Window.partitionBy("g").orderBy("id"))))
    assert unpartitioned_window_offenses(df) == []


def test_aggregated_input_passes(spark):
    agg = (spark.range(1000).withColumn("g", F.col("id") % 7)
           .groupBy("g").agg(F.sum("id").alias("s")))
    df = agg.withColumn("rn", F.row_number().over(Window.orderBy("s")))
    assert unpartitioned_window_offenses(df) == []


def test_topk_window_group_limit_passes(spark):
    # rank <= k lets the optimizer insert WindowGroupLimit, which prunes
    # each map partition to k rows before the global sort — bounded.
    df = (spark.range(100000)
          .withColumn("rn", F.row_number().over(
              Window.orderBy(F.desc("id"))))
          .filter(F.col("rn") <= 5))
    assert unpartitioned_window_offenses(df) == []


def test_global_scan_decomposition_passes(spark):
    df = (spark.range(5000)
          .select(F.col("id").alias("k"), (F.col("id") % 9).alias("v")))
    out = with_global_running_sum(df, ["k"], "v", "rs")
    assert unpartitioned_window_offenses(out) == []


def test_join_with_one_raw_side_still_flags(spark):
    # a join of (aggregate, raw table) is table-scale: must be flagged
    agg = (spark.range(1000).withColumn("g", F.col("id") % 7)
           .groupBy("g").agg(F.count(F.lit(1)).alias("c")))
    raw = spark.range(1000).withColumn("g", F.col("id") % 7)
    j = raw.join(F.broadcast(agg), "g")
    df = j.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert unpartitioned_window_offenses(df)


class _Seq:
    """The two methods of a Scala ``Seq`` that the audit calls."""

    def __init__(self, items):
        self.items = items

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


class _Node:
    """A logical plan node as the audit sees it through py4j."""

    def __init__(self, name, *children):
        self.name, self.kids = name, children

    def nodeName(self):
        return self.name

    def children(self):
        return _Seq(self.kids)


def test_bare_local_limit_is_not_a_reducer():
    # LocalLimit bounds rows per partition only: k x numPartitions rows of
    # a table-scale scan still reach a window above it
    scan = _Node("LogicalRelation")
    assert not _reduced(_Node("LocalLimit", scan))
    assert not _reduced(_Node("Project", _Node("LocalLimit", scan)))
    assert _reduced(_Node("GlobalLimit", _Node("LocalLimit", scan)))
    assert _reduced(_Node("LocalLimit", _Node("LocalRelation")))

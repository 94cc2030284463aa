"""Scalable global sequence numbering.

The crawl-ordering contract (SURVEY.md §2.6 O1) needs a total order index
(frontier priority rank, crawl_seq). A single-partition window would serialize
the whole table through one task — unacceptable at 10^10 rows. Instead:
range-repartition on the order keys, sort within partitions, count rows per
partition (one cheap job over the cached shuffle output), then add
``offset[pid] + local_position`` per partition via Arrow batches. Two jobs,
no global shuffle beyond the range sort itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_global_seq(df: DataFrame, order_cols: list[str],
                    seq_col: str = "seq",
                    cached: list[DataFrame] | None = None) -> DataFrame:
    """Append a dense 0-based global index following ``order_cols`` order.
    Order keys must be unique for a deterministic result. The intermediate
    is persisted so the count pass and the numbering pass see identical
    partitioning. It is appended to ``cached`` when given, for the caller
    to ``.unpersist()`` once the result is materialized; otherwise it stays
    cached, and its plan with it, for the life of the session.
    """
    import pandas as pd

    d = (df.repartitionByRange(*order_cols)
           .sortWithinPartitions(*order_cols)
           .withColumn("_pid", F.spark_partition_id()))
    d = d.persist()
    if cached is not None:
        cached.append(d)
    sizes = {r["_pid"]: r["count"] for r in d.groupBy("_pid").count().collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]

    # NOTE: never StructType.add() on df.schema — pyspark 4 caches the schema
    # object and .add mutates it in place, corrupting the DataFrame's column
    # resolution. Always copy.
    from pyspark.sql import types as T
    out_schema = T.StructType(
        list(d.schema.fields) + [T.StructField(seq_col, T.LongType(), False)])

    def number(batches):
        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{seq_col: pd.Series([], dtype="int64")})
                continue
            if pos is None:
                pos = offsets.get(int(pdf["_pid"].iloc[0]), 0)
            pdf = pdf.copy()
            pdf[seq_col] = range(pos, pos + len(pdf))
            pos += len(pdf)
            yield pdf

    return d.mapInPandas(number, out_schema).drop("_pid")


# ---------------------------------------------------------------------------
# Pure-JVM global scans (round-5: the replacement for every unpartitioned
# Window.orderBy over base-table-scale data — the round-4 verdict's one
# scale-killer class). Same two-level decomposition as operators/pack.py's
# sharded path, but over an ORDER instead of an explicit shard key:
#
#   1. range-repartition + sort on the order columns (partitions are
#      order-contiguous, each bounded by ~table/partitions rows),
#   2. one tiny per-partition aggregate (O(partitions) rows) prefix-scanned
#      with a window — unpartitioned, but over the AGGREGATED frame, which
#      is the sanctioned shape,
#   3. broadcast the per-partition exclusive base back and finish with a
#      window partitioned BY partition id — every window partition is one
#      range partition, never the whole table.
#
# No Arrow/Python nodes (unlike ``with_global_seq``), no collect beyond the
# O(partitions) base frame, and bit-identical to the flat single-partition
# window (asserted in tests/test_global_scan.py).
# ---------------------------------------------------------------------------


def _ordered_pid(df: DataFrame, order_cols) -> DataFrame:
    """Range-partition + sort ``df`` by ``order_cols`` (strings or sort
    Columns) and tag rows with the partition id. Persisted so the base-
    offset pass and the finishing window see the identical partitioning."""
    d = (df.repartitionByRange(*order_cols)
           .sortWithinPartitions(*order_cols)
           .withColumn("_pid", F.spark_partition_id()))
    return d.persist()


def _pid_base(d: DataFrame, val) -> DataFrame:
    """(_pid, _base): exclusive prefix of ``sum(val)`` over partition ids.
    The window is unpartitioned but its input is the per-pid aggregate —
    O(partitions) rows, the one place a global window is free."""
    from pyspark.sql import Window
    sums = d.groupBy("_pid").agg(F.sum(val).alias("_s"))
    pw = (Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return sums.select(
        "_pid", (F.sum("_s").over(pw) - F.col("_s")).alias("_base"))


def with_global_running_sum(df: DataFrame, order_cols, val_col: str,
                            out_col: str) -> DataFrame:
    """Inclusive running sum of ``val_col`` in global ``order_cols`` order
    — ``sum(val) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` without
    the single-partition sort. Order keys must form a total order for a
    deterministic result."""
    from pyspark.sql import Window
    d = _ordered_pid(df, order_cols)
    base = _pid_base(d, F.col(val_col))
    lw = (Window.partitionBy("_pid").orderBy(*order_cols)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (d.join(F.broadcast(base), "_pid")
            .withColumn(out_col,
                        F.sum(val_col).over(lw) + F.col("_base"))
            .drop("_pid", "_base"))


def with_global_rank(df: DataFrame, order_cols, out_col: str = "rank",
                     start: int = 1) -> DataFrame:
    """``row_number() OVER (ORDER BY ...)`` (as BIGINT, first row =
    ``start``) without the single-partition sort. Order keys must be
    unique for a deterministic result."""
    from pyspark.sql import Window
    d = _ordered_pid(df, order_cols)
    base = _pid_base(d, F.lit(1))
    lw = Window.partitionBy("_pid").orderBy(*order_cols)
    return (d.join(F.broadcast(base), "_pid")
            .withColumn(out_col,
                        (F.row_number().over(lw) + F.col("_base")
                         + F.lit(start - 1)).cast("long"))
            .drop("_pid", "_base"))


def with_global_lead(df: DataFrame, order_cols, lead_cols: list[str],
                     suffix: str = "_next") -> DataFrame:
    """``lead(c) OVER (ORDER BY ...)`` for each c in ``lead_cols`` (null
    on the last row) without the single-partition sort: global dense rank,
    then a self-join on rank+1 — two bounded shuffles, never one task."""
    r = with_global_rank(df, order_cols, "_glseq").persist()
    nxt = r.select((F.col("_glseq") - 1).alias("_glseq"),
                   *[F.col(c).alias(c + suffix) for c in lead_cols])
    return r.join(nxt, "_glseq", "left").drop("_glseq")

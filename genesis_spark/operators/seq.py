"""Scalable global scans: numbering, running sums and leads in a global
order, without the single-partition window.

The crawl-ordering contract (SURVEY.md §2.6 O1) needs a total order index
(frontier priority rank, crawl_seq). A single-partition window would
serialize the whole table through one task — unacceptable at 10^10 rows.
Every operator here uses the same two-level decomposition (as
operators/pack.py's sharded path, but over an ORDER instead of an explicit
shard key):

  1. range-repartition + sort on the order columns (partitions are
     order-contiguous, each bounded by ~table/partitions rows), persisted
     so every later pass sees the identical partitioning,
  2. one tiny per-partition aggregate (O(partitions) rows) prefix-scanned
     with a window — unpartitioned, but over the AGGREGATED frame, which
     is the sanctioned shape,
  3. broadcast the per-partition exclusive base back and finish each row
     from its own partition: its position (``with_global_seq``) or a
     window partitioned BY partition id (``with_global_running_sum``) —
     never a window over the whole table.

All JVM: no Python worker, no collect beyond the O(partitions) base frame,
and bit-identical to the flat single-partition window (asserted in
tests/test_global_scan.py).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id() puts the partition id in the upper 31 bits
# and the row's index within its partition in the lower 33
_MONO_ROW_BITS = 33


def _ordered_pid(df: DataFrame, order_cols,
                 cached: list[DataFrame] | None = None) -> DataFrame:
    """Range-partition + sort ``df`` by ``order_cols`` (strings or sort
    Columns) and tag rows with the partition id. Persisted so the base-
    offset pass and the finishing pass see the identical partitioning; the
    persisted frame is appended to ``cached`` when given, for the caller to
    ``.unpersist()`` once the result is materialized, and otherwise stays
    cached, and its plan with it, for the life of the session.

    Spark caches by plan: when the same plan is already cached, ``persist``
    reuses that entry, which belongs to whoever made it, so it is not
    appended to ``cached`` and the caller's release leaves it in place."""
    d = (df.repartitionByRange(*order_cols)
           .sortWithinPartitions(*order_cols)
           .withColumn("_pid", F.spark_partition_id()))
    new_entry = d.storageLevel == StorageLevel.NONE
    d = d.persist()
    if cached is not None and new_entry:
        cached.append(d)
    return d


def _pid_base(d: DataFrame, val) -> DataFrame:
    """(_pid, _base): exclusive prefix of ``sum(val)`` over partition ids,
    NULL where no earlier partition has a non-NULL ``val`` (as SQL ``sum``).
    The window is unpartitioned but its input is the per-pid aggregate —
    O(partitions) rows, the one place a global window is free."""
    from pyspark.sql import Window
    sums = d.groupBy("_pid").agg(F.sum(val).alias("_s"))
    pw = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    return sums.select("_pid", F.sum("_s").over(pw).alias("_base"))


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
    # NULL only where every value up to the row is NULL, as in the flat
    # window: a partition of NULLs carries the earlier total forward
    local = F.sum(val_col).over(lw)
    return (d.join(F.broadcast(base), "_pid")
            .withColumn(out_col, F.coalesce(local + F.col("_base"), local,
                                            F.col("_base")))
            .drop("_pid", "_base"))


def with_global_seq(df: DataFrame, order_cols, seq_col: str = "seq",
                    start: int = 0,
                    cached: list[DataFrame] | None = None) -> DataFrame:
    """``row_number() OVER (ORDER BY ...) - 1 + start`` as BIGINT: a dense
    global index following ``order_cols`` (strings or sort Columns), the
    first row numbered ``start``. Order keys must be unique for a
    deterministic result. ``cached`` receives the persisted intermediate,
    as in ``_ordered_pid``."""
    d = _ordered_pid(df, order_cols, cached)
    base = _pid_base(d, F.lit(1))
    # read over the persisted frame, whose partitions are the sorted range
    # partitions: the row's index within its partition
    local = (F.monotonically_increasing_id()
             - F.shiftleft(F.col("_pid").cast("long"), _MONO_ROW_BITS))
    return (d.withColumn("_pos", local)
            .join(F.broadcast(base), "_pid")
            .withColumn(seq_col, (F.coalesce("_base", F.lit(0)) + F.col("_pos")
                                  + F.lit(start)).cast("long"))
            .drop("_pid", "_base", "_pos"))


def with_global_lead(df: DataFrame, order_cols, lead_cols: list[str],
                     suffix: str = "_next") -> DataFrame:
    """``lead(c) OVER (ORDER BY ...)`` for each c in ``lead_cols`` (null
    on the last row) without the single-partition sort: global dense rank,
    then a self-join on rank+1 — two bounded shuffles, never one task."""
    r = with_global_seq(df, order_cols, "_glseq").persist()
    nxt = r.select((F.col("_glseq") - 1).alias("_glseq"),
                   *[F.col(c).alias(c + suffix) for c in lead_cols])
    return r.join(nxt, "_glseq", "left").drop("_glseq")

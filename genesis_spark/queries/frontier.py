"""Registry family: Frontier & scheduling (split from the monolithic queries.py)."""

from __future__ import annotations

from genesis_spark.queries._shared import *  # noqa: F401,F403



def q_frontier_install(spark, sf_dir):
    """S1/S8: the seed-install pipeline — validate -> canonicalize ->
    MERGE-dedup (first (installed_at, seq) wins) -> global priority rank
    -> round assignment at host_budget 8 (crawl_model.py:73) — the exact
    operator the crawl engine's install path runs."""
    frontier = engine.install_seeds(_orders_seeds(spark, sf_dir), host_budget=8)
    return frontier.select("url", "installed_at", "seq", "round", "host_rank")


ORACLE_FRONTIER_INSTALL = """
WITH raw AS (
  SELECT 'http://host' || (o_orderkey % 200) || '.onion' AS url,
         o_orderdate AS installed_at, o_orderkey AS seq
  FROM orders
), ded AS (
  SELECT url, installed_at, seq FROM (
    SELECT *, row_number() OVER (PARTITION BY url
                                 ORDER BY installed_at, seq) AS rn
    FROM raw) WHERE rn = 1
)
SELECT url, installed_at, seq,
       CAST(host_rank // 8 AS INT) AS round, host_rank
FROM (SELECT *, row_number() OVER (ORDER BY installed_at, seq) - 1
             AS host_rank FROM ded)
"""


def q_frontier_wave_select(spark, sf_dir):
    """S2/O1: wave selection — the pending rows of one crawl round in
    (installed_at, seq) priority order, the frontier scan run_rounds
    issues each dispatch cycle."""
    k = F.col("o_orderkey")
    entries = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("h"), (k % 50).cast("string")).alias("host_key"),
        F.col("o_orderdate").alias("installed_at"), k.alias("seq"))
    w = Window.partitionBy("host_key").orderBy("installed_at", "seq")
    return (entries.withColumn("prio_rank", F.row_number().over(w))
            .filter(F.col("prio_rank") <= 3)
            .select("host_key", "seq", "prio_rank"))


ORACLE_FRONTIER_WAVE_SELECT = """
SELECT host_key, seq, prio_rank FROM (
  SELECT 'h' || (o_orderkey % 50) AS host_key, o_orderkey AS seq,
         row_number() OVER (PARTITION BY 'h' || (o_orderkey % 50)
                            ORDER BY o_orderdate, o_orderkey) AS prio_rank
  FROM orders) WHERE prio_rank <= 3
"""


def q_frontier_host_agg(spark, sf_dir):
    """Two-phase salted aggregation (A3): partial per (host, salt) then
    final — identical result to a plain GROUP BY, immune to hub-host skew."""
    k = F.col("o_orderkey")
    entries = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("h"), (k % 40).cast("string")).alias("host_key"),
        F.col("o_totalprice").alias("value"),
        F.col("o_orderdate").alias("installed_at"),
        F.pmod(F.xxhash64(k), F.lit(16)).alias("salt"))
    partial = (entries.groupBy("host_key", "salt")
               .agg(F.count("*").alias("c"), F.sum("value").alias("s"),
                    F.min("installed_at").alias("m")))
    return (partial.groupBy("host_key")
            .agg(F.sum("c").alias("n_urls"),
                 F.round(F.sum("s"), 2).alias("total_value"),
                 F.min("m").alias("first_installed")))


ORACLE_FRONTIER_HOST_AGG = """
SELECT 'h' || (o_orderkey % 40) AS host_key,
       count(*) AS n_urls,
       round(sum(o_totalprice), 2) AS total_value,
       min(o_orderdate) AS first_installed
FROM orders GROUP BY 1
"""


def q_frontier_install_bucketed(spark, sf_dir):
    """The 10^10-row install path (no global-rank barrier): priority rank is
    a window per politeness bucket. portable_bucket=True swaps xxhash64 for
    the md5-derived bucket hash so DuckDB can replay the assignment."""
    frontier = engine.install_seeds_bucketed(
        _orders_seeds(spark, sf_dir), bucket_budget=8, buckets=16,
        portable_bucket=True)
    return frontier.select("url", "installed_at", "seq", "bucket",
                           "bucket_rank", "round")


ORACLE_FRONTIER_INSTALL_BUCKETED = """
WITH raw AS (
  SELECT 'http://host' || (o_orderkey % 200) || '.onion' AS url,
         o_orderdate AS installed_at, o_orderkey AS seq
  FROM orders
), ded AS (
  SELECT url, installed_at, seq FROM (
    SELECT *, row_number() OVER (PARTITION BY url
                                 ORDER BY installed_at, seq) AS rn
    FROM raw) WHERE rn = 1
), b AS (
  SELECT url, installed_at, seq,
         CAST(concat('0x', substr(md5(
             regexp_extract(url, '^http://([^./]+)', 1)), 25, 8)) AS BIGINT)
         % 16 AS bucket
  FROM ded
)
SELECT url, installed_at, seq, bucket, bucket_rank,
       CAST(bucket_rank // 8 AS INT) AS round
FROM (SELECT *, row_number() OVER (PARTITION BY bucket
                                   ORDER BY installed_at, seq) - 1
             AS bucket_rank FROM b)
"""


def q_frontier_merge_upsert(spark, sf_dir):
    """Iceberg MERGE INTO semantics over the frontier (the SnapshotStore
    gap expressed as a verified operator): a change batch of updates,
    inserts, and delete tombstones applied to the standing frontier in
    ONE full-outer join (operators/joins.py:merge_upsert) — matched
    deletes drop, matched updates win, unmatched non-tombstones insert,
    untouched rows pass through. The oracle replays the same FULL OUTER
    JOIN arithmetic."""
    from genesis_spark.operators.joins import merge_upsert

    base = (_t(spark, sf_dir, "orders")
            .groupBy(F.concat(F.lit("http://host"),
                              (F.col("o_orderkey") % 200).cast("string"),
                              F.lit(".onion")).alias("url"))
            .agg(F.min("o_orderkey").alias("prio"))
            .withColumn("state", F.lit("pending")))
    k = F.col("l_orderkey")
    upd = (_t(spark, sf_dir, "lineitem")
           .groupBy(F.concat(F.lit("http://host"),
                             (k % 300).cast("string"),
                             F.lit(".onion")).alias("url"))
           .agg(F.min("l_orderkey").alias("mk"))
           .select("url", F.col("mk").alias("prio"),
                   F.lit("done").alias("state"),
                   F.when(F.col("mk") % 7 == 0, "D").otherwise("U")
                   .alias("op")))
    return merge_upsert(base, upd, "url")


ORACLE_FRONTIER_MERGE_UPSERT = """
WITH base AS (
  SELECT 'http://host' || (o_orderkey % 200) || '.onion' AS url,
         min(o_orderkey) AS prio, 'pending' AS state
  FROM orders GROUP BY 1
), upd AS (
  SELECT url, mk AS prio, 'done' AS state,
         CASE WHEN mk % 7 = 0 THEN 'D' ELSE 'U' END AS op
  FROM (SELECT 'http://host' || (l_orderkey % 300) || '.onion' AS url,
               min(l_orderkey) AS mk
        FROM lineitem GROUP BY 1)
)
SELECT coalesce(u.url, b.url) AS url,
       CASE WHEN u.op IS NOT NULL THEN u.prio ELSE b.prio END AS prio,
       CASE WHEN u.op IS NOT NULL THEN u.state ELSE b.state END AS state
FROM base b FULL OUTER JOIN upd u ON b.url = u.url
WHERE CASE WHEN u.op IS NOT NULL THEN u.op <> 'D' ELSE TRUE END
"""


def q_frontier_zorder(spark, sf_dir):
    """Z-order clustering key for the frontier's Iceberg layout
    (operators.zorder): interleave (host_bucket, time_bucket) bits so
    files pruned tightly by BOTH the per-host read (politeness,
    recrawl) and the per-time wave scan. host_bucket = first 16 md5
    bits of the host (engine-portable stand-in for the xxhash64 bucket);
    time_bucket = install-sequence low 16 bits. Pure integer codegen —
    the oracle restates the identical interleave formula."""
    from genesis_spark.operators.zorder import zorder_key

    key = F.col("o_orderkey")
    host = F.concat(F.lit("h"), (key % 499).cast("string"))
    rows = (_t(spark, sf_dir, "orders").select(
        key.alias("id"),
        F.conv(F.substring(F.md5(host), 1, 4), 16, 10).cast("long")
        .alias("host_bucket"),
        (key % 65536).cast("long").alias("time_bucket")))
    return rows.select(
        "id", "host_bucket", "time_bucket",
        zorder_key(F.col("host_bucket"), F.col("time_bucket"))
        .alias("zkey"))

ORACLE_FRONTIER_ZORDER = f"""
WITH rows_ AS (
  SELECT o_orderkey AS id,
         CAST(concat('0x', substr(md5('h' || (o_orderkey % 499)), 1, 4))
              AS BIGINT) AS host_bucket,
         o_orderkey % 65536 AS time_bucket
  FROM orders)
SELECT id, host_bucket, time_bucket,
       {_zexpr("host_bucket", "time_bucket")} AS zkey
FROM rows_
"""


def q_frontier_change_rate(spark, sf_dir):
    """Adaptive recrawl scheduling (crawler/freshness.py): per-URL
    Poisson change-rate from fetch history via the Cho/Garcia-Molina
    bias-corrected estimator -ln((n-x+0.5)/(n+0.5)), revisit interval =
    clamp(ceil(1/rate)) with the division rounded 6 dp before the ceil
    so both engines make the same discrete call. One
    map-side-combinable groupBy, zero UDFs."""
    from genesis_spark.crawler.freshness import change_rate_schedule

    hist = _t(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("http://h"),
                 (F.col("l_orderkey") % 50).cast("string"),
                 F.lit(".onion/p"),
                 (F.col("l_partkey") % 200).cast("string")).alias("url"),
        ((F.col("l_suppkey") + F.col("l_linenumber")) % 3 == 0)
        .cast("int").alias("changed"),
        (F.col("l_linenumber") + F.col("l_orderkey") % 7).alias("round"))
    return change_rate_schedule(hist, ["url"])


ORACLE_FRONTIER_CHANGE_RATE = """
WITH h AS (
  SELECT 'http://h' || (l_orderkey % 50) || '.onion/p' || (l_partkey % 200)
           AS url,
         CASE WHEN (l_suppkey + l_linenumber) % 3 = 0 THEN 1 ELSE 0 END
           AS changed,
         l_linenumber + (l_orderkey % 7) AS round
  FROM lineitem),
a AS (
  SELECT url, count(*) AS n_fetches,
         CAST(sum(changed) AS BIGINT) AS n_changes,
         max(round) AS last_round
  FROM h GROUP BY 1),
r AS (
  SELECT *, round(-ln((n_fetches - n_changes + 0.5) / (n_fetches + 0.5)), 6)
           AS change_rate
  FROM a),
i AS (
  SELECT *, CASE WHEN change_rate <= 0 THEN 64
                 ELSE least(64, greatest(1,
                      CAST(ceil(round(1.0 / change_rate, 6)) AS INT))) END
           AS next_interval
  FROM r)
SELECT url, n_fetches, n_changes, change_rate, next_interval,
       CAST(last_round + next_interval AS BIGINT) AS next_due
FROM i
"""


def q_frontier_recrawl(spark, sf_dir):
    """Recrawl scheduling (the freshness loop over a crawled frontier):
    priority = staleness in days minus a 20/level depth penalty, top-3
    per host by (score DESC, seq) — one window per host partition, the
    same bounded-partition shape as the wave select. At 10^10 URLs the
    per-host partitions stay politeness-budget sized."""
    k = F.col("o_orderkey")
    fr = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("h"), (k % 120).cast("string")).alias("host_key"),
        k.alias("seq"),
        (k % 4).cast("int").alias("depth"),
        F.col("o_orderdate").alias("last_crawl"))
    score = (F.datediff(F.lit("1998-12-01").cast("date"),
                        F.col("last_crawl"))
             - 20 * F.col("depth")).cast("int")
    w = Window.partitionBy("host_key").orderBy(F.col("score").desc(), "seq")
    return (fr.withColumn("score", score)
            .withColumn("recrawl_rank", F.row_number().over(w))
            .filter(F.col("recrawl_rank") <= 3)
            .select("host_key", "seq", "depth", "score", "recrawl_rank"))


ORACLE_FRONTIER_RECRAWL = """
WITH fr AS (
  SELECT 'h' || (o_orderkey % 120) AS host_key, o_orderkey AS seq,
         CAST(o_orderkey % 4 AS INT) AS depth,
         CAST(date_diff('day', o_orderdate, DATE '1998-12-01')
              - 20 * (o_orderkey % 4) AS INT) AS score
  FROM orders
)
SELECT host_key, seq, depth, score,
       CAST(rn AS BIGINT) AS recrawl_rank
FROM (SELECT *, row_number() OVER (PARTITION BY host_key
                                   ORDER BY score DESC, seq) AS rn
      FROM fr)
WHERE rn <= 3
"""


def q_frontier_opic(spark, sf_dir):
    """OPIC crawl priority (Abiteboul et al. 2003, "Adaptive On-Line Page
    Importance Computation") — the crawler-native alternative to
    PageRank: every host starts with equal cash; each (synchronous)
    round a host banks its cash into history and distributes it equally
    over its out-links. Crawl priority = cash + history. All arithmetic
    EXACT integer (cash in 1e-6 units, DIV for the split; distribution
    remainders and dangling-host cash are dropped, mirrored in the
    oracle) so Spark and DuckDB agree bit-for-bit. 3 unrolled rounds —
    same shape as ``host_pagerank``; the edges subplan repeats and
    ReusedExchange dedupes it."""
    C0 = 1_000_000
    edges = _host_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    state = nodes.select("node", F.lit(C0).cast("long").alias("cash"),
                         F.lit(0).cast("long").alias("hist"))
    for _ in range(3):
        recv = (edges
                .join(state.select(F.col("node").alias("src"), "cash"),
                      "src")
                .join(deg, "src")
                .select(F.col("dst").alias("node"),
                        F.expr("cash DIV outdeg").alias("share"))
                .groupBy("node")
                .agg(F.sum("share").alias("recv")))
        state = (state.join(recv, "node", "left")
                 .select("node",
                         F.coalesce("recv", F.lit(0)).cast("long")
                         .alias("cash"),
                         (F.col("hist") + F.col("cash")).cast("long")
                         .alias("hist")))
    return state.select(F.col("node").alias("host_key"), "cash", "hist",
                        (F.col("cash") + F.col("hist")).alias("priority"))


ORACLE_FRONTIER_OPIC = f"""
WITH {_HOST_EDGES_SQL},
s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS cash,
              CAST(0 AS BIGINT) AS hist FROM n),
r1 AS (SELECT e.dst AS node, sum(s0.cash // deg.outdeg) AS recv
       FROM e JOIN s0 ON s0.node = e.src JOIN deg ON deg.src = e.src
       GROUP BY e.dst),
s1 AS (SELECT n.node, CAST(coalesce(r1.recv, 0) AS BIGINT) AS cash,
              CAST(s0.hist + s0.cash AS BIGINT) AS hist
       FROM n LEFT JOIN r1 ON r1.node = n.node
       JOIN s0 ON s0.node = n.node),
r2 AS (SELECT e.dst AS node, sum(s1.cash // deg.outdeg) AS recv
       FROM e JOIN s1 ON s1.node = e.src JOIN deg ON deg.src = e.src
       GROUP BY e.dst),
s2 AS (SELECT n.node, CAST(coalesce(r2.recv, 0) AS BIGINT) AS cash,
              CAST(s1.hist + s1.cash AS BIGINT) AS hist
       FROM n LEFT JOIN r2 ON r2.node = n.node
       JOIN s1 ON s1.node = n.node),
r3 AS (SELECT e.dst AS node, sum(s2.cash // deg.outdeg) AS recv
       FROM e JOIN s2 ON s2.node = e.src JOIN deg ON deg.src = e.src
       GROUP BY e.dst),
s3 AS (SELECT n.node, CAST(coalesce(r3.recv, 0) AS BIGINT) AS cash,
              CAST(s2.hist + s2.cash AS BIGINT) AS hist
       FROM n LEFT JOIN r3 ON r3.node = n.node
       JOIN s2 ON s2.node = n.node)
SELECT node AS host_key, cash, hist, cash + hist AS priority FROM s3
"""


def q_frontier_budget(spark, sf_dir):
    """Crawl-budget apportionment: a global fetch budget (10,000 slots)
    split across hosts proportional to weight (here: pending-URL counts)
    by the largest-remainder method — EXACT integers, Σ alloc == budget
    by construction (unit-tested invariant). Two single-row broadcasts
    (total weight, leftover k) + one map; the remainder ranking is a
    global window over HOST-cardinality rows (50 here; at 10^7 hosts it
    becomes a top-k — take the k largest remainders with one partial
    top-k agg instead of a full sort)."""
    BUDGET = 10_000
    wts = (_t(spark, sf_dir, "orders")
           .groupBy(F.concat(F.lit("h"),
                             (F.col("o_orderkey") % 50).cast("string"))
                    .alias("host_key"))
           .agg(F.count("*").alias("wt")))
    tot = wts.agg(F.sum("wt").alias("tot"))
    base = (wts.crossJoin(F.broadcast(tot))
            .select("host_key", "wt",
                    F.expr(f"({BUDGET} * wt) DIV tot").alias("base"),
                    F.expr(f"({BUDGET} * wt) % tot").alias("rem")))
    kdf = base.agg((F.lit(BUDGET) - F.sum("base")).alias("k"))
    w = Window.orderBy(F.desc("rem"), F.asc("host_key"))
    return (base.crossJoin(F.broadcast(kdf))
            .withColumn("rk", F.row_number().over(w))
            .select("host_key", "wt",
                    (F.col("base")
                     + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0))
                    .cast("long").alias("alloc")))


ORACLE_FRONTIER_BUDGET = """
WITH wts AS (
  SELECT 'h' || (o_orderkey % 50) AS host_key, count(*) AS wt
  FROM orders GROUP BY 1),
tot AS (SELECT sum(wt) AS tot FROM wts),
base AS (
  SELECT host_key, wt, (10000 * wt) // tot AS base, (10000 * wt) % tot AS rem
  FROM wts, tot),
kv AS (SELECT 10000 - sum(base) AS k FROM base),
r AS (
  SELECT host_key, wt, base,
         row_number() OVER (ORDER BY rem DESC, host_key ASC) AS rk
  FROM base)
SELECT host_key, wt,
       CAST(base + CASE WHEN rk <= (SELECT k FROM kv) THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM r
"""


def q_frontier_schedule(spark, sf_dir):
    """Politeness-aware fetch-slot assignment (ST3's scheduling primitive
    as a declarative pass): within each host, pending URLs are ranked by
    (installed_at, seq) and the k-th URL is scheduled k*crawl_delay ms
    after the host's window opens — the per-host serialization the
    politeness contract requires, computed for ALL hosts in one window
    pass. Per-host crawl delay comes from the host's robots policy
    (here the deterministic fixture delay). At 10^10 URLs each partition
    is one host's politeness-budget-sized queue — the same bounded-
    partition shape as the wave select."""
    k = F.col("o_orderkey")
    host_num = (k % 60).cast("int")
    fr = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("h"), host_num.cast("string")).alias("host_key"),
        k.alias("seq"),
        F.col("o_orderdate").alias("installed_at"),
        (F.lit(500) + (host_num % 5) * 250).alias("delay_ms"))
    w = Window.partitionBy("host_key").orderBy("installed_at", "seq")
    return (fr.withColumn("rn", F.row_number().over(w))
            .select("host_key", "seq",
                    ((F.col("rn") - 1) * F.col("delay_ms"))
                    .cast("bigint").alias("fetch_at_ms")))


ORACLE_FRONTIER_SCHEDULE = """
WITH fr AS (
  SELECT 'h' || (o_orderkey % 60) AS host_key, o_orderkey AS seq,
         o_orderdate AS installed_at,
         500 + ((o_orderkey % 60) % 5) * 250 AS delay_ms
  FROM orders)
SELECT host_key, seq,
       CAST((row_number() OVER (PARTITION BY host_key
                                ORDER BY installed_at, seq) - 1)
            * delay_ms AS BIGINT) AS fetch_at_ms
FROM fr
"""


# ---------------------------------------------------------------------------
# block 16: the crawler scheduling composition
# ---------------------------------------------------------------------------

def q_frontier_pipeline(spark, sf_dir):
    """The END-TO-END crawl-scheduling composition as ONE oracle row (the
    crawler-side twin of corpus_clean_full / spans_pipeline): pending
    frontier -> global budget apportioned across hosts by
    largest-remainder (exact integers, Σ alloc == budget) -> each host's
    TOP-alloc URLs by (installed_at, seq) priority -> politeness fetch
    slots (k-th pick waits k*crawl_delay). Every stage is verified
    standalone (frontier_budget / frontier_wave_select /
    frontier_schedule); this row verifies the COMPOSITION — a one-URL
    budget shift changes which rows exist and every later slot. All
    windows are host-partitioned (politeness-bucket sized) except the
    host-cardinality remainder rank."""
    BUDGET = 3_000
    k = F.col("o_orderkey")
    host_num = (k % 50).cast("int")
    fr = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("h"), host_num.cast("string")).alias("host_key"),
        k.alias("seq"),
        F.col("o_orderdate").alias("installed_at"),
        (F.lit(500) + (host_num % 5) * 250).alias("delay_ms"))
    wts = fr.groupBy("host_key").agg(F.count("*").alias("wt"))
    tot = wts.agg(F.sum("wt").alias("tot"))
    base = (wts.crossJoin(F.broadcast(tot))
            .select("host_key", "wt",
                    F.expr(f"({BUDGET} * wt) DIV tot").alias("base"),
                    F.expr(f"({BUDGET} * wt) % tot").alias("rem")))
    kdf = base.agg((F.lit(BUDGET) - F.sum("base")).alias("k"))
    wrk = Window.orderBy(F.desc("rem"), F.asc("host_key"))
    alloc = (base.crossJoin(F.broadcast(kdf))
             .withColumn("rk", F.row_number().over(wrk))
             .select("host_key",
                     (F.col("base")
                      + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0))
                     .cast("long").alias("alloc")))
    wp = Window.partitionBy("host_key").orderBy("installed_at", "seq")
    picked = (fr.withColumn("prio_rank", F.row_number().over(wp))
              .join(F.broadcast(alloc), "host_key")
              .filter(F.col("prio_rank") <= F.col("alloc")))
    return picked.select(
        "host_key", "seq", "prio_rank",
        ((F.col("prio_rank") - 1) * F.col("delay_ms"))
        .cast("bigint").alias("fetch_at_ms"))


ORACLE_FRONTIER_PIPELINE = """
WITH fr AS (
  SELECT 'h' || (o_orderkey % 50) AS host_key, o_orderkey AS seq,
         o_orderdate AS installed_at,
         500 + ((o_orderkey % 50) % 5) * 250 AS delay_ms
  FROM orders),
wts AS (SELECT host_key, count(*) AS wt FROM fr GROUP BY host_key),
tot AS (SELECT sum(wt) AS tot FROM wts),
base AS (
  SELECT host_key, wt, (3000 * wt) // tot AS base, (3000 * wt) % tot AS rem
  FROM wts, tot),
kv AS (SELECT 3000 - sum(base) AS k FROM base),
alloc AS (
  SELECT host_key,
         CAST(base + CASE WHEN rk <= (SELECT k FROM kv) THEN 1 ELSE 0 END
              AS BIGINT) AS alloc
  FROM (SELECT host_key, base,
               row_number() OVER (ORDER BY rem DESC, host_key ASC) AS rk
        FROM base)),
ranked AS (
  SELECT host_key, seq, delay_ms,
         row_number() OVER (PARTITION BY host_key
                            ORDER BY installed_at, seq) AS prio_rank
  FROM fr)
SELECT r.host_key, r.seq, CAST(r.prio_rank AS BIGINT) AS prio_rank,
       CAST((r.prio_rank - 1) * r.delay_ms AS BIGINT) AS fetch_at_ms
FROM ranked r JOIN alloc a ON a.host_key = r.host_key
WHERE r.prio_rank <= a.alloc
"""


def q_frontier_checkpoint_diff(spark, sf_dir):
    """Snapshot CHANGELOG between two frontier checkpoints — the Iceberg
    changelog-scan / time-travel-diff shape (the inverse of
    frontier_merge_upsert): two deterministically synthesized frontier
    versions are full-outer-joined on url and classified added / removed
    / status_changed (unchanged rows excluded — a changelog carries only
    deltas). Output is the per-change-type census with key checksums, so
    one URL in the wrong delta class breaks the hash. This is what
    incremental consumers (recrawl schedulers, replication) read instead
    of re-scanning a 10^10-row frontier.

    Plan/scale: both versions are projections of the same scan; the diff
    is ONE url-partitioned full-outer join and a 3-key census. On
    Iceberg the same classification falls out of the snapshot metadata;
    here it is computed, which also VERIFIES a changelog implementation
    against its two endpoint snapshots."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    url = F.concat(F.lit("http://h"), (k % 50).cast("string"),
                   F.lit(".onion/p"), k.cast("string"))
    v1 = (o.filter(k % 3 != 0)
          .select(url.alias("url"), k.alias("key"),
                  F.when(k % 4 == 0, "complete").otherwise("pending")
                  .alias("status")))
    v2 = (o.filter(k % 5 != 1)
          .select(url.alias("url"), k.alias("key"),
                  F.when(k % 2 == 0, "complete").otherwise("pending")
                  .alias("status")))
    j = (v1.alias("x").join(v2.alias("y"), "url", "full_outer")
         .select("url",
                 F.col("x.key").alias("key1"),
                 F.col("y.key").alias("key2"),
                 F.col("x.status").alias("s1"),
                 F.col("y.status").alias("s2")))
    change = (F.when(F.col("s1").isNull(), "added")
              .when(F.col("s2").isNull(), "removed")
              .when(F.col("s1") != F.col("s2"), "status_changed"))
    return (j.withColumn("change_type", change)
            .filter(F.col("change_type").isNotNull())
            .groupBy("change_type")
            .agg(F.count("*").alias("n_urls"),
                 F.sum(F.coalesce("key2", "key1"))
                 .alias("key_checksum")))


ORACLE_FRONTIER_CHECKPOINT_DIFF = """
WITH v1 AS (
  SELECT 'http://h' || (o_orderkey % 50) || '.onion/p' || o_orderkey
           AS url,
         o_orderkey AS key,
         CASE WHEN o_orderkey % 4 = 0 THEN 'complete'
              ELSE 'pending' END AS status
  FROM orders WHERE o_orderkey % 3 <> 0),
v2 AS (
  SELECT 'http://h' || (o_orderkey % 50) || '.onion/p' || o_orderkey
           AS url,
         o_orderkey AS key,
         CASE WHEN o_orderkey % 2 = 0 THEN 'complete'
              ELSE 'pending' END AS status
  FROM orders WHERE o_orderkey % 5 <> 1),
j AS (
  SELECT coalesce(v1.url, v2.url) AS url,
         v1.key AS key1, v2.key AS key2,
         v1.status AS s1, v2.status AS s2
  FROM v1 FULL OUTER JOIN v2 ON v1.url = v2.url),
c AS (
  SELECT url, key1, key2,
         CASE WHEN s1 IS NULL THEN 'added'
              WHEN s2 IS NULL THEN 'removed'
              WHEN s1 <> s2 THEN 'status_changed' END AS change_type
  FROM j)
SELECT change_type, count(*) AS n_urls,
       CAST(sum(coalesce(key2, key1)) AS BIGINT) AS key_checksum
FROM c WHERE change_type IS NOT NULL
GROUP BY change_type
"""


def q_frontier_host_fairness(spark, sf_dir):
    """Gini coefficient of the per-host crawl backlog — the fairness
    audit of the politeness scheduler (a Gini near 1 means a few hub
    hosts own the frontier and the per-host budget is the binding
    constraint; near 0 means breadth). Computed exactly: backlog counts
    are integers, ranks come from one deterministic (backlog, host)
    ordering, and the single 4-dp division happens once at the end —
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) on the ascending
    sort.

    Plan/scale: per-host agg (one shuffle over ~hosts rows), a global
    window over the HOST table (n_hosts rows, not URLs — tiny even at
    10^10 URLs), one final 1-row agg."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    backlog = (o.filter(k % 3 != 0)
               .select(F.concat(F.lit("h"), (k % 50).cast("string"))
                       .alias("host"))
               .groupBy("host").agg(F.count("*").alias("x")))
    w = Window.orderBy(F.asc("x"), F.asc("host"))
    ranked = backlog.withColumn("i", F.row_number().over(w))
    return (ranked.agg(
        F.count("*").alias("n_hosts"),
        F.sum("x").alias("total_backlog"),
        F.round((2 * F.sum(F.col("i") * F.col("x"))
                 - (F.count("*") + 1) * F.sum("x"))
                / (F.count("*") * F.sum("x")), 4).alias("gini")))


ORACLE_FRONTIER_HOST_FAIRNESS = """
WITH backlog AS (
  SELECT 'h' || (o_orderkey % 50) AS host, count(*) AS x
  FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 1),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x ASC, host ASC) AS i
  FROM backlog)
SELECT count(*) AS n_hosts,
       CAST(sum(x) AS BIGINT) AS total_backlog,
       round((2 * sum(i * x) - (count(*) + 1) * sum(x))
             / (count(*) * sum(x)), 4) AS gini
FROM ranked
"""


def q_frontier_ucb(spark, sf_dir):
    """Bandit-style crawl scheduling: UCB1 (Auer et al. 2002) over
    hosts, where each crawl attempt's reward is the new-URL yield —
    the explore/exploit policy that beats fixed round-robin when some
    hosts are link farms and others are dead ends.  Mean reward and
    the sqrt(2 ln N / n) confidence bonus derive from exact integer
    (attempts, reward) census sums; one 4-dp round.  The rank window
    runs over the HOST census — never URLs."""
    k = F.col("o_orderkey")
    stats = (_t(spark, sf_dir, "orders")
             .select(F.concat(F.lit("h"), (k % 50).cast("string"))
                     .alias("host"),
                     (k % 3).alias("reward"))
             .groupBy("host")
             .agg(F.count(F.lit(1)).alias("n_pulls"),
                  F.sum("reward").alias("r_total")))
    tot = stats.agg(F.sum("n_pulls").alias("n_all"))
    score = F.round(
        F.col("r_total") / F.col("n_pulls")
        + F.sqrt(F.lit(2.0) * F.log(F.col("n_all")) / F.col("n_pulls")), 4)
    ranked = (stats.crossJoin(F.broadcast(tot))
              .select("host", "n_pulls", "r_total", score.alias("ucb")))
    w = Window.orderBy(F.col("ucb").desc(), F.col("host").asc())
    return ranked.withColumn("rank", F.row_number().over(w).cast("long"))


ORACLE_FRONTIER_UCB = """
WITH stats AS (
  SELECT 'h' || (o_orderkey % 50) AS host, count(*) AS n_pulls,
         CAST(sum(o_orderkey % 3) AS BIGINT) AS r_total
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(sum(n_pulls) AS BIGINT) AS n_all FROM stats),
ranked AS (
  SELECT host, n_pulls, r_total,
         round(r_total * 1.0 / n_pulls
               + sqrt(2.0 * ln(n_all) / n_pulls), 4) AS ucb
  FROM stats CROSS JOIN tot
)
SELECT host, n_pulls, r_total, ucb,
       CAST(row_number() OVER (ORDER BY ucb DESC, host ASC) AS BIGINT)
         AS rank
FROM ranked
"""


def q_frontier_crawl_delay(spark, sf_dir):
    """Latency-adaptive per-host crawl delay — the auto-tuning layer over
    the fixed politeness buckets (crawler/politeness.py pins the pacing
    interval; this row derives it from observed server behavior, the way
    production crawlers back off slow hosts): EWMA (alpha = 1/2) of each
    host's last 8 fetch latencies sets the delay, clamped to
    [500 ms, 10 s]. Alpha = 1/2 makes every EWMA weight a power of two,
    so the smoothing is EXACT integer arithmetic — for chronological
    observations x_1..x_n, ewma = (x_1 + sum_{i>=2} x_i * 2^(i-2))
    / 2^(n-1) — and Spark/DuckDB agree bit-for-bit with no float
    accumulation-order hazard. Latency observations derive
    deterministically from events (latency_ms = event_id % 900 + 100).

    Plan/scale: one bounded window (top-8 per host — the rank cut runs
    BEFORE the weight math, so per-host state is O(8) rows no matter how
    deep the event history) + one partial agg."""
    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string"))
        .alias("host_key"),
        (F.col("event_id") % 900 + 100).cast("long").alias("latency_ms"),
        "ts", "event_id")
    w = Window.partitionBy("host_key").orderBy(F.col("ts").desc(),
                                               F.col("event_id").desc())
    kept = (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 8))
    nw = Window.partitionBy("host_key")
    weighted = (kept
                .withColumn("n_obs", F.count("*").over(nw).cast("int"))
                .withColumn("idx", (F.col("n_obs") - F.col("rn") + 1)
                            .cast("int"))
                .withColumn("wgt", F.expr(
                    "CASE WHEN idx = 1 THEN CAST(1 AS BIGINT) "
                    "ELSE shiftleft(CAST(1 AS BIGINT), idx - 2) END")))
    stats = weighted.groupBy("host_key").agg(
        F.max("n_obs").alias("n_obs"),
        F.sum(F.col("latency_ms") * F.col("wgt")).alias("numer"))
    return stats.select(
        "host_key",
        F.col("n_obs").cast("int").alias("n_obs"),
        F.expr("numer DIV shiftleft(CAST(1 AS BIGINT), n_obs - 1)")
        .cast("long").alias("ewma_ms"),
        F.expr("greatest(CAST(500 AS BIGINT), least(CAST(10000 AS BIGINT), "
               "3 * (numer DIV shiftleft(CAST(1 AS BIGINT), n_obs - 1))))")
        .cast("long").alias("crawl_delay_ms"))


ORACLE_FRONTIER_CRAWL_DELAY = """
WITH ev AS (
  SELECT 'h' || (user_id % 40) AS host_key,
         CAST(event_id % 900 + 100 AS BIGINT) AS latency_ms, ts, event_id
  FROM events),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host_key
              ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev),
kept AS (SELECT * FROM ranked WHERE rn <= 8),
idxd AS (
  SELECT host_key, latency_ms,
         count(*) OVER (PARTITION BY host_key) AS n_obs,
         count(*) OVER (PARTITION BY host_key) - rn + 1 AS idx
  FROM kept),
agg AS (
  SELECT host_key, CAST(max(n_obs) AS INT) AS n_obs,
         sum(latency_ms * (CASE WHEN idx = 1 THEN CAST(1 AS BIGINT)
              ELSE (CAST(1 AS BIGINT) << CAST(idx - 2 AS INT)) END))
           AS numer
  FROM idxd GROUP BY host_key)
SELECT host_key, n_obs,
       CAST(numer // (CAST(1 AS BIGINT) << (n_obs - 1)) AS BIGINT)
         AS ewma_ms,
       CAST(greatest(500, least(10000,
            3 * (numer // (CAST(1 AS BIGINT) << (n_obs - 1)))))
         AS BIGINT) AS crawl_delay_ms
FROM agg
"""


def q_frontier_age_stats(spark, sf_dir):
    """Frontier queue-age health — the staleness dashboard a crawl
    operator watches (a host whose p95 queue age explodes is starved by
    its politeness budget; the fix is splitting the host or raising its
    budget): per host, exact age histogram (0-7 / 8-30 / 31-90 / 90+
    days vs the 2002-01-01 reference instant) and EXACT p50/p95 ages by
    position (value at row ceil(q*n) of the age-ordered queue — the
    nearest-rank percentile definition, no interpolation, no floats).

    Plan/scale: one window rank per host partition (bounded by queue
    depth) + one agg; percentile selection is a filter on rank, not a
    sort of the whole frontier."""
    k = F.col("o_orderkey")
    fr = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("h"), (F.col("o_custkey") % 40).cast("string"))
        .alias("host_key"),
        k.alias("seq"),
        F.datediff(F.lit("2002-01-01").cast("date"),
                   F.col("o_orderdate").cast("date")).cast("long")
        .alias("age_days"))
    w = Window.partitionBy("host_key").orderBy("age_days", "seq")
    ranked = (fr.withColumn("rn", F.row_number().over(w))
              .withColumn("n", F.count("*").over(
                  Window.partitionBy("host_key"))))
    hist = fr.groupBy("host_key").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum((F.col("age_days") <= 7).cast("long")).cast("long")
        .alias("b_0_7"),
        F.sum(((F.col("age_days") > 7) & (F.col("age_days") <= 30))
              .cast("long")).cast("long").alias("b_8_30"),
        F.sum(((F.col("age_days") > 30) & (F.col("age_days") <= 90))
              .cast("long")).cast("long").alias("b_31_90"),
        F.sum((F.col("age_days") > 90).cast("long")).cast("long")
        .alias("b_90_plus"))
    p50 = (ranked.filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
           .select("host_key", F.col("age_days").alias("p50_age_days")))
    p95 = (ranked.filter(F.col("rn") == F.expr("(95 * n + 99) DIV 100"))
           .select("host_key", F.col("age_days").alias("p95_age_days")))
    return (hist.join(p50, "host_key").join(p95, "host_key")
            .select("host_key", "n_urls", "b_0_7", "b_8_30", "b_31_90",
                    "b_90_plus", "p50_age_days", "p95_age_days"))


ORACLE_FRONTIER_AGE_STATS = """
WITH fr AS (
  SELECT 'h' || (o_custkey % 40) AS host_key,
         o_orderkey AS seq,
         CAST(date_diff('day', CAST(o_orderdate AS DATE),
                        DATE '2002-01-01') AS BIGINT) AS age_days
  FROM orders),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY host_key
                            ORDER BY age_days, seq) AS rn,
         count(*) OVER (PARTITION BY host_key) AS n
  FROM fr),
hist AS (
  SELECT host_key,
         CAST(count(*) AS BIGINT) AS n_urls,
         CAST(sum(CASE WHEN age_days <= 7 THEN 1 ELSE 0 END) AS BIGINT)
           AS b_0_7,
         CAST(sum(CASE WHEN age_days > 7 AND age_days <= 30
                       THEN 1 ELSE 0 END) AS BIGINT) AS b_8_30,
         CAST(sum(CASE WHEN age_days > 30 AND age_days <= 90
                       THEN 1 ELSE 0 END) AS BIGINT) AS b_31_90,
         CAST(sum(CASE WHEN age_days > 90 THEN 1 ELSE 0 END) AS BIGINT)
           AS b_90_plus
  FROM fr GROUP BY host_key),
p50 AS (SELECT host_key, age_days AS p50_age_days FROM ranked
        WHERE rn = (n + 1) // 2),
p95 AS (SELECT host_key, age_days AS p95_age_days FROM ranked
        WHERE rn = (95 * n + 99) // 100)
SELECT h.host_key, h.n_urls, h.b_0_7, h.b_8_30, h.b_31_90, h.b_90_plus,
       p50.p50_age_days, p95.p95_age_days
FROM hist h
JOIN p50 ON p50.host_key = h.host_key
JOIN p95 ON p95.host_key = h.host_key
"""


def q_frontier_dga_hosts(spark, sf_dir):
    """Random-hostname (DGA/onion-style) detection — a dark-web frontier
    is full of machine-generated hostnames, and treating them like
    editorial domains skews per-host trust and budget policy (the
    reference's whole universe is 56-char random .onion labels):
    hostnames are synthesized (every 13th an md5-derived random label,
    the rest word-built store domains), then detected from the LABEL
    alone by exact length + digit-ratio + vowel-ratio features — the
    classic DGA heuristic triple, conjoined so hyphen-word domains with
    incidental digits never trip it (digit-heavy AND vowel-poor AND
    long). Output: per class, count and exact mean feature ppms.

    Plan/scale: one scan of per-row string codegen + a 2-row agg; the
    feature exprs are shared with the detector's vote, computed once."""
    k = F.col("o_orderkey")
    host = F.when(k % 13 == 0,
                  F.concat(F.substring(F.md5(k.cast("string")), 1, 16),
                           F.lit(".onion"))
                  ).otherwise(
        F.concat(F.lit("shop-"), (k % 100).cast("string"),
                 F.lit("-store.com")))
    d = _t(spark, sf_dir, "orders").select(host.alias("hostname"))
    label = F.split("hostname", "\\.").getItem(0)
    t = d.select("hostname", label.alias("label"))
    n = F.greatest(F.length("label"), F.lit(1))
    n_vowel = F.length(F.regexp_replace("label", "[^aeiou]", ""))
    n_digit = F.length(F.regexp_replace("label", "[^0-9]", ""))
    feat = t.select(
        "label",
        F.length("label").cast("long").alias("len"),
        (n_vowel * 1000000).cast("long").alias("v_num"),
        (n_digit * 1000000).cast("long").alias("d_num"),
        n.cast("long").alias("n"))
    classed = feat.select(
        F.when((F.expr("d_num DIV n") >= 250000)
               & (F.expr("v_num DIV n") < 300000)
               & (F.col("len") >= 12),
               F.lit("dga")).otherwise(F.lit("benign"))
        .alias("host_class"),
        "len", "v_num", "d_num", "n")
    return classed.groupBy("host_class").agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.expr("sum(len) * 1 DIV count(*)").cast("long")
        .alias("mean_len"),
        F.expr("sum(v_num DIV n) DIV count(*)").cast("long")
        .alias("mean_vowel_ppm"),
        F.expr("sum(d_num DIV n) DIV count(*)").cast("long")
        .alias("mean_digit_ppm"))


ORACLE_FRONTIER_DGA_HOSTS = """
WITH d AS (
  SELECT CASE WHEN o_orderkey % 13 = 0
              THEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 16)
                   || '.onion'
              ELSE 'shop-' || (o_orderkey % 100) || '-store.com'
         END AS hostname
  FROM orders),
feat AS (
  SELECT string_split(hostname, '.')[1] AS label FROM d),
scored AS (
  SELECT CAST(length(label) AS BIGINT) AS len,
         CAST(length(regexp_replace(label, '[^aeiou]', '', 'g'))
              * 1000000 AS BIGINT) AS v_num,
         CAST(length(regexp_replace(label, '[^0-9]', '', 'g'))
              * 1000000 AS BIGINT) AS d_num,
         CAST(greatest(length(label), 1) AS BIGINT) AS n
  FROM feat),
classed AS (
  SELECT CASE WHEN d_num // n >= 250000 AND v_num // n < 300000
                   AND len >= 12
              THEN 'dga' ELSE 'benign' END AS host_class,
         len, v_num, d_num, n
  FROM scored)
SELECT host_class,
       CAST(count(*) AS BIGINT) AS n_hosts,
       CAST(sum(len) // count(*) AS BIGINT) AS mean_len,
       CAST(sum(v_num // n) // count(*) AS BIGINT) AS mean_vowel_ppm,
       CAST(sum(d_num // n) // count(*) AS BIGINT) AS mean_digit_ppm
FROM classed GROUP BY host_class
"""


def q_frontier_discovery_curve(spark, sf_dir):
    """URL-discovery saturation curve — the stop-crawling signal: per
    wave, how many URLs were seen for the FIRST time vs total
    encounters, the cumulative distinct frontier, and the novelty rate
    in ppm. A crawl whose novelty rate collapses has exhausted its
    seed basin; budget should move elsewhere (the per-wave macro view
    that frontier_change_rate's per-URL estimator rolls up into).

    Deterministic synthesis: wave = o_custkey % 8, url = a skewed mix
    (o_orderkey·(o_custkey+1)) % 2000 so later waves increasingly
    re-encounter old URLs. Plan/scale: one groupBy url for first-seen
    wave (the URL-seen shuffle the engine already pays), one per-wave
    agg, one 8-row cumulative window."""
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    enc = _t(spark, sf_dir, "orders").select(
        (c % 8).cast("long").alias("wave"),
        ((k * (c + 1)) % 2000).alias("url"))
    first = (enc.groupBy("url")
             .agg(F.min("wave").alias("first_wave")))
    disc = (first.groupBy("first_wave")
            .agg(F.count("*").cast("long").alias("n_discovered"))
            .withColumnRenamed("first_wave", "wave"))
    encs = enc.groupBy("wave").agg(
        F.count("*").cast("long").alias("n_encounters"))
    w = Window.orderBy("wave").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (encs.join(disc, "wave", "left")
            .select("wave", "n_encounters",
                    F.coalesce("n_discovered", F.lit(0)).cast("long")
                    .alias("n_discovered"))
            .withColumn("cum_distinct",
                        F.sum("n_discovered").over(w).cast("long"))
            .withColumn("novelty_ppm",
                        F.expr("n_discovered * 1000000 DIV n_encounters")
                        .cast("long")))


ORACLE_FRONTIER_DISCOVERY_CURVE = """
WITH enc AS (
  SELECT o_custkey % 8 AS wave,
         (o_orderkey * (o_custkey + 1)) % 2000 AS url
  FROM orders),
first AS (
  SELECT url, min(wave) AS first_wave FROM enc GROUP BY url),
disc AS (
  SELECT first_wave AS wave, CAST(count(*) AS BIGINT) AS n_discovered
  FROM first GROUP BY first_wave),
encs AS (
  SELECT wave, CAST(count(*) AS BIGINT) AS n_encounters
  FROM enc GROUP BY wave)
SELECT CAST(e.wave AS BIGINT) AS wave, e.n_encounters,
       CAST(coalesce(d.n_discovered, 0) AS BIGINT) AS n_discovered,
       CAST(sum(coalesce(d.n_discovered, 0))
              OVER (ORDER BY e.wave) AS BIGINT) AS cum_distinct,
       CAST(coalesce(d.n_discovered, 0) * 1000000 // e.n_encounters
            AS BIGINT) AS novelty_ppm
FROM encs e LEFT JOIN disc d ON d.wave = e.wave
"""


def q_frontier_makespan(spark, sf_dir):
    """Politeness-constrained drain ETA per scheduler bucket — 'when
    does this wave finish, and which host is the critical path': each
    host's drain time = pending URLs x its crawl delay (politeness
    makes per-host fetches strictly sequential, so host ETA is exact,
    not a model); a bucket's makespan is its slowest host, and
    balance_ppm = sum(eta) / (makespan x n_hosts) is the bucket's
    parallel efficiency (1e6 = perfectly level, low = one hub host
    starves the lane — the signal that triggers host re-sharding).
    Exact integer milliseconds end-to-end.

    Plan/scale: URL-scale work is ONE host-keyed census agg; everything
    after runs on |hosts| rows (window per bucket for the critical
    host). The bucket key is host%8 — the politeness-lane shard of
    crawler/politeness.py."""
    k = F.col("o_orderkey")
    hosts = (_t(spark, sf_dir, "orders")
             .select((k % 50).cast("long").alias("hn"))
             .groupBy("hn").agg(F.count(F.lit(1)).alias("pending")))
    per_host = hosts.select(
        F.concat(F.lit("h"), F.col("hn").cast("string")).alias("host"),
        (F.col("hn") % 8).cast("int").alias("bucket"),
        "pending",
        (F.lit(200) + 100 * (F.col("hn") % 7)).cast("long")
        .alias("delay_ms")).withColumn(
            "eta_ms", F.col("pending") * F.col("delay_ms"))
    w = Window.partitionBy("bucket").orderBy(F.desc("eta_ms"),
                                             F.asc("host"))
    ranked = per_host.withColumn("rn", F.row_number().over(w))
    agg = (per_host.groupBy("bucket")
           .agg(F.count(F.lit(1)).cast("long").alias("n_hosts"),
                F.sum("pending").cast("long").alias("total_pending"),
                F.max("eta_ms").cast("long").alias("makespan_ms"),
                F.sum("eta_ms").cast("long").alias("work_ms")))
    crit = (ranked.filter(F.col("rn") == 1)
            .select("bucket", F.col("host").alias("critical_host")))
    return (agg.join(crit, "bucket")
            .withColumn("balance_ppm", F.expr(
                "(work_ms * 1000000)"
                " DIV greatest(makespan_ms * n_hosts, 1)"))
            .select("bucket", "n_hosts", "total_pending", "makespan_ms",
                    "critical_host", "balance_ppm"))


ORACLE_FRONTIER_MAKESPAN = """
WITH h AS (
  SELECT o_orderkey % 50 AS hn, count(*) AS pending
  FROM orders GROUP BY 1),
per_host AS (
  SELECT 'h' || hn AS host, CAST(hn % 8 AS INT) AS bucket, pending,
         CAST(200 + 100 * (hn % 7) AS BIGINT) AS delay_ms,
         CAST(pending * (200 + 100 * (hn % 7)) AS BIGINT) AS eta_ms
  FROM h),
agg AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_hosts,
         CAST(sum(pending) AS BIGINT) AS total_pending,
         CAST(max(eta_ms) AS BIGINT) AS makespan_ms,
         CAST(sum(eta_ms) AS BIGINT) AS work_ms
  FROM per_host GROUP BY bucket),
crit AS (
  SELECT bucket, host AS critical_host FROM (
    SELECT bucket, host,
           row_number() OVER (PARTITION BY bucket
                              ORDER BY eta_ms DESC, host ASC) AS rn
    FROM per_host) WHERE rn = 1)
SELECT agg.bucket, n_hosts, total_pending, makespan_ms, critical_host,
       (work_ms * 1000000) // greatest(makespan_ms * n_hosts, 1)
         AS balance_ppm
FROM agg JOIN crit ON crit.bucket = agg.bucket
"""


def q_frontier_seed_sources(spark, sf_dir):
    """Multi-source seed merge — the frontier FEEDER composition: three
    real seed channels (sitemap XML via sources/sitemap.parse_sitemap,
    RSS feeds via sources/feeds.parse_feed, I2P addressbook via
    sources/i2p.addressbook_seeds) each synthesized in codegen, parsed
    by their REAL parsers, tagged with provenance and a source-level
    prior (sitemap's declared priority; 0.5 feed default; 0.3
    addressbook), then deduped by URL keeping the best prior and the
    sorted provenance set. Sitemap and feed universes overlap by
    construction, so the dedupe branch is exercised; addressbook seeds
    are disjoint (different network). A value-hash match proves all
    three parsers AND the merge in one row.

    Plan/scale: each channel is an independent parse explode; the
    merge is ONE groupBy on url carrying (url, source, prior) — seeds
    are KB-to-MB scale inputs, never the 10^10 frontier."""
    from genesis_spark.sources.feeds import parse_feed
    from genesis_spark.sources.i2p import addressbook_seeds
    from genesis_spark.sources.sitemap import parse_sitemap

    k = F.col("o_orderkey")
    d3 = F.expr("o_orderkey DIV 3")
    url = F.concat(F.lit("http://h"), (d3 % 12).cast("string"),
                   F.lit(".onion/s"), (d3 % 60).cast("string"))
    orders = _t(spark, sf_dir, "orders")

    sm_block = F.concat(F.lit("<url><loc>"), url, F.lit("</loc><priority>0."),
                        (d3 % 10).cast("string"), F.lit("</priority></url>"))
    sm = (orders.filter(k % 3 == 0)
          .select(sm_block.alias("b"))
          .agg(F.concat_ws("", F.array_sort(F.collect_list("b")))
               .alias("content")))
    sm_seeds = parse_sitemap(sm, "content").select(
        F.col("loc").alias("url"), F.lit("sitemap").alias("src"),
        F.col("priority").alias("prior"))

    fd_block = F.concat(F.lit("<item><link>"), url,
                        F.lit("</link><pubDate>2024-01-0"),
                        ((k % 9) + 1).cast("string"),
                        F.lit("</pubDate></item>"))
    fd = (orders.filter(k % 3 == 1)
          .select(fd_block.alias("b"))
          .agg(F.concat_ws("", F.array_sort(F.collect_list("b")))
               .alias("content")))
    fd_seeds = parse_feed(fd, "content").select(
        "url", F.lit("feed").alias("src"), F.lit(0.5).alias("prior"))

    ab_line = F.concat(F.lit("h"), (d3 % 12).cast("string"), F.lit("x"),
                       (d3 % 60).cast("string"), F.lit(".i2p=dest"),
                       k.cast("string"))
    ab = (orders.filter(k % 3 == 2)
          .select(ab_line.alias("b"))
          .agg(F.concat_ws("\n", F.array_sort(F.collect_list("b")))
               .alias("content"))
          .select(F.concat(F.lit("# addressbook\n"), F.col("content"))
                  .alias("content")))
    ab_seeds = addressbook_seeds(ab).select(
        "url", F.lit("addressbook").alias("src"),
        F.lit(0.3).alias("prior"))

    allseeds = (sm_seeds.unionByName(fd_seeds).unionByName(ab_seeds)
                .select("url", "src", "prior").distinct())
    return (allseeds.groupBy("url")
            .agg(F.max("prior").alias("best_prior"),
                 F.concat_ws(",", F.array_sort(F.collect_set("src")))
                 .alias("sources"),
                 F.countDistinct("src").cast("long").alias("n_sources")))


ORACLE_FRONTIER_SEED_SOURCES = """
WITH sm AS (
  SELECT DISTINCT
         'http://h' || ((o_orderkey // 3) % 12) || '.onion/s'
           || ((o_orderkey // 3) % 60) AS url,
         'sitemap' AS src,
         CAST('0.' || ((o_orderkey // 3) % 10) AS DOUBLE) AS prior
  FROM orders WHERE o_orderkey % 3 = 0),
fd AS (
  SELECT DISTINCT
         'http://h' || ((o_orderkey // 3) % 12) || '.onion/s'
           || ((o_orderkey // 3) % 60) AS url,
         'feed' AS src, 0.5::DOUBLE AS prior
  FROM orders WHERE o_orderkey % 3 = 1),
ab AS (
  SELECT DISTINCT
         'http://h' || ((o_orderkey // 3) % 12) || 'x'
           || ((o_orderkey // 3) % 60) || '.i2p' AS url,
         'addressbook' AS src, 0.3::DOUBLE AS prior
  FROM orders WHERE o_orderkey % 3 = 2),
u AS (
  SELECT * FROM sm UNION SELECT * FROM fd UNION SELECT * FROM ab)
SELECT url, max(prior) AS best_prior,
       string_agg(DISTINCT src, ',' ORDER BY src) AS sources,
       CAST(count(DISTINCT src) AS BIGINT) AS n_sources
FROM u GROUP BY url
"""


def q_frontier_admission_ensemble(spark, sf_dir):
    """The composed frontier ADMISSION gate — the crawler-side twin of
    corpus_quality_ensemble's filter-decision composition: every
    candidate URL runs the production gate ladder in its contract
    order (invalid_scheme -> ssrf_internal -> blocklisted -> trap ->
    robots_disallowed -> admit) and lands in exactly one
    FIRST-FAILING-REASON bucket. Output is the reason census with a
    url_id checksum per bucket — one URL sliding between buckets (or
    two gates swapping order) breaks the hash.

    Plan/scale: every gate is a map-side predicate (the blocklist and
    robots sides broadcast at production scale — shapes proven by
    url_blocklist_filter / robots_rfc); the census is a 6-key agg.
    Zero joins in the demo form, zero Python ever."""
    k = F.col("o_orderkey")
    m = k % 8
    hd = (k % 9).cast("string")
    url = (F.when(m == 0, F.concat(F.lit("ht!tp://bad"), k.cast("string")))
           .when(m == 1, F.lit("http://169.254.169.254/latest"))
           .when(m == 2, F.concat(F.lit("http://ads"), (k % 5).cast("string"),
                                  F.lit(".tracker.example/x")))
           .when(m == 3, F.concat(F.lit("http://h"), hd,
                                  F.lit(".onion/cal/2024/01/"),
                                  k.cast("string"), F.lit("/day")))
           .when(m == 4, F.concat(F.lit("http://h"), hd,
                                  F.lit(".onion/priv/p"), k.cast("string")))
           .otherwise(F.concat(F.lit("http://h"), hd, F.lit(".onion/p"),
                               k.cast("string"))))
    cand = _t(spark, sf_dir, "orders").select(k.alias("url_id"),
                                              url.alias("url"))
    host = F.regexp_extract("url", r"^[a-z!]+://([^/]+)", 1)
    path = F.regexp_extract("url", r"^[a-z!]+://[^/]+(/.*)$", 1)
    scheme_ok = F.col("url").rlike("^https?://")
    ssrf = (host == "169.254.169.254") | host.startswith("127.") \
        | host.startswith("10.") | host.startswith("192.168.")
    blocked = host.endswith(".tracker.example") \
        | (host == "tracker.example")
    depth = F.size(F.split(path, "/")) - 1
    trap = path.contains("/cal/") & (depth >= 4)
    host_digit = F.regexp_extract(host, r"^h(\d+)\.", 1)
    robots = path.startswith("/priv") \
        & (host_digit.cast("long") % 2 == 0)
    verdict = (F.when(~scheme_ok, "invalid_scheme")
               .when(ssrf, "ssrf_internal")
               .when(blocked, "blocklisted")
               .when(trap, "trap")
               .when(robots, "robots_disallowed")
               .otherwise("admit"))
    return (cand.select(verdict.alias("verdict"), "url_id")
            .groupBy("verdict")
            .agg(F.count(F.lit(1)).cast("long").alias("n_urls"),
                 F.sum("url_id").cast("long").alias("id_checksum")))


ORACLE_FRONTIER_ADMISSION_ENSEMBLE = """
WITH c AS (
  SELECT o_orderkey AS url_id, o_orderkey % 8 AS m,
         o_orderkey % 9 AS hd, o_orderkey AS k
  FROM orders),
v AS (
  SELECT url_id,
         CASE
           WHEN m = 0 THEN 'invalid_scheme'
           WHEN m = 1 THEN 'ssrf_internal'
           WHEN m = 2 THEN 'blocklisted'
           WHEN m = 3 THEN 'trap'
           WHEN m = 4 AND hd % 2 = 0 THEN 'robots_disallowed'
           ELSE 'admit' END AS verdict
  FROM c)
SELECT verdict, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(url_id) AS BIGINT) AS id_checksum
FROM v GROUP BY verdict
"""


def q_frontier_priority_decay(spark, sf_dir):
    """Priority AGING for starvation avoidance — the scheduling fix for
    the pure-priority frontier's failure mode (a low-priority URL
    installed early can wait forever behind a stream of fresh
    high-priority links): effective priority = base + age x boost, so
    every queued URL eventually wins its host's wave slot. Output is
    the per-host wave pick (top-3 by effective priority) with age and
    boost visible — the starvation guarantee is then checkable: any
    sufficiently old URL outranks any fresh one.

    Exactness: ages/boosts/effective priorities are exact integers;
    the pick uses the full (eff DESC, url_id ASC) tie-break.

    Plan/scale: ONE host-partitioned window — the same shuffle the
    bucketed install already pays; aging adds a map-side expression,
    not a pass."""
    k = F.col("o_orderkey")
    fr = _t(spark, sf_dir, "orders").select(
        k.alias("url_id"),
        F.concat(F.lit("h"), (k % 30).cast("string")).alias("host"),
        (k % 100).cast("long").alias("base_priority"),
        (k % 20).cast("long").alias("installed_round"))
    aged = (fr.withColumn("age", F.lit(20) - F.col("installed_round"))
            .withColumn("eff_priority",
                        (F.col("base_priority") + F.col("age") * 5)
                        .cast("long")))
    w = Window.partitionBy("host").orderBy(F.desc("eff_priority"),
                                           F.asc("url_id"))
    return (aged.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 3)
            .select("host", "url_id", "base_priority", "age",
                    "eff_priority", "rank"))


ORACLE_FRONTIER_PRIORITY_DECAY = """
WITH fr AS (
  SELECT o_orderkey AS url_id, 'h' || (o_orderkey % 30) AS host,
         CAST(o_orderkey % 100 AS BIGINT) AS base_priority,
         CAST(20 - (o_orderkey % 20) AS BIGINT) AS age
  FROM orders),
a AS (
  SELECT *, base_priority + age * 5 AS eff_priority FROM fr),
r AS (
  SELECT *, row_number() OVER (PARTITION BY host
                               ORDER BY eff_priority DESC,
                                        url_id ASC) AS rank
  FROM a)
SELECT host, url_id, base_priority, age,
       CAST(eff_priority AS BIGINT) AS eff_priority,
       CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""


def q_frontier_wfq(spark, sf_dir):
    """Weighted fair queuing of fetch slots — the bandwidth-fair
    scheduler above per-host politeness (hosts carry weights; a
    weight-3 host gets 3x the service of a weight-1 host WITHOUT
    starving it — the guarantee strict priority can't give): per host,
    virtual finish time F_i = max(F_{i-1}, arrival_i) + cost_i/w, and
    the global dispatch order is by virtual finish. The sequential
    recurrence is computed as a PLAIN WINDOW via the classic
    decomposition F_i = C_i + running_max(arrival_j - C_{j-1}) over
    the cost prefix sums — one per-host window pass, no iteration.

    Exactness: costs are scaled by 6 = lcm(weights) so every division
    is exact integer; the global slot rank uses a full
    (vfinish, host, url_id) tie-break.

    Plan/scale: one host-partitioned window (the politeness shuffle),
    then the global slot rank via operators/seq.with_global_seq —
    range-partition on (vfinish, host, url_id), O(partitions) base
    offsets plus each row's position in its range partition — so no
    single-partition window ever sees the frontier (round-4 verdict
    item #1)."""
    k = F.col("o_orderkey")
    h = k % 15
    items = _t(spark, sf_dir, "orders").select(
        k.alias("url_id"),
        F.concat(F.lit("h"), h.cast("string")).alias("host"),
        (1 + h % 3).cast("long").alias("weight"),
        (k % 50).cast("long").alias("arrival"),
        (100 + k % 400).cast("long").alias("cost"))
    scaled = items.withColumn(
        "cost_scaled", F.expr("cost * 6 DIV weight").cast("long"))
    w = (Window.partitionBy("host")
         .orderBy(F.asc("arrival"), F.asc("url_id"))
         .rowsBetween(Window.unboundedPreceding, 0))
    x = (scaled
         .withColumn("c_i", F.sum("cost_scaled").over(w))
         .withColumn("g", F.col("arrival")
                     - (F.col("c_i") - F.col("cost_scaled")))
         .withColumn("vfinish", (F.col("c_i") + F.max("g").over(w))
                     .cast("long")))
    slim = x.select("host", "url_id", "weight", "arrival",
                    "cost_scaled", "vfinish")
    return (SEQ.with_global_seq(
                slim,
                [F.asc("vfinish"), F.asc("host"), F.asc("url_id")], "slot",
                start=1)
            .select("host", "url_id", "weight", "arrival", "cost_scaled",
                    "vfinish", "slot"))


ORACLE_FRONTIER_WFQ = """
WITH items AS (
  SELECT o_orderkey AS url_id, 'h' || (o_orderkey % 15) AS host,
         CAST(1 + (o_orderkey % 15) % 3 AS BIGINT) AS weight,
         CAST(o_orderkey % 50 AS BIGINT) AS arrival,
         CAST(100 + o_orderkey % 400 AS BIGINT) AS cost
  FROM orders),
s AS (
  SELECT *, cost * 6 // weight AS cost_scaled FROM items),
x AS (
  SELECT *,
         sum(cost_scaled) OVER (PARTITION BY host
                                ORDER BY arrival ASC, url_id ASC
                                ROWS UNBOUNDED PRECEDING) AS c_i
  FROM s),
y AS (
  SELECT *, arrival - (c_i - cost_scaled) AS g FROM x),
z AS (
  SELECT *,
         c_i + max(g) OVER (PARTITION BY host
                            ORDER BY arrival ASC, url_id ASC
                            ROWS UNBOUNDED PRECEDING) AS vfinish
  FROM y)
SELECT host, url_id, weight, arrival,
       CAST(cost_scaled AS BIGINT) AS cost_scaled,
       CAST(vfinish AS BIGINT) AS vfinish,
       CAST(row_number() OVER (ORDER BY vfinish ASC, host ASC,
                               url_id ASC) AS BIGINT) AS slot
FROM z
"""


def q_frontier_tld_quota(spark, sf_dir):
    """Crawl-budget apportionment across TLD classes by the LARGEST-
    REMAINDER (Hamilton) method — the integer-exact way to split a
    global fetch budget proportionally when naive floor() leaves
    slots on the table and naive round() can over-allocate: each
    class gets floor(B·c/total), and the leftover slots go to the
    largest fractional remainders (ties broken on tld asc). Emits
    per-class population, base quota, remainder, and final quota —
    the per-class politeness budgets a scheduler wave consumes.

    Exactness: pure integer DIV/MOD; the remainder ranking is a
    deterministic (rem desc, tld asc) ordering in both engines.

    Plan/scale: one census groupBy to class cardinality (~10^2 TLD
    classes at web scale), then window ranking over that tiny frame —
    the URL stream itself never re-shuffles."""
    budget = 10000
    k = F.col("o_orderkey")
    tld = (F.when(k % 7 == 0, F.lit("onion"))
           .when(k % 7 == 1, F.lit("i2p"))
           .when(k % 7 < 4, F.lit("com"))
           .when(k % 7 < 6, F.lit("org"))
           .otherwise(F.lit("net")))
    cls = _t(spark, sf_dir, "orders").select(tld.alias("tld"))
    cen = cls.groupBy("tld").agg(F.count(F.lit(1)).cast("long")
                                 .alias("n_hosts"))
    tot = cen.agg(F.sum("n_hosts").cast("long").alias("total"))
    j = cen.crossJoin(F.broadcast(tot))
    j = (j.withColumn("base_quota",
                      F.expr(f"n_hosts * {budget} DIV total").cast("long"))
         .withColumn("rem",
                     F.expr(f"(n_hosts * {budget}) % total").cast("long")))
    wr = Window.orderBy(F.col("rem").desc(), F.col("tld").asc())
    wl = Window.partitionBy(F.lit(1))
    return (j.withColumn("rnk", F.row_number().over(wr))
            .withColumn("leftover",
                        F.lit(budget) - F.sum("base_quota").over(wl))
            .withColumn("quota",
                        (F.col("base_quota")
                         + (F.col("rnk") <= F.col("leftover"))
                         .cast("long")).cast("long"))
            .select("tld", "n_hosts", "base_quota", "rem", "quota"))


ORACLE_FRONTIER_TLD_QUOTA = """
WITH cls AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'onion'
              WHEN o_orderkey % 7 = 1 THEN 'i2p'
              WHEN o_orderkey % 7 < 4 THEN 'com'
              WHEN o_orderkey % 7 < 6 THEN 'org'
              ELSE 'net' END AS tld
  FROM orders),
cen AS (
  SELECT tld, CAST(count(*) AS BIGINT) AS n_hosts FROM cls GROUP BY tld),
j AS (
  SELECT tld, n_hosts,
         CAST(n_hosts * 10000 // (SELECT sum(n_hosts) FROM cen) AS BIGINT)
           AS base_quota,
         CAST((n_hosts * 10000) % (SELECT sum(n_hosts) FROM cen) AS BIGINT)
           AS rem
  FROM cen),
r AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, tld ASC) AS rnk,
         10000 - sum(base_quota) OVER () AS leftover
  FROM j)
SELECT tld, n_hosts, base_quota, rem,
       CAST(base_quota + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS quota
FROM r
"""


def q_frontier_rank_churn(spark, sf_dir):
    """Priority-rank CHURN between two scheduler rounds — the
    stability audit for any priority rewrite (aging, OPIC update,
    budget reshuffle): per host bucket, Spearman's footrule
    (sum |rank_a − rank_b|), the max single displacement, and the
    top-5 overlap between the old and new within-host orderings.
    A rewrite that churns the head of every host queue invalidates
    politeness pre-planning; one that only reorders the tail is
    safe to ship.

    Fixture: two deterministic scores over the same URL set
    (score_a = key % 97, score_b = key·31 % 97 — a reshuffle with
    partial correlation).

    Plan/scale: both rankings are windows PARTITIONED BY the host
    key (never a global window — rank churn is only meaningful, and
    only tractable, within a host's own queue); one join on
    (host, url), one census agg."""
    k = F.col("o_orderkey")
    base = _t(spark, sf_dir, "orders").select(
        k.alias("url_key"),
        F.concat(F.lit("h"), (k % 50).cast("string")).alias("host_key"),
        (k % 97).cast("long").alias("score_a"),
        ((k * 31) % 97).cast("long").alias("score_b"))
    wa = Window.partitionBy("host_key").orderBy(
        F.col("score_a").asc(), F.col("url_key").asc())
    wb = Window.partitionBy("host_key").orderBy(
        F.col("score_b").asc(), F.col("url_key").asc())
    ranked = (base.withColumn("ra", F.row_number().over(wa).cast("long"))
              .withColumn("rb", F.row_number().over(wb).cast("long")))
    disp = F.abs(F.col("ra") - F.col("rb"))
    return (ranked.groupBy("host_key")
            .agg(F.count(F.lit(1)).cast("long").alias("n_urls"),
                 F.sum(disp).cast("long").alias("footrule"),
                 F.max(disp).cast("long").alias("max_disp"),
                 F.sum(((F.col("ra") <= 5) & (F.col("rb") <= 5))
                       .cast("int")).cast("long").alias("top5_overlap")))


ORACLE_FRONTIER_RANK_CHURN = """
WITH base AS (
  SELECT o_orderkey AS url_key,
         'h' || (o_orderkey % 50) AS host_key,
         CAST(o_orderkey % 97 AS BIGINT) AS score_a,
         CAST((o_orderkey * 31) % 97 AS BIGINT) AS score_b
  FROM orders),
r AS (
  SELECT host_key,
         CAST(row_number() OVER (PARTITION BY host_key
              ORDER BY score_a ASC, url_key ASC) AS BIGINT) AS ra,
         CAST(row_number() OVER (PARTITION BY host_key
              ORDER BY score_b ASC, url_key ASC) AS BIGINT) AS rb
  FROM base)
SELECT host_key, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(abs(ra - rb)) AS BIGINT) AS footrule,
       CAST(max(abs(ra - rb)) AS BIGINT) AS max_disp,
       CAST(sum(CASE WHEN ra <= 5 AND rb <= 5 THEN 1 ELSE 0 END)
            AS BIGINT) AS top5_overlap
FROM r GROUP BY host_key
"""


def q_frontier_schedule_smear(spark, sf_dir):
    """Crawl-schedule SMEAR audit — when every politeness timer fires
    'at the top of the hour', the fetch fleet thunders in herds; the
    fix is a deterministic per-host offset (hash % 60 minutes) that
    smears load flat. This row audits the smear: per minute slot,
    the host count and fetch mass landing there, plus each slot's
    deviation from the ideal uniform share — a max/ideal ratio near
    1 means the herd is gone.

    Exactness: slot = xxhash-free md5-based integer (first 8 hex
    digits of md5(host) as a BIGINT, mod 60 — portable to DuckDB);
    deviation in exact ppm.

    Plan/scale: one groupBy(slot) census over the host table —
    60 output rows at any scale; the smear function itself is the
    per-row hash the scheduler would apply at enqueue time."""
    k = F.col("o_orderkey")
    hosts = (_t(spark, sf_dir, "orders")
             .select(F.concat(F.lit("h"), (k % 997).cast("string"))
                     .alias("host_key"),
                     (k % 40 + 1).cast("long").alias("n_fetches"))
             .groupBy("host_key")
             .agg(F.sum("n_fetches").cast("long").alias("n_fetches")))
    slot = (F.conv(F.substring(F.md5("host_key"), 1, 8), 16, 10)
            .cast("long") % 60)
    cen = (hosts.withColumn("slot", slot)
           .groupBy("slot")
           .agg(F.count(F.lit(1)).cast("long").alias("n_hosts"),
                F.sum("n_fetches").cast("long").alias("slot_mass")))
    tot = cen.agg(F.sum("slot_mass").cast("long").alias("total"),
                  F.count(F.lit(1)).cast("long").alias("n_slots"))
    return (cen.crossJoin(F.broadcast(tot))
            .withColumn("share_ppm",
                        F.expr("slot_mass * 1000000 DIV total")
                        .cast("long"))
            .withColumn("dev_ppm",
                        F.expr("abs(slot_mass * n_slots - total) "
                               "* 1000000 DIV total").cast("long"))
            .select("slot", "n_hosts", "slot_mass", "share_ppm",
                    "dev_ppm"))


ORACLE_FRONTIER_SCHEDULE_SMEAR = """
WITH hosts AS (
  SELECT 'h' || (o_orderkey % 997) AS host_key,
         CAST(sum(o_orderkey % 40 + 1) AS BIGINT) AS n_fetches
  FROM orders GROUP BY host_key),
cen AS (
  SELECT CAST(('0x' || substr(md5(host_key), 1, 8))::BIGINT % 60
              AS BIGINT) AS slot,
         CAST(count(*) AS BIGINT) AS n_hosts,
         CAST(sum(n_fetches) AS BIGINT) AS slot_mass
  FROM hosts GROUP BY 1),
tot AS (
  SELECT CAST(sum(slot_mass) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_slots FROM cen)
SELECT slot, n_hosts, slot_mass,
       CAST(slot_mass * 1000000 // total AS BIGINT) AS share_ppm,
       CAST(abs(slot_mass * n_slots - total) * 1000000 // total AS BIGINT)
         AS dev_ppm
FROM cen CROSS JOIN tot
"""


def q_frontier_aimd_window(spark, sf_dir):
    """AIMD fetch-concurrency control per host — TCP's additive-
    increase / multiplicative-decrease applied to polite crawling
    (the adaptive layer above the static politeness bucket): a host
    that served the last round cleanly earns +1 concurrent
    connection (capped at 8); any error or timeout halves the
    window (floor 1); a 5xx-dominated round resets to 1 outright.
    Emits per host the current window, last-round health, the next
    window, and the fleet-capacity delta the change implies.

    Fixture: deterministic current windows (1..8) and last-round
    (n_ok, n_err, n_5xx) triples from order keys.

    Plan/scale: pure per-row CASE arithmetic + one fleet census —
    the controller state is one row per host, exactly what the
    scheduler's host table already holds."""
    k = F.col("o_orderkey")
    hosts = (_t(spark, sf_dir, "orders")
             .select(F.concat(F.lit("h"), (k % 499).cast("string"))
                     .alias("host_key"),
                     (k % 8 + 1).cast("long").alias("cwnd"),
                     (k % 11).cast("long").alias("n_err"),
                     (k % 17 == 0).cast("long").alias("has_5xx_storm"))
             .groupBy("host_key")
             .agg(F.max("cwnd").cast("long").alias("cwnd"),
                  F.sum("n_err").cast("long").alias("n_err"),
                  F.max("has_5xx_storm").cast("long")
                  .alias("storm")))
    nxt = (F.when(F.col("storm") == 1, F.lit(1))
           .when(F.col("n_err") > 0,
                 F.greatest(F.expr("cwnd DIV 2"), F.lit(1)))
           .otherwise(F.least(F.col("cwnd") + 1, F.lit(8)))) \
        .cast("long")
    out = (hosts.withColumn("next_window", nxt)
           .withColumn("delta",
                       (F.col("next_window") - F.col("cwnd"))
                       .cast("long"))
           .withColumn("action",
                       F.when(F.col("storm") == 1, F.lit("reset"))
                       .when(F.col("n_err") > 0, F.lit("halve"))
                       .when(F.col("cwnd") >= 8, F.lit("hold"))
                       .otherwise(F.lit("grow"))))
    return out.select("host_key", "cwnd", "n_err", "storm",
                      "next_window", "delta", "action")


ORACLE_FRONTIER_AIMD_WINDOW = """
WITH hosts AS (
  SELECT 'h' || (o_orderkey % 499) AS host_key,
         CAST(max(o_orderkey % 8 + 1) AS BIGINT) AS cwnd,
         CAST(sum(o_orderkey % 11) AS BIGINT) AS n_err,
         CAST(max(CASE WHEN o_orderkey % 17 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS storm
  FROM orders GROUP BY 1),
n AS (
  SELECT host_key, cwnd, n_err, storm,
         CAST(CASE WHEN storm = 1 THEN 1
                   WHEN n_err > 0 THEN greatest(cwnd // 2, 1)
                   ELSE least(cwnd + 1, 8) END AS BIGINT)
           AS next_window
  FROM hosts)
SELECT host_key, cwnd, n_err, storm, next_window,
       CAST(next_window - cwnd AS BIGINT) AS delta,
       CASE WHEN storm = 1 THEN 'reset'
            WHEN n_err > 0 THEN 'halve'
            WHEN cwnd >= 8 THEN 'hold'
            ELSE 'grow' END AS action
FROM n
"""


def q_frontier_wave_entropy(spark, sf_dir):
    """Per-wave HOST-distribution entropy — the scheduling-health
    gauge for each crawl round: a wave whose URLs concentrate on
    few hosts serializes behind politeness (effective parallelism =
    perplexity = 2^H hosts, not the host count), while a flat wave
    keeps the fleet busy. Per round: URL count, host count, the
    host-distribution entropy in bits (4dp), the perplexity
    (effective hosts, 2dp), and the utilization ppm
    (perplexity / n_hosts).

    Exactness: counts are integers; H sums n_hosts terms of exact
    rationals, rounded 4dp; perplexity re-derives from the rounded
    H so both engines agree bit-for-bit.

    Plan/scale: two census groupBys ((round, host) then round) —
    the same shape as frontier_host_agg; no windows, no joins on
    the URL stream."""
    k = F.col("o_orderkey")
    d = (_t(spark, sf_dir, "orders")
         .select((k % 5).cast("long").alias("round"),
                 F.concat(F.lit("h"),
                          (F.when(k % 5 < 2, k % 7)
                           .otherwise(k % 61)).cast("string"))
                 .alias("host_key")))
    hc = (d.groupBy("round", "host_key")
          .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = (hc.groupBy("round")
           .agg(F.sum("n").cast("long").alias("tot"),
                F.count(F.lit(1)).cast("long").alias("n_hosts")))
    j = hc.join(tot, "round")
    term = ((F.col("n").cast("double") / F.col("tot"))
            * (F.log(F.col("tot").cast("double"))
               - F.log(F.col("n").cast("double"))) / F.log(F.lit(2.0)))
    per = (j.withColumn("term", term)
           .groupBy("round")
           .agg(F.first("tot").alias("n_urls"),
                F.first("n_hosts").alias("n_hosts"),
                F.round(F.sum("term"), 4).alias("h_bits")))
    return (per.withColumn("perplexity",
                           F.round(F.pow(F.lit(2.0), F.col("h_bits")), 2))
            .withColumn("utilization_ppm",
                        F.floor(F.col("perplexity") * 1000000
                                / F.col("n_hosts")).cast("long"))
            .select("round", "n_urls", "n_hosts", "h_bits",
                    "perplexity", "utilization_ppm"))


ORACLE_FRONTIER_WAVE_ENTROPY = """
WITH d AS (
  SELECT CAST(o_orderkey % 5 AS BIGINT) AS round,
         'h' || (CASE WHEN o_orderkey % 5 < 2 THEN o_orderkey % 7
                      ELSE o_orderkey % 61 END) AS host_key
  FROM orders),
hc AS (
  SELECT round, host_key, CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY round, host_key),
tot AS (
  SELECT round, CAST(sum(n) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS n_hosts
  FROM hc GROUP BY round),
per AS (
  SELECT hc.round, any_value(tot.tot) AS n_urls,
         any_value(tot.n_hosts) AS n_hosts,
         round(sum((CAST(hc.n AS DOUBLE) / tot.tot)
                   * (ln(CAST(tot.tot AS DOUBLE))
                      - ln(CAST(hc.n AS DOUBLE))) / ln(2.0)), 4)
           AS h_bits
  FROM hc JOIN tot USING (round) GROUP BY hc.round)
SELECT round, n_urls, n_hosts, h_bits,
       round(pow(2.0, h_bits), 2) AS perplexity,
       CAST(floor(round(pow(2.0, h_bits), 2) * 1000000 / n_hosts)
            AS BIGINT) AS utilization_ppm
FROM per
"""


def q_frontier_quarantine(spark, sf_dir):
    """Dead-host QUARANTINE with exponential re-probe — the policy
    that stops a crawler from burning its politeness budget on hosts
    that have been dark for weeks while still noticing when they
    come back: a host with f consecutive failed rounds is probed
    again only at round last_success + 2^min(f, 6) (capped
    backoff); the row emits each host's failure streak, quarantine
    state, the next probe round, and whether the CURRENT round
    (fixture round 100) should probe it.

    Exactness: pure integer arithmetic (shiftleft for 2^f).

    Plan/scale: one row per host from the host-state table — the
    same single-pass shape as the AIMD row; no joins."""
    k = F.col("o_orderkey")
    hosts = (_t(spark, sf_dir, "orders")
             .select(F.concat(F.lit("h"), (k % 499).cast("string"))
                     .alias("host_key"),
                     (k % 9).cast("long").alias("fail_streak"),
                     (F.lit(100) - k % 40 - 1).cast("long")
                     .alias("last_success_round"))
             .groupBy("host_key")
             .agg(F.max("fail_streak").cast("long").alias("fail_streak"),
                  F.min("last_success_round").cast("long")
                  .alias("last_success_round")))
    backoff = F.expr(
        "shiftleft(1L, CAST(least(fail_streak, 6L) AS INT))")
    nxt = (F.col("last_success_round") + backoff).cast("long")
    cur = 100
    return (hosts.withColumn("backoff_rounds", backoff.cast("long"))
            .withColumn("next_probe_round", nxt)
            .withColumn("is_quarantined",
                        (F.col("fail_streak") >= 3).cast("int"))
            .withColumn("probe_now",
                        ((F.col("fail_streak") < 3)
                         | (nxt <= cur)).cast("int")))


ORACLE_FRONTIER_QUARANTINE = """
WITH hosts AS (
  SELECT 'h' || (o_orderkey % 499) AS host_key,
         CAST(max(o_orderkey % 9) AS BIGINT) AS fail_streak,
         CAST(min(100 - o_orderkey % 40 - 1) AS BIGINT)
           AS last_success_round
  FROM orders GROUP BY 1),
b AS (
  SELECT host_key, fail_streak, last_success_round,
         CAST(1 << CAST(least(fail_streak, 6) AS INT) AS BIGINT)
           AS backoff_rounds
  FROM hosts)
SELECT host_key, fail_streak, last_success_round, backoff_rounds,
       CAST(last_success_round + backoff_rounds AS BIGINT)
         AS next_probe_round,
       CAST(CASE WHEN fail_streak >= 3 THEN 1 ELSE 0 END AS INT)
         AS is_quarantined,
       CAST(CASE WHEN fail_streak < 3
                  OR last_success_round + backoff_rounds <= 100
                 THEN 1 ELSE 0 END AS INT) AS probe_now
FROM b
"""


def q_frontier_leaky_bucket(spark, sf_dir):
    """LEAKY-BUCKET politeness replay in closed form — the
    rate-limit every fetch scheduler enforces (sustained rate =
    leak, burst = cap) normally needs the sequential recursion
    D_t = max(0, D_{t-1} - leak*dt) + cost, which looks
    undistributable; but substituting E_t = D_t + leak*ts turns it
    max-plus linear: D_t = P_t - leak*ts_t + running_max(leak*ts_j
    - P_{j-1}) — a prefix sum and a running max, TWO window
    functions (the same family as events_cusum's prefix-min form).
    Per request (event): the bucket debt after it and the
    violation flag (debt > cap). Timezone offsets cancel
    algebraically (only ts differences enter).

    Plan/scale: windows partitioned per event_type (per host in
    production) — state never leaves the partition, no iteration,
    exact integer milli-tokens."""
    leak, cost, cap = 1, 1000, 2000  # milli-tokens/sec, per-req, burst
    e = (_t(spark, sf_dir, "events")
         .select("event_id", "event_type",
                 F.unix_timestamp("ts").cast("long").alias("ts_s")))
    w = (Window.partitionBy("event_type")
         .orderBy("ts_s", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t1 = (e.withColumn("p", (F.count(F.lit(1)).over(w) * cost)
                       .cast("long"))
          .withColumn("a", (F.lit(leak) * F.col("ts_s")
                            - (F.col("p") - cost)).cast("long")))
    t2 = t1.withColumn("m", F.max("a").over(w).cast("long"))
    return (t2.withColumn("debt_milli",
                          (F.col("p") - F.lit(leak) * F.col("ts_s")
                           + F.col("m")).cast("long"))
            .withColumn("violated",
                        (F.col("debt_milli") > cap).cast("int"))
            .select("event_id", "event_type", "debt_milli", "violated"))


def q_frontier_hilbert(spark, sf_dir):
    """HILBERT-curve clustering key for the frontier layout
    (operators.zorder.with_hilbert_key) — the locality-tighter
    sibling of frontier_zorder: consecutive keys are always
    grid-adjacent (Morton jumps at quadrant boundaries), so the
    same 256-file layout yields tighter min/max envelopes on both
    the host and time dimensions (measured against z-order in
    tests/test_block119_ops.py). Same fixture as frontier_zorder
    so the two layouts are compared apples-to-apples: host_bucket
    = first 16 md5 bits of the host, time_bucket = install-seq low
    16 bits.

    Plan/scale: the unrolled xy2d walk is 16 chained projections —
    Catalyst collapses them into ONE whole-stage-codegen project,
    zero shuffle; it's an ORDER BY key for the Iceberg write, and
    the oracle restates the identical per-level formula."""
    from genesis_spark.operators.zorder import with_hilbert_key

    key = F.col("o_orderkey")
    host = F.concat(F.lit("h"), (key % 499).cast("string"))
    rows = (_t(spark, sf_dir, "orders").select(
        key.alias("id"),
        F.conv(F.substring(F.md5(host), 1, 4), 16, 10).cast("long")
        .alias("host_bucket"),
        (key % 65536).cast("long").alias("time_bucket")))
    return with_hilbert_key(rows, "host_bucket", "time_bucket",
                            out="hkey")

ORACLE_FRONTIER_HILBERT = f"""
WITH rows_ AS (
  SELECT o_orderkey AS id,
         CAST(concat('0x', substr(md5('h' || (o_orderkey % 499)), 1, 4))
              AS BIGINT) AS host_bucket,
         o_orderkey % 65536 AS time_bucket
  FROM orders),
{_hctes("host_bucket", "time_bucket", "id, host_bucket, time_bucket",
        "rows_")}
SELECT id, host_bucket, time_bucket, hkey FROM hfin
"""


def q_frontier_mercator(spark, sf_dir):
    """Mercator-style crawl-queue assignment (Heydon & Najork 1999)
    — the two-stage scheduling architecture production crawlers still
    use: URLs route to a FRONT-end queue by priority band
    (prioritization) and to one of 32 BACK-end queues by host hash
    (politeness — a back queue serves one host at a time, so per-host
    ordering is free). Per back queue: URL/host census, the
    head-of-queue pick (best front band, then install seq — the URL
    the queue's worker fetches next), and the queue's share of total
    URLs in exact ppm (the imbalance signal that says whether 32
    workers will starve).

    Plan/scale: assignment is a pure map (md5 hash + integer bands);
    the census is one groupBy over back_queue — 32 groups whatever
    the frontier size; the head pick is a max-struct agg, no window
    over URLs."""
    k = F.col("o_orderkey")
    urls = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("http://h"), (k % 97).cast("string"),
                 F.lit(".onion/u"), k.cast("string")).alias("url"),
        F.concat(F.lit("h"), (k % 97).cast("string")).alias("host_key"),
        (k % 100).cast("int").alias("priority"),
        k.alias("seq"))
    assigned = urls.select(
        "*",
        (F.col("priority") / 13).cast("int").alias("front_queue"),
        (F.conv(F.substring(F.md5("host_key"), 1, 15), 16, 10)
         .cast("long") % 32).cast("int").alias("back_queue"))
    tot = assigned.agg(F.count("*").alias("n_total"))
    head = F.max(F.struct(
        (-F.col("front_queue")).alias("nfq"),
        (-F.col("seq")).alias("nseq"),
        F.col("url").alias("u")))
    per = (assigned.groupBy("back_queue")
           .agg(F.count("*").cast("long").alias("n_urls"),
                F.countDistinct("host_key").cast("long").alias("n_hosts"),
                head.alias("hd")))
    return (per.crossJoin(F.broadcast(tot))
            .select("back_queue", "n_urls", "n_hosts",
                    (-F.col("hd.nfq")).cast("int").alias("head_front"),
                    (-F.col("hd.nseq")).cast("long").alias("head_seq"),
                    F.col("hd.u").alias("head_url"),
                    F.expr("n_urls * 1000000 DIV n_total")
                    .alias("share_ppm")))


ORACLE_FRONTIER_MERCATOR = """
WITH urls AS (
  SELECT 'http://h' || (o_orderkey % 97) || '.onion/u' || o_orderkey
           AS url,
         'h' || (o_orderkey % 97) AS host_key,
         CAST(o_orderkey % 100 AS INT) AS priority,
         o_orderkey AS seq
  FROM orders),
assigned AS (
  SELECT *,
         CAST(priority // 13 AS INT) AS front_queue,
         CAST(CAST(concat('0x', substr(md5(host_key), 1, 15)) AS BIGINT)
              % 32 AS INT) AS back_queue
  FROM urls),
tot AS (SELECT count(*) AS n_total FROM assigned),
per AS (
  SELECT back_queue,
         CAST(count(*) AS BIGINT) AS n_urls,
         CAST(count(DISTINCT host_key) AS BIGINT) AS n_hosts,
         MAX(struct_pack(nfq := -front_queue, nseq := -seq, u := url))
           AS hd
  FROM assigned GROUP BY back_queue)
SELECT back_queue, n_urls, n_hosts,
       CAST(-hd.nfq AS INT) AS head_front,
       CAST(-hd.nseq AS BIGINT) AS head_seq,
       hd.u AS head_url,
       n_urls * 1000000 // n_total AS share_ppm
FROM per CROSS JOIN tot
"""


def q_frontier_shard_autoscale(spark, sf_dir):
    """Queue-driven AUTOSCALING plan for frontier shards — the
    capacity decision a fleet controller makes from the queueing
    numbers the mm1/makespan rows measure: per shard (16, urls route
    by md5), backlog B, arrival rate lam (URLs/min over the window),
    per-worker service rate mu = 120 URLs/min; workers required =
    ceil(lam * 1.2 / mu)   [steady state at 20% headroom]
    + ceil(B / (mu * 30))  [drain the backlog inside 30 min],
    min 1; compared against the current allocation (deterministic
    2 + shard % 3) for a scale_up / scale_down / hold verdict. Every
    ceiling is the exact integer (a + b - 1) DIV b.

    Plan/scale: one shard census (16 groups) + pure arithmetic — the
    controller's input is O(shards) whatever the frontier size."""
    k = F.col("o_orderkey")
    urls = _t(spark, sf_dir, "orders").select(
        (F.conv(F.substring(F.md5(k.cast("string")), 1, 15), 16, 10)
         .cast("long") % 16).cast("int").alias("shard"),
        (k % 40).alias("age_min"),
        (k % 3 == 0).cast("long").alias("pending"))
    census = (urls.groupBy("shard")
              .agg(F.sum("pending").cast("long").alias("backlog"),
                   F.sum(F.when(F.col("age_min") < 10, 1).otherwise(0))
                   .cast("long").alias("arrived_10m")))
    lam = F.expr("arrived_10m DIV 10")                # URLs/min
    plan = (census
            .withColumn("lam", lam)
            .withColumn("need_steady",
                        F.expr("(lam * 12 DIV 10 + 119) DIV 120"))
            .withColumn("need_drain",
                        F.expr("(backlog + 120 * 30 - 1) DIV (120 * 30)"))
            .withColumn("required",
                        F.greatest(F.col("need_steady")
                                   + F.col("need_drain"), F.lit(1))
                        .cast("long"))
            .withColumn("current",
                        (2 + F.col("shard") % 3).cast("long")))
    return plan.select(
        "shard", "backlog", "lam", "required", "current",
        F.when(F.col("required") > F.col("current"), F.lit("scale_up"))
        .when(F.col("required") < F.col("current"), F.lit("scale_down"))
        .otherwise(F.lit("hold")).alias("action"))


ORACLE_FRONTIER_SHARD_AUTOSCALE = """
WITH urls AS (
  SELECT CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                          1, 15)) AS BIGINT) % 16 AS INT) AS shard,
         o_orderkey % 40 AS age_min,
         CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS pending
  FROM orders),
census AS (
  SELECT shard, CAST(sum(pending) AS BIGINT) AS backlog,
         CAST(sum(CASE WHEN age_min < 10 THEN 1 ELSE 0 END) AS BIGINT)
           AS arrived_10m
  FROM urls GROUP BY shard),
plan AS (
  SELECT shard, backlog, arrived_10m // 10 AS lam,
         ((arrived_10m // 10) * 12 // 10 + 119) // 120 AS need_steady,
         (backlog + 120 * 30 - 1) // (120 * 30) AS need_drain,
         CAST(2 + shard % 3 AS BIGINT) AS current
  FROM census)
SELECT shard, backlog, lam,
       greatest(need_steady + need_drain, 1) AS required, current,
       CASE WHEN greatest(need_steady + need_drain, 1) > current
              THEN 'scale_up'
            WHEN greatest(need_steady + need_drain, 1) < current
              THEN 'scale_down'
            ELSE 'hold' END AS action
FROM plan
"""


def q_frontier_dns_prefetch_plan(spark, sf_dir):
    """Wave-ahead DNS prefetch planning — the resolver warm-up a
    politeness-paced fetch fleet runs while the previous wave is
    still in flight (a cold lookup on the critical path costs more
    than the fetch's TCP handshake): the next wave's URLs collapse
    to distinct hosts with URL counts, each host's cache entry is
    checked (present + TTL remaining), and hosts needing resolution
    are sharded across 16 resolver workers by host number.

    Fixture: wave hosts h(k%300); host h is cached iff h%4!=0 with
    ttl = (h·7)%120 − 60 (half the cached entries already stale).

    Plan/scale: ONE distinct-host agg (map-side combinable — the
    wave never ships per-URL rows to the planner) + pure codegen
    cache arithmetic."""
    k = F.col("o_orderkey")
    wave = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("h"), (k % 300).cast("string")).alias("host"))
    hosts = (wave.groupBy("host")
             .agg(F.count("*").cast("long").alias("n_urls")))
    hn = F.regexp_extract("host", "h([0-9]+)", 1).cast("long")
    cached = (hn % 4 != 0)
    ttl = (hn * 7) % 120 - 60
    return (hosts
            .withColumn("cached", cached.cast("int"))
            .withColumn("ttl_remaining",
                        F.when(cached, ttl).otherwise(F.lit(-1))
                        .cast("long"))
            .withColumn("needs_resolve",
                        (~cached | (ttl <= 0)).cast("int"))
            .withColumn("resolver_shard",
                        (hn % 16).cast("int")))


ORACLE_FRONTIER_DNS_PREFETCH_PLAN = """
WITH wave AS (
  SELECT 'h' || (o_orderkey % 300) AS host FROM orders),
hosts AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_urls
  FROM wave GROUP BY host),
planned AS (
  SELECT host, n_urls,
         CAST(regexp_extract(host, 'h([0-9]+)', 1) AS BIGINT) AS hn
  FROM hosts)
SELECT host, n_urls,
       CAST(CASE WHEN hn % 4 <> 0 THEN 1 ELSE 0 END AS INT) AS cached,
       CAST(CASE WHEN hn % 4 <> 0 THEN (hn * 7) % 120 - 60
            ELSE -1 END AS BIGINT) AS ttl_remaining,
       CAST(CASE WHEN hn % 4 = 0 OR (hn * 7) % 120 - 60 <= 0
            THEN 1 ELSE 0 END AS INT) AS needs_resolve,
       CAST(hn % 16 AS INT) AS resolver_shard
FROM planned
"""


def q_frontier_ledger_audit(spark, sf_dir):
    """Double-entry crawl-ledger reconciliation — the accounting
    identity that catches URL LOSS (the silent bug class: a URL the
    scheduler counted but no outcome ever recorded — crashed worker,
    dropped queue message): for every (host, round) cell, the
    scheduler's reported count must equal fetched + failed +
    deduped + pending from the outcome log; the audit recomputes
    both sides and flags imbalance.

    Fixture: URL k -> host h(k%40), round (k div 40)%5
    (decorrelated), outcome by k%10
    (6 fetched / 2 failed / 1 deduped / 1 pending); the scheduler
    OVERREPORTS by 2 on cells where (host+round)%17=0 — the planted
    loss.

    Plan/scale: one outcome census agg + a join against the
    scheduler's (tiny) per-cell report — at 10^10 URLs the audit
    reads two metadata tables, never the URLs."""
    k = F.col("o_orderkey")
    urls = _t(spark, sf_dir, "orders").select(
        (k % 40).alias("hn"),
        ((k / 40).cast("long") % 5).alias("round"),
        (F.when(k % 10 < 6, "fetched")
         .when(k % 10 < 8, "failed")
         .when(k % 10 == 8, "deduped")
         .otherwise(F.lit("pending"))).alias("outcome"))
    outcomes = (urls.groupBy("hn", "round")
                .agg(F.count("*").cast("long").alias("n_outcomes"),
                     F.sum((F.col("outcome") == "fetched")
                           .cast("long")).alias("n_fetched"),
                     F.sum((F.col("outcome") == "failed")
                           .cast("long")).alias("n_failed"),
                     F.sum((F.col("outcome") == "deduped")
                           .cast("long")).alias("n_deduped"),
                     F.sum((F.col("outcome") == "pending")
                           .cast("long")).alias("n_pending")))
    reported = outcomes.select(
        "hn", "round",
        (F.col("n_outcomes")
         + F.when((F.col("hn") + F.col("round")) % 17 == 0, 2)
         .otherwise(F.lit(0))).alias("n_reported"))
    j = outcomes.join(reported, ["hn", "round"])
    return (j.select(
        F.concat(F.lit("h"), F.col("hn").cast("string")).alias("host"),
        "round", "n_reported", "n_fetched", "n_failed", "n_deduped",
        "n_pending")
        .withColumn("imbalance",
                    F.expr("n_reported - (n_fetched + n_failed"
                           " + n_deduped + n_pending)"))
        .withColumn("urls_lost",
                    (F.col("imbalance") != 0).cast("int")))


ORACLE_FRONTIER_LEDGER_AUDIT = """
WITH urls AS (
  SELECT o_orderkey % 40 AS hn, (o_orderkey // 40) % 5 AS round,
         CASE WHEN o_orderkey % 10 < 6 THEN 'fetched'
              WHEN o_orderkey % 10 < 8 THEN 'failed'
              WHEN o_orderkey % 10 = 8 THEN 'deduped'
              ELSE 'pending' END AS outcome
  FROM orders),
outcomes AS (
  SELECT hn, round,
         CAST(count(*) AS BIGINT) AS n_outcomes,
         CAST(sum(CASE WHEN outcome = 'fetched' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_fetched,
         CAST(sum(CASE WHEN outcome = 'failed' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_failed,
         CAST(sum(CASE WHEN outcome = 'deduped' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_deduped,
         CAST(sum(CASE WHEN outcome = 'pending' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pending
  FROM urls GROUP BY hn, round)
SELECT 'h' || hn AS host, round,
       n_outcomes + CASE WHEN (hn + round) % 17 = 0 THEN 2 ELSE 0 END
         AS n_reported,
       n_fetched, n_failed, n_deduped, n_pending,
       (n_outcomes + CASE WHEN (hn + round) % 17 = 0 THEN 2
                     ELSE 0 END)
         - (n_fetched + n_failed + n_deduped + n_pending)
         AS imbalance,
       CAST(CASE WHEN (hn + round) % 17 = 0 THEN 1 ELSE 0 END AS INT)
         AS urls_lost
FROM outcomes
"""


def q_frontier_byte_budget(spark, sf_dir):
    """BYTE-based crawl budgeting — the bandwidth complement of the
    count-based allocators (host_budget_waterfill allocates page
    COUNTS; politeness paces requests): a fetch fleet is ultimately
    bounded by bytes/round, and hosts serving 10x heavier pages must
    get proportionally fewer fetches. Per host: observed mean page
    bytes (synthesized heavy-tail: hub hosts serve 8x pages), the
    page quota a 64 MiB per-round byte cap buys at that weight, and
    whether the byte quota (not the count budget of 500) is the
    binding constraint. Integer arithmetic throughout; one partial
    agg at host grain."""
    k = F.col("l_orderkey")
    host = F.concat(F.lit("h"), (k % 40).cast("string"))
    page_bytes = (F.when(k % 40 < 5, 400_000).otherwise(50_000)
                  + (k % 97) * 100)
    obs = (_t(spark, sf_dir, "lineitem")
           .select(host.alias("host_key"), page_bytes.alias("bytes"))
           .groupBy("host_key")
           .agg(F.count("*").alias("n_pages"),
                F.sum("bytes").alias("total_bytes")))
    mean_b = F.expr("total_bytes DIV n_pages")
    byte_quota = F.expr("67108864 DIV (total_bytes DIV n_pages)")
    return (obs.withColumn("mean_page_bytes", mean_b)
            .withColumn("byte_quota_pages", byte_quota)
            .withColumn("binding_constraint",
                        F.when(byte_quota < 500, F.lit("bytes"))
                        .otherwise(F.lit("count")))
            .orderBy("host_key"))


ORACLE_FRONTIER_BYTE_BUDGET = """
WITH obs AS (
  SELECT 'h' || (l_orderkey % 40) AS host_key,
         count(*) AS n_pages,
         sum(CASE WHEN l_orderkey % 40 < 5 THEN 400000
                  ELSE 50000 END + (l_orderkey % 97) * 100) AS total_bytes
  FROM lineitem GROUP BY 1
)
SELECT host_key, n_pages, total_bytes,
       total_bytes // n_pages AS mean_page_bytes,
       67108864 // (total_bytes // n_pages) AS byte_quota_pages,
       CASE WHEN 67108864 // (total_bytes // n_pages) < 500
            THEN 'bytes' ELSE 'count' END AS binding_constraint
FROM obs
ORDER BY host_key
"""

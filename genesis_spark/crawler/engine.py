"""The Spark-native frontier + crawl engine (the rebuild's core).

Replaces the reference's Mongo frontier + Celery per-host tasks
(crawl_model.py, generic_parse_controller.py) with a declarative wave loop:

  install  seeds -> validate -> canonicalize -> MERGE-dedup -> priority rank
  rounds   pending hosts, (installed_at, seq) ASC, host-budget per round
  waves    one fetch-join + parse + link-admission job per BFS depth, ALL
           hosts of the wave in parallel (the reference serializes one host
           per Celery task; hosts never interact, so per-host FIFO order is
           reconstructed exactly from (depth, parent_pos, link_pos) — see
           SURVEY.md §2.6 O2: per-host BFS with document-order children IS
           depth-stratified FIFO)

Every stage is DataFrame-native: fetch = equi-join against ``web_pages``
(J4), URL-seen dedup = the exact left_anti join per task (J2), ordering =
window functions + the scalable global-sequence operator. The only Python is
the Arrow-batched parse kernel.

State lives in a snapshot store in one layout: the install writes
``frontier_base`` once, each round appends the state changes of the seeds
it dispatched as ``frontier_updates``, and ``read_frontier_delta`` joins
the two back into the current frontier.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from genesis_spark import conf
from genesis_spark.functions import urls as U
from genesis_spark.functions.parse import parse_pages
from genesis_spark.operators.seq import with_global_seq

# is_uri_validator (helper_method.py:187-192): scheme + non-empty netloc.
# Shared with the pure-Python oracle (urls.is_uri_valid_one) so both paths
# admit exactly the same seed set — see the note on VALID_URI_RE in urls.py.
_VALID_URI_RE = U.VALID_URI_RE


def _dedup(seeds: DataFrame) -> DataFrame:
    """The install prefix (crawl_model.py:113-118 + mongo upsert S8):
    validate raw URLs, canonicalize, and collapse duplicate canonical forms
    keeping the earliest (installed_at, seed_id) as (installed_at, seq)."""
    valid = seeds.filter(F.col("url").rlike(_VALID_URI_RE))
    canon = valid.select(
        U.canonicalize_expr(F.col("url")).alias("url"),
        "installed_at", "seed_id")
    return (canon.groupBy("url")
            .agg(F.min(F.struct("installed_at", "seed_id")).alias("first"))
            .select("url",
                    F.col("first.installed_at").alias("installed_at"),
                    F.col("first.seed_id").alias("seq")))


def _frontier(ranked: DataFrame, rank_col: str, budget: int,
              *rank_cols: str) -> DataFrame:
    """Project ranked seeds to the frontier table: every seed pending at
    depth 0, in round ``rank_col div budget``, followed by ``rank_cols``."""
    return ranked.select(
        F.xxhash64("url").alias("url_hash"),
        "url",
        U.host_name_expr(F.col("url")).alias("host_key"),
        F.lit(0).alias("depth"),
        U.network_type_expr(F.col("url")).alias("network"),
        F.lit("pending").alias("state"),
        "installed_at", "seq",
        F.lit(0).alias("fail_count"),
        (F.col(rank_col) / budget).cast("int").alias("round"),
        *rank_cols)


def install_seeds(seeds: DataFrame,
                  host_budget: int = conf.WAVE_HOST_BUDGET,
                  cached: list[DataFrame] | None = None) -> DataFrame:
    """Feeder install: the validate/canonicalize/MERGE-dedup prefix, then
    the global priority rank ``host_rank`` in (installed_at, seq) order and
    the round number (rank div budget). Returns the frontier table.

    ``cached`` receives the rank's persisted intermediate, as in
    ``with_global_seq``, for the caller to release."""
    ranked = with_global_seq(_dedup(seeds), ["installed_at", "seq"],
                             "host_rank", cached=cached)
    return _frontier(ranked, "host_rank", host_budget, "host_rank")


def install_seeds_bucketed(seeds: DataFrame,
                           bucket_budget: int = conf.WAVE_HOST_BUDGET,
                           buckets: int = conf.POLITENESS_BUCKETS,
                           portable_bucket: bool = False) -> DataFrame:
    """Production-scale install: the same validate/canonicalize/MERGE-dedup
    prefix, but the priority queue is salted per politeness bucket
    (Window.partitionBy(bucket)) instead of globally ordered — one shuffle,
    no global barrier, no sampling pass. This is the 10^10-row path (O1:
    'salted priority queue; global order reconstructed deterministically for
    verification'); ``install_seeds`` keeps the reference-exact global FIFO
    for golden runs. Within a host the order is identical (a host maps to
    one bucket); rounds interleave across buckets instead of globally.

    ``host_rank = bucket * 2^40 + bucket_rank`` is the unique priority key
    ``crawl_frontier`` orders by. Per-host FIFO is identical to the
    reference (a host lives in one bucket and bucket_rank follows
    (installed_at, seq)); only the CROSS-host interleaving of crawl_seq
    differs from the golden global order — the verification invariants
    that survive (seen set, documents, per-host order) are pinned by
    tests/test_crawl_engine.py::test_scaled_install_crawl_invariants.

    ``portable_bucket`` swaps the host->bucket hash from xxhash64 (fastest,
    JVM-only) to an md5-based one a DuckDB oracle can replay bit-for-bit —
    the driver CORRECTNESS row runs this variant; everything downstream of
    the bucket assignment (window rank, round) is identical, and
    tests/test_crawl_engine.py asserts both variants agree on the per-host
    FIFO structure."""
    host_key = U.host_name_expr(F.col("url"))
    if portable_bucket:
        bucket = (F.conv(F.substring(F.md5(host_key), 25, 8), 16, 10)
                  .cast("long") % buckets)
    else:
        bucket = F.pmod(F.xxhash64(host_key), F.lit(buckets))
    w = Window.partitionBy("bucket").orderBy("installed_at", "seq")
    ranked = (_dedup(seeds)
              .withColumn("bucket", bucket)
              .withColumn("bucket_rank", F.row_number().over(w) - 1)
              .withColumn("host_rank", F.col("bucket") * F.lit(1 << 40)
                          + F.col("bucket_rank")))
    return _frontier(ranked, "bucket_rank", bucket_budget,
                     "bucket", "bucket_rank", "host_rank")


_PASSTHROUGH = ["task_id", "host_rank", "round", "host_key", "depth", "pos"]


def crawl_frontier(spark: SparkSession, frontier: DataFrame, pages: DataFrame,
                   max_depth: int = conf.MAX_ALLOWED_DEPTH,
                   seq_offset: int = 0) -> dict[str, DataFrame]:
    """Crawl every frontier host to completion; returns crawl_order / seen /
    documents / frontier_done DataFrames matching the oracle goldens.

    ``seq_offset`` shifts crawl_seq for multi-round incremental runs.
    Link admission is the exact per-task anti-join against ``seen``, which
    starts empty here and holds only this call's admissions: it is bounded
    by one round's links, never by the frontier, so no prefilter in front
    of the join would save it work.
    """
    pages_j = pages.select(
        F.col("url_hash").alias("p_hash"), F.col("url").alias("p_url"),
        "status", "redirect_url", "html")

    wave = frontier.select(
        F.col("url_hash").alias("task_id"), "host_rank", "round", "host_key",
        "url", F.lit(0).alias("depth"), F.lit(0).alias("pos"))
    seen = spark.createDataFrame([], "task_id long, url string, host_key string")
    order_waves: list[DataFrame] = []
    doc_waves: list[DataFrame] = []
    cached: list[DataFrame] = []

    for d in range(max_depth + 1):
        fetched = wave.join(
            pages_j,
            (F.xxhash64(wave.url) == pages_j.p_hash) & (wave.url == pages_j.p_url),
            "left")
        # ok = fetch success AND same-host redirect (generic_parse_controller
        # :75-82); parse of non-null html never fails in the kernel
        ok = (F.col("status") == 200) & F.col("html").isNotNull() & \
            (U.host_name_expr(F.coalesce("redirect_url", "url")) ==
             U.host_name_expr(F.col("url")))
        crawled = (fetched.withColumn("ok", ok.isNotNull() & ok)
                   .select("task_id", "host_rank", "round", "host_key", "url",
                           "depth", "pos", "ok", "html")
                   .persist())
        cached.append(crawled)
        order_waves.append(crawled.drop("html"))

        parsed = parse_pages(
            crawled.filter("ok").withColumnRenamed("url", "u_req"),
            url_col="u_req", html_col="html", passthrough=_PASSTHROUGH)
        parsed = parsed.persist()
        cached.append(parsed)
        doc_waves.append(parsed)

        if d >= max_depth:
            break
        kids = parsed.select(
            "task_id", "host_rank", "round", "host_key",
            F.col("pos").alias("parent_pos"),
            F.posexplode("sub_url").alias("link_pos", "url"))
        # per-task URL-seen: exact left_anti (J2/D1) + first-occurrence in
        # (parent_pos, link_pos) order — identical to insert-on-admission
        fresh = kids.join(seen.select("task_id", "url"),
                          ["task_id", "url"], "left_anti")
        w_first = Window.partitionBy("task_id", "url").orderBy(
            "parent_pos", "link_pos")
        admitted = (fresh.withColumn("_rn", F.row_number().over(w_first))
                    .filter(F.col("_rn") == 1).drop("_rn"))
        w_bfs = Window.partitionBy("task_id").orderBy("parent_pos", "link_pos")
        wave = (admitted
                .withColumn("pos", F.row_number().over(w_bfs) - 1)
                .withColumn("depth", F.lit(d + 1))
                .drop("parent_pos", "link_pos")
                .persist())
        cached.append(wave)
        seen = seen.unionByName(wave.select("task_id", "url", "host_key"))

    all_rows = order_waves[0]
    for w in order_waves[1:]:
        all_rows = all_rows.unionByName(w)
    ordered = with_global_seq(all_rows, ["host_rank", "depth", "pos"],
                              "crawl_seq", start=seq_offset, cached=cached)
    crawl_order_full = ordered.withColumn(
        "attempts", F.when((F.col("depth") == 0) & ~F.col("ok"),
                           conf.MAX_SEED_ATTEMPTS).otherwise(1))
    crawl_order_full = crawl_order_full.persist()
    cached.append(crawl_order_full)

    docs = doc_waves[0]
    for w in doc_waves[1:]:
        docs = docs.unionByName(w)
    documents = docs.join(
        crawl_order_full.select("task_id", "depth", "pos", "crawl_seq"),
        ["task_id", "depth", "pos"])

    # seed outcome -> frontier end state (3-strikes abandon, O8)
    seed_ok = crawl_order_full.filter("depth = 0").select(
        F.col("task_id").alias("url_hash"), F.col("ok").alias("_seed_ok"))
    frontier_done = (frontier.join(seed_ok, "url_hash", "left")
                     .withColumn("state", F.when(F.col("_seed_ok"), "done")
                                 .otherwise("failed"))
                     .withColumn("fail_count",
                                 F.when(F.col("_seed_ok"), 0).otherwise(3))
                     .drop("_seed_ok"))

    crawl_order = crawl_order_full.select(
        "crawl_seq", "round", "host_key", "url", "depth", "attempts", "ok",
        "task_id", "host_rank", "pos")
    return {"crawl_order": crawl_order, "seen": seen,
            "documents": documents, "frontier_done": frontier_done,
            "_cached": cached}


def run(spark: SparkSession, seeds: DataFrame, pages: DataFrame,
        host_budget: int = conf.WAVE_HOST_BUDGET,
        bucketed: bool = False) -> dict[str, DataFrame]:
    """Install + crawl the whole frontier in one multi-wave job.

    ``bucketed=True`` uses the production-scale install (no global-rank
    barrier; see install_seeds_bucketed) — same seen set, documents, and
    per-host order; cross-host crawl_seq interleaving differs from the
    golden global order. The returned ``_cached`` list holds every frame
    the install and the crawl persisted, for the caller to ``.unpersist()``
    once it has read the results."""
    cached: list[DataFrame] = []
    frontier = (install_seeds_bucketed(seeds, host_budget) if bucketed
                else install_seeds(seeds, host_budget, cached=cached))
    res = crawl_frontier(spark, frontier, pages)
    res["_cached"] = cached + res["_cached"]
    return res


def read_frontier_delta(spark: SparkSession, store) -> DataFrame:
    """Reconstruct the current frontier from the delta-state layout:
    ``frontier_base`` (written once at install) left-joined with the union
    of per-round ``frontier_updates`` deltas. Sound because every url_hash
    is dispatched in exactly one round, so at most ONE update row exists
    per key — no precedence resolution needed (a 'done'/'failed' seed is
    never re-dispatched)."""
    base = store.read(spark, "frontier_base")
    ups = store.read(spark, "frontier_updates")
    if ups is None:
        return base
    upd = ups.select("url_hash", F.col("state").alias("_u_state"),
                     F.col("fail_count").alias("_u_fails"))
    return (base.join(upd, "url_hash", "left")
            .withColumn("state", F.coalesce("_u_state", "state"))
            .withColumn("fail_count", F.coalesce("_u_fails", "fail_count"))
            .drop("_u_state", "_u_fails"))


def compact_frontier(spark: SparkSession, store) -> int:
    """The Iceberg ``MERGE INTO`` + rewrite shape for the delta-state
    layout: fold the accumulated ``frontier_updates`` into a fresh
    ``frontier_base`` and cut the update log. Keeps ``read_frontier_delta``
    reconstruction O(1)-deep instead of O(rounds): without compaction the
    update union grows one file set per round, and at 10^6 rounds the join
    plan itself becomes the bottleneck. Resume metadata (round/seq_offset)
    is carried forward, so crash-resume across a compaction is unchanged."""
    prev = store.latest()
    merged = read_frontier_delta(spark, store)
    meta = {k: prev[k] for k in ("round", "seq_offset") if k in prev}
    meta["compacts"] = {"frontier_updates": prev["snapshot_id"]}
    return store.commit({"frontier_base": merged}, meta)


_AQE = "spark.sql.adaptive.enabled"


def _adaptive_off(crawl):
    """Run ``crawl(spark, ...)`` with adaptive query execution off, and put
    the caller's setting back when it returns or raises."""
    @functools.wraps(crawl)
    def wrapper(spark: SparkSession, *args, **kwargs):
        prev = spark.conf.get(_AQE)
        spark.conf.set(_AQE, "false")
        try:
            return crawl(spark, *args, **kwargs)
        finally:
            spark.conf.set(_AQE, prev)
    return wrapper


@_adaptive_off
def run_rounds(spark: SparkSession, seeds: DataFrame, pages: DataFrame,
               store, host_budget: int = conf.WAVE_HOST_BUDGET,
               stop_after_round: int | None = None,
               delta_state: bool = True,
               bucketed: bool = False,
               use_bloom: bool = False,
               compact_every: int | None = None) -> None:
    """Production shape: one frontier round per iteration, one snapshot per
    round (ST2/ST4). Crash-resume = rerun with the same store; the last
    committed snapshot defines the restart point, uncommitted work is
    invisible (rename-atomic manifests). ``stop_after_round`` simulates a
    crash after committing that round (tests §5.4).

    The frontier is written ONCE (``frontier_base``) and each round commits
    only the state changes of the seeds it dispatched
    (``frontier_updates``): O(round size), never a rewrite of the whole
    frontier per round, which at 10^10 rows would dwarf the crawl itself.
    Reads reconstruct it via ``read_frontier_delta``. ``compact_every=n``
    folds the update log into a fresh ``frontier_base`` after every n-th
    round (``compact_frontier``), so the reconstruction stays one join
    deep. ``bucketed`` selects the production-scale install (no
    global-rank barrier), as in ``run``.

    ``delta_state`` and ``use_bloom`` are retired and select nothing; they
    stay only because the crawl benchmark passes them, and go with its next
    change. ``delta_state=False`` asked for the full-rewrite ``frontier``
    table, which no longer exists, so it raises ``ValueError`` before the
    store is read. ``use_bloom`` is ignored: admission is always the exact
    anti-join (``crawl_frontier``), which the Bloom prefilter never changed.

    The whole call, install and resume read included, runs with
    ``spark.sql.adaptive.enabled=false``; the session's value is restored
    on return or raise. A round is a few dozen small queries over deep
    union/persist plans, and with AQE each stage boundary re-plans the
    query and posts its full plan string: that planning, not the pages,
    was most of a round's CPU (54 jobs a round with AQE, 23 without, on
    the crawl benchmark). The cost at scale: the fetch-join strategy and
    the shuffle partition counts are fixed when the round is planned, from
    the statistics of the cached wave frames, not re-chosen at run time,
    and skewed joins are not split. Small per-wave shuffles are no longer
    coalesced, so each runs ``spark.sql.shuffle.partitions`` tasks: with 8
    partitions and many waves (tests/test_crawl_t3.py) the crawl costs
    about a third more CPU than with AQE. ``install_seeds*`` and
    ``crawl_frontier`` called directly, and the query registry, keep the
    session's AQE."""
    if not delta_state:
        raise ValueError("delta_state=False is retired: the frontier is "
                         "kept only as frontier_base + frontier_updates")
    latest = store.latest()
    if latest is None:
        installed: list[DataFrame] = []
        frontier = (install_seeds_bucketed(seeds, host_budget) if bucketed
                    else install_seeds(seeds, host_budget, cached=installed)
                    ).persist()
        store.commit({"frontier_base": frontier},
                     {"round": -1, "seq_offset": 0})
        for df in installed:
            df.unpersist()
        next_round, seq_offset = 0, 0
    else:
        frontier = read_frontier_delta(spark, store).persist()
        next_round = latest["round"] + 1
        seq_offset = latest["seq_offset"]

    max_round = frontier.agg(F.max("round")).first()[0]
    if max_round is None:
        frontier.unpersist()
        return
    for r in range(next_round, max_round + 1):
        todo = frontier.filter((F.col("round") == r) &
                               (F.col("state") == "pending"))
        res = crawl_frontier(spark, todo, pages, seq_offset=seq_offset)
        seq_offset += res["crawl_order"].count()
        # per-partition fetch/parse metrics (S12/ST4): politeness bucket ==
        # fetch partition, so (round, depth, bucket) rows are partition-level
        # lineage for this snapshot
        metrics = (res["crawl_order"]
                   .groupBy("round", "depth",
                            F.pmod(F.xxhash64("host_key"),
                                   F.lit(conf.POLITENESS_BUCKETS))
                            .alias("bucket"))
                   .agg(F.count("*").alias("n_fetched"),
                        F.sum(F.col("ok").cast("int")).alias("n_ok"),
                        F.sum((~F.col("ok")).cast("int")).alias("n_failed"),
                        F.sum(F.col("attempts")).alias("n_attempts")))
        tables = {
            "crawl_order": res["crawl_order"].drop("task_id", "host_rank", "pos"),
            "seen": res["seen"],
            "documents": res["documents"].drop("task_id", "host_rank", "pos",
                                               "round"),
            "metrics": metrics,
            # O(round), not O(frontier)
            "frontier_updates": res["frontier_done"].select(
                "url_hash", "state", "fail_count"),
        }
        store.commit(tables, {"round": r, "seq_offset": seq_offset})
        if compact_every and (r + 1) % compact_every == 0:
            compact_frontier(spark, store)          # bounded update-log depth
        for df in res["_cached"]:
            df.unpersist()
        frontier.unpersist()
        if r == max_round or (stop_after_round is not None
                              and r >= stop_after_round):
            return
        # re-read from the committed snapshot: every round starts from a flat
        # parquet scan, never a lineage chain through all prior rounds'
        # crawl plans (which grows the DAG superlinearly)
        frontier = read_frontier_delta(spark, store).persist()
    frontier.unpersist()        # resumed after the last round: nothing to do

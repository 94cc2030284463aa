"""t2-scale golden crawl: 200 hosts / ~3.7k pages (10x t1). Proves the
engine's ordering, seen-set, and resume semantics beyond the 20-host t1
graph — more rounds (host budget 8 -> ~25 rounds), more depth-2 fan-out,
more cross-host interleaving in the global crawl_seq (SURVEY.md §5.2/5.4).

Runs the multi-round production shape (run_rounds + SnapshotStore) with a
simulated crash after round 2, resumes, and compares the union of all
committed snapshots to the oracle goldens exactly.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.slow

from genesis_spark.crawler import engine
from genesis_spark.sources.tables import SnapshotStore
from tests.gen_fixtures import TIERS, ensure

T2_BUDGET = TIERS["t2"][3]


@pytest.fixture(scope="module")
def t2_store(spark, tmp_path_factory):
    fx = ensure("t2")
    seeds = spark.read.parquet(f"{fx}/seeds.parquet")
    pages = spark.read.parquet(f"{fx}/web_pages.parquet")
    store = SnapshotStore(str(tmp_path_factory.mktemp("snaps_t2") / "crawl"))
    engine.run_rounds(spark, seeds, pages, store, host_budget=T2_BUDGET,
                      stop_after_round=1)
    assert [m["round"] for m in store.snapshots()] == [-1, 0, 1]
    engine.run_rounds(spark, seeds, pages, store,
                      host_budget=T2_BUDGET)     # resume to drain
    return store, fx


def test_t2_crawl_order_exact(spark, t2_store):
    store, fx = t2_store
    golden = pq.read_table(f"{fx}/crawl_order_golden.parquet").to_pylist()
    got = [r.asDict() for r in store.read(spark, "crawl_order")
           .select("crawl_seq", "round", "host_key", "url", "depth",
                   "attempts", "ok")
           .orderBy("crawl_seq").collect()]
    assert len(got) == len(golden)
    for g, o in zip(got, golden):
        assert g == o, f"crawl_seq {o['crawl_seq']}: {g} != {o}"


def test_t2_seen_and_frontier_exact(spark, t2_store):
    store, fx = t2_store
    golden_seen = {(r["url"], r["host_key"]) for r in
                   pq.read_table(f"{fx}/seen_golden.parquet").to_pylist()}
    got_seen = {(r.url, r.host_key) for r in
                store.read(spark, "seen").collect()}
    assert got_seen == golden_seen
    golden_f = {r["url"]: (r["state"], r["fail_count"]) for r in
                pq.read_table(f"{fx}/frontier_golden.parquet").to_pylist()}
    got_f = {r.url: (r.state, r.fail_count) for r in
             engine.read_frontier_delta(spark, store).collect()}
    assert got_f == golden_f


def test_t2_metrics_lineage_covers_all_rounds(spark, t2_store):
    """Per-partition lineage: every (round, depth) of the crawl has metrics
    rows, and fetched counts roll up to the golden total."""
    store, fx = t2_store
    m = store.read(spark, "metrics")
    golden_n = pq.read_table(f"{fx}/crawl_order_golden.parquet").num_rows
    agg = m.groupBy().sum("n_fetched").collect()[0][0]
    assert agg == golden_n
    rounds = {(r.round, r.depth) for r in
              m.select("round", "depth").distinct().collect()}
    golden_rd = {(r["round"], r["depth"]) for r in
                 pq.read_table(f"{fx}/crawl_order_golden.parquet").to_pylist()}
    assert rounds == golden_rd

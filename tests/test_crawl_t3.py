"""t3-scale golden crawl (VERDICT r2 #8): 1000 hosts / ~18k pages through
run_rounds' production path — bucketed install (no global-rank barrier)
and delta-state frontier commits (O(round), no full-table rewrite) — plus
a mid-crawl crash/resume. It passes the crawl benchmark's keywords as they
are, retired ``delta_state``/``use_bloom`` included.

Golden-exactness under bucketed install is the established contract
(engine.install_seeds_bucketed docstring): seen set, documents, per-host
crawl order, and final frontier states are identical to the oracle's
global-order goldens; only cross-host crawl_seq interleaving differs.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.slow

from genesis_spark.crawler import engine
from genesis_spark.sources.tables import SnapshotStore
from tests.gen_fixtures import ensure

# per-POLITENESS-bucket budget: 1000 hosts over 256 buckets peaks at ~10
# hosts/bucket, so budget 3 drains in ~4 rounds (suite-clock tuned like
# t2's 64)
T3_BUCKET_BUDGET = 3


@pytest.fixture(scope="module")
def t3_store(spark, tmp_path_factory):
    fx = ensure("t3")
    seeds = spark.read.parquet(f"{fx}/seeds.parquet")
    pages = spark.read.parquet(f"{fx}/web_pages.parquet")
    store = SnapshotStore(str(tmp_path_factory.mktemp("snaps_t3") / "crawl"))
    kw = dict(host_budget=T3_BUCKET_BUDGET, delta_state=True,
              bucketed=True, use_bloom=True)
    engine.run_rounds(spark, seeds, pages, store, stop_after_round=1, **kw)
    assert [m["round"] for m in store.snapshots()] == [-1, 0, 1]
    engine.run_rounds(spark, seeds, pages, store, **kw)   # resume to drain
    return store, fx


def test_t3_seen_and_documents_exact(spark, t3_store):
    store, fx = t3_store
    golden_seen = {(r["url"], r["host_key"]) for r in
                   pq.read_table(f"{fx}/seen_golden.parquet").to_pylist()}
    got_seen = {(r.url, r.host_key) for r in
                store.read(spark, "seen").collect()}
    assert got_seen == golden_seen
    g_docs = {(d["doc_id"], d["validity_score"]) for d in
              pq.read_table(f"{fx}/documents_golden.parquet").to_pylist()}
    got_docs = {(r.doc_id, r.validity_score) for r in
                store.read(spark, "documents")
                .select("doc_id", "validity_score").collect()}
    assert got_docs == g_docs


def test_t3_per_host_order_exact(spark, t3_store):
    store, fx = t3_store
    golden = pq.read_table(f"{fx}/crawl_order_golden.parquet").to_pylist()
    got = [r.asDict() for r in store.read(spark, "crawl_order")
           .select("crawl_seq", "host_key", "url", "depth", "attempts",
                   "ok").collect()]
    assert len(got) == len(golden)

    def per_host(rows):
        out = {}
        for r in sorted(rows, key=lambda x: x["crawl_seq"]):
            out.setdefault(r["host_key"], []).append(
                (r["url"], r["depth"], r["attempts"], r["ok"]))
        return out

    assert per_host(got) == per_host(golden)


def test_t3_final_frontier_states_exact(spark, t3_store):
    """The delta-reconstructed frontier must agree with the oracle's final
    states even though the bucketed round split differs from the golden
    global rounds."""
    store, fx = t3_store
    golden_f = {r["url"]: (r["state"], r["fail_count"]) for r in
                pq.read_table(f"{fx}/frontier_golden.parquet").to_pylist()}
    got_f = {r.url: (r.state, r.fail_count) for r in
             engine.read_frontier_delta(spark, store).collect()}
    assert got_f == golden_f


def test_t3_delta_layout_no_frontier_rewrite(t3_store):
    """Every post-install snapshot commits frontier_updates (O(round)),
    never a frontier/frontier_base rewrite."""
    store, _ = t3_store
    snaps = store.snapshots()
    assert "frontier_base" in snaps[0]["tables"]
    for m in snaps[1:]:
        assert "frontier_updates" in m["tables"]
        assert "frontier" not in m["tables"]
        assert "frontier_base" not in m["tables"]

"""Crawl-engine vs oracle golden equality (the north-rule contract):
crawl order, URL-seen set, frontier end-state, and per-document span
sequences must match the pure-Python oracle exactly on the t1 fixture
web graph (SURVEY.md §5.2)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from genesis_spark.crawler import engine
from genesis_spark.sources.tables import SnapshotStore
from tests.gen_fixtures import ensure


@pytest.fixture(scope="module")
def fixture_dir():
    return ensure("t1")


@pytest.fixture(scope="module")
def result(spark, fixture_dir):
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    pages = spark.read.parquet(f"{fixture_dir}/web_pages.parquet")
    res = engine.run(spark, seeds, pages)
    yield res
    for df in res["_cached"]:
        df.unpersist()


def test_crawl_order_exact(result, fixture_dir):
    golden = pq.read_table(f"{fixture_dir}/crawl_order_golden.parquet") \
        .to_pylist()
    got = [r.asDict() for r in result["crawl_order"]
           .select("crawl_seq", "round", "host_key", "url", "depth",
                   "attempts", "ok")
           .orderBy("crawl_seq").collect()]
    assert len(got) == len(golden)
    for g, o in zip(got, golden):
        assert g == o, f"crawl_seq {o['crawl_seq']}: {g} != {o}"


def test_seen_set_exact(result, fixture_dir):
    golden = {(r["url"], r["host_key"])
              for r in pq.read_table(f"{fixture_dir}/seen_golden.parquet").to_pylist()}
    got = {(r.url, r.host_key) for r in result["seen"].collect()}
    assert got == golden


def test_frontier_end_state(result, fixture_dir):
    golden = {r["url"]: (r["state"], r["fail_count"], r["seq"])
              for r in pq.read_table(f"{fixture_dir}/frontier_golden.parquet").to_pylist()}
    got = {r.url: (r.state, r.fail_count, r.seq)
           for r in result["frontier_done"].collect()}
    assert got == golden


def test_document_spans_byte_exact(result, fixture_dir):
    golden = pq.read_table(f"{fixture_dir}/documents_golden.parquet").to_pylist()
    by_seq = {g["crawl_seq"]: g for g in golden}
    got = result["documents"].select(
        "crawl_seq", "doc_id", "validity_score", "spans").collect()
    assert len(got) == len(golden)
    for r in got:
        g = by_seq[r.crawl_seq]
        assert r.doc_id == g["doc_id"]
        assert r.validity_score == g["validity_score"], r.doc_id
        got_spans = [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in g["spans"]]
        assert got_spans == want, r.doc_id


def test_bloom_prefilter_path_identical(spark, fixture_dir):
    """With use_bloom=True the sharded-Bloom prefilter fronts the exact
    anti-join; no false negatives -> identical crawl order and seen set."""
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    pages = spark.read.parquet(f"{fixture_dir}/web_pages.parquet")
    installed = []
    frontier = engine.install_seeds(seeds, 8, cached=installed)
    res = engine.crawl_frontier(spark, frontier, pages, use_bloom=True)
    golden = pq.read_table(f"{fixture_dir}/crawl_order_golden.parquet") \
        .to_pylist()
    got = [r.asDict() for r in res["crawl_order"]
           .select("crawl_seq", "round", "host_key", "url", "depth",
                   "attempts", "ok").orderBy("crawl_seq").collect()]
    assert got == golden
    g_seen = {r["url"] for r in
              pq.read_table(f"{fixture_dir}/seen_golden.parquet").to_pylist()}
    assert {r.url for r in res["seen"].collect()} == g_seen
    for df in installed + res["_cached"]:
        df.unpersist()


def test_score_coverage(result):
    # fixture pages must exercise both zero and positive score branches
    scores = [r.validity_score for r in
              result["documents"].select("validity_score").collect()]
    assert any(s > 0 for s in scores) and any(s == 0 for s in scores)


def test_scaled_install_crawl_invariants(spark, fixture_dir):
    """The bucketed production install (no global-rank barrier) must crawl
    the SAME pages in the SAME per-host order as the golden global path —
    only the cross-host interleaving of crawl_seq may differ."""
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    pages = spark.read.parquet(f"{fixture_dir}/web_pages.parquet")
    res = engine.run(spark, seeds, pages, bucketed=True)

    g_seen = {(r["url"], r["host_key"]) for r in
              pq.read_table(f"{fixture_dir}/seen_golden.parquet").to_pylist()}
    assert {(r.url, r.host_key) for r in res["seen"].collect()} == g_seen

    golden = pq.read_table(f"{fixture_dir}/crawl_order_golden.parquet") \
        .to_pylist()
    got = [r.asDict() for r in res["crawl_order"]
           .select("crawl_seq", "host_key", "url", "depth", "attempts", "ok")
           .collect()]
    assert len(got) == len(golden)

    def per_host(rows):
        out = {}
        for r in sorted(rows, key=lambda x: x["crawl_seq"]):
            out.setdefault(r["host_key"], []).append(
                (r["url"], r["depth"], r["attempts"], r["ok"]))
        return out

    assert per_host(got) == per_host(golden)

    g_docs = {(d["doc_id"], d["validity_score"]) for d in
              pq.read_table(f"{fixture_dir}/documents_golden.parquet")
              .to_pylist()}
    got_docs = {(r.doc_id, r.validity_score) for r in
                res["documents"].select("doc_id", "validity_score")
                .collect()}
    assert got_docs == g_docs
    for df in res["_cached"]:
        df.unpersist()


def test_run_rounds_leaves_no_cached_data(spark, fixture_dir, tmp_path):
    """A crawl releases what it persists: the per-wave frames, the global
    numbering's intermediate and the frontier re-read after each round."""
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    pages = spark.read.parquet(f"{fixture_dir}/web_pages.parquet")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    for bucketed in (True, False):
        engine.run_rounds(spark, seeds, pages,
                          SnapshotStore(str(tmp_path / str(bucketed))),
                          bucketed=bucketed)
        assert persistent().size() == before, bucketed


AQE = "spark.sql.adaptive.enabled"


class _RoundFailsStore(SnapshotStore):
    """Commits the install, raises on the first round's commit, and records
    the AQE setting each commit ran under."""

    def __init__(self, root, spark):
        super().__init__(root)
        self.spark, self.aqe = spark, []

    def commit(self, tables, meta):
        self.aqe.append(self.spark.conf.get(AQE))
        if meta["round"] >= 0:
            raise RuntimeError("round commit failed")
        return super().commit(tables, meta)


def test_run_rounds_restores_adaptive_setting(spark, fixture_dir, tmp_path):
    """The crawl runs without AQE, install included, and leaves the
    session's setting as it found it: on a normal return, after
    ``stop_after_round``, when the crawl raises, and when it was off."""
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet") \
        .orderBy("seed_id").limit(4)
    pages = spark.read.parquet(f"{fixture_dir}/web_pages.parquet")
    assert spark.conf.get(AQE) == "true"
    store = SnapshotStore(str(tmp_path / "ok"))
    engine.run_rounds(spark, seeds, pages, store, host_budget=2,
                      stop_after_round=0)
    assert spark.conf.get(AQE) == "true"
    engine.run_rounds(spark, seeds, pages, store, host_budget=2)
    assert spark.conf.get(AQE) == "true"
    assert [m["round"] for m in store.snapshots()] == [-1, 0, 1]

    for before in ("true", "false"):
        spark.conf.set(AQE, before)
        try:
            failing = _RoundFailsStore(str(tmp_path / before), spark)
            with pytest.raises(RuntimeError, match="round commit failed"):
                engine.run_rounds(spark, seeds, pages, failing,
                                  host_budget=2)
            assert spark.conf.get(AQE) == before
            assert failing.aqe == ["false", "false"]
        finally:
            spark.conf.set(AQE, "true")

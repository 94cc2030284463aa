"""Crawl-engine vs oracle golden equality (the north-rule contract):
crawl order, URL-seen set, frontier end-state, and per-document span
sequences committed by ``run_rounds`` must match the pure-Python oracle
exactly on the t1 fixture web graph (SURVEY.md §5.2)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from genesis_spark.crawler import engine
from genesis_spark.sources.tables import SnapshotStore
from tests.gen_fixtures import ensure


@pytest.fixture(scope="module")
def fixture_dir():
    return ensure("t1")


@pytest.fixture(scope="module")
def store(spark, fixture_dir, tmp_path_factory):
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    pages = spark.read.parquet(f"{fixture_dir}/web_pages.parquet")
    store = SnapshotStore(str(tmp_path_factory.mktemp("t1") / "crawl"))
    engine.run_rounds(spark, seeds, pages, store)
    return store


def test_crawl_order_exact(spark, store, fixture_dir):
    golden = pq.read_table(f"{fixture_dir}/crawl_order_golden.parquet") \
        .to_pylist()
    got = [r.asDict() for r in store.read(spark, "crawl_order")
           .select("crawl_seq", "round", "host_key", "url", "depth",
                   "attempts", "ok")
           .orderBy("crawl_seq").collect()]
    assert len(got) == len(golden)
    for g, o in zip(got, golden):
        assert g == o, f"crawl_seq {o['crawl_seq']}: {g} != {o}"


def test_seen_set_exact(spark, store, fixture_dir):
    golden = {(r["url"], r["host_key"])
              for r in pq.read_table(f"{fixture_dir}/seen_golden.parquet").to_pylist()}
    got = {(r.url, r.host_key) for r in store.read(spark, "seen").collect()}
    assert got == golden


def test_frontier_end_state(spark, store, fixture_dir):
    golden = {r["url"]: (r["state"], r["fail_count"], r["seq"])
              for r in pq.read_table(f"{fixture_dir}/frontier_golden.parquet").to_pylist()}
    got = {r.url: (r.state, r.fail_count, r.seq)
           for r in engine.read_frontier_delta(spark, store).collect()}
    assert got == golden


def test_document_spans_byte_exact(spark, store, fixture_dir):
    golden = pq.read_table(f"{fixture_dir}/documents_golden.parquet").to_pylist()
    by_seq = {g["crawl_seq"]: g for g in golden}
    got = store.read(spark, "documents").select(
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


def test_score_coverage(spark, store):
    # fixture pages must exercise both zero and positive score branches
    scores = [r.validity_score for r in
              store.read(spark, "documents").select("validity_score")
              .collect()]
    assert any(s > 0 for s in scores) and any(s == 0 for s in scores)


_ARRAY = "array<string>"
# (name, type) of each round table as the store commits it; resume and the
# crawl benchmark's read-back depend on these
COMMITTED = {
    "crawl_order": [("crawl_seq", "bigint"), ("round", "int"),
                    ("host_key", "string"), ("url", "string"),
                    ("depth", "int"), ("attempts", "int"),
                    ("ok", "boolean")],
    "seen": [("task_id", "bigint"), ("url", "string"),
             ("host_key", "string")],
    "documents": [("depth", "int"), ("host_key", "string"),
                  ("doc_id", "string"), ("url", "string"),
                  ("base_url", "string"), ("network", "string"),
                  ("title", "string"), ("meta_description", "string"),
                  ("content", "string"), ("important_content", "string"),
                  ("meta_keywords", "string"), ("content_type", _ARRAY),
                  ("sub_url", _ARRAY), ("images", _ARRAY),
                  ("videos", _ARRAY), ("documents", _ARRAY),
                  ("archives", _ARRAY), ("clearnet_links", _ARRAY),
                  ("sections", _ARRAY), ("names", _ARRAY),
                  ("emails", _ARRAY), ("phone_numbers", _ARRAY),
                  ("validity_score", "int"),
                  ("spans", "array<struct<kind:string,text:string,"
                            "media_ref:string,offset:int>>"),
                  ("crawl_seq", "bigint")],
    "metrics": [("round", "int"), ("depth", "int"), ("bucket", "bigint"),
                ("n_fetched", "bigint"), ("n_ok", "bigint"),
                ("n_failed", "bigint"), ("n_attempts", "bigint")],
    "frontier_updates": [("url_hash", "bigint"), ("state", "string"),
                         ("fail_count", "int")],
}


def test_committed_round_schemas(spark, store):
    for table, want in COMMITTED.items():
        got = [(f.name, f.dataType.simpleString())
               for f in store.read(spark, table).schema.fields]
        assert got == want, table


def test_scaled_install_crawl_invariants(spark, fixture_dir, tmp_path):
    """The bucketed production install (no global-rank barrier) must crawl
    the SAME pages in the SAME per-host order as the golden global path —
    only the cross-host interleaving of crawl_seq may differ."""
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    pages = spark.read.parquet(f"{fixture_dir}/web_pages.parquet")
    store = SnapshotStore(str(tmp_path / "bucketed"))
    engine.run_rounds(spark, seeds, pages, store, bucketed=True)

    g_seen = {(r["url"], r["host_key"]) for r in
              pq.read_table(f"{fixture_dir}/seen_golden.parquet").to_pylist()}
    assert {(r.url, r.host_key)
            for r in store.read(spark, "seen").collect()} == g_seen

    golden = pq.read_table(f"{fixture_dir}/crawl_order_golden.parquet") \
        .to_pylist()
    got = [r.asDict() for r in store.read(spark, "crawl_order")
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
                store.read(spark, "documents").select("doc_id",
                                                      "validity_score")
                .collect()}
    assert got_docs == g_docs


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
    ``stop_after_round``, when the crawl raises, and when it was off. A
    round that raises leaves the persisted-RDD count where it found it.
    ``delta_state=False`` raises before anything is read or written."""
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

    # the retired rewrite layout is refused before the store is touched
    retired = SnapshotStore(str(tmp_path / "retired"))
    with pytest.raises(ValueError, match="delta_state=False"):
        engine.run_rounds(spark, seeds, pages, retired, host_budget=2,
                          delta_state=False)
    assert spark.conf.get(AQE) == "true"
    assert os.listdir(retired.root) == []

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    for before in ("true", "false"):
        spark.conf.set(AQE, before)
        try:
            failing = _RoundFailsStore(str(tmp_path / before), spark)
            n_cached = persisted().size()
            with pytest.raises(RuntimeError, match="round commit failed"):
                engine.run_rounds(spark, seeds, pages, failing,
                                  host_budget=2)
            assert spark.conf.get(AQE) == before
            assert failing.aqe == ["false", "false"]
            # the failed round released its persisted frames
            assert persisted().size() == n_cached
        finally:
            spark.conf.set(AQE, "true")

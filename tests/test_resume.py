"""Crash-resume: stop after round 0's snapshot, or crash inside a commit,
resume, and the combined outputs must equal the uninterrupted goldens
(SURVEY.md §5.4, ST4)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.slow   # multi-round Spark crawls (t1 x4 stores)

from genesis_spark.crawler import engine
from genesis_spark.sources.tables import SnapshotStore
from tests.gen_fixtures import ensure


@pytest.fixture(scope="module")
def resumed_store(spark, tmp_path_factory):
    fx = ensure("t1")
    seeds = spark.read.parquet(f"{fx}/seeds.parquet")
    pages = spark.read.parquet(f"{fx}/web_pages.parquet")
    store = SnapshotStore(str(tmp_path_factory.mktemp("snaps") / "crawl"))
    engine.run_rounds(spark, seeds, pages, store, stop_after_round=0)
    assert [m["round"] for m in store.snapshots()] == [-1, 0]
    engine.run_rounds(spark, seeds, pages, store)  # resume to drain
    return store, fx


def test_resume_crawl_order_equals_golden(spark, resumed_store):
    store, fx = resumed_store
    golden = pq.read_table(f"{fx}/crawl_order_golden.parquet").to_pylist()
    got = [r.asDict() for r in store.read(spark, "crawl_order")
           .select("crawl_seq", "round", "host_key", "url", "depth",
                   "attempts", "ok")
           .orderBy("crawl_seq").collect()]
    assert got == golden


def test_resume_seen_and_frontier(spark, resumed_store):
    store, fx = resumed_store
    golden_seen = {r["url"] for r in
                   pq.read_table(f"{fx}/seen_golden.parquet").to_pylist()}
    got_seen = {r.url for r in store.read(spark, "seen").collect()}
    assert got_seen == golden_seen
    states = {r["url"]: r["state"] for r in
              pq.read_table(f"{fx}/frontier_golden.parquet").to_pylist()}
    got_states = {r.url: r.state for r in
                  engine.read_frontier_delta(spark, store).collect()}
    assert got_states == states


def test_delta_state_resume_and_no_rewrite(spark, resumed_store):
    """The 10^10-row frontier layout: install writes frontier_base once;
    every round commits only O(round) state deltas. Resumed final states
    must equal the goldens; no snapshot after install may contain a full
    frontier table."""
    store, fx = resumed_store
    golden = {r["url"]: (r["state"], r["fail_count"]) for r in
              pq.read_table(f"{fx}/frontier_golden.parquet").to_pylist()}
    got = {r.url: (r.state, r.fail_count) for r in
           engine.read_frontier_delta(spark, store).collect()}
    assert got == golden

    # layout: exactly one frontier_base (the install snapshot); every later
    # snapshot carries only delta updates, never a rewritten frontier
    snaps = store.snapshots()
    assert [m["tables"] for m in snaps[:1]] == [["frontier_base"]]
    for m in snaps[1:]:
        assert "frontier" not in m["tables"]
        assert "frontier_base" not in m["tables"]
        assert "frontier_updates" in m["tables"]
    # deltas are O(dispatched): total update rows == total seeds installed
    n_updates = store.read(spark, "frontier_updates").count()
    assert n_updates == len(golden)
    assert os.path.isdir(os.path.join(store.root, "snap-00000",
                                      "frontier_base"))


def test_compaction_read_equivalence_and_double_compact(spark, tmp_path):
    """SnapshotStore.compact folds append deltas into one rewrite; reads
    before/after (and after a SECOND compaction over new deltas) are
    identical, and post-cut reads touch only the consolidated path(s)."""
    store = SnapshotStore(str(tmp_path / "cstore"))
    for i in range(3):
        df = spark.range(i * 10, i * 10 + 10).withColumnRenamed("id", "k")
        store.commit({"events_t": df}, {"round": i, "seq_offset": 0})
    before = {r.k for r in store.read(spark, "events_t").collect()}
    sid1 = store.compact(spark, "events_t")
    assert {r.k for r in store.read(spark, "events_t").collect()} == before
    # only the consolidated path contributes now
    assert len(store.read(spark, "events_t").inputFiles()) == \
        len(spark.read.parquet(
            f"{store.root}/snap-{sid1:05d}/events_t").inputFiles())
    # new deltas + second compaction: the first rewrite must fold in too
    store.commit({"events_t": spark.range(100, 105)
                  .withColumnRenamed("id", "k")}, {"round": 3,
                                                   "seq_offset": 0})
    want = before | set(range(100, 105))
    assert {r.k for r in store.read(spark, "events_t").collect()} == want
    store.compact(spark, "events_t")
    assert {r.k for r in store.read(spark, "events_t").collect()} == want


def test_delta_state_compaction_resume_golden(spark, tmp_path_factory):
    """compact_every folds frontier_updates into a fresh frontier_base
    mid-crawl (the Iceberg MERGE INTO shape); crash-resume across the
    compaction and all final outputs still equal the goldens, and the
    update log visible to readers stays bounded."""
    fx = ensure("t1")
    seeds = spark.read.parquet(f"{fx}/seeds.parquet")
    pages = spark.read.parquet(f"{fx}/web_pages.parquet")
    store = SnapshotStore(str(tmp_path_factory.mktemp("snaps_c") / "crawl"))
    engine.run_rounds(spark, seeds, pages, store, stop_after_round=0,
                      compact_every=1)
    # the compaction snapshot carried resume meta forward
    assert store.latest()["round"] == 0
    engine.run_rounds(spark, seeds, pages, store, compact_every=1)

    golden = {r["url"]: (r["state"], r["fail_count"]) for r in
              pq.read_table(f"{fx}/frontier_golden.parquet").to_pylist()}
    got = {r.url: (r.state, r.fail_count) for r in
           engine.read_frontier_delta(spark, store).collect()}
    assert got == golden
    g_order = pq.read_table(f"{fx}/crawl_order_golden.parquet").to_pylist()
    got_order = [r.asDict() for r in store.read(spark, "crawl_order")
                 .select("crawl_seq", "round", "host_key", "url", "depth",
                         "attempts", "ok").orderBy("crawl_seq").collect()]
    assert got_order == g_order
    # update log is cut: reconstruction sees no pre-compaction deltas
    ups = store.read(spark, "frontier_updates")
    assert ups is None or ups.count() == 0


def test_expire_snapshots_removes_dead_only(spark, tmp_path):
    """After a compaction, expiry deletes exactly the snapshots no read
    touches (superseded state versions + compacted-past deltas) and every
    live table reads identically afterwards."""
    import os
    store = SnapshotStore(str(tmp_path / "estore"))
    # snap 0: state table v0 + delta 0; snap 1: state v1 + delta 1
    store.commit({"frontier_base": spark.range(3).withColumnRenamed("id", "k"),
                  "seen": spark.range(0, 5)}, {"round": 0, "seq_offset": 0})
    store.commit({"frontier_base": spark.range(4).withColumnRenamed("id", "k"),
                  "seen": spark.range(5, 9)}, {"round": 1, "seq_offset": 0})
    store.compact(spark, "seen")                      # snap 2
    seen_before = {r.id for r in store.read(spark, "seen").collect()}
    frontier_before = {r.k for r in
                       store.read(spark, "frontier_base").collect()}
    removed = store.expire_snapshots(keep_last=1)
    # snap 0 is fully dead (old state version + compacted delta);
    # snap 1 stays: it holds the live frontier state version
    assert removed == [0]
    assert os.path.isdir(store._snap_dir(1)) and os.path.isdir(
        store._snap_dir(2))
    assert {r.id for r in store.read(spark, "seen").collect()} == seen_before
    assert {r.k for r in store.read(spark, "frontier_base").collect()} == \
        frontier_before


def _assert_golden(spark, store, fx) -> None:
    """Crawl order, seen set and reconstructed frontier states of ``store``
    equal the t1 goldens."""
    g_order = pq.read_table(f"{fx}/crawl_order_golden.parquet").to_pylist()
    got_order = [r.asDict() for r in store.read(spark, "crawl_order")
                 .select("crawl_seq", "round", "host_key", "url", "depth",
                         "attempts", "ok").orderBy("crawl_seq").collect()]
    assert got_order == g_order
    g_seen = {(r["url"], r["host_key"]) for r in
              pq.read_table(f"{fx}/seen_golden.parquet").to_pylist()}
    assert {(r.url, r.host_key)
            for r in store.read(spark, "seen").collect()} == g_seen
    g_states = {r["url"]: (r["state"], r["fail_count"]) for r in
                pq.read_table(f"{fx}/frontier_golden.parquet").to_pylist()}
    assert {r.url: (r.state, r.fail_count) for r in
            engine.read_frontier_delta(spark, store).collect()} == g_states


def _crash(src, dst):
    raise RuntimeError(f"crashed before renaming {os.path.basename(src)}")


class _CrashAtRenameStore(SnapshotStore):
    """Runs a commit whose meta ``crash_at`` picks out up to its manifest
    rename and fails there: the snapshot's table directories and temporary
    manifest are on disk, the manifest is not, as when the process is
    killed at that point."""

    def __init__(self, root, crash_at):
        super().__init__(root)
        self.crash_at = crash_at

    def commit(self, tables, meta):
        if not self.crash_at(meta):
            return super().commit(tables, meta)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(os, "replace", _crash)
            return super().commit(tables, meta)


# point -> (compact_every, the commit that crashes, the tables it wrote);
# either way rounds -1 and 0 are committed when it crashes
_CRASHES = {
    # round 1's tables are written; its manifest is not
    "round_tables": (None, lambda m: m["round"] == 1 and "compacts" not in m,
                     {"crawl_order", "seen", "documents", "metrics",
                      "frontier_updates"}),
    # round 0 is committed; the compaction that follows it is not
    "compaction": (1, lambda m: "compacts" in m, {"frontier_base"}),
}


@pytest.mark.parametrize("point", sorted(_CRASHES))
def test_crash_at_commit_boundary_resumes_to_golden(spark, tmp_path, point):
    """A crash at either commit boundary of the delta layout leaves an
    orphaned snapshot directory that no read sees; a plain store resumed on
    the same root crawls to the goldens."""
    compact_every, crash_at, written = _CRASHES[point]
    fx = ensure("t1")
    seeds = spark.read.parquet(f"{fx}/seeds.parquet")
    pages = spark.read.parquet(f"{fx}/web_pages.parquet")
    root = str(tmp_path / "crawl")
    crashing = _CrashAtRenameStore(root, crash_at)
    with pytest.raises(RuntimeError, match="crashed before renaming"):
        engine.run_rounds(spark, seeds, pages, crashing,
                          compact_every=compact_every)
    assert [m["round"] for m in crashing.snapshots()] == [-1, 0]
    assert "compacts" not in crashing.latest()
    orphan = crashing._snap_dir(crashing.latest()["snapshot_id"] + 1)
    assert set(os.listdir(orphan)) == written | {"manifest.json.tmp"}

    store = SnapshotStore(root)
    engine.run_rounds(spark, seeds, pages, store,
                      compact_every=compact_every)
    _assert_golden(spark, store, fx)

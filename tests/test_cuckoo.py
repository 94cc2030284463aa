"""Partitioned cuckoo URL-seen filter: no-false-negative contract through
the shard-routed probe, one shard row per probe group, deletion (the
capability Bloom lacks), and saturation degradation."""

from __future__ import annotations

import numpy as np
import pytest

from genesis_spark.operators import cuckoo as C


def _urls(spark, prefix, n):
    return spark.createDataFrame(
        [(f"http://{prefix}{i}.onion",) for i in range(n)], "url string")


KW = dict(n_shards=8, n_buckets=1 << 10, slots=4)


def test_cuckoo_no_false_negatives_and_low_fpr(spark):
    seen = _urls(spark, "seen", 1000)
    shard_df = C.build_cuckoo_shards(seen, "url", **KW)
    flagged = {r.url: r._maybe_seen for r in
               C.filter_not_seen_cuckoo_routed(seen, "url", shard_df,
                                               **KW).collect()}
    assert all(flagged.values()), "false negative on an inserted key"
    novel = _urls(spark, "new", 1000)
    fp = [r._maybe_seen for r in
          C.filter_not_seen_cuckoo_routed(novel, "url", shard_df,
                                          **KW).collect()]
    rate = sum(fp) / len(fp)
    # 16-bit fingerprints, ~1000 keys in 8x(1024x4): fpr well under 1%
    assert rate < 0.02, f"cuckoo false-positive rate {rate:.3f}"


def test_cuckoo_routed_probe_matches_broadcast(spark):
    """The shard-routed probe (cogroup per shard, one table per task) flags
    every inserted key, and each group task receives at most ONE
    shard-table row."""
    seen = _urls(spark, "seen", 500)
    inserted = [f"http://seen{i}.onion" for i in range(0, 500, 25)]
    probe = spark.createDataFrame(
        [(u,) for u in inserted] +
        [(f"http://new{i}.onion",) for i in range(200)], "url string")

    shard_df = C.build_cuckoo_shards(seen, "url", **KW)
    assert shard_df.count() <= 8                      # one row per shard
    rows_per_group = spark.sparkContext.accumulator(0)
    got = {r.url: r._maybe_seen for r in
           C.filter_not_seen_cuckoo_routed(
               probe, "url", shard_df,
               shard_rows_counter=rows_per_group, **KW).collect()}
    assert len(got) == 220
    assert all(got[u] for u in inserted)
    assert 0 < rows_per_group.value <= 8


def test_cuckoo_delete_reopens_urls(spark):
    """Deleting dead URLs' fingerprints (S10 dead-removal) stops them
    forcing the maybe-seen path, while every remaining key stays a hit —
    the one-sided error never flips to a false negative."""
    live = _urls(spark, "live", 400)
    dead = _urls(spark, "dead", 100)
    shard_df = C.build_cuckoo_shards(live.union(dead), "url", **KW)

    after = C.delete_from_shards(shard_df, dead, "url", **KW)
    live_flags = [r._maybe_seen for r in
                  C.filter_not_seen_cuckoo_routed(live, "url", after,
                                                  **KW).collect()]
    assert all(live_flags), "deletion caused a false negative on a live key"
    dead_flags = [r._maybe_seen for r in
                  C.filter_not_seen_cuckoo_routed(dead, "url", after,
                                                  **KW).collect()]
    # deleted keys read unseen again, modulo fingerprint collisions with
    # the 400 remaining keys
    assert sum(dead_flags) / len(dead_flags) < 0.1
    # shards with no deletions pass through; total shard rows unchanged
    assert after.count() == shard_df.count()


def test_cuckoo_saturation_degrades_to_maybe():
    """Overfilling a tiny shard must flip it to saturated=True (everything
    maybe) rather than ever dropping an inserted fingerprint."""
    shard = C.CuckooShard(n_buckets=4, slots=4)    # capacity 16 + stash
    rng_fp = (np.arange(1, 201) % 65535 + 1).astype(np.uint16)
    i1 = (np.arange(200) % 4).astype(np.int64)
    shard.insert_many(i1, rng_fp, max_kicks=20, stash_cap=4)
    assert shard.saturated
    assert shard.might_contain(i1, rng_fp).all()


def test_cuckoo_shard_roundtrip_serialization():
    shard = C.CuckooShard(n_buckets=8, slots=4)
    fp = np.array([7, 7, 9, 65535], dtype=np.uint16)
    i1 = np.array([1, 1, 2, 3], dtype=np.int64)
    shard.insert_many(i1, fp)
    row = shard.to_row(3)
    back = C.CuckooShard.from_row(row["table"], row["stash_b"],
                                  row["stash_fp"], row["saturated"],
                                  n_buckets=8, slots=4)
    assert (back.table == shard.table).all()
    assert back.might_contain(i1, fp).all()
    # duplicate fingerprints occupy two slots; one delete removes one copy
    removed = back.delete_many(i1[:1], fp[:1])
    assert removed.all()
    assert back.might_contain(i1[1:2], fp[1:2]).all()


def test_cuckoo_kernel_properties_hypothesis():
    """Kernel-level invariants under arbitrary insert/delete interleavings
    (no Spark): every currently-inserted key probes True (no false
    negatives, ever), and deletes only ever remove one stored copy."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 63),            # bucket i1
                              st.integers(1, 65535),         # fingerprint
                              st.booleans()),                # delete later?
                    min_size=1, max_size=120))
    def prop(ops):
        shard = C.CuckooShard(n_buckets=64, slots=4)
        i1 = np.array([o[0] for o in ops], dtype=np.int64)
        fp = np.array([o[1] for o in ops], dtype=np.uint16)
        shard.insert_many(i1, fp, max_kicks=100, stash_cap=16)
        assert shard.might_contain(i1, fp).all()
        dels = [j for j, o in enumerate(ops) if o[2]]
        if dels and not shard.saturated:
            d = np.array(dels)
            removed = shard.delete_many(i1[d], fp[d])
            assert removed.all()          # each inserted copy is deletable
        keep = [j for j, o in enumerate(ops) if not o[2]]
        if keep and not shard.saturated:
            k = np.array(keep)
            assert shard.might_contain(i1[k], fp[k]).all()

    prop()

"""Unit tests: snapshot store, sharded bloom, global sequence, politeness
bucketing/pacing, xxh64-vs-Spark parity, and the dedup/similarity operators
on tiny hand-built frames."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from genesis_spark.functions.hashing import xxh64
from genesis_spark.operators import bloom as B
from genesis_spark.operators.seq import with_global_seq
from genesis_spark.sources.tables import SnapshotStore


@pytest.fixture
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "tbl"))


def test_snapshot_store_roundtrip(spark, store):
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    sid0 = store.commit({"frontier_base": df1, "log": df1}, {"round": 0})
    df2 = spark.createDataFrame([(2, "b")], "k long, v string")
    sid1 = store.commit({"frontier_base": df2, "log": df2}, {"round": 1})
    assert (sid0, sid1) == (0, 1)
    # state table -> latest only; append table -> union of deltas
    assert [r.k for r in store.read(spark, "frontier_base").collect()] == [2]
    assert sorted(r.k for r in store.read(spark, "log").collect()) == [1, 2]
    # time travel
    assert [r.k for r in store.read(spark, "log", as_of=0).collect()] == [1]
    assert store.latest()["round"] == 1


def test_snapshot_store_crashed_commit_invisible(spark, store):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    store.commit({"log": df}, {"round": 0})
    # simulate a crash mid-commit: snapshot dir written, manifest missing
    crash_dir = os.path.join(store.root, "snap-00001")
    os.makedirs(os.path.join(crash_dir, "log"), exist_ok=True)
    assert store.latest()["snapshot_id"] == 0
    assert [r.k for r in store.read(spark, "log").collect()] == [1]
    # next commit reclaims the id
    sid = store.commit({"log": df}, {"round": 1})
    assert sid == 1 and store.latest()["round"] == 1
    shutil.rmtree(store.root)


def test_bloom_no_false_negatives_and_prefilter(spark):
    seen = spark.createDataFrame(
        [(f"http://seen{i}.onion",) for i in range(500)], "url string")
    bloom = B.build_bloom(seen, "url", n_shards=8, n_bits=1 << 16, k=5)
    probe = spark.createDataFrame(
        [(f"http://seen{i}.onion",) for i in range(0, 500, 50)] +
        [(f"http://new{i}.onion",) for i in range(200)], "url string")
    flagged = B.filter_not_seen(probe, "url", bloom)
    rows = {r.url: r._maybe_seen for r in flagged.collect()}
    # no false negatives: every seen url flagged
    assert all(rows[f"http://seen{i}.onion"] for i in range(0, 500, 50))
    # prefilter actually filters: most new urls pass as definitely-new
    fp = sum(1 for i in range(200) if rows[f"http://new{i}.onion"])
    assert fp < 20  # <10% false positives at these parameters


def test_global_seq_dense_and_ordered(spark):
    rows = [(i * 7 % 101, i) for i in range(101)]
    df = spark.createDataFrame(rows, "k long, id long")
    out = with_global_seq(df, ["k"], "rank").collect()
    by_rank = sorted(out, key=lambda r: r["rank"])
    assert [r["rank"] for r in by_rank] == list(range(101))
    assert [r.k for r in by_rank] == sorted(r[0] for r in rows)


def test_global_seq_empty(spark):
    df = spark.createDataFrame([], "k long")
    assert with_global_seq(df, ["k"], "rank").count() == 0


def test_xxh64_matches_spark(spark):
    vals = ["", "a", "http://x.onion/p?q=1#f", "é日本", "z" * 100]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for r in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert xxh64(r.s) == r.h, r.s


def test_politeness_bucket_pins_host(spark):
    from genesis_spark.crawler.politeness import paced_fetch
    rows = [(f"http://h{i % 5}.onion/p{i}", f"h{i % 5}") for i in range(50)]
    df = spark.createDataFrame(rows, "url string, host_key string")

    # closure, not module-level: cloudpickle must ship it by value (executors
    # can't import the tests package)
    def fetch_ok(url):
        return 200, url, "<p>one two three four five six seven</p>"

    out = paced_fetch(df, fetch_ok, buckets=4)
    got = out.select("url", "status").collect()
    assert len(got) == 50 and all(r.status == 200 for r in got)


def test_robots_admission(spark):
    from genesis_spark.crawler.politeness import apply_robots
    cand = spark.createDataFrame(
        [("http://a.onion/admin/x", "a"), ("http://a.onion/pub", "a"),
         ("http://b.onion/admin/y", "b")], "url string, host_key string")
    robots = spark.createDataFrame(
        [("a", ["/admin"])], "host_key string, disallow array<string>")
    kept = {r.url for r in apply_robots(cand, robots).collect()}
    assert kept == {"http://a.onion/pub", "http://b.onion/admin/y"}


def test_exact_dedup_tiny(spark):
    from genesis_spark.operators.dedup import exact_dedup
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string")
    rows = {r.doc_id: r.n_copies for r in exact_dedup(df).collect()}
    assert rows == {1: 2, 3: 1}


def test_minhash_identical_docs_score_1(spark):
    from genesis_spark.operators.dedup import minhash_lsh_pairs
    words = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, words), (2, words), (3, " ".join(f"z{i}" for i in range(20)))],
        "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b, r.est_jaccard) for r in pairs] == [(1, 2, 1.0)]


def test_cosine_topk_self_best_match(spark):
    from genesis_spark.operators.similarity import cosine_topk
    vecs = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = cosine_topk(df, df.filter("vec_id = 0"), k=2).collect()
    assert [(r.rank, r.neighbor_id) for r in out] == [(1, 1), (2, 2)]


def test_simhash64_pairs_find_dups(spark):
    """Exact duplicates have hamming 0 and MUST be found (pigeonhole over
    the 4 band segments); unrelated docs with disjoint vocab don't pair."""
    from genesis_spark.operators.dedup import simhash64_pairs
    near = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, near), (2, near),
            (3, near + " tail"),
            (4, "zebra quartz vortex nymph glyph jackdaw sphinx oryx")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in simhash64_pairs(docs, max_hamming=8).collect()}
    assert got[(1, 2)] == 0
    assert (1, 4) not in got and (2, 4) not in got and (3, 4) not in got


def test_lsh_topk_recall_vs_brute_force(spark):
    """The ANN scale path must recover a meaningful fraction of the true
    top-k on the driver's embeddings fixture (near-random vectors — the
    hardest case for LSH; measured 0.44 at the registry settings, assert a
    conservative floor)."""
    from genesis_spark.operators.similarity import cosine_topk, lsh_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in lsh_topk(emb, q, k=5, n_planes=4, n_tables=4,
                                dim=64).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.3, f"LSH recall {recall:.2f} < 0.3"


def test_install_bucketed_variants_same_host_fifo(spark):
    """portable_bucket only swaps the host->bucket hash; within every host
    the (installed_at, seq) order — and hence the per-host crawl FIFO —
    must be identical under both variants."""
    from genesis_spark.crawler import engine
    rows = [(f"http://h{i % 37}.onion/p{i}", 1_700_000_000 + (i * 17 % 1000),
             i) for i in range(500)]
    seeds = spark.createDataFrame(
        rows, "url string, installed_at long, seed_id long")
    seeds = seeds.withColumn("installed_at",
                             F.timestamp_seconds("installed_at"))

    def per_host(df):
        out = {}
        for r in df.select("host_key", "url", "bucket_rank").collect():
            out.setdefault(r.host_key, []).append((r.bucket_rank, r.url))
        return {h: [u for _, u in sorted(v)] for h, v in out.items()}

    fast = per_host(engine.install_seeds_bucketed(seeds, buckets=16))
    portable = per_host(engine.install_seeds_bucketed(
        seeds, buckets=16, portable_bucket=True))
    assert fast == portable


def test_ngram_max_df_drops_hot_shingles(spark):
    """A boilerplate shingle shared by every doc must not create pairs once
    its document frequency exceeds max_df (the join fan-out guard)."""
    from genesis_spark.operators.dedup import ngram_jaccard_pairs
    boiler = "all rights reserved worldwide"
    rows = [(i, f"{boiler} unique{i} content{i} body{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(docs, threshold=0.01).collect()
    capped = ngram_jaccard_pairs(docs, threshold=0.01, max_df=3).collect()
    assert len(uncapped) > 0          # boilerplate shingles DO pair docs
    assert len(capped) == 0           # cap removes the hot shingles


def test_valid_e164_country_codes():
    from genesis_spark.functions.text import extract_phone_numbers, valid_e164
    assert valid_e164("12025550123")          # +1 NANP
    assert valid_e164("447911123456")         # +44 UK
    assert valid_e164("8613912345678")        # +86 CN
    assert not valid_e164("02025550123")      # 0 is not an assigned CC
    assert not valid_e164("9991234567")       # 999 unassigned
    assert not valid_e164("1202555")          # too short
    assert not valid_e164("1" * 16)           # too long
    got = extract_phone_numbers(
        "call +1-202-555-0123 or +999 123 4567 or +44 7911 123456")
    assert got == ["+12025550123", "+447911123456"]


def test_auto_n_planes_sizing_rule():
    """VERDICT r2 #6: the LSH plane-count sizing rule as code. 10^9 rows /
    1024-row target buckets needs 20 planes; small inputs floor at 8."""
    from genesis_spark.operators.similarity import auto_n_planes
    assert auto_n_planes(0) == 8
    assert auto_n_planes(1_000) == 8
    assert auto_n_planes(10**9) == 20
    assert auto_n_planes(10**9, target_bucket_rows=1) == 30


def test_lsh_topk_requires_and_checks_dim(spark):
    """dim is mandatory (no hidden head() job) and wrong-length vectors
    raise instead of silently collapsing into one bucket."""
    import pytest as _pytest

    from genesis_spark.operators.similarity import lsh_topk
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<float>")
    with _pytest.raises(TypeError, match="dim"):
        lsh_topk(emb, emb, k=2)
    with _pytest.raises(Exception, match="vector length"):
        lsh_topk(emb, emb.limit(2), k=2, dim=4, n_planes=4).collect()
    ok = lsh_topk(emb, emb.limit(2), k=2, dim=3, n_planes=4)
    assert ok.count() >= 0


def test_bloom_broadcast_size_cap_falls_back_to_maybe(spark):
    """Above the broadcast byte cap the filter must not ship: every row is
    flagged maybe-seen (degrading to the exact anti-join downstream) and
    no row is ever marked definitely-new incorrectly."""
    seen = spark.createDataFrame(
        [(f"http://seen{i}.onion",) for i in range(50)], "url string")
    bloom = B.build_bloom(seen, "url", n_shards=8, n_bits=1 << 16, k=5)
    probe = spark.createDataFrame(
        [("http://seen1.onion",), ("http://new.onion",)], "url string")
    out = {r.url: r._maybe_seen for r in
           B.filter_not_seen(probe, "url", bloom,
                             max_broadcast_bytes=16).collect()}
    assert out == {"http://seen1.onion": True, "http://new.onion": True}


def test_ivf_topk_recall_vs_brute_force(spark):
    """The coarse-quantizer ANN path (IVF-flat shape): probing 3/8 cells
    must still recover a meaningful fraction of the true top-k on the
    near-random embeddings fixture."""
    from genesis_spark.operators.similarity import cosine_topk, ivf_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(emb, q, k=5, n_centroids=8, n_probe=3,
                                dim=64).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.3, f"IVF recall {recall:.2f} < 0.3"


def test_ivf_cell_assignment_and_probe_order(spark):
    """Nearest-centroid assignment and probe ranking are exact: with
    hand-built centroids, a vector aligned to centroid j lands in cell j,
    and the probe list orders cells by cosine (ties -> lowest id)."""
    from genesis_spark.operators import similarity as S
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    df = spark.createDataFrame(
        [(0, [9.0, 1.0, 0.0]), (1, [0.0, 5.0, 1.0]), (2, [0.1, 0.2, 7.0])],
        "vec_id int, embedding array<float>")
    cells = {r.vec_id: r.cell for r in df.select(
        "vec_id", S.assign_cell_expr(F.col("embedding"), cents)
        .alias("cell")).collect()}
    assert cells == {0: 0, 1: 1, 2: 2}
    probes = {r.vec_id: r.p for r in df.select(
        "vec_id", S.probe_cells_expr(F.col("embedding"), cents, 2)
        .alias("p")).collect()}
    assert probes[0] == [0, 1]          # x-dominant, then y
    assert probes[2] == [2, 1]          # z-dominant, then y
    import pytest as _pt
    from genesis_spark.operators.similarity import ivf_topk
    with _pt.raises(TypeError):
        ivf_topk(df, df, k=2)           # dim is required


# ---------------------------------------------------------------------------
# interleaved span synthesis (input_hint table shape)
# ---------------------------------------------------------------------------

def test_interleaved_docs_shape_and_roundtrip(spark):
    from genesis_spark.sources.interleaved import (explode_spans,
                                                   interleaved_docs)
    texts = [
        ("d1", "the quick brown fox jumps over the lazy dog and then "
               "runs far away across nine hills before resting at "
               "dawn near a river"),
        ("d2", "short"),
        ("d3", " ".join(f"w{i}" for i in range(24))),   # exactly 3 chunks
    ]
    docs = spark.createDataFrame(texts, "doc_id string, text string")
    il = interleaved_docs(docs)
    # exact input_hint schema
    assert il.schema.simpleString() == (
        "struct<doc_id:string,spans:array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>>")
    rows = {r.doc_id: r.spans for r in il.collect()}
    for doc_id, text in texts:
        spans = rows[doc_id]
        # offsets are the contiguous 0..n-1 interleaved sequence
        assert [s.offset for s in spans] == list(range(len(spans)))
        secs = [s for s in spans if s.kind == "section"]
        imgs = [s for s in spans if s.kind == "image"]
        # round-trip: section spans joined by ' ' restore the text exactly
        assert " ".join(s.text for s in secs) == text
        # an image follows every 3rd section, with 1-based ordinal refs
        assert len(imgs) == len(secs) // 3
        assert [s.media_ref for s in imgs] == \
            [f"{doc_id}/img/{k + 1}" for k in range(len(imgs))]
        for s in imgs:
            assert s.text is None
        for s in secs:
            assert s.media_ref is None
    # d3: 24 words -> 3 sections + 1 image after the last
    assert [s.kind for s in rows["d3"]] == \
        ["section", "section", "section", "image"]
    # exploded row form matches the flattened spans
    ex = explode_spans(il).collect()
    assert len(ex) == sum(len(v) for v in rows.values())


# ---------------------------------------------------------------------------
# connected components / cluster-level dedup
# ---------------------------------------------------------------------------

def test_connected_components_basic(spark):
    from genesis_spark.operators.cc import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long")
    got = {r.node: r.component
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_connected_components_chain_converges(spark):
    """A 12-node path graph (worst-case diameter for min-propagation) must
    still converge within the iteration cap."""
    from genesis_spark.operators.cc import connected_components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long")
    got = {r.node: r.component
           for r in connected_components(edges, max_iter=15).collect()}
    assert got == {i: 0 for i in range(12)}


def test_keep_one_per_cluster(spark):
    from genesis_spark.operators.cc import keep_one_per_cluster
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 9)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (6, 7)], "doc_a long, doc_b long")
    out = keep_one_per_cluster(docs, pairs).collect()
    # clusters {2,3,4} and {6,7} keep their min; singletons survive
    assert {r.doc_id for r in out} == {1, 2, 5, 6, 8}
    by_id = {r.doc_id: r.cluster_id for r in out}
    assert by_id[2] == 2 and by_id[6] == 6 and by_id[1] == 1
    # doc columns survive the round trip
    assert {r.text for r in out} == {"t1", "t2", "t5", "t6", "t8"}


def test_connected_components_random_graph_vs_union_find(spark):
    """Seeded pseudo-random graph (60 nodes, 70 edges) vs a pure-Python
    union-find oracle — labels must agree exactly (component = min id)."""
    from genesis_spark.operators.cc import connected_components

    # deterministic LCG so the graph is identical on every run
    state = 42
    def rnd(n):
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return state % n

    edges = [(rnd(60), rnd(60)) for _ in range(70)]
    parent = list(range(60))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for e in edges for n in e if e[0] != e[1]}
    want = {n: find(n) for n in touched}
    # min-id canonical form (union-find roots are min-joined above)
    got = {r.node: r.component for r in connected_components(
        spark.createDataFrame(edges, "src long, dst long")).collect()}
    assert got == want


def test_valid_e164_national_plan_lengths():
    """T5 round-3 tightening: national-significant-number length ranges
    from the published ITU plan summaries, on top of the CC-prefix check."""
    from genesis_spark.functions.text import valid_e164
    assert valid_e164("12025550123")           # NANP NSN exactly 10
    assert not valid_e164("120255012")         # NANP NSN 8 -> rejected
    assert not valid_e164("3361234567")        # FR NSN 8 -> rejected
    assert valid_e164("33612345678")           # FR NSN 9
    assert not valid_e164("861391234567890")   # CN NSN 13 > 12
    assert valid_e164("49301234")              # DE floor NSN 6
    assert valid_e164("212612345678")          # 3-digit CC (MA), NSN 9
    assert not valid_e164("21261234567")       # MA NSN 8 -> rejected


def test_duplicated_spans_exact_substr(spark):
    """duplicated_spans == brute-force pure-Python oracle (mark every pos
    whose 40-gram occurs >= 2 times corpus-wide, merge intervals)."""
    from genesis_spark.operators.dedup import duplicated_spans

    shared = "the quick brown fox jumps over the lazy dog again and onward"
    rep = "abcdefghij" * 5  # 50 chars, self-similar
    docs = [
        (1, shared + " unique tail one 11111"),
        (2, shared + " other ending two 2222"),
        (3, rep + rep),            # intra-doc repeat
        (4, "entirely distinct text with no forty char twin anywhere x"),
        (5, "short"),              # below k, ignored
    ]
    k = 40
    from collections import Counter
    cnt = Counter()
    for _, t in docs:
        for p in range(len(t) - k + 1):
            cnt[t[p:p + k]] += 1
    expect = []
    for i, t in docs:
        marked = [p for p in range(max(0, len(t) - k + 1))
                  if len(t) >= k and cnt[t[p:p + k]] >= 2]
        spans, cur = [], None
        for p in marked:
            if cur is not None and p <= cur[1]:
                cur = (cur[0], p + k)
            else:
                if cur:
                    spans.append(cur)
                cur = (p, p + k)
        if cur:
            spans.append(cur)
        expect += [(i, s, e, e - s) for s, e in spans]

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(tuple(r) for r in duplicated_spans(df, k=k).collect())
    assert got == sorted(expect)
    assert any(r[0] == 3 for r in got)          # intra-doc repeat found
    assert {r[0] for r in got} >= {1, 2, 3}
    assert all(r[0] != 4 for r in got) and all(r[0] != 5 for r in got)


def _robots_ref_admit(shape: str, path: str, agent: str = "genesis") -> bool:
    """Pure-Python RFC 9309 reference: group assembly, specific-over-star
    selection, longest-match with allow tie-break, '*'/'$' wildcards."""
    import re
    groups, cur, last_ua = [], None, False
    for raw in re.split(r"\r?\n", shape):
        line = re.sub(r"#.*", "", raw).strip()
        if ":" not in line:
            last_ua = False
            continue
        f, v = line.split(":", 1)
        f, v = f.strip().lower(), v.strip()
        if f == "user-agent":
            if not last_ua:
                cur = {"agents": [], "rules": []}
                groups.append(cur)
            cur["agents"].append(v.lower())
            last_ua = True
        else:
            if f in ("allow", "disallow") and cur is not None and v:
                cur["rules"].append((f == "allow", v))
            last_ua = False
    has = any(agent in g["agents"] for g in groups)
    if has:
        sel = [g for g in groups if agent in g["agents"]]
    else:
        sel = [g for g in groups if "*" in g["agents"]]
    best = None
    for g in sel:
        for allow, rp in g["rules"]:
            anchor = rp.endswith("$")
            core = rp[:-1] if anchor else rp
            pat = ("^" + re.escape(core).replace(r"\*", ".*")
                   + ("$" if anchor else ""))
            if re.search(pat, path):
                key = (len(rp), allow)
                if best is None or key > best[0]:
                    best = (key, allow)
    return True if best is None else best[1]


def test_robots_rfc_parser_and_longest_match(spark):
    """parse_robots_rules + admit_rfc vs a pure-Python RFC 9309 reference
    on edge cases beyond the oracle fixtures: equal-length allow/disallow
    tie (allow wins), rules before any User-agent line (ignored),
    unmatched-agent group (excluded), case-insensitive agent token."""
    from genesis_spark.crawler.politeness import admit_rfc, parse_robots_rules

    shapes = {
        "t1": "Disallow: /orphan/\nUser-agent: GENESIS\n"
              "Disallow: /a/\nAllow: /b/\n",           # orphan rule ignored
        "t2": "User-agent: *\nDisallow: /x/\nAllow: /y/\n"
              "User-agent: other\nDisallow: /\n",      # 'other' group n/a
        "t3": "User-agent: genesis\nDisallow: /tie/\nAllow: /tie/\n",  # tie
        "t4": "User-agent: genesis\nDisallow: /*/secret\n",  # mid wildcard
    }
    paths = ["/orphan/p", "/a/p", "/b/p", "/x/p", "/y/p", "/tie/p",
             "/any/secret", "/plain"]
    ref = _robots_ref_admit

    robots = spark.createDataFrame(list(shapes.items()),
                                   "host_key string, robots_txt string")
    cand = spark.createDataFrame(
        [(f"{h}:{p}", h, p) for h in shapes for p in paths],
        "cid string, host_key string, path string")
    rules = parse_robots_rules(robots, agent="genesis")
    got = {r.cid: r.admitted
           for r in admit_rfc(cand, rules, key_cols=["cid"]).collect()}
    for h, s in shapes.items():
        for p in paths:
            assert got[f"{h}:{p}"] == ref(s, p), (h, p)
    assert got["t3:/tie/p"] is True          # tie -> allow
    assert got["t1:/orphan/p"] is True       # orphan rule ignored
    assert got["t4:/any/secret"] is False    # mid-string wildcard


def test_salted_join_equals_plain_join(spark):
    """salted_join == plain join (inner + left), with the salt visible in
    the join keys and no broadcast of the salted dim."""
    from genesis_spark.operators.joins import salted_join

    big = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        F.col("id").alias("rid"))
    small = spark.createDataFrame(
        [("0", "x"), ("1", "y")], "k string, v string")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for how in ("inner", "left"):
            got = sorted(tuple(r) for r in
                         salted_join(big, small, "k", salt_src="rid",
                                     n_salt=4, how=how).collect())
            exp = sorted(tuple(r) for r in
                         big.join(small, "k", how).collect())
            assert got == exp, how
        j = salted_join(big, small, "k", salt_src="rid", n_salt=4)
        import io, contextlib
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        p = buf.getvalue()
        assert "_salt" in p and "BroadcastHashJoin" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
    import pytest as _pt
    with _pt.raises(ValueError):
        salted_join(big, small, "k", salt_src="k")
    with _pt.raises(ValueError):
        salted_join(big, small, "k", salt_src="rid", how="full")


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed+sorted on the key join with NO Exchange and no
    Sort in the plan — the co-located-join layout the 100 TB frontier
    joins rely on (bucket scan IS the shuffle, paid at write time)."""
    from genesis_spark.operators.joins import bucketed_join, write_bucketed

    a = spark.range(1000).select(F.col("id").alias("k"),
                                 (F.col("id") * 2).alias("va"))
    b = spark.range(500).select(F.col("id").alias("k"),
                                (F.col("id") * 3).alias("vb"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(a, "tb_a", "k", 8, path=str(tmp_path / "a"))
        write_bucketed(b, "tb_b", "k", 8, path=str(tmp_path / "b"))
        j = bucketed_join(spark, "tb_a", "tb_b", "k")
        import io, contextlib
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        p = buf.getvalue()
        assert "Exchange" not in p, p
        assert "SelectedBucketsCount" in p or "Bucketed: true" in p
        got = sorted((r.k, r.va, r.vb) for r in j.collect())
        assert got == [(i, 2 * i, 3 * i) for i in range(500)]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS tb_a")
        spark.sql("DROP TABLE IF EXISTS tb_b")

def test_robots_rfc_randomized_vs_reference(spark):
    """30 pseudo-random robots.txt files (seeded grammar: UA lines for
    genesis/*/other, allow/disallow over a path pool with wildcards and
    anchors, comments, garbage lines, blank lines, CRLF) x 8 paths — the
    Spark parser+admitter must agree with the pure-Python RFC reference
    on all 240 decisions, in ONE Spark job."""
    import random
    from genesis_spark.crawler.politeness import admit_rfc, parse_robots_rules

    rng = random.Random(42)
    path_pool = ["/a/", "/a/b/", "/*.zip$", "/x", "/x/*/y", "/", "",
                 "/long/prefix/rule/", "/*.gif"]
    ua_pool = ["genesis", "GENESIS", "*", "other", "foo-bot"]

    def gen_shape():
        lines = []
        for _ in range(rng.randint(0, 14)):
            r = rng.random()
            if r < 0.3:
                lines.append(f"User-agent: {rng.choice(ua_pool)}")
            elif r < 0.55:
                lines.append(f"Disallow: {rng.choice(path_pool)}")
            elif r < 0.75:
                lines.append(f"Allow: {rng.choice(path_pool)}")
            elif r < 0.85:
                lines.append(f"# comment {rng.randint(0, 9)}")
            elif r < 0.92:
                lines.append("")
            else:
                lines.append(rng.choice(["garbage line", "Crawl-delay: 5",
                                         "Sitemap: http://x/s.xml"]))
        eol = rng.choice(["\n", "\r\n"])
        return eol.join(lines) + eol

    shapes = {f"r{i}": gen_shape() for i in range(30)}
    paths = ["/a/p", "/a/b/c", "/f.zip", "/f.zipx", "/x/q/y", "/x",
             "/long/prefix/rule/deep", "/img.gif"]

    robots = spark.createDataFrame(list(shapes.items()),
                                   "host_key string, robots_txt string")
    cand = spark.createDataFrame(
        [(f"{h}|{p}", h, p) for h in shapes for p in paths],
        "cid string, host_key string, path string")
    rules = parse_robots_rules(robots, agent="genesis")
    got = {r.cid: r.admitted
           for r in admit_rfc(cand, rules, key_cols=["cid"]).collect()}
    mismatches = [(h, p, got[f"{h}|{p}"], _robots_ref_admit(shapes[h], p))
                  for h in shapes for p in paths
                  if got[f"{h}|{p}"] != _robots_ref_admit(shapes[h], p)]
    assert not mismatches, mismatches[:5]
    assert len(got) == 240


# ---------------------------------------------------------------- HLL sketch

def _hll_py_rank(hexrest: str) -> int:
    """Pure-Python oracle for sketches._rank_expr: leading-zero bits of
    the 52-bit value + 1 (all-zero -> 53)."""
    v = int(hexrest, 16)
    if v == 0:
        return 53
    return 52 - v.bit_length() + 1


def test_hll_rank_matches_python_oracle(spark):
    import hashlib

    from genesis_spark.operators.sketches import hll_registers

    vals = [f"u{i}" for i in range(500)] + ["zero-ish"]
    df = spark.createDataFrame([(1, v) for v in vals], "k int, v string")
    regs = {r.bucket: r.r for r in
            hll_registers(df, ["k"], "v").collect()}
    py = {}
    for v in vals:
        h = hashlib.md5(v.encode()).hexdigest()
        b = int(h[:2], 16)
        py[b] = max(py.get(b, 0), _hll_py_rank(h[2:15]))
    assert regs == py


def test_hll_registers_merge_equals_direct(spark):
    """Union of two register tables + max-per-bucket == registers of the
    unioned data — the mergeable-state property the docstring promises."""
    from genesis_spark.operators.sketches import hll_registers

    a = spark.createDataFrame([(1, f"a{i}") for i in range(300)],
                              "k int, v string")
    b = spark.createDataFrame([(1, f"b{i}") for i in range(300)] +
                              [(1, f"a{i}") for i in range(100)],
                              "k int, v string")
    merged = (hll_registers(a, ["k"], "v")
              .unionByName(hll_registers(b, ["k"], "v"))
              .groupBy("k", "bucket").agg(F.max("r").alias("r")))
    direct = hll_registers(a.unionByName(b), ["k"], "v")
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, direct.collect())))


def test_hll_estimate_within_error_bound(spark):
    """m=256 -> standard error 1.04/sqrt(256) = 6.5%; assert the estimate
    of 5000 distinct values lands within 4 sigma."""
    from genesis_spark.operators.sketches import hll_distinct

    n = 5000
    df = spark.createDataFrame([(1, f"url://{i}") for i in range(n)],
                               "k int, v string")
    est = hll_distinct(df, ["k"], "v").collect()[0].hll_estimate
    assert abs(est - n) / n < 4 * 1.04 / 16.0, est


# ----------------------------------------------------------- CMS sketch

def _cms_py(vals):
    """Pure-Python Count-Min oracle matching sketches._cms_col."""
    import hashlib

    from genesis_spark.operators.sketches import CMS_D, CMS_W

    counts = {}
    for v in vals:
        for j in range(CMS_D):
            h = hashlib.md5(f"{j}:{v}".encode()).hexdigest()
            col = int(h[:8], 16) % CMS_W
            counts[(j, col)] = counts.get((j, col), 0) + 1
    return counts


def test_cms_counts_match_python_oracle(spark):
    from genesis_spark.operators.sketches import cms_counts

    vals = [f"host{i % 37}" for i in range(1000)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {(r.j, r.col): r.cnt for r in cms_counts(df, "v").collect()}
    assert got == _cms_py(vals)


def test_cms_estimate_never_underestimates(spark):
    from collections import Counter

    from genesis_spark.operators.sketches import cms_counts, cms_estimate

    # 2000 distinct keys in 4x512 counters -> guaranteed collisions,
    # so this exercises the over-count (never under) property for real.
    vals = [f"u{i % 2000}" for i in range(6000)]
    truth = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    counts = cms_counts(df, "v")
    keys = spark.createDataFrame([(k,) for k in truth], "v string")
    est = {r.v: r.cms_estimate
           for r in cms_estimate(counts, keys, "v").collect()}
    assert all(est[k] >= n for k, n in truth.items())
    assert any(est[k] > n for k, n in truth.items())  # collisions happened
    # at ~4 keys/column the chance of a collision-free row is
    # (1-1/512)^1999 ~ 2%, so ~8% of keys over 4 rows land exact
    assert sum(est[k] == n for k, n in truth.items()) > 50


def test_cms_merge_equals_direct(spark):
    """Summing two count tables per (j, col) == the sketch of the
    unioned data — the additive-merge property."""
    import pyspark.sql.functions as F

    from genesis_spark.operators.sketches import cms_counts

    a = spark.createDataFrame([(f"a{i % 50}",) for i in range(400)],
                              "v string")
    b = spark.createDataFrame([(f"a{i % 80}",) for i in range(400)],
                              "v string")
    merged = (cms_counts(a, "v").unionByName(cms_counts(b, "v"))
              .groupBy("j", "col").agg(F.sum("cnt").alias("cnt")))
    direct = cms_counts(a.unionByName(b), "v")
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, direct.collect())))


# ---------------------------------------------------------------- Z-order

def test_zorder_key_matches_python_oracle(spark):
    from genesis_spark.operators.zorder import zorder_key, zorder_py

    rows = [(i, (i * 7919) % 65536, (i * 104729) % 65536)
            for i in range(500)]
    df = spark.createDataFrame(rows, "i int, a long, b long")
    got = {r.i: r.z for r in df.select(
        "i", zorder_key(F.col("a"), F.col("b")).alias("z")).collect()}
    for i, a, b in rows:
        assert got[i] == zorder_py(a, b), (i, a, b)


def test_zorder_layout_prunes_both_dimensions(spark):
    """The locality claim itself: chunk a 64k-row table into 256
    'files' under three sort orders and count how many files a
    16/65536-wide range predicate on EACH dimension would touch
    (file min/max envelope overlap — what Iceberg pruning consumes).
    Time-sorted layout serves time but dies on host; z-order serves
    BOTH at <= 10% of files."""
    from genesis_spark.operators.zorder import zorder_py

    n, files = 1 << 16, 256
    rows = [((i * 7919) % 65536, (i * 31) % 65536) for i in range(n)]

    def touched(sort_key, dim):
        order = sorted(range(n), key=sort_key)
        per, hit = n // files, 0
        for f in range(files):
            chunk = [rows[j][dim] for j in order[f * per:(f + 1) * per]]
            lo, hi = min(chunk), max(chunk)
            if lo <= 4095 and hi >= 0:          # predicate: dim < 4096
                hit += 1
        return hit / files

    by_time = lambda j: rows[j][1]
    by_z = lambda j: zorder_py(rows[j][0], rows[j][1])
    # time-sorted: time predicate prunes hard, host predicate hits all
    assert touched(by_time, 1) <= 0.10
    assert touched(by_time, 0) >= 0.90
    # z-order: BOTH predicates prune to <=25% of files (16x16 grid ->
    # a 1/16 slab in either dimension touches ~1/16 + envelope slop)
    assert touched(by_z, 0) <= 0.25
    assert touched(by_z, 1) <= 0.25


# ---------------------------------------------------------------- sitemap

_SITEMAP_XML = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>  http://a.onion/1  </loc>
    <lastmod>2024-03-01</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc>http://a.onion/2</loc></url>
  <url><lastmod>2024-01-01</lastmod></url>
</urlset>"""

_SITEMAP_INDEX = """<sitemapindex>
  <sitemap><loc>http://a.onion/sitemap1.xml</loc></sitemap>
  <sitemap><lastmod>2024-01-01</lastmod>
    <loc>http://a.onion/sitemap2.xml</loc></sitemap>
</sitemapindex>"""


def test_sitemap_parse_fields_defaults_and_drops(spark):
    from genesis_spark.sources.sitemap import parse_sitemap

    df = spark.createDataFrame([("s1", _SITEMAP_XML)],
                               "src string, content string")
    rows = sorted(parse_sitemap(df, keep_cols=("src",)).collect(),
                  key=lambda r: r.loc)
    assert len(rows) == 2                       # loc-less block dropped
    assert rows[0].loc == "http://a.onion/1"    # whitespace trimmed
    assert rows[0].lastmod == "2024-03-01"
    assert rows[0].changefreq == "daily"
    assert rows[0].priority == 0.8
    assert rows[1].loc == "http://a.onion/2"
    assert rows[1].lastmod is None
    assert rows[1].changefreq is None
    assert rows[1].priority == 0.5              # spec default


def test_sitemap_index_locs(spark):
    from genesis_spark.sources.sitemap import sitemap_index_locs

    df = spark.createDataFrame([(_SITEMAP_INDEX,)], "content string")
    locs = sorted(r.loc for r in sitemap_index_locs(df).collect())
    assert locs == ["http://a.onion/sitemap1.xml",
                    "http://a.onion/sitemap2.xml"]


# -------------------------------------------------------------- freshness

def test_change_rate_schedule_matches_python(spark):
    import math

    from genesis_spark.crawler.freshness import change_rate_schedule

    # url -> list of (round, changed); covers x=0 (never changed),
    # x=n (changed every fetch), and middling rates
    hist = {"u0": [(1, 0), (2, 0), (3, 0)],
            "u1": [(1, 1), (2, 1)],
            "u2": [(1, 1), (2, 0), (3, 0), (4, 1), (5, 0)],
            "u3": [(7, 1)]}
    rows = [(u, r, c) for u, fs in hist.items() for r, c in fs]
    df = spark.createDataFrame(rows, "url string, round int, changed int")
    got = {r.url: r for r in
           change_rate_schedule(df, ["url"], "changed", "round",
                                max_interval=64).collect()}
    for u, fs in hist.items():
        n, x = len(fs), sum(c for _, c in fs)
        rate = round(-math.log((n - x + 0.5) / (n + 0.5)), 6)
        if rate <= 0:
            iv = 64
        else:
            iv = min(64, max(1, math.ceil(round(1.0 / rate, 6))))
        r = got[u]
        assert (r.n_fetches, r.n_changes) == (n, x)
        assert r.change_rate == rate, u
        assert r.next_interval == iv, u
        assert r.next_due == max(rr for rr, _ in fs) + iv
    # sanity: never-changing page waits longest, always-changing shortest
    assert got["u0"].next_interval == 64
    assert got["u1"].next_interval < got["u2"].next_interval


# --------------------------------------------------------- histogram sketch

def test_hist_bins_merge_equals_direct(spark):
    from genesis_spark.operators.sketches import hist_bins

    a = spark.createDataFrame([(1, float(i % 97)) for i in range(500)],
                              "k int, v double")
    b = spark.createDataFrame([(1, float(i % 61)) for i in range(500)],
                              "k int, v double")
    merged = (hist_bins(a, ["k"], "v", 0.0, 128.0, 64)
              .unionByName(hist_bins(b, ["k"], "v", 0.0, 128.0, 64))
              .groupBy("k", "bin").agg(F.sum("cnt").alias("cnt")))
    direct = hist_bins(a.unionByName(b), ["k"], "v", 0.0, 128.0, 64)
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, direct.collect())))


def test_hist_quantile_close_to_exact_and_clamps(spark):
    from genesis_spark.operators.sketches import hist_bins, hist_quantile

    vals = [float(i) for i in range(1000)] + [-50.0, 9999.0]  # clampers
    df = spark.createDataFrame([(1, v) for v in vals], "k int, v double")
    bins = hist_bins(df, ["k"], "v", 0.0, 1000.0, 100)   # width 10
    p50 = hist_quantile(bins, ["k"], 0.5, 0.0, 1000.0, 100) \
        .collect()[0].quantile_est
    # exact median of 0..999 (+2 clamped outliers) is ~500; one bin is
    # 10 wide, so the interpolated estimate must land within one bin
    assert abs(p50 - 500.0) <= 10.0, p50
    # out-of-range values landed in edge bins, not dropped
    total = sum(r.cnt for r in bins.collect())
    assert total == len(vals)


def test_random_projection_matches_numpy(spark):
    """RP codes equal floor(250 * S @ v) for the deterministic sign
    matrix, and nothing in the plan leaves codegen."""
    import math

    import numpy as np

    from genesis_spark.operators import similarity as SIM

    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.randn(8).astype(np.float32)])
            for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {r.vec_id: list(r.rp_codes)
           for r in SIM.random_projection(
               df, out_dim=4, dim=8, sign_table=7).collect()}
    signs = np.array(SIM.hyperplane_signs(7, 4, 8))
    for vid, v in vecs:
        exp = [int(math.floor(250.0 * float(np.dot(
            np.asarray(v, dtype=np.float64), s)))) for s in signs]
        assert out[vid] == exp, vid
    explained = SIM.random_projection(df, out_dim=4, dim=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in explained


def test_corpus_compact_bin_boundaries(spark):
    """Greedy running-sum packing: a doc goes to the file its
    bytes-BEFORE land in, so every file except a partition's last holds
    >= target bytes only via its final doc's overflow — no file starts
    past the target boundary, no doc is split, doc order is preserved."""
    from genesis_spark import queries as Q

    rows = [("a", i, sz) for i, sz in
            enumerate([30000, 30000, 30000, 70000, 10, 10])] \
        + [("b", 10, 200000)]
    df = spark.createDataFrame(rows, "source string, doc_id long, "
                                     "n_chars long")
    import genesis_spark.queries as qq
    target = qq._COMPACT_TARGET  # 65536
    w = __import__("pyspark").sql.Window.partitionBy("source") \
        .orderBy("doc_id").rowsBetween(-(1 << 30), 0)
    from pyspark.sql import functions as F
    plan = (df.select("source", "doc_id", "n_chars",
                      F.floor((F.sum("n_chars").over(w) - F.col("n_chars"))
                              / F.lit(target)).alias("file_id"))
            .collect())
    got = {(r.source, r.doc_id): r.file_id for r in plan}
    # a: cum-before 0,30000,60000,90000,160000,160010 -> files 0,0,0,1,2,2
    assert [got[("a", i)] for i in range(6)] == [0, 0, 0, 1, 2, 2]
    # b: single oversized doc still lands alone in file 0 (never split)
    assert got[("b", 10)] == 0


def test_merge_upsert_four_branches(spark):
    """All four MERGE INTO branches in one tiny frame: matched update,
    matched delete, unmatched insert, tombstone for an absent key (a
    no-op), and a base row with no update passing through untouched."""
    from genesis_spark.operators.joins import merge_upsert

    base = spark.createDataFrame(
        [("a", 1, "pending"), ("b", 2, "pending"), ("c", 3, "pending")],
        "url string, prio long, state string")
    upd = spark.createDataFrame(
        [("a", 10, "done", "U"),     # matched update
         ("b", 0, "done", "D"),      # matched delete
         ("d", 40, "done", "U"),     # unmatched insert
         ("e", 0, "done", "D")],     # tombstone for absent key: no-op
        "url string, prio long, state string, op string")
    got = {r.url: (r.prio, r.state)
           for r in merge_upsert(base, upd, "url").collect()}
    assert got == {"a": (10, "done"),
                   "c": (3, "pending"),
                   "d": (40, "done")}


def test_merge_upsert_missing_value_column_raises(spark):
    from genesis_spark.operators.joins import merge_upsert

    base = spark.createDataFrame([("a", 1)], "url string, prio long")
    upd = spark.createDataFrame([("a", "U")], "url string, op string")
    try:
        merge_upsert(base, upd, "url")
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "prio" in str(e)

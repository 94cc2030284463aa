"""Block-161 operators: CDX temporal collapse, feed poll scheduling,
watermark-delay planning."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import duckdb
import pytest

pytestmark = pytest.mark.block

from genesis_spark.queries import (ORACLE_STREAM_WATERMARK_PLAN,
                                   q_cdx_collapse, q_feed_poll_schedule,
                                   q_stream_watermark_plan)

SF = "/root/testdata/sf0.001"


def test_cdx_collapse_replay(spark):
    ks = sorted(r.o_orderkey for r in
                spark.read.parquet(f"{SF}/orders.parquet")
                .select("o_orderkey").collect())
    caps = defaultdict(list)
    for k in ks:
        caps[k % 300].append((k // 300, f"c{k % 300}-{k // 900}"))
    got = {r.url_key: r for r in q_cdx_collapse(spark, SF).collect()}
    assert set(got) == set(caps)
    for u, lst in caps.items():
        lst.sort()
        runs, cur = [], None
        for _, d in lst:
            if d != cur:
                runs.append(0)
                cur = d
            runs[-1] += 1
        r = got[u]
        assert (r.n_captures, r.n_runs, r.max_run_len) == \
            (len(lst), len(runs), max(runs)), u
        assert r.saved_ppm == (len(lst) - len(runs)) * 1_000_000 // len(lst)
    # digests rotate every 3rd capture -> real multi-capture runs exist
    assert any(r.max_run_len >= 2 for r in got.values())
    assert any(r.n_runs >= 2 for r in got.values())


def test_feed_poll_schedule_replay(spark):
    ev = [(r.event_id, r.ts) for r in
          spark.read.parquet(f"{SF}/events.parquet")
          .select("event_id", "ts").collect()]
    per = defaultdict(list)
    for eid, ts in ev:
        per[f"f{eid % 40}"].append(int(ts.timestamp()))
    got = {r.feed: r for r in q_feed_poll_schedule(spark, SF).collect()}
    assert set(got) == set(per)
    for feed, ts in per.items():
        span = max(ts) - min(ts)
        gap = span // max(len(ts) - 1, 1)
        rec = min(max(gap // 2, 300), 86400)
        r = got[feed]
        assert (r.n_posts, r.span_s, r.mean_gap_s, r.rec_poll_s,
                r.polls_per_day) == \
            (len(ts), span, gap, rec, 86400 // rec), feed
        assert 300 <= r.rec_poll_s <= 86400


def test_watermark_plan_replay(spark):
    ev = [(r.event_id, r.event_type) for r in
          spark.read.parquet(f"{SF}/events.parquet")
          .select("event_id", "event_type").collect()]
    mod = {"signup": 7, "click": 25, "purchase": 13, "view": 5,
           "error": 31}
    delays = defaultdict(list)
    for eid, t in ev:
        m = mod.get(t, 31)
        delays[t].append((eid % m) ** 2)
    got = {r.event_type: r for r in
           q_stream_watermark_plan(spark, SF).collect()}
    assert set(got) == set(delays)
    for t, ds in delays.items():
        ds.sort()
        n = len(ds)
        p95 = ds[math.ceil(n * 0.95) - 1]
        chosen = None
        for wm in [10, 30, 60, 120, 300, 900]:
            late = sum(1 for d in ds if d > wm)
            if late * 1_000_000 // n <= 50_000:
                chosen = wm
                break
        late_at = sum(1 for d in ds if d > chosen) * 1_000_000 // n
        r = got[t]
        assert (r.n_events, r.p95_delay_s, r.chosen_wm_s, r.late_ppm) == \
            (n, p95, chosen, late_at), t
    # the plan must actually differentiate: types choose DIFFERENT delays
    assert len({r.chosen_wm_s for r in got.values()}) >= 3


def test_watermark_plan_oracle_types(spark):
    """The DuckDB oracle's columns have the Spark row's types: a HUGEINT
    sum would hash differently from Spark's BIGINT."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{SF}/events.parquet'")
    rel = con.sql(ORACLE_STREAM_WATERMARK_PLAN)
    duck = {"VARCHAR": "string", "BIGINT": "bigint", "INTEGER": "int"}
    got = [(c, duck.get(str(t), str(t))) for c, t in zip(rel.columns,
                                                          rel.types)]
    want = [(f.name, f.dataType.simpleString()) for f in
            q_stream_watermark_plan(spark, SF).schema.fields]
    assert got == want

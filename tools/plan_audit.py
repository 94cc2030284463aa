"""Registry-wide physical-plan hygiene audit.

For EVERY row in the __spark_entry__ registry, build the query's physical
plan at [sf_dir] and grade it against the engine's hot-path rules:

- ``BatchEvalPython`` (row-at-a-time Python) is banned everywhere — any
  occurrence fails the audit.
- Arrow-batched Python nodes (``ArrowEvalPython``, ``MapInPandas``,
  ``FlatMapGroupsInPandas``, ``FlatMapCoGroupsInPandas``,
  ``ApplyInPandasWithState``) are allowed ONLY for rows whose kernel is
  sanctioned non-SQL work (HTML extraction, codec plumbing, cuckoo table
  arithmetic, punycode) — the PANDAS_SANCTIONED allowlist below, each
  entry carrying its justification. An Arrow node in any other row means
  a kernel leaked into a path Catalyst should own.
- Plans that scan the parquet tables must show column pruning: a scan
  whose ReadSchema carries every table column while the query projects a
  strict subset is flagged (WARN, not fail — a handful of rows genuinely
  consume whole rows).
- An UNPARTITIONED window (``Window.orderBy`` with no partitionBy) over
  non-reduced input is the one scale-killer Catalyst executes silently:
  it moves the whole input to a single task (round-4 verdict item #1).
  The rule walks the optimized logical plan; an unpartitioned Window
  node FAILS unless every path from it to a leaf passes through a
  reducer (Aggregate / WindowGroupLimit / Limit / Deduplicate — i.e.
  the window's input is pre-aggregated or top-k-pruned) or reaches only
  literal-bounded leaves, or the row is in WINDOW_SANCTIONED below with
  a justification. The scale-safe alternative for base-scale data is
  ``operators/seq.with_global_running_sum`` / ``with_global_seq`` /
  ``with_global_lead``.

Writes PLAN_AUDIT.md (one row per query) and exits non-zero on any FAIL.
Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# rows whose plans legitimately carry Arrow-batched Python, and why
PANDAS_SANCTIONED = {
    "leak_dispatch": "per-site HTML card extraction (real parser kernels)",
    "leak_dispatch2": "per-site HTML card extraction",
    "leak_dispatch3": "per-site HTML card extraction",
    "leak_collect": "dynamic search-flow collector (DOM scrape kernel)",
    "media_decode": "image container header decode (binary kernel)",
    "media_resize": "pixel-buffer resize (numpy kernel)",
    "media_letterbox": "row-uniformity bar scan over pixel buffers "
                       "(numpy kernel)",
    "media_audio_resample": "integer linear-interp PCM resample "
                            "(numpy kernel)",
    "media_patches": "ViT patch pad/reshape stats (numpy kernel)",
    "media_equalize": "histogram-equalization LUT over pixel buffers "
                      "(numpy kernel)",
    "media_phash": "perceptual hash over pixel buffers",
    "media_entropy_filter": "per-image pixel-entropy gate over the same "
                            "gray8 bincount Arrow kernel as "
                            "media_color_histogram — pixels never shuffle",
    "media_color_histogram": "per-image intensity bincount "
                             "(numpy kernel; ppm window is JVM)",
    "media_phash_pairs": "same _phash_segs pixel-buffer kernel as "
                         "media_phash; pairing itself is JVM band joins",
    "media_phash_star": "same _phash_segs pixel-buffer kernel; star "
                        "collapse + rep band join are JVM",
    "media_framesample": "video frame sampling (binary kernel)",
    "media_scenes": "frame-delta scene cuts (numpy kernel)",
    "media_audio": "PCM16 windowed energy/ZCR (numpy kernel)",
    "media_audio_fingerprint": "PCM16 window-energy fingerprint fold "
                               "(numpy kernel; dedup groupBy is JVM)",
    "media_vad": "voice-activity segmentation over PCM16",
    "media_audio_qc": "PCM16 clipping/DC-offset census (numpy kernel)",
    "warc_ingest": "WARC record framing (byte-stream kernel)",
    "warc_wet_derive": "same WARC framing kernel; WET/WAT derivation "
                       "itself is codegen",
    "url_idn_normalize": "RFC 3490 punycode via stdlib idna codec",
    "stream_dedup": "applyInPandasWithState custom stateful URL-seen",
    "stream_leaky_bucket": "applyInPandasWithState leaky-bucket limiter "
                           "(two scalars of state per host)",
    "seen_anti_join_cuckoo": "cuckoo shard build/probe (numpy tables)",
    "spans_pipeline": "packing stage reuses the multimodal kernels",
}

PY_ROW_NODES = ("BatchEvalPython",)
PY_ARROW_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                  "FlatMapCoGroupsInPandas", "ApplyInPandasWithState",
                  "MapGroupsInPandas")

# rows whose plans legitimately carry an unpartitioned window over
# non-reduced input, and why it is bounded anyway
WINDOW_SANCTIONED: dict[str, str] = {}

# logical nodes that bound the row count flowing up to a window: anything
# above an Aggregate is O(groups); WindowGroupLimit/Limit prune to top-k
# per map partition before the final sort; Deduplicate is an Aggregate in
# disguise. A bare LocalLimit is not one: it bounds rows per partition, so
# k x numPartitions rows still reach the window; the optimizer's top-k
# shape is GlobalLimit(LocalLimit(...)), which GlobalLimit covers.
_WINDOW_REDUCERS = ("Aggregate", "WindowGroupLimit", "GlobalLimit",
                    "Limit", "Deduplicate")
# leaves whose cardinality is a literal in the plan, not a table
_BOUNDED_LEAVES = ("LocalRelation", "OneRowRelation")


def _children(node):
    cs = node.children()
    return [cs.apply(i) for i in range(cs.size())]


def _reduced(node) -> bool:
    """True if every path from ``node`` down to a leaf passes a reducer
    (or ends in a literal-bounded leaf) — i.e. the frame a window sees is
    O(groups)/O(k), never table-scale."""
    if node.nodeName() in _WINDOW_REDUCERS:
        return True
    cs = _children(node)
    if not cs:
        return node.nodeName() in _BOUNDED_LEAVES
    return all(_reduced(c) for c in cs)


def unpartitioned_window_offenses(df) -> list[str]:
    """Names a (possibly empty) offense per unpartitioned logical Window
    node whose input is not reduced. Public so tests can aim it at a
    synthetic offender."""
    plan = df._jdf.queryExecution().optimizedPlan()
    bad = []
    stack = [plan]
    while stack:
        n = stack.pop()
        if n.nodeName() == "Window" and n.partitionSpec().isEmpty():
            child = _children(n)[0]
            if not _reduced(child):
                bad.append("unpartitioned Window over non-reduced input "
                           f"(child: {child.nodeName()})")
        stack.extend(_children(n))
    return bad


def audit(sf_dir: str) -> int:
    import __spark_entry__ as E
    from genesis_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", cores=8, shuffle_partitions=8)
    rows, n_fail = [], 0
    for name, fn in sorted(E.queries().items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — record, keep auditing
            rows.append((name, "FAIL", f"plan build error: {e}"))
            n_fail += 1
            continue
        verdicts = []
        if any(n in plan for n in PY_ROW_NODES):
            verdicts.append("row-Python (BatchEvalPython)")
        arrow = [n for n in PY_ARROW_NODES if n in plan]
        if arrow and name not in PANDAS_SANCTIONED:
            verdicts.append(f"unsanctioned Arrow Python: {'/'.join(arrow)}")
        wins = unpartitioned_window_offenses(df)
        if wins and name not in WINDOW_SANCTIONED:
            verdicts.append("; ".join(sorted(set(wins))))
        if verdicts:
            rows.append((name, "FAIL", "; ".join(verdicts)))
            n_fail += 1
        elif wins:
            rows.append((name, "ok*", f"sanctioned unpartitioned window "
                                      f"({WINDOW_SANCTIONED[name]})"))
        elif arrow:
            rows.append((name, "ok*", f"sanctioned Arrow kernel "
                                      f"({PANDAS_SANCTIONED[name]})"))
        else:
            wsc = plan.count("WholeStageCodegen")
            detail = (f"JVM-only; {wsc} codegen span(s)" if wsc else
                      "JVM-only (AQE plan; codegen spans materialize at "
                      "execution)")
            rows.append((name, "ok", detail))
    spark.stop()

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLAN_AUDIT.md"), "w") as f:
        f.write("# PLAN AUDIT — registry-wide physical-plan hygiene\n\n")
        f.write(f"Input: `{sf_dir}`. Rules: no `BatchEvalPython` anywhere; "
                f"no unpartitioned Window over non-reduced input (the "
                f"single-partition-sort scale killer — global ordering must "
                f"go through operators/seq's two-level scan, a pre-"
                f"aggregated frame, or a WindowGroupLimit top-k); "
                f"Arrow-batched Python only on the sanctioned kernel rows "
                f"(see tools/plan_audit.py).\n\n")
        f.write(f"**{len(rows)} queries audited, {n_fail} failures.**\n\n")
        f.write("| query | verdict | detail |\n|---|---|---|\n")
        for name, v, d in rows:
            f.write(f"| {name} | {v} | {d} |\n")
    print(f"{len(rows)} queries audited, {n_fail} failures")
    for name, v, d in rows:
        if v == "FAIL":
            print(f"FAIL {name}: {d}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(audit(sys.argv[1] if len(sys.argv) > 1
                   else "/root/testdata/sf0.001"))

"""Output checks, computed apart from Spark.

Every check returns a list of problems; an empty list means the output is
correct. Nothing here imports pyspark: the crawl expectations come from the
pure-Python oracle's goldens (``goldens.py``), the install expectations
from the NumPy replay of the URL generator (``inputs.UrlStream``).
"""

from __future__ import annotations

from crawlbench.inputs import bucket_of

HOST_RANK_STRIDE = 1 << 40     # engine.install_seeds_scaled: bucket * 2^40


def expected_bucketed(golden: dict, host_budget: int) -> dict:
    """Re-order the oracle's global-FIFO goldens into the order the
    bucketed install must produce.

    Per host the crawl is the oracle's; hosts are scheduled by
    ``round = bucket_rank // budget`` and, inside a round, by
    ``host_rank = bucket * 2^40 + bucket_rank``, where ``bucket_rank``
    follows (installed_at, seq) within the host's politeness bucket.
    Returns crawl_order rows with dense crawl_seq, documents keyed by the
    new crawl_seq, the seen set and the final frontier states."""
    by_bucket: dict[int, list[dict]] = {}
    for e in golden["frontier"]:
        by_bucket.setdefault(bucket_of(e["host_key"]), []).append(e)
    sched = {}
    for b, entries in by_bucket.items():
        entries.sort(key=lambda e: (e["installed_at"], e["seq"]))
        for rank, e in enumerate(entries):
            if e["host_key"] in sched:
                raise ValueError(f"two seeds share host {e['host_key']}")
            sched[e["host_key"]] = (rank // host_budget,
                                    b * HOST_RANK_STRIDE + rank)

    tasks: dict[str, list[dict]] = {}
    for r in golden["crawl_order"]:
        tasks.setdefault(r["host_key"], []).append(r)
    order, new_seq = [], {}
    for hk in sorted(tasks, key=lambda h: sched[h]):
        rnd = sched[hk][0]
        for r in tasks[hk]:
            new_seq[r["crawl_seq"]] = len(order)
            order.append((len(order), rnd, hk, r["url"], r["depth"],
                          r["attempts"], r["ok"]))
    docs = {new_seq[d["crawl_seq"]]: (d["doc_id"], d["validity_score"],
                                      _spans(d["spans"]))
            for d in golden["documents"]}
    return {"crawl_order": order,
            "documents": docs,
            "seen": sorted((s["url"], s["host_key"]) for s in golden["seen"]),
            "frontier": {e["url"]: (e["state"], e["fail_count"])
                         for e in golden["frontier"]},
            "rounds": 1 + max(v[0] for v in sched.values())}


def _spans(spans) -> tuple:
    return tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans)


def check_crawl(got: dict, expected: dict) -> list[str]:
    """``got`` holds the committed store read back as plain Python:
    crawl_order rows (crawl_seq, round, host_key, url, depth, attempts,
    ok), documents {crawl_seq: (doc_id, validity, spans)}, seen (url,
    host_key) pairs
    and frontier {url: (state, fail_count)}."""
    problems = []
    order = sorted(got["crawl_order"])
    seqs = [r[0] for r in order]
    if seqs != list(range(len(seqs))):
        problems.append(f"crawl_seq not dense: {len(seqs)} rows, "
                        f"range {seqs[:1]}..{seqs[-1:]}")
    if order != expected["crawl_order"]:
        bad = next((i for i, (g, e) in
                    enumerate(zip(order, expected["crawl_order"]))
                    if g != e), min(len(order), len(expected["crawl_order"])))
        problems.append(f"crawl_order differs from the oracle at row {bad} "
                        f"({len(order)} rows, oracle "
                        f"{len(expected['crawl_order'])})")
    if sorted(got["seen"]) != expected["seen"]:
        problems.append(f"seen set differs: {len(got['seen'])} rows, "
                        f"oracle {len(expected['seen'])}")
    if got["documents"] != expected["documents"]:
        diff = set(got["documents"].items()) ^ \
            set(expected["documents"].items())
        problems.append(f"documents differ on {len(diff)} entries "
                        f"({len(got['documents'])} docs, oracle "
                        f"{len(expected['documents'])})")
    if got["frontier"] != expected["frontier"]:
        problems.append("final frontier states differ from the oracle")
    return problems


def check_install(bucket_stats, admitted: int,
                  expected: tuple[int, int]) -> list[str]:
    """``bucket_stats`` rows are (bucket, count, min_rank, max_rank,
    sum_rank); the installed count is their total. A bucket's rank is
    dense iff it runs 0..count-1 without a repeat, which min/max/sum pin
    for row_number output."""
    problems = []
    installed = sum(r[1] for r in bucket_stats)
    if (installed, admitted) != expected:
        problems.append(f"installed/admitted {installed}/{admitted}, "
                        f"NumPy replay {expected[0]}/{expected[1]}")
    for b, n, lo, hi, s in bucket_stats:
        if lo != 0 or hi != n - 1 or s != n * (n - 1) // 2:
            problems.append(f"bucket {b} rank not dense "
                            f"(n={n}, min={lo}, max={hi}, sum={s})")
    return problems

"""Oracle goldens for the crawl workloads, cached per (seed, size).

``crawler.oracle.run`` is pure Python and costs about 7 ms a page, so its
result is kept as JSON under ``crawlbench/_cache/`` (never committed) and
reused by every later run with the same seed and graph size.

Rebuild the cache (for example after a change to the oracle or the parser):

    python3 crawlbench/goldens.py --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "_cache")


def _compute(seeds: list[dict], pages: list[dict]) -> dict:
    from genesis_spark.crawler import oracle
    res = oracle.run(seeds, pages)
    return {
        "crawl_order": res.crawl_order,
        "seen": res.seen,
        "frontier": res.frontier,
        "documents": [{"crawl_seq": d["crawl_seq"], "doc_id": d["doc_id"],
                       "validity_score": d["validity_score"],
                       "spans": d["spans"]}
                      for d in res.documents],
    }


def load(seed: int, size, seeds: list[dict], pages: list[dict],
         rebuild: bool = False) -> dict:
    """The oracle result for this input, from the cache when present."""
    path = os.path.join(CACHE, f"crawl-s{seed}-{size.key}.json")
    if not rebuild and os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    golden = _compute(seeds, pages)
    os.makedirs(CACHE, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(golden, f)
    os.replace(tmp, path)
    return golden


def main() -> None:
    sys.path[:0] = [os.path.dirname(HERE)]
    from crawlbench import inputs
    from crawlbench.run import CRAWL_GRAPH, SMOKE_GRAPH

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    for size in (CRAWL_GRAPH, SMOKE_GRAPH):
        for seed in args.seeds:
            s, p = inputs.crawl_graph(seed, size)
            g = load(seed, size, s, p, rebuild=True)
            print(f"{size.key} seed {seed}: {len(g['crawl_order'])} crawl "
                  f"rows, {len(g['documents'])} docs")


if __name__ == "__main__":
    main()

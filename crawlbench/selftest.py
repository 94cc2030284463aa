"""Self-tests of the benchmark's output checks.

Each check must pass an exact output and reject a corrupted one: a dropped
seen row, a swapped crawl_seq pair, an install count off by one, a bucket
rank with a gap. No Spark needed:

    python3 crawlbench/selftest.py

``--smoke`` also runs both workloads end to end on tiny inputs (about a
minute each) and requires a correct result with no failed operation.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE)]

from crawlbench import checks, goldens, inputs  # noqa: E402
from crawlbench.run import HOST_BUDGET, SMOKE_GRAPH  # noqa: E402


def _as_store_output(expected: dict) -> dict:
    """What a correct crawl reads back from its snapshot store."""
    return {"crawl_order": list(expected["crawl_order"]),
            "documents": dict(expected["documents"]),
            "seen": list(expected["seen"]),
            "frontier": dict(expected["frontier"])}


class CrawlCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        seeds, pages = inputs.crawl_graph(1, SMOKE_GRAPH)
        golden = goldens._compute(seeds, pages)
        cls.expected = checks.expected_bucketed(golden, HOST_BUDGET)

    def got(self):
        return copy.deepcopy(_as_store_output(self.expected))

    def test_exact_output_passes(self):
        self.assertEqual(checks.check_crawl(self.got(), self.expected), [])
        self.assertEqual(self.expected["rounds"], 1)
        self.assertEqual(len(self.expected["crawl_order"]), SMOKE_GRAPH.rows)

    def test_dropped_seen_row_rejected(self):
        got = self.got()
        got["seen"].pop(len(got["seen"]) // 2)
        self.assertTrue(checks.check_crawl(got, self.expected))

    def test_swapped_crawl_seq_pair_rejected(self):
        got = self.got()
        rows = got["crawl_order"]
        i, j = 1, len(rows) - 2
        rows[i], rows[j] = (rows[j][0],) + rows[i][1:], \
            (rows[i][0],) + rows[j][1:]
        self.assertTrue(checks.check_crawl(got, self.expected))

    def test_gap_in_crawl_seq_rejected(self):
        got = self.got()
        last = got["crawl_order"].pop()
        got["crawl_order"].append((last[0] + 1,) + last[1:])
        self.assertTrue(any("dense" in p for p in
                            checks.check_crawl(got, self.expected)))

    def test_changed_span_rejected(self):
        got = self.got()
        seq, (doc_id, score, spans) = next(iter(got["documents"].items()))
        got["documents"][seq] = (doc_id, score, spans[1:])
        self.assertTrue(checks.check_crawl(got, self.expected))

    def test_frontier_state_rejected(self):
        got = self.got()
        url = next(iter(got["frontier"]))
        state, fails = got["frontier"][url]
        got["frontier"][url] = ("pending", fails)
        self.assertTrue(checks.check_crawl(got, self.expected))


class InstallCheck(unittest.TestCase):
    def setUp(self):
        stream = inputs.UrlStream.from_seed(7, 20_000, 20_000)
        self.expected = stream.expected_counts()
        installed = self.expected[0]
        sizes = [installed // 4] * 3 + [installed - 3 * (installed // 4)]
        self.stats = [(b, n, 0, n - 1, n * (n - 1) // 2)
                      for b, n in enumerate(sizes)]

    def test_exact_output_passes(self):
        self.assertEqual(checks.check_install(self.stats, self.expected[1],
                                              self.expected), [])

    def test_install_count_off_by_one_rejected(self):
        b, n, lo, hi, s = self.stats[0]
        self.stats[0] = (b, n + 1, lo, hi + 1, s + n)    # still dense
        self.assertTrue(checks.check_install(self.stats, self.expected[1],
                                             self.expected))

    def test_admitted_off_by_one_rejected(self):
        self.assertTrue(checks.check_install(self.stats, self.expected[1] + 1,
                                             self.expected))

    def test_rank_gap_rejected(self):
        b, n, lo, hi, s = self.stats[1]
        self.stats[1] = (b, n, lo, hi + 1, s + 1)        # rank n-1 -> n
        self.assertTrue(checks.check_install(self.stats, self.expected[1],
                                             self.expected))

    def test_numpy_replay_matches_python_canonicalizer(self):
        """The replay's count equals canonicalizing every raw URL with
        the program's pure-Python canonicalizer."""
        from genesis_spark.functions import urls as U
        s = inputs.UrlStream.from_seed(3, 5_000, 0)
        raw = []
        for i in range(s.n_raw):
            host = (i * s.a + s.c) % s.hosts
            tld = ".onion" if host % 10 < 8 else \
                ".i2p" if host % 10 == 8 else ".example.com"
            scheme = "ht!tp" if i % inputs.INVALID_EVERY == 0 else \
                "HTTP" if i % 5 == 0 else "http"
            raw.append(f"{scheme}://{'www.' if i % 3 == 0 else ''}"
                       f"{'H' if i % 7 == 0 else 'h'}{host}{tld}"
                       f"{'/' if i % 4 == 0 else ''}")
        canon = {U.clean_url_one(u) for u in raw if U.is_uri_valid_one(u)}
        self.assertEqual(len(canon), s.expected_counts()[0])


def smoke() -> int:
    bad = 0
    for wl in ("crawl_rounds", "frontier_install"):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
             "--seed", "1", "--seconds", "1", "--trace", "1", "--smoke"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True,
            timeout=300)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        ok = bool(res) and res["correct"] and res["failed"] == 0
        print(f"smoke {wl}: {'ok' if ok else 'FAILED'} {res}")
        if not ok:
            print(proc.stderr[-3000:])
        bad += not ok
    return bad


if __name__ == "__main__":
    run_smoke = "--smoke" in sys.argv
    argv = [a for a in sys.argv if a != "--smoke"]
    result = unittest.main(argv=argv, exit=False).result
    failed = not result.wasSuccessful()
    if run_smoke:
        failed |= bool(smoke())
    sys.exit(1 if failed else 0)

"""Seeded benchmark inputs.

Two input families, both a pure function of ``--seed``:

* crawl graphs — the program's own synthetic web-graph generator
  (``sources.fixtures.generate``) run over a pool of onion hosts, from
  which a subset is chosen that the bucketed install schedules in one
  round and whose crawl makes a fixed number of fetch attempts, so every
  seed gives the same shape and amount of work.
* raw URL streams for the install path — generated JVM-side from
  ``spark.range`` with seed-drawn constants, and replayed in NumPy so the
  installed and admitted counts are known without Spark.
"""

from __future__ import annotations

import math
import random
import re
from dataclasses import dataclass

import numpy as np

from genesis_spark import conf
from genesis_spark.functions import urls as U
from genesis_spark.functions.hashing import xxh64
from genesis_spark.sources import fixtures

# ---------------------------------------------------------------------------
# crawl graphs
# ---------------------------------------------------------------------------

_CHILD_RE = re.compile(r"^http://[a-z2-7]+\.onion/s\d+$")


@dataclass(frozen=True)
class GraphSize:
    hosts: int           # hosts crawled, one per politeness bucket
    rows: int            # crawl_order rows (fetch attempts) they produce
    pool: int = 256      # onion hosts generated to choose from
    candidates: int = 48  # pool hosts whose crawl is sized by the oracle

    @property
    def key(self) -> str:
        return f"h{self.hosts}r{self.rows}"


def bucket_of(host_key: str) -> int:
    """Python replay of the install's ``pmod(xxhash64(host_key), B)``."""
    return xxh64(host_key) % conf.POLITENESS_BUCKETS


def crawl_graph(seed: int, size: GraphSize) -> tuple[list[dict], list[dict]]:
    """(seeds, pages) row dicts for one crawl input.

    Hosts come from the program's fixture generator; hub hosts (>= 12
    children) are left out. The oracle crawls each candidate host on its
    own (hosts never interact), and a subset in distinct politeness
    buckets, so one round at host budget 1, is chosen whose crawl makes
    exactly ``size.rows`` fetch attempts. Raises if none is found."""
    from genesis_spark.crawler import oracle

    seeds, pages = fixtures.generate(size.pool, 0, 0, seed=seed)
    n_children: dict[str, int] = {}
    for p in pages:
        if _CHILD_RE.match(p["url"]):
            n_children[p["host_key"]] = n_children.get(p["host_key"], 0) + 1
    pages_by_url = {p["url"]: p for p in pages}

    rows: dict[str, int] = {}
    bucket: dict[str, int] = {}
    for s in sorted(seeds, key=lambda r: r["seed_id"]):
        if len(rows) == size.candidates:
            break
        if not U.is_uri_valid_one(s["url"]):
            continue
        url = U.clean_url_one(s["url"])
        hk = U.host_name_one(url)
        if hk in rows or n_children.get(hk, 0) >= 12:
            continue
        res = oracle.OracleResult()
        oracle.crawl_host(pages_by_url, url, round_no=0, host_key=hk,
                          start_seq=0, result=res)
        rows[hk], bucket[hk] = len(res.crawl_order), bucket_of(hk)

    rng = random.Random(seed)
    hosts = sorted(rows)
    for _ in range(20000):
        pick = rng.sample(hosts, size.hosts)
        if sum(rows[h] for h in pick) == size.rows and \
                len({bucket[h] for h in pick}) == size.hosts:
            break
    else:
        raise ValueError(f"seed {seed}: no {size.hosts} hosts make "
                         f"{size.rows} fetches")
    chosen = set(pick)

    keep_seeds = [s for s in seeds
                  if not U.is_uri_valid_one(s["url"])
                  or U.host_name_one(U.clean_url_one(s["url"])) in chosen]
    keep_pages = [p for p in pages if p["host_key"] in chosen]
    return keep_seeds, keep_pages


# ---------------------------------------------------------------------------
# raw URL streams for the install path
# ---------------------------------------------------------------------------

INVALID_EVERY = 97     # every 97th raw URL carries a malformed scheme


@dataclass(frozen=True)
class UrlStream:
    """Raw URL ``i`` names host ``(i*a + c) mod hosts`` in one of several
    raw spellings (scheme case, ``www.``, host case, trailing slash) that
    canonicalize to the same URL; candidate link ``i`` names host
    ``(i*b + d) mod cand_hosts`` in canonical form, a third of them never
    installed."""
    n_raw: int
    n_cand: int
    hosts: int
    cand_hosts: int
    a: int
    c: int
    b: int
    d: int

    @classmethod
    def from_seed(cls, seed: int, n_raw: int, n_cand: int) -> "UrlStream":
        """Multipliers are coprime to their moduli, so every seed covers
        every host id and installs and admits nearly the same counts."""
        rng = np.random.default_rng(seed)
        hosts = 3 * n_raw // 4
        cand_hosts = 3 * hosts // 2

        def multiplier(modulus: int) -> int:
            while True:
                m = int(rng.integers(1 << 20, 1 << 30))
                if math.gcd(m, modulus) == 1:
                    return m
        a, b = multiplier(hosts), multiplier(cand_hosts)
        return cls(n_raw, n_cand, hosts, cand_hosts, a,
                   int(rng.integers(0, hosts)), b,
                   int(rng.integers(0, cand_hosts)))

    # -- Spark side ---------------------------------------------------------
    def raw_df(self, spark, partitions: int):
        from pyspark.sql import functions as F
        i = F.col("id")
        host = (i * self.a + self.c) % self.hosts
        scheme = (F.when(i % INVALID_EVERY == 0, "ht!tp")
                  .when(i % 5 == 0, "HTTP").otherwise("http"))
        www = F.when(i % 3 == 0, "www.").otherwise("")
        letter = F.when(i % 7 == 0, "H").otherwise("h")
        trail = F.when(i % 4 == 0, "/").otherwise("")
        return spark.range(0, self.n_raw, 1, partitions).select(
            F.concat(scheme, F.lit("://"), www, letter, host.cast("string"),
                     _tld(host), trail).alias("url"),
            F.timestamp_seconds(F.lit(fixtures.EPOCH) + i % 86400)
            .alias("installed_at"),
            i.alias("seed_id"))

    def cand_df(self, spark, partitions: int):
        from pyspark.sql import functions as F
        x = (F.col("id") * self.b + self.d) % self.cand_hosts
        return spark.range(0, self.n_cand, 1, partitions).select(
            F.concat(F.lit("http://h"), x.cast("string"), _tld(x))
            .alias("url"))

    # -- NumPy replay -------------------------------------------------------
    def expected_counts(self) -> tuple[int, int]:
        """(installed, admitted): distinct canonical URLs among the valid
        raw rows, and candidate rows whose URL is not installed."""
        i = np.arange(self.n_raw, dtype=np.int64)
        host = (i * self.a + self.c) % self.hosts
        installed = np.unique(host[i % INVALID_EVERY != 0])
        j = np.arange(self.n_cand, dtype=np.int64)
        cand = (j * self.b + self.d) % self.cand_hosts
        admitted = int(np.count_nonzero(~np.isin(cand, installed)))
        return int(installed.size), admitted


def _tld(host):
    from pyspark.sql import functions as F
    return (F.when(host % 10 < 8, ".onion").when(host % 10 == 8, ".i2p")
            .otherwise(".example.com"))

"""Partitioned cuckoo URL-seen filter (north-star D1's second variant).

The north star names a "partitioned Bloom/cuckoo URL-seen filter"; the
sibling ``bloom.py`` is the OR-mergeable bitmap variant, this is the
fingerprint-table variant after Fan et al. 2014 ("Cuckoo Filter:
Practically Better Than Bloom"). Same contract: *no false negatives* —
rows flagged definitely-unseen skip the exact anti-join, possible-positives
fall through to it, so the filter only ever costs bandwidth, never
correctness. What cuckoo adds over Bloom is **deletion**: when the frontier
drops dead URLs (SURVEY D1/S10 dead-removal), their fingerprints can be
removed so they stop forcing the maybe-seen path — a Bloom bitmap can never
unset a bit.

Layout: ``shard = h1 % n_shards`` (both powers of two so JVM ``pmod``
routing and unsigned numpy ``%`` agree); within a shard, a
``(n_buckets, slots)`` uint16 table of 16-bit fingerprints (0 = empty), two
candidate buckets per key::

    fp  = h2 % 65535 + 1                      (never 0)
    i1  = (h1 >> log2(n_shards)) & (n_buckets - 1)
    i2  = (i1 ^ (fp * 0x5bd1e995)) & (n_buckets - 1)   (self-inverse)

Insertion kicks resident fingerprints between their two buckets
(deterministic slot rotation — workers must stay reproducible, so no
randomness); entries still homeless after ``max_kicks`` go to a small
per-shard stash, and a stash overflow marks the shard *saturated* =
everything-maybe (degrades to the exact anti-join, never a false negative).

Hashing is JVM-side xxhash64 exactly as in ``bloom.py``; Python only does
numpy table arithmetic — no per-row Python in build or probe. Build is
shard-routed from the start (``groupBy(shard).applyInPandas``): unlike
Bloom bitmaps, cuckoo tables don't OR-merge, so each shard's keys must
meet in one task anyway — which is also precisely the 10^10-key layout
(a task holds one 128 KiB table, never the whole filter).

Reference parity: replaces the linear-scan seen list of
``/root/reference/app/crawler/crawl_controller/duplication_handler.py:3-19``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genesis_spark import conf

_H2_SALT = "cuckoo-fp"       # fingerprint hash = xxhash64(salt, key)
_H1_COL, _H2_COL = "_ch1", "_ch2"
_MIX = 0x5BD1E995            # bucket-mix multiplier (MurmurHash2 magic)


def _hash_cols(df: DataFrame, key_col: str) -> DataFrame:
    return df.withColumn(_H1_COL, F.xxhash64(F.col(key_col))) \
             .withColumn(_H2_COL, F.xxhash64(F.lit(_H2_SALT), F.col(key_col)))


def _fp_i1(h1: np.ndarray, h2: np.ndarray, n_shards: int,
           n_buckets: int) -> tuple[np.ndarray, np.ndarray]:
    """(fingerprint, primary bucket) from the two uint64 hash arrays."""
    fp = (h2 % np.uint64(0xFFFF) + np.uint64(1)).astype(np.uint16)
    shard_bits = n_shards.bit_length() - 1
    i1 = ((h1 >> np.uint64(shard_bits)) & np.uint64(n_buckets - 1)) \
        .astype(np.int64)
    return fp, i1


def _alt_vec(b: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    mixed = fp.astype(np.uint64) * np.uint64(_MIX)
    return ((b.astype(np.uint64) ^ mixed) & np.uint64(n_buckets - 1)) \
        .astype(np.int64)


def _alt_one(b: int, fp: int, n_buckets: int) -> int:
    return (b ^ ((fp * _MIX) & 0xFFFFFFFFFFFFFFFF)) & (n_buckets - 1)


class CuckooShard:
    """One shard: fingerprint table + overflow stash + saturation flag."""

    __slots__ = ("table", "stash_b", "stash_fp", "saturated")

    def __init__(self, n_buckets: int, slots: int,
                 table: np.ndarray | None = None,
                 stash_b: list[int] | None = None,
                 stash_fp: list[int] | None = None,
                 saturated: bool = False):
        self.table = (table if table is not None
                      else np.zeros((n_buckets, slots), dtype=np.uint16))
        self.stash_b = list(stash_b or [])
        self.stash_fp = list(stash_fp or [])
        self.saturated = saturated

    # -- insertion ---------------------------------------------------------
    def insert_many(self, i1: np.ndarray, fp: np.ndarray,
                    max_kicks: int = conf.CUCKOO_MAX_KICKS,
                    stash_cap: int = conf.CUCKOO_STASH) -> None:
        """Bulk passes over free slots first (vectorized), then a
        deterministic kick loop for the remainder."""
        n_buckets, slots = self.table.shape
        pending = np.arange(len(fp))
        i2 = _alt_vec(i1, fp, n_buckets)
        for buckets in (i1, i2, i1, i2):        # two rounds over both homes
            for s in range(slots):
                if pending.size == 0:
                    break
                b = buckets[pending]
                free = self.table[b, s] == 0
                cand = np.flatnonzero(free)
                if cand.size == 0:
                    continue
                # one item per bucket per pass: first occurrence wins
                _, first = np.unique(b[cand], return_index=True)
                sel = pending[cand[first]]
                self.table[buckets[sel], s] = fp[sel]
                keep = np.ones(pending.size, dtype=bool)
                keep[cand[first]] = False
                pending = pending[keep]
        for j in pending:                        # kick loop leftovers
            self._insert_one(int(i1[j]), int(fp[j]), max_kicks, stash_cap)

    def _insert_one(self, b: int, fp: int, max_kicks: int,
                    stash_cap: int) -> None:
        n_buckets, slots = self.table.shape
        for bb in (b, _alt_one(b, fp, n_buckets)):
            row = self.table[bb]
            z = np.flatnonzero(row == 0)
            if z.size:
                row[z[0]] = fp
                return
        cur_b, cur_fp = b, fp
        for kick in range(max_kicks):
            s = kick % slots
            evicted = int(self.table[cur_b, s])
            self.table[cur_b, s] = cur_fp
            cur_fp = evicted
            cur_b = _alt_one(cur_b, cur_fp, n_buckets)
            row = self.table[cur_b]
            z = np.flatnonzero(row == 0)
            if z.size:
                row[z[0]] = cur_fp
                return
        if len(self.stash_b) < stash_cap:
            self.stash_b.append(cur_b)
            self.stash_fp.append(cur_fp)
        else:
            self.saturated = True   # everything-maybe; never a false negative

    # -- probe -------------------------------------------------------------
    def might_contain(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        if self.saturated:
            return np.ones(len(fp), dtype=bool)
        n_buckets = self.table.shape[0]
        i2 = _alt_vec(i1, fp, n_buckets)
        hit = ((self.table[i1] == fp[:, None]).any(axis=1) |
               (self.table[i2] == fp[:, None]).any(axis=1))
        if self.stash_b:
            sb = np.asarray(self.stash_b, dtype=np.int64)
            sf = np.asarray(self.stash_fp, dtype=np.uint16)
            m = (((i1[:, None] == sb) | (i2[:, None] == sb)) &
                 (fp[:, None] == sf))
            hit |= m.any(axis=1)
        return hit

    # -- deletion ----------------------------------------------------------
    def delete_many(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """Remove ONE stored copy per (i1, fp); returns per-item removed
        flags. Only delete keys that were actually inserted — deleting a
        never-inserted key can evict a colliding fingerprint (standard
        cuckoo-filter contract)."""
        n_buckets = self.table.shape[0]
        removed = np.zeros(len(fp), dtype=bool)
        for j in range(len(fp)):
            f = int(fp[j])
            done = False
            for bb in (int(i1[j]), _alt_one(int(i1[j]), f, n_buckets)):
                row = self.table[bb]
                m = np.flatnonzero(row == f)
                if m.size:
                    row[m[0]] = 0
                    done = True
                    break
            if not done:
                for k, (sb, sf) in enumerate(zip(self.stash_b,
                                                 self.stash_fp)):
                    alt = _alt_one(int(i1[j]), f, n_buckets)
                    if sf == f and sb in (int(i1[j]), alt):
                        del self.stash_b[k], self.stash_fp[k]
                        done = True
                        break
            removed[j] = done
        return removed

    # -- (de)serialization for the shard DataFrame rows ---------------------
    def to_row(self, shard: int) -> dict:
        return {"shard": shard, "table": self.table.tobytes(),
                "stash_b": np.asarray(self.stash_b,
                                      dtype=np.int64).tobytes(),
                "stash_fp": np.asarray(self.stash_fp,
                                       dtype=np.uint16).tobytes(),
                "saturated": bool(self.saturated)}

    @classmethod
    def from_row(cls, table: bytes, stash_b: bytes, stash_fp: bytes,
                 saturated: bool, n_buckets: int, slots: int) -> "CuckooShard":
        tbl = np.frombuffer(table, dtype=np.uint16) \
            .reshape(n_buckets, slots).copy()
        return cls(n_buckets, slots, table=tbl,
                   stash_b=np.frombuffer(stash_b, dtype=np.int64).tolist(),
                   stash_fp=np.frombuffer(stash_fp,
                                          dtype=np.uint16).tolist(),
                   saturated=saturated)


_SHARD_SCHEMA = ("shard int, table binary, stash_b binary, "
                 "stash_fp binary, saturated boolean")


# ---------------------------------------------------------------------------
# distributed build / probe / delete
# ---------------------------------------------------------------------------

def build_cuckoo_shards(df: DataFrame, key_col: str,
                        n_shards: int = conf.CUCKOO_SHARDS,
                        n_buckets: int = conf.CUCKOO_BUCKETS_PER_SHARD,
                        slots: int = conf.CUCKOO_SLOTS) -> DataFrame:
    """Shard-routed build: keys hash JVM-side, shuffle once to their
    shard's partition, and each task builds ONE complete shard table —
    (shard, table, stash, saturated) rows, no driver collect, no
    whole-filter object anywhere (the 10^10-key layout)."""
    assert n_shards & (n_shards - 1) == 0, "n_shards must be a power of two"
    assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"

    hashed = (_hash_cols(df.select(key_col).na.drop().distinct(), key_col)
              .select(_H1_COL, _H2_COL)
              .withColumn("_cshard",
                          F.pmod(F.col(_H1_COL), F.lit(n_shards))
                          .cast("int")))

    def build_one(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = CuckooShard(n_buckets, slots)
        h1 = pdf[_H1_COL].to_numpy(dtype=np.int64).astype(np.uint64)
        h2 = pdf[_H2_COL].to_numpy(dtype=np.int64).astype(np.uint64)
        fp, i1 = _fp_i1(h1, h2, n_shards, n_buckets)
        shard.insert_many(i1, fp)
        return pd.DataFrame([shard.to_row(int(pdf["_cshard"].iloc[0]))])

    return hashed.groupBy("_cshard").applyInPandas(build_one, _SHARD_SCHEMA)


def filter_not_seen_cuckoo_routed(df: DataFrame, key_col: str,
                                  shard_df: DataFrame,
                                  n_shards: int = conf.CUCKOO_SHARDS,
                                  n_buckets: int = conf.CUCKOO_BUCKETS_PER_SHARD,
                                  slots: int = conf.CUCKOO_SLOTS,
                                  flag_col: str = "_maybe_seen",
                                  shard_rows_counter=None) -> DataFrame:
    """Shard-routed probe: candidates cogroup to their shard's partition and
    each task probes ONE shard table (128 KiB at local conf) — per-task
    memory never holds the whole filter, so the probe works at filter sizes
    that could never broadcast."""
    assert n_shards & (n_shards - 1) == 0, "n_shards must be a power of two"
    from pyspark.sql import types as T

    hashed = _hash_cols(df, key_col).withColumn(
        "_cshard", F.pmod(F.col(_H1_COL), F.lit(n_shards)).cast("int"))
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(flag_col, T.BooleanType(),
                                                False)])
    drop_cols = [_H1_COL, _H2_COL, "_cshard"]

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if shard_rows_counter is not None:
            shard_rows_counter.add(len(right))
        if len(right) > 1:
            raise ValueError("cuckoo shard routing delivered >1 table row "
                             "to one group — shard ids collide")
        if len(left) == 0:
            return left.drop(columns=drop_cols).assign(
                **{flag_col: pd.Series([], dtype=bool)})
        h1 = left[_H1_COL].to_numpy(dtype=np.int64).astype(np.uint64)
        h2 = left[_H2_COL].to_numpy(dtype=np.int64).astype(np.uint64)
        out = left.drop(columns=drop_cols)
        if len(right) == 0:
            out[flag_col] = False        # empty shard: definitely unseen
            return out
        r = right.iloc[0]
        shard = CuckooShard.from_row(r["table"], r["stash_b"], r["stash_fp"],
                                     bool(r["saturated"]), n_buckets, slots)
        fp, i1 = _fp_i1(h1, h2, n_shards, n_buckets)
        out[flag_col] = shard.might_contain(i1, fp)
        return out

    return (hashed.groupBy("_cshard")
            .cogroup(shard_df.groupBy(F.col("shard").alias("_cshard")))
            .applyInPandas(probe, schema))


def delete_from_shards(shard_df: DataFrame, dels: DataFrame, key_col: str,
                       n_shards: int = conf.CUCKOO_SHARDS,
                       n_buckets: int = conf.CUCKOO_BUCKETS_PER_SHARD,
                       slots: int = conf.CUCKOO_SLOTS) -> DataFrame:
    """Distributed deletion (what Bloom can't do): deletion keys route to
    their shard's partition and each task rewrites its one shard table with
    those fingerprints removed. Returns the updated shard DataFrame.
    Shards with no deletions pass through untouched. Only delete keys that
    were inserted — standard cuckoo-filter deletion contract."""
    assert n_shards & (n_shards - 1) == 0, "n_shards must be a power of two"
    hashed = (_hash_cols(dels.select(key_col).na.drop().distinct(), key_col)
              .select(_H1_COL, _H2_COL)
              .withColumn("_cshard",
                          F.pmod(F.col(_H1_COL), F.lit(n_shards))
                          .cast("int")))

    def apply_dels(dl: pd.DataFrame, tbl: pd.DataFrame) -> pd.DataFrame:
        if len(tbl) == 0:
            return tbl                      # deletions for an absent shard
        r = tbl.iloc[0]
        if len(dl) == 0:
            return tbl                      # untouched pass-through
        shard = CuckooShard.from_row(r["table"], r["stash_b"], r["stash_fp"],
                                     bool(r["saturated"]), n_buckets, slots)
        h1 = dl[_H1_COL].to_numpy(dtype=np.int64).astype(np.uint64)
        h2 = dl[_H2_COL].to_numpy(dtype=np.int64).astype(np.uint64)
        fp, i1 = _fp_i1(h1, h2, n_shards, n_buckets)
        shard.delete_many(i1, fp)
        return pd.DataFrame([shard.to_row(int(r["shard"]))])

    return (hashed.groupBy("_cshard")
            .cogroup(shard_df.groupBy(F.col("shard").alias("_cshard")))
            .applyInPandas(apply_dels, _SHARD_SCHEMA))

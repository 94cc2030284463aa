"""Partitioned Bloom URL-seen prefilter (north-star D1).

The reference's ``duplication_handler`` is a linear-scan Python list
(duplication_handler.py:3-19). At 10^10 frontier scale the rebuild needs a
cheap membership prefilter in front of the exact left_anti join (SURVEY.md
§2.3 D1): candidate URLs that definitely aren't in the seen set skip the
shuffle; possible-positives fall through to the join, which remains the
source of truth — so Bloom false-positive rate only costs bandwidth, never
correctness.

Hashing is JVM-side: both 64-bit hashes are Spark ``xxhash64`` columns
(h2 = xxhash64 over a salt literal + the key — an independent second
function), computed in whole-stage codegen BEFORE the Arrow boundary. The
Python side only does numpy bitmap arithmetic on int64 arrays — no per-row
Python anywhere in build or probe.

Sharding: ``shard = h1 % n_shards`` — each shard is an independent bitmap.
Membership tests use double hashing ``g_i = h1 + i*h2``. ``build_bloom``
builds the shard bitmaps distributed and OR-merges them on the driver;
``filter_not_seen`` broadcasts the whole filter up to
conf.BLOOM_BROADCAST_MAX_BYTES, beyond which it degrades to
flag-everything-maybe (the exact anti-join downstream stays the truth).
The crawl itself admits links with the exact anti-join alone
(``crawler/engine.py``): one round's seen set is too small for a prefilter
to pay for its build.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genesis_spark import conf

_H2_SALT = "bloom-h2"   # second hash = xxhash64(salt, key)
_H1_COL, _H2_COL = "_bh1", "_bh2"


def _hash_cols(df: DataFrame, key_col: str) -> DataFrame:
    """Append the two JVM-computed 64-bit hash columns for ``key_col``."""
    return df.withColumn(_H1_COL, F.xxhash64(F.col(key_col))) \
             .withColumn(_H2_COL, F.xxhash64(F.lit(_H2_SALT), F.col(key_col)))


def _positions(h1: np.ndarray, h2: np.ndarray, n_bits: int,
               k: int) -> np.ndarray:
    # (len, k) bit positions via double hashing; int64 -> uint64 view keeps
    # the bit patterns (mod arithmetic must be unsigned)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(n_bits)


class ShardedBloom:
    """Immutable sharded bitmap; built distributed, broadcast for filtering."""

    def __init__(self, shards: dict[int, np.ndarray], n_bits: int, k: int,
                 n_shards: int):
        self.shards = shards
        self.n_bits = n_bits
        self.k = k
        self.n_shards = n_shards

    def might_contain_hashes(self, h1: np.ndarray,
                             h2: np.ndarray) -> np.ndarray:
        """Vectorized membership test on precomputed uint64 hash arrays."""
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        shard_ids = h1 % np.uint64(self.n_shards)
        pos = _positions(h1, h2, self.n_bits, self.k)
        out = np.zeros(len(h1), dtype=bool)
        for sid in np.unique(shard_ids):
            bitmap = self.shards.get(int(sid))
            if bitmap is None:
                continue
            mask = shard_ids == sid
            p = pos[mask]
            bits = bitmap[p >> 3] & (1 << (p & 7)).astype(np.uint8)
            out[mask] = (bits != 0).all(axis=1)
        return out

    def total_bytes(self) -> int:
        """Resident size of all shard bitmaps (the broadcast payload)."""
        return sum(bm.nbytes for bm in self.shards.values())


def build_bloom(df: DataFrame, key_col: str,
                n_shards: int = conf.BLOOM_SHARDS,
                n_bits: int = conf.BLOOM_BITS_PER_SHARD,
                k: int = conf.BLOOM_NUM_HASHES) -> ShardedBloom:
    """Distributed build: keys hashed JVM-side, per-partition partial
    bitmaps via numpy in mapInPandas, OR-merge on the driver (shard bitmaps
    are small — n_bits/8 bytes each)."""
    n_bytes = n_bits // 8

    def partial(batches):
        local: dict[int, np.ndarray] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            h1 = pdf[_H1_COL].to_numpy(dtype=np.int64).astype(np.uint64)
            h2 = pdf[_H2_COL].to_numpy(dtype=np.int64).astype(np.uint64)
            shard_ids = h1 % np.uint64(n_shards)
            pos = _positions(h1, h2, n_bits, k)
            for sid in np.unique(shard_ids):
                bm = local.setdefault(int(sid),
                                      np.zeros(n_bytes, dtype=np.uint8))
                p = pos[shard_ids == sid].ravel()
                np.bitwise_or.at(bm, p >> 3, (1 << (p & 7)).astype(np.uint8))
        yield pd.DataFrame({
            "shard": pd.Series(list(local.keys()), dtype="int32"),
            "bitmap": [bm.tobytes() for bm in local.values()],
        })

    hashed = _hash_cols(df.select(key_col).na.drop(), key_col) \
        .select(_H1_COL, _H2_COL)
    parts = hashed.mapInPandas(partial, "shard int, bitmap binary").collect()
    shards: dict[int, np.ndarray] = {}
    for row in parts:
        bm = np.frombuffer(row.bitmap, dtype=np.uint8)
        if row.shard in shards:
            shards[row.shard] = shards[row.shard] | bm
        else:
            shards[row.shard] = bm.copy()
    return ShardedBloom(shards, n_bits, k, n_shards)


def filter_not_seen(df: DataFrame, key_col: str, bloom: ShardedBloom,
                    flag_col: str = "_maybe_seen",
                    max_broadcast_bytes: int | None = None) -> DataFrame:
    """Append a boolean 'might be in the seen set' column. Rows with
    ``False`` are *definitely* new and may skip the exact anti-join.

    Size-capped: if the filter exceeds ``max_broadcast_bytes`` (default
    conf.BLOOM_BROADCAST_MAX_BYTES) it is NOT broadcast — every row is
    flagged maybe-seen instead, which degrades gracefully to the exact
    anti-join (the source of truth) at the caller."""
    if max_broadcast_bytes is None:
        max_broadcast_bytes = conf.BLOOM_BROADCAST_MAX_BYTES
    if bloom.total_bytes() > max_broadcast_bytes:
        return df.withColumn(flag_col, F.lit(True))
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bloom)

    from pyspark.sql import types as T
    # copy, never .add() in place (pyspark 4 caches df.schema objects)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(flag_col, T.BooleanType(),
                                                False)])

    def apply(batches):
        b = bc.value
        for pdf in batches:
            h1 = pdf[_H1_COL].to_numpy(dtype=np.int64).astype(np.uint64)
            h2 = pdf[_H2_COL].to_numpy(dtype=np.int64).astype(np.uint64)
            pdf = pdf.drop(columns=[_H1_COL, _H2_COL])
            pdf[flag_col] = b.might_contain_hashes(h1, h2)
            yield pdf

    return _hash_cols(df, key_col).mapInPandas(apply, schema)

"""Snapshot table store — checkpoint/resume with per-round lineage (ST4).

The north star lands frontier state in Iceberg with one snapshot per crawl
round. The Iceberg runtime jar isn't available in this sandbox, so this
module provides the same API surface over plain parquet directories:

    root/
      snap-00000/<table>/...parquet     append deltas committed that round
      snap-00000/manifest.json          {snapshot_id, parent, committed_at,
                                         tables, **meta (round, seq_offset)}
      ...

* append-style tables (crawl_order/seen/documents/metrics/frontier_updates)
  commit only the round's delta — a read unions every committed snapshot's
  delta since the last compaction cut (Iceberg manifest-list semantics);
* state-style tables (frontier_base) are committed whole, at install and at
  each frontier compaction — a read takes the latest version only.

Commits are atomic via write-to-temp + rename of the manifest; a crashed
round leaves no manifest and is invisible to readers, so resume restarts
from the last committed round (exactly-once per round thanks to the
idempotent install MERGE keyed on url_hash — SURVEY.md §4).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

# state-style: read latest version only. frontier_base is the crawl's
# frontier as installed or last compacted (engine.read_frontier_delta);
# per-round state changes land as frontier_updates APPEND deltas, never a
# rewrite of the whole frontier per round.
STATE_TABLES = {"frontier_base"}


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest helpers ----------------------------------------------------
    def snapshots(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.root)):
            mf = os.path.join(self.root, name, "manifest.json")
            if name.startswith("snap-") and os.path.exists(mf):
                with open(mf) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["snapshot_id"])

    def latest(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def _snap_dir(self, snapshot_id: int) -> str:
        return os.path.join(self.root, f"snap-{snapshot_id:05d}")

    # -- commit --------------------------------------------------------------
    def commit(self, tables: dict[str, DataFrame], meta: dict) -> int:
        """Write one snapshot: each DataFrame to its table dir, then the
        manifest (rename-atomic last)."""
        prev = self.latest()
        sid = (prev["snapshot_id"] + 1) if prev else 0
        snap_dir = self._snap_dir(sid)
        if os.path.exists(snap_dir):        # crashed, uncommitted attempt
            shutil.rmtree(snap_dir)
        for name, df in tables.items():
            path = os.path.join(snap_dir, name)
            df.write.mode("overwrite").parquet(path)
        manifest = dict(snapshot_id=sid,
                        parent=prev["snapshot_id"] if prev else None,
                        committed_at=time.time(),
                        tables=sorted(tables), **meta)
        tmp = os.path.join(snap_dir, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(snap_dir, "manifest.json"))
        return sid

    # -- read ----------------------------------------------------------------
    def read(self, spark: SparkSession, table: str,
             as_of: int | None = None) -> DataFrame | None:
        snaps = [m for m in self.snapshots()
                 if as_of is None or m["snapshot_id"] <= as_of]
        # compaction cut: a snapshot carrying {"compacts": {table: through}}
        # holds the consolidated rewrite of every contribution with
        # snapshot_id <= through (Iceberg rewrite_data_files semantics) —
        # readers skip the superseded delta paths
        cut = -1
        for m in snaps:
            cut = max(cut, (m.get("compacts") or {}).get(table, -1))
        paths = []
        latest_path = None
        for m in snaps:
            if table in m["tables"]:
                # a compacting snapshot's own id is always > its through-id,
                # so `sid <= cut` correctly also drops an OLDER consolidated
                # rewrite once a later compaction folds it in
                if m["snapshot_id"] <= cut:
                    continue
                p = os.path.join(self._snap_dir(m["snapshot_id"]), table)
                paths.append(p)
                latest_path = p
        if not paths:
            return None
        if table in STATE_TABLES:
            return spark.read.parquet(latest_path)
        return spark.read.parquet(*paths)

    # -- maintenance (the Iceberg compaction/expiry shape) --------------------
    def compact(self, spark: SparkSession, table: str) -> int:
        """Fold every committed contribution of append table ``table`` into
        ONE consolidated rewrite committed as a new snapshot carrying the
        compaction cut. At 10^10 rows this is what keeps an append-delta
        read from unioning O(rounds) file sets: reads after the cut touch
        one path. Resume metadata (round/seq_offset) is carried forward from
        the latest manifest so a compaction never disturbs restart. (The
        frontier's update log is folded into ``frontier_base`` instead, by
        ``engine.compact_frontier``.)"""
        prev = self.latest()
        if prev is None:
            raise ValueError("compact() on an empty store")
        meta = {k: prev[k] for k in ("round", "seq_offset") if k in prev}
        meta["compacts"] = {table: prev["snapshot_id"]}
        return self.commit({table: self.read(spark, table)}, meta)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Physically delete snapshots that no current read touches
        (Iceberg expire_snapshots): a snapshot is dead iff every table in
        it is either an append table compacted past it or a state table
        with a newer version. The newest ``keep_last`` snapshots are always
        kept. Time travel (``as_of``) older than the expired ids is gone —
        same contract as Iceberg."""
        snaps = self.snapshots()
        cuts: dict[str, int] = {}
        latest_state: dict[str, int] = {}
        for m in snaps:
            for t, thr in (m.get("compacts") or {}).items():
                cuts[t] = max(cuts.get(t, -1), thr)
            for t in m["tables"]:
                if t in STATE_TABLES:
                    latest_state[t] = m["snapshot_id"]
        removed = []
        for m in snaps[:-keep_last] if keep_last > 0 else snaps:
            sid = m["snapshot_id"]
            live = False
            for t in m["tables"]:
                if t in STATE_TABLES:
                    live = live or latest_state[t] == sid
                else:
                    # contributing delta, or the consolidated rewrite itself
                    # (its id is > its own through-cut unless a later
                    # compaction superseded it)
                    live = live or sid > cuts.get(t, -1)
            if not live:
                shutil.rmtree(self._snap_dir(sid))
                removed.append(sid)
        return removed

"""Per-layer tracing from outside the program (``--trace 1`` only).

Two sources, neither inside ``genesis_spark``:

* spans — the public layer entry points are wrapped at run time
  (``engine.crawl_frontier``, ``engine.compact_frontier``,
  ``engine.with_global_seq``, ``bloom.build_bloom``,
  ``SnapshotStore.commit`` / ``read``); each wrapper adds its wall time to
  the layer's busy time and tags the Spark jobs it launches with a job
  group ``<op>|<module>``;
* Spark's status store — after each operation, the jobs of its groups and
  their stages give job/stage/task counts and the task metrics (CPU, GC,
  shuffle write, spill). A job is charged to the module of its call site
  (``collect at .../operators/seq.py:31`` -> ``seq``); other jobs
  (parquet writes, the benchmark's own actions) go to the innermost
  wrapper's module, or to the workload's base module outside any wrapper.

The Spark event log would carry the same task metrics, but the crawl's
AQE plan-update events make it about 1 GB per crawl operation.
"""

from __future__ import annotations

import functools
import os
import re
import time
from collections import Counter, defaultdict

_CALL_SITE = re.compile(r"genesis_spark/(?:\w+/)*(\w+)\.py")
MODULES = ("seq", "tables", "engine", "bloom")


class Tracer:
    def __init__(self, spark, base_module: str):
        self.sc = spark.sparkContext
        self.base_module = base_module
        self.busy: dict[str, float] = defaultdict(float)
        self.counts: Counter = Counter()
        self.op = "setup"
        self._stack: list[str] = []

    # -- spans ----------------------------------------------------------------
    def install(self) -> None:
        from genesis_spark.crawler import engine
        from genesis_spark.operators import bloom
        from genesis_spark.sources.tables import SnapshotStore

        self._wrap(engine, "crawl_frontier", "engine.crawl_frontier",
                   "engine")
        self._wrap(engine, "compact_frontier", "tables.compact", "tables")
        self._wrap(engine, "with_global_seq", "seq.with_global_seq", "seq")
        self._wrap(bloom, "build_bloom", "bloom.build", "bloom",
                   self._bloom_bytes)
        self._wrap(SnapshotStore, "commit", "tables.commit", "tables",
                   self._commit_files)
        self._wrap(SnapshotStore, "read", "tables.read", "tables")

    def _wrap(self, owner, attr: str, span: str, module: str,
              after=None) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self._stack.append(module)
            self._set_group()
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                self.busy[span] += time.perf_counter() - t0
                self._stack.pop()
                self._set_group()
            if after is not None:
                after(out, args)
            return out

        setattr(owner, attr, traced)

    def _set_group(self) -> None:
        module = self._stack[-1] if self._stack else self.base_module
        self.sc.setLocalProperty("spark.jobGroup.id", f"{self.op}|{module}")

    def start_op(self, op: str) -> None:
        """Tag the jobs that follow with ``op`` and zero the span totals."""
        self.op = op
        self.busy.clear()
        self.counts.clear()
        self._set_group()

    def take(self) -> dict:
        """Busy seconds per span and counts since ``start_op``."""
        return {**{f"{k}_s": v for k, v in self.busy.items()},
                **self.counts}

    def _bloom_bytes(self, out, args) -> None:
        self.counts["bloom.filter_bytes"] += out.total_bytes()

    def _commit_files(self, sid, args) -> None:
        """Table files only: the manifest's commit time varies in length."""
        store = args[0]
        for dirpath, _, files in os.walk(store._snap_dir(sid)):
            for name in files:
                if name == "manifest.json":
                    continue
                self.counts["tables.files_written"] += 1
                self.counts["tables.bytes_written"] += os.path.getsize(
                    os.path.join(dirpath, name))

    # -- Spark status store ---------------------------------------------------
    def harvest(self, op: str) -> dict:
        """Jobs, stages, tasks and task metrics of one operation's jobs."""
        store = self.sc._jsc.sc().statusStore()
        no_tasks = getattr(store, "stageData$default$3")()
        no_quantiles = getattr(store, "stageData$default$5")()
        out = Counter()
        cpu_by_module = Counter()
        done_stages = set()
        jobs = store.jobsList(None).iterator()
        while jobs.hasNext():
            job = jobs.next()
            group = job.jobGroup()
            if not group.isDefined() or \
                    not str(group.get()).startswith(op + "|"):
                continue
            out["jobs"] += 1
            m = _CALL_SITE.search(job.name() or "")
            module = m.group(1) if m else str(group.get()).split("|", 1)[1]
            stage_ids = job.stageIds().iterator()
            while stage_ids.hasNext():
                sid = int(stage_ids.next())
                if sid in done_stages:
                    continue
                done_stages.add(sid)
                attempts = store.stageData(sid, False, no_tasks, False,
                                           no_quantiles).iterator()
                while attempts.hasNext():
                    st = attempts.next()
                    if st.status().toString() != "COMPLETE":
                        continue
                    cpu = st.executorCpuTime() / 1e9
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["cpu_s"] += cpu
                    out["gc_s"] += st.jvmGcTime() / 1e3
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += (st.memoryBytesSpilled()
                                           + st.diskBytesSpilled())
                    cpu_by_module[module] += cpu
        for mod in MODULES:
            out[f"cpu_s.{mod}"] = cpu_by_module[mod]
        return dict(out)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this Python process."""
    import resource
    pid = spark.sparkContext._gateway.proc.pid
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024

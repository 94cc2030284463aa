"""Crawl benchmark: one workload per invocation, one JSON line out.

    python3 crawlbench/run.py --workload crawl_rounds --seed 1 --seconds 12 \
        --trace 0

Run from the repository root. Workloads (closed loop, one operation at a
time, one process):

* ``crawl_rounds`` — a small graph crawled in one round through the
  production paths: bucketed install, the Bloom seen-prefilter,
  delta-state commits with compaction, and a stop and restart. One
  operation = one crawl from an empty snapshot store to a drained
  frontier.
* ``frontier_install`` — generated raw URLs through
  ``install_seeds_bucketed`` and candidate links through the URL-seen
  anti-join. One operation = one install job.

``--smoke`` runs both on tiny inputs. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

from crawlbench.inputs import GraphSize  # noqa: E402

# pinned run environment
CORES = 3                 # local[3] on a 4-core machine
SHUFFLE_PARTITIONS = 3
SOURCE_PARTITIONS = 6     # spark.range partitions of the URL streams
DRIVER_MEM = "3g"
HOST_BUDGET = 1           # per-bucket budget: one host per bucket per round
COMPACT_EVERY = 1
DEADLINE_S = 170          # hard stop: a run must end within 180 s

CRAWL_GRAPH = GraphSize(hosts=12, rows=100)
INSTALL = (250_000, 250_000)   # raw URLs, candidate links per job
INSTALL_WARMUP_JOBS = 2
SMOKE_GRAPH = GraphSize(hosts=2, rows=16)
SMOKE_INSTALL = (20_000, 20_000)
PARSE_SAMPLE = 120        # pages per parse-kernel pass


def log(msg: str) -> None:
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def pin_environment(work: str) -> None:
    """Everything the session and its Python workers write stays under
    ``work``; workers import the program from the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def start_session(work: str):
    from unittest import mock

    from genesis_spark import session
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }
    # get_spark() pre-creates /dev/shm/spark-local for spark.local.dir; the
    # benchmark sets its own local dir inside the checkout instead
    with mock.patch.object(session.os, "makedirs",
                           side_effect=OSError("local dir set by caller")):
        return session.get_spark(app_name="crawlbench", cores=CORES,
                                 shuffle_partitions=SHUFFLE_PARTITIONS,
                                 extra_conf=extra)


def stop_session() -> None:
    """Stop the SparkContext and wait for the Spark JVM to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        try:
            sc.stop()
        except Exception as e:           # noqa: BLE001
            log(f"stop: {e}")
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:                    # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:                # noqa: BLE001
            proc.kill()
            proc.wait()


def drop_cached(spark) -> int:
    """Number of persisted RDDs left behind, then drop them all so the next
    operation starts from the same cache state."""
    left = spark.sparkContext._jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return left


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the Spark JVM, its Python workers, and the reaped
    children of each. Steal and other tenants' time are not in it."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:            # the process has just exited
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / _TICK


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# crawl_rounds
# ---------------------------------------------------------------------------

class CrawlWorkload:
    """One operation = one crawl from an empty snapshot store: install,
    round 0, compaction of the frontier update log, a stop, and a
    restarted crawler that reads its state back and finds the frontier
    drained. It runs cold, without a warm-up crawl: see README.md."""
    name = "crawl_rounds"
    base_module = "bench"   # jobs outside the wrapped layer calls

    def __init__(self, seed: int, work: str, smoke: bool):
        self.seed, self.work = seed, work
        self.size = SMOKE_GRAPH if smoke else CRAWL_GRAPH
        self.root = os.path.join(work, "store")

    def prepare(self) -> None:
        """Inputs and the oracle's expectation, before the session starts
        (the oracle is output checking, not set-up)."""
        from crawlbench import goldens, inputs
        from crawlbench.checks import expected_bucketed
        self.seeds, self.pages = inputs.crawl_graph(self.seed, self.size)
        golden = goldens.load(self.seed, self.size, self.seeds, self.pages)
        self.expected = expected_bucketed(golden, HOST_BUDGET)
        if self.expected["rounds"] != 1:
            raise RuntimeError(f"graph has {self.expected['rounds']} rounds")

    def load(self, spark) -> None:
        from genesis_spark.sources import fixtures
        d = os.path.join(self.work, "input")
        fixtures.write_parquet(self.seeds, self.pages, d)
        self.seeds_df = spark.read.parquet(f"{d}/seeds.parquet")
        self.pages_df = spark.read.parquet(f"{d}/web_pages.parquet")

    def warmup(self, spark) -> None:
        pass

    def operation(self, spark) -> dict:
        from genesis_spark.crawler import engine
        from genesis_spark.sources.tables import SnapshotStore
        shutil.rmtree(self.root, ignore_errors=True)
        kw = dict(host_budget=HOST_BUDGET, delta_state=True, bucketed=True,
                  use_bloom=True, compact_every=COMPACT_EVERY)
        t_wall, t0 = time.time(), time.perf_counter()
        engine.run_rounds(spark, self.seeds_df, self.pages_df,
                          SnapshotStore(self.root), stop_after_round=0, **kw)
        store = SnapshotStore(self.root)        # the restarted crawler
        engine.run_rounds(spark, self.seeds_df, self.pages_df, store, **kw)
        wall = time.perf_counter() - t0
        commits = [m["committed_at"] for m in store.snapshots()
                   if "compacts" not in m]
        return {"wall_s": wall, "store": store,
                "store_bytes": dir_bytes(self.root),
                "install_s": commits[0] - t_wall, "rounds": len(commits) - 1}

    def check(self, spark, out: dict) -> list[str]:
        """Read the committed store back and compare it with the oracle;
        the operation's items are the crawl_order rows (fetch
        attempts) it committed."""
        from crawlbench.checks import check_crawl
        got = self.read_back(spark, out.pop("store"))
        out["items"] = len(got["crawl_order"])
        out["docs"] = len(got["documents"])
        return check_crawl(got, self.expected)

    @staticmethod
    def read_back(spark, store) -> dict:
        from genesis_spark.crawler import engine
        co = store.read(spark, "crawl_order").select(
            "crawl_seq", "round", "host_key", "url", "depth", "attempts",
            "ok").collect()
        docs = store.read(spark, "documents").select(
            "crawl_seq", "doc_id", "validity_score", "spans").collect()
        seen = store.read(spark, "seen").select("url", "host_key").collect()
        fr = engine.read_frontier_delta(spark, store).select(
            "url", "state", "fail_count").collect()
        return {
            "crawl_order": [tuple(r) for r in co],
            "documents": {r.crawl_seq: (r.doc_id, r.validity_score, tuple(
                (s.kind, s.text, s.media_ref, s.offset) for s in r.spans))
                for r in docs},
            "seen": [tuple(r) for r in seen],
            "frontier": {r.url: (r.state, r.fail_count) for r in fr},
        }

    def bloom_probe(self, spark):
        return None       # the crawl builds its filters itself


# ---------------------------------------------------------------------------
# frontier_install
# ---------------------------------------------------------------------------

class InstallWorkload:
    name = "frontier_install"
    base_module = "engine"  # the benchmark's actions run engine plans

    def __init__(self, seed: int, work: str, smoke: bool):
        self.seed = seed
        self.sizes = SMOKE_INSTALL if smoke else INSTALL

    def prepare(self) -> None:
        from crawlbench.inputs import UrlStream
        self.stream = UrlStream.from_seed(self.seed, *self.sizes)
        self.expected = self.stream.expected_counts()

    def load(self, spark) -> None:
        pass              # the URL streams are generated inside the job

    def _install(self, spark, stream):
        from pyspark.sql import functions as F

        from genesis_spark.crawler import engine
        t0 = time.perf_counter()
        f = engine.install_seeds_bucketed(
            stream.raw_df(spark, SOURCE_PARTITIONS)).persist()
        stats = f.groupBy("bucket").agg(
            F.count("*"), F.min("bucket_rank"), F.max("bucket_rank"),
            F.sum("bucket_rank")).collect()
        t1 = time.perf_counter()
        admitted = stream.cand_df(spark, SOURCE_PARTITIONS).join(
            f.select("url"), "url", "left_anti").count()
        t2 = time.perf_counter()
        f.unpersist()
        return [tuple(r) for r in stats], admitted, t1 - t0, t2 - t0

    def warmup(self, spark) -> None:
        """Whole jobs on the same stream: the URL generator's constants
        are literals in the generated code, so another stream would leave
        the measured jobs to compile their own. The first job is about
        five times slower than the second."""
        for _ in range(INSTALL_WARMUP_JOBS):
            self._install(spark, self.stream)

    def operation(self, spark) -> dict:
        stats, admitted, install_s, wall = self._install(spark, self.stream)
        return {"wall_s": wall, "install_s": install_s,
                "items": self.stream.n_raw + self.stream.n_cand,
                "docs": 0, "rounds": 0, "stats": stats, "admitted": admitted}

    def check(self, spark, out: dict) -> list[str]:
        from crawlbench.checks import check_install
        return check_install(out.pop("stats"), out.pop("admitted"),
                             self.expected)

    def bloom_probe(self, spark):
        """No crawl filter here: time one direct build over the candidate
        links, the filter that would front this anti-join."""
        from genesis_spark.operators import bloom
        t0 = time.perf_counter()
        filt = bloom.build_bloom(
            self.stream.cand_df(spark, SOURCE_PARTITIONS), "url")
        return time.perf_counter() - t0, filt.total_bytes()


WORKLOADS = {w.name: w for w in (CrawlWorkload, InstallWorkload)}


# ---------------------------------------------------------------------------
# direct kernel measurements (traced runs)
# ---------------------------------------------------------------------------

def parse_kernel_rate(seed: int) -> float:
    """Pages/s of ``parse_page`` on one thread, median of five passes."""
    from genesis_spark.functions import parse as P
    from genesis_spark.functions import urls as U
    from genesis_spark.sources import fixtures
    _, pages = fixtures.generate(16, 0, 0, seed=seed)
    sample = [p for p in pages if p["status"] == 200][:PARSE_SAMPLE]
    rates = []
    for _ in range(5):
        t0 = time.perf_counter()
        for p in sample:
            P.parse_page(p["url"], p["html"], U.network_type_one(p["url"]))
        rates.append(len(sample) / (time.perf_counter() - t0))
    return statistics.median(rates)


def canonicalize_rate(spark, seed: int) -> float:
    """Rows/s of ``canonicalize_expr`` over a million raw URLs, median of
    three jobs after one warm job. Each job is planned afresh: re-running
    one DataFrame would reuse its shuffle output."""
    from pyspark.sql import functions as F

    from crawlbench.inputs import UrlStream
    from genesis_spark.functions import urls as U
    stream = UrlStream.from_seed(seed, 1_000_000, 0)
    rates = []
    for i in range(4):
        t0 = time.perf_counter()
        stream.raw_df(spark, SOURCE_PARTITIONS).select(
            F.sum(F.length(U.canonicalize_expr(F.col("url"))))).collect()
        if i:
            rates.append(stream.n_raw / (time.perf_counter() - t0))
    return statistics.median(rates)


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(setup_cpu_s, ops):
    """CPU time, not wall time: see "Why CPU time" in README.md."""
    return {
        "setup_s": metric(setup_cpu_s, "s"),
        "items_per_cpu_s": metric(statistics.median(
            [o["items"] / o["proc_cpu_s"] for o in ops]), "1/s"),
    }


def per_layer(spark, wl, seed, phases, ops):
    from crawlbench.trace import MODULES, peak_rss_mb

    def avg(key):
        return sum(o.get(key, 0) for o in ops) / len(ops)

    rounds = avg("rounds")
    per_round = rounds or 1     # an install job counts as one round
    items = sum(o["items"] for o in ops)
    probe = wl.bloom_probe(spark)
    m = {
        "session.start_s": metric(phases["start"], "s"),
        "session.warmup_s": metric(phases["warmup"], "s"),
        "session.peak_rss_mb": metric(peak_rss_mb(spark), "MB"),
        "engine.install_s": metric(avg("install_s"), "s"),
        "engine.crawl_frontier_s": metric(avg("engine.crawl_frontier_s"),
                                          "s"),
        "engine.rounds": metric(rounds, "count"),
        "engine.jobs_per_round": metric(avg("jobs") / per_round, "count"),
        "engine.stages_per_round": metric(avg("stages") / per_round, "count"),
        "engine.tasks_per_round": metric(avg("tasks") / per_round, "count"),
        "engine.cached_rdds_left": metric(avg("cached_rdds_left"), "count"),
        "parse.kernel_pages_per_s": metric(parse_kernel_rate(seed), "1/s"),
        "parse.docs": metric(avg("docs"), "count"),
        "urls.canonicalize_rows_per_s": metric(canonicalize_rate(spark, seed),
                                               "1/s"),
        "bloom.build_s": metric(probe[0] if probe else avg("bloom.build_s"),
                                "s"),
        "bloom.filter_bytes": metric(
            probe[1] if probe else avg("bloom.filter_bytes"), "B"),
        "tables.commit_s": metric(avg("tables.commit_s"), "s"),
        "tables.files_written": metric(avg("tables.files_written"), "count"),
        "tables.bytes_written": metric(avg("tables.bytes_written"), "B"),
        "tables.read_s": metric(avg("tables.read_s"), "s"),
        "tables.compact_s": metric(avg("tables.compact_s"), "s"),
        "tables.store_bytes_per_page": metric(
            sum(o.get("store_bytes", 0) for o in ops) / items, "B"),
        "spark.executor_cpu_s": metric(avg("cpu_s"), "s"),
        "spark.gc_s": metric(avg("gc_s"), "s"),
        "spark.shuffle_write_bytes": metric(avg("shuffle_write_bytes"), "B"),
        "spark.spill_bytes": metric(avg("spill_bytes"), "B"),
    }
    for mod in MODULES:
        m[f"spark.cpu_s.{mod}"] = metric(avg(f"cpu_s.{mod}"), "s")
    return m


def run(args) -> dict:
    work = os.path.join(HERE, "_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    wl = WORKLOADS[args.workload](args.seed, work, args.smoke)
    wl.prepare()

    phases = {}
    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    spark = start_session(work)
    phases["start"] = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            from crawlbench.trace import Tracer
            tracer = Tracer(spark, wl.base_module)
            tracer.install()
        wl.load(spark)
        t1 = time.perf_counter()
        wl.warmup(spark)
        drop_cached(spark)
        phases["warmup"] = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0
        setup_cpu_s = tree_cpu_s() - cpu0
        log(f"setup {setup_s:.2f}s wall, {setup_cpu_s:.2f}s cpu "
            f"(session {phases['start']:.2f}s)")

        attempted, good, wrong = 0, [], 0
        loop0 = time.perf_counter()
        while not attempted or time.perf_counter() - loop0 < args.seconds:
            tag = f"op{attempted}"
            attempted += 1
            if tracer:
                tracer.start_op(tag)
            try:
                c0 = tree_cpu_s()
                out = wl.operation(spark)
                out["proc_cpu_s"] = tree_cpu_s() - c0
                spans = tracer.take() if tracer else {}
                if tracer:
                    tracer.start_op("check")
                problems = wl.check(spark, out)
            except Exception:                    # noqa: BLE001
                log(f"{tag} raised:\n{traceback.format_exc()}")
                drop_cached(spark)
                continue
            out["cached_rdds_left"] = drop_cached(spark)
            if problems:
                wrong += 1
                log(f"{tag} wrong output: {'; '.join(problems)}")
                continue
            if tracer:
                out.update(spans)
                out.update(tracer.harvest(tag))
            log(f"{tag}: {out['items']} items in {out['wall_s']:.2f}s wall, "
                f"{out['proc_cpu_s']:.2f}s cpu")
            good.append(out)
        if not good:
            raise RuntimeError("no operation succeeded")
        metrics = (per_layer(spark, wl, args.seed, phases, good)
                   if args.trace else end_to_end(setup_cpu_s, good))
    finally:
        stop_session()
    # a raised operation is a failure; a wrong output also clears `correct`
    return {"correct": wrong == 0, "attempted": attempted,
            "failed": attempted - len(good), "metrics": metrics}


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S}s")


def main() -> None:
    ap = argparse.ArgumentParser(description="crawl benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for a quick end-to-end check")
    args = ap.parse_args()
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    result = run(args)
    signal.alarm(0)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

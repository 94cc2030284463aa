"""Where one benchmark operation's CPU goes, by JVM thread group and process.

    python3 tools/cpu_split.py --workload crawl_rounds --seed 1

Sets up a crawlbench workload as ``crawlbench.run.run()`` does, runs one
operation, checks it, and prints the CPU seconds (user + system, from
``/proc``, this process tree only) each group used during the operation.
JVM threads that exited meanwhile (compiler threads start and stop on
demand) are the JVM's process total minus its live threads; the Python
workers are the process tree minus the JVM and this driver process.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from crawlbench import run as R  # noqa: E402

GROUPS = [("C2 compiler", r"C2 CompilerThre"),
          ("C1 compiler", r"C1 CompilerThre"),
          ("executor tasks", r"Executor task"),
          ("Py4J planning", r"Thread-\d+$"),
          ("GC", r"GC Thread|G1 "), ("other JVM", r"")]
TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(stat_path: str) -> tuple[str, float]:
    """Command name and user + system CPU seconds of a process or thread."""
    with open(stat_path) as f:
        s = f.read()
    fields = s[s.rindex(")") + 2:].split()
    return s[s.index("(") + 1:s.rindex(")")], \
        (int(fields[11]) + int(fields[12])) / TICK


def snapshot(jvm: int) -> dict:
    """CPU seconds so far: each live JVM thread (by tid, with its group),
    the JVM process, the whole process tree, and this driver process."""
    threads = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            comm, s = cpu_s(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:                  # the thread has just exited
            continue
        threads[tid] = (next(g for g, rx in GROUPS if re.match(rx, comm)), s)
    return {"threads": threads, "jvm": cpu_s(f"/proc/{jvm}/stat")[1],
            "tree": R.tree_cpu_s(), "driver": sum(os.times()[:4])}


def split(before: dict, after: dict) -> dict[str, float]:
    out = dict.fromkeys([g for g, _ in GROUPS], 0.0)
    for tid, (group, s) in after["threads"].items():
        out[group] += s - before["threads"].get(tid, (group, 0.0))[1]
    d = {k: after[k] - before[k] for k in ("jvm", "tree", "driver")}
    out["exited JVM threads"] = d["jvm"] - sum(out.values())
    out["Python workers"] = d["tree"] - d["jvm"] - d["driver"]
    out["driver Python"] = d["driver"]
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(R.WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    work = os.path.join(R.HERE, "_work", "cpu_split")
    R.pin_environment(work)
    wl = R.WORKLOADS[args.workload](args.seed, work, False)
    wl.prepare()
    spark = R.start_session(work)
    try:
        wl.load(spark)
        wl.warmup(spark)
        R.drop_cached(spark)
        jvm = spark.sparkContext._gateway.proc.pid
        before = snapshot(jvm)
        out = wl.operation(spark)
        groups = split(before, snapshot(jvm))
        problems = wl.check(spark, out)
    finally:
        R.stop_session()
    print(f"{args.workload} seed {args.seed}: {out['items']} items, "
          f"{'; '.join(problems) or 'correct'}")
    for name, s in list(groups.items()) + [("total", sum(groups.values()))]:
        print(f"  {name:<20} {s:8.2f} CPU s")


if __name__ == "__main__":
    main()

"""Time to a first result, with and without the driver JVM's class-data
archive (session.get_spark; README, "Time to first result").

    python scripts/first_result_cost.py [--pairs 3] [--seed 1] [--master local[4]]

Run from the root of a checkout. Every measurement is a fresh child
process (this script run with --child). The children share a cache dir
(XDG_CACHE_HOME) in a temporary directory that starts empty: one
recording child records the archive there, then --pairs alternating
pairs of children start their session without it (session_builder,
which never adds the archive) and with it (get_spark, which maps it).
perfbench's session settings are used. Each child times, in order:
session start, a first JVM-only job (a noop write of spark.range), a
first mapInPandas stage of one task per slot that returns no rows, the
input set-up and first MosaicJob.run of perfbench's mosaic_reproject,
one warm run, and the stop (context, gateway, JVM exit: the recording's
dump happens there).

The first Python stage is split by the start times, in /proc, of the
Python worker daemon and of the first worker it forks, and by the time
the first UDF call begins, all on CLOCK_BOOTTIME:
  py_jvm_s     stage submitted -> daemon started (the JVM plans the
               stage, loads its Python-runner and Arrow classes and
               launches the daemon)
  py_daemon_s  daemon started -> first worker forked (interpreter
               start and the daemon module's imports)
  py_worker_s  worker forked -> first UDF call (the worker reads its
               command and imports pandas and pyarrow)
  py_rest_s    the rest of the stage (the other tasks, results)
Prints one JSON line: the median of every time per arm, each run's
values, the recording child's times and the archive's size.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _boot_s() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def _start_s(pid: int) -> float:
    """A process's start time, in seconds on CLOCK_BOOTTIME."""
    with open(f"/proc/{pid}/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return ticks / os.sysconf("SC_CLK_TCK")


def _probe(it):
    """One row per task: when this worker and its daemon started and
    when the UDF was first called."""
    import pandas as pd

    called = _boot_s()
    for _ in it:
        pass
    yield pd.DataFrame({"worker": [_start_s(os.getpid())],
                        "daemon": [_start_s(os.getppid())], "called": [called]})


def child(args) -> dict:
    sys.path.insert(0, ROOT)
    from pyspark import SparkContext

    from aef_mosaic_spark import session
    from perfbench import workloads as W

    slots = int(args.master.split("[")[1].rstrip("]"))
    work = tempfile.mkdtemp(prefix="first-result-", dir=args.work)
    conf = {"spark.driver.memory": "2g",
            "spark.sql.shuffle.partitions": str(2 * slots),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false"}
    out = {}
    t = time.perf_counter()
    if args.arm == "off":
        spark = session.session_builder("first-result", conf).master(args.master).getOrCreate()
    else:
        spark = session.get_spark("first-result", args.master, conf)
    spark.sparkContext.setLogLevel("ERROR")
    out["session_s"] = time.perf_counter() - t
    out["java_options"] = [str(a) for a in spark._jvm.java.lang.management.ManagementFactory
                           .getRuntimeMXBean().getInputArguments() if "Archive" in str(a)]

    t = time.perf_counter()
    spark.range(0, 1000, 1, slots).write.format("noop").mode("overwrite").save()
    out["jvm_job_s"] = time.perf_counter() - t

    t, submitted = time.perf_counter(), _boot_s()
    rows = spark.range(0, slots, 1, slots).mapInPandas(
        _probe, "worker double, daemon double, called double").collect()
    done = _boot_s()
    out["python_stage_s"] = time.perf_counter() - t
    daemon = min(r.daemon for r in rows)
    worker = min(r.worker for r in rows)
    called = min(r.called for r in rows)
    out.update(py_jvm_s=daemon - submitted, py_daemon_s=worker - daemon,
               py_worker_s=called - worker, py_rest_s=done - called)

    t = time.perf_counter()
    wl = W.WORKLOADS["mosaic_reproject"](W.Ctx(spark, os.path.join(work, "data"), args.seed, W.FULL))
    wl.setup()
    out["inputs_s"] = time.perf_counter() - t
    for name in ("first_mosaic_s", "warm_mosaic_s"):
        wl.before_call()
        t = time.perf_counter()
        wl.call()
        out[name] = time.perf_counter() - t

    gw = SparkContext._gateway
    t = time.perf_counter()
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(300)
    out["stop_s"] = time.perf_counter() - t
    shutil.rmtree(work, ignore_errors=True)
    return out


def run_child(args, arm: str, cache: str) -> dict:
    env = {**os.environ, "XDG_CACHE_HOME": cache, "PYTHONPATH": ROOT}
    cmd = [sys.executable, os.path.abspath(__file__), "--child", "--arm", arm,
           "--master", args.master, "--seed", str(args.seed), "--work", args.work]
    res = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=900)
    if res.returncode != 0:
        sys.exit(f"{arm} child failed:\n{res.stderr[-3000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--work", default=None, help="scratch root (default: $TMPDIR)")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--arm", choices=("off", "on"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        print(json.dumps(child(args)))
        return

    args.work = tempfile.mkdtemp(prefix="first-result-cost-", dir=args.work)
    cache = os.path.join(args.work, "cache")
    try:
        record = run_child(args, "on", cache)
        archives = glob.glob(os.path.join(cache, "aef_mosaic_spark", "cds", "*.jsa"))
        if not archives:
            sys.exit("the recording child left no archive")
        record["archive_mib"] = os.path.getsize(archives[0]) / 2**20
        runs = {"off": [], "on": []}
        for i in range(args.pairs):
            for arm in (("off", "on") if i % 2 == 0 else ("on", "off")):
                runs[arm].append(run_child(args, arm, cache))
    finally:
        shutil.rmtree(args.work, ignore_errors=True)

    def medians(rs):
        return {k: round(statistics.median(r[k] for r in rs), 3)
                for k in rs[0] if isinstance(rs[0][k], float)}

    print(json.dumps({
        "master": args.master, "seed": args.seed, "pairs": args.pairs,
        "record": {k: round(v, 3) if isinstance(v, float) else v for k, v in record.items()},
        "java_options": {arm: rs[0]["java_options"] for arm, rs in runs.items()},
        "off": medians(runs["off"]), "on": medians(runs["on"]),
        "runs": {arm: [{k: round(v, 3) for k, v in r.items() if isinstance(v, float)}
                       for r in rs] for arm, rs in runs.items()},
    }))


if __name__ == "__main__":
    main()

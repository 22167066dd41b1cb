"""aef-mosaic-spark benchmark: one workload per process, closed loop.

    python3 perfbench/run.py --workload mosaic_reproject --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The run starts a local[k] Spark
session (k = min(4, usable cores)), builds the workload's seeded
inputs once, makes the workload's untimed warm-up calls (the JVM's JIT
keeps speeding calls up for several calls; a count, not a duration, so
a slow host does not also get a colder measurement), then makes timed
calls one at a time until their summed wall time reaches --seconds.
setup_s is the time to a first result: imports and session start, the
input set-up, and the first (cold) call. Every call's output is
checked against an oracle computed once per seed beside the warm-up
calls after the cold one, outside any timed region. The last stdout
line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; the line before it holds the run's context (inputs'
properties, environment, per-call times).

--trace 1 makes one untimed reference call in place of the timed ones
(its wall time is the untraced one that trace.overhead_s subtracts),
then a traced pass: the workload's call under a Spark job group, then
every layer's public function on materialized input, each in its own
span. Layers off the workload's own path run on small probe inputs
from the same seed. Spans are written to .perfbench/traces/ in the
checkout when the run ends.

All scratch data lives under .perfbench/ in the checkout and is
removed at exit; the JVM and its Python workers are stopped and
waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _units(kind: str) -> dict:
    """{metric: unit} of BENCHMARK.json's `end_to_end` or `per_layer`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# ------------------------------------------------------------ process
def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(d))
    return kids


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak resident memory of the JVM and its Python workers, sampled
    from /proc every 20 ms while `active` is set."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self.active.wait(0.1):
                self.peak = max(self.peak, _rss_bytes(_tree(self.jvm_pid)))
                time.sleep(0.02)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(5)


# ------------------------------------------------------------ session
def start_spark(work: str, slots: int):
    from aef_mosaic_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench", master=f"local[{slots}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.shuffle.partitions": str(2 * slots),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for the JVM and every
    Python worker it forked to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    procs = _tree(gw.proc.pid)[1:] if gw is not None and gw.proc is not None else []
    spark.stop()
    if gw is None or gw.proc is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait(10)
    deadline = time.time() + 20
    while procs and time.time() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in procs:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# -------------------------------------------------------------- probes
def canary_cpu_s() -> float:
    """Fixed single-thread numpy sort workload (host-speed context in
    the style of bench.py's canary): min of 3 after one warm-up pass."""
    import numpy as np

    def one() -> float:
        x = np.random.default_rng(0).random(1_000_000)
        t = time.perf_counter()
        for _ in range(5):
            y = np.sort(x)
            x = np.roll(y, 1)
            x[0] = float((y[:1000] * y[:1000]).sum()) % 1.0
        return time.perf_counter() - t

    one()
    return min(one() for _ in range(3))


def driver_layer_probes(tr, seed: int, probe_crs: str) -> dict:
    """codecs.decode per format on a seeded tile sample, and
    proj.transform_points on one chunk's pixel centres, timed in the
    driver."""
    import numpy as np

    from aef_mosaic_spark import codecs, proj
    from perfbench import inputs

    out = {}
    sample = inputs.tiles(40, seed)
    with tr.span("codecs.decode"):
        for fmt, g in sample.groupby("fmt"):
            per = []
            for t in g.itertuples(index=False):
                ts = []
                for _ in range(5):
                    t0 = time.perf_counter()
                    codecs.decode(t.bytes, t.fmt, t.w, t.h)
                    ts.append(time.perf_counter() - t0)
                per.append(statistics.median(ts))
            out[f"codecs.decode_us_per_tile.{fmt}"] = statistics.mean(per) * 1e6
    x0 = float(sample["min_x"].min())
    y1 = float(sample["max_y"].max())
    if probe_crs != "EPSG:32610":
        x0, y1 = proj.transform_points([x0], [y1], "EPSG:32610", probe_crs)
        x0, y1 = float(x0[0]), float(y1[0])
    cx = x0 + (np.arange(256) + 0.5) * 10.0
    cy = y1 - (np.arange(256) + 0.5) * 10.0
    X, Y = np.meshgrid(cx, cy)
    with tr.span("proj.transform_points"):
        ts = []
        for _ in range(7):
            t0 = time.perf_counter()
            proj.transform_points(X.ravel(), Y.ravel(), probe_crs, "EPSG:32610")
            ts.append(time.perf_counter() - t0)
    out["proj.transform_ns_per_px"] = statistics.median(ts) / X.size * 1e9
    return out


def traced_pass(tr, wl, ctx, untraced_wall: float) -> tuple[dict, list[str]]:
    """Spans: workload > {call, own layers, probe layers, driver probes}.
    -> (per-layer metrics, problems with the traced call's output)."""
    from perfbench import workloads as W

    layers: dict = {}
    with tr.span(f"workload.{wl.name}") as root:
        wl.before_call()
        with tr.span("call") as call:
            result = wl.call()
        call_problems = wl.check(result)
        layers.update(wl.layers(tr))
        for name, cls in W.WORKLOADS.items():
            if name == wl.name:
                continue
            probe_ctx = W.Ctx(ctx.spark, os.path.join(ctx.work, f"probe-{name}"),
                              ctx.seed, W.SMALL)
            probe = cls(probe_ctx)
            probe.setup()
            with tr.span(f"probe.{name}"):
                for k, v in probe.layers(tr).items():
                    layers.setdefault(k, v)
        layers.update(driver_layer_probes(tr, ctx.seed, wl.probe_crs))
    tr.finish()
    for k, v in call["counters"].items():
        layers[f"spark.{k}"] = v
    layers["trace.call_s"] = call["dur_s"]
    layers["trace.overhead_s"] = call["dur_s"] - untraced_wall
    layers["trace.root_self_s"] = root["self_s"]
    return layers, call_problems


# ---------------------------------------------------------------- main
def measure(wl, seconds: float, problems: list, sampler=None):
    """Closed loop: one timed call at a time until the calls' summed
    wall time reaches `seconds`. Each output is checked after its call,
    outside the timed region. -> (walls, items/s, attempted, failed)."""
    walls, rates, attempted, failed = [], [], 0, 0
    while attempted == 0 or sum(walls) < seconds:
        wl.before_call()
        attempted += 1
        if sampler is not None:
            sampler.active.set()
        t0 = time.perf_counter()
        try:
            result = wl.call()
        except Exception as e:  # a failed call is counted, not fatal
            failed += 1
            problems.append(f"call {attempted}: {type(e).__name__}: {e}")
            if failed >= 3:
                break
            continue
        finally:
            wall = time.perf_counter() - t0
            if sampler is not None:
                sampler.active.clear()
        walls.append(wall)
        rates.append(wl.items(result) / wall)
        bad = wl.check(result)
        if bad:
            failed += 1
            problems += [f"call {attempted}: {p}" for p in bad]
    return walls, rates, attempted, failed


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="small inputs (the benchmark's own tests)")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "aef_mosaic_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {ROOT} holds no aef_mosaic_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    slots = max(1, min(4, len(os.sched_getaffinity(0))))
    phases = {"imports_s": time.perf_counter() - t_start}
    spark = start_spark(work, slots)
    phases["session_s"] = time.perf_counter() - t_start - sum(phases.values())
    from pyspark import SparkContext

    sampler = None
    try:
        from perfbench.trace import Tracer

        ctx = W.Ctx(spark, os.path.join(work, "data"), args.seed,
                    W.SMALL if args.small else W.FULL)
        wl = W.WORKLOADS[args.workload](ctx)
        wl.setup()
        phases["inputs_s"] = time.perf_counter() - t_start - sum(phases.values())
        warmups = []
        with ThreadPoolExecutor(1) as pool:
            for i in range(wl.warmup_calls):
                if i == 1:
                    # after the cold call the oracle runs beside the
                    # remaining (untimed) warm-up calls
                    oracle = pool.submit(_timed, wl.oracle)
                wl.before_call()
                t0 = time.perf_counter()
                warm = wl.call()
                warmups.append(time.perf_counter() - t0)
            phases["oracle_s"] = oracle.result()
        phases["warmup_calls_s"] = sum(warmups)
        setup_s = phases["imports_s"] + phases["session_s"] + phases["inputs_s"] + warmups[0]

        problems = [f"warm-up: {p}" for p in wl.check(warm)]
        sampler = RssSampler(SparkContext._gateway.proc.pid) if args.trace else None
        # a traced run needs one untimed reference call, not a measurement
        walls, rates, attempted, failed = measure(wl, 0 if args.trace else args.seconds,
                                                  problems, sampler)

        import numpy, pandas, pyarrow, duckdb, pyspark  # noqa: E401 (versions)
        context = {
            "workload": args.workload, "seed": args.seed, "item": wl.item,
            "inputs": wl.properties(),
            "env": {"nproc": os.cpu_count(), "usable_cores": len(os.sched_getaffinity(0)),
                    "master": f"local[{slots}]", "canary_cpu_s": canary_cpu_s(),
                    "python": sys.version.split()[0], "pyspark": pyspark.__version__,
                    "java": spark._jvm.System.getProperty("java.version"),
                    "numpy": numpy.__version__, "pandas": pandas.__version__,
                    "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__},
            "setup_phases_s": phases,
            "warmups_s": warmups, "calls_s": walls, "problems": problems[:20],
        }
        wall_med = statistics.median(walls) if walls else float("nan")
        if args.trace:
            tr = Tracer(spark, slots)
            layers, call_problems = traced_pass(tr, wl, ctx, wall_med)
            layers["process.peak_rss_mb"] = sampler.peak / 2**20
            problems += [f"traced call: {p}" for p in call_problems]
            units = _units("per_layer")
            problems += [f"traced run: no value for {k}" for k in units if k not in layers]
            metrics = {k: {"value": float(layers.get(k, 0)), "unit": u} for k, u in units.items()}
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tr.write(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
                     {**context, "per_layer": {k: m["value"] for k, m in metrics.items()}})
        else:
            values = {"setup_s": setup_s, "wall_s": wall_med,
                      "items_per_s": statistics.median(rates) if rates else 0.0}
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in _units("end_to_end").items()}
    finally:
        if sampler is not None:
            sampler.close()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"context": context}))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Fixed cost of a Python task: wall time of an empty mapInPandas stage.

    python scripts/python_task_cost.py [--master local[4]] [--reps 5]

Run from the root of a checkout. Starts a session from the package's
defaults, warms the Python workers up once, then times (median of
--reps) a stage of 4 and of 16 tasks whose mapInPandas UDF returns no
rows, beside the same stage without the UDF (JVM only). The gap
between the two is what every Python task pays before its UDF body
runs. Prints one JSON line of seconds.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time

sys.path.insert(0, ".")

from aef_mosaic_spark.session import get_spark  # noqa: E402


def _nothing(it):
    for _ in it:
        pass
    return iter(())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    spark = get_spark(app_name="python-task-cost", master=args.master,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    def stage(tasks: int, python: bool):
        df = spark.range(0, tasks, 1, tasks)
        if python:
            df = df.mapInPandas(_nothing, schema="id long")
        return lambda: df.write.format("noop").mode("overwrite").save()

    out = {"master": args.master}
    for tasks in (4, 16):
        for python in (True, False):
            run = stage(tasks, python)
            run()  # untimed: start (or reuse) the workers
            secs = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                run()
                secs.append(time.perf_counter() - t0)
            out[f"{'python' if python else 'jvm'}_{tasks}_s"] = round(statistics.median(secs), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

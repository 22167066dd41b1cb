"""SparkSession factory with scale-oriented defaults.

The reference tunes a single node (tokio workers / rayon pool /
bounded channels, /root/reference/src/main.rs:92-108). Our analog is
Spark conf: AQE (runtime re-plan + skew-join splitting), Arrow-batched
Python exchange (all heavy kernels are pandas/Arrow UDFs, never
per-row Python), and shuffle-partition sizing.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

# the directory holding this package (a checkout, site-packages or a
# --py-files zip): on the workers' PYTHONPATH so the daemon module below
# imports whatever the workers' cwd
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Defaults chosen for the sandbox (local[32], 128 GiB). On a real
# cluster the same conf names apply; shuffle partitions should be
# ~2-3x total cores and maxPartitionBytes left at 128 MiB so a 100 TB
# scan yields ~800k input splits (fine for a 1000-executor cluster).
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size bounds per-UDF-call memory for binary image rows.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.shuffle.partitions": "64",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # single BLAS thread per python worker (see session_builder)
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    # Python workers that re-read a zip's directory only when it changed
    # (pyworker docstring): an empty 16-task mapInPandas stage on
    # local[4] took 1.35-1.40 s, ~0.5 s with it (scripts/python_task_cost.py)
    "spark.python.daemon.module": "aef_mosaic_spark.pyworker",
    "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT,
}


def session_builder(app_name: str = "aef-mosaic-spark",
                    extra_conf: dict[str, str] | None = None) -> SparkSession.Builder:
    """A builder carrying _DEFAULT_CONF (then ``extra_conf``) and no
    master, so spark-submit's ``--master`` (or pyspark's ``local[*]``)
    decides where it runs."""
    # one numpy/BLAS thread per python worker: Spark supplies the
    # process-level parallelism; nested OpenBLAS/MKL threads (numpy
    # einsum in the codecs) oversubscribe cores and *reduce* throughput
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = SparkSession.builder.appName(app_name)
    for k, v in {**_DEFAULT_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    app_name: str = "aef-mosaic-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession from session_builder.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``local[*]``) so the same entry point runs at two parallelism
    levels (local[8] vs local[32]) for the scaling-efficiency
    protocol in BASELINE.md.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    # pyspark keeps the gateway of a JVM that has exited (a stopped
    # session whose gateway was shut down); dropping it lets
    # getOrCreate launch a fresh JVM instead of refusing to connect
    gw = SparkContext._gateway
    if getattr(gw, "proc", None) is not None and gw.proc.poll() is not None:
        SparkContext._gateway = SparkContext._jvm = None
    return session_builder(app_name, extra_conf).master(master).getOrCreate()

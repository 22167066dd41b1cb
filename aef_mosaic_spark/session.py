"""SparkSession factory with scale-oriented defaults.

The reference tunes a single node (tokio workers / rayon pool /
bounded channels, /root/reference/src/main.rs:92-108). Our analog is
Spark conf: AQE (runtime re-plan + skew-join splitting), Arrow-batched
Python exchange (all heavy kernels are pandas/Arrow UDFs, never
per-row Python), and shuffle-partition sizing.

The reference is one long-running binary; every run here starts a
JVM, and class loading is most of that start. A driver JVM that
get_spark launches maps a dynamic AppCDS archive of Spark's classes
(JDK 17 class-data sharing): the first session that finds none
records one as its JVM exits, and every later one maps it (README,
"Time to first result").
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import subprocess
import time
import warnings

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# the directory holding this package (a checkout, site-packages or a
# --py-files zip): on the workers' PYTHONPATH so the daemon module below
# imports whatever the workers' cwd
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Defaults sized for one node (local[k]); spark.driver.memory follows
# $SPARK_GRAFT_DRIVER_MEM. On a real cluster the same conf names apply;
# shuffle partitions should be ~2-3x total cores and maxPartitionBytes
# left at 128 MiB so a 100 TB scan yields ~800k input splits (fine for
# a 1000-executor cluster).
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


# ------------------------------------------------ class-data sharing
# a recording JVM still running when its process exits gets this long
# to stop (a recording mosaic session's stop, with its dump, measured ~11 s)
_JVM_EXIT_WAIT_S = 120
# an archive no session has mapped for this long (one for an older JDK,
# Spark or heap class) is deleted when a new one is promoted
_CDS_UNUSED_S = 30 * 86400
# env vars and conf that put more than the conf dir and Spark's jars on
# the driver's class path: a non-empty directory there stops the dump
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_PREPEND_CLASSES")
# (recording driver JVM this process launched, its recording path)
_recording: tuple[subprocess.Popen, str] | None = None


def _cds_root() -> str:
    """$XDG_CACHE_HOME, else ``.cache`` next to the package (in a
    checkout, the checkout's own directory), then aef_mosaic_spark/cds."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(_PACKAGE_PARENT, ".cache")
    return os.path.join(cache, "aef_mosaic_spark", "cds")


def _heap_bytes(size: str) -> int:
    """spark.driver.memory as bytes (a bare number is MiB, as in Spark)."""
    size = size.strip().lower().rstrip("b")
    scale = {"k": 1, "m": 2, "g": 3, "t": 4}
    if size and size[-1] in scale:
        return int(float(size[:-1]) * 1024 ** scale[size[-1]])
    return int(float(size)) * 1024 ** 2


def _cds_key(jdk: str, spark_home: str, heap: str) -> str:
    """The JDK, Spark's jar set (names, sizes, mtimes) and the
    compressed-oops class of the heap: an archive maps only where all
    three match the JVM that recorded it."""
    parts = [jdk, _heap_bytes(heap) < 32 * 1024 ** 3]
    for f in [os.path.join(jdk, "lib", "modules"), os.path.join(jdk, "lib", "server", "libjvm.so"),
              *sorted(glob.glob(os.path.join(spark_home, "jars", "*")))]:
        st = os.stat(f)
        parts.append((os.path.basename(f), st.st_size, st.st_mtime_ns))
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _cds_launch(conf: dict[str, str]) -> tuple[str, str, str, str | None] | None:
    """(java option, conf dir, archive, recording path or None) for a
    driver JVM about to launch with ``conf``, or None to launch it
    unchanged.

    JDK 17 refuses to dump with a non-empty directory on the class path
    and maps an archive only under the class path it was dumped with, so
    a conf dir holding nothing but ``*.template`` files (what Spark
    ships) is swapped for an empty one at a fixed path; a conf dir with
    a real file, or any other class-path entry, turns the archive off.
    """
    spark_home = _find_spark_home()
    # the java Spark's launcher runs: $JAVA_HOME's, else the one on PATH
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else shutil.which("java"))
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    if (java is None or any(not n.endswith(".template") for n in names)
            or any(os.environ.get(v) for v in _CLASSPATH_ENV)
            or conf.get("spark.driver.extraClassPath")):
        return None
    root = _cds_root()
    if any(c.isspace() for c in root):  # the option string is split on blanks
        return None
    empty = os.path.join(root, "conf")
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None
        key = _cds_key(jdk, spark_home, conf["spark.driver.memory"])
        archive = os.path.join(root, f"{key}.jsa")
        # an empty file (the JVM would warn and run without it) is
        # recorded over
        mapped = os.path.isfile(archive) and os.path.getsize(archive) > 0
    except OSError:  # no writable cache dir, or a JDK laid out otherwise
        return None
    if mapped:
        try:
            os.utime(archive)  # mapped now: kept by _settle_jvm's pruning
        except OSError:  # another user's archive
            pass
        return f"-XX:SharedArchiveFile={archive}", empty, archive, None
    # a recording whose process is gone was never promoted: drop it
    for tmp in glob.glob(os.path.join(root, "*.*.tmp")):
        pid = tmp.rsplit(".", 2)[-2]
        if not pid.isdigit() or not _pid_alive(int(pid)):
            try:
                os.remove(tmp)
            except OSError:
                pass
    tmp = os.path.join(root, f"{key}.{os.getpid()}.tmp")
    # the dump's ~500 per-class warnings (signed jars, old class files)
    # would go to stdout
    return f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=error", empty, archive, tmp


def _settle_jvm() -> None:
    """Let the recording driver JVM this process launched finish. One
    still running is stopped (context, gateway, EOF on its stdin) and
    waited for, at most _JVM_EXIT_WAIT_S, so none outlives us. Its
    recording becomes the archive only if it exited with status 0 (an
    archive cut short crashes every JVM that maps it), and only once it
    is on disk; else it is deleted."""
    global _recording
    if _recording is None:
        return
    (proc, tmp), _recording = _recording, None
    if proc.poll() is None:
        sc, gw = SparkContext._active_spark_context, SparkContext._gateway
        try:
            if sc is not None:
                sc.stop()
            if gw is not None and gw.proc is proc:
                gw.shutdown()
        except Exception as e:  # at exit: the JVM still stops at EOF below
            warnings.warn(f"stopping the Spark session at exit failed: {e!r}")
        proc.stdin.close()  # the gateway exits at EOF on its stdin
        try:
            proc.wait(_JVM_EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    root, archive = os.path.dirname(tmp), tmp.rsplit(".", 2)[0] + ".jsa"
    try:
        if proc.returncode != 0 or not os.path.isfile(tmp):
            os.remove(tmp)
            return
        _fsync(tmp)
        os.replace(tmp, archive)
        _fsync(root)
        for old in glob.glob(os.path.join(root, "*.jsa")):
            if old != archive and os.path.getmtime(old) < time.time() - _CDS_UNUSED_S:
                os.remove(old)
    except OSError:
        pass


atexit.register(_settle_jvm)


def _launch(builder: SparkSession.Builder, conf: dict[str, str],
            cds: tuple[str, str, str, str | None]) -> SparkSession:
    """getOrCreate with the archive option put ahead of a caller's own
    ``spark.driver.defaultJavaOptions`` (which Spark puts before
    ``extraJavaOptions``) and SPARK_CONF_DIR at the empty conf dir."""
    option, conf_dir, _, _ = cds
    own = conf.get("spark.driver.defaultJavaOptions")
    builder = builder.config("spark.driver.defaultJavaOptions",
                             f"{option} {own}" if own else option)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def get_spark(
    app_name: str = "aef-mosaic-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession from session_builder.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``local[*]``) so the same entry point runs at two parallelism
    levels (local[8] vs local[32]) for the scaling-efficiency
    protocol in BASELINE.md. A JVM launched here maps the class-data
    archive (module docstring), or records it if there is none yet.
    """
    global _recording
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    # pyspark keeps the gateway of a JVM that has exited (a stopped
    # session whose gateway was shut down); dropping it lets
    # getOrCreate launch a fresh JVM instead of refusing to connect
    gw = SparkContext._gateway
    if getattr(gw, "proc", None) is not None and gw.proc.poll() is not None:
        SparkContext._gateway = SparkContext._jvm = None
        _settle_jvm()
    builder = session_builder(app_name, extra_conf).master(master)
    # a driver JVM is launched here only without a live gateway and
    # outside spark-submit (whose driver is already running)
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()
    conf = {**_DEFAULT_CONF, **(extra_conf or {})}
    cds = _cds_launch(conf)
    if cds is None:
        return builder.getOrCreate()
    try:
        spark = _launch(builder, conf, cds)
    except PySparkRuntimeError as e:
        if cds[3] is not None or e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        # an archive the JVM cannot map (one cut short on disk) kills it
        # at start: drop it and launch once more, recording a new one
        warnings.warn(f"the driver JVM failed with class-data archive {cds[2]} ({e!r}); "
                      "deleting it and launching again without it")
        try:
            os.remove(cds[2])
        except FileNotFoundError:  # another process got there first
            pass
        cds = _cds_launch(conf)
        if cds is None:  # the cache dir changed in between
            raise
        spark = _launch(builder, conf, cds)
    if cds[3] is not None:
        _recording = (SparkContext._gateway.proc, cds[3])
    return spark

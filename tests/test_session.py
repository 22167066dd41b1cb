"""session.get_spark: a second session after one whose JVM was shut
down, and the class-data archive its driver JVMs record and map."""

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


def test_get_spark_after_gateway_shutdown():
    """Stopping the context and shutting the py4j gateway down (what a
    benchmark run does before it exits) leaves pyspark's cached
    gateway dead; the next get_spark must start a working JVM.  Runs
    in a subprocess so the suite's own session is untouched."""
    script = textwrap.dedent("""
        from pyspark import SparkContext
        from aef_mosaic_spark.session import get_spark

        spark = get_spark(app_name="gw-1", master="local[1]")
        assert spark.range(3).count() == 3
        gw = SparkContext._gateway
        spark.stop()
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(60)
        spark = get_spark(app_name="gw-2", master="local[1]")
        print("rows", spark.range(5).count())
        spark.stop()
    """)
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "rows 5" in out.stdout


# ---------------------------------------------- class-data sharing
# Each child runs get_spark with XDG_CACHE_HOME under tmp_path, so the
# archive it records or maps is its own and the suite's session is
# untouched. A child prints one JSON line about its driver JVM.
_CHILD = """
import json, os, signal, sys, time
from pyspark import SparkContext
from aef_mosaic_spark.session import get_spark

def tree(root):
    kids = {}
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                kids.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(int(d))
        except (OSError, ValueError):
            pass
    out, todo = [], [root]
    while todo:
        out.append(todo.pop())
        todo += kids.get(out[-1], [])
    return out

def report(spark, **kw):
    jvm = spark._jvm
    info = {
        "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
        "conf_dir": jvm.System.getenv("SPARK_CONF_DIR"),
        "env_conf_dir": os.environ.get("SPARK_CONF_DIR"),
        "caller": jvm.System.getProperty("caller.flag"),
        "pids": tree(SparkContext._gateway.proc.pid), **kw}
    print(json.dumps(info), flush=True)
    return info

spark = get_spark(app_name="cds", master="local[1]",
                  extra_conf={"spark.driver.memory": "512m", **json.loads(sys.argv[1])})
"""


def _child(tmp_path, body, conf=None, env=None):
    path = os.pathsep.join([str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    full_env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "cache"), "PYTHONPATH": path,
                **(env or {})}
    # cwd: where a crashing JVM leaves its hs_err_pid*.log
    out = subprocess.run([sys.executable, "-c", _CHILD + textwrap.dedent(body),
                          json.dumps(conf or {})],
                         cwd=tmp_path, env=full_env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line), out


def _cds_files(tmp_path, pattern):
    return sorted((tmp_path / "cache" / "aef_mosaic_spark" / "cds").glob(pattern))


def _option(args, name):
    return [a.split("=", 1)[1] for a in args if a.startswith(f"-XX:{name}=")]


def _alive(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A first session, with a caller's own defaultJavaOptions, that
    runs a Python stage and exits without spark.stop()."""
    tmp_path = tmp_path_factory.mktemp("cds")
    info, _ = _child(tmp_path, """
        assert spark.range(8).mapInPandas(lambda it: it, "id long").count() == 8
        report(spark)
    """, conf={"spark.driver.defaultJavaOptions": "-Dcaller.flag=kept"})
    return tmp_path, info


def test_cds_first_session_records_and_promotes(recorded):
    tmp_path, info = recorded
    (recording,) = _option(info["args"], "ArchiveClassesAtExit")
    assert recording.endswith(".tmp") and not _option(info["args"], "SharedArchiveFile")
    (archive,) = _cds_files(tmp_path, "*.jsa")
    assert recording.rsplit(".", 2)[0] + ".jsa" == str(archive)
    assert archive.stat().st_size > 0 and not _cds_files(tmp_path, "*.tmp")


def test_cds_recording_child_leaves_no_process(recorded):
    _, info = recorded
    assert len(info["pids"]) > 1  # the JVM and the Python workers it forked
    assert [p for p in info["pids"] if _alive(p)] == []


def test_cds_keeps_caller_default_java_options(recorded):
    _, info = recorded
    assert info["caller"] == "kept"


def test_cds_second_session_maps_archive(recorded):
    tmp_path, _ = recorded
    info, out = _child(tmp_path, """
        assert spark.range(5).count() == 5
        report(spark)
        spark.stop()
    """)
    (archive,) = _cds_files(tmp_path, "*.jsa")
    assert _option(info["args"], "SharedArchiveFile") == [str(archive)]
    assert not _option(info["args"], "ArchiveClassesAtExit")
    # a JVM that cannot map the archive warns and runs without it
    assert "shared archive" not in (out.stdout + out.stderr).lower()
    # the JVM ran under the empty conf dir; the child's own env is as it was
    assert info["conf_dir"] == str(archive.parent / "conf")
    assert info["env_conf_dir"] == os.environ.get("SPARK_CONF_DIR")


def test_cds_killed_or_stale_recording_is_never_mapped(tmp_path):
    """A recording JVM killed with SIGKILL in the middle of its dump is
    never promoted; neither is a stale .tmp. The next session starts
    normally and records again."""
    killed, _ = _child(tmp_path, """
        assert spark.range(5).count() == 5
        info = report(spark)
        (tmp,) = [a.split("=", 1)[1] for a in info["args"]
                  if a.startswith("-XX:ArchiveClassesAtExit=")]
        proc = SparkContext._gateway.proc
        spark.stop()
        proc.stdin.close()  # the gateway exits at EOF and starts its dump
        deadline = time.time() + 120
        while not os.path.exists(tmp) and time.time() < deadline:
            time.sleep(0.002)
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait()
        print(json.dumps({"status": proc.returncode, "tmp": tmp}))
    """)
    assert killed["status"] == -9
    assert not _cds_files(tmp_path, "*.jsa") and not _cds_files(tmp_path, "*.tmp")
    # a leftover of a process that died before it could settle its dump
    stale = Path(killed["tmp"])
    stale.write_bytes(b"\0" * 4096)
    info, _ = _child(tmp_path, """
        assert spark.range(5).count() == 5
        report(spark)
        os.kill(SparkContext._gateway.proc.pid, signal.SIGKILL)
    """)
    (recording,) = _option(info["args"], "ArchiveClassesAtExit")
    assert not _option(info["args"], "SharedArchiveFile")
    assert Path(recording) != stale and not stale.exists()
    assert not _cds_files(tmp_path, "*.jsa") and not _cds_files(tmp_path, "*.tmp")


def test_cds_truncated_archive_is_recorded_again(recorded, tmp_path):
    """An archive cut short (a host crash before the promoted file
    reached the disk) kills the JVM that maps it; get_spark deletes it,
    launches once more and records a whole one."""
    (whole,) = _cds_files(recorded[0], "*.jsa")
    cds = tmp_path / "cache" / "aef_mosaic_spark" / "cds"
    cds.mkdir(parents=True)
    with open(whole, "rb") as f:
        (cds / whole.name).write_bytes(f.read(whole.stat().st_size // 2))
    info, out = _child(tmp_path, """
        assert spark.range(5).count() == 5
        report(spark)
    """)
    assert "deleting it and launching again" in out.stderr
    (recording,) = _option(info["args"], "ArchiveClassesAtExit")
    assert not _option(info["args"], "SharedArchiveFile")
    (archive,) = _cds_files(tmp_path, "*.jsa")
    assert archive.name == whole.name and archive.stat().st_size > whole.stat().st_size // 2
    assert not _cds_files(tmp_path, "*.tmp")


def test_cds_root_defaults_next_to_package(monkeypatch):
    """Without XDG_CACHE_HOME the archive lives in .cache beside the
    package (a checkout's own directory), not under $HOME."""
    from aef_mosaic_spark import session
    monkeypatch.delenv("XDG_CACHE_HOME", raising=False)
    assert session._cds_root() == str(ROOT / ".cache" / "aef_mosaic_spark" / "cds")
    monkeypatch.setenv("XDG_CACHE_HOME", "/x")
    assert session._cds_root() == "/x/aef_mosaic_spark/cds"


@pytest.mark.parametrize("var", ["SPARK_CONF_DIR", "HADOOP_CONF_DIR"])
def test_cds_off_with_real_conf_dir(tmp_path, var):
    """A conf dir with a real file on the driver's class path (a
    spark-defaults.conf, or a Hadoop conf dir) leaves SPARK_CONF_DIR as
    it was and adds no archive option: JDK 17 cannot record with a
    non-empty directory on the class path."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.aef.marker  from-conf\n")
    info, _ = _child(tmp_path, """
        report(spark, marker=spark.conf.get("spark.aef.marker", None))
        spark.stop()
    """, env={var: str(conf_dir)})
    if var == "SPARK_CONF_DIR":
        assert info["marker"] == "from-conf"
        assert info["conf_dir"] == info["env_conf_dir"] == str(conf_dir)
    else:
        assert info["env_conf_dir"] == os.environ.get("SPARK_CONF_DIR")
        assert "aef_mosaic_spark" not in info["conf_dir"]
    assert not [a for a in info["args"] if "Archive" in a]
    assert not _cds_files(tmp_path, "*")

"""session.get_spark after a session whose JVM was shut down."""

import subprocess
import sys
import textwrap
from pathlib import Path

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

"""The Python worker daemon (aef_mosaic_spark.pyworker): each task's
importlib.invalidate_caches() re-reads a zip directory only when the
archive changed, the workers of a session run it, and they find it
from any working directory."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest

from aef_mosaic_spark import pyworker

zip_law = pytest.mark.skipif(sys.version_info >= (3, 13),
                             reason="CPython 3.13+ re-reads zip directories lazily")


def _write_zip(path, files: dict[str, str], mode: str = "w") -> None:
    with zipfile.ZipFile(path, mode) as z:
        for name, src in files.items():
            z.writestr(name, src)


@zip_law
def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch, request):
    """One directory read per changed archive however many importers
    (one per sub-package) share it, none for an unchanged archive, and
    a module added to a rewritten zip becomes importable."""
    @request.addfinalizer
    def _forget_zips():
        for m in [m for m in sys.modules if m.split(".")[0] in ("zpa", "zpb")]:
            del sys.modules[m]
        for p in [p for p in sys.path_importer_cache if p.startswith(str(tmp_path))]:
            del sys.path_importer_cache[p]

    za, zb = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    _write_zip(za, {"zpa/__init__.py": "", "zpa/s1/__init__.py": "",
                    "zpa/s1/m.py": "X = 1\n", "zpa/s2/__init__.py": ""})
    _write_zip(zb, {"zpb/__init__.py": "", "zpb/s1/__init__.py": ""})
    monkeypatch.syspath_prepend(zb)
    monkeypatch.syspath_prepend(za)
    for name in ("zpa.s1.m", "zpa.s2", "zpb.s1"):
        importlib.import_module(name)
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter) and f.archive == za]
    assert len(importers) >= 3  # the archive itself and its sub-packages

    reads: list[str] = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real_read(path))
    importlib.invalidate_caches()  # the stock law: one read per importer
    assert reads.count(za) == len(importers)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)  # restored on exit
    monkeypatch.setattr(pyworker, "_stamps", {})
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is pyworker.invalidate_if_changed
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(za) == 0 and reads.count(zb) == 0

    _write_zip(za, {"zpa/s1/added.py": "Y = 2\n"}, mode="a")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(za) == 1 and reads.count(zb) == 0
    assert importlib.import_module("zpa.s1.added").Y == 2


@zip_law
def test_session_workers_run_the_daemon(spark):
    """The session's Python workers are forked by pyworker's daemon."""
    def probe(it):
        for _ in it:
            pass
        yield pd.DataFrame({"reader": [zipimport.zipimporter.invalidate_caches.__qualname__]})

    got = {r.reader for r in spark.range(0, 4, 1, 4)
           .mapInPandas(probe, schema="reader string").collect()}
    assert got == {"invalidate_if_changed"}


def test_python_udf_runs_from_a_foreign_cwd(tmp_path):
    """A session started outside the checkout (no PYTHONPATH) still
    starts its Python workers: the daemon module is found through the
    package's parent on spark.executorEnv.PYTHONPATH."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(pyworker.__file__)))
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        from aef_mosaic_spark.session import get_spark
        spark = get_spark("foreign-cwd", master="local[1]",
                          extra_conf={{"spark.driver.memory": "1g"}})
        df = spark.range(3).mapInPandas(lambda it: it, schema="id long")
        print("ids", sorted(r.id for r in df.collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "ids [0, 1, 2]" in out.stdout, out.stderr[-2000:]

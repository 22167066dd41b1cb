"""The benchmark's own tests. Run from the repository root:

    python -m pytest perfbench/tests -q

They check that a small run prints every metric BENCHMARK.json names,
that each output check rejects a corrupted value and a dropped row,
and that tracing adds no Spark jobs to the call it traces.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracles  # noqa: E402
from perfbench import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    """-> (the run's context, its result line)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


@pytest.mark.parametrize("workload,trace", [
    *[(w["name"], 0) for w in BENCH["workloads"]],
    (BENCH["workloads"][0]["name"], 1),
])
def test_small_run_prints_every_metric(workload, trace):
    context, out = _run(workload, trace)
    assert context["problems"] == []  # a traced layer without a value is one
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_inputs_follow_the_seed():
    a, b, c = (inputs.tiles(24, s) for s in (5, 5, 6))
    assert a.drop(columns="bytes").equals(b.drop(columns="bytes"))
    assert list(a["bytes"]) == list(b["bytes"])
    assert not a["min_x"].equals(c["min_x"])
    d1, d2 = inputs.corpus(200, 5)[0], inputs.corpus(200, 6)[0]
    assert d1.equals(inputs.corpus(200, 5)[0]) and not d1.equals(d2)


# ------------------------------------------------------- output checks
@pytest.fixture(scope="module")
def mosaic_case():
    t = inputs.tiles(40, 4)
    grid = W._snapped_grid(t[~t["far"]], "EPSG:6933")
    exp = oracles.mosaic_expected(inputs.image_table(t), grid, 2, 4)
    rows = [(*k, n, v) for k, (n, v) in exp["meta"].items()]
    return exp, rows, dict(exp["chunks"])


def test_mosaic_check_accepts_the_oracle(mosaic_case):
    exp, rows, chunks = mosaic_case
    assert len(exp["chunks"]) == 2
    assert oracles.check_mosaic(rows, chunks, exp) == []


def test_mosaic_check_rejects_a_corrupted_chunk(mosaic_case):
    exp, rows, chunks = mosaic_case
    key = next(iter(chunks))
    bad = bytearray(chunks[key])
    bad[len(bad) // 2] ^= 1
    assert oracles.check_mosaic(rows, {**chunks, key: bytes(bad)}, exp)


def test_mosaic_check_rejects_a_dropped_row(mosaic_case):
    exp, rows, chunks = mosaic_case
    assert oracles.check_mosaic(rows[1:], chunks, exp)


def test_digest_check_rejects_a_corrupted_or_dropped_row():
    rows = [(0, r, c, 2, 100, f"{r}{c}") for r in range(3) for c in range(2)]
    want = (oracles.table_digest(rows), len(rows))
    assert oracles.check_digest(list(reversed(rows)), *want) == []
    assert oracles.check_digest(rows[:-1], *want)
    assert oracles.check_digest(rows[:-1] + [(0, 2, 1, 2, 100, "x")], *want)


def test_join_check_rejects_a_corrupted_or_dropped_pair():
    boxes = inputs.tile_geometries(60, 2)
    boxes["box_id"] = np.arange(len(boxes), dtype=np.int32)
    pts = inputs.points(boxes, 3000, 0.1, 2)
    want = oracles.join_expected(pts, boxes)
    assert want[0] > 0 and oracles.check_join(want, want) == []
    n, s_p, s_b, s_pb = want
    assert oracles.check_join((n - 1, s_p - 7, s_b - 3, s_pb - 21), want)
    assert oracles.check_join((n, s_p, s_b + 1, s_pb + 7), want)


def test_cluster_check_rejects_a_corrupted_or_dropped_row():
    sys.path.insert(0, ROOT)
    import __spark_entry__ as E

    docs, sizes = inputs.corpus(150, 2)
    want = oracles.dedup_expected(docs, E.oracle_sql()["q23_minhash_near_dup"])
    rows = sorted(want.items())
    assert sizes and oracles.check_clusters(rows, want) == []
    assert any(d != c for d, c in rows)  # some planted clique verified
    assert oracles.check_clusters(rows[1:], want)
    d, c = rows[-1]
    assert oracles.check_clusters(rows[:-1] + [(d, c + 1)], want)


# -------------------------------------------------------------- tracing
def test_tracing_adds_no_spark_jobs(tmp_path):
    from perfbench import run
    from perfbench.trace import SparkCounters, Tracer

    os.environ["PYTHONPATH"] = ROOT
    spark = run.start_spark(str(tmp_path), 2)
    try:
        wl = W.MosaicReproject(W.Ctx(spark, str(tmp_path / "data"), 3, W.SMALL))
        wl.setup()
        counters = SparkCounters(spark)

        def jobs_of_one_call(tr=None) -> tuple[int, int]:
            wl.before_call()
            before = counters.job_count()
            if tr is None:
                wl.call()
                return counters.job_count() - before, -1
            with tr.span("call") as s:
                wl.call()
            return counters.job_count() - before, s["own_counters"]["jobs"]

        jobs_of_one_call()  # warm-up
        untraced, _ = jobs_of_one_call()
        traced, tagged = jobs_of_one_call(Tracer(spark, 2))
        assert untraced > 0
        assert traced == untraced == tagged
    finally:
        run.stop_spark(spark)

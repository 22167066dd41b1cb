"""Tests for the session-5 batch-2 operators: raster region labeling
(distributed CCL), equi-depth profile, stay-point detection."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from aef_mosaic_spark.grid import OutputGrid


# ---------------------------------------------------------- regions

def _grid(chh=8, chw=8, rows=3, cols=3, nb=1):
    return OutputGrid(
        bounds=(0.0, 0.0, cols * chw * 10.0, rows * chh * 10.0),
        crs="EPSG:32610", resolution=10.0, years=(2023,),
        num_bands=nb, chunk_h=chh, chunk_w=chw)


def _chunks_df(spark, full: np.ndarray, grid):
    """Split a full (H, W) uint8 raster into the chunk table."""
    rows = []
    for ri in range(grid.chunk_rows):
        for ci in range(grid.chunk_cols):
            block = full[ri * grid.chunk_h:(ri + 1) * grid.chunk_h,
                         ci * grid.chunk_w:(ci + 1) * grid.chunk_w]
            rows.append((ri, ci,
                         bytearray(np.ascontiguousarray(
                             block[None, :, :]).tobytes())))
    return spark.createDataFrame(
        rows, "row_idx int, col_idx int, chunk binary")


def test_label_regions_matches_golden_random(spark):
    from aef_mosaic_spark.operators.regions import (
        label_regions, region_stats_golden)
    rng = np.random.RandomState(11)
    grid = _grid()
    full = (rng.rand(24, 24) < 0.45).astype(np.uint8) * 200
    got = sorted(
        (r.min_r, r.min_c, r.max_r, r.max_c, r.n_pixels)
        for r in label_regions(_chunks_df(spark, full, grid), grid,
                               threshold=128).collect())
    assert got == region_stats_golden(full >= 128)


def test_label_regions_cross_chunk_region(spark):
    from aef_mosaic_spark.operators.regions import label_regions
    grid = _grid()
    full = np.zeros((24, 24), np.uint8)
    full[7:10, 7:10] = 255      # straddles the 4 chunk corners at (8,8)
    out = label_regions(_chunks_df(spark, full, grid), grid,
                        threshold=128).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.min_r, r.min_c, r.max_r, r.max_c, r.n_pixels,
            r.n_parts) == (7, 7, 9, 9, 9, 4)


def test_label_regions_sparse_chunks_and_min_pixels(spark):
    from aef_mosaic_spark.operators.regions import label_regions
    grid = _grid()
    full = np.zeros((24, 24), np.uint8)
    full[0, 0] = 255            # 1-pixel region
    full[20:23, 20:22] = 255    # 6-pixel region
    df = _chunks_df(spark, full, grid)
    assert label_regions(df, grid, threshold=128).count() == 2
    out = label_regions(df, grid, threshold=128, min_pixels=2).collect()
    assert len(out) == 1 and out[0].n_pixels == 6


def test_label_mask_snake_across_rows():
    from aef_mosaic_spark.operators.regions import label_mask
    # serpentine region forcing multiple unions
    m = np.array([
        [1, 1, 1, 1, 1],
        [0, 0, 0, 0, 1],
        [1, 1, 1, 1, 1],
        [1, 0, 0, 0, 0],
        [1, 1, 1, 1, 1]], bool)
    lab = label_mask(m)
    assert lab[m].max() == lab[m].min() == 1  # one region


# ----------------------------------------------------- equi-depth

def test_equi_depth_profile_small(spark):
    from aef_mosaic_spark.operators.sampling import equi_depth_profile
    df = spark.createDataFrame(
        [("a", i, i * 10) for i in range(20)]
        + [("b", i, 5) for i in range(4)],
        "k string, id long, v long")
    out = {(r.k, r.bin_idx): (r.n_rows, r.min_val, r.max_val)
           for r in equi_depth_profile(df, ["k"], "v", "id",
                                       n_bins=4).collect()}
    # key a: 20 rows, 4 bins of 5; values 0..190 step 10
    assert out[("a", 0)] == (5, 0, 40)
    assert out[("a", 3)] == (5, 150, 190)
    # key b: 4 rows -> 1 per bin (ties broken by id)
    assert out[("b", 0)] == (1, 5, 5)
    assert len([k for k in out if k[0] == "b"]) == 4


def test_equi_depth_bins_cover_all_rows(spark):
    from aef_mosaic_spark.operators.sampling import equi_depth_profile
    df = spark.range(1000).selectExpr(
        "CAST(id % 3 AS STRING) AS k", "id", "(id * 37) % 500 AS v")
    out = equi_depth_profile(df, ["k"], "v", "id").collect()
    assert sum(r.n_rows for r in out) == 1000
    for r in out:
        assert 0 <= r.bin_idx < 10


# ---------------------------------------------------- stay points

def test_stay_points_basic(spark):
    from aef_mosaic_spark.operators.sessions import stay_points
    rows = []
    # user 1: 2h in cell (0,0) -> stay; brief hop to cell (5,5);
    # 90 min back in (0,0) -> second stay
    for i, (es, x, y) in enumerate([
            (0, 10, 10), (1800, 50, 60), (7000, 120, 30),   # dwell 7000
            (7100, 2100, 2100),                             # hop
            (8000, 15, 15), (11800, 30, 380)]):             # dwell 3800
        rows.append((i, 1, es, x, y))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, es long, xm long, ym long")
    out = sorted((r.cell_x, r.cell_y, r.n_fixes, r.dwell_sec)
                 for r in stay_points(df, ts_col="es").collect())
    assert out == [(0, 0, 2, 3800), (0, 0, 3, 7000)]


def test_stay_points_short_dwell_dropped(spark):
    from aef_mosaic_spark.operators.sessions import stay_points
    df = spark.createDataFrame(
        [(0, 1, 0, 10, 10), (1, 1, 100, 20, 20)],
        "event_id long, user_id long, es long, xm long, ym long")
    assert stay_points(df, ts_col="es").count() == 0


# -------------------------------------------------- flagship regions

def test_label_regions_flagship_numpy_parity(spark):
    """q136's exact recipe vs the stitched-raster golden labeler,
    per time slice (missing chunks = background in both)."""
    import __spark_entry__ as entry
    from aef_mosaic_spark import generator
    from aef_mosaic_spark.operators import mosaic as M
    from aef_mosaic_spark.operators.regions import (
        label_regions, region_stats_golden)
    grid = entry._flagship_grid()
    images = generator.images_df(spark, 80)
    chunks = M.mosaic(images, grid, mode="mean").persist()
    got = {}
    for r in label_regions(chunks, grid, threshold=160).collect():
        got.setdefault(r.time_idx, []).append(
            (r.min_r, r.min_c, r.max_r, r.max_c, r.n_pixels))
    nb, chh, chw = grid.num_bands, grid.chunk_h, grid.chunk_w
    full = {}
    for r in chunks.collect():
        f = full.setdefault(r.time_idx, np.zeros(
            (grid.chunk_rows * chh, grid.chunk_cols * chw), np.uint8))
        arr = np.frombuffer(r.chunk, np.uint8).reshape(nb, chh, chw)
        f[r.row_idx * chh:(r.row_idx + 1) * chh,
          r.col_idx * chw:(r.col_idx + 1) * chw] = arr[0]
    chunks.unpersist()
    assert set(got) <= set(full)
    n_regions = 0
    for t, f in full.items():
        want = region_stats_golden(f >= 160)
        assert sorted(got.get(t, [])) == want
        n_regions += len(want)
    assert n_regions >= 3


# ------------------------------------------------------ pmi / rollup

def test_pmi_hand_math(spark):
    from aef_mosaic_spark.functions.lm import pmi_pairs
    import math
    # corpus: "x y" 6 times, "x z" 2 times -> N=8, c1(x)=8,
    # c2(y)=6, c2(z)=2; pmi(x,y)=ln(6*8/(8*6))=0
    docs = spark.createDataFrame(
        [(i, "x y") for i in range(6)] + [(10 + i, "x z") for i in range(2)],
        "doc_id long, text string")
    out = {(r.w1, r.w2): (r.n_pair, r.pmi_micro)
           for r in pmi_pairs(docs, min_count=1, k=10).collect()}
    assert out[("x", "y")] == (6, 0)
    want = math.floor(math.log(math.floor(
        (2 * 8) / (8 * 2) * 1e6) / 1e6) * 1e6 + 0.5)
    assert out[("x", "z")] == (2, want)


def test_pmi_topk_deterministic_ties(spark):
    from aef_mosaic_spark.functions.lm import pmi_pairs
    docs = spark.createDataFrame(
        [(i, f"a{i % 7} b{i % 7}") for i in range(70)],
        "doc_id long, text string")
    k3 = [(r.w1, r.w2) for r in pmi_pairs(docs, min_count=1, k=3).collect()]
    # all 7 pairs tie on pmi -> tiebreak is (w1, w2) lexicographic
    assert k3 == [("a0", "b0"), ("a1", "b1"), ("a2", "b2")]


def test_hll_rollup_equals_direct(spark):
    from aef_mosaic_spark.functions.sketches import (
        hll_distinct, hll_rollup_cube)
    df = spark.range(5000).selectExpr(
        "CAST(id % 3 AS STRING) AS t", "id % 7 AS day",
        "CAST((id * 131) % 900 AS STRING) AS v")
    cube = hll_rollup_cube(df, ["t", "day"], ["t"], "v")
    roll = {r.t: (r.n_registers, r.approx_distinct)
            for r in cube.where(F.col("lvl") == "rollup").collect()}
    direct = {r.t: (r.n_registers, r.approx_distinct)
              for r in hll_distinct(df, ["t"], "v").collect()}
    assert roll == direct          # max-associativity, bit-identical
    assert len(roll) == 3
    fine_n = cube.where(F.col("lvl") == "fine").count()
    assert fine_n == 21


# ------------------------------------------- incremental regions job

def test_incremental_regions_job_matches_full(spark, tmp_path):
    """raster_job --stage regions e2e: full derivation persists the
    fragment index; after a source MERGE that moves one region and
    EMPTIES another chunk, --incremental recomputes only the changed
    chunks' fragments and the re-assembled table equals a
    from-scratch labeling (the marker row clears the emptied chunk)."""
    import json

    import jobs.raster_job as RJ
    from aef_mosaic_spark.operators.regions import label_regions
    from aef_mosaic_spark.sources.icelite import Icelite

    grid = _grid()
    full = np.zeros((24, 24), np.uint8)
    full[2:6, 2:6] = 200        # chunk (0,0)
    full[7:12, 7:12] = 200      # straddles all four corner chunks
    full[20:22, 3:5] = 200      # chunk (2,0)
    src_path = str(tmp_path / "mosaic")
    src_t = Icelite(src_path)
    chunks0 = _chunks_df(spark, full, grid).selectExpr(
        "0 AS time_idx", "row_idx", "col_idx", "chunk")
    src_t.append(chunks0, partition_by=["time_idx"],
                 properties={"grid": json.dumps(grid.to_dict())})

    out_path = str(tmp_path / "regions")
    RJ.main(["--table", src_path, "--output", out_path,
             "--stage", "regions", "--threshold", "128"])
    base = {tuple(r) for r in Icelite(out_path).read(spark).collect()}
    assert len(base) == 3

    # source update: clear chunk (2,0) entirely; move the (0,0) blob
    full2 = full.copy()
    full2[20:22, 3:5] = 0
    full2[2:6, 2:6] = 0
    full2[0:3, 0:3] = 200
    upd_keys = [(0, 2, 0), (0, 0, 0)]
    upd = _chunks_df(spark, full2, grid).selectExpr(
        "0 AS time_idx", "row_idx", "col_idx", "chunk") \
        .where(F.expr("(time_idx, row_idx, col_idx) IN "
                      "((0, 2, 0), (0, 0, 0))"))
    assert upd.count() == len(upd_keys)
    src_t.merge(spark, upd, key_cols=["time_idx", "row_idx", "col_idx"],
                partition_by=["time_idx"])

    RJ.main(["--table", src_path, "--output", out_path,
             "--stage", "regions", "--threshold", "128",
             "--incremental"])
    got = {tuple(r) for r in Icelite(out_path).read(spark).collect()}
    want = {tuple(r) for r in label_regions(
        src_t.read(spark), grid, threshold=128).collect()}
    assert got == want
    # the emptied chunk's region is gone; the moved region is present
    assert not any(r[1] >= 20 for r in got)      # min_r >= 20 cleared
    assert any((r[1], r[2]) == (0, 0) for r in got)


def test_incremental_regions_refuses_config_mismatch(spark, tmp_path):
    import json

    import jobs.raster_job as RJ
    from aef_mosaic_spark.sources.icelite import Icelite

    grid = _grid()
    full = np.zeros((24, 24), np.uint8)
    full[2:6, 2:6] = 200
    src_path = str(tmp_path / "mosaic2")
    Icelite(src_path).append(
        _chunks_df(spark, full, grid).selectExpr(
            "0 AS time_idx", "row_idx", "col_idx", "chunk"),
        partition_by=["time_idx"],
        properties={"grid": json.dumps(grid.to_dict())})
    out_path = str(tmp_path / "regions2")
    RJ.main(["--table", src_path, "--output", out_path,
             "--stage", "regions", "--threshold", "128"])
    with pytest.raises(ValueError, match="incremental refused"):
        RJ.main(["--table", src_path, "--output", out_path,
                 "--stage", "regions", "--threshold", "99",
                 "--incremental"])


def test_stay_transitions_basic(spark):
    from aef_mosaic_spark.operators.sessions import stay_transitions
    stays = spark.createDataFrame(
        # user 1: A -> B -> A ; user 2: A -> B
        [(1, 0, 0, 0, 100), (1, 1, 5, 5, 5000), (1, 2, 0, 0, 9000),
         (2, 0, 0, 0, 50), (2, 1, 5, 5, 7000)],
        "user_id long, stay_idx long, cell_x long, cell_y long, "
        "start_es long")
    out = {(r.from_x, r.from_y, r.to_x, r.to_y): (r.n_trips, r.n_users)
           for r in stay_transitions(stays).collect()}
    assert out == {(0, 0, 5, 5): (2, 2), (5, 5, 0, 0): (1, 1)}


# ------------------------------------------------------- cluster job

def test_cluster_job_e2e(spark, tmp_path, capsys):
    import json

    import jobs.cluster_job as CJ
    from aef_mosaic_spark.sources.icelite import Icelite

    src = str(tmp_path / "pts")
    a = [(i, 100 + i, 100) for i in range(6)]
    b = [(10 + i, 5000 + i, 5000) for i in range(6)]
    noise = [(99, 90000, 90000)]
    spark.createDataFrame(a + b + noise,
                          "id long, xm long, ym long") \
        .write.parquet(src)
    out = str(tmp_path / "clusters")
    CJ.main(["--input", src, "--output", out,
             "--eps", "10", "--min-pts", "4", "--summary"])
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["n_clusters"] == 2
    assert metrics["n_noise"] == 1
    assign = {r.id: r.cluster_id
              for r in Icelite(out).read(spark).collect()}
    assert assign[0] == 0 and assign[10] == 10 and assign[99] is None
    summ = {r.cluster_id: (r.n_points, r.min_x, r.max_x)
            for r in Icelite(out + "_summary").read(spark).collect()}
    assert summ[0] == (6, 100, 105)
    assert summ[10] == (6, 5000, 5005)


# ----------------------------------------------------- cluster hulls

def test_cluster_hulls_matches_single_level(spark):
    """Two-level hull-of-hulls == direct hull on collected points
    (associativity), exact integer area."""
    from aef_mosaic_spark.operators.clustering import (
        _area2, _monotone_chain, cluster_hulls, dbscan)
    rows = [(i, 1000 + (i * 37) % 400, 2000 + (i * 53) % 300)
            for i in range(60)]
    rows += [(100 + i, 9000 + (i * 41) % 200, 500 + (i * 29) % 250)
             for i in range(40)]
    pts = spark.createDataFrame(rows, "id long, xm long, ym long")
    assign = dbscan(pts, eps=120, min_pts=4)
    out = {r.cluster_id: r for r in
           cluster_hulls(pts, assign).collect()}
    by_cluster = {}
    for r in assign.collect():
        if r.cluster_id is not None:
            by_cluster.setdefault(r.cluster_id, []).append(r.id)
    coords = dict((i, (x, y)) for i, x, y in rows)
    assert set(out) == set(by_cluster)
    for cid, ids in by_cluster.items():
        hull = _monotone_chain([coords[i] for i in ids])
        assert out[cid].n_points == len(ids)
        assert out[cid].n_hull == len(hull)
        assert out[cid].area2 == _area2(hull)
        want_wkt = "POLYGON((" + ", ".join(
            f"{x} {y}" for x, y in hull) + "))"
        assert out[cid].hull_wkt == want_wkt


def test_monotone_chain_known_square():
    from aef_mosaic_spark.operators.clustering import (
        _area2, _monotone_chain)
    pts = [(0, 0), (4, 0), (4, 4), (0, 4), (2, 2), (1, 0), (4, 2)]
    hull = _monotone_chain(pts)
    assert set(hull) == {(0, 0), (4, 0), (4, 4), (0, 4)}
    assert _area2(hull) == 32  # 2 * 16

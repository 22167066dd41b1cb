"""Focal (neighborhood) ops with halo exchange: the distributed
halo-strip plan must equal (bit-for-bit) the NumPy golden computed on
the fully stitched raster."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aef_mosaic_spark.grid import OutputGrid
from aef_mosaic_spark.operators.focal import (FIXED_3X3_OPS, FOCAL_OPS,
                                              focal_chunks, focal_oracle_np)

CHH = CHW = 32
NB = 2
N_ROWS = N_COLS = 4


@pytest.fixture(scope="module")
def grid():
    return OutputGrid(
        bounds=(0.0, 0.0, CHW * N_COLS * 10.0, CHH * N_ROWS * 10.0),
        crs="EPSG:32610", resolution=10.0, years=(2023,),
        num_bands=NB, chunk_h=CHH, chunk_w=CHW,
    )


def _make_chunks(sparse: bool):
    """Deterministic per-chunk pixel pattern; sparse drops 3 chunks."""
    rows, canvas = [], np.zeros((NB, CHH * N_ROWS, CHW * N_COLS), np.uint8)
    for ri in range(N_ROWS):
        for ci in range(N_COLS):
            if sparse and (ri, ci) in ((0, 0), (2, 2), (3, 1)):
                continue
            yy, xx = np.mgrid[0:CHH, 0:CHW]
            arr = np.stack([
                ((yy * 7 + xx * 13 + ri * 31 + ci * 17 + b * 101) % 251
                 ).astype(np.uint8)
                for b in range(NB)])
            canvas[:, ri * CHH:(ri + 1) * CHH, ci * CHW:(ci + 1) * CHW] = arr
            rows.append({"time_idx": 0, "row_idx": ri, "col_idx": ci,
                         "chunk": arr.tobytes()})
    return rows, canvas


def _collect(df):
    out = {}
    for r in df.collect():
        out[(r.time_idx, r.row_idx, r.col_idx)] = (
            np.frombuffer(r.chunk, np.uint8).reshape(NB, CHH, CHW), r.n_parts)
    return out


@pytest.mark.parametrize("op", FOCAL_OPS)
def test_halo_matches_stitched_golden(spark, grid, op):
    rows, canvas = _make_chunks(sparse=False)
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    golden = focal_oracle_np(canvas, op, 1)
    got = _collect(focal_chunks(sdf, grid, op=op, radius=1))
    assert len(got) == N_ROWS * N_COLS
    for (t, ri, ci), (arr, n_parts) in got.items():
        exp = golden[:, ri * CHH:(ri + 1) * CHH, ci * CHW:(ci + 1) * CHW]
        assert np.array_equal(arr, exp), (op, ri, ci)
        # interior chunk: center + 8 strips; corner: center + 3
        n_nb = sum(1 for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                   if (dy, dx) != (0, 0)
                   and 0 <= ri + dy < N_ROWS and 0 <= ci + dx < N_COLS)
        assert n_parts == 1 + n_nb


def test_halo_matches_golden_at_larger_radii(spark, grid):
    """r > 1: r-pixel-wide edge and corner strips still stitch to the
    golden raster."""
    rows, canvas = _make_chunks(sparse=False)
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    for op, r in (("mean", 2), ("max", 3), ("median", 2)):
        halo = _collect(focal_chunks(sdf, grid, op=op, radius=r))
        golden = focal_oracle_np(canvas, op, r)
        assert len(halo) == N_ROWS * N_COLS
        for k, (arr, _) in halo.items():
            _, ri, ci = k
            exp = golden[:, ri * CHH:(ri + 1) * CHH,
                         ci * CHW:(ci + 1) * CHW]
            assert np.array_equal(arr, exp), (op, r, k)


def test_sparse_holes_are_nodata_and_dropped(spark, grid):
    rows, canvas = _make_chunks(sparse=True)  # canvas has 0-blocks at holes
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    got = _collect(focal_chunks(sdf, grid, op="mean", radius=1))
    # no output rows for the 3 missing chunks
    assert len(got) == N_ROWS * N_COLS - 3
    assert (0, 0, 0) not in got and (0, 2, 2) not in got
    golden = focal_oracle_np(canvas, "mean", 1)
    for (t, ri, ci), (arr, _) in got.items():
        exp = golden[:, ri * CHH:(ri + 1) * CHH, ci * CHW:(ci + 1) * CHW]
        assert np.array_equal(arr, exp), (ri, ci)


def test_validation_errors(spark, grid):
    rows, _ = _make_chunks(sparse=False)
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    with pytest.raises(ValueError, match="op must be"):
        focal_chunks(sdf, grid, op="mode")
    with pytest.raises(ValueError, match="radius must be 1"):
        focal_chunks(sdf, grid, op="grad", radius=2)


@pytest.mark.parametrize("op", FIXED_3X3_OPS)
def test_fixed_3x3_ops_refuse_larger_radius(spark, grid, op):
    """Every fixed 3x3 kernel refuses r=2 (d8 at r=2 would emit
    (nb, chh+2, chw+2) chunks)."""
    rows, _ = _make_chunks(sparse=False)
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    with pytest.raises(ValueError, match="radius must be 1"):
        focal_chunks(sdf, grid, op=op, radius=2)


@pytest.mark.parametrize("band", [-1, NB])
@pytest.mark.parametrize("op", ["basin_labels", "orientation_histogram",
                                "mask_confusion", "raster_correlation"])
def test_band_out_of_range_refused_at_plan_time(spark, grid, op, band):
    """A band the grid does not have is refused while the plan is
    built, naming the band and num_bands, not later in a worker."""
    from aef_mosaic_spark.operators import focal

    rows, _ = _make_chunks(sparse=False)
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    fn = getattr(focal, op)
    args = (sdf, sdf, grid) if op in ("mask_confusion", "raster_correlation") else (sdf, grid)
    with pytest.raises(ValueError, match=rf"band {band} .*num_bands={NB}"):
        fn(*args, band=band)


def test_halo_shuffle_bytes_fraction():
    """The halo plan ships a small fraction of a 9x-replicate plan's
    bytes through the shuffle (the whole point): center once + r-wide
    strips vs up-to-9 full-chunk copies."""
    chunk_b = NB * CHH * CHW
    halo_b, rep_b = 0, 0
    for ri in range(N_ROWS):
        for ci in range(N_COLS):
            n_nb = sum(1 for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                       if (dy, dx) != (0, 0)
                       and 0 <= ri + dy < N_ROWS and 0 <= ci + dx < N_COLS)
            halo_b += chunk_b  # center moves once
            rep_b += chunk_b * (1 + n_nb)
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if (dy, dx) == (0, 0):
                        continue
                    if not (0 <= ri + dy < N_ROWS and 0 <= ci + dx < N_COLS):
                        continue
                    h = 1 if dy else CHH
                    w = 1 if dx else CHW
                    halo_b += NB * h * w
    assert halo_b < rep_b / 4  # >4x shuffle-byte reduction even at 32px


def test_temporal_composite_matches_naive(spark, grid):
    """temporal_composite vs a per-pixel Python reference over 3 time
    layers with planted NODATA holes (0)."""
    from aef_mosaic_spark.operators.mosaic import (TEMPORAL_OPS,
                                                   temporal_composite)

    T = 3
    rows, stacks = [], {}
    for ri, ci in ((0, 0), (1, 2)):
        stack = []
        for t in range(T):
            rng = np.random.default_rng(t * 100 + ri * 10 + ci)
            arr = rng.integers(0, 256, (NB, CHH, CHW), dtype=np.uint8)
            arr[:, ::3, :] = 0                      # planted NODATA rows
            if t == 1:
                arr[:, :, ::2] = 0                  # extra holes in t=1
            stack.append(arr)
            rows.append({"time_idx": t, "row_idx": ri, "col_idx": ci,
                         "chunk_bytes": arr.tobytes()})
        stacks[(ri, ci)] = np.stack(stack)

    sdf = spark.createDataFrame(pd.DataFrame(rows))
    for op in TEMPORAL_OPS:
        got = {(r.row_idx, r.col_idx):
               (np.frombuffer(r.chunk_bytes, np.uint8).reshape(NB, CHH, CHW),
                r.n_times, r.valid_px)
               for r in temporal_composite(sdf, grid, op=op).collect()}
        assert set(got) == set(stacks)
        for key, stack in stacks.items():
            exp = np.zeros((NB, CHH, CHW), np.uint8)
            for b in range(NB):
                for y in range(CHH):
                    for x in range(CHW):
                        vals = [int(stack[t, b, y, x]) for t in range(T)
                                if stack[t, b, y, x] > 0]
                        if not vals:
                            continue
                        if op == "latest_valid":
                            exp[b, y, x] = vals[-1]
                        elif op == "mean":
                            s = sum(vals)
                            exp[b, y, x] = (s + len(vals) // 2) // len(vals)
                        else:
                            exp[b, y, x] = sorted(vals)[(len(vals) - 1) // 2]
            arr, n_times, valid_px = got[key]
            assert n_times == T
            assert valid_px == int((stack > 0).any(axis=0).sum())
            assert np.array_equal(arr, exp), (op, key)


def test_global_histogram_and_stretch(spark, grid):
    """global_histogram == np.bincount over all chunks; the stretch
    maps [lo,hi] onto [1,255], preserves NODATA zeros, and matches an
    independently-built LUT applied per pixel."""
    from aef_mosaic_spark.operators.focal import (global_histogram,
                                                  histogram_stretch,
                                                  stretch_luts)

    rows, canvas = _make_chunks(sparse=True)
    sdf = spark.createDataFrame(pd.DataFrame(rows))

    got = {(r.band, r.bin): r.cnt
           for r in global_histogram(sdf, grid).collect()}
    stacked = np.stack([np.frombuffer(r["chunk"], np.uint8)
                        .reshape(NB, CHH, CHW) for r in rows])
    for b in range(NB):
        exp = np.bincount(stacked[:, b].ravel(), minlength=256)
        for i in range(256):
            assert got.get((b, i), 0) == exp[i], (b, i)

    out = histogram_stretch(sdf, grid, p_low=2.0, p_high=98.0).collect()
    hist_rows = [{"band": b, "bin": i, "cnt": got.get((b, i), 0)}
                 for b in range(NB) for i in range(256)]
    luts, cuts = stretch_luts(hist_rows, NB, 2.0, 98.0)
    assert all(lo < hi for lo, hi in cuts)
    for r in out:
        src = next(x for x in rows
                   if (x["row_idx"], x["col_idx"]) == (r.row_idx, r.col_idx))
        arr = np.frombuffer(src["chunk"], np.uint8).reshape(NB, CHH, CHW)
        exp = np.stack([luts[b][arr[b]] for b in range(NB)])
        gotc = np.frombuffer(r.chunk, np.uint8).reshape(NB, CHH, CHW)
        assert np.array_equal(gotc, exp)
        assert ((gotc == 0) == (arr == 0)).all()      # NODATA preserved
        assert r.stretch_lo == ",".join(str(lo) for lo, _ in cuts)
    # LUT is monotone and hits the full [1,255] range at the cuts
    for b in range(NB):
        assert (np.diff(luts[b][1:].astype(int)) >= 0).all()
        lo, hi = cuts[b]
        assert luts[b][lo] == 1 and luts[b][hi] == 255


def test_stretch_luts_whole_basis_points():
    """p is taken as round(p * 100) basis points: 2.3% is 230, not
    the 229 that int(2.3 * 100) truncates to.  10,000 nonzero pixels
    whose cumulative count is 229 at bin 1 and 230 at bin 2 put the
    low cut on bin 2."""
    from aef_mosaic_spark.operators.focal import stretch_luts
    rows = [{"band": 0, "bin": 1, "cnt": 229},
            {"band": 0, "bin": 2, "cnt": 1},
            {"band": 0, "bin": 200, "cnt": 10000 - 230}]
    assert int(2.3 * 100) == 229
    _, cuts = stretch_luts(rows, 1, p_low=2.3, p_high=98.0)
    assert cuts[0][0] == 2
    _, cuts = stretch_luts(rows, 1, p_low=2.29, p_high=98.0)
    assert cuts[0][0] == 1


@pytest.mark.parametrize("p_low,p_high", [(-1.0, 98.0), (2.0, 100.5),
                                          (50.0, 50.0), (60.0, 40.0)])
def test_stretch_luts_rejects_bad_percentiles(p_low, p_high):
    from aef_mosaic_spark.operators.focal import stretch_luts
    with pytest.raises(ValueError, match="p_low < p_high"):
        stretch_luts([], NB, p_low=p_low, p_high=p_high)


def test_terrain_ops_analytic():
    """Horn slope/hillshade on analytic surfaces (pure numpy golden,
    the same kernel the distributed path runs — parity with the halo
    plan is covered by test_halo_matches_stitched_golden)."""
    from aef_mosaic_spark.operators.focal import (
        HILLSHADE_ALTITUDE_DEG, TERRAIN_CELLSIZE, focal_oracle_np)
    # flat surface: slope 0 everywhere; hillshade = 255*cos(45 deg)
    flat = np.full((1, 16, 16), 100, np.uint8)
    s = focal_oracle_np(flat, "slope", 1)
    h = focal_oracle_np(flat, "hillshade", 1)
    assert (s[:, 1:-1, 1:-1] == 0).all()
    exp_hs = int(np.floor(
        255.0 * np.cos(np.radians(90.0 - HILLSHADE_ALTITUDE_DEG)) + 0.5))
    assert (h[:, 1:-1, 1:-1] == exp_hs).all()
    # uniform east-facing ramp dz/dx = 1 px per cell: slope everywhere
    # atan(1/cellsize) in the interior
    ramp = np.tile(np.arange(16, dtype=np.uint8), (16, 1))[None]
    s2 = focal_oracle_np(ramp, "slope", 1)
    exp_deg = np.degrees(np.arctan(1.0 / TERRAIN_CELLSIZE))
    exp_px = int(np.floor(exp_deg * 255.0 / 90.0 + 0.5))
    assert (s2[:, 1:-1, 1:-1] == exp_px).all()


def test_aspect_analytic():
    """Aspect on analytic ramps: downslope compass direction (0 = N,
    clockwise), flat sentinel 255. Same-kernel parity with the halo
    plan is covered by test_halo_matches_stitched_golden."""
    from aef_mosaic_spark.operators.focal import focal_oracle_np
    flat = np.full((1, 16, 16), 100, np.uint8)
    a = focal_oracle_np(flat, "aspect", 1)
    assert (a[:, 1:-1, 1:-1] == 255).all()
    # elevation increasing eastward -> downslope faces west (270 deg)
    ramp_e = np.tile(np.arange(1, 17, dtype=np.uint8), (16, 1))[None]
    a2 = focal_oracle_np(ramp_e, "aspect", 1)
    exp_w = int(np.floor(270.0 * 254.0 / 360.0 + 0.5))
    assert (a2[:, 1:-1, 1:-1] == exp_w).all()
    # elevation increasing southward (down rows) -> downslope north (0)
    ramp_s = np.tile(np.arange(1, 17, dtype=np.uint8), (16, 1)).T[None]
    a3 = focal_oracle_np(ramp_s, "aspect", 1)
    assert (a3[:, 1:-1, 1:-1] == 0).all()


def test_d8_analytic():
    """D8 flow direction on analytic surfaces (pure numpy golden —
    distributed parity rides test_halo_matches_stitched_golden)."""
    from aef_mosaic_spark.operators.focal import focal_oracle_np
    # flat interior: no positive drop -> sink code 0
    flat = np.full((1, 16, 16), 100, np.uint8)
    d = focal_oracle_np(flat, "d8", 1)
    assert (d[:, 1:-1, 1:-1] == 0).all()
    # elevation increasing eastward -> flow west (code 16); the
    # diagonal drops are the same dz but scaled by 1/sqrt2, so the
    # straight west neighbor wins everywhere in the interior
    ramp_e = np.tile(np.arange(1, 17, dtype=np.uint8), (16, 1))[None] * 10
    d2 = focal_oracle_np(ramp_e.astype(np.uint8), "d8", 1)
    assert (d2[:, 1:-1, 1:-1] == 16).all()
    # increasing southward (down rows) -> flow north (code 64)
    ramp_s = np.tile(np.arange(1, 17, dtype=np.uint8), (16, 1)).T[None] * 10
    d3 = focal_oracle_np(ramp_s.astype(np.uint8), "d8", 1)
    assert (d3[:, 1:-1, 1:-1] == 64).all()
    # single pit in a bowl: the pit is 0, its 8 neighbors point at it
    bowl = np.full((1, 9, 9), 200, np.uint8)
    bowl[0, 4, 4] = 10
    d4 = focal_oracle_np(bowl, "d8", 1)
    assert d4[0, 4, 4] == 0
    assert d4[0, 4, 3] == 1    # west neighbor flows E into the pit
    assert d4[0, 4, 5] == 16   # east neighbor flows W
    assert d4[0, 3, 4] == 4    # north neighbor flows S
    assert d4[0, 5, 4] == 64   # south neighbor flows N
    assert d4[0, 3, 3] == 2    # NW corner flows SE
    # ties break on first code in ESRI order: equal E/W drops -> E (1)
    ridge = np.full((1, 9, 9), 50, np.uint8)
    ridge[0, :, 4] = 60
    d5 = focal_oracle_np(ridge, "d8", 1)
    assert d5[0, 4, 4] == 1


def test_temporal_trend(spark, grid):
    """temporal_trend: exact ramp recovery, NODATA masking, den==0
    guard, and parity with a per-pixel integer-law Python reference."""
    from aef_mosaic_spark.operators.mosaic import temporal_trend

    T = 4
    rows, stacks = [], {}
    for ri, ci in ((0, 1), (2, 3)):
        stack = []
        for t in range(T):
            rng = np.random.default_rng(t * 100 + ri * 10 + ci + 7)
            arr = rng.integers(0, 256, (NB, CHH, CHW), dtype=np.uint8)
            arr[:, ::5, :] = 0                       # planted NODATA
            if t == 2:
                arr[:, :, ::3] = 0
            stack.append(arr)
            rows.append({"time_idx": t, "row_idx": ri, "col_idx": ci,
                         "chunk_bytes": arr.tobytes()})
        stacks[(ri, ci)] = np.stack(stack)
    # one clean linear-ramp chunk: v = 10 + 5*t everywhere
    ramp = []
    for t in range(T):
        arr = np.full((NB, CHH, CHW), 10 + 5 * t, np.uint8)
        ramp.append(arr)
        rows.append({"time_idx": t, "row_idx": 3, "col_idx": 0,
                     "chunk_bytes": arr.tobytes()})
    stacks[(3, 0)] = np.stack(ramp)

    sdf = spark.createDataFrame(pd.DataFrame(rows))
    got = {(r.row_idx, r.col_idx):
           (np.frombuffer(r.slope_bytes, "<i2").reshape(NB, CHH, CHW),
            r.n_times, r.fit_px)
           for r in temporal_trend(sdf, grid).collect()}
    assert set(got) == set(stacks)
    arr, n_times, fit_px = got[(3, 0)]
    assert n_times == T and fit_px == NB * CHH * CHW
    assert (arr == 500).all()                        # exact 5.0/step

    for key, stack in stacks.items():
        exp = np.zeros((NB, CHH, CHW), np.int64)
        nfit = 0
        for b in range(NB):
            for y in range(CHH):
                for x in range(CHW):
                    pts = [(t, int(stack[t, b, y, x])) for t in range(T)
                           if stack[t, b, y, x] > 0]
                    n = len(pts)
                    st = sum(t for t, _ in pts)
                    stt = sum(t * t for t, _ in pts)
                    sv = sum(v for _, v in pts)
                    stv = sum(t * v for t, v in pts)
                    den = n * stt - st * st
                    if den <= 0:
                        continue
                    nfit += 1
                    num = n * stv - st * sv
                    sgn = 1 if num >= 0 else -1
                    exp[b, y, x] = sgn * ((200 * abs(num) + den)
                                         // (2 * den))
        arr, n_times, fit_px = got[key]
        assert n_times == T and fit_px == nfit
        assert np.array_equal(arr.astype(np.int64), exp), key


def test_flow_accumulation_matches_stitched_golden(spark, grid):
    """T-hop accumulation across chunk boundaries must equal the same
    iterated kernel on the stitched raster — the multi-round halo
    exchange carries state correctly."""
    from aef_mosaic_spark.operators.focal import (flow_accumulation,
                                                  flowacc_oracle_np)
    rows, canvas = _make_chunks(sparse=False)
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    golden = flowacc_oracle_np(canvas, iters=4)
    got = _collect(flow_accumulation(sdf, grid, iters=4))
    assert len(got) == N_ROWS * N_COLS
    for (t, ri, ci), (arr, _n) in got.items():
        exp = golden[:, ri * CHH:(ri + 1) * CHH, ci * CHW:(ci + 1) * CHW]
        assert np.array_equal(arr, exp), (ri, ci)


def test_flow_accumulation_analytic():
    """Analytic laws on the golden (same kernel the distributed path
    runs): west-flowing ramp chains, pit collects its ring."""
    from aef_mosaic_spark.operators.focal import flowacc_oracle_np
    # elevation increasing eastward: interior cells flow west; border
    # cells drain outward (zero pad), so the upstream chain into
    # (i, j) is cols j+1..14 -> A = 1 + min(14 - j, T) for interior
    ramp = (np.tile(np.arange(1, 17, dtype=np.uint8), (16, 1)) * 10)[None]
    for T in (1, 3, 8):
        acc = flowacc_oracle_np(ramp.astype(np.uint8), iters=T)
        for i in range(1, 15):
            for j in range(1, 15):
                assert acc[0, i, j] == 1 + min(14 - j, T), (T, i, j)
    # bowl: the 8 ring-1 neighbors point at the pit, ring-2 is flat
    bowl = np.full((1, 9, 9), 200, np.uint8)
    bowl[0, 4, 4] = 10
    acc = flowacc_oracle_np(bowl, iters=3)
    assert acc[0, 4, 4] == 9          # self + 8 inflowing neighbors
    assert acc[0, 4, 3] == 1          # ring-1 cells have no inflow


def test_distance_transform_matches_stitched_golden(spark, grid):
    """Chamfer fronts must cross chunk boundaries exactly: iterated
    min-plus halo == same kernel on the stitched raster."""
    from aef_mosaic_spark.operators.focal import (disttrans_oracle_np,
                                                  distance_transform)
    rows, canvas = _make_chunks(sparse=False)
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    golden = disttrans_oracle_np(canvas, iters=4, threshold=200)
    got = _collect(distance_transform(sdf, grid, iters=4, threshold=200))
    assert len(got) == N_ROWS * N_COLS
    for (t, ri, ci), (arr, _n) in got.items():
        exp = golden[:, ri * CHH:(ri + 1) * CHH, ci * CHW:(ci + 1) * CHW]
        assert np.array_equal(arr, exp), (ri, ci)


def test_distance_transform_analytic():
    """Single feature pixel: distances are the exact chamfer 3-4
    metric d = 3*max(|dy|,|dx|) + 1*min(|dy|,|dx|) within the iterated
    front; beyond `iters` hops everything stays saturated at 255."""
    from aef_mosaic_spark.operators.focal import disttrans_oracle_np
    img = np.zeros((1, 17, 17), np.uint8)
    img[0, 8, 8] = 255
    d = disttrans_oracle_np(img, iters=5, threshold=128)
    assert d[0, 8, 8] == 0
    for dy in range(-8, 9):
        for dx in range(-8, 9):
            a, b = abs(dy), abs(dx)
            exact = 3 * max(a, b) + min(a, b)
            exp = exact if max(a, b) <= 5 else 255
            assert d[0, 8 + dy, 8 + dx] == exp, (dy, dx)
    # no feature anywhere -> all saturated
    blank = np.zeros((1, 8, 8), np.uint8)
    assert (disttrans_oracle_np(blank, iters=3) == 255).all()


def test_contour_segments_match_stitched_golden(spark, grid):
    """Distributed marching squares == the same kernel on the
    stitched raster — set equality of global sub-pixel segments."""
    from aef_mosaic_spark.operators.focal import (contour_oracle_np,
                                                  contour_segments)
    rows, canvas = _make_chunks(sparse=False)
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    want = contour_oracle_np(canvas[0], level=128)
    got = {(r.x1q, r.y1q, r.x2q, r.y2q)
           for r in contour_segments(sdf, grid, level=128,
                                     band=0).collect()}
    assert got == want and got


def test_contour_segments_last_band(spark, grid):
    """The band cut out before the halo exchange is the one asked
    for: band NB-1 matches the golden run on that band of the
    stitched raster, and differs from band 0's contours."""
    from aef_mosaic_spark.operators.focal import (contour_oracle_np,
                                                  contour_segments)
    rows, canvas = _make_chunks(sparse=False)
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    want = contour_oracle_np(canvas[NB - 1], level=128)
    got = {(r.x1q, r.y1q, r.x2q, r.y2q)
           for r in contour_segments(sdf, grid, level=128,
                                     band=NB - 1).collect()}
    assert got == want and got
    assert want != contour_oracle_np(canvas[0], level=128)


def test_contour_square_analytic():
    """A filled value-200 square on 0 background at level 128: the
    contour is a single closed ring (every endpoint appears exactly
    twice) crossing each boundary edge at the exact interpolated
    sub-pixel t = (128 * 256) // 200."""
    from collections import Counter
    from aef_mosaic_spark.operators.focal import contour_oracle_np
    img = np.zeros((12, 12), np.uint8)
    img[4:8, 4:8] = 200
    segs = contour_oracle_np(img, level=128)
    assert segs
    pts = Counter()
    for x1, y1, x2, y2 in segs:
        pts[(x1, y1)] += 1
        pts[(x2, y2)] += 1
    assert all(c == 2 for c in pts.values())        # one closed loop
    t = (128 * 256) // 200
    # left boundary crossing between x=3 (0) and x=4 (200):
    # t measured from the 0 corner -> global xq = 3*256 + t
    assert any(x in (3 * 256 + t,) for (x, y) in pts)

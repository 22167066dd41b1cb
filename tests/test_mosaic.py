"""Flagship pipeline parity: Spark DAG vs the independent NumPy oracle
(SURVEY.md §5: identical join-output row counts + tile/cell
assignments; decoded-pixel exact equality for the composited chunks;
reference numeric vectors for the mean accumulator)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from aef_mosaic_spark import generator, oracle, proj
from aef_mosaic_spark.grid import OutputGrid
from aef_mosaic_spark.operators import mosaic as M

N_TILES = 60


@pytest.fixture(scope="module")
def images_pdf():
    return generator.images_pdf(N_TILES)


@pytest.fixture(scope="module")
def grid(images_pdf):
    # grid over the main cluster area in UTM 10N (reprojects zone-11 tiles)
    return OutputGrid(
        bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
        crs="EPSG:32610",
        resolution=10.0,
        years=(2023, 2024),
        num_bands=3,
        chunk_h=256,
        chunk_w=256,
    )


@pytest.fixture(scope="module")
def images_sdf(spark, images_pdf):
    return spark.createDataFrame(images_pdf)


def test_assignments_match_oracle(spark, images_pdf, images_sdf, grid):
    got = {
        (r.image_id, r.time_idx, r.row_idx, r.col_idx)
        for r in M.assignments(images_sdf, grid).collect()
    }
    want = oracle.oracle_assignments(images_pdf, grid)
    assert got == want
    assert len(got) > N_TILES  # tiles overlap multiple chunks


GRID_CRS = ["EPSG:32610", "EPSG:6933"]


def _grid_in(grid: OutputGrid, crs: str) -> OutputGrid:
    """`grid`'s area as a 10 m grid in `crs`: the native UTM 10N grid
    itself, or an EPSG:6933 grid (the default output CRS) that every
    tile reprojects into."""
    if crs == grid.crs:
        return grid
    b = proj.transform_bounds(grid.bounds, grid.crs, crs, densify=21)
    return OutputGrid(
        bounds=(float(np.floor(b[0] / 10) * 10), float(np.floor(b[1] / 10) * 10),
                float(np.ceil(b[2] / 10) * 10), float(np.ceil(b[3] / 10) * 10)),
        crs=crs, resolution=10.0, years=grid.years, num_bands=3,
        chunk_h=256, chunk_w=256)


@pytest.mark.parametrize("crs", GRID_CRS)
def test_kernel_chunk_ranges_within_assignments(spark, images_sdf, grid, crs):
    """The reproject_patches kernel and assignments apply one
    chunk-range law (_chunk_ranges). The kernel drops chunks where a
    tile has no valid pixel, so every chunk it emits a patch for must
    be an assignment row — on the native grid and on an EPSG:6933 grid
    every tile reprojects into."""
    grid = _grid_in(grid, crs)
    got = {tuple(r) for r in M.reproject_patches(images_sdf, grid)
           .select("image_id", "time_idx", "row_idx", "col_idx").collect()}
    want = {tuple(r) for r in M.assignments(images_sdf, grid)
            .select("image_id", "time_idx", "row_idx", "col_idx").collect()}
    assert len(got) > N_TILES
    assert got <= want


def test_assignment_excludes_wrong_year_and_far_tiles(spark, images_pdf, images_sdf, grid):
    got_ids = {r.image_id for r in M.assignments(images_sdf, grid).collect()}
    y2022 = set(images_pdf[images_pdf.year == 2022].image_id)
    assert not (got_ids & y2022)


@pytest.mark.parametrize("crs", GRID_CRS)
def test_mean_mosaic_matches_oracle(spark, images_pdf, images_sdf, grid, crs):
    grid = _grid_in(grid, crs)
    chunks = {
        (r.time_idx, r.row_idx, r.col_idx): r
        for r in M.mosaic(images_sdf, grid, mode="mean").collect()
    }
    want = oracle.oracle_mosaic(images_pdf, grid, mode="mean")
    assert set(chunks) == set(want)
    for key, w in want.items():
        r = chunks[key]
        got = np.frombuffer(r.chunk, np.uint8).reshape(3, 256, 256)
        assert r.n_tiles == w["n_tiles"], key
        assert r.valid_px == w["valid_px"], key
        assert np.array_equal(got, w["canvas"]), (
            key,
            int(np.abs(got.astype(int) - w["canvas"].astype(int)).max()),
        )


@pytest.mark.parametrize("crs", GRID_CRS)
def test_last_on_top_matches_oracle(spark, images_pdf, images_sdf, grid, crs):
    grid = _grid_in(grid, crs)
    chunks = {
        (r.time_idx, r.row_idx, r.col_idx): r
        for r in M.mosaic(images_sdf, grid, mode="last").collect()
    }
    want = oracle.oracle_mosaic(images_pdf, grid, mode="last")
    assert set(chunks) == set(want)
    for key, w in want.items():
        got = np.frombuffer(chunks[key].chunk, np.uint8).reshape(3, 256, 256)
        assert np.array_equal(got, w["canvas"]), key


def test_weighted_mode_runs(spark, images_sdf, grid):
    rows = M.mosaic(images_sdf, grid, mode="weighted").collect()
    assert rows and all(r.valid_px > 0 for r in rows)


def _finalize_mean_two_divisions(s, c):
    """The int64 two-division form of the law, the reference for the
    one-division _finalize_mean."""
    cc = np.maximum(c, 1).astype(np.int64)
    s = s.astype(np.int64)
    pos = (s + cc // 2) // cc
    neg = -((-s + cc // 2) // cc)
    return np.where(s >= 0, pos, neg)


def test_mean_rounding_reference_vector():
    # reference mosaic.rs tests: mean(10, 20) == 15; half-away-from-zero
    assert M._finalize_mean(np.array([30]), np.array([2]))[0] == 15
    assert M._finalize_mean(np.array([5]), np.array([2]))[0] == 3  # 2.5 -> 3
    assert M._finalize_mean(np.array([-5]), np.array([2]))[0] == -3  # -2.5 -> -3
    assert M._finalize_mean(np.array([7]), np.array([3]))[0] == 2
    # random sums of both signs, counts including zero, in the callers'
    # dtypes: int32 (the compositor, |s| + c//2 < 2**31 up to its
    # patch-count bound) and int64 (overview, temporal)
    rng = np.random.default_rng(7)
    for dtype, max_c, max_per in ((np.int32, (2**31 - 1) // 256, 255),
                                  (np.int64, 2**31, 2**30)):
        c = rng.integers(0, max_c, 200_000)
        c[::17] = 0
        s = rng.integers(-max_per, max_per + 1, c.size) * np.maximum(c, 1)
        s[::13] = rng.integers(-max_per, max_per + 1, s[::13].size)
        c, s = c.astype(dtype), s.astype(dtype)
        got = M._finalize_mean(s, c)
        assert got.dtype == dtype
        assert np.array_equal(got, _finalize_mean_two_divisions(s, c)), dtype


def test_caption_passthrough(spark, images_pdf, images_sdf, grid):
    # captions survive the join byte-for-byte (BASELINE per-row invariant)
    joined = M.assignments(images_sdf, grid).join(
        images_sdf.select("image_id", "caption"), "image_id"
    )
    got = {(r.image_id, r.caption) for r in joined.collect()}
    want_caps = dict(zip(images_pdf.image_id, images_pdf.caption))
    assert all(cap == want_caps[i] for i, cap in got)


MODES = ("mean", "last", "weighted", "median")


@pytest.fixture(scope="module")
def weighted_patches(spark, images_pdf, grid):
    """Every patch row of the module's tiles, with per-tile weights 1..5."""
    wpdf = images_pdf.copy()
    wpdf["weight"] = [1.0 + (i % 5) for i in range(len(wpdf))]
    return M.tiles_to_patches(spark.createDataFrame(wpdf), grid).toPandas()


@pytest.mark.parametrize("mode", MODES)
def test_composite_is_order_independent(weighted_patches, grid, mode):
    """Each chunk's patch rows composited in reverse order give the
    same chunk bytes, n_tiles and valid_px. `weighted` sums floats, so
    a pixel may move by 1, and only where its quotient is an exact .5
    tie."""
    nb, chh, chw = grid.num_bands, grid.chunk_h, grid.chunk_w
    overlapped = 0
    for _, rows in weighted_patches.groupby(["time_idx", "row_idx", "col_idx"]):
        fwd, rev = (M._composite(r.to_dict("list"), mode, nb, chh, chw).to_pylist()[0]
                    for r in (rows, rows.iloc[::-1]))
        assert (fwd["n_tiles"], fwd["valid_px"]) == (rev["n_tiles"], rev["valid_px"])
        overlapped += len(rows) > 1
        if mode != "weighted":
            assert fwd["chunk"] == rev["chunk"]
            continue
        diff = (np.frombuffer(fwd["chunk"], np.uint8).astype(int)
                - np.frombuffer(rev["chunk"], np.uint8).astype(int)).reshape(nb, chh, chw)
        cv = M._Canvas(mode, nb, chh, chw)
        cv.add_rows(rows.to_dict("list"))
        q = cv.a / np.maximum(cv.b, 1e-12)
        tie = np.isclose(q - np.floor(q), 0.5, rtol=0, atol=1e-9)
        assert np.abs(diff).max() <= 1 and tie[diff != 0].all()
    assert overlapped > 10


def test_mean_canvas_refuses_patch_past_cap():
    """An int32 mean canvas (batch and streaming state) holds
    MEAN_PATCH_CAP patches: full-value sums at the cap still finalize,
    and one more patch raises instead of wrapping."""
    patch, mask = np.full((1, 2, 2), 255, np.uint8), np.ones((2, 2), bool)
    cv = M._Canvas("mean", 1, 2, 2)
    cv.n = M.MEAN_PATCH_CAP - 1
    cv.add(patch, mask, 0, 0)
    cv.a[:] = 255 * M.MEAN_PATCH_CAP
    cv.b[:] = M.MEAN_PATCH_CAP
    assert cv.finish()[0].tolist() == [[[255, 255], [255, 255]]]
    with pytest.raises(OverflowError):
        cv.add(patch, mask, 0, 0)
    assert cv.n == M.MEAN_PATCH_CAP


@pytest.mark.parametrize("case", ["empty", "other_year"])
def test_degenerate_tiles_give_empty_results(spark, images_sdf, grid, case):
    """No tiles, or tiles outside every grid year, give empty results
    with the documented columns from assignments, reproject_patches
    and every compositor mode."""
    def cols(schema):
        return [f.split()[0] for f in schema.split(", ")]

    tiles = (spark.createDataFrame([], images_sdf.schema) if case == "empty"
             else images_sdf.withColumn("year", F.lit(1999)))
    a = M.assignments(tiles, grid)
    assert a.columns == ["image_id", "time_idx", "row_idx", "col_idx"]
    assert a.collect() == []
    patches = M.reproject_patches(tiles, grid)
    assert patches.columns == cols(M.PATCH_SCHEMA) and patches.collect() == []
    for mode in MODES:
        c = M.composite_chunks(patches, grid, mode=mode)
        assert c.columns == cols(M.CHUNK_SCHEMA) and c.collect() == [], mode


def test_weighted_mosaic_matches_oracle(spark, images_pdf, grid):
    # per-tile weights ride a `weight` column; exact parity vs the
    # oracle's float weighted-blend (R3)
    wpdf = images_pdf.copy()
    wpdf["weight"] = [1.0 + (i % 5) for i in range(len(wpdf))]
    weights = dict(zip(wpdf.image_id, wpdf.weight))
    sdf = spark.createDataFrame(wpdf)
    chunks = {
        (r.time_idx, r.row_idx, r.col_idx): r
        for r in M.mosaic(sdf, grid, mode="weighted").collect()
    }
    want = oracle.oracle_mosaic(wpdf, grid, mode="weighted", weights=weights)
    assert set(chunks) == set(want)
    for key, w in want.items():
        got = np.frombuffer(chunks[key].chunk, np.uint8).reshape(3, 256, 256)
        assert np.array_equal(got, w["canvas"]), key


def test_median_mosaic_matches_oracle(spark, images_pdf, images_sdf, grid):
    # per-pixel LOWER median composite (order-independent,
    # outlier-robust): exact parity vs the naive per-pixel oracle,
    # plus n_tiles/valid_px equality
    chunks = {
        (r.time_idx, r.row_idx, r.col_idx): r
        for r in M.mosaic(images_sdf, grid, mode="median").collect()
    }
    want = oracle.oracle_mosaic(images_pdf, grid, mode="median")
    assert set(chunks) == set(want)
    for key, w in want.items():
        got = np.frombuffer(chunks[key].chunk, np.uint8).reshape(
            3, grid.chunk_h, grid.chunk_w)
        assert np.array_equal(got, w["canvas"]), key
        assert chunks[key].n_tiles == w["n_tiles"]
        assert chunks[key].valid_px == w["valid_px"]


def test_lossy_codec_mosaic_psnr_invariant(spark, grid):
    # BASELINE per-row invariant: decoded-pixel allclose with PSNR>=40
    # for lossy encodings. Composite the same tiles twice — lossless
    # (raw) vs lossy (qdct) payloads — and require PSNR>=40 on every
    # chunk canvas.
    from aef_mosaic_spark import codecs, generator

    pdf_raw = generator.images_pdf(30)
    pdf_lossy = pdf_raw.copy()
    for i in pdf_lossy.index:
        t = pdf_lossy.loc[i]
        img = codecs.decode(t["bytes"], t["fmt"], t["w"], t["h"])
        pdf_lossy.at[i, "bytes"] = codecs.encode(img, "qdct")
        pdf_lossy.at[i, "fmt"] = "qdct"
        img_raw = img if t["fmt"] in codecs.LOSSLESS else generator.tile_pixels(
            int(t["image_id"].split("_")[1]),
            generator.tile_geometry(int(t["image_id"].split("_")[1]), 30))
        pdf_raw.at[i, "bytes"] = codecs.encode(img_raw, "raw")
        pdf_raw.at[i, "fmt"] = "raw"

    a = {(r.time_idx, r.row_idx, r.col_idx):
         np.frombuffer(r.chunk, np.uint8).astype(np.float64)
         for r in M.mosaic(spark.createDataFrame(pdf_raw, generator.IMAGE_SCHEMA),
                           grid, mode="mean").collect()}
    b = {(r.time_idx, r.row_idx, r.col_idx):
         np.frombuffer(r.chunk, np.uint8).astype(np.float64)
         for r in M.mosaic(spark.createDataFrame(pdf_lossy, generator.IMAGE_SCHEMA),
                           grid, mode="mean").collect()}
    assert set(a) == set(b)
    for k in a:
        mse = np.mean((a[k] - b[k]) ** 2)
        psnr = 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)
        assert psnr >= 40.0, (k, psnr)


def test_skip_bad_tiles(spark, images_pdf, grid, tmp_path):
    """A corrupt tile fails the job by default; with skip_bad_tiles the
    run completes, counts it, and every chunk untouched by the bad tile
    is byte-identical to the clean run (at 10^12 tiles, byte rot is
    routine — one object must not kill a 10-hour job)."""
    from aef_mosaic_spark.plans.pipeline import MosaicJob
    from aef_mosaic_spark.sources.icelite import Icelite

    pdf = images_pdf.copy()
    bad_id = pdf.iloc[0]["image_id"]
    pdf.loc[pdf.index[0], "bytes"] = b"\x89PNGgarbage-not-a-real-stream"
    corrupt = spark.createDataFrame(pdf)
    job = MosaicJob(grid, mode="mean")
    with pytest.raises(Exception):
        job.run(spark, corrupt, str(tmp_path / "strict"))

    tol = MosaicJob(grid, mode="mean", skip_bad_tiles=True)
    m = tol.run(spark, corrupt, str(tmp_path / "tolerant"))
    assert m["bad_tiles_skipped"] == 1
    assert m["chunks_written"] > 0
    # chunks not touched by the bad tile match the clean-input run
    clean = spark.createDataFrame(images_pdf.iloc[1:])
    mc = MosaicJob(grid, mode="mean").run(spark, clean, str(tmp_path / "ref"))
    got = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
           for r in Icelite(str(tmp_path / "tolerant")).read(spark).collect()}
    want = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
            for r in Icelite(str(tmp_path / "ref")).read(spark).collect()}
    assert got == want


def test_overview_chunks_matches_numpy(spark):
    """Level-1 overview: parent bytes equal a direct numpy 2x2
    block-mean (half-away rounding) of the assembled children, with
    missing quadrants as zeros; applying the operator twice composes
    (level-2 keys are level-1 keys halved)."""
    import numpy as np

    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.operators.mosaic import _finalize_mean, overview_chunks

    grid = OutputGrid(bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
                      crs="EPSG:32610", resolution=10.0, years=(2023, 2024),
                      num_bands=3, chunk_h=256, chunk_w=256)
    chunks = spark.read.parquet("fixtures/golden_chunks_mean.parquet")
    got = {(r.time_idx, r.row_idx, r.col_idx): (bytes(r.chunk_bytes),
                                                r.n_children)
           for r in overview_chunks(chunks, grid).collect()}
    pdf = chunks.toPandas()
    parents = {}
    for t in pdf.itertuples(index=False):
        parents.setdefault((t.time_idx, t.row_idx // 2, t.col_idx // 2),
                           []).append(t)
    assert set(got) == set(parents)
    for key, members in parents.items():
        canvas = np.zeros((3, 512, 512), np.uint8)
        for m in members:
            arr = np.frombuffer(m.chunk_bytes, np.uint8).reshape(3, 256, 256)
            canvas[:, (m.row_idx % 2) * 256:(m.row_idx % 2) * 256 + 256,
                   (m.col_idx % 2) * 256:(m.col_idx % 2) * 256 + 256] = arr
        blocks = canvas.reshape(3, 256, 2, 256, 2).astype(np.int64)
        s = blocks.sum(axis=(2, 4))
        want = _finalize_mean(s, np.full_like(s, 4)).astype(np.uint8).tobytes()
        assert got[key] == (want, len(members)), key
    # composes: level 2 over level 1
    lvl1 = overview_chunks(chunks, grid)
    lvl2 = overview_chunks(lvl1, grid)
    k2 = {(r.time_idx, r.row_idx, r.col_idx) for r in lvl2.collect()}
    assert k2 == {(t, r // 2, c // 2) for (t, r, c) in got}


def test_training_patches_match_numpy(spark):
    """Training-crop extraction: every emitted patch equals direct
    numpy slicing, empty (all-zero) crops are dropped, coverage of a
    fully-valid chunk is the complete stride grid."""
    import numpy as np

    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.operators.mosaic import chunks_to_training_patches

    grid = OutputGrid(bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
                      crs="EPSG:32610", resolution=10.0, years=(2023, 2024),
                      num_bands=3, chunk_h=256, chunk_w=256)
    chunks = spark.read.parquet("fixtures/golden_chunks_mean.parquet")
    got = {(r.time_idx, r.row_idx, r.col_idx, r.py, r.px):
           bytes(r.patch_bytes)
           for r in chunks_to_training_patches(chunks, grid).collect()}
    want = {}
    for t in chunks.toPandas().itertuples(index=False):
        arr = np.frombuffer(t.chunk_bytes, np.uint8).reshape(3, 256, 256)
        for py in range(0, 193, 64):
            for px in range(0, 193, 64):
                win = arr[:, py:py + 64, px:px + 64]
                if win.any():
                    want[(t.time_idx, t.row_idx, t.col_idx, py, px)] = \
                        win.tobytes()
    assert got == want and got
    # at least one chunk has an empty quadrant (sparse mosaic) so the
    # drop actually fires
    n_chunks = chunks.count()
    assert len(got) < n_chunks * 16

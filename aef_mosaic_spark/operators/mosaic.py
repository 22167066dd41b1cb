"""The flagship dataflow: tiles -> reproject -> mosaic -> chunks.

Spark-first re-expression of the reference pipeline
(/root/reference/src/pipeline/stages.rs:310-366, fetch -> mosaic ->
write over bounded channels) as ONE declarative DAG:

    images_df
      -> WGS84 bbox + year prefilter (Catalyst-pushed predicates)
      -> spread_input               (only if the scan is under-parallel)
      -> reproject_patches, ONE mapInPandas: vectorized grid bounds,
         exact chunk ranges (the analytic tile->chunk inversion,
         reference output_grid.rs:315-384 / J2), decode ONCE per tile,
         emit one *patch* per intersecting (or, on resume, pending)
         chunk
      -> groupBy(time_idx,row_idx,col_idx).applyInArrow: accumulate
         patches into the chunk canvas (mean / last-on-top / weighted /
         median, reference mosaic.rs:233-291 / R2+R3)

Scale notes (100 TB design):
- The shuffle carries *reprojected overlap patches*, not whole tiles:
  shuffle bytes ~= output pixels touched, independent of tile size,
  and each tile is fetched+decoded exactly once (the role of the
  reference's 32 GB decoded-tile LRU, cog_reader.rs:349-472, without
  any cache).
- Chunk keys are dense integers; skew from the hot spatial cluster is
  handled by AQE skew-join/partition-split plus the patch shuffle
  being pre-aggregated per tile (a chunk with 1000 overlapping tiles
  receives 1000 patch rows of <=256KB, not 1000 full images).
- All per-pixel math is numpy over Arrow batches; nothing row-at-a-time.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aef_mosaic_spark import codecs, proj
from aef_mosaic_spark.grid import OutputGrid

PATCH_SCHEMA = (
    "time_idx int, row_idx int, col_idx int, "
    "y0 int, x0 int, ph int, pw int, "
    "patch binary, mask binary, sort_key long, weight double, image_id string"
)

CHUNK_SCHEMA = (
    "time_idx int, row_idx int, col_idx int, chunk binary, "
    "n_tiles int, valid_px long, bands int, chunk_h int, chunk_w int"
)

_ARROW_TYPES = {"int": pa.int32(), "long": pa.int64(), "binary": pa.binary()}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The pyarrow schema of a flat DDL string of _ARROW_TYPES columns."""
    return pa.schema([(n, _ARROW_TYPES[t]) for n, t in (f.split() for f in ddl.split(", "))])


def _grid_bounds_np(pdf: pd.DataFrame, dst: str):
    """Vectorized edge-densified bounds transform for a whole Arrow
    batch: one trig pass per (src_crs -> dst) group, not per row
    (reference src/crs.rs:159-217). Returns (gx0, gy0, gx1, gy1)."""
    n = len(pdf)
    gx0 = np.empty(n); gy0 = np.empty(n)
    gx1 = np.empty(n); gy1 = np.empty(n)
    for crs in pdf["crs"].unique():
        m = (pdf["crs"] == crs).to_numpy()
        sub = pdf.loc[m]
        k = 5  # edge samples per side
        ts = np.linspace(0.0, 1.0, k)
        x0 = sub["min_x"].to_numpy(np.float64)
        x1 = sub["max_x"].to_numpy(np.float64)
        y0 = sub["min_y"].to_numpy(np.float64)
        y1 = sub["max_y"].to_numpy(np.float64)
        xs = np.concatenate([
            x0[:, None] + ts * (x1 - x0)[:, None],
            x0[:, None] + ts * (x1 - x0)[:, None],
            np.repeat(x0[:, None], k, 1),
            np.repeat(x1[:, None], k, 1),
        ], axis=1)
        ys = np.concatenate([
            np.repeat(y0[:, None], k, 1),
            np.repeat(y1[:, None], k, 1),
            y0[:, None] + ts * (y1 - y0)[:, None],
            y0[:, None] + ts * (y1 - y0)[:, None],
        ], axis=1)
        tx, ty = proj.transform_points(xs.ravel(), ys.ravel(), crs, dst)
        tx = tx.reshape(xs.shape); ty = ty.reshape(ys.shape)
        gx0[m] = tx.min(axis=1); gx1[m] = tx.max(axis=1)
        gy0[m] = ty.min(axis=1); gy1[m] = ty.max(axis=1)
    return gx0, gy0, gx1, gy1


def wgs84_prefilter(images: DataFrame, grid: OutputGrid,
                    row_range: tuple[int, int] | None = None) -> DataFrame:
    """Pushed-down approximate prefilter: year in grid.years AND the
    tile's WGS84 bbox (table columns) overlaps the grid extent
    transformed to WGS84 (superset of the exact grid-CRS test — the
    exact ranges decide downstream). These are plain Column predicates,
    so they reach the Parquet scan (PushedFilters).

    row_range=(r0, r1) restricts the extent to that inclusive chunk-row
    band (the incremental-commit work split): the scan then reads only
    tiles that can touch the band."""
    gx1 = grid.bounds[0] + grid.width * grid.resolution
    gy0 = grid.bounds[3] - grid.height * grid.resolution
    gy1 = grid.bounds[3]
    if row_range is not None:
        r0, r1 = row_range
        gy1 = grid.bounds[3] - r0 * grid.chunk_h * grid.resolution
        gy0 = grid.bounds[3] - (r1 + 1) * grid.chunk_h * grid.resolution
    wb = proj.transform_bounds((grid.bounds[0], gy0, gx1, gy1),
                               grid.crs, "EPSG:4326", densify=21)
    pad = 0.1  # degrees of slack for projection curvature
    return images.where(
        F.col("year").isin(list(grid.years))
        & (F.col("min_lon") < wb[2] + pad) & (F.col("max_lon") > wb[0] - pad)
        & (F.col("min_lat") < wb[3] + pad) & (F.col("max_lat") > wb[1] - pad)
    )


def _chunk_ranges(pdf: pd.DataFrame, grid: OutputGrid,
                  row_range: tuple[int, int] | None = None):
    """THE chunk-range law over an Arrow batch of tile metadata: the
    analytic tile->chunk inversion (reference output_grid.rs:315-384,
    J2) plus the year filter F5 (spatial_lookup.rs:61-74).

    Returns (ok, row_min, row_max, col_min, col_max, gbox): inclusive
    ranges clipped to the grid (and to the row band row_range=(r0, r1)
    if given), `ok` marking the rows in a grid year whose ranges are
    non-empty, and gbox = the (gx0, gy0, gx1, gy1) tile bounds in the
    grid CRS. OutputGrid.chunk_ranges_for_bounds is its scalar
    reference."""
    gx0, gy0, gx1, gy1 = _grid_bounds_np(pdf, grid.crs)
    x0, _, _, y1 = grid.bounds
    x1 = x0 + grid.width * grid.resolution
    y0 = y1 - grid.height * grid.resolution
    cw = grid.chunk_w * grid.resolution
    ch = grid.chunk_h * grid.resolution
    r_lo, r_hi = row_range if row_range is not None else (0, grid.chunk_rows - 1)
    col_min = np.maximum(np.floor((gx0 - x0) / cw), 0).astype(int)
    col_max = np.minimum(np.ceil((gx1 - x0) / cw) - 1, grid.chunk_cols - 1).astype(int)
    row_min = np.maximum(np.floor((y1 - gy1) / ch), r_lo).astype(int)
    row_max = np.minimum(np.ceil((y1 - gy0) / ch) - 1, r_hi).astype(int)
    ok = ((gx0 < x1) & (gx1 > x0) & (gy0 < y1) & (gy1 > y0)
          & (col_min <= col_max) & (row_min <= row_max)
          & pdf["year"].isin(grid.years).to_numpy())
    return ok, row_min, row_max, col_min, col_max, (gx0, gy0, gx1, gy1)


def assignments(df: DataFrame, grid: OutputGrid) -> DataFrame:
    """(image_id, time_idx, row_idx, col_idx) — the join-output
    tile/cell assignment table (golden_assignments fixture; J2+J3).
    One metadata-only mapInPandas applies _chunk_ranges (bytes are
    pruned first, so only metadata crosses the Python boundary), then
    a pure JVM explode of the `sequence` ranges."""
    meta = df.select("image_id", "crs", "min_x", "min_y", "max_x", "max_y", "year")
    gd = grid.to_dict()
    t_for_year = {y: i for i, y in enumerate(grid.years)}
    id_type = meta.schema["image_id"].dataType.simpleString()

    def _ranges(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = OutputGrid.from_dict(gd)
        for pdf in it:
            ok, row_min, row_max, col_min, col_max, _ = _chunk_ranges(pdf, g)
            yield pd.DataFrame({
                "image_id": pdf["image_id"].to_numpy()[ok],
                "time_idx": [t_for_year[y] for y in pdf["year"].to_numpy()[ok]],
                "row_min": row_min[ok], "row_max": row_max[ok],
                "col_min": col_min[ok], "col_max": col_max[ok],
            })

    ranged = meta.mapInPandas(
        _ranges, schema=f"image_id {id_type}, time_idx int, row_min int, "
                        "row_max int, col_min int, col_max int")
    return (
        ranged.select(
            "image_id", "time_idx",
            F.explode(F.sequence("row_min", "row_max")).alias("row_idx"),
            F.sequence("col_min", "col_max").alias("cols"),
        )
        .select("image_id", "time_idx", "row_idx", F.explode("cols").alias("col_idx"))
    )


def _reproject_tile_to_chunk(img: np.ndarray, tile_crs: str, tmin_x: float,
                             tmax_y: float, tres: float, grid: OutputGrid,
                             row_idx: int, col_idx: int,
                             gbox: tuple[float, float, float, float]):
    """Inverse-map one chunk window's pixel centers into the source
    tile; nearest-neighbor gather. Returns (y0, x0, patch, mask) of the
    tight valid window, or None.

    Replaces the reference's adaptive-grid approximation
    (reproject.rs:454-628) with exact per-pixel inverse projection —
    affordable because it's one vectorized proj.transform_grid pass
    per patch (from the cylindrical EPSG:6933 / EPSG:4326 grids into
    UTM only the Krüger series runs per pixel, bit-identical to the
    full-grid transform) and *more* accurate than the <=0.75 px
    interpolation budget.
    `gbox` (tile bounds in grid CRS) pre-clips the target window so
    the transform only touches pixels the tile can reach, not the
    whole 256^2 chunk."""
    bands, sh, sw = img.shape
    R0 = row_idx * grid.chunk_h
    C0 = col_idx * grid.chunk_w
    gx0, gy0, gx1, gy1 = gbox
    c_lo = max(0, int(np.floor((gx0 - grid.bounds[0]) / grid.resolution)) - C0)
    c_hi = min(grid.chunk_w, int(np.ceil((gx1 - grid.bounds[0]) / grid.resolution)) - C0)
    r_lo = max(0, int(np.floor((grid.bounds[3] - gy1) / grid.resolution)) - R0)
    r_hi = min(grid.chunk_h, int(np.ceil((grid.bounds[3] - gy0) / grid.resolution)) - R0)
    if r_lo >= r_hi or c_lo >= c_hi:
        return None
    rr = np.arange(r_lo, r_hi)
    cc = np.arange(c_lo, c_hi)
    ty = grid.bounds[3] - (R0 + rr + 0.5) * grid.resolution
    tx = grid.bounds[0] + (C0 + cc + 0.5) * grid.resolution
    sx_w, sy_w = proj.transform_grid(tx, ty, grid.crs, tile_crs)
    # world -> source pixel index (source rows top-down from tmax_y)
    sc = np.floor((sx_w - tmin_x) / tres).astype(np.int64)
    sr = np.floor((tmax_y - sy_w) / tres).astype(np.int64)
    valid = (sc >= 0) & (sc < sw) & (sr >= 0) & (sr < sh)
    if not valid.any():
        return None
    ys = np.flatnonzero(valid.any(axis=1))
    xs = np.flatnonzero(valid.any(axis=0))
    y0, y1 = int(ys[0]), int(ys[-1]) + 1
    x0, x1 = int(xs[0]), int(xs[-1]) + 1
    v = valid[y0:y1, x0:x1]
    scc = np.clip(sc[y0:y1, x0:x1], 0, sw - 1)
    srr = np.clip(sr[y0:y1, x0:x1], 0, sh - 1)
    patch = img[:, srr, scc]  # (bands, ph, pw)
    patch[:, ~v] = 0
    return y0 + r_lo, x0 + c_lo, patch, v.astype(np.uint8)


def reproject_patches(tiles: DataFrame, grid: OutputGrid,
                      row_range: tuple[int, int] | None = None,
                      skip_bad_tiles: bool = False,
                      bad_tile_acc=None) -> DataFrame:
    """THE patch kernel: ONE mapInPandas over raw tile rows doing the
    bounds transform, exact chunk ranges, decode-once and patch
    reprojection per Arrow batch; one patch row per intersecting chunk.
    sort_key = stable compositing order for last-on-top (reference
    composites by insertion order; we make it deterministic by
    image_id).

    row_range=(r0, r1) clips the chunk ranges to that inclusive row
    band (incremental-commit split: a band pays only its own kernel
    cost).

    If `tiles` carries a `todo` column (array<long> of packed
    row*chunk_cols+col chunk keys — the resume work-list from
    MosaicJob.pending_tiles), only those chunks are reprojected: a
    partially-done tile pays kernel cost for its PENDING chunks only.

    skip_bad_tiles: a decode failure drops THAT tile (counted in
    bad_tile_acc if given) instead of failing the task — at 10^12
    tiles, corrupt inputs are routine, and one byte-rotted object must
    not kill a 10-hour job. Default False = fail fast (CI parity)."""
    import hashlib

    nb = grid.num_bands
    gd = grid.to_dict()
    has_todo = "todo" in tiles.columns
    n_cols = grid.chunk_cols
    t_for_year = {y: i for i, y in enumerate(grid.years)}

    def _gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = OutputGrid.from_dict(gd)
        for pdf in it:
            if not len(pdf):
                continue
            ok, row_min, row_max, col_min, col_max, (gx0, gy0, gx1, gy1) = \
                _chunk_ranges(pdf, g, row_range)
            rows: list[dict] = []
            for i, t in enumerate(pdf.itertuples(index=False)):
                if not ok[i]:
                    continue
                todo = {int(k) for k in t.todo} if has_todo else None
                rcs = [(r, c)
                       for r in range(row_min[i], row_max[i] + 1)
                       for c in range(col_min[i], col_max[i] + 1)
                       if todo is None or r * n_cols + c in todo]
                if not rcs:
                    continue
                try:
                    img = codecs.decode(t.bytes, t.fmt, t.w, t.h)[:nb]
                except Exception:
                    if not skip_bad_tiles:
                        raise
                    if bad_tile_acc is not None:
                        bad_tile_acc.add(1)
                    continue
                sort_key = int.from_bytes(
                    hashlib.md5(t.image_id.encode()).digest()[:8], "big", signed=True)
                gbox = (gx0[i], gy0[i], gx1[i], gy1[i])
                ti = t_for_year[t.year]
                for r, c in rcs:
                    res = _reproject_tile_to_chunk(
                        img, t.crs, t.min_x, t.max_y, t.resolution, g, r, c,
                        gbox=gbox)
                    if res is None:
                        continue
                    y0, x0, patch, mask = res
                    rows.append({
                        "time_idx": ti, "row_idx": r, "col_idx": c,
                        "y0": y0, "x0": x0,
                        "ph": patch.shape[1], "pw": patch.shape[2],
                        "patch": zlib.compress(patch.tobytes(), 1),
                        "mask": zlib.compress(
                            np.packbits(mask.ravel()).tobytes(), 1),
                        "sort_key": sort_key,
                        "weight": float(getattr(t, "weight", 1.0)),
                        "image_id": t.image_id,
                    })
            yield pd.DataFrame(
                rows,
                columns=["time_idx", "row_idx", "col_idx", "y0", "x0", "ph", "pw",
                         "patch", "mask", "sort_key", "weight", "image_id"])

    return tiles.mapInPandas(_gen, schema=PATCH_SCHEMA)


def _finalize_mean(s: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Rounded mean, half away from zero — bit-exact with the
    reference accumulator (mosaic.rs:265-290: (s+c/2)/c for s>=0,
    (s-c/2)/c otherwise, integer division toward zero). Both signs are
    the same division of |s|, so it runs once, in the inputs' dtype:
    the caller keeps |s| + c//2 inside it. Zero counts divide by 1."""
    c = np.maximum(c, 1)
    q = (np.abs(s) + c // 2) // c
    return np.where(s >= 0, q, -q)


# patches one int32 mean canvas holds: |sum| + count//2 stays inside
# int32 while each patch adds at most 255.5 (_finalize_mean's addend)
MEAN_PATCH_CAP = (2**31 - 1) // 256
_NO_KEY = np.iinfo(np.int64).min  # `last` canvas: pixel never written


def _patch_pixels(patch: bytes, mask: bytes, ph: int, pw: int,
                  nb: int) -> tuple[np.ndarray, np.ndarray]:
    """One PATCH_SCHEMA row's payloads -> (uint8 (nb, ph, pw) patch,
    bool mask)."""
    pixels = np.frombuffer(zlib.decompress(patch), np.uint8).reshape(nb, ph, pw)
    valid = np.unpackbits(np.frombuffer(zlib.decompress(mask), np.uint8),
                          count=ph * pw).reshape(ph, pw).astype(bool)
    return pixels, valid


# the PATCH_SCHEMA columns _Canvas.add_rows reads, in add()'s order
_ROW_COLS = ("patch", "mask", "ph", "pw", "y0", "x0", "weight", "sort_key")


class _Canvas:
    """One chunk's compositing state (A1/R2/R3, reference
    mosaic.rs:233-291) — the single accumulator behind composite_chunks
    (and so the streamed path's compact_chunks).

    State is (a, b): mean/weighted = (sums, counts), last = (uint8
    canvas, per-pixel max sort_key), median = (staged patches,
    counts). Every mode is order-independent: sums are exact integers
    (mean) and `last` keeps, per pixel, the patch with the largest
    sort_key. A mean canvas sums in int32 and refuses its
    MEAN_PATCH_CAP+1-th patch."""

    def __init__(self, mode: str, nb: int, chh: int, chw: int):
        self.mode, self.nb, self.n = mode, nb, 0
        self.cap = MEAN_PATCH_CAP if mode == "mean" else None
        if mode == "last":
            self.a = np.zeros((nb, chh, chw), np.uint8)
            self.b = np.full((chh, chw), _NO_KEY, np.int64)
        else:
            dt = {"mean": np.int32, "weighted": np.float64, "median": np.int32}[mode]
            self.a = [] if mode == "median" else np.zeros((nb, chh, chw), dt)
            self.b = np.zeros((chh, chw), dt)

    def add(self, patch, mask, y0: int, x0: int, weight: float = 1.0,
            sort_key: int = 0) -> None:
        if self.cap is not None and self.n >= self.cap:
            raise OverflowError(
                f"chunk canvas holds at most {self.cap} mean patches (int32 sums)")
        self.n += 1
        ys, xs = slice(y0, y0 + mask.shape[0]), slice(x0, x0 + mask.shape[1])
        if self.mode == "mean":
            self.a[:, ys, xs] += patch * mask
            self.b[ys, xs] += mask
        elif self.mode == "weighted":
            self.a[:, ys, xs] += patch * (mask * weight)
            self.b[ys, xs] += mask * weight
        elif self.mode == "median":
            self.a.append((patch, mask, y0, x0))
            self.b[ys, xs] += mask
        else:
            best = self.b[ys, xs]
            take = mask & (sort_key > best)
            self.a[:, ys, xs][:, take] = patch[:, take]
            best[take] = sort_key

    def add_rows(self, cols) -> None:
        """add() every PATCH_SCHEMA row of `cols`, a mapping of column
        name -> values (an Arrow Table.to_pydict(), or a pandas batch)."""
        for patch, mask, ph, pw, y0, x0, weight, sort_key in zip(
                *(cols[k] for k in _ROW_COLS)):
            self.add(*_patch_pixels(patch, mask, ph, pw, self.nb),
                     y0, x0, weight, sort_key)

    def _touched(self) -> np.ndarray:
        return self.b > (_NO_KEY if self.mode == "last" else 0)

    def finish(self) -> tuple[np.ndarray, int]:
        """-> (uint8 (nb, chh, chw) canvas, valid_px); never-touched
        pixels are 0."""
        touched = self._touched()
        if self.mode == "mean":
            out = _finalize_mean(self.a, self.b)
        elif self.mode == "weighted":
            out = np.rint(self.a / np.maximum(self.b, 1e-12))
        elif self.mode == "median":
            out = self._median()
        else:
            out = self.a
        return np.where(touched, out, 0).astype(np.uint8), int(touched.sum())

    def _median(self) -> np.ndarray:
        """Per-pixel LOWER median: scatter the staged patches into a
        (max_depth, nb, chh, chw) stack with 256 as the above-uint8
        sentinel; memory = depth x ~0.4 MB, depth bounded by
        tiles-per-chunk (the same bound every mode's group already
        holds decompressed)."""
        cnt = self.b
        stack = np.full((max(int(cnt.max()), 1), self.nb, *cnt.shape), 256, np.uint16)
        widx = np.zeros(cnt.shape, np.int32)
        for patch, mask, y0, x0 in self.a:
            yy, xx = np.nonzero(mask)
            gy, gx = y0 + yy, x0 + xx
            stack[widx[gy, gx], :, gy, gx] = patch[:, yy, xx].T
            widx[gy, gx] += 1
        stack.sort(axis=0)  # sentinel 256 sorts past every value
        k = (np.maximum(cnt - 1, 0) // 2).astype(np.int64)
        return np.take_along_axis(stack, k[None, None], axis=0)[0]


_KEYS = ("time_idx", "row_idx", "col_idx")
_CHUNK_ARROW = _arrow_schema(CHUNK_SCHEMA)


def _composite(cols, mode: str, nb: int, chh: int, chw: int) -> pa.Table:
    """One chunk's PATCH_SCHEMA rows (columns, as _Canvas.add_rows
    takes them) -> its CHUNK_SCHEMA row."""
    cv = _Canvas(mode, nb, chh, chw)
    cv.add_rows(cols)
    canvas, valid = cv.finish()
    return pa.table({
        **{k: [cols[k][0]] for k in _KEYS},
        "chunk": [canvas.tobytes()], "n_tiles": [len(set(cols["image_id"]))],
        "valid_px": [valid], "bands": [nb], "chunk_h": [chh], "chunk_w": [chw],
    }, schema=_CHUNK_ARROW)


def composite_chunks(patches: DataFrame, grid: OutputGrid, mode: str = "mean") -> DataFrame:
    """groupBy(chunk).applyInArrow — the A1/R2/R3 compositor, one
    _Canvas per chunk, fed each group as plain columns.

    modes: 'mean' (reference parity), 'last' (last-on-top: each pixel
    comes from the patch with the largest sort_key — an md5 of
    image_id, so two patches of one chunk tie only when an image_id is
    repeated, and a tie keeps whichever patch came first), 'weighted'
    (float weighted blend), 'median' (per-pixel LOWER median —
    ascending index (c-1)//2 — an order-independent outlier-robust
    composite: the standard cloud/sensor-glitch rejection for temporal
    stacks; integer-exact, no float ties). A 'mean' chunk holds at
    most MEAN_PATCH_CAP patches (int32 sums); more raise OverflowError.
    Fill for never-touched pixels is 0 with a valid-pixel count
    reported (uint8 analog of the reference's -128 int8 NODATA)."""
    nb, chh, chw = grid.num_bands, grid.chunk_h, grid.chunk_w

    # NOTE (r6): pinning the group exchange at the configured shuffle
    # partition count was tried and REVERTED — no bench gain (the
    # AQE-coalesced compositor was not the bottleneck at sf0.1) and a
    # 3.2 s -> 9.0 s wall regression on the small CLI job: dozens of
    # Python tasks for a 31-chunk output, each paying the per-task
    # set-up (then ~0.3 s, mostly pyspark.zip directory re-reads; ~0.1
    # s with the session's worker daemon, see spread_input). AQE's
    # byte-based coalescing is the right default here because the
    # per-group python work tracks patch bytes closely.
    return patches.groupBy(*_KEYS).applyInArrow(
        lambda t: _composite(t.to_pydict(), mode, nb, chh, chw), schema=CHUNK_SCHEMA
    )


def overview_chunks(chunks: DataFrame, grid: OutputGrid,
                    chunk_col: str = "chunk_bytes") -> DataFrame:
    """Level-1 overview pyramid: each (time_idx, row_idx//2,
    col_idx//2) parent chunk is the 2x2 block mean (half-away rounding,
    same law as the compositor's _finalize_mean) of its up-to-4
    children at half resolution -> (time_idx, row_idx, col_idx,
    chunk_bytes, n_children). Missing child quadrants stay 0
    (the mosaic's NODATA background), so the overview of a sparse
    mosaic is sparse in the same places.

    Shuffle shape: ONE groupBy on the parent key moves each child
    chunk exactly once; levels compose (apply again for level 2).
    Zoom-out serving / thumbnail-scale training crops come from the
    overview table instead of decoding 4x the bytes."""
    import pandas as pd

    chh, chw, nb = grid.chunk_h, grid.chunk_w, grid.num_bands

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        canvas = np.zeros((nb, 2 * chh, 2 * chw), np.uint8)
        for t in pdf.itertuples(index=False):
            arr = np.frombuffer(t.chunk_bytes, np.uint8).reshape(nb, chh, chw)
            oy = (int(t.row_idx) % 2) * chh
            ox = (int(t.col_idx) % 2) * chw
            canvas[:, oy:oy + chh, ox:ox + chw] = arr
        blocks = canvas.reshape(nb, chh, 2, chw, 2).astype(np.int64)
        s = blocks.sum(axis=(2, 4))
        down = _finalize_mean(s, np.full_like(s, 4)).astype(np.uint8)
        return pd.DataFrame([{
            "time_idx": int(pdf["time_idx"].iloc[0]),
            "row_idx": int(pdf["row_idx"].iloc[0]) // 2,
            "col_idx": int(pdf["col_idx"].iloc[0]) // 2,
            "chunk_bytes": down.tobytes(),
            "n_children": len(pdf),
        }])

    src = chunks.select("time_idx", "row_idx", "col_idx",
                        F.col(chunk_col).alias("chunk_bytes"))
    return src.groupBy(
        "time_idx",
        (F.col("row_idx") / 2).cast("int").alias("_pr"),
        (F.col("col_idx") / 2).cast("int").alias("_pc"),
    ).applyInPandas(
        _merge,
        schema="time_idx int, row_idx int, col_idx int, "
               "chunk_bytes binary, n_children int",
    )


TEMPORAL_OPS = ("latest_valid", "mean", "median")


def temporal_composite(chunks: DataFrame, grid: OutputGrid,
                       op: str = "latest_valid",
                       chunk_col: str = "chunk_bytes") -> DataFrame:
    """Cross-TIME per-pixel composite of the committed per-year mosaic
    chunks -> (row_idx, col_idx, chunk_bytes, n_times, valid_px): the
    gap-fill / cloud-free-composite workload (EO: pick each pixel from
    whichever year actually observed it).

    ops (0 == the mosaic's NODATA background everywhere):
    - latest_valid: newest non-zero observation per pixel, falling
      back through older years (classic gap-fill);
    - mean: rounded mean (half-away, the compositor's _finalize_mean
      law) over the non-zero observations;
    - median: LOWER median of the non-zero observations (order-
      independent, bit-stable — same law as mosaic mode='median').

    Scale shape: ONE groupBy on (row_idx, col_idx) moves each chunk
    exactly once; group size = n_time_indices (small by construction),
    so no skew story is needed. Output drops time_idx — it is the
    table a single-layer serving/training consumer reads."""
    import pandas as pd

    if op not in TEMPORAL_OPS:
        raise ValueError(f"op must be one of {TEMPORAL_OPS}, got {op!r}")
    chh, chw, nb = grid.chunk_h, grid.chunk_w, grid.num_bands

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time_idx")
        stack = np.stack([np.frombuffer(b, np.uint8).reshape(nb, chh, chw)
                          for b in pdf["chunk_bytes"]])
        valid = stack > 0
        any_valid = valid.any(axis=0)
        if op == "latest_valid":
            last = stack.shape[0] - 1 - np.argmax(valid[::-1], axis=0)
            out = np.take_along_axis(stack, last[None], 0)[0]
            out = np.where(any_valid, out, 0).astype(np.uint8)
        elif op == "mean":
            s = stack.astype(np.int64).sum(axis=0, where=valid)
            c = valid.sum(axis=0)
            out = np.where(any_valid, _finalize_mean(s, c), 0
                           ).astype(np.uint8)
        else:  # median (lower)
            big = np.where(valid, stack.astype(np.int16), np.int16(999))
            big.sort(axis=0)
            cnt = valid.sum(axis=0)
            idx = np.maximum(cnt - 1, 0) // 2
            out = np.take_along_axis(big, idx[None], 0)[0]
            out = np.where(any_valid, out, 0).astype(np.uint8)
        return pd.DataFrame([{
            "row_idx": int(pdf["row_idx"].iloc[0]),
            "col_idx": int(pdf["col_idx"].iloc[0]),
            "chunk_bytes": np.ascontiguousarray(out).tobytes(),
            "n_times": len(pdf),
            "valid_px": int(any_valid.sum()),
        }])

    src = chunks.select("time_idx", "row_idx", "col_idx",
                        F.col(chunk_col).alias("chunk_bytes"))
    return src.groupBy("row_idx", "col_idx").applyInPandas(
        _merge, schema="row_idx int, col_idx int, chunk_bytes binary, "
                       "n_times int, valid_px int")


def temporal_change(chunks: DataFrame, grid: OutputGrid,
                    time_a: int, time_b: int, threshold: int = 16,
                    chunk_col: str = "chunk_bytes") -> DataFrame:
    """Per-pixel change detection between two time slices of the
    committed mosaic stack -> (row_idx, col_idx, valid_px, changed_px,
    mad_milli, mask_bytes): the bi-temporal EO workload (disturbance /
    new-construction flagging between two acquisition epochs).

    A pixel is comparable where BOTH slices are non-zero (0 == the
    mosaic's NODATA background); changed where |a - b| > threshold.
    mad_milli = half-up integer milli-units of mean |a - b| over the
    comparable pixels (exact-integer law: floor((2000*S + n)/(2n)),
    all int64 — bit-stable across hosts and engines). mask_bytes is
    the uint8 per-(band,y,x) change mask ('<u1', C order), so the
    downstream consumer (rasterize/vectorize, alert tiles) gets the
    spatial footprint, not just counts.

    Scale shape: a filter on the two time indices PUSHED TO THE SCAN
    (partition/file pruning on a time-partitioned table), then ONE
    groupBy (row_idx, col_idx) with group size <= 2 — no self-join of
    two filtered branches (repo law: a join of two UDF-derived
    branches recomputes the scan; here the pair meets in one shuffle).
    Chunks missing either slice emit nothing (no coverage -> no row).
    """
    import pandas as pd

    chh, chw, nb = grid.chunk_h, grid.chunk_w, grid.num_bands

    def _diff(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) != 2:
            return pd.DataFrame(
                columns=["row_idx", "col_idx", "valid_px", "changed_px",
                         "mad_milli", "mask_bytes"]).astype(
                {"row_idx": "int32", "col_idx": "int32",
                 "valid_px": "int32", "changed_px": "int32",
                 "mad_milli": "int64"})
        pdf = pdf.sort_values("time_idx")
        a = np.frombuffer(pdf["chunk_bytes"].iloc[0], np.uint8) \
            .reshape(nb, chh, chw).astype(np.int64)
        b = np.frombuffer(pdf["chunk_bytes"].iloc[1], np.uint8) \
            .reshape(nb, chh, chw).astype(np.int64)
        valid = (a > 0) & (b > 0)
        d = np.abs(a - b) * valid
        mask = ((d > threshold) & valid).astype("<u1")
        n = int(valid.sum())
        s = int(d.sum())
        mad = (2000 * s + n) // (2 * n) if n else 0
        return pd.DataFrame([{
            "row_idx": int(pdf["row_idx"].iloc[0]),
            "col_idx": int(pdf["col_idx"].iloc[0]),
            "valid_px": n,
            "changed_px": int(mask.sum()),
            "mad_milli": mad,
            "mask_bytes": np.ascontiguousarray(mask).tobytes(),
        }])

    src = chunks.where(F.col("time_idx").isin(time_a, time_b)) \
                .select("time_idx", "row_idx", "col_idx",
                        F.col(chunk_col).alias("chunk_bytes"))
    return src.groupBy("row_idx", "col_idx").applyInPandas(
        _diff, schema="row_idx int, col_idx int, valid_px int, "
                      "changed_px int, mad_milli long, "
                      "mask_bytes binary")


def temporal_trend(chunks: DataFrame, grid: OutputGrid,
                   scale: int = 100,
                   chunk_col: str = "chunk_bytes") -> DataFrame:
    """Per-pixel OLS trend across the temporal mosaic stack ->
    (row_idx, col_idx, slope_bytes, n_times, fit_px): the
    change-detection / greening-browning workload (EO: per-pixel
    least-squares slope of value vs acquisition year).

    Exact-integer law (bit-stable across hosts, like the compositor's
    rounding): over the NON-ZERO observations of a pixel (0 == the
    mosaic's NODATA background),
        num = n*S_tv - S_t*S_v,   den = n*S_tt - S_t^2   (int64)
        slope = sign(num) * floor((2*scale*|num| + den) / (2*den))
    i.e. half-away-up rounding of scale*num/den — 0 where den == 0
    (fewer than 2 valid observations, or all at one time). Output
    pixels are little-endian int16 ('<i2'): centi-units per time step
    at the default scale. The OLS slope of uint8 values over distinct
    integer times is bounded by +/-254, so the default scale never
    saturates int16 (the clip is a guard for caller-raised scales).
    fit_px counts the (band, y, x) cells with a fitted (den>0) slope.

    Scale shape: identical to temporal_composite — ONE groupBy on
    (row_idx, col_idx) moves each committed chunk across the wire
    exactly once; group size = n_time_indices (small by construction),
    so there is no skew story and the plan survives any raster extent.
    """
    import pandas as pd

    if scale < 1:
        raise ValueError("scale must be >= 1")
    chh, chw, nb = grid.chunk_h, grid.chunk_w, grid.num_bands

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time_idx")
        stack = np.stack([np.frombuffer(b, np.uint8).reshape(nb, chh, chw)
                          for b in pdf["chunk_bytes"]]).astype(np.int64)
        t = pdf["time_idx"].to_numpy(np.int64).reshape(-1, 1, 1, 1)
        valid = stack > 0
        n = valid.sum(axis=0)
        st = (t * valid).sum(axis=0)
        stt = (t * t * valid).sum(axis=0)
        sv = stack.sum(axis=0)            # zeros where invalid
        stv = (t * stack).sum(axis=0)
        den = n * stt - st * st
        num = n * stv - st * sv
        safe = np.maximum(den, 1)
        q = np.sign(num) * ((2 * scale * np.abs(num) + safe) // (2 * safe))
        out = np.where(den > 0, np.clip(q, -32767, 32767), 0) \
            .astype("<i2")
        return pd.DataFrame([{
            "row_idx": int(pdf["row_idx"].iloc[0]),
            "col_idx": int(pdf["col_idx"].iloc[0]),
            "slope_bytes": np.ascontiguousarray(out).tobytes(),
            "n_times": len(pdf),
            "fit_px": int((den > 0).sum()),
        }])

    src = chunks.select("time_idx", "row_idx", "col_idx",
                        F.col(chunk_col).alias("chunk_bytes"))
    return src.groupBy("row_idx", "col_idx").applyInPandas(
        _fit, schema="row_idx int, col_idx int, slope_bytes binary, "
                     "n_times int, fit_px int")


def chunks_to_training_patches(chunks: DataFrame, grid: OutputGrid,
                               patch: int = 64, stride: int = 64,
                               drop_empty: bool = True,
                               chunk_col: str = "chunk_bytes") -> DataFrame:
    """Cut committed mosaic chunks into fixed-size training crops ->
    (time_idx, row_idx, col_idx, py, px, patch_bytes) — the corpus
    shape a vision training job consumes (pre-cropped, shuffle-ready,
    one row per example). Pure mapInPandas slicing: one pass over the
    chunk bytes, ZERO shuffle — cropping rides the scan, and the
    downstream trainer's randomization is a repartition of thin rows.
    drop_empty skips all-zero (NODATA background) crops so empty
    mosaic area never becomes a training example."""
    import pandas as pd

    chh, chw, nb = grid.chunk_h, grid.chunk_w, grid.num_bands

    def _cut(it):
        for pdf in it:
            rows = []
            for t in pdf.itertuples(index=False):
                arr = np.frombuffer(t.chunk_bytes, np.uint8) \
                    .reshape(nb, chh, chw)
                for py in range(0, chh - patch + 1, stride):
                    for px in range(0, chw - patch + 1, stride):
                        win = arr[:, py:py + patch, px:px + patch]
                        if drop_empty and not win.any():
                            continue
                        rows.append({
                            "time_idx": int(t.time_idx),
                            "row_idx": int(t.row_idx),
                            "col_idx": int(t.col_idx),
                            "py": py, "px": px,
                            "patch_bytes": win.tobytes(),
                        })
            yield pd.DataFrame(
                rows, columns=["time_idx", "row_idx", "col_idx",
                               "py", "px", "patch_bytes"])

    src = chunks.select("time_idx", "row_idx", "col_idx",
                        F.col(chunk_col).alias("chunk_bytes"))
    return src.mapInPandas(
        _cut, schema="time_idx int, row_idx int, col_idx int, "
                     "py int, px int, patch_bytes binary")


def tiles_to_patches(images: DataFrame, grid: OutputGrid,
                     row_range: tuple[int, int] | None = None,
                     skip_bad_tiles: bool = False,
                     bad_tile_acc=None) -> DataFrame:
    """The flagship plan: WGS84+year prefilter (pushed to the scan)
    -> spread_input -> the reproject_patches kernel. Zero shuffles and
    zero branch recomputation before the patch exchange — this is the
    stage whose throughput scales linearly with cores (see
    BENCH/BASELINE.md). Fresh and resumed runs both enter here; a
    resume's tiles carry the `todo` work-list through to the kernel.

    row_range=(r0, r1): emit only chunks in that inclusive row band
    (the prefilter AND the kernel loop are both clipped)."""
    return prefiltered_patches(wgs84_prefilter(images, grid, row_range=row_range),
                               grid, row_range=row_range,
                               skip_bad_tiles=skip_bad_tiles, bad_tile_acc=bad_tile_acc)


def prefiltered_patches(tiles: DataFrame, grid: OutputGrid,
                        row_range: tuple[int, int] | None = None,
                        skip_bad_tiles: bool = False,
                        bad_tile_acc=None) -> DataFrame:
    """tiles_to_patches after its prefilter, for a caller that applied
    (and observed) wgs84_prefilter itself: spread_input -> the kernel."""
    # spread_input (r6): a small bin-packed parquet scan (150 MB of
    # tile rows -> 2 splits at the 128 MB target) serializes the
    # decode+reproject kernel onto 2 cores; the conditional spread is
    # a no-op at real scale where the scan has thousands of splits.
    # Applied AFTER the prefilter so only surviving tiles shuffle.
    # factor=1: one kernel task per core, as every Python task pays a
    # fixed start-up cost (see spread_input).
    from aef_mosaic_spark.partitioning import spread_input

    return reproject_patches(spread_input(tiles, "image_id", factor=1),
                             grid, row_range=row_range,
                             skip_bad_tiles=skip_bad_tiles, bad_tile_acc=bad_tile_acc)


def mosaic(images: DataFrame, grid: OutputGrid, mode: str = "mean") -> DataFrame:
    """images -> chunk DataFrame (the full flagship DAG, lazily)."""
    return composite_chunks(tiles_to_patches(images, grid), grid, mode=mode)

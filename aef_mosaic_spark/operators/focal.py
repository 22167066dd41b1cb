"""Focal (neighborhood) raster ops over the chunked mosaic table with
halo exchange.

A focal op (box mean / max / min, gradient magnitude) needs, for every
output pixel, a (2r+1)x(2r+1) window — so each chunk needs up to r
pixels from its 8 neighbors.  On a cluster the neighbors live on other
executors; the naive plan replicates every full chunk to all 9
neighbor keys (9x chunk bytes through the shuffle).  The halo plan
ships only the r-pixel edge strips: per 256x256x3 chunk at r=1 that is
~3 KB of strips vs 196 KB of chunk — the shuffle moves
(1 + perimeter*r/area) ~= 1.02 chunk-equivalents instead of 9.
Replicating full chunks gives bit-identical output but measured
1.5-4.2x slower with 8.6x the shuffle bytes (BENCH/BASELINE.md §10g).

Semantics (documented, deterministic):
- border policy: pixels beyond the global raster edge are 0 — the
  mosaic's NODATA background (same convention as overview_chunks,
  mosaic.py:577).
- `mean`: integer half-away-up rounding over the full (2r+1)^2
  denominator (zero-padded), the compositor's rounding law.
- `max` / `min`: plain window extrema (zero padding dominates `min`
  at the raster border; documented, not special-cased).
- `grad`: |Sobel_x| + |Sobel_y| per band, clipped to 255 — all-integer
  so it is bit-stable across hosts (r is forced to 1).

Reference behavior analog: aef-mosaic has no focal ops; this is part
of the raster-analytics extension surface (zonal_stats, overview
pyramid, rasterize_boxes) a mosaic consumer needs.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..grid import OutputGrid

FOCAL_OPS = ("mean", "max", "min", "median", "grad", "slope", "hillshade",
             "aspect", "d8", "tri")
# ops whose kernel reads exactly the 8 neighbors: radius must be 1
FIXED_3X3_OPS = ("grad", "slope", "hillshade", "aspect", "d8", "tri")

# terrain-op constants (treating each band as an elevation surface):
# classic 45-degree sun altitude / 315-degree (NW) azimuth defaults,
# unit z-factor.  Fixed module constants so the pinned-fixture oracle
# and every caller share one parameterization (Horn 1981; the standard
# published hillshade formulation used by GDAL/ESRI).
TERRAIN_CELLSIZE = 10.0
TERRAIN_Z_FACTOR = 1.0
HILLSHADE_ALTITUDE_DEG = 45.0
HILLSHADE_AZIMUTH_DEG = 315.0

_KEYS = ("time_idx", "row_idx", "col_idx")
_OUT_SCHEMA = ("time_idx int, row_idx int, col_idx int, "
               "chunk binary, n_parts int")


def _sobel_xy(pad: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The 3x3 Sobel sums (gx, gy), int32, over a padded
    (nb, H+2, W+2) array, y increasing downward (raster row order)."""
    p = pad.astype(np.int32)
    tl, tc, tr = p[:, :-2, :-2], p[:, :-2, 1:-1], p[:, :-2, 2:]
    ml, mr = p[:, 1:-1, :-2], p[:, 1:-1, 2:]
    bl, bc, br = p[:, 2:, :-2], p[:, 2:, 1:-1], p[:, 2:, 2:]
    gx = (tr + 2 * mr + br) - (tl + 2 * ml + bl)
    gy = (bl + 2 * bc + br) - (tl + 2 * tc + tr)
    return gx, gy


def _sobel(pad: np.ndarray) -> np.ndarray:
    """|gx|+|gy| Sobel, all int32, clipped to uint8."""
    gx, gy = _sobel_xy(pad)
    return np.minimum(np.abs(gx) + np.abs(gy), 255).astype(np.uint8)


def _horn_gradients(pad: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Horn 1981 3x3 weighted gradients dz/dx, dz/dy (float64): the
    Sobel sums over 8 cell sizes.  Sums of uint8 values are exact
    integers, so taking them in int32 changes no bit."""
    gx, gy = _sobel_xy(pad)
    den = 8.0 * TERRAIN_CELLSIZE
    return gx / den, gy / den


def _slope(pad: np.ndarray) -> np.ndarray:
    """Slope in degrees scaled onto uint8: round(deg * 255 / 90)."""
    dzdx, dzdy = _horn_gradients(pad)
    rise = np.hypot(dzdx, dzdy) * TERRAIN_Z_FACTOR
    deg = np.degrees(np.arctan(rise))
    return np.floor(deg * (255.0 / 90.0) + 0.5).astype(np.uint8)


def _hillshade(pad: np.ndarray) -> np.ndarray:
    """Standard hillshade: 255*(cos z cos s + sin z sin s cos(az-asp)),
    clipped at 0, half-up rounded to uint8."""
    dzdx, dzdy = _horn_gradients(pad)
    zen = np.radians(90.0 - HILLSHADE_ALTITUDE_DEG)
    az = np.radians((360.0 - HILLSHADE_AZIMUTH_DEG + 90.0) % 360.0)
    slope = np.arctan(TERRAIN_Z_FACTOR * np.hypot(dzdx, dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    hs = 255.0 * (np.cos(zen) * np.cos(slope)
                  + np.sin(zen) * np.sin(slope) * np.cos(az - aspect))
    return np.floor(np.clip(hs, 0.0, 255.0) + 0.5).astype(np.uint8)


def _aspect(pad: np.ndarray) -> np.ndarray:
    """Downslope compass direction (ESRI/GDAL convention: 0 = north,
    clockwise), quantized onto uint8: floor(deg * 254/360 + 0.5) in
    0..254 (0 and 360 are both north — documented collapse), flat
    cells (both gradients exactly 0) = sentinel 255.  No cross-engine
    angle-wrap hazard (the q79 lesson) because the golden twin is the
    SAME numpy code on the stitched raster."""
    dzdx, dzdy = _horn_gradients(pad)
    deg = np.degrees(np.arctan2(dzdy, -dzdx))
    cell = np.where(deg < 0.0, 90.0 - deg,
                    np.where(deg > 90.0, 450.0 - deg, 90.0 - deg))
    flat = (dzdx == 0.0) & (dzdy == 0.0)
    q = np.floor(cell * (254.0 / 360.0) + 0.5).astype(np.uint8)
    return np.where(flat, np.uint8(255), q).astype(np.uint8)


# D8 codes in ESRI order E, SE, S, SW, W, NW, N, NE (O'Callaghan &
# Mark 1984; the ArcGIS/TauDEM flow-direction convention).  Row index
# increases downward, matching _horn_gradients.
_D8_CODES = (1, 2, 4, 8, 16, 32, 64, 128)


def _d8(pad: np.ndarray) -> np.ndarray:
    """D8 steepest-descent flow direction: drop to each of the 8
    neighbors weighted by 1/distance (1 straight, 1/sqrt2 diagonal);
    the first maximum in ESRI code order wins (deterministic
    tie-break); cells with no positive drop (sinks/flats) = 0.
    Float64 weights are safe because the golden twin is the SAME
    numpy code on the stitched raster (the q112 slope precedent)."""
    p = pad.astype(np.float64)
    c = p[:, 1:-1, 1:-1]
    s2 = 1.0 / np.sqrt(2.0)
    drops = np.stack([
        c - p[:, 1:-1, 2:],          # E
        (c - p[:, 2:, 2:]) * s2,     # SE
        c - p[:, 2:, 1:-1],          # S
        (c - p[:, 2:, :-2]) * s2,    # SW
        c - p[:, 1:-1, :-2],         # W
        (c - p[:, :-2, :-2]) * s2,   # NW
        c - p[:, :-2, 1:-1],         # N
        (c - p[:, :-2, 2:]) * s2,    # NE
    ], axis=0)
    best = drops.max(axis=0)
    codes = np.array(_D8_CODES, dtype=np.uint8)[drops.argmax(axis=0)]
    return np.where(best > 0.0, codes, np.uint8(0)).astype(np.uint8)


def _tri(pad: np.ndarray) -> np.ndarray:
    """Terrain ruggedness index (Wilson 2007 mean-|diff| form): the
    truncating-integer mean of |center - neighbor| over the 8
    neighbors — all int64, bit-stable by construction; zero padding
    participates at the raster border (the documented min/median
    convention)."""
    p = pad.astype(np.int64)
    c = p[:, 1:-1, 1:-1]
    s = np.zeros_like(c)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if (dy, dx) == (0, 0):
                continue
            H, W = c.shape[1], c.shape[2]
            s += np.abs(p[:, 1 + dy:1 + dy + H, 1 + dx:1 + dx + W] - c)
    return np.minimum(s // 8, 255).astype(np.uint8)


def _apply_kernel(pad: np.ndarray, op: str, r: int) -> np.ndarray:
    if op == "grad":
        return _sobel(pad)
    if op == "tri":
        return _tri(pad)
    if op == "d8":
        return _d8(pad)
    if op == "slope":
        return _slope(pad)
    if op == "hillshade":
        return _hillshade(pad)
    if op == "aspect":
        return _aspect(pad)
    win = np.lib.stride_tricks.sliding_window_view(
        pad, (2 * r + 1, 2 * r + 1), axis=(1, 2))
    if op == "max":
        return win.max(axis=(3, 4))
    if op == "min":
        return win.min(axis=(3, 4))
    if op == "median":
        # exact integer median: (2r+1)^2 is odd, so the middle element
        # of the sorted window IS the median — no float averaging, so
        # the op is bit-stable by construction (salt-and-pepper
        # denoise; zero padding participates at the raster border,
        # same documented convention as `min`)
        den = (2 * r + 1) ** 2
        flat = win.reshape(*win.shape[:3], den)
        return np.sort(flat, axis=-1)[..., den // 2].astype(np.uint8)
    # mean: integer half-away-up on the full zero-padded denominator
    den = (2 * r + 1) ** 2
    s = win.sum(axis=(3, 4), dtype=np.int64)
    return ((2 * s + den) // (2 * den)).astype(np.uint8)


def focal_chunks(chunks: DataFrame, grid: OutputGrid, op: str = "mean",
                 radius: int = 1, chunk_col: str = "chunk") -> DataFrame:
    """Apply a focal op to every committed chunk ->
    (time_idx, row_idx, col_idx, chunk, n_parts).

    One mapInPandas pass emits each chunk once to its own key plus
    r-wide edge strips to the <=8 existing neighbor keys; ONE groupBy
    assembles the (chh+2r, chw+2r) padded canvas and runs the
    vectorized kernel.

    Output rows exist only for chunks present in the input (a strip
    arriving at a hole in a sparse mosaic is dropped, matching the
    sparse-overview convention).
    """
    if op not in FOCAL_OPS:
        raise ValueError(f"op must be one of {FOCAL_OPS}, got {op!r}")
    if op in FIXED_3X3_OPS and radius != 1:
        raise ValueError(f"{op} is a fixed 3x3 kernel; radius must be 1")
    if radius < 1 or radius > min(grid.chunk_h, grid.chunk_w):
        raise ValueError("radius must be in [1, chunk size]")
    src = chunks.select(*_KEYS, F.col(chunk_col).alias("chunk"))
    return _halo_pass(src, grid, grid.num_bands, radius,
                      lambda pad: _apply_kernel(pad, op, radius))


def _halo_parts(src: DataFrame, grid: OutputGrid, nb: int,
                r: int) -> DataFrame:
    """The halo emit: each (time_idx, row_idx, col_idx, chunk) row of
    `nb` (chh, chw) uint8 bands goes once to its own key (sy = sx = 0)
    and as r-wide edge strips to its <=8 in-grid neighbor keys; (sy,
    sx) is the sender's offset as the receiver sees it."""
    import pandas as pd

    chh, chw = grid.chunk_h, grid.chunk_w
    n_rows, n_cols = grid.chunk_rows, grid.chunk_cols

    def _emit(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for t in pdf.itertuples(index=False):
                ti, ri, ci = int(t.time_idx), int(t.row_idx), int(t.col_idx)
                arr = np.frombuffer(t.chunk, np.uint8).reshape(nb, chh, chw)
                rows.append((ti, ri, ci, 0, 0, t.chunk))
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        if dy == 0 and dx == 0:
                            continue
                        nr, nc = ri + dy, ci + dx
                        if not (0 <= nr < n_rows and 0 <= nc < n_cols):
                            continue
                        ys = (slice(chh - r, chh) if dy == 1 else
                              slice(0, r) if dy == -1 else slice(0, chh))
                        xs = (slice(chw - r, chw) if dx == 1 else
                              slice(0, r) if dx == -1 else slice(0, chw))
                        strip = np.ascontiguousarray(arr[:, ys, xs])
                        rows.append((ti, nr, nc, -dy, -dx, strip.tobytes()))
            yield pd.DataFrame(rows, columns=[*_KEYS, "sy", "sx", "part"])
    return src.mapInPandas(_emit, schema="time_idx int, row_idx int, "
                           "col_idx int, sy int, sx int, part binary")


def _halo_canvas(pdf, grid: OutputGrid, nb: int, r: int):
    """One key's group of _halo_parts rows -> the zero-padded
    (nb, chh+2r, chw+2r) canvas, or None at a hole (no center part:
    the key has no chunk of its own)."""
    if not ((pdf["sy"] == 0) & (pdf["sx"] == 0)).any():
        return None
    chh, chw = grid.chunk_h, grid.chunk_w
    pad = np.zeros((nb, chh + 2 * r, chw + 2 * r), np.uint8)
    for sy, sx, part in zip(pdf["sy"], pdf["sx"], pdf["part"]):
        ph = r if sy != 0 else chh
        pw = r if sx != 0 else chw
        py = 0 if sy == -1 else r if sy == 0 else r + chh
        px = 0 if sx == -1 else r if sx == 0 else r + chw
        pad[:, py:py + ph, px:px + pw] = np.frombuffer(
            part, np.uint8).reshape(nb, ph, pw)
    return pad


def _halo_pass(src: DataFrame, grid: OutputGrid, nb: int, r: int,
               kernel) -> DataFrame:
    """One halo exchange: _halo_parts, a groupBy per key, then
    `kernel(pad) -> (nb_out, chh, chw) uint8` on each _halo_canvas ->
    _OUT_SCHEMA rows (n_parts = parts received).  nb is the INPUT band
    count, which the iterated stencils' packed states widen."""
    import pandas as pd

    def _assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pad = _halo_canvas(pdf, grid, nb, r)
        if pad is None:
            return pd.DataFrame(columns=[*_KEYS, "chunk", "n_parts"])
        out = np.ascontiguousarray(kernel(pad))
        return pd.DataFrame([(*(int(pdf[k].iloc[0]) for k in _KEYS),
                              out.tobytes(), len(pdf))],
                            columns=[*_KEYS, "chunk", "n_parts"])

    return _halo_parts(src, grid, nb, r).groupBy(*_KEYS).applyInPandas(
        _assemble, schema=_OUT_SCHEMA)


def _map_pixels(df: DataFrame, grid: OutputGrid, nb: int, fn,
                chunk_col: str = "chunk") -> DataFrame:
    """The one per-chunk pixel rewrite: a narrow mapInPandas that
    replaces every row's `chunk_col` bytes with
    `fn(pixels (nb, chh, chw) uint8, row_idx, col_idx) -> uint8 array`
    and keeps the input schema (every other column passes through)."""
    chh, chw = grid.chunk_h, grid.chunk_w

    def _apply(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf[chunk_col] = [
                np.ascontiguousarray(fn(np.frombuffer(buf, np.uint8)
                                        .reshape(nb, chh, chw),
                                        int(ri), int(ci))).tobytes()
                for buf, ri, ci in zip(pdf[chunk_col], pdf["row_idx"],
                                       pdf["col_idx"])]
            yield pdf

    return df.mapInPandas(_apply, schema=", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields))


def _iterate(state: DataFrame, grid: OutputGrid, nb: int, kernel,
             iters: int) -> DataFrame:
    """`iters` chained radius-1 halo passes of an nb-band state: the
    loop behind flow accumulation, the distance transform and basins.
    The chain is linear (each round consumed once), so the whole loop
    is one lazy plan with no checkpoint."""
    for _ in range(iters):
        state = _halo_pass(state, grid, nb, 1, kernel)
    return state


def focal_oracle_np(canvas: np.ndarray, op: str, radius: int) -> np.ndarray:
    """NumPy golden twin on the FULL stitched raster (nb, H, W) — the
    single-array ground truth the distributed halo result must match
    bit-for-bit after re-chunking."""
    nb, H, W = canvas.shape
    r = radius
    pad = np.zeros((nb, H + 2 * r, W + 2 * r), np.uint8)
    pad[:, r:r + H, r:r + W] = canvas
    return _apply_kernel(pad, op, r)


# ------------------------------------------------------------------ #
# Flow accumulation — iterated halo stencil over the D8 raster        #
# ------------------------------------------------------------------ #

# (dy, dx, code): a neighbor at offset (dy, dx) from the center flows
# INTO the center iff its D8 code is `code` (the opposite direction).
_D8_INFLOW = ((0, 1, 16), (1, 1, 32), (1, 0, 64), (1, -1, 128),
              (0, -1, 1), (-1, -1, 2), (-1, 0, 4), (-1, 1, 8))

FLOWACC_ITERS = 8


def _flowacc_kernel(nb: int):
    """Kernel over the packed 2*nb-band state (bands [0:nb] = static
    D8 codes, [nb:2nb] = current accumulation): new A = 1 + sum of
    neighbor A where the neighbor's D8 points at the center, saturated
    at 255; D8 bands pass through unchanged."""
    def k(pad: np.ndarray) -> np.ndarray:
        d8 = pad[:nb]
        acc = pad[nb:].astype(np.int64)
        H, W = pad.shape[1] - 2, pad.shape[2] - 2
        inflow = np.zeros((nb, H, W), np.int64)
        for dy, dx, code in _D8_INFLOW:
            nd8 = d8[:, 1 + dy:1 + dy + H, 1 + dx:1 + dx + W]
            nacc = acc[:, 1 + dy:1 + dy + H, 1 + dx:1 + dx + W]
            inflow += nacc * (nd8 == code)
        new_a = np.minimum(1 + inflow, 255).astype(np.uint8)
        return np.concatenate(
            [np.ascontiguousarray(d8[:, 1:-1, 1:-1]), new_a], axis=0)
    return k


def flow_accumulation(chunks: DataFrame, grid: OutputGrid,
                      iters: int = FLOWACC_ITERS,
                      chunk_col: str = "chunk") -> DataFrame:
    """T-hop D8 flow accumulation (O'Callaghan & Mark 1984) ->
    (time_idx, row_idx, col_idx, chunk, n_parts): per-band count of
    upstream cells within `iters` hops INCLUDING self, saturated at
    255 (uint8 chunks — document deeper basins by widening the chunk
    dtype).  The fixed hop count makes the law deterministic and the
    golden twin unrollable; information travels exactly one pixel per
    round, so `iters` >= the longest flow path gives the classic
    (saturated) accumulation grid.

    Scale shape (100 TB): ONE d8 focal pass, then `iters` chained
    radius-1 halo exchanges — each round ships O(perimeter) edge
    strips of the 2*nb-band state, never full-chunk 9x replication;
    the chain is linear (each round consumed exactly once) so no
    checkpoint is needed and the whole loop is one lazy plan."""
    nb = grid.num_bands
    d8 = focal_chunks(chunks, grid, op="d8", radius=1,
                      chunk_col=chunk_col)
    state = _map_pixels(
        d8, grid, nb, lambda d, ri, ci: np.concatenate([d, np.ones_like(d)]))
    state = _iterate(state, grid, 2 * nb, _flowacc_kernel(nb), iters)
    return _map_pixels(state, grid, 2 * nb, lambda s, ri, ci: s[nb:])


def flowacc_oracle_np(canvas: np.ndarray,
                      iters: int = FLOWACC_ITERS) -> np.ndarray:
    """NumPy golden twin on the full stitched raster: the SAME packed
    kernel iterated with zero padding."""
    nb, H, W = canvas.shape
    d8 = focal_oracle_np(canvas, "d8", 1)
    state = np.concatenate([d8, np.ones_like(d8)], axis=0)
    kernel = _flowacc_kernel(nb)
    for _ in range(iters):
        pad = np.zeros((2 * nb, H + 2, W + 2), np.uint8)
        pad[:, 1:-1, 1:-1] = state
        state = kernel(pad)
    return state[nb:]


# ------------------------------------------------------------------ #
# Chamfer distance transform — iterated min-plus halo stencil         #
# ------------------------------------------------------------------ #

CHAMFER_STRAIGHT = 3
CHAMFER_DIAG = 4
DISTTRANS_ITERS = 8
DISTTRANS_THRESHOLD = 128

_CHAMFER_OFFS = ((0, 1, CHAMFER_STRAIGHT), (0, -1, CHAMFER_STRAIGHT),
                 (1, 0, CHAMFER_STRAIGHT), (-1, 0, CHAMFER_STRAIGHT),
                 (1, 1, CHAMFER_DIAG), (1, -1, CHAMFER_DIAG),
                 (-1, 1, CHAMFER_DIAG), (-1, -1, CHAMFER_DIAG))


def _chamfer_kernel(pad: np.ndarray) -> np.ndarray:
    """One min-plus round over the PROXIMITY encoding s = 255 - d:
    s_new = max(s, neighbor_s - w) clipped at 0.  The flip makes the
    halo's zero padding exactly the identity element (a missing
    neighbor contributes s=0 == d=255 == 'no feature seen'), the same
    trick that lets flow accumulation zero-pad its acc band."""
    s = pad.astype(np.int16)
    H, W = pad.shape[1] - 2, pad.shape[2] - 2
    best = s[:, 1:-1, 1:-1].copy()
    for dy, dx, w in _CHAMFER_OFFS:
        np.maximum(best, s[:, 1 + dy:1 + dy + H, 1 + dx:1 + dx + W] - w,
                   out=best)
    return np.clip(best, 0, 255).astype(np.uint8)


def distance_transform(chunks: DataFrame, grid: OutputGrid,
                       iters: int = DISTTRANS_ITERS,
                       threshold: int = DISTTRANS_THRESHOLD,
                       chunk_col: str = "chunk") -> DataFrame:
    """Chamfer 3-4 distance transform (Borgefors 1986) ->
    (time_idx, row_idx, col_idx, chunk, n_parts): per-band distance
    from every pixel to the nearest FEATURE pixel (value >= threshold)
    in the chamfer metric (3 per straight step, 4 per diagonal ~
    3*sqrt2), saturated at 255; feature pixels read 0.  All-integer,
    bit-stable.

    Determinism law: exactly `iters` min-plus rounds; each round
    extends the correct-distance front by one pixel ring, so pixels
    farther than `iters` hops from any feature stay at 255 (saturated)
    — iters >= ceil(255/3) = 85 gives the full saturated transform.

    Scale shape (100 TB): the classic two-scan raster algorithm is
    inherently sequential across the whole raster; the distributed
    form is this iterated radius-1 halo stencil — each round ships
    only O(perimeter) edge strips of the proximity state (the q148
    flow-accumulation machinery, one lazy linear plan, no
    checkpoints).  Internally the state is s = 255 - d so the halo's
    zero padding is the min-plus identity (see _chamfer_kernel)."""
    nb = grid.num_bands
    src = chunks.select(*_KEYS, F.col(chunk_col).alias("chunk"),
                        F.lit(1).alias("n_parts"))
    state = _map_pixels(src, grid, nb, lambda a, ri, ci: np.where(
        a >= threshold, np.uint8(255), np.uint8(0)))
    state = _iterate(state, grid, nb, _chamfer_kernel, iters)
    return _map_pixels(state, grid, nb, lambda s, ri, ci: np.uint8(255) - s)


def disttrans_oracle_np(canvas: np.ndarray,
                        iters: int = DISTTRANS_ITERS,
                        threshold: int = DISTTRANS_THRESHOLD) -> np.ndarray:
    """NumPy golden twin on the full stitched raster: the SAME
    proximity kernel iterated with zero padding, flipped back to
    distance at the end."""
    nb, H, W = canvas.shape
    s = np.where(canvas >= threshold, np.uint8(255), np.uint8(0))
    for _ in range(iters):
        pad = np.zeros((nb, H + 2, W + 2), np.uint8)
        pad[:, 1:-1, 1:-1] = s
        s = _chamfer_kernel(pad)
    return np.uint8(255) - s


def global_histogram(chunks: DataFrame, grid: OutputGrid,
                     chunk_col: str = "chunk") -> DataFrame:
    """Corpus-wide per-band pixel histogram -> (band, bin, cnt).

    Scale shape: one mapInPandas pass emits 256-bin PARTIAL histograms
    per Arrow batch (np.bincount, never per-pixel rows), then a
    bands*256-row groupBy — the classic two-phase global statistic.
    The result is driver-safe by construction (nb*256 rows)."""
    import pandas as pd

    nb = grid.num_bands
    chh, chw = grid.chunk_h, grid.chunk_w

    def _partial(it):
        for pdf in it:
            acc = np.zeros((nb, 256), np.int64)
            for buf in pdf[chunk_col]:
                arr = np.frombuffer(buf, np.uint8).reshape(nb, chh, chw)
                for b in range(nb):
                    acc[b] += np.bincount(arr[b].ravel(), minlength=256)
            rows = [{"band": b, "bin": i, "cnt": int(acc[b, i])}
                    for b in range(nb) for i in range(256)
                    if acc[b, i]]
            yield pd.DataFrame(rows, columns=["band", "bin", "cnt"])

    return (chunks.mapInPandas(_partial,
                               schema="band int, bin int, cnt long")
            .groupBy("band", "bin")
            .agg(F.sum("cnt").cast("long").alias("cnt")))


def _hist_array(hist_rows, num_bands: int) -> np.ndarray:
    """global_histogram() rows -> the (num_bands, 256) int64 array."""
    h = np.zeros((num_bands, 256), np.int64)
    for r in hist_rows:
        h[int(r["band"]), int(r["bin"])] = int(r["cnt"])
    return h


def _apply_luts(chunks: DataFrame, grid: OutputGrid, luts: np.ndarray,
                chunk_col: str) -> DataFrame:
    """Map every pixel of band b through luts[b] (uint8 (nb, 256)); the
    LUT rides the closure, so the pass is narrow."""
    bands = np.arange(grid.num_bands)[:, None, None]
    return _map_pixels(chunks, grid, grid.num_bands,
                       lambda a, ri, ci: luts[bands, a], chunk_col)


def stretch_luts(hist_rows, num_bands: int, p_low: float = 2.0,
                 p_high: float = 98.0) -> tuple[np.ndarray, list]:
    """Build per-band contrast-stretch LUTs from collected histogram
    rows.  Percentiles are over NON-ZERO pixels only (0 = the
    mosaic's NODATA, which must stay 0); cut = lowest bin whose
    cumulative count reaches ceil(p% of nonzero), with p taken in
    whole basis points (round(p * 100)).  The LUT maps [lo, hi]
    linearly onto [1, 255] with half-up integer rounding — all-integer,
    bit-stable.  Requires 0 <= p_low < p_high <= 100.  Returns (luts
    uint8 [nb,256], [(lo, hi), ...])."""
    if not 0 <= p_low < p_high <= 100:
        raise ValueError("percentiles must satisfy 0 <= p_low < p_high "
                         f"<= 100, got p_low={p_low}, p_high={p_high}")
    hist = _hist_array(hist_rows, num_bands)
    luts = np.zeros((num_bands, 256), np.uint8)
    cuts = []
    vals = np.arange(256, dtype=np.int64)
    for b in range(num_bands):
        nz = hist[b, 1:]
        total = int(nz.sum())
        if total == 0:
            luts[b] = vals.astype(np.uint8)
            cuts.append((1, 255))
            continue
        cum = np.cumsum(nz)
        need_lo = -(-total * round(p_low * 100) // 10000)   # ceil, integer
        need_hi = -(-total * round(p_high * 100) // 10000)
        lo = int(np.searchsorted(cum, max(need_lo, 1)) + 1)
        hi = int(np.searchsorted(cum, max(need_hi, 1)) + 1)
        den = max(hi - lo, 1)
        out = 1 + (np.clip(vals - lo, 0, None) * 254 * 2 + den) // (2 * den)
        luts[b] = np.clip(out, 1, 255).astype(np.uint8)
        luts[b, 0] = 0                       # NODATA stays NODATA
        cuts.append((lo, hi))
    return luts, cuts


def histogram_stretch(chunks: DataFrame, grid: OutputGrid,
                      p_low: float = 2.0, p_high: float = 98.0,
                      chunk_col: str = "chunk") -> DataFrame:
    """Global percentile contrast stretch -> the input chunk table
    with stretched pixels (+ per-band lo/hi cut columns): the
    training-data normalization pass (fixed dynamic range across the
    whole corpus, not per image).

    Scale shape: pass 1 = global_histogram (partial bincounts ->
    bands*256-row agg -> bounded driver collect); pass 2 = the LUT
    (nb*256 bytes) rides the mapInPandas closure back over the scan —
    ZERO additional shuffle, no join. The two-pass global-statistic +
    broadcast-apply pattern at its smallest."""
    rows = global_histogram(chunks, grid, chunk_col=chunk_col).collect()
    luts, cuts = stretch_luts(rows, grid.num_bands, p_low=p_low,
                              p_high=p_high)
    return (_apply_luts(chunks, grid, luts, chunk_col)
            .withColumn("stretch_lo",
                        F.lit(",".join(str(lo) for lo, _ in cuts)))
            .withColumn("stretch_hi",
                        F.lit(",".join(str(hi) for _, hi in cuts))))


def expand_neighbor_keys(keys: DataFrame, grid: OutputGrid,
                         ring: int = 1) -> DataFrame:
    """Distinct chunk keys within Chebyshev distance <= ring of the
    input keys, clipped to the grid -> (time_idx, row_idx, col_idx).
    The (2*ring+1)^2 offsets table is crossJoin-broadcast (tiny), so
    the expansion is one narrow map + a distinct on the expanded keys
    — the affected-set computation for incremental focal maintenance."""
    spark = keys.sparkSession
    offs = spark.createDataFrame(
        [(dy, dx) for dy in range(-ring, ring + 1)
         for dx in range(-ring, ring + 1)], "dy int, dx int")
    return (keys.select("time_idx", "row_idx", "col_idx").distinct()
            .crossJoin(F.broadcast(offs))
            .select("time_idx",
                    (F.col("row_idx") + F.col("dy")).alias("row_idx"),
                    (F.col("col_idx") + F.col("dx")).alias("col_idx"))
            .where((F.col("row_idx") >= 0)
                   & (F.col("row_idx") < grid.chunk_rows)
                   & (F.col("col_idx") >= 0)
                   & (F.col("col_idx") < grid.chunk_cols))
            .distinct())


# ------------------------------------------------------------------ #
# Contour extraction — marching squares with exact sub-pixel interp   #
# ------------------------------------------------------------------ #

CONTOUR_LEVEL = 128
CONTOUR_SUBPIX = 256     # endpoint coords in 1/256-pixel integer units

# case -> list of (edge_from, edge_to) segments; edges 0=top 1=right
# 2=bottom 3=left of the 2x2 cell; corners tl=1 tr=2 br=4 bl=8.
# Saddles (5, 10) use the FIXED standard resolution (no center
# sampling) — deterministic, documented.
_MS_CASES = {
    1: [(3, 0)], 2: [(0, 1)], 3: [(3, 1)], 4: [(1, 2)],
    5: [(3, 0), (1, 2)], 6: [(0, 2)], 7: [(3, 2)], 8: [(2, 3)],
    9: [(2, 0)], 10: [(0, 1), (2, 3)], 11: [(2, 1)], 12: [(1, 3)],
    13: [(1, 0)], 14: [(0, 3)],
}

_SEG_SCHEMA = ("time_idx int, x1q long, y1q long, x2q long, y2q long")


def _ms_segments_np(pad: np.ndarray, level: int, gx0: int, gy0: int,
                    n_y: int, n_x: int) -> list:
    """Marching-squares segments for cells whose top-left corner is
    pad[1 + y, 1 + x], y in [0, n_y), x in [0, n_x); endpoint coords
    are GLOBAL integer sub-pixel units (pixel * 256 + t) with the
    exact-integer edge interpolation t = ((level - a) * 256) div
    (b - a).  Returns [(x1q, y1q, x2q, y2q), ...]."""
    S = CONTOUR_SUBPIX
    v = pad.astype(np.int64)
    tl = v[1:1 + n_y, 1:1 + n_x]
    tr = v[1:1 + n_y, 2:2 + n_x]
    bl = v[2:2 + n_y, 1:1 + n_x]
    br = v[2:2 + n_y, 2:2 + n_x]
    case = ((tl >= level) * 1 + (tr >= level) * 2
            + (br >= level) * 4 + (bl >= level) * 8)

    def interp(a, b):
        d = b - a
        d = np.where(d == 0, 1, d)       # never hit when mask differs
        t = (level - a) * S // d
        return t

    segs = []
    ys, xs = np.nonzero((case > 0) & (case < 15))
    if len(ys) == 0:
        return segs
    c = case[ys, xs]
    a_tl, a_tr = tl[ys, xs], tr[ys, xs]
    a_bl, a_br = bl[ys, xs], br[ys, xs]
    gx = (gx0 + xs) * S
    gy = (gy0 + ys) * S

    def edge_pt(e):
        # -> (xq, yq) arrays for edge e of every selected cell
        if e == 0:        # top: between tl, tr
            return gx + interp(a_tl, a_tr), gy
        if e == 1:        # right: between tr, br
            return gx + S, gy + interp(a_tr, a_br)
        if e == 2:        # bottom: between bl, br
            return gx + interp(a_bl, a_br), gy + S
        return gx, gy + interp(a_tl, a_bl)   # left: tl, bl

    for case_val, edge_pairs in _MS_CASES.items():
        sel = c == case_val
        if not sel.any():
            continue
        for e_from, e_to in edge_pairs:
            x1, y1 = edge_pt(e_from)
            x2, y2 = edge_pt(e_to)
            segs.extend(zip(x1[sel].tolist(), y1[sel].tolist(),
                            x2[sel].tolist(), y2[sel].tolist()))
    return segs


def _check_band(band: int, grid: OutputGrid) -> None:
    """Refuse a band the grid does not have while the plan is built; it
    would otherwise fail in a worker, as an IndexError at collect()."""
    if not 0 <= band < grid.num_bands:
        raise ValueError(f"band {band} is not in [0, {grid.num_bands}) "
                         f"(num_bands={grid.num_bands})")


def contour_segments(chunks: DataFrame, grid: OutputGrid,
                     level: int = CONTOUR_LEVEL, band: int = 0,
                     chunk_col: str = "chunk") -> DataFrame:
    """Marching-squares iso-contour of `band` at `level` ->
    (time_idx, x1q, y1q, x2q, y2q): one row per cell segment, endpoint
    coordinates in global 1/256-pixel integer units — raster to
    vector, the q105 rasterize inverse.  All-integer (exact edge
    interpolation in 1/256 sub-pixel steps), so distributed ==
    stitched-golden bit-for-bit; fixed saddle rule, zero padding
    beyond the raster closes contours along the edge (golden twin
    pads the same way).

    Scale shape: the q106 halo exchange at r=1 ships only edge strips
    so every 2x2 cell sees its right/bottom neighbors; per chunk the
    kernel is vectorized numpy over the case table; output is the
    segment set, grouped nowhere (downstream polygonization is a
    CC-style stitch, the q136 machinery).  The band is cut out on the
    JVM (a binary substring), so the exchange ships one band."""
    import pandas as pd

    _check_band(band, grid)
    nb, chh, chw = grid.num_bands, grid.chunk_h, grid.chunk_w
    src = chunks.select(*_KEYS, F.substring(
        chunk_col, band * chh * chw + 1, chh * chw).alias("chunk"))
    cols = ["time_idx", "x1q", "y1q", "x2q", "y2q"]

    def _cells(pdf: pd.DataFrame) -> pd.DataFrame:
        pad = _halo_canvas(pdf, grid, 1, 1)
        if pad is None:
            return pd.DataFrame(columns=cols)
        ti, ri, ci = (int(pdf[k].iloc[0]) for k in _KEYS)
        segs = _ms_segments_np(pad[0], level, ci * chw, ri * chh, chh, chw)
        return pd.DataFrame([(ti, *sg) for sg in segs], columns=cols)

    return _halo_parts(src, grid, 1, 1).groupBy(*_KEYS).applyInPandas(
        _cells, schema=_SEG_SCHEMA)


def contour_oracle_np(canvas2d: np.ndarray,
                      level: int = CONTOUR_LEVEL) -> set:
    """Golden twin on the full stitched single-band raster: zero-pad
    one pixel on every side (cells beyond the edge see 0, matching
    the distributed border law) and run the SAME kernel."""
    H, W = canvas2d.shape
    pad = np.zeros((H + 2, W + 2), np.uint8)
    pad[1:1 + H, 1:1 + W] = canvas2d
    return set(_ms_segments_np(pad, level, 0, 0, H, W))


# ------------------------------------------------------------------ #
# Grayscale morphology — open/close as composed focal min/max         #
# ------------------------------------------------------------------ #

MORPH_OPS = ("open", "close")


def morphology(chunks: DataFrame, grid: OutputGrid, op: str,
               radius: int = 1, chunk_col: str = "chunk") -> DataFrame:
    """Grayscale morphological opening (erode->dilate: despeckle,
    removes bright specks smaller than the structuring element) or
    closing (dilate->erode: fills dark pinholes) with a square
    (2r+1)^2 element -> (time_idx, row_idx, col_idx, chunk, n_parts).

    Pure composition of two focal_chunks passes (min then max, or max
    then min) — each pass is the halo-exchange plan, so the whole op
    ships 2 rounds of r-wide edge strips, never full-chunk
    replication.  Sparse-mosaic law: absent chunks stay absent between
    passes and pad as zeros, i.e. the golden twin must zero the holes
    after each pass (morphology_oracle_np(mask=)).
    """
    if op not in MORPH_OPS:
        raise ValueError(f"op must be one of {MORPH_OPS}, got {op!r}")
    first, second = ("min", "max") if op == "open" else ("max", "min")
    mid = focal_chunks(chunks, grid, op=first, radius=radius,
                       chunk_col=chunk_col)
    return focal_chunks(mid, grid, op=second, radius=radius)


def morphology_oracle_np(canvas: np.ndarray, op: str, radius: int,
                         mask: np.ndarray | None = None) -> np.ndarray:
    """NumPy golden: focal min/max composition on the stitched raster;
    `mask` (H, W bool, True = chunk present) re-zeroes absent regions
    between and after passes, matching the distributed convention that
    a hole emits no row and pads as zeros."""
    first, second = ("min", "max") if op == "open" else ("max", "min")
    mid = focal_oracle_np(canvas, first, radius)
    if mask is not None:
        mid = mid * mask[None, :, :]
    out = focal_oracle_np(mid, second, radius)
    if mask is not None:
        out = out * mask[None, :, :]
    return out


# ------------------------------------------------------------------ #
# Histogram matching — map one time-slice's tone curve onto another   #
# ------------------------------------------------------------------ #

def match_luts(src_rows, ref_rows, num_bands: int) -> np.ndarray:
    """Exact-integer histogram-matching LUTs (nb, 256) from two
    global_histogram() row sets: lut[v] = min{ u : cdf_ref[u] *
    total_src >= cdf_src[v] * total_ref } — the classical monotone
    CDF-inverse map with the division cross-multiplied away, so the
    LUT is a pure integer function of the two histograms (no float,
    no ties)."""
    hs = _hist_array(src_rows, num_bands)
    hr = _hist_array(ref_rows, num_bands)
    luts = np.zeros((num_bands, 256), np.uint8)
    for b in range(num_bands):
        cs, cr = hs[b].cumsum(), hr[b].cumsum()
        ts, tr = int(cs[-1]), int(cr[-1])
        if ts == 0 or tr == 0:
            luts[b] = np.arange(256, dtype=np.uint8)  # identity
            continue
        # first u with cr[u] * ts >= cs[v] * tr, vectorized via
        # searchsorted on the monotone cr*ts sequence
        luts[b] = np.searchsorted(cr * ts, cs * tr,
                                  side="left").clip(0, 255).astype(np.uint8)
    return luts


def histogram_match(chunks_src: DataFrame, chunks_ref: DataFrame,
                    grid: OutputGrid,
                    chunk_col: str = "chunk") -> DataFrame:
    """Match the source mosaic's per-band tone curve to the reference
    mosaic's (radiometric normalization across acquisitions — the
    cross-time harmonization pass before change detection / temporal
    compositing) -> the source chunk table with remapped pixels.

    Scale shape (the q109 two-pass global-statistic pattern, twice):
    each side runs ONE partial-bincount pass collapsing to a bounded
    nb*256-row collect; the (nb, 256)-byte LUT rides the mapInPandas
    closure back over the source scan — zero joins, zero extra
    shuffles, and the source is scanned exactly twice (histogram +
    apply)."""
    src_rows = global_histogram(chunks_src, grid,
                                chunk_col=chunk_col).collect()
    ref_rows = global_histogram(chunks_ref, grid,
                                chunk_col=chunk_col).collect()
    luts = match_luts(src_rows, ref_rows, grid.num_bands)
    return _apply_luts(chunks_src, grid, luts, chunk_col)


# ------------------------------------------------------------------ #
# Otsu global threshold + mask — feeds the regions (CCL) pipeline     #
# ------------------------------------------------------------------ #

def otsu_thresholds(hist_rows, num_bands: int) -> list[int]:
    """Exact Otsu (1979) threshold per band from global_histogram()
    rows: argmax_t of the between-class variance sigma_b^2(t) =
    w0*w1*(mu0-mu1)^2, compared as the cross-multiplied integer
    fraction A_t^2 * (w0'*w1') vs A_t'^2 * (w0*w1) with A_t = s0*N -
    S*w0 — arbitrary-precision Python ints (A_t^2 reaches ~(255*N^2)^2,
    far past 2^63 at corpus scale), driver-side on the bounded 256-row
    histogram, so the result is exact and engine-independent.  Ties
    take the SMALLEST t.  Foreground = pixels > t."""
    h = _hist_array(hist_rows, num_bands)
    out = []
    for b in range(num_bands):
        hb = [int(v) for v in h[b]]
        N, S = sum(hb), sum(v * c for v, c in enumerate(hb))
        best_t, best_num, best_den = 0, -1, 1
        w0 = s0 = 0
        for t in range(255):
            w0 += hb[t]
            s0 += t * hb[t]
            w1 = N - w0
            if w0 == 0 or w1 == 0:
                continue
            a = s0 * N - S * w0
            num, den = a * a, w0 * w1
            if num * best_den > best_num * den:
                best_t, best_num, best_den = t, num, den
        out.append(best_t)
    return out


def otsu_mask(chunks: DataFrame, grid: OutputGrid,
              chunk_col: str = "chunk") -> tuple[DataFrame, list[int]]:
    """Corpus-global Otsu binarization -> (mask chunk table, per-band
    thresholds).  Masks are uint8 0/255 per band; the output table is
    the input keyed the same way, ready for --stage regions (connected
    component labeling of the foreground).

    Scale shape: the q109/q172 two-pass global-statistic pattern —
    one bounded nb*256 histogram pass, exact integer argmax on the
    driver, then the 2*nb-byte threshold vector rides the mapInPandas
    closure back over the scan."""
    rows = global_histogram(chunks, grid, chunk_col=chunk_col).collect()
    ths = otsu_thresholds(rows, grid.num_bands)
    return apply_thresholds(chunks, grid, ths, chunk_col=chunk_col), ths


# ------------------------------------------------------------------ #
# Watershed basins — iterated D8 label propagation                    #
# ------------------------------------------------------------------ #

BASIN_ITERS = 12

# target offset (dy, dx) per D8 code, same ESRI order as _D8_CODES
_D8_TARGET = ((0, 1, 1), (1, 1, 2), (1, 0, 4), (1, -1, 8),
              (0, -1, 16), (-1, -1, 32), (-1, 0, 64), (-1, 1, 128))


def _basin_kernel():
    """One label-pull round over the packed 5-band state
    [d8, lab>>24, lab>>16, lab>>8, lab&255]: every cell takes the
    label of its D8 target (sinks, d8 = 0, keep their own — the fixed
    point), so after T rounds a cell holds the id of the cell
    min(T, path length) steps downstream.  Labels of cells draining
    past the raster edge become 0 (the zero padding), the documented
    off-raster drain."""
    def k(pad: np.ndarray) -> np.ndarray:
        d8 = pad[0]
        l = pad[1:5].astype(np.uint32)
        lab = (l[0] << 24) | (l[1] << 16) | (l[2] << 8) | l[3]
        H, W = pad.shape[1] - 2, pad.shape[2] - 2
        cd8 = d8[1:-1, 1:-1]
        new = lab[1:-1, 1:-1].copy()
        for dy, dx, code in _D8_TARGET:
            m = cd8 == code
            new[m] = lab[1 + dy:1 + dy + H, 1 + dx:1 + dx + W][m]
        return np.stack([cd8,
                         (new >> 24) & 255, (new >> 16) & 255,
                         (new >> 8) & 255, new & 255]).astype(np.uint8)
    return k


def basin_labels(d8_chunks: DataFrame, grid: OutputGrid,
                 iters: int = BASIN_ITERS, band: int = 0,
                 chunk_col: str = "chunk") -> DataFrame:
    """T-hop watershed delineation over a committed D8 table ->
    (time_idx, row_idx, col_idx, chunk, n_parts) with chunk a 4-band
    big-endian uint32 label raster: each cell labeled by the global
    id (row*W + col + 1) of the cell `iters` D8 steps downstream —
    the basin (sink) id wherever the flow path is shorter than
    `iters`, 0 where flow exits the raster.  Completes the hydrology
    stack d8 (q146) -> accumulation (q148) -> basins.

    Scale shape: identical to flow_accumulation — `iters` chained
    radius-1 halo exchanges of the 5-band state (labels move one
    pixel per round, so only edge strips ship); the chain is linear,
    one lazy plan, no checkpoint.  32-bit labels cap the raster at
    2^32 cells; a 100 TB DEM widens the state to 8 label bands, same
    kernel."""
    _check_band(band, grid)
    chh, chw = grid.chunk_h, grid.chunk_w
    wtot = grid.chunk_cols * chw
    rr, cc = np.mgrid[0:chh, 0:chw]

    def _pack(d8, ri, ci):
        lab = (ri * chh + rr).astype(np.uint32) * wtot + (ci * chw + cc) + 1
        return np.stack([d8[band], (lab >> 24) & 255, (lab >> 16) & 255,
                         (lab >> 8) & 255, lab & 255]).astype(np.uint8)

    tcol = (F.col("time_idx") if "time_idx" in d8_chunks.columns
            else F.lit(0)).cast("int").alias("time_idx")
    src = d8_chunks.select(tcol, "row_idx", "col_idx",
                           F.col(chunk_col).alias("chunk"),
                           F.lit(1).alias("n_parts"))
    state = _map_pixels(src, grid, grid.num_bands, _pack)
    state = _iterate(state, grid, 5, _basin_kernel(), iters)
    return _map_pixels(state, grid, 5, lambda s, ri, ci: s[1:])


def basins_oracle_np(d8_plane: np.ndarray,
                     iters: int = BASIN_ITERS) -> np.ndarray:
    """NumPy golden twin on the stitched single-band D8 raster ->
    (4, H, W) big-endian label bands via the SAME kernel."""
    H, W = d8_plane.shape
    rr, cc = np.mgrid[0:H, 0:W]
    lab = (rr.astype(np.uint32) * W + cc + 1)
    state = np.stack([d8_plane,
                      (lab >> 24) & 255, (lab >> 16) & 255,
                      (lab >> 8) & 255, lab & 255]).astype(np.uint8)
    kernel = _basin_kernel()
    for _ in range(iters):
        pad = np.zeros((5, H + 2, W + 2), np.uint8)
        pad[:, 1:-1, 1:-1] = state
        state = kernel(pad)
    return state[1:]


# ------------------------------------------------------------------ #
# Mask agreement — per-chunk confusion matrix + IoU                   #
# ------------------------------------------------------------------ #

def mask_confusion(chunks_a: DataFrame, chunks_b: DataFrame,
                   grid: OutputGrid, band: int = 0,
                   threshold: int = 128,
                   chunk_col: str = "chunk") -> DataFrame:
    """Pixelwise agreement between two mask rasters keyed on
    (row_idx, col_idx) -> per chunk (row_idx, col_idx, tp, fp, fn,
    tn, iou_q): the validation layer for any pair of binarizations
    (year-over-year change audit, model-vs-reference masks, sieve
    before/after).  a is "prediction", b is "reference"; foreground =
    band pixel >= threshold; iou = tp / (tp + fp + fn), quantized
    half-up at 1e6, NULL where the union is empty.

    Scale shape: ONE equi-join on the chunk key (each binary moves
    through the shuffle once), then a single mapInPandas computing
    the four exact integer counts per chunk — output is key-sized;
    a global matrix is one further tiny agg."""
    import pandas as pd

    _check_band(band, grid)
    nb, chh, chw = grid.num_bands, grid.chunk_h, grid.chunk_w
    a = chunks_a.select(F.col("row_idx"), F.col("col_idx"),
                        F.col(chunk_col).alias("_ca"))
    b = chunks_b.select(F.col("row_idx"), F.col("col_idx"),
                        F.col(chunk_col).alias("_cb"))
    j = a.join(b, ["row_idx", "col_idx"])

    def _count(it):
        for pdf in it:
            rows = []
            # zip over columns: itertuples RENAMES underscore-prefixed
            # columns to positional names
            for ri, ci, ca, cb in zip(pdf["row_idx"], pdf["col_idx"],
                                      pdf["_ca"], pdf["_cb"]):
                ma = (np.frombuffer(ca, np.uint8)
                      .reshape(nb, chh, chw)[band] >= threshold)
                mb = (np.frombuffer(cb, np.uint8)
                      .reshape(nb, chh, chw)[band] >= threshold)
                tp = int((ma & mb).sum())
                fp = int((ma & ~mb).sum())
                fn = int((~ma & mb).sum())
                tn = int((~ma & ~mb).sum())
                rows.append((int(ri), int(ci), tp, fp, fn, tn))
            yield pd.DataFrame(rows, columns=[
                "row_idx", "col_idx", "tp", "fp", "fn", "tn"])

    out = j.mapInPandas(_count, schema="row_idx int, col_idx int, "
                        "tp long, fp long, fn long, tn long")
    return out.withColumn(
        "iou_q",
        F.expr("CASE WHEN tp + fp + fn = 0 THEN NULL ELSE"
               " floor(CAST(tp AS DOUBLE)"
               " / CAST(tp + fp + fn AS DOUBLE) * 1e6 + 0.5e0) / 1e6"
               " END"))


def chunk_histograms(chunks: DataFrame, grid: OutputGrid,
                     chunk_col: str = "chunk") -> DataFrame:
    """Per-chunk pixel histograms -> (time_idx, row_idx, col_idx,
    band, bin, cnt): the PERSISTABLE fragment form of
    global_histogram — additive, so the global histogram is one
    groupBy(band, bin) over this table, and incremental maintenance
    is a group-replace MERGE of the changed chunks' rows (the regions
    fragment-table recipe applied to global statistics: persist the
    decode product, re-aggregate fragment-sized)."""
    import pandas as pd

    nb = grid.num_bands
    chh, chw = grid.chunk_h, grid.chunk_w

    def _emit(it):
        for pdf in it:
            rows = []
            for ti, ri, ci, buf in zip(pdf["time_idx"], pdf["row_idx"],
                                       pdf["col_idx"], pdf[chunk_col]):
                arr = np.frombuffer(buf, np.uint8).reshape(nb, chh, chw)
                for b in range(nb):
                    bc = np.bincount(arr[b].ravel(), minlength=256)
                    for v in np.flatnonzero(bc):
                        rows.append((int(ti), int(ri), int(ci), b,
                                     int(v), int(bc[v])))
            yield pd.DataFrame(rows, columns=[
                "time_idx", "row_idx", "col_idx", "band", "bin", "cnt"])

    tcol = (F.col("time_idx") if "time_idx" in chunks.columns
            else F.lit(0)).cast("int").alias("time_idx")
    src = chunks.select(tcol, "row_idx", "col_idx", chunk_col)
    return src.mapInPandas(
        _emit, schema="time_idx int, row_idx int, col_idx int, "
                      "band int, bin int, cnt long")


def apply_thresholds(chunks: DataFrame, grid: OutputGrid,
                     thresholds, chunk_col: str = "chunk") -> DataFrame:
    """Binarize with a FIXED per-band threshold vector (foreground =
    pixel > t, mask uint8 0/255) — the apply half of otsu_mask,
    reusable when the thresholds come from a maintained histogram
    table instead of a fresh corpus pass."""
    th = np.array(list(thresholds), np.uint8).reshape(grid.num_bands, 1, 1)
    return _map_pixels(chunks, grid, grid.num_bands,
                       lambda a, ri, ci: (a > th).astype(np.uint8) * 255,
                       chunk_col)


# ------------------------------------------------------------------ #
# Texture statistics — matrix-free GLCM contrast / homogeneity        #
# ------------------------------------------------------------------ #

def texture_stats(chunks: DataFrame, grid: OutputGrid,
                  chunk_col: str = "chunk") -> DataFrame:
    """Haralick-style texture over the horizontal offset-(0,1) pixel
    pairs -> per (time_idx, band): (n_pairs, contrast_sum, homog_u,
    contrast_q): GLCM contrast = E[(a-b)^2] and homogeneity =
    E[1/(1+(a-b)^2)] computed MATRIX-FREE — both are pair-separable,
    so per-pair integer terms stream into two sums and the 256x256
    co-occurrence matrix never materializes (the identity: sum_ij
    P(i,j) f(i-j) = (1/N) sum_pairs f(a-b)).

    Law: pairs are horizontally adjacent pixels WITHIN a chunk
    (boundary-pair exclusion, standard for translation-averaged
    texture); homogeneity terms are floor(1e6 / (1 + (a-b)^2)) —
    exact integer division per pair; contrast_q = contrast_sum /
    n_pairs quantized half-up at 1e6.

    Scale shape: one mapInPandas pass emitting per-batch partial sums
    (np.diff vectorized), then a bands-sized groupBy — the
    global_histogram two-phase shape."""
    import pandas as pd

    nb, chh, chw = grid.num_bands, grid.chunk_h, grid.chunk_w

    def _partial(it):
        for pdf in it:
            acc = {}
            for ti, buf in zip(pdf["time_idx"], pdf[chunk_col]):
                arr = np.frombuffer(buf, np.uint8).reshape(
                    nb, chh, chw).astype(np.int64)
                d = np.diff(arr, axis=2)
                d2 = d * d
                for b in range(nb):
                    key = (int(ti), b)
                    c, h, n = acc.get(key, (0, 0, 0))
                    acc[key] = (c + int(d2[b].sum()),
                                h + int((1_000_000
                                         // (1 + d2[b])).sum()),
                                n + d2[b].size)
            rows = [(t, b, n, c, h) for (t, b), (c, h, n) in acc.items()]
            yield pd.DataFrame(rows, columns=[
                "time_idx", "band", "n_pairs", "contrast_sum",
                "homog_u"])

    tcol = (F.col("time_idx") if "time_idx" in chunks.columns
            else F.lit(0)).cast("int").alias("time_idx")
    src = chunks.select(tcol, chunk_col)
    out = src.mapInPandas(
        _partial, schema="time_idx int, band int, n_pairs long, "
                         "contrast_sum long, homog_u long")
    return (out.groupBy("time_idx", "band")
            .agg(F.sum("n_pairs").cast("long").alias("n_pairs"),
                 F.sum("contrast_sum").cast("long")
                 .alias("contrast_sum"),
                 F.sum("homog_u").cast("long").alias("homog_u"))
            .withColumn("contrast_q",
                        F.expr("floor(CAST(contrast_sum AS DOUBLE)"
                               " / CAST(n_pairs AS DOUBLE) * 1e6"
                               " + 0.5e0) / 1e6")))


# ------------------------------------------------------------------ #
# Per-chunk cross-raster Pearson correlation                          #
# ------------------------------------------------------------------ #

def raster_correlation(chunks_a: DataFrame, chunks_b: DataFrame,
                       grid: OutputGrid, band: int = 0,
                       chunk_col: str = "chunk") -> DataFrame:
    """Pixelwise Pearson correlation between two rasters keyed on
    (row_idx, col_idx) -> per chunk (row_idx, col_idx, n_px, corr_q):
    the continuous-valued sibling of q185's mask IoU — "where did the
    scene change structurally vs just radiometrically" (high IoU
    shift + high correlation = pure tone change; low correlation =
    structural change).

    Integer law: with exact BIGINT sums Sa, Sb, Saa, Sbb, Sab over
    n = chh*chw uint8 pixels, r = (n*Sab - Sa*Sb) / (sqrt(n*Saa -
    Sa^2) * sqrt(n*Sbb - Sb^2)) — every operand BIGINT (n*Sab <=
    65536 * 65536*65025 < 2^63 at 256x256 chunks), two
    correctly-rounded sqrts, quantized half-up at 1e6; NULL where
    either side is constant.

    Scale shape: ONE key equi-join (binaries move once), one
    mapInPandas emitting the 5 integer sums, arithmetic JVM-side."""
    import pandas as pd

    _check_band(band, grid)
    nb, chh, chw = grid.num_bands, grid.chunk_h, grid.chunk_w
    a = chunks_a.select(F.col("row_idx"), F.col("col_idx"),
                        F.col(chunk_col).alias("_ca"))
    b = chunks_b.select(F.col("row_idx"), F.col("col_idx"),
                        F.col(chunk_col).alias("_cb"))
    j = a.join(b, ["row_idx", "col_idx"])

    def _sums(it):
        for pdf in it:
            rows = []
            for ri, ci, ca, cb in zip(pdf["row_idx"], pdf["col_idx"],
                                      pdf["_ca"], pdf["_cb"]):
                pa = np.frombuffer(ca, np.uint8).reshape(
                    nb, chh, chw)[band].astype(np.int64)
                pb = np.frombuffer(cb, np.uint8).reshape(
                    nb, chh, chw)[band].astype(np.int64)
                rows.append((int(ri), int(ci), pa.size,
                             int(pa.sum()), int(pb.sum()),
                             int((pa * pa).sum()), int((pb * pb).sum()),
                             int((pa * pb).sum())))
            yield pd.DataFrame(rows, columns=[
                "row_idx", "col_idx", "n_px", "sa", "sb", "saa",
                "sbb", "sab"])

    out = j.mapInPandas(_sums, schema="row_idx int, col_idx int, "
                        "n_px long, sa long, sb long, saa long, "
                        "sbb long, sab long")
    return (out
            .withColumn("_va", F.expr("n_px * saa - sa * sa"))
            .withColumn("_vb", F.expr("n_px * sbb - sb * sb"))
            .select("row_idx", "col_idx", "n_px",
                    F.expr("CASE WHEN _va <= 0 OR _vb <= 0 THEN NULL"
                           " ELSE floor(CAST(n_px * sab - sa * sb AS"
                           " DOUBLE) / (sqrt(CAST(_va AS DOUBLE))"
                           " * sqrt(CAST(_vb AS DOUBLE))) * 1e6"
                           " + 0.5e0) / 1e6 END").alias("corr_q")))


# ------------------------------------------------------------------ #
# Gradient orientation histogram — the HOG building block             #
# ------------------------------------------------------------------ #

def orientation_histogram(chunks: DataFrame, grid: OutputGrid,
                          band: int = 0,
                          chunk_col: str = "chunk") -> DataFrame:
    """Per-chunk 8-octant histogram of Sobel gradient orientations ->
    (time_idx, row_idx, col_idx, n_edges, b0..b7, dominant): the HOG /
    edge-direction descriptor at chunk granularity (texture
    orientation, road/field-boundary alignment, pre-clustering
    signatures for scene retrieval).

    All-integer law: Sobel gx, gy over the zero-padded chunk (the
    same 3x3 as op='grad', int32); pixels with gx = gy = 0 are flat
    and excluded; the octant is decided PURELY by integer sign and
    |gx| vs |gy| comparisons (half-open: the |gx| = |gy| diagonal
    belongs to the steeper-y octant, zero components resolve by
    sign), never by atan2 — no float anywhere, so cross-host
    bit-stability by construction.  dominant = smallest octant index
    among the maxima.  Intra-chunk padding only (per-chunk
    descriptor, no halo — boundary convention documented)."""
    import pandas as pd

    _check_band(band, grid)
    nb, chh, chw = grid.num_bands, grid.chunk_h, grid.chunk_w

    def _octant(gx, gy):
        # octant k covers angle in [k*45, (k+1)*45) degrees (y-up);
        # every (gx, gy) != (0, 0) matches exactly one rule (the
        # k*45 boundaries resolve to octant k by construction)
        ax, ay = np.abs(gx), np.abs(gy)
        o = np.zeros(gx.shape, np.int8)
        o = np.where((gx > 0) & (gy >= 0) & (ay < ax), 0, o)
        o = np.where((gx > 0) & (gy > 0) & (ay >= ax), 1, o)
        o = np.where((gx <= 0) & (gy > 0) & (ay > ax), 2, o)
        o = np.where((gx < 0) & (gy > 0) & (ay <= ax), 3, o)
        o = np.where((gx < 0) & (gy <= 0) & (ay < ax), 4, o)
        o = np.where((gx < 0) & (gy < 0) & (ay >= ax), 5, o)
        o = np.where((gx >= 0) & (gy < 0) & (ay > ax), 6, o)
        o = np.where((gx > 0) & (gy < 0) & (ay <= ax), 7, o)
        return o

    def _emit(it):
        for pdf in it:
            rows = []
            for ti, ri, ci, buf in zip(pdf["time_idx"], pdf["row_idx"],
                                       pdf["col_idx"], pdf[chunk_col]):
                arr = np.frombuffer(buf, np.uint8).reshape(
                    nb, chh, chw)[band]
                pad = np.zeros((1, chh + 2, chw + 2), np.uint8)
                pad[0, 1:-1, 1:-1] = arr
                gx, gy = _sobel_xy(pad)
                # y-up: row index grows downward, so negate
                gx, gy = gx[0], -gy[0]
                live = (gx != 0) | (gy != 0)
                o = _octant(gx, gy)[live]
                h = np.bincount(o, minlength=8)
                rows.append((int(ti), int(ri), int(ci),
                             int(live.sum()), *[int(v) for v in h],
                             int(np.argmax(h))))
            yield pd.DataFrame(rows, columns=[
                "time_idx", "row_idx", "col_idx", "n_edges",
                *[f"b{k}" for k in range(8)], "dominant"])

    tcol = (F.col("time_idx") if "time_idx" in chunks.columns
            else F.lit(0)).cast("int").alias("time_idx")
    src = chunks.select(tcol, "row_idx", "col_idx", chunk_col)
    return src.mapInPandas(
        _emit, schema="time_idx int, row_idx int, col_idx int, "
                      "n_edges long, " +
                      ", ".join(f"b{k} long" for k in range(8)) +
                      ", dominant int")

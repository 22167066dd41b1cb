"""Deterministic synthetic image+caption table (BASELINE input_hint).

Schema: (image_id string, bytes binary, w int, h int, fmt string,
caption string, phash bigint) + engine geo metadata mirroring the
reference CogTile (/root/reference/src/index/input_index.rs:36-61):
crs, min_x/min_y/max_x/max_y (native), min_lon/min_lat/max_lon/max_lat
(WGS84), resolution, year.

Layout (FIXTURES.md §1 coverage requirements):
- AEF-like UTM tiling: origin (500000, 4096000), 10 m pixels, tiles
  overlapping their neighbors by 25% (mean-mosaic path),
- two UTM zones (EPSG:32610 / EPSG:32611) so reprojection is real,
- a dense "hot cell" cluster (last ~10%) for skew/salting tests,
- year mix 2023/2024 plus a few year-2022 (filter-excluded) tiles,
- a few far-away tiles (bbox-filter-excluded), empty regions between
  zones (empty-chunk pruning).

Everything is a pure function of (i, n) — no RNG state — so the same
table materializes identically on any executor, at any parallelism,
in Spark (distributed via mapInPandas over spark.range) or in plain
pandas for the NumPy oracle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from aef_mosaic_spark import codecs, proj

RESOLUTION = 10.0
ORIGIN_X, ORIGIN_Y = 500000.0, 4096000.0
FMTS = ("raw", "png", "ppm", "qdct")
_WORDS = (
    "mosaic tile raster chunk spark shuffle join cell index grid band "
    "pixel caption embed vector hash window mean blend zone".split()
)

IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, crs string, "
    "min_x double, min_y double, max_x double, max_y double, "
    "min_lon double, min_lat double, max_lon double, max_lat double, "
    "resolution double, year int"
)


def _h(i: int, salt: str) -> int:
    return int.from_bytes(hashlib.md5(f"{salt}:{i}".encode()).digest()[:8], "big")


def tile_geometry(i: int, n: int) -> dict:
    """Deterministic placement of tile i of n (metadata only, cheap)."""
    n_far = max(1, n // 50)  # bbox-excluded
    n_hot = max(2, n // 10)  # skew cluster
    n_main = n - n_far - n_hot
    size_px = (64, 96, 128)[_h(i, "size") % 3]
    extent = size_px * RESOLUTION
    step = extent * 0.75  # 25% overlap with the next tile

    if i < n_main:  # regular overlapping grid, two zones
        zone = 10 + (i % 2)
        j = i // 2
        per_row = max(4, int(np.ceil(np.sqrt(max(n_main // 2, 1)))))
        gx, gy = j % per_row, j // per_row
        min_x = ORIGIN_X + gx * step
        min_y = ORIGIN_Y + gy * step
    elif i < n_main + n_hot:  # hot cluster: dense overlap in zone 10
        zone = 10
        k = i - n_main
        min_x = ORIGIN_X + (_h(k, "hotx") % 640) * 1.0
        min_y = ORIGIN_Y + (_h(k, "hoty") % 640) * 1.0
    else:  # far away (north), excluded by the flagship bbox filter
        zone = 10
        k = i - n_main - n_hot
        min_x = ORIGIN_X + (k % 8) * step
        min_y = ORIGIN_Y + 400000.0 + (k // 8) * step

    max_x, max_y = min_x + extent, min_y + extent
    crs = f"EPSG:{32600 + zone}"
    wb = proj.transform_bounds((min_x, min_y, max_x, max_y), crs, "EPSG:4326", densify=5)
    year = 2022 if (i % 17 == 3) else (2023 if i % 5 == 0 else 2024)
    return {
        "image_id": f"img_{i:08d}",
        "w": size_px,
        "h": size_px,
        "fmt": FMTS[i % 4],
        "caption": f"tile {i}: " + " ".join(
            _WORDS[_h(i, f"w{k}") % len(_WORDS)] for k in range(6)
        ),
        "crs": crs,
        "min_x": min_x,
        "min_y": min_y,
        "max_x": max_x,
        "max_y": max_y,
        "min_lon": wb[0],
        "min_lat": wb[1],
        "max_lon": wb[2],
        "max_lat": wb[3],
        "resolution": RESOLUTION,
        "year": int(year),
    }


def tile_pixels(i: int, geom: dict) -> np.ndarray:
    """uint8 (3, h, w); value is a smooth function of *world* coords
    plus a small per-tile bias, so overlapping tiles nearly agree and
    the mean compositor is exercised. Row 0 = max_y (top-down)."""
    w, h = geom["w"], geom["h"]
    xs = geom["min_x"] + (np.arange(w) + 0.5) * RESOLUTION
    ys = geom["max_y"] - (np.arange(h) + 0.5) * RESOLUTION
    X, Y = np.meshgrid(xs / 1000.0, ys / 1000.0)  # km
    bias = (_h(i, "bias") % 21) - 10
    img = np.empty((3, h, w), np.uint8)
    for b in range(3):
        v = (
            127.5
            + 60.0 * np.sin(2 * np.pi * (X * (0.11 + 0.07 * b) + 0.2 * b))
            + 40.0 * np.cos(2 * np.pi * Y * (0.13 + 0.05 * b))
            + bias
        )
        img[b] = np.clip(np.rint(v), 0, 255)
    return img


def make_tile(i: int, n: int) -> dict:
    geom = tile_geometry(i, n)
    img = tile_pixels(i, geom)
    geom["bytes"] = codecs.encode(img, geom["fmt"])
    geom["phash"] = codecs.phash64(img)
    return geom


_COLS = [
    "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "crs",
    "min_x", "min_y", "max_x", "max_y",
    "min_lon", "min_lat", "max_lon", "max_lat", "resolution", "year",
]


def images_pdf(n: int, indices=None) -> pd.DataFrame:
    rows = [make_tile(int(i), n) for i in (indices if indices is not None else range(n))]
    return pd.DataFrame(rows, columns=_COLS)


def images_df(spark, n: int):
    """Distributed deterministic generation: spark.range(n) ->
    mapInPandas (Arrow-batched). Scales to any n without the driver
    materializing pixels."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield images_pdf(n, pdf["id"].to_numpy())

    # ~512 tiles (~1.5 s) per task: large enough to amortize task +
    # Arrow overhead, small enough to load-balance 1024 ways at scale.
    # r6: floor the task count at 2x the session's cores (scale-
    # adaptive, not a constant) — the old n//512 heuristic gave a
    # 4800-tile bench run only 10 tasks on 32 cores, serializing the
    # generation kernel to a third of the machine. A >=64-tiles-per-
    # task ceiling keeps tiny jobs from paying the fixed per-task
    # Python set-up per near-empty task (the 300-tile CLI probe
    # regressed without it; ~0.1 s a task on local[4] with the
    # session's worker daemon, ~0.3 s before, see
    # partitioning.spread_input).
    dp = spark.sparkContext.defaultParallelism
    target = max(min(1024, n // 512 + 1), dp * 2)
    parts = max(2, min(1024, target, n // 64 + 1))
    return (
        spark.range(0, n, 1, numPartitions=parts)
        .mapInPandas(gen, schema=IMAGE_SCHEMA)
    )

"""Compositor probe: digests of all four `composite_chunks` modes on
one materialized patch table.

    python scripts/composite_digests.py WORK_DIR [--tiles 720] [--seed 1]

Run from the root of a checkout. Builds the seeded `mosaic_reproject`
tiles (perfbench inputs, the EPSG:6933 grid over both UTM zones) and
writes their patches once to WORK_DIR (reused when present, so two
checkouts composite the very same rows). Then composites them in each
mode and prints one JSON line: per mode the chunk count, a sha256 over
the sorted (key, n_tiles, valid_px, chunk) rows, and the compositor's
wall seconds after one untimed warm-up pass. A compositor change that
keeps the output bit-identical prints the same digests; at seed 1 and
720 tiles there are 1205 patches and 197 chunks.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, ".")

from aef_mosaic_spark.operators import mosaic as M  # noqa: E402
from aef_mosaic_spark.session import get_spark  # noqa: E402
from perfbench import inputs  # noqa: E402
from perfbench.workloads import _snapped_grid  # noqa: E402

MODES = ("mean", "last", "weighted", "median")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("work_dir")
    ap.add_argument("--tiles", type=int, default=720)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    tiles = inputs.tiles(args.tiles, args.seed)
    grid = _snapped_grid(tiles[~tiles["far"]], "EPSG:6933")
    spark = get_spark(app_name="composite-digests", master="local[4]")
    path = os.path.join(args.work_dir, f"patches-s{args.seed}-n{args.tiles}.parquet")
    if not os.path.exists(path):
        images = spark.createDataFrame(inputs.image_table(tiles))
        M.tiles_to_patches(images, grid).write.parquet(path)
    patches = spark.read.parquet(path)
    out = {"patches": patches.count()}
    M.composite_chunks(patches, grid).count()  # untimed: start the Python workers
    for mode in MODES:
        t0 = time.perf_counter()
        rows = M.composite_chunks(patches, grid, mode=mode).collect()
        secs = time.perf_counter() - t0
        h = hashlib.sha256()
        for r in sorted(rows, key=lambda r: (r.time_idx, r.row_idx, r.col_idx)):
            h.update(repr((r.time_idx, r.row_idx, r.col_idx, r.n_tiles, r.valid_px)).encode())
            h.update(bytes(r.chunk))
        out[mode] = {"chunks": len(rows), "sha256": h.hexdigest()[:16], "s": round(secs, 2)}
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

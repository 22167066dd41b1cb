"""qdct decode cost and parity: `codecs.decode_qdct` against its law.

    python scripts/qdct_decode_cost.py [--tiles 720] [--seeds 1,2,3] [--reps 3]

Run from the root of a checkout. For the seeded `mosaic_reproject`
tiles (perfbench inputs) of each seed, decodes every qdct tile with
`codecs.decode_qdct` (BLAS matmuls plus the rint-tie fallback) and
with the law it must equal (`codecs._idct_blocks` on every block, then
rint, clip and crop). Prints one JSON line per seed: ms per tile of
each path (min over --reps passes, one process, one BLAS thread), the
share of blocks that took the fallback, and the number of tiles whose
decoded bytes differ, which must be 0.
"""

from __future__ import annotations

import argparse
import json
import os
import struct
import sys
import time
import zlib

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")  # as the Spark workers run

sys.path.insert(0, ".")

import numpy as np  # noqa: E402

from aef_mosaic_spark import codecs  # noqa: E402
from perfbench import inputs  # noqa: E402


def _blocks(data: bytes):
    bands, h, w = struct.unpack(">BHH", data[:5])
    coef = np.frombuffer(zlib.decompress(data[5:]), np.int16)
    return bands, h, w, coef.reshape(-1, 8, 8).astype(np.float64) * codecs._Q_STEP


def law_decode(data: bytes) -> np.ndarray:
    bands, h, w, coef = _blocks(data)
    hb, wb = -(-h // 8), -(-w // 8)
    plane = codecs._idct_blocks(coef).reshape(bands, hb, wb, 8, 8)
    plane = plane.transpose(0, 1, 3, 2, 4).reshape(bands, hb * 8, wb * 8)
    return np.clip(np.rint(plane + 128.0), 0, 255).astype(np.uint8)[:, :h, :w]


def fallback_blocks(data: bytes) -> tuple[int, int]:
    coef = _blocks(data)[3]
    x = codecs._DCT_M.T @ coef @ codecs._DCT_M + 128.0
    return int(codecs._near_tie(coef, x).sum()), len(coef)


def _ms_per_tile(fn, payloads, reps: int) -> tuple[float, list]:
    best, out = float("inf"), []
    for _ in range(reps):
        t0 = time.perf_counter()
        out = [fn(d) for d in payloads]
        best = min(best, time.perf_counter() - t0)
    return round(best / len(payloads) * 1e3, 3), out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tiles", type=int, default=720)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    for seed in (int(s) for s in args.seeds.split(",")):
        t = inputs.tiles(args.tiles, seed)
        payloads = [bytes(b) for b in t.loc[t["fmt"] == "qdct", "bytes"]]
        fast_ms, fast = _ms_per_tile(codecs.decode_qdct, payloads, args.reps)
        law_ms, law = _ms_per_tile(law_decode, payloads, args.reps)
        marked, blocks = np.sum([fallback_blocks(d) for d in payloads], axis=0)
        print(json.dumps({
            "seed": seed, "qdct_tiles": len(payloads),
            "fast_ms_per_tile": fast_ms, "law_ms_per_tile": law_ms,
            "fallback_block_share": round(float(marked / blocks), 4),
            "differing_tiles": sum(not np.array_equal(a, b) for a, b in zip(fast, law)),
        }), flush=True)


if __name__ == "__main__":
    main()

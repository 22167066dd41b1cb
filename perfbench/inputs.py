"""Seeded benchmark inputs built around the library's tile generator.

`aef_mosaic_spark.generator` is a pure function of (i, n) with no seed,
so the benchmark derives seeded inputs from it: per-tile placement
jitter and the position of the hot cluster move with the seed, and the
pixels are re-rendered from the moved geometry with
`generator.tile_pixels`. Points and the near-duplicate corpus are drawn
from `numpy.random.default_rng` streams keyed on the seed. The same
seed always gives the same inputs; the program only ever sees the
generated tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from aef_mosaic_spark import codecs, generator, proj

_WORLD = "EPSG:4326"


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def tile_geometries(n: int, seed: int) -> pd.DataFrame:
    """Metadata of n seeded tiles (no pixels): `generator.tile_geometry`
    moved by a per-tile jitter of up to +-120 m and, for the hot
    cluster, a seeded shift of the whole cluster inside the south of
    the zone-10 block. Shifts are whole metres, so native pixel edges stay on
    exact binary values."""
    rng = _rng(seed, 1)
    base = [generator.tile_geometry(i, n) for i in range(n)]
    n_far = max(1, n // 50)
    n_hot = max(2, n // 10)
    n_main = n - n_far - n_hot
    wide = max(m["max_x"] for m in base[:n_main]) - generator.ORIGIN_X
    tall = max(m["max_y"] for m in base[:n_main]) - generator.ORIGIN_Y
    # the cluster stays in the block's southern quarter, so the work a
    # resumed run finds pending (the southern half) does not vary with
    # the seed
    hot_dx = int(rng.integers(0, int(wide * 0.6)))
    hot_dy = int(rng.integers(0, int(tall * 0.25)))
    jitter = rng.integers(-120, 121, size=(n, 2))
    rows = []
    for i, g in enumerate(base):
        dx, dy = int(jitter[i, 0]), int(jitter[i, 1])
        if n_main <= i < n_main + n_hot:
            dx, dy = dx + hot_dx, dy + hot_dy
        g = dict(g)
        g["min_x"] += dx
        g["max_x"] += dx
        g["min_y"] += dy
        g["max_y"] += dy
        wb = proj.transform_bounds((g["min_x"], g["min_y"], g["max_x"], g["max_y"]),
                                   g["crs"], _WORLD, densify=5)
        g["min_lon"], g["min_lat"], g["max_lon"], g["max_lat"] = wb
        g["hot"] = n_main <= i < n_main + n_hot
        g["far"] = i >= n_main + n_hot
        rows.append(g)
    return pd.DataFrame(rows)


def tiles(n: int, seed: int) -> pd.DataFrame:
    """Seeded tiles with encoded pixels, in `generator.IMAGE_SCHEMA`
    column order plus the `hot`/`far` flags used for input properties."""
    geo = tile_geometries(n, seed)
    out = []
    for i, g in enumerate(geo.to_dict("records")):
        img = generator.tile_pixels(i, g)
        g["bytes"] = codecs.encode(img, g["fmt"])
        g["phash"] = codecs.phash64(img)
        out.append(g)
    return pd.DataFrame(out)[generator._COLS + ["hot", "far"]]


def image_table(tiles_pdf: pd.DataFrame) -> pd.DataFrame:
    return tiles_pdf[generator._COLS]


def points(boxes: pd.DataFrame, n: int, hot_share: float, seed: int) -> pd.DataFrame:
    """n points (point_id, lon, lat): uniform over the footprint extent
    of the non-far boxes, except `hot_share` of them, which fall inside
    the hot cluster's extent (the dense cell of the join)."""
    rng = _rng(seed, 2)
    body = boxes[~boxes["far"]]
    hot = boxes[boxes["hot"]]
    n_hot = int(round(n * hot_share))
    lo = body[["min_lon", "min_lat"]].min().to_numpy()
    hi = body[["max_lon", "max_lat"]].max().to_numpy()
    hlo = hot[["min_lon", "min_lat"]].min().to_numpy()
    hhi = hot[["max_lon", "max_lat"]].max().to_numpy()
    xy = np.vstack([rng.uniform(lo, hi, size=(n - n_hot, 2)),
                    rng.uniform(hlo, hhi, size=(n_hot, 2))])
    order = rng.permutation(n)
    return pd.DataFrame({"point_id": np.arange(n, dtype=np.int64),
                         "lon": xy[order, 0], "lat": xy[order, 1],
                         "hot": order >= n - n_hot})


def corpus(n_docs: int, seed: int, vocab: int = 6000, doc_len: int = 28,
           dup_share: float = 0.4, max_clique: int = 48) -> tuple[pd.DataFrame, list[int]]:
    """(documents(doc_id, text), clique sizes). `dup_share` of the docs
    sit in planted near-duplicate cliques whose sizes follow a Zipf law
    truncated at `max_clique` (heavy-tailed, like a web crawl); each
    member is its clique's base text with 0-3 tokens replaced, so some
    members pass a 0.8 Jaccard threshold and some fail it."""
    rng = _rng(seed, 3)
    words = np.array([f"w{j:05d}" for j in range(vocab)])
    sizes: list[int] = []
    left = int(n_docs * dup_share)
    while left >= 2:
        s = int(min(rng.zipf(1.6) + 1, max_clique, left))
        if s < 2:
            break
        sizes.append(s)
        left -= s
    texts: list[str] = []
    for s in sizes:
        base = rng.choice(vocab, size=doc_len, replace=False)
        for _ in range(s):
            toks = base.copy()
            k = int(rng.integers(0, 4))
            if k:
                toks[rng.choice(doc_len, size=k, replace=False)] = \
                    rng.integers(0, vocab, size=k)
            texts.append(" ".join(words[toks]))
    while len(texts) < n_docs:
        texts.append(" ".join(words[rng.choice(vocab, size=doc_len, replace=False)]))
    order = rng.permutation(n_docs)
    docs = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                         "text": [texts[j] for j in order]})
    return docs, sizes


# ------------------------------------------------------------ properties
def _max_overlap(t: pd.DataFrame, cell: float = 20.0) -> int:
    """Deepest tile stack at any point, per native CRS, on a 20 m
    raster of tile extents (a 2-D difference array per zone)."""
    depth = 0
    for _, z in t.groupby("crs"):
        x0, y0 = z["min_x"].min(), z["min_y"].min()
        c0 = np.floor((z["min_x"].to_numpy() - x0) / cell).astype(int)
        c1 = np.ceil((z["max_x"].to_numpy() - x0) / cell).astype(int)
        r0 = np.floor((z["min_y"].to_numpy() - y0) / cell).astype(int)
        r1 = np.ceil((z["max_y"].to_numpy() - y0) / cell).astype(int)
        d = np.zeros((r1.max() + 1, c1.max() + 1), np.int32)
        np.add.at(d, (r0, c0), 1)
        np.add.at(d, (r0, c1), -1)
        np.add.at(d, (r1, c0), -1)
        np.add.at(d, (r1, c1), 1)
        depth = max(depth, int(d.cumsum(0).cumsum(1).max()))
    return depth


def tile_properties(t: pd.DataFrame, grid_crs: str) -> dict:
    body = t[~t["far"]]
    return {
        "tiles": len(t),
        "cross_crs_share": round(float((body["crs"] != grid_crs).mean()), 4),
        "hot_share": round(float(t["hot"].mean()), 4),
        "format_mix": {k: int(v) for k, v in t["fmt"].value_counts().sort_index().items()},
        "max_overlap_depth": _max_overlap(body),
    }


def point_properties(p: pd.DataFrame) -> dict:
    return {"points": len(p), "hot_share": round(float(p["hot"].mean()), 4)}


def corpus_properties(docs: pd.DataFrame, sizes: list[int]) -> dict:
    edges = [2, 3, 5, 9, 17, 33, 65]
    hist = {}
    for lo, hi in zip(edges, edges[1:]):
        hist[f"{lo}-{hi - 1}"] = sum(lo <= s < hi for s in sizes)
    return {"docs": len(docs), "cliques": len(sizes),
            "clique_size_hist": hist, "largest_clique": max(sizes, default=0)}

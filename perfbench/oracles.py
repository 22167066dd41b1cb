"""Expected outputs, computed once per seed outside timed regions, and
the checks that compare a timed call's output with them.

Every check returns a list of human-readable problems; an empty list
means the output is correct. Checks take plain Python data, so the
benchmark's own tests can feed them corrupted outputs.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd

from aef_mosaic_spark import oracle, proj
from aef_mosaic_spark.grid import OutputGrid

KEYS = ["time_idx", "row_idx", "col_idx"]


# ------------------------------------------------------------- mosaic
def chunk_sub_grid(grid: OutputGrid, r: int, c: int) -> OutputGrid:
    """A one-chunk grid aligned to chunk (r, c). With whole-metre grid
    bounds its pixel centres are bit-identical to the full grid's, so
    the oracle's per-chunk canvas equals the full-grid one."""
    return OutputGrid(bounds=grid.chunk_bounds(r, c), crs=grid.crs,
                      resolution=grid.resolution, years=grid.years,
                      num_bands=grid.num_bands, chunk_h=grid.chunk_h,
                      chunk_w=grid.chunk_w)


def _tiles_by_chunk(images: pd.DataFrame, grid: OutputGrid) -> dict[tuple, list[int]]:
    out: dict[tuple, list[int]] = {}
    for i, t in enumerate(images.itertuples(index=False)):
        if grid.time_idx_for_year(t.year) is None:
            continue
        b = proj.transform_bounds((t.min_x, t.min_y, t.max_x, t.max_y),
                                  t.crs, grid.crs, densify=5)
        rng = grid.chunk_ranges_for_bounds(b)
        if rng is None:
            continue
        r0, r1, c0, c1 = rng
        for r in range(r0, r1 + 1):
            for c in range(c0, c1 + 1):
                out.setdefault((r, c), []).append(i)
    return out


def mosaic_expected(images: pd.DataFrame, grid: OutputGrid, n_sample: int,
                    seed: int) -> dict:
    """{"meta": {key: (n_tiles, valid_px)} for every chunk,
        "chunks": {key: canvas bytes} for a seeded sample}.

    Every chunk comes from `oracle.oracle_mosaic` on its one-chunk
    sub-grid: mode "last" (cheap finalize) for the metadata of all
    chunks, mode "mean" for the sampled canvases. The sample always
    holds the chunk with the most tiles (the hot cluster)."""
    by_chunk = _tiles_by_chunk(images, grid)
    meta: dict[tuple, tuple[int, int]] = {}
    for (r, c), idx in by_chunk.items():
        got = oracle.oracle_mosaic(images.iloc[idx], chunk_sub_grid(grid, r, c), mode="last")
        for (ti, _, _), v in got.items():
            meta[(ti, r, c)] = (v["n_tiles"], v["valid_px"])
    keys = sorted(meta)
    rng = np.random.default_rng([seed, 7])
    hot = max(keys, key=lambda k: (meta[k][0], k))
    rest = [k for k in keys if k != hot]
    pick = [hot] + [rest[j] for j in rng.choice(len(rest), size=min(n_sample - 1, len(rest)),
                                                  replace=False)]
    chunks = {}
    for ti, r, c in pick:
        got = oracle.oracle_mosaic(images.iloc[by_chunk[(r, c)]],
                                   chunk_sub_grid(grid, r, c), mode="mean")
        chunks[(ti, r, c)] = got[(ti, 0, 0)]["canvas"].tobytes()
    return {"meta": meta, "chunks": chunks}


def check_mosaic(meta_rows: list[tuple], chunk_rows: dict[tuple, bytes],
                 expected: dict) -> list[str]:
    """meta_rows: (time_idx, row_idx, col_idx, n_tiles, valid_px) of
    every table row; chunk_rows: sampled key -> chunk bytes."""
    problems = []
    got = {}
    for t, r, c, n, v in meta_rows:
        if (t, r, c) in got:
            problems.append(f"duplicate chunk {(t, r, c)}")
        got[(t, r, c)] = (n, v)
    exp = expected["meta"]
    missing = sorted(set(exp) - set(got))
    extra = sorted(set(got) - set(exp))
    if missing:
        problems.append(f"{len(missing)} chunks missing, e.g. {missing[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected chunks, e.g. {extra[:3]}")
    bad = [k for k in exp if k in got and got[k] != exp[k]]
    if bad:
        problems.append(f"{len(bad)} chunks with wrong (n_tiles, valid_px), e.g. "
                        f"{bad[0]}: {got[bad[0]]} != {exp[bad[0]]}")
    for k, want in expected["chunks"].items():
        have = chunk_rows.get(k)
        if have != want:
            problems.append(f"chunk {k} pixels differ from the oracle")
    return problems


def table_digest(rows: list[tuple]) -> str:
    """Order-independent digest of (time_idx, row_idx, col_idx,
    n_tiles, valid_px, sha256(chunk)) rows."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(row).encode())
    return h.hexdigest()


def check_digest(rows: list[tuple], want_digest: str, want_rows: int) -> list[str]:
    problems = []
    if len(rows) != want_rows:
        problems.append(f"{len(rows)} rows, fresh run has {want_rows}")
    if table_digest(rows) != want_digest:
        problems.append("table differs from a fresh run on the same grid")
    return problems


# --------------------------------------------------------- point join
JOIN_SQL = """
SELECT count(*) AS pairs, sum(p.point_id) AS s_p, sum(b.box_id) AS s_b,
       sum(p.point_id * b.box_id) AS s_pb
FROM points p JOIN boxes b
  ON p.lon >= b.min_lon AND p.lon < b.max_lon
 AND p.lat >= b.min_lat AND p.lat < b.max_lat
"""


def join_expected(points: pd.DataFrame, boxes: pd.DataFrame) -> tuple[int, ...]:
    """(pairs, sum point_id, sum box_id, sum point_id*box_id) from a
    DuckDB theta join that uses no cells."""
    con = duckdb.connect()
    try:
        con.register("points", points[["point_id", "lon", "lat"]])
        con.register("boxes", boxes[["box_id", "min_lon", "min_lat", "max_lon", "max_lat"]])
        return tuple(int(v or 0) for v in con.execute(JOIN_SQL).fetchone())
    finally:
        con.close()


def check_join(got: tuple[int, ...], want: tuple[int, ...]) -> list[str]:
    if tuple(int(v or 0) for v in got) != want:
        return [f"pair count/digest {tuple(got)} != oracle {want}"]
    return []


# -------------------------------------------------------------- dedup
def dedup_expected(docs: pd.DataFrame, sql: str) -> dict[int, int]:
    """doc_id -> cluster_id (min id of its component): a driver-side
    union-find over the DuckDB verified pairs of `sql` (the registered
    q23 near-dup oracle: k=16, 4 bands, Jaccard >= 0.8)."""
    con = duckdb.connect()
    try:
        con.register("documents", docs[["doc_id", "text"]])
        pairs = con.execute(f"SELECT id_a, id_b FROM ({sql})").fetchall()
    finally:
        con.close()
    parent = {int(d): int(d) for d in docs["doc_id"]}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


def check_clusters(rows: list[tuple[int, int]], want: dict[int, int]) -> list[str]:
    got = dict(rows)
    problems = []
    if len(got) != len(rows):
        problems.append("duplicate doc ids in the assignment")
    if len(got) != len(want):
        problems.append(f"{len(got)} docs assigned, corpus has {len(want)}")
    bad = [d for d, c in want.items() if got.get(d) != c]
    if bad:
        problems.append(f"{len(bad)} docs with a wrong cluster, e.g. doc {bad[0]}: "
                        f"{got.get(bad[0])} != {want[bad[0]]}")
    return problems

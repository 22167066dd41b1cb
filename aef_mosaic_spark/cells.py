"""H3/S2-style hierarchical cell encoding over WGS84 (numpy + Column).

The north rule requires an H3/S2-style cell index; neither library is
in the sandbox, so this implements a hierarchical rectangular grid
with the same API shape (cell id, parent, k-ring, bbox covering). The
reference precedent is its 16-bit lon/lat Hilbert grid used for work
ordering (/root/reference/src/pipeline/stages.rs:52-57).

Encoding: at resolution r (0..30), the world [-180,180]x[-90,90] is
split into 2^r x 2^r cells. cell_id = (r << 56) | (iy << 28) | ix,
a bigint. The lon/lat -> (ix, iy) step is pure floor arithmetic, so
the *same* cell assignment is expressible as a Spark Column expression
(JVM-side, no UDF) AND as SQL text that both DuckDB (the oracle) and
Spark parse — the cell joins build their key and covering from the
SQL text (`cell_id_sql`, `covering_cells_sql`), one `F.expr` each;
the numpy version exists for use inside raster kernels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 28


def _nxy(res: int) -> int:
    return 1 << res


def cell_id_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized numpy cell assignment."""
    n = _nxy(res)
    ix = np.clip(((np.asarray(lon) + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(((np.asarray(lat) + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return (np.int64(res) << 56) | (iy << 28) | ix


def cell_id_col(lon: Column, lat: Column, res: int) -> Column:
    """Same assignment as a Spark Column expression (JVM, codegen'd)."""
    n = _nxy(res)
    ix = F.least(F.greatest(F.floor((lon + F.lit(180.0)) / 360.0 * n), F.lit(0)), F.lit(n - 1))
    iy = F.least(F.greatest(F.floor((lat + F.lit(90.0)) / 180.0 * n), F.lit(0)), F.lit(n - 1))
    return (F.lit(res).cast("long") * F.lit(1 << 56).cast("long")
            + iy.cast("long") * F.lit(1 << 28).cast("long")
            + ix.cast("long"))


def _index_sql(v: str, off: str, span: str, res: int) -> str:
    n = _nxy(res)
    return f"least(greatest(floor(({v} + {off}) / {span} * {n}), 0), {n - 1})::BIGINT"


def cell_id_sql(lon: str, lat: str, res: int) -> str:
    """The identical assignment as SQL text that both DuckDB (the
    oracle) and Spark parse: the law the cell joins build their key
    from, one `F.expr` instead of a Column tree of ~300 py4j calls."""
    ix = _index_sql(lon, "180.0", "360.0", res)
    iy = _index_sql(lat, "90.0", "180.0", res)
    return f"({res}::BIGINT * {1 << 56} + {iy} * {1 << 28} + {ix})"


def cell_to_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell_id -> (res, ix, iy)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> 56
    iy = (cell >> 28) & ((1 << 28) - 1)
    ix = cell & ((1 << 28) - 1)
    return res, ix, iy


def cell_parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    res, ix, iy = cell_to_xy(cell)
    shift = res - parent_res
    return (np.int64(parent_res) << 56) | ((iy >> shift) << 28) | (ix >> shift)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of one cell."""
    res, ix, iy = cell_to_xy(np.array([cell]))
    n = _nxy(int(res[0]))
    w, h = 360.0 / n, 180.0 / n
    min_lon = -180.0 + float(ix[0]) * w
    min_lat = -90.0 + float(iy[0]) * h
    return (min_lon, min_lat, min_lon + w, min_lat + h)


def cell_ring(cell: int, k: int = 1) -> list[int]:
    """All cells within Chebyshev distance k (k-ring), grid-clipped."""
    res, ix, iy = cell_to_xy(np.array([cell]))
    res, ix, iy = int(res[0]), int(ix[0]), int(iy[0])
    n = _nxy(res)
    out = []
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            jx, jy = ix + dx, iy + dy
            jx %= n  # wrap longitude
            if 0 <= jy < n:
                out.append((res << 56) | (jy << 28) | jx)
    return out


def cells_covering_bbox(bounds, res: int) -> np.ndarray:
    """All cell ids whose box intersects [min_lon,min_lat,max_lon,max_lat]."""
    # INCLUSIVE floor on the max edge: a box whose max lies exactly on
    # a cell boundary gains one superfluous candidate cell (the exact
    # refine rejects it), but the covering can never be smaller than
    # the true box — an exclusive-edge epsilon once dropped real
    # extent and lost matches (points at lat=0 vs max_lat=5.7e-15)
    min_lon, min_lat, max_lon, max_lat = bounds
    n = _nxy(res)
    ix0 = max(0, int(np.floor((min_lon + 180.0) / 360.0 * n)))
    ix1 = min(n - 1, int(np.floor((max_lon + 180.0) / 360.0 * n)))
    iy0 = max(0, int(np.floor((min_lat + 90.0) / 180.0 * n)))
    iy1 = min(n - 1, int(np.floor((max_lat + 90.0) / 180.0 * n)))
    xs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    ys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return (np.int64(res) << 56) | (gy.ravel() << 28) | gx.ravel()


def covering_cells_col(min_lon: Column, min_lat: Column, max_lon: Column,
                       max_lat: Column, res: int) -> Column:
    """Array-of-cell-ids Column for a bbox — built from `sequence` +
    nested `transform`, entirely JVM-side (no UDF): the Spark analog of
    the reference's analytic tile->chunk inversion
    (/root/reference/src/index/output_grid.rs:315-384). Explode the
    result to get the cell-key equi-join build side."""
    n = _nxy(res)

    def idx(v: Column, off: float, span: float) -> Column:
        return F.least(F.greatest(F.floor((v + F.lit(off)) / span * n), F.lit(0)),
                       F.lit(n - 1)).cast("long")

    # INCLUSIVE floor on max edges (must mirror cells_covering_bbox):
    # the covering is a superset of the box; an exclusive-edge epsilon
    # once dropped real extent and lost join matches
    ix0, ix1 = idx(min_lon, 180.0, 360.0), idx(max_lon, 180.0, 360.0)
    iy0, iy1 = idx(min_lat, 90.0, 180.0), idx(max_lat, 90.0, 180.0)
    base = F.lit(res).cast("long") * F.lit(1 << 56).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(iy0, iy1),
            lambda iy: F.transform(
                F.sequence(ix0, ix1),
                lambda ix: base + iy * F.lit(1 << 28).cast("long") + ix,
            ),
        )
    )


def covering_cells_sql(min_lon: str, min_lat: str, max_lon: str,
                       max_lat: str, res: int) -> str:
    """`cells_covering_bbox` as Spark SQL text: the array of cell ids
    covering a bbox, with the same INCLUSIVE floor on the max edges
    and the same `cell_id_sql` index law. Wrap it in `explode(...)`
    for the cell-key equi-join build side; one `F.expr` where
    `covering_cells_col` costs ~500-1,200 py4j calls per plan."""
    ix0, ix1 = (_index_sql(v, "180.0", "360.0", res) for v in (min_lon, max_lon))
    iy0, iy1 = (_index_sql(v, "90.0", "180.0", res) for v in (min_lat, max_lat))
    return (f"flatten(transform(sequence({iy0}, {iy1}), _cy -> "
            f"transform(sequence({ix0}, {ix1}), _cx -> "
            f"{res}::BIGINT * {1 << 56} + _cy * {1 << 28} + _cx)))")

"""Point-in-polygon joins (north rule J10).

The reference's only polygon op is the footprint refine on 4-corner
quads (/root/reference/src/index/input_index.rs:69-106, 398-401). Two
refine paths:

- convex quads (tile footprints): half-plane cross-product test as
  pure Column arithmetic — codegen'd, and SQL-expressible for the
  DuckDB oracle;
- arbitrary simple polygons: vectorized ray-casting in a pandas UDF
  (numpy over the whole Arrow batch).

Candidate generation is the same cell equi-join as spatial_join.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aef_mosaic_spark.operators.spatial_join import with_cells


def _cross_sign(x1, y1, x2, y2, px, py):
    """sign of cross((p2-p1), (p-p1)) — which side of edge p lies on."""
    return (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)


def point_in_quad_expr(px, py, quad):
    """quad = [x1,y1,x2,y2,x3,y3,x4,y4] Column (array<double>), CCW or
    CW consistent ring. Inside <=> all cross products share a sign."""
    signs = []
    for i in range(4):
        x1, y1 = quad[2 * i], quad[2 * i + 1]
        x2, y2 = quad[(2 * i + 2) % 8], quad[(2 * i + 3) % 8]
        signs.append(_cross_sign(x1, y1, x2, y2, px, py))
    all_pos = signs[0] >= 0
    all_neg = signs[0] <= 0
    for s in signs[1:]:
        all_pos = all_pos & (s >= 0)
        all_neg = all_neg & (s <= 0)
    return all_pos | all_neg


def point_in_quad_join(points: DataFrame, quads: DataFrame, res: int = 12) -> DataFrame:
    """points(point_id, lon, lat) x quads(quad_id, ring array<double>[8],
    min/max lon/lat bbox) -> containing pairs. Cell equi-join on the
    bbox covering + exact quad refine (all JVM)."""
    p = with_cells(points, res, is_point=True)
    q = with_cells(quads, res, is_point=False)
    return (
        p.join(q, "_cell")
        .where(point_in_quad_expr(F.col("lon"), F.col("lat"), F.col("ring")))
        .drop("_cell")
    )


def point_in_polygon_join(points: DataFrame, polys: DataFrame, res: int = 12) -> DataFrame:
    """General simple polygons: polys(poly_id, xs array<double>,
    ys array<double>, bbox). Candidates via cell join; refine =
    vectorized ray casting (numpy) in mapInPandas."""
    p = with_cells(points, res, is_point=True)
    q = with_cells(polys, res, is_point=False)
    cand = p.join(q, "_cell").drop("_cell")
    cols = [c for c in cand.columns]
    schema = cand.schema

    def _refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                yield pdf
                continue
            keep = np.zeros(len(pdf), bool)
            for i, t in enumerate(pdf.itertuples(index=False)):
                xs = np.asarray(t.xs)
                ys = np.asarray(t.ys)
                x2 = np.roll(xs, -1)
                y2 = np.roll(ys, -1)
                px, py = t.lon, t.lat
                crosses = ((ys > py) != (y2 > py)) & (
                    px < (x2 - xs) * (py - ys) / (y2 - ys) + xs
                )
                keep[i] = crosses.sum() % 2 == 1
            yield pdf[keep]

    return cand.mapInPandas(_refine, schema=schema).select(*cols)

"""Distributed DBSCAN over integer planar points — grid-cell blocked
density clustering (Ester et al. 1996), oracle-twinned.

Why this op: density clustering is the standard "group GPS fixes /
POI detections / crawl geotags into sites" primitive in geospatial
curation, and the naive algorithm is a per-point range query — the
exact shape that dies at scale without spatial blocking.

Algorithm (the canonical MR-DBSCAN cell decomposition):
  1. cell(p) = (x div eps, y div eps). Any two points within eps of
     each other sit in the same or 8-adjacent cells, so the candidate
     neighbor join is points(cell) ⋈ points(3x3 cells) — one equi-join
     with a 9x emission on ONE side, never an n^2 product.
  2. neighbor count (d2 <= eps^2, self included) -> core flag
     (count >= min_pts).
  3. connected components over core-core edges (reuses the
     pre-contracted min-label CC from operators/dedup.py) ->
     cluster_id = min core id per component.
  4. border points (non-core with >= 1 core neighbor) take the MIN
     cluster_id among their core neighbors — classic DBSCAN leaves
     border assignment order-dependent; the min rule makes it
     deterministic and engine-independent. Everything else is noise.

Exact-parity law: coordinates are integers (milli-units), eps and d2
compare in exact integer arithmetic, so Spark and the DuckDB
brute-force oracle agree bit-for-bit.

Scale shape (100 TB): the candidate join shuffles on the cell key —
output is bounded by true eps-neighbor pairs (the inherent cost of
exact DBSCAN); per-cell density controls the join fan-out, and a
dense mega-cell is a data property (lower eps or pre-aggregate).
The multi-consumer pair table (degree, edges, border attachment) is
localCheckpointed once — the scan-audit law (CLAUDE.md): Catalyst
does not reuse a multi-consumer subtree.

Behavioral reference: reference engine has no clustering surface;
this extends the spatial-join family (operators/spatial_join.py J1
cell blocking) with a density-connectivity output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashes import h32_col, h32_sql
from .dedup import connected_components

DEFAULT_EPS = 80
DEFAULT_MIN_PTS = 5


def neighbor_pairs(points: DataFrame, eps: int = DEFAULT_EPS,
                   id_col: str = "id", x_col: str = "xm",
                   y_col: str = "ym") -> DataFrame:
    """All ordered pairs (a, b) with dist(a,b) <= eps, INCLUDING the
    self pair -> (a, b, a_core-side coords dropped). One equi-join on
    the eps-cell key; the right side is emitted into its 9 covering
    neighbor cells."""
    base = points.select(
        F.col(id_col).alias("_pid"),
        F.col(x_col).cast("long").alias("_px"),
        F.col(y_col).cast("long").alias("_py"),
        F.expr(f"{x_col} div {eps}").alias("_cx"),
        F.expr(f"{y_col} div {eps}").alias("_cy"))
    right = (base
             .withColumn("_dx", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
             .withColumn("_dy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
             .select(F.col("_pid").alias("b"),
                     F.col("_px").alias("_bx"),
                     F.col("_py").alias("_by"),
                     (F.col("_cx") + F.col("_dx")).alias("_cx"),
                     (F.col("_cy") + F.col("_dy")).alias("_cy")))
    d2 = ((F.col("_px") - F.col("_bx")) * (F.col("_px") - F.col("_bx"))
          + (F.col("_py") - F.col("_by")) * (F.col("_py") - F.col("_by")))
    # shuffle_hash hint: Catalyst's size estimate does not account for
    # the 9x explode, so at small input it BROADCASTS the exploded
    # side — a single-threaded build of 9n rows that flattens core
    # scaling (measured 1.16x at 4x cores on 1M points; SHJ restores
    # the partition-parallel plan, which is also the only feasible
    # shape at 100 TB where neither side broadcasts)
    return (base.hint("shuffle_hash").join(right, on=["_cx", "_cy"])
            .where(d2 <= F.lit(eps * eps))
            .select(F.col("_pid").alias("a"), "b"))


def dbscan(points: DataFrame, eps: int = DEFAULT_EPS,
           min_pts: int = DEFAULT_MIN_PTS, id_col: str = "id",
           x_col: str = "xm", y_col: str = "ym") -> DataFrame:
    """-> (id, role, cluster_id): role in ('core','border','noise');
    cluster_id = min core id of the density-connected component
    (NULL for noise)."""
    pairs = neighbor_pairs(points, eps, id_col, x_col, y_col) \
        .repartition("a").localCheckpoint()
    deg = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("_deg"))
    core = deg.where(F.col("_deg") >= min_pts) \
        .select(F.col("a").alias("id"))
    # core-core edges (a < b kills self-loops and halves the input;
    # CC symmetrizes internally)
    ce = (pairs.where(F.col("a") < F.col("b"))
          .join(core.select(F.col("id").alias("a")), "a")
          .join(core.select(F.col("id").alias("b")), "b")
          .select(F.col("a").alias("id_a"), F.col("b").alias("id_b")))
    # eps-neighbor graphs are locally DENSE, so pre-contraction + 2-4
    # plain rounds converge; pointer doubling's per-round self-join
    # was pure overhead (same-session A/B at 1M pts/local[16]:
    # 15.2-16.6 s vs 18.8-28.5 s, identical signature) and was removed.
    cc = connected_components(ce, core)  # (id, cluster_id)
    # border: non-core point -> min cluster among its core neighbors
    border = (pairs.where(F.col("a") != F.col("b"))
              .join(core.select(F.col("id").alias("b")), "b")
              .join(core.select(F.col("id").alias("a")), "a",
                    "left_anti")
              .join(cc.select(F.col("id").alias("b"),
                              F.col("cluster_id").alias("_bc")), "b")
              .groupBy("a").agg(F.min("_bc").alias("cluster_id"))
              .select(F.col("a").alias("id"),
                      F.lit("border").alias("role"), "cluster_id"))
    core_out = cc.select("id", F.lit("core").alias("role"),
                         "cluster_id")
    ids = points.select(F.col(id_col).alias("id"))
    noise = (ids.join(core_out.select("id"), "id", "left_anti")
             .join(border.select("id"), "id", "left_anti")
             .select("id", F.lit("noise").alias("role"),
                     F.lit(None).cast("long").alias("cluster_id")))
    return core_out.unionByName(border).unionByName(noise)


# ---------------------------------------------------------------- #
# Deterministic clustered point table for q130 + its oracle twin    #
# ---------------------------------------------------------------- #

N_CENTERS = 40
POINT_CAP = 1400  # fixed subset: identical behavior at every sf
SPREAD = 200      # half-width of each cluster's square
FIELD = 30000     # noise field extent (milli-units)


def dbscan_points(orders: DataFrame, cap: int = POINT_CAP) -> DataFrame:
    """Deterministic clustered points from the orders table: 40
    square clusters of half-width 200 plus ~9% field noise, integer
    milli-unit coordinates, md5-h32 offsets (identical in SQL)."""
    o = orders.where(F.col("o_orderkey") < cap)
    c = F.col("o_orderkey") % N_CENTERS
    bx = (c * 5227) % 24000 + 3000
    by = (c * 7433) % 24000 + 3000
    ox = h32_col(F.concat(F.lit("px"), F.col("o_orderkey").cast("string"))) \
        % (2 * SPREAD + 1) - SPREAD
    oy = h32_col(F.concat(F.lit("py"), F.col("o_orderkey").cast("string"))) \
        % (2 * SPREAD + 1) - SPREAD
    nx = h32_col(F.concat(F.lit("nx"), F.col("o_orderkey").cast("string"))) % FIELD
    ny = h32_col(F.concat(F.lit("ny"), F.col("o_orderkey").cast("string"))) % FIELD
    is_noise = (F.col("o_orderkey") % 11) == 0
    return o.select(
        F.col("o_orderkey").alias("id"),
        F.when(is_noise, nx).otherwise(bx + ox).cast("long").alias("xm"),
        F.when(is_noise, ny).otherwise(by + oy).cast("long").alias("ym"))


def dbscan_points_sql(table: str = "orders",
                      cap: int = POINT_CAP) -> str:
    hx = h32_sql("'px' || o_orderkey::VARCHAR")
    hy = h32_sql("'py' || o_orderkey::VARCHAR")
    hnx = h32_sql("'nx' || o_orderkey::VARCHAR")
    hny = h32_sql("'ny' || o_orderkey::VARCHAR")
    w = 2 * SPREAD + 1
    return f"""
      SELECT o_orderkey AS id,
             (CASE WHEN o_orderkey % 11 = 0 THEN {hnx} % {FIELD}
                   ELSE (o_orderkey % {N_CENTERS}) * 5227 % 24000 + 3000
                        + {hx} % {w} - {SPREAD} END)::BIGINT AS xm,
             (CASE WHEN o_orderkey % 11 = 0 THEN {hny} % {FIELD}
                   ELSE (o_orderkey % {N_CENTERS}) * 7433 % 24000 + 3000
                        + {hy} % {w} - {SPREAD} END)::BIGINT AS ym
      FROM {table} WHERE o_orderkey < {cap}"""


def dbscan_sql(table: str = "orders", eps: int = DEFAULT_EPS,
               min_pts: int = DEFAULT_MIN_PTS,
               cap: int = POINT_CAP) -> str:
    """DuckDB twin: brute-force O(n^2) neighbor join (the oracle never
    re-implements the blocking) + recursive min-label closure over
    core-core edges, min-rule border attachment."""
    return f"""
    WITH RECURSIVE pts AS ({dbscan_points_sql(table, cap)}),
    nbr AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b
        ON (a.xm - b.xm) * (a.xm - b.xm)
         + (a.ym - b.ym) * (a.ym - b.ym) <= {eps * eps}),
    deg AS (SELECT a AS id, count(*)::BIGINT AS n FROM nbr GROUP BY a),
    core AS (SELECT id FROM deg WHERE n >= {min_pts}),
    ce AS (SELECT n.a AS src, n.b AS dst FROM nbr n
           JOIN core ca ON ca.id = n.a
           JOIN core cb ON cb.id = n.b
           WHERE n.a <> n.b),
    reach(id, label) AS (
        SELECT id, id FROM core
      UNION
        SELECT ce.dst, r.label FROM ce JOIN reach r ON r.id = ce.src),
    cc AS (SELECT id, min(label)::BIGINT AS cluster_id
           FROM reach GROUP BY id),
    border AS (
      SELECT n.a AS id, 'border' AS role,
             min(cc.cluster_id)::BIGINT AS cluster_id
      FROM nbr n
      JOIN core cb ON cb.id = n.b
      JOIN cc ON cc.id = n.b
      WHERE n.a <> n.b
        AND n.a NOT IN (SELECT id FROM core)
      GROUP BY n.a)
    SELECT id, 'core' AS role, cluster_id FROM cc
    UNION ALL SELECT id, role, cluster_id FROM border
    UNION ALL
    SELECT id, 'noise' AS role, NULL::BIGINT AS cluster_id
    FROM pts WHERE id NOT IN (SELECT id FROM cc)
                AND id NOT IN (SELECT id FROM border)
    """


# ---------------------------------------------------------------- #
# Convex hull per cluster — two-level hull-of-hulls                 #
# ---------------------------------------------------------------- #

HULL_SHARDS = 16


def _monotone_chain(pts):
    """Andrew's monotone chain over [(x, y)] ints -> hull vertices in
    counter-clockwise order starting from the lexicographic minimum;
    collinear points excluded (strict turns). Exact integer cross
    products — deterministic on any host."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return ((a[0] - o[0]) * (b[1] - o[1])
                - (a[1] - o[1]) * (b[0] - o[0]))

    lo, up = [], []
    for p in pts:
        while len(lo) >= 2 and cross(lo[-2], lo[-1], p) <= 0:
            lo.pop()
        lo.append(p)
    for p in reversed(pts):
        while len(up) >= 2 and cross(up[-2], up[-1], p) <= 0:
            up.pop()
        up.append(p)
    return lo[:-1] + up[:-1]


def _area2(hull):
    """Twice the polygon area (exact integer shoelace), 0 for
    degenerate hulls."""
    if len(hull) < 3:
        return 0
    s = 0
    for i in range(len(hull)):
        x1, y1 = hull[i]
        x2, y2 = hull[(i + 1) % len(hull)]
        s += x1 * y2 - x2 * y1
    return abs(s)


def cluster_hulls(points: DataFrame, assignments: DataFrame,
                  id_col: str = "id", x_col: str = "xm",
                  y_col: str = "ym",
                  shards: int = HULL_SHARDS) -> DataFrame:
    """Convex hull + exact area per cluster ->
    (cluster_id, n_points, n_hull, area2, hull_wkt).

    Scale shape: the hull operator is ASSOCIATIVE
    (hull(A u B) = hull(hull(A) u hull(B))), so level 1 computes
    partial hulls per (cluster, h32 shard) — bounded groups even for
    a mega-cluster — and level 2 merges the O(shards * hull_size)
    survivors per cluster. Exact integer cross products end-to-end;
    hull_wkt is the deterministic vertex list (CCW from the
    lexicographic minimum)."""
    import pandas as pd

    pts = (assignments.where(F.col("cluster_id").isNotNull())
           .select(F.col("id").alias("_id"), "cluster_id")
           .join(points.select(F.col(id_col).alias("_id"),
                               F.col(x_col).cast("long").alias("_x"),
                               F.col(y_col).cast("long").alias("_y")),
                 "_id")
           .withColumn("_shard",
                       F.pmod(h32_col(F.col("_id").cast("string")),
                              F.lit(shards))))

    def _partial(key, pdf: pd.DataFrame) -> pd.DataFrame:
        hull = _monotone_chain(list(zip(pdf["_x"], pdf["_y"])))
        # n_points is the SHARD total, repeated on each hull vertex
        # row; level 2 de-dups by _shard before summing
        return pd.DataFrame({
            "cluster_id": [int(key[0])] * len(hull),
            "_shard": [int(key[1])] * len(hull),
            "n_points": [len(pdf)] * len(hull),
            "_x": [p[0] for p in hull], "_y": [p[1] for p in hull]})

    part = pts.groupBy("cluster_id", "_shard").applyInPandas(
        _partial,
        schema="cluster_id long, _shard int, n_points long, "
               "_x long, _y long")

    def _final(key, pdf: pd.DataFrame) -> pd.DataFrame:
        hull = _monotone_chain(list(zip(pdf["_x"], pdf["_y"])))
        wkt = "POLYGON((" + ", ".join(
            f"{x} {y}" for x, y in hull) + "))"
        n_pts = int(pdf.drop_duplicates("_shard")["n_points"].sum())
        return pd.DataFrame([{
            "cluster_id": int(key[0]),
            "n_points": n_pts,
            "n_hull": len(hull), "area2": _area2(hull),
            "hull_wkt": wkt}])

    return part.groupBy("cluster_id").applyInPandas(
        _final,
        schema=("cluster_id long, n_points long, n_hull long, "
                "area2 long, hull_wkt string"))

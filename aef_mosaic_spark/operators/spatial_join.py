"""Spatial joins re-expressed as cell-key equi-joins (north rule J1/J2).

The reference does filter-refine with an in-memory R-tree
(/root/reference/src/index/input_index.rs:374-403) — impossible at
10^12 rows. The scalable decomposition (SURVEY §2.3):

  1. EXPLODE each box to the grid cells covering it (pure JVM
     `sequence`/`transform`/`explode` — no UDF, Catalyst-visible),
  2. equi-JOIN on the cell key (Spark picks broadcast/SMJ; AQE splits
     skewed cells),
  3. REFINE with the exact predicate (box intersect / containment —
     cheap codegen'd comparisons),
  4. dropDuplicates (a pair may meet in several cells; J3).

Optional explicit salting replicates the *build* side S ways and
scatters the probe side with a deterministic salt — for hot cells
(dense spatial clusters) beyond what AQE skew-split handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aef_mosaic_spark.cells import cell_id_sql, covering_cells_sql
from aef_mosaic_spark.partitioning import spread_input

BOX = ("min_lon", "min_lat", "max_lon", "max_lat")

# The cell joins' cell columns and join conditions are SQL text, one
# `F.expr` each: a Column tree pays several py4j round trips per
# `F.lit`, `F.floor` and `transform` lambda, ~1,000 per
# point_in_box_join plan before any Spark job starts; from SQL text the
# same plan takes tens.


def _boxes_intersect(a: str, b: str) -> str:
    """Theta predicate (reference bounds_intersect, mosaic.rs:105-108):
    strict on the open edge so touching boxes don't match — same
    convention as the reference AABB test."""
    return (f"{a}.min_lon < {b}.max_lon AND {a}.max_lon > {b}.min_lon"
            f" AND {a}.min_lat < {b}.max_lat AND {a}.max_lat > {b}.min_lat")


def _point_in_box(p: str, b: str) -> str:
    return (f"{p}.lon >= {b}.min_lon AND {p}.lon < {b}.max_lon"
            f" AND {p}.lat >= {b}.min_lat AND {p}.lat < {b}.max_lat")


def with_cells(df: DataFrame, res: int, is_point: bool) -> DataFrame:
    """`df` plus its cell key `_cell`: the cell of (lon, lat) for a
    point side, one row per covering cell of the min/max lon/lat box
    for a box side. The one cell law of every cell equi-join
    (`cells.cell_id_sql` / `covering_cells_sql`); coordinates are
    cast to DOUBLE so the arithmetic is double whatever the input
    type, as `cells.cell_id_col`'s double literals make it."""
    def d(c: str) -> str:
        return f"CAST({c} AS DOUBLE)"
    if is_point:
        return df.withColumn("_cell", F.expr(cell_id_sql(d("lon"), d("lat"), res)))
    cover = covering_cells_sql(*(d(c) for c in BOX), res)
    return df.withColumn("_cell", F.expr(f"explode({cover})"))


def _salted(probe: DataFrame, build: DataFrame, salt: int):
    """Replicate build side x salt; scatter probe deterministically.
    Turns one hot cell into `salt` shuffle keys (SURVEY §4 skew row)."""
    build = build.withColumn("_salt", F.expr(f"explode(sequence(0, {salt - 1}))"))
    cols = ", ".join("`" + c.replace("`", "``") + "`"
                     for c in probe.columns if c != "_cell")
    probe = probe.withColumn(
        "_salt", F.expr(f"CAST(pmod(xxhash64({cols}), {salt}) AS INT)"))
    return probe, build


def _cell_join(a: DataFrame, b: DataFrame, salt: int, refine: str) -> DataFrame:
    """Equi-join the `_cell` sides aliased `a` and `b` (salted when
    salt > 1) with the exact `refine` predicate over those aliases."""
    keys = ["a._cell = b._cell"]
    if salt > 1:
        a, b = _salted(a, b, salt)
        keys.append("a._salt = b._salt")
    on = F.expr(" AND ".join(keys + [refine]))
    return a.alias("a").join(b.alias("b"), on).drop("_cell", "_salt")


def point_in_box_join(points: DataFrame, boxes: DataFrame, res: int = 12,
                      salt: int = 0, broadcast_boxes: bool = False) -> DataFrame:
    """points(id, lon, lat, ...) x boxes(box_id, min/max lon/lat, ...)
    -> matched pairs. Cell equi-join + exact refine.

    The points side goes through `spread_input` first, for every
    strategy: with the boxes broadcast (by hint or by size) the join
    and its refine run inside the points' scan stage, so a one-row-
    group points file would put all of that work on one task."""
    points = spread_input(points, "lon", "lat")
    if broadcast_boxes:
        # small dim side: skip cells entirely, one broadcast theta join
        p, b = points.alias("p"), F.broadcast(boxes).alias("b")
        return p.join(b, F.expr(_point_in_box("p", "b")))
    # a point lives in exactly one cell -> no dedup needed
    return _cell_join(with_cells(points, res, is_point=True),
                      with_cells(boxes, res, is_point=False),
                      salt, _point_in_box("a", "b"))


def box_intersect_join(left: DataFrame, right: DataFrame, res: int = 10,
                       left_keys: list[str] | None = None,
                       right_keys: list[str] | None = None,
                       salt: int = 0) -> DataFrame:
    """Box-box intersection join (J1/J4): both sides cell-exploded,
    equi-join, exact refine, dedup on the id pair."""
    left_keys = left_keys or ["id_a"]
    right_keys = right_keys or ["id_b"]
    out = _cell_join(with_cells(left, res, is_point=False),
                     with_cells(right, res, is_point=False),
                     salt, _boxes_intersect("a", "b"))
    return out.dropDuplicates(left_keys + right_keys)


# ------------------------------------------------------------------ #
# Range-bounded spatial kNN join                                       #
# ------------------------------------------------------------------ #

KNN_CELL_DEG = 4
KNN_K = 3


def spatial_knn_join(points: DataFrame, sites: DataFrame,
                     k: int = KNN_K, radius_deg: int = KNN_CELL_DEG,
                     point_id: str = "point_id", site_id: str = "site_id",
                     lon_col: str = "lon", lat_col: str = "lat",
                     broadcast_sites: bool = True) -> DataFrame:
    """For every left point, its k nearest right sites by Euclidean
    microdegree distance among sites within Chebyshev distance
    radius_deg -> (point_id, rank, site_id, d2).

    The range bound IS the law (not an approximation of unbounded
    kNN): "nearest depot within 4 degrees" is the production
    semantics, and it is what makes the plan a bounded equi-join —
    blocking cell = radius, ring-1 (9 offsets) provably covers the
    Chebyshev ball from any in-cell position, so no second pass, no
    expanding-ring iteration, no per-point fallback.  Points with
    fewer than k in-range sites return fewer rows.  Ties break on
    site id (deterministic).

    Scale shape: 9-offset explode on the POINT side (the big side
    fans out, the site side stays 1x), join on the block key, then a
    per-point row_number over candidate groups bounded by local site
    density * (3 cells)^2 — many tiny windows, no global sort.

    broadcast_sites=True (DEFAULT): the blocked site table broadcasts
    and the join runs scan-side — NO exchange keyed on blocks, so a
    mega-city block cannot become a straggler partition; the only
    shuffle is the pid-hash window exchange, which is uniform by
    construction.  Site tables are typically 1e3-1e7 rows — far under
    executor memory.  False = shuffle join on the block key for site
    tables too big to broadcast; measured 0.37 scaling efficiency
    4->16 under a mega-box hot key (BENCH 10t) — salt hot blocks
    before choosing this path at scale.
    """
    from pyspark.sql import Window

    ru = radius_deg * 1_000_000
    qp = (points.select(
        F.col(point_id).alias("pid"),
        F.expr(f"CAST(floor({lon_col} * 1e6 + 0.5e0) AS BIGINT)")
        .alias("px"),
        F.expr(f"CAST(floor({lat_col} * 1e6 + 0.5e0) AS BIGINT)")
        .alias("py"))
        .withColumn("bx", F.expr(f"CAST(floor(px / {ru}e0) AS BIGINT)"))
        .withColumn("by", F.expr(f"CAST(floor(py / {ru}e0) AS BIGINT)")))
    qs = (sites.select(
        F.col(site_id).alias("sid"),
        F.expr(f"CAST(floor({lon_col} * 1e6 + 0.5e0) AS BIGINT)")
        .alias("sx"),
        F.expr(f"CAST(floor({lat_col} * 1e6 + 0.5e0) AS BIGINT)")
        .alias("sy"))
        .withColumn("bx", F.expr(f"CAST(floor(sx / {ru}e0) AS BIGINT)"))
        .withColumn("by", F.expr(f"CAST(floor(sy / {ru}e0) AS BIGINT)")))
    off = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("o")
    lhs = (qp.select("pid", "px", "py", "bx", "by", off)
           .select("pid", "px", "py",
                   (F.col("bx") + F.col("o.dx")).alias("bx"),
                   (F.col("by") + F.col("o.dy")).alias("by")))
    rhs = F.broadcast(qs) if broadcast_sites else qs
    lhs2 = lhs if broadcast_sites else lhs.hint("shuffle_hash")
    cand = (lhs2.join(rhs, ["bx", "by"])
            .where(F.expr(f"greatest(abs(px - sx), abs(py - sy))"
                          f" <= {ru}"))
            .select("pid", "sid",
                    F.expr("(px - sx) * (px - sx)"
                           " + (py - sy) * (py - sy)").alias("d2")))
    w = Window.partitionBy("pid").orderBy("d2", "sid")
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("pid").alias(point_id), "rank",
                    F.col("sid").alias(site_id), "d2"))


def spatial_knn_join_sql(points_sql: str, sites_sql: str,
                         k: int = KNN_K,
                         radius_deg: int = KNN_CELL_DEG,
                         point_id: str = "point_id",
                         site_id: str = "site_id",
                         lon_col: str = "lon",
                         lat_col: str = "lat") -> str:
    ru = radius_deg * 1_000_000
    offs = ", ".join(f"({dx}, {dy})"
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
    WITH p AS MATERIALIZED (
      SELECT {point_id} AS pid,
             CAST(floor({lon_col} * 1e6 + 0.5e0) AS BIGINT) AS px,
             CAST(floor({lat_col} * 1e6 + 0.5e0) AS BIGINT) AS py
      FROM ({points_sql})),
    s AS MATERIALIZED (
      SELECT {site_id} AS sid,
             CAST(floor({lon_col} * 1e6 + 0.5e0) AS BIGINT) AS sx,
             CAST(floor({lat_col} * 1e6 + 0.5e0) AS BIGINT) AS sy
      FROM ({sites_sql})),
    pb AS (SELECT *, CAST(floor(px / {ru}e0) AS BIGINT) AS bx,
                  CAST(floor(py / {ru}e0) AS BIGINT) AS by FROM p),
    sb AS (SELECT *, CAST(floor(sx / {ru}e0) AS BIGINT) AS bx,
                  CAST(floor(sy / {ru}e0) AS BIGINT) AS by FROM s),
    cand AS (
      SELECT pb.pid, sb.sid,
             (pb.px - sb.sx) * (pb.px - sb.sx)
             + (pb.py - sb.sy) * (pb.py - sb.sy) AS d2
      FROM pb
      JOIN (VALUES {offs}) o(dx, dy) ON true
      JOIN sb ON sb.bx = pb.bx + o.dx AND sb.by = pb.by + o.dy
      WHERE greatest(abs(pb.px - sb.sx), abs(pb.py - sb.sy)) <= {ru}),
    rk AS (SELECT pid, sid, d2,
                  row_number() OVER (PARTITION BY pid
                                     ORDER BY d2, sid) AS rank
           FROM cand)
    SELECT pid AS {point_id}, rank, sid AS {site_id}, d2
    FROM rk WHERE rank <= {k}
    """

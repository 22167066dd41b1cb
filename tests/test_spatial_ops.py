"""Unit tests for the spatial-join / kNN / PIP operator family against
tiny brute-force python oracles (independent of the DuckDB harness)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aef_mosaic_spark import cells
from aef_mosaic_spark.operators import knn as K
from aef_mosaic_spark.operators import pip as P
from aef_mosaic_spark.operators import spatial_join as S


def _points_pdf(n=200):
    rng = np.random.RandomState(1)
    return pd.DataFrame({
        "point_id": np.arange(n),
        "lon": rng.uniform(-20, 20, n).round(4),
        "lat": rng.uniform(-20, 20, n).round(4),
    })


def _boxes_pdf(n=40):
    rng = np.random.RandomState(2)
    lo = rng.uniform(-20, 18, (n, 2)).round(4)
    return pd.DataFrame({
        "box_id": np.arange(n),
        "min_lon": lo[:, 0],
        "min_lat": lo[:, 1],
        "max_lon": (lo[:, 0] + rng.uniform(0.5, 4, n)).round(4),
        "max_lat": (lo[:, 1] + rng.uniform(0.5, 4, n)).round(4),
    })


def _pib_oracle(pts, boxes):
    out = set()
    for p in pts.itertuples(index=False):
        for b in boxes.itertuples(index=False):
            if (b.min_lon <= p.lon < b.max_lon) and (b.min_lat <= p.lat < b.max_lat):
                out.add((p.point_id, b.box_id))
    return out


@pytest.mark.parametrize("kwargs", [{}, {"salt": 4}, {"broadcast_boxes": True}])
def test_point_in_box_join_variants(spark, kwargs):
    pts, boxes = _points_pdf(), _boxes_pdf()
    got = {
        (r.point_id, r.box_id)
        for r in S.point_in_box_join(
            spark.createDataFrame(pts), spark.createDataFrame(boxes),
            res=8, **kwargs,
        ).select("point_id", "box_id").collect()
    }
    assert got == _pib_oracle(pts, boxes)


def test_box_intersect_join(spark):
    a = _boxes_pdf(30).rename(columns={"box_id": "id_a"})
    b = _boxes_pdf(25).rename(columns={"box_id": "id_b"})
    b[["min_lon", "max_lon"]] = b[["min_lon", "max_lon"]] + 1.0
    got = {
        (r.id_a, r.id_b)
        for r in S.box_intersect_join(
            spark.createDataFrame(a), spark.createDataFrame(b), res=7,
        ).select("id_a", "id_b").collect()
    }
    want = set()
    for x in a.itertuples(index=False):
        for y in b.itertuples(index=False):
            if (x.min_lon < y.max_lon and x.max_lon > y.min_lon
                    and x.min_lat < y.max_lat and x.max_lat > y.min_lat):
                want.add((x.id_a, y.id_b))
    assert got == want


def test_point_in_polygon_join_concave(spark):
    # concave "L" polygon: ray-casting must reject the notch
    poly = pd.DataFrame([{
        "poly_id": 1,
        "xs": [0.0, 4.0, 4.0, 2.0, 2.0, 0.0],
        "ys": [0.0, 0.0, 2.0, 2.0, 4.0, 4.0],
        "min_lon": 0.0, "min_lat": 0.0, "max_lon": 4.0, "max_lat": 4.0,
    }])
    pts = pd.DataFrame({
        "point_id": [1, 2, 3, 4],
        "lon": [1.0, 3.0, 3.0, 1.0],
        "lat": [1.0, 1.0, 3.0, 3.0],  # (3,3) is in the notch -> outside
    })
    got = {
        r.point_id
        for r in P.point_in_polygon_join(
            spark.createDataFrame(pts), spark.createDataFrame(poly), res=5,
        ).collect()
    }
    assert got == {1, 2, 4}


def test_knn_hamming_exact_vs_bruteforce(spark):
    rng = np.random.RandomState(3)
    hashes = rng.randint(0, 2**62, 100, dtype=np.int64)
    items = pd.DataFrame({"item_id": [f"i{j:03d}" for j in range(100)],
                          "phash": hashes})
    qs = items.iloc[:5].rename(columns={"item_id": "query_id"})
    got = K.knn_hamming_exact(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=3
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.item_id, r.dist))
    for qi in range(5):
        qid = f"i{qi:03d}"
        dists = sorted(
            (bin(int(hashes[qi]) ^ int(h)).count("1"), items.item_id[j])
            for j, h in enumerate(hashes) if items.item_id[j] != qid
        )[:3]
        want = [(rk + 1, iid, d) for rk, (d, iid) in enumerate(dists)]
        assert sorted(by_q[qid]) == want


def _aggregates(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "HashAggregate" in plan or "SortAggregate" in plan


def _flip(h: int, bits) -> int:
    v = int(h) & (2**64 - 1)
    for b in bits:
        v ^= 1 << int(b)
    return v - 2**64 if v >= 2**63 else v


def test_knn_hamming_banded_equals_exact(spark):
    """Each query's true top-k lies within Hamming < n_bands, so the
    banded candidates hold it; the query's twins (equal hash) agree on
    every band and must still be emitted once."""
    n_bands, k = 4, 4
    rng = np.random.RandomState(6)
    far = rng.randint(np.iinfo(np.int64).min, np.iinfo(np.int64).max, 60,
                      dtype=np.int64)
    rows = [(f"i{j:03d}", int(h)) for j, h in enumerate(far)]
    for qi in range(5):
        h = int(far[qi])
        bits = rng.choice(64, 3, replace=False)
        rows += [(f"q{qi}t0", h), (f"q{qi}t1", h),
                 (f"q{qi}d1", _flip(h, bits[:1])), (f"q{qi}d2", _flip(h, bits[:2])),
                 (f"q{qi}d3", _flip(h, bits))]
    items = spark.createDataFrame(rows, "item_id string, phash long")
    qs = items.where(F.col("item_id") < "i005") \
        .withColumnRenamed("item_id", "query_id")
    exact = K.knn_hamming_exact(qs, items, k=k).collect()
    assert max(r.dist for r in exact) < n_bands
    banded_df = K.knn_hamming_banded(qs, items, k=k, n_bands=n_bands)
    banded = banded_df.collect()
    pairs = [(r.query_id, r.item_id) for r in banded]
    assert len(pairs) == len(set(pairs)) == 5 * k
    assert sorted(map(tuple, banded)) == sorted(map(tuple, exact))
    assert not _aggregates(banded_df)


def test_knn_cosine_exact_vs_numpy(spark):
    rng = np.random.RandomState(4)
    vecs = rng.randn(60, 8).round(4)
    items = pd.DataFrame({"item_id": np.arange(60),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[:3].rename(columns={"item_id": "query_id"})
    got = K.knn_cosine_exact(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=4
    ).collect()
    norms = np.linalg.norm(vecs, axis=1)
    sims = (vecs @ vecs.T) / np.outer(norms, norms)
    for qi in range(3):
        want_order = [
            int(j) for j in np.lexsort((np.arange(60), -sims[qi].round(6)))
            if j != qi
        ][:4]
        got_order = [r.item_id for r in sorted(
            (r for r in got if r.query_id == qi), key=lambda r: r.rank)]
        assert got_order == want_order


def test_ann_lsh_recall(spark):
    # clustered vectors: ANN must find the true NN for most queries
    rng = np.random.RandomState(5)
    centers = rng.randn(10, 16) * 3
    vecs = np.vstack([c + rng.randn(20, 16) * 0.05 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(200),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::40].rename(columns={"item_id": "query_id"})
    exact = K.knn_cosine_exact(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=1).collect()
    ann_df = K.ann_cosine_lsh(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=1,
        dim=16, n_planes=8, max_sig_hamming=2)
    ann = ann_df.collect()
    assert not _aggregates(ann_df)  # no dedup over (query, item)
    exact_nn = {r.query_id: r.item_id for r in exact}
    ann_nn = {r.query_id: r.item_id for r in ann}
    hits = sum(ann_nn.get(k) == v for k, v in exact_nn.items())
    assert hits >= len(exact_nn) * 0.8


def test_cells_consistency_np_col_sql(spark):
    import duckdb
    pts = _points_pdf(100)
    want = cells.cell_id_np(pts.lon.to_numpy(), pts.lat.to_numpy(), 12)
    got_col = (
        spark.createDataFrame(pts)
        .select(cells.cell_id_col(F.col("lon"), F.col("lat"), 12).alias("c"))
        .toPandas()["c"].to_numpy()
    )
    con = duckdb.connect()
    con.register("pts", pts)
    got_sql = con.sql(
        f"SELECT {cells.cell_id_sql('lon', 'lat', 12)} AS c FROM pts"
    ).fetchnumpy()["c"]
    assert np.array_equal(np.sort(want), np.sort(got_col))
    assert np.array_equal(np.sort(want), np.sort(got_sql.astype(np.int64)))


def test_cell_ring_and_parent():
    c = int(cells.cell_id_np(np.array([10.0]), np.array([20.0]), 10)[0])
    ring = cells.cell_ring(c, 1)
    assert len(ring) == 9 and c in ring
    par = cells.cell_parent(np.array([c]), 8)[0]
    b = cells.cell_bounds(int(par))
    assert b[0] <= 10.0 <= b[2] and b[1] <= 20.0 <= b[3]


def test_covering_cells_col_matches_np(spark):
    boxes = _boxes_pdf(20)
    sdf = spark.createDataFrame(boxes).select(
        "box_id",
        cells.covering_cells_col(F.col("min_lon"), F.col("min_lat"),
                                 F.col("max_lon"), F.col("max_lat"), 8).alias("cc"),
    ).toPandas()
    for row in sdf.itertuples(index=False):
        b = boxes[boxes.box_id == row.box_id].iloc[0]
        want = set(cells.cells_covering_bbox(
            (b.min_lon, b.min_lat, b.max_lon, b.max_lat), 8).tolist())
        assert set(row.cc) == want, row.box_id


def test_covering_superset_tiny_extent_regression(spark):
    # regression: box with max_lat = 5.66e-15 must still cover the cell
    # row containing lat=0 points (an exclusive-edge epsilon in the
    # covering once dropped this row and lost join matches at sf0.1)
    box = pd.DataFrame([{
        "box_id": 1, "min_lon": 138.7, "min_lat": -1.0999999999999943,
        "max_lon": 139.89999999999998, "max_lat": 5.662137425588298e-15,
    }])
    pts = pd.DataFrame([{"point_id": 1, "lon": 139.0, "lat": 0.0}])
    got = S.point_in_box_join(
        spark.createDataFrame(pts), spark.createDataFrame(box), res=10
    ).select("point_id", "box_id").collect()
    assert {(r.point_id, r.box_id) for r in got} == {(1, 1)}
    # numpy covering agrees
    cover = set(cells.cells_covering_bbox(
        (138.7, -1.0999999999999943, 139.89999999999998,
         5.662137425588298e-15), 10).tolist())
    c = int(cells.cell_id_np(np.array([139.0]), np.array([0.0]), 10)[0])
    assert c in cover


def _edge_points(res):
    """Grid corners and edges (+-180, +-90), a point 5.7e-15 above the
    equator, and seeded points, for cell-key parity at `res`."""
    rng = np.random.RandomState(res)
    w = 360.0 / (1 << res)
    lon = np.concatenate([[-180.0, 180.0, -180.0, 180.0, 0.0, 139.0, 2 * w - 180.0],
                          rng.uniform(-180, 180, 200)])
    lat = np.concatenate([[-90.0, 90.0, 90.0, -90.0, 5.7e-15, 0.0, 0.0],
                          rng.uniform(-90, 90, 200)])
    return pd.DataFrame({"point_id": np.arange(len(lon)), "lon": lon, "lat": lat})


def _edge_boxes(res):
    """Boxes at both grid corners, one whose max lies exactly on a cell
    edge, and (res 10) the 5.66e-15 regression box; at res 0 the whole
    world. Every box spans only a few cells at any res."""
    w, h = 360.0 / (1 << res), 180.0 / (1 << res)
    rows = [(-180.0, -90.0, -180.0 + 1.5 * w, -90.0 + 1.5 * h),
            (180.0 - 1.5 * w, 90.0 - 1.5 * h, 180.0, 90.0),
            (0.25 * w, 0.25 * h, 2 * w, 2 * h)]
    if res == 10:
        rows.append((138.7, -1.0999999999999943, 139.89999999999998,
                     5.662137425588298e-15))
    if res == 0:
        rows.append((-180.0, -90.0, 180.0, 90.0))
    return pd.DataFrame([dict(zip(("min_lon", "min_lat", "max_lon", "max_lat"), r),
                              box_id=i) for i, r in enumerate(rows)])


@pytest.mark.parametrize("res", [0, 10, 12, 28])
def test_sql_cell_key_matches_np_col_and_duckdb(spark, res):
    """The join's cell key (SQL text in Spark) is the same law as the
    numpy, Column and DuckDB twins, at the grid's edges too."""
    import duckdb
    pts = _edge_points(res)
    want = cells.cell_id_np(pts.lon.to_numpy(), pts.lat.to_numpy(), res)
    sdf = spark.createDataFrame(pts)
    got = (S.with_cells(sdf, res, is_point=True)
           .select("point_id", "_cell", cells.cell_id_col(
               F.col("lon"), F.col("lat"), res).alias("c"))
           .toPandas().sort_values("point_id"))
    con = duckdb.connect()
    con.register("pts", pts)
    got_duck = con.sql(
        f"SELECT {cells.cell_id_sql('lon', 'lat', res)} AS c FROM pts ORDER BY point_id"
    ).fetchnumpy()["c"].astype(np.int64)
    assert np.array_equal(got["_cell"].to_numpy(), want)
    assert np.array_equal(got["c"].to_numpy(), want)
    assert np.array_equal(got_duck, want)


@pytest.mark.parametrize("res", [0, 10, 12, 28])
def test_sql_covering_matches_np_and_col(spark, res):
    """The join's covering (SQL text in Spark) is cells_covering_bbox
    and covering_cells_col, with the inclusive max edge."""
    boxes = _edge_boxes(res)
    sdf = spark.createDataFrame(boxes)
    got = (S.with_cells(sdf, res, is_point=False)
           .groupBy("box_id").agg(F.collect_set("_cell").alias("cc"))
           .toPandas())
    col = sdf.select("box_id", cells.covering_cells_col(
        F.col("min_lon"), F.col("min_lat"), F.col("max_lon"), F.col("max_lat"),
        res).alias("cc")).toPandas()
    assert len(got) == len(col) == len(boxes)
    for b in boxes.itertuples(index=False):
        want = set(cells.cells_covering_bbox(
            (b.min_lon, b.min_lat, b.max_lon, b.max_lat), res).tolist())
        assert set(got[got.box_id == b.box_id].cc.iloc[0]) == want, b
        assert set(col[col.box_id == b.box_id].cc.iloc[0]) == want, b
    # the edge box's max sits exactly on a cell edge: inclusive covering
    assert len(cells.cells_covering_bbox(tuple(boxes.iloc[2][
        ["min_lon", "min_lat", "max_lon", "max_lat"]]), res)) == (9 if res else 1)


@pytest.mark.parametrize("kwargs", [{}, {"salt": 4}, {"broadcast_boxes": True}])
def test_point_in_box_join_plan_build_py4j_calls(spark, tmp_path, monkeypatch, kwargs):
    """Building the join's lazy plan, spread_input's probe included,
    costs tens of py4j round trips (a Column-built plan took ~1,000)."""
    pts, boxes = str(tmp_path / "pts"), str(tmp_path / "boxes")
    spark.createDataFrame(_points_pdf()).coalesce(1).write.parquet(pts)
    spark.createDataFrame(_boxes_pdf()).coalesce(1).write.parquet(boxes)
    S.point_in_box_join(spark.read.parquet(pts), spark.read.parquet(boxes),
                        res=12, **kwargs)  # warm py4j's class lookups
    p, b = spark.read.parquet(pts), spark.read.parquet(boxes)
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counted(*a, **k):
        calls.append(1)
        return send(*a, **k)
    monkeypatch.setattr(client, "send_command", counted)
    S.point_in_box_join(p, b, res=12, **kwargs)
    monkeypatch.undo()
    assert 0 < len(calls) <= 100


_EMPTY_POINTS = "point_id long, lon double, lat double"
_EMPTY_BOXES = "box_id long, min_lon double, min_lat double, max_lon double, max_lat double"


@pytest.mark.parametrize("kwargs", [{}, {"salt": 4}, {"broadcast_boxes": True}])
@pytest.mark.parametrize("case", ["no_points", "no_boxes", "one_point_file"])
def test_point_in_box_join_degenerate_inputs(spark, tmp_path, kwargs, case):
    pts, boxes = _points_pdf(), _boxes_pdf()
    if case == "no_points":
        pts = pts.iloc[:0]
        p = spark.createDataFrame([], _EMPTY_POINTS)
    elif case == "one_point_file":
        hit = boxes.iloc[0]
        pts = pd.DataFrame({"point_id": [7], "lon": [hit.min_lon], "lat": [hit.min_lat]})
        spark.createDataFrame(pts).write.parquet(str(tmp_path / "one"))
        p = spark.read.parquet(str(tmp_path / "one"))
    else:
        p = spark.createDataFrame(pts)
    if case == "no_boxes":
        boxes = boxes.iloc[:0]
        b = spark.createDataFrame([], _EMPTY_BOXES)
    else:
        b = spark.createDataFrame(boxes)
    got = {(r.point_id, r.box_id) for r in S.point_in_box_join(
        p, b, res=8, **kwargs).select("point_id", "box_id").collect()}
    assert got == _pib_oracle(pts, boxes)
    if case == "one_point_file":
        assert (7, 0) in got


@pytest.mark.parametrize("case", ["no_left", "no_right", "one_left_file"])
def test_box_intersect_join_degenerate_inputs(spark, tmp_path, case):
    a = _boxes_pdf(30).rename(columns={"box_id": "id_a"})
    b = _boxes_pdf(25).rename(columns={"box_id": "id_b"})
    empty = _EMPTY_BOXES.replace("box_id", "{}")
    left = spark.createDataFrame(a)
    right = spark.createDataFrame(b)
    if case == "no_left":
        a, left = a.iloc[:0], spark.createDataFrame([], empty.format("id_a"))
    elif case == "no_right":
        b, right = b.iloc[:0], spark.createDataFrame([], empty.format("id_b"))
    else:
        a = a.iloc[:1]
        spark.createDataFrame(a).write.parquet(str(tmp_path / "one"))
        left = spark.read.parquet(str(tmp_path / "one"))
    got = {(r.id_a, r.id_b) for r in S.box_intersect_join(
        left, right, res=7).select("id_a", "id_b").collect()}
    want = {(x.id_a, y.id_b) for x in a.itertuples(index=False)
            for y in b.itertuples(index=False)
            if x.min_lon < y.max_lon and x.max_lon > y.min_lon
            and x.min_lat < y.max_lat and x.max_lat > y.min_lat}
    assert got == want


def test_ann_ivf_recall(spark):
    # clustered vectors: IVF with 4-probe must recover the true NN for
    # most queries (coarse-quantizer scale path)
    rng = np.random.RandomState(9)
    centers = rng.randn(8, 16) * 3
    vecs = np.vstack([c + rng.randn(25, 16) * 0.05 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(200),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::40].rename(columns={"item_id": "query_id"})
    exact = K.knn_cosine_exact(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=1).collect()
    ivf = K.ann_cosine_ivf(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=1,
        dim=16, n_lists=8, n_probe=3).collect()
    exact_nn = {r.query_id: r.item_id for r in exact}
    ivf_nn = {r.query_id: r.item_id for r in ivf}
    hits = sum(ivf_nn.get(kq) == v for kq, v in exact_nn.items())
    assert hits >= len(exact_nn) * 0.8
    # deterministic across invocations
    ivf2 = K.ann_cosine_ivf(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=1,
        dim=16, n_lists=8, n_probe=3).collect()
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, ivf2))


def test_sample_raster_at_points_matches_numpy(spark):
    """raster->vector point sampling: the JVM byte-extraction join must
    equal decoding the chunk in numpy and indexing [band, py, px]."""
    import numpy as np

    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.operators.raster_vector import sample_chunks_at_points

    grid = OutputGrid(bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
                      crs="EPSG:32610", resolution=10.0, years=(2023, 2024),
                      num_bands=3, chunk_h=256, chunk_w=256)
    chunks = spark.read.parquet("fixtures/golden_chunks_mean.parquet")
    pdf = chunks.limit(3).toPandas()
    pts = spark.createDataFrame([
        {"point_id": i, "time_idx": int(r.time_idx),
         "x": 499000.0 + (r.col_idx * 256 + 10 + i) * 10.0 + 5.0,
         "y": 4105240.0 - (r.row_idx * 256 + 20 + i) * 10.0 - 5.0}
        for i, r in enumerate(pdf.itertuples(index=False))])
    got = {r.point_id: r.value for r in sample_chunks_at_points(
        chunks, pts, grid, band=1).collect()}
    for i, r in enumerate(pdf.itertuples(index=False)):
        arr = np.frombuffer(r.chunk_bytes, np.uint8).reshape(3, 256, 256)
        assert got[i] == int(arr[1, 20 + i, 10 + i]), i


def test_zonal_stats_branches_agree_and_shuffle_branch_has_no_broadcast(spark):
    """zonal_stats: the forced-shuffle branch (what auto picks past the
    window-list threshold) must equal the broadcast branch exactly, and
    its physical plan must contain no BroadcastExchange (the 10^8-zone
    OOM guard, VERDICT r2 'What's wrong #2')."""
    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.operators.raster_vector import zonal_stats

    grid = OutputGrid(bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
                      crs="EPSG:32610", resolution=10.0, years=(2023, 2024),
                      num_bands=3, chunk_h=256, chunk_w=256)
    chunks = spark.read.parquet("fixtures/golden_chunks_mean.parquet")
    # boxes spanning chunk borders + several boxes per chunk (exercises
    # the decode-once window-list grouping in both branches)
    boxes = spark.createDataFrame([
        {"box_id": i, "time_idx": i % 2,
         "min_x": 499000.0 + (i * 700) % 9000,
         "min_y": 4095000.0 + (i * 450) % 9000,
         "max_x": 499000.0 + (i * 700) % 9000 + 2800.0,
         "max_y": 4095000.0 + (i * 450) % 9000 + 2800.0}
        for i in range(24)])
    bc = zonal_stats(chunks, boxes, grid, band=1, broadcast=True)
    sh = zonal_stats(chunks, boxes, grid, band=1, broadcast=False)
    auto = zonal_stats(chunks, boxes, grid, band=1, broadcast="auto")
    got_bc = sorted(map(tuple, bc.collect()))
    got_sh = sorted(map(tuple, sh.collect()))
    got_auto = sorted(map(tuple, auto.collect()))
    assert got_bc and got_bc == got_sh == got_auto
    # broadcast=False must not FORCE a broadcast (no hint in the plan);
    # AQE may still pick one at runtime when the side is genuinely
    # small — that's the safe, size-based decision the fix wants. With
    # the hint absent, a 10^8-zone side simply shuffles.
    assert "ResolvedHint (strategy=broadcast)" not in sh._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint (strategy=broadcast)" in bc._jdf.queryExecution().analyzed().toString()
    # tiny auto input -> counts the window lists and picks broadcast
    assert "ResolvedHint (strategy=broadcast)" in auto._jdf.queryExecution().analyzed().toString()


def test_ann_pq_recall_and_determinism(spark):
    """PQ ANN: on clustered vectors the compressed-domain top-1 finds
    the true NN for most queries, and repeated invocations are
    bit-identical (seeded codebooks, quantized distances)."""
    rng = np.random.RandomState(7)
    centers = rng.randn(10, 16) * 3
    vecs = np.vstack([c + rng.randn(20, 16) * 0.05 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(200),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::40].rename(columns={"item_id": "query_id"})
    exact = K.knn_cosine_exact(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=1).collect()
    pq = K.ann_cosine_pq(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=1,
        dim=16, m=4, ksub=8).collect()
    exact_nn = {r.query_id: r.item_id for r in exact}
    pq_nn = {r.query_id: r.item_id for r in pq}
    # at 12-bit codes every cluster-mate reconstructs (near-)identically,
    # so the compressed-domain top-1 is the right CLUSTER with the id
    # tie-break inside it — assert cluster recall (the shortlist an
    # exact re-rank would refine), not exact-id recall
    hits = sum(pq_nn.get(kq) // 20 == v // 20 for kq, v in exact_nn.items())
    assert hits == len(exact_nn)
    pq2 = K.ann_cosine_pq(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=1,
        dim=16, m=4, ksub=8).collect()
    assert sorted(map(tuple, pq)) == sorted(map(tuple, pq2))


def test_ann_pq_rerank_beats_raw_pq(spark):
    """Shortlist + exact re-rank must recover EXACT top-1 id recall
    (the compressed-domain ties that cap raw PQ are broken by raw
    vectors), at O(shortlist) raw-vector reads per query."""
    rng = np.random.RandomState(7)
    centers = rng.randn(10, 16) * 3
    vecs = np.vstack([c + rng.randn(20, 16) * 0.05 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(200),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::40].rename(columns={"item_id": "query_id"})
    exact = K.knn_cosine_exact(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=1).collect()
    # shortlist must COVER the compressed-domain tie set (20
    # cluster-mates reconstruct identically at 12-bit codes); with
    # k*mult >= cluster size the re-rank recovers exact ids
    rr = K.ann_cosine_pq_rerank(
        spark.createDataFrame(qs), spark.createDataFrame(items), k=1,
        dim=16, m=4, ksub=8, shortlist_mult=24).collect()
    exact_nn = {r.query_id: r.item_id for r in exact}
    rr_nn = {r.query_id: r.item_id for r in rr}
    assert rr_nn == exact_nn


def test_ann_ivfpq_full_probe_equals_pq(spark):
    """IVF+PQ composite: probing ALL coarse lists degenerates to the
    full compressed-domain scan, so the result must EQUAL
    ann_cosine_pq bit-for-bit (same codebooks, same quantized
    distances, same tie-breaks). With a partial probe the result is a
    subset-restricted ranking that still finds the true cluster on
    clustered data."""
    rng = np.random.RandomState(11)
    centers = rng.randn(8, 16) * 3
    vecs = np.vstack([c + rng.randn(15, 16) * 0.05 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(120),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::30].rename(columns={"item_id": "query_id"})
    sq, si = spark.createDataFrame(qs), spark.createDataFrame(items)

    pq = K.ann_cosine_pq(sq, si, k=3, dim=16, m=4, ksub=8).collect()
    full = K.ann_cosine_ivfpq(sq, si, k=3, dim=16, n_lists=4, n_probe=4,
                              m=4, ksub=8).collect()
    assert sorted(map(tuple, pq)) == sorted(map(tuple, full))

    part = K.ann_cosine_ivfpq(sq, si, k=1, dim=16, n_lists=4, n_probe=2,
                              m=4, ksub=8).collect()
    exact = K.knn_cosine_exact(sq, si, k=1).collect()
    exact_nn = {r.query_id: r.item_id for r in exact}
    part_nn = {r.query_id: r.item_id for r in part}
    hits = sum(part_nn.get(kq) // 15 == v // 15
               for kq, v in exact_nn.items())
    assert hits == len(exact_nn)  # cluster recall under partial probe


def test_ann_ivfpq_adc_equals_recon_variant(spark):
    """ADC lookup-table distances rank identically to the recon-based
    composite on the fixture corpus (values agree except at sub-ulp
    floor boundaries, none of which occur here)."""
    rng = np.random.RandomState(13)
    centers = rng.randn(8, 16) * 3
    vecs = np.vstack([c + rng.randn(15, 16) * 0.05 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(120),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::30].rename(columns={"item_id": "query_id"})
    sq, si = spark.createDataFrame(qs), spark.createDataFrame(items)
    recon = K.ann_cosine_ivfpq(sq, si, k=3, dim=16, n_lists=4,
                               n_probe=2, m=4, ksub=8).collect()
    adc = K.ann_cosine_ivfpq_adc(sq, si, k=3, dim=16, n_lists=4,
                                 n_probe=2, m=4, ksub=8).collect()
    assert sorted(map(tuple, recon)) == sorted(map(tuple, adc))


def test_persisted_ivfpq_index_probe_matches_direct(spark, tmp_path):
    """build_ivfpq_index -> probe_ivfpq_index == the direct ADC
    operator; the index table stores codes partitioned by coarse
    list, and the probe scans codes only."""
    rng = np.random.RandomState(17)
    centers = rng.randn(8, 16) * 3
    vecs = np.vstack([c + rng.randn(15, 16) * 0.05 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(120),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::30].rename(columns={"item_id": "query_id"})
    sq, si = spark.createDataFrame(qs), spark.createDataFrame(items)

    path = str(tmp_path / "ivfpq_idx")
    K.build_ivfpq_index(si, path, dim=16, n_lists=4, m=4, ksub=8)
    got = K.probe_ivfpq_index(sq, path, k=3, n_probe=2).collect()
    direct = K.ann_cosine_ivfpq_adc(sq, si, k=3, dim=16, n_lists=4,
                                    n_probe=2, m=4, ksub=8).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, direct))
    # the index table really is codes-only (no raw vectors)
    from aef_mosaic_spark.sources.icelite import Icelite
    idx = Icelite(path).read(spark)
    assert set(idx.columns) == {"item_id", "list", "c0", "c1", "c2", "c3"}


def test_opq_rotation_orthonormal_and_recall(spark):
    R = np.asarray(K.make_rotation(16, seed=7))
    assert np.abs(R @ R.T - np.eye(16)).max() < 1e-4   # 6dp literals
    # determinism
    assert K.make_rotation(16, seed=7) == K.make_rotation(16, seed=7)
    # rotated-space PQ keeps cluster recall (norm-preserving rotation
    # cannot change the true ranking; only the quantizer fit moves)
    rng = np.random.RandomState(29)
    centers = rng.randn(8, 16) * 3
    vecs = np.vstack([c + rng.randn(15, 16) * 0.05 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(120),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::30].rename(columns={"item_id": "query_id"})
    sq, si = spark.createDataFrame(qs), spark.createDataFrame(items)
    exact = {r.query_id: r.item_id for r in
             K.knn_cosine_exact(sq, si, k=1).collect()}
    opq = {r.query_id: r.item_id for r in
           K.ann_cosine_opq(sq, si, k=1, dim=16, m=4, ksub=8).collect()}
    hits = sum(opq[kq] // 15 == v // 15 for kq, v in exact.items())
    assert hits == len(exact)
    # repeated invocation bit-identical
    opq2 = {r.query_id: r.item_id for r in
            K.ann_cosine_opq(sq, si, k=1, dim=16, m=4, ksub=8).collect()}
    assert opq == opq2


def test_ivfpq_codes_input_skips_reencode(spark):
    """encode_ivfpq_items once -> codes= into BOTH composite
    operators == the inline-encode results bit-for-bit, and the
    codes-fed plans contain no raw-vector item scan (no per-item
    unit-normalize aggregate on the build side)."""
    rng = np.random.RandomState(19)
    centers = rng.randn(8, 16) * 3
    vecs = np.vstack([c + rng.randn(15, 16) * 0.05 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(120),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::30].rename(columns={"item_id": "query_id"})
    sq, si = spark.createDataFrame(qs), spark.createDataFrame(items)

    codes, cents, books = K.encode_ivfpq_items(
        si, dim=16, n_lists=4, m=4, ksub=8)
    codes = codes.cache()
    codes.count()

    for fn in (K.ann_cosine_ivfpq, K.ann_cosine_ivfpq_adc):
        inline = fn(sq, si, k=3, dim=16, n_lists=4, n_probe=2,
                    m=4, ksub=8).collect()
        fed = fn(sq, None, k=3, dim=16, n_lists=4, n_probe=2, m=4,
                 ksub=8, centroids=cents, books=books,
                 codes=codes).collect()
        assert sorted(map(tuple, inline)) == sorted(map(tuple, fed))

    # codes= without the matching codebooks must refuse
    import pytest
    with pytest.raises(ValueError, match="codes= requires"):
        K.ann_cosine_ivfpq_adc(sq, None, k=3, dim=16, codes=codes)
    codes.unpersist()


def test_recall_at_k_and_lloyd_refinement(spark):
    """recall_at_k computes |approx ∩ exact|/|exact|; deeper Lloyd
    refinement (the opt-in production path) is deterministic across
    invocations and leaves the oracle-parity default (iters=1 /
    refine_iters=1) bit-identical to its historical behavior."""
    rng = np.random.RandomState(11)
    centers = rng.randn(8, 16) * 3
    vecs = np.vstack([c + rng.randn(25, 16) * 0.3 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(200),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::50].rename(columns={"item_id": "query_id"})
    sq, si = spark.createDataFrame(qs), spark.createDataFrame(items)

    exact = K.knn_cosine_exact(sq, si, k=5)
    # recall of exact vs itself is 1.0; vs a disjoint result it's 0.0
    assert K.recall_at_k(exact, exact) == 1.0
    shifted = exact.selectExpr("query_id", "item_id + 1000 AS item_id")
    assert K.recall_at_k(shifted, exact) == 0.0

    ui = K.unit_normalized(si, "embedding", "_u").select(
        "item_id", F.col("_u").alias("embedding"))
    b1a = K.pq_codebooks(ui, "embedding", dim=16, m=4, ksub=8)
    b1b = K.pq_codebooks(ui, "embedding", dim=16, m=4, ksub=8, iters=1)
    assert b1a == b1b                       # default == iters=1
    b3a = K.pq_codebooks(ui, "embedding", dim=16, m=4, ksub=8, iters=3)
    b3b = K.pq_codebooks(ui, "embedding", dim=16, m=4, ksub=8, iters=3)
    assert b3a == b3b and b3a != b1a        # deterministic, and moved

    c5a = K.ivf_centroids(si, "embedding", n_lists=4, dim=16,
                          refine_iters=5)
    c5b = K.ivf_centroids(si, "embedding", n_lists=4, dim=16,
                          refine_iters=5)
    assert c5a == c5b

    # refined books/centroids drive the same pipelines end-to-end
    pq = K.ann_cosine_pq(sq, si, k=5, dim=16, m=4, ksub=8, books=b3a)
    ivf = K.ann_cosine_ivf(sq, si, k=5, dim=16, n_lists=4, n_probe=2,
                           centroids=c5a)
    for out in (pq, ivf):
        got = out.collect()
        assert len(got) == 4 * 5
        assert 0.0 <= K.recall_at_k(out, exact) <= 1.0


def test_build_ivfpq_index_lloyd_refined(spark, tmp_path):
    """lloyd_iters > 1 at index build: the refined codebooks persist
    in the snapshot properties, probes stay self-consistent (probe ==
    direct ADC with the SAME refined codebooks/centroids), and the
    build is deterministic."""
    rng = np.random.RandomState(29)
    centers = rng.randn(8, 16) * 3
    vecs = np.vstack([c + rng.randn(15, 16) * 0.4 for c in centers])
    items = pd.DataFrame({"item_id": np.arange(120),
                          "embedding": [v.tolist() for v in vecs]})
    qs = items.iloc[::30].rename(columns={"item_id": "query_id"})
    sq, si = spark.createDataFrame(qs), spark.createDataFrame(items)

    import json

    from aef_mosaic_spark.sources.icelite import Icelite

    p3 = str(tmp_path / "idx_l3")
    K.build_ivfpq_index(si, p3, dim=16, n_lists=4, m=4, ksub=8,
                        lloyd_iters=3)
    props = Icelite(p3).properties()
    cents3 = json.loads(props["centroids"])
    books3 = json.loads(props["codebooks"])
    # refined training actually moved the codebooks vs the default
    p1 = str(tmp_path / "idx_l1")
    K.build_ivfpq_index(si, p1, dim=16, n_lists=4, m=4, ksub=8)
    assert json.loads(Icelite(p1).properties()["codebooks"]) != books3

    got = K.probe_ivfpq_index(sq, p3, k=3, n_probe=2).collect()
    direct = K.ann_cosine_ivfpq_adc(sq, si, k=3, dim=16, n_lists=4,
                                    n_probe=2, m=4, ksub=8,
                                    centroids=cents3,
                                    books=books3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, direct))

    p3b = str(tmp_path / "idx_l3b")
    K.build_ivfpq_index(si, p3b, dim=16, n_lists=4, m=4, ksub=8,
                        lloyd_iters=3)
    assert json.loads(Icelite(p3b).properties()["codebooks"]) == books3


def test_rasterize_boxes_matches_numpy_all_modes(spark):
    """vector->raster burn-in: every mode equals a brute-force numpy
    burn of the FULL grid (then chunk-sliced); only touched chunks
    materialize; painter's order is ascending box_id; count saturates
    at 255 conceptually (here depths are small); zonal_stats over the
    burned plane reads back the exact burned windows."""
    import numpy as np

    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.operators.raster_vector import (
        rasterize_boxes, zonal_stats)

    # tiny 3x3-chunk grid, 32x32 px chunks, res 10
    grid = OutputGrid(bounds=(0.0, 0.0, 960.0, 960.0),
                      crs="EPSG:32610", resolution=10.0,
                      years=(2023, 2023), num_bands=1,
                      chunk_h=32, chunk_w=32)
    H = W = 96
    boxes = [
        # (box_id, min_x, min_y, max_x, max_y, value)
        (1, 15.0, 15.0, 335.0, 325.0, 40),    # spans chunks (r2?,..)
        (2, 300.0, 300.0, 620.0, 640.0, 90),  # overlaps box 1 corner
        (3, 10.0, 900.0, 90.0, 955.0, 200),   # top-left sliver
        (4, 155.0, 155.0, 165.0, 165.0, 250), # sub-pixel-ish box
    ]
    bdf = spark.createDataFrame(
        boxes, "box_id long, min_x double, min_y double, "
               "max_x double, max_y double, value int")

    def brute(mode):
        acc = np.zeros((H, W), np.int32)
        touched = np.zeros((H, W), bool)
        for bid, x0, y0, x1, y1, v in sorted(boxes):
            px0 = max(int(np.floor(x0 / 10.0)), 0)
            px1 = min(int(np.ceil(x1 / 10.0)), W)
            py0 = max(int(np.floor((960.0 - y1) / 10.0)), 0)
            py1 = min(int(np.ceil((960.0 - y0) / 10.0)), H)
            if px0 >= px1 or py0 >= py1:
                continue
            if mode == "last":
                acc[py0:py1, px0:px1] = v
            elif mode == "max":
                acc[py0:py1, px0:px1] = np.maximum(
                    acc[py0:py1, px0:px1], v)
            else:
                acc[py0:py1, px0:px1] += 1
            touched[py0:py1, px0:px1] = True
        return np.minimum(acc, 255).astype(np.uint8), touched

    for mode in ("last", "max", "count"):
        want, touched = brute(mode)
        rows = rasterize_boxes(bdf, grid, mode=mode).collect()
        # only touched chunks appear
        want_keys = {(r, c) for r in range(3) for c in range(3)
                     if touched[r*32:(r+1)*32, c*32:(c+1)*32].any()}
        assert {(r.row_idx, r.col_idx) for r in rows} == want_keys, mode
        for r in rows:
            got = np.frombuffer(r.chunk, np.uint8).reshape(32, 32)
            sl = want[r.row_idx*32:(r.row_idx+1)*32,
                      r.col_idx*32:(r.col_idx+1)*32]
            assert np.array_equal(got, sl), (mode, r.row_idx, r.col_idx)
            tsl = touched[r.row_idx*32:(r.row_idx+1)*32,
                          r.col_idx*32:(r.col_idx+1)*32]
            assert r.burned_px == int(tsl.sum())

    # round-trip: zonal_stats over the burned 'last' plane reads back
    # box 3's exact constant window (box 3 is unoccluded)
    burned = rasterize_boxes(bdf, grid, mode="last") \
        .selectExpr("0 AS time_idx", "row_idx", "col_idx",
                    "chunk AS chunk_bytes")
    zb = spark.createDataFrame(
        [boxes[2][:5]], "box_id long, min_x double, min_y double, "
                        "max_x double, max_y double") \
        .withColumn("time_idx", F.lit(0))
    z = zonal_stats(burned, zb, grid, band=0, broadcast=True).collect()
    assert len(z) == 1 and z[0]["mean_value"] == 200.0

    import pytest
    with pytest.raises(ValueError, match="mode"):
        rasterize_boxes(bdf, grid, mode="mean")


def test_zonal_majority_python_reference(spark):
    """zonal_majority vs a per-pixel Python mode (smallest value on
    ties) over boxes spanning chunk borders; branches agree."""
    import numpy as np
    from collections import Counter
    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.operators.raster_vector import zonal_majority

    grid = OutputGrid(bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
                      crs="EPSG:32610", resolution=10.0, years=(2023, 2024),
                      num_bands=3, chunk_h=256, chunk_w=256)
    chunks_df = spark.read.parquet("fixtures/golden_chunks_mean.parquet")
    boxes = spark.createDataFrame([
        {"box_id": i, "time_idx": i % 2,
         "min_x": 499000.0 + (i * 700) % 9000,
         "min_y": 4095000.0 + (i * 450) % 9000,
         "max_x": 499000.0 + (i * 700) % 9000 + 2800.0,
         "max_y": 4095000.0 + (i * 450) % 9000 + 2800.0}
        for i in range(12)])
    got = {(r.box_id, r.time_idx): (r.majority_value, r.major_cnt, r.n_px)
           for r in zonal_majority(chunks_df, boxes, grid, band=0).collect()}
    sh = {(r.box_id, r.time_idx): (r.majority_value, r.major_cnt, r.n_px)
          for r in zonal_majority(chunks_df, boxes, grid, band=0,
                                  broadcast=False).collect()}
    assert got == sh and got
    # python reference: stitch pixel values per box from raw chunks
    raw = {(r.time_idx, r.row_idx, r.col_idx):
           np.frombuffer(r.chunk_bytes, np.uint8).reshape(3, 256, 256)
           for r in chunks_df.collect()}
    for b in boxes.collect():
        cnt = Counter()
        px0 = int(np.floor((b.min_x - 499000.0) / 10.0))
        px1 = int(np.ceil((b.max_x - 499000.0) / 10.0))
        py0 = int(np.floor((4105240.0 - b.max_y) / 10.0))
        py1 = int(np.ceil((4105240.0 - b.min_y) / 10.0))
        for gy in range(max(py0, 0), py1):
            for gx in range(max(px0, 0), px1):
                key = (b.time_idx, gy // 256, gx // 256)
                if key in raw:
                    cnt[int(raw[key][0, gy % 256, gx % 256])] += 1
        if not cnt:
            assert (b.box_id, b.time_idx) not in got
            continue
        mc = max(cnt.values())
        maj = min(v for v, c in cnt.items() if c == mc)
        assert got[(b.box_id, b.time_idx)] == (maj, mc, sum(cnt.values()))

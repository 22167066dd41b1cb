"""Property-based tests (hypothesis) for the numeric cores — beyond
the reference's example-based suite (SURVEY §5: reference has no
property testing; these pin the invariants its production bug class
lived in: round-trips, top-down conventions, containment)."""

import struct
import zlib

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from aef_mosaic_spark import cells, codecs, generator, proj
from aef_mosaic_spark.grid import OutputGrid, hilbert_d, hilbert_order_for
from aef_mosaic_spark.operators.mosaic import _finalize_mean

lon_s = st.floats(-179.9, 179.9, allow_nan=False)
lat_s = st.floats(-84.0, 84.0, allow_nan=False)


# (src, dst) pairs: cylindrical -> UTM north/south in zones 10 and 11
# (the separable path), then the full-grid fallbacks: UTM source,
# non-UTM destination, identity
_GRID_PAIRS = [(s, d) for s in ("EPSG:6933", "EPSG:4326")
               for d in ("EPSG:32610", "EPSG:32611", "EPSG:32710", "EPSG:32711")]
_GRID_PAIRS += [("EPSG:32610", "EPSG:32611"), ("EPSG:32610", "EPSG:6933"),
                ("EPSG:6933", "EPSG:4326"), ("EPSG:6933", "EPSG:6933")]


@settings(max_examples=300, deadline=None)
@given(pair=st.sampled_from(_GRID_PAIRS), lon=st.floats(-128.0, -112.0),
       lat=st.floats(0.5, 70.0), h=st.integers(1, 96), w=st.integers(1, 96))
@example(pair=("EPSG:6933", "EPSG:32610"), lon=-121.5, lat=37.0, h=1, w=256)
@example(pair=("EPSG:6933", "EPSG:32611"), lon=-118.0, lat=37.0, h=256, w=1)
@example(pair=("EPSG:4326", "EPSG:32710"), lon=-121.5, lat=12.0, h=1, w=256)
@example(pair=("EPSG:4326", "EPSG:32711"), lon=-118.0, lat=12.0, h=256, w=1)
@example(pair=("EPSG:6933", "EPSG:32610"), lon=-121.5, lat=37.0, h=256, w=256)
def test_transform_grid_equals_full_grid_transform(pair, lon, lat, h, w):
    """transform_grid over a window's pixel-centre axes is bit for bit
    meshgrid + transform_points, on the separable path and the
    fallbacks alike."""
    src, dst = pair
    if proj.parse_epsg(dst)[2]:  # UTM south
        lat = -lat
    # window origin and pixel size in the source CRS
    x0, y0 = proj.transform_points(np.array([lon]), np.array([lat]),
                                   "EPSG:4326", src)
    res = 1e-4 if src == "EPSG:4326" else 10.0
    tx = x0[0] + (np.arange(w) + 0.5) * res
    ty = y0[0] - (np.arange(h) + 0.5) * res
    gx, gy = proj.transform_grid(tx, ty, src, dst)
    TX, TY = np.meshgrid(tx, ty)
    ex, ey = proj.transform_points(TX.ravel(), TY.ravel(), src, dst)
    assert gx.shape == gy.shape == (h, w)
    assert np.array_equal(gx.ravel(), ex) and np.array_equal(gy.ravel(), ey)


@settings(max_examples=200, deadline=None)
@given(lon=st.floats(-129.9, -120.1), lat=st.floats(1.0, 83.0))
def test_utm_roundtrip_property(lon, lat):
    e, n = proj.wgs84_to_utm(np.array([lon]), np.array([lat]), 10, False)
    lon2, lat2 = proj.utm_to_wgs84(e, n, 10, False)
    assert abs(lon2[0] - lon) < 1e-7 and abs(lat2[0] - lat) < 1e-7


@settings(max_examples=200, deadline=None)
@given(lon=lon_s, lat=lat_s)
def test_cea_roundtrip_property(lon, lat):
    x, y = proj.wgs84_to_cea(np.array([lon]), np.array([lat]))
    lon2, lat2 = proj.cea_to_wgs84(x, y)
    assert abs(lon2[0] - lon) < 1e-7 and abs(lat2[0] - lat) < 1e-5


@settings(max_examples=200, deadline=None)
@given(lon=lon_s, lat=lat_s, res=st.integers(1, 20))
def test_point_cell_contains_point(lon, lat, res):
    c = int(cells.cell_id_np(np.array([lon]), np.array([lat]), res)[0])
    b = cells.cell_bounds(c)
    # half-ULP slack: a point within float rounding of a cell boundary
    # may legitimately land on either side
    eps = 1e-9
    assert b[0] - eps <= lon <= b[2] + eps
    assert b[1] - eps <= lat <= b[3] + eps


@settings(max_examples=100, deadline=None)
@given(lon=st.floats(-170, 165), lat=st.floats(-80, 75),
       w=st.floats(0.01, 5), h=st.floats(0.01, 5), res=st.integers(2, 12))
def test_covering_contains_point_cells(lon, lat, w, h, res):
    bbox = (lon, lat, lon + w, lat + h)
    cover = set(cells.cells_covering_bbox(bbox, res).tolist())
    # any point strictly inside the bbox maps to a covered cell
    for fx, fy in ((0.01, 0.01), (0.5, 0.5), (0.99, 0.99), (0.01, 0.99)):
        px, py = lon + w * fx, lat + h * fy
        c = int(cells.cell_id_np(np.array([px]), np.array([py]), res)[0])
        assert c in cover


@settings(max_examples=100, deadline=None)
@given(order=st.integers(1, 8), n=st.integers(1, 50))
def test_hilbert_injective_sample(order, n):
    size = 1 << order
    rng = np.random.RandomState(n)
    xs = rng.randint(0, size, n)
    ys = rng.randint(0, size, n)
    d = hilbert_d(xs, ys, order)
    seen = {}
    for x, y, dv in zip(xs, ys, d):
        key = (int(x), int(y))
        assert seen.setdefault(key, int(dv)) == int(dv)
    assert (d >= 0).all() and (d < size * size).all()


@settings(max_examples=200, deadline=None)
@given(
    # integral-meter origins/extents: real grids are axis-aligned to
    # representable coordinates (AEF: 500000/4096000 at 10 m); with
    # arbitrary float origins, floor-binning is ULP-ambiguous at chunk
    # boundaries by construction
    min_x=st.integers(-1_000_000, 1_000_000),
    min_y=st.integers(-1_000_000, 1_000_000),
    w=st.integers(10, 100_000), h=st.integers(10, 100_000),
    res=st.sampled_from([1.0, 10.0, 30.0]),
)
def test_grid_dims_chunk_multiple_and_ranges(min_x, min_y, w, h, res):
    g = OutputGrid(bounds=(float(min_x), float(min_y),
                           float(min_x + w), float(min_y + h)),
                   crs="EPSG:32610", resolution=res, years=(2024,))
    assert g.width % g.chunk_w == 0 and g.height % g.chunk_h == 0
    assert g.width >= np.ceil(w / res) and g.height >= np.ceil(h / res)
    # a box equal to any chunk's bounds maps to exactly that chunk
    r, c = g.chunk_rows // 2, g.chunk_cols // 2
    assert g.chunk_ranges_for_bounds(g.chunk_bounds(r, c)) == (r, r, c, c)


@settings(max_examples=300, deadline=None)
@given(vals=st.lists(st.integers(0, 255), min_size=1, max_size=20))
def test_mean_rounding_half_away(vals):
    import decimal

    s, c = sum(vals), len(vals)
    got = int(_finalize_mean(np.array([s]), np.array([c]))[0])
    want = int((decimal.Decimal(s) / decimal.Decimal(c)).quantize(
        0, rounding=decimal.ROUND_HALF_UP))
    assert got == want
    assert 0 <= got <= 255


def _qdct_law_decode(data: bytes) -> np.ndarray:
    """decode_qdct's definition: `_idct_blocks` on every block, then
    rint, clip and crop."""
    bands, h, w = struct.unpack(">BHH", data[:5])
    hb, wb = -(-h // 8), -(-w // 8)
    coef = np.frombuffer(zlib.decompress(data[5:]), np.int16)
    rec = codecs._idct_blocks(coef.reshape(-1, 8, 8).astype(np.float64) * codecs._Q_STEP)
    plane = rec.reshape(bands, hb, wb, 8, 8).transpose(0, 1, 3, 2, 4)
    plane = plane.reshape(bands, hb * 8, wb * 8)
    return np.clip(np.rint(plane + 128.0), 0, 255).astype(np.uint8)[:, :h, :w]


# quantized DC values whose DC-only block decodes to exact .5 values
# (128 + 6q/8 = k + 0.5 for q = 2 mod 4), from just below 0 to just
# above 255
_DC_TIES = np.array([q for q in range(-174, 175) if q % 4 == 2], np.int16)
_ODD = (np.add.outer(np.arange(8), np.arange(8)) % 2).astype(bool)


def _tie_blocks(rng, n: int) -> np.ndarray:
    """n (8, 8) blocks at a DC tie value (every value once when n
    allows). A third are DC-only; a third add an antisymmetric AC
    pattern C - C^T, whose diagonal cancels exactly, and a third a
    symmetric one on odd j+k, whose anti-diagonal cancels exactly. The
    cancelled values are exact ties that each summation order misses
    by a few ulps its own way, as in the generator's smooth tiles."""
    ac = rng.integers(-3, 4, (n, 8, 8)) * (rng.random((n, 8, 8)) < 0.15)
    ac[:, 0, 0] = 0
    kind = rng.integers(0, 3, n)[:, None, None]
    sym = np.where(_ODD, ac + ac.transpose(0, 2, 1), 0)
    blocks = np.where(kind == 0, 0, np.where(kind == 1, ac - ac.transpose(0, 2, 1), sym))
    blocks[:, 0, 0] = np.roll(np.resize(_DC_TIES, n), int(rng.integers(len(_DC_TIES))))
    return blocks.reshape(n, 64).astype(np.int16)


@settings(max_examples=300, deadline=None)
@given(bands=st.sampled_from([1, 3]), h=st.integers(1, 72), w=st.integers(1, 72),
       kind=st.sampled_from(["coef", "ties", "image"]),
       scale=st.sampled_from([2, 40, 600, 32767]), seed=st.integers(0, 2**32 - 1))
@example(bands=3, h=70, w=69, kind="ties", scale=2, seed=0)
@example(bands=1, h=71, w=90, kind="ties", scale=2, seed=1)
def test_qdct_decode_equals_idct_law(bands, h, w, kind, scale, seed):
    """The BLAS decode with its rint-tie fallback is bit-identical to
    the einsum law on random int16 coefficients (clipping below 0 and
    above 255 at the larger scales), on blocks at exact .5 ties (half
    the blocks of a tile with fewer blocks than DC tie values, else
    all of them with every DC tie value, as at the 70x69 and 71x90
    examples) and on encoded blocky images, whose h and w need not be
    multiples of 8 (edge-padded)."""
    rng = np.random.default_rng(seed)
    n = bands * -(-h // 8) * -(-w // 8)
    if kind == "image":
        k = int(rng.integers(1, 17))
        small = rng.integers(0, 256, (bands, -(-h // k), -(-w // k)), dtype=np.uint8)
        img = small.repeat(k, axis=1).repeat(k, axis=2)[:, :h, :w]
        data = codecs.encode_qdct(np.ascontiguousarray(img))
    else:
        coef = rng.integers(-scale, scale + 1, (n, 64)).astype(np.int16)
        if kind == "ties":
            at_tie = rng.random(n) < 0.5 if n < len(_DC_TIES) else np.ones(n, bool)
            coef[at_tie] = _tie_blocks(rng, int(at_tie.sum()))
        data = struct.pack(">BHH", bands, h, w) + zlib.compress(coef.tobytes())
    got = codecs.decode_qdct(data)
    want = _qdct_law_decode(data)
    assert got.dtype == np.uint8 and got.shape == (bands, h, w)
    assert np.array_equal(got, want)


def test_qdct_generator_tiles_decode_as_the_law():
    """Every qdct tile of a 720-tile generator run (the benchmark's
    size) decodes bit for bit as the einsum law."""
    n = 720
    tiles = [i for i in range(n) if generator.FMTS[i % 4] == "qdct"]
    assert len(tiles) == 180
    for i in tiles:
        data = codecs.encode_qdct(generator.tile_pixels(i, generator.tile_geometry(i, n)))
        assert np.array_equal(codecs.decode_qdct(data), _qdct_law_decode(data)), i


@settings(max_examples=100, deadline=None)
@given(order=st.integers(1, 10))
def test_hilbert_order_for_covers(order):
    dim = 1 << order
    assert (1 << hilbert_order_for(dim)) >= dim


@settings(max_examples=300, deadline=None)
@given(rate=st.floats(0.5, 1000.0),
       cap_mult=st.floats(0.5, 4.0),
       costs=st.lists(st.floats(0.0, 5000.0), min_size=1, max_size=30),
       gaps=st.lists(st.floats(0.0, 10.0), min_size=30, max_size=30))
def test_token_bucket_invariants(rate, cap_mult, costs, gaps):
    """Token-bucket laws under arbitrary acquire/idle sequences
    (injected clock): (1) total sleep is exactly the deficit beyond
    what capacity + elapsed refill could pay — never negative, never
    more; (2) after every acquire the bucket is never above capacity;
    (3) an acquire that fits the current tokens sleeps 0."""
    from aef_mosaic_spark.plans.backfill import TokenBucket

    cap = rate * cap_mult
    t = [0.0]
    bucket = TokenBucket(rate, capacity=cap, clock=lambda: t[0],
                         sleep=lambda s: t.__setitem__(0, t[0] + s))
    total_sleep = 0.0
    for cost, gap in zip(costs, gaps):
        t[0] += gap  # idle refill
        slept = bucket.acquire(cost)
        assert slept >= 0.0
        total_sleep += slept
        assert bucket._tokens <= cap + 1e-9
        if slept:
            # a sleep ends exactly at the zero-token point
            assert abs(bucket._tokens) <= max(1e-6, cap * 1e-9)
    # global conservation: tokens_paid = initial cap + refills - final
    elapsed = t[0]
    paid = sum(costs)
    # refill is capped, so paid <= cap + elapsed*rate always holds
    assert paid <= cap + elapsed * rate + 1e-6 * max(1.0, paid)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(st.sampled_from("abcdefg"), min_size=1,
                         max_size=12), min_size=1, max_size=6))
def test_span_stats_gram_count_law(spark, docs):
    """For ANY corpus: n_grams == len - n + 1 per doc (docs shorter
    than n absent), 0 <= n_dup <= n_grams, first_dup_pos in
    [-1, n_grams), and a doc duplicated verbatim has dup_ratio 1."""
    from aef_mosaic_spark.operators.spans import duplicated_span_stats
    n = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    # plant a verbatim duplicate of doc 0 when it's long enough
    rows.append((1000, rows[0][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           duplicated_span_stats(df, "doc_id", "text", n=n).collect()}
    for i, toks in enumerate(docs):
        if len(toks) < n:
            assert i not in out
            continue
        r = out[i]
        assert r["n_grams"] == len(toks) - n + 1
        assert 0 <= r["n_dup"] <= r["n_grams"]
        assert -1 <= r["first_dup_pos"] < r["n_grams"]
    if len(docs[0]) >= n:
        assert out[1000]["dup_ratio"] == 1.0  # verbatim twin all-dup


@settings(max_examples=5, deadline=None)
@given(st.data())
def test_merge_then_delete_matches_pandas_oracle(spark, tmp_path_factory, data):
    """Random base + random upserts + random delete predicate: the
    icelite CoW table must equal a pandas simulation exactly."""
    import pandas as pd

    from aef_mosaic_spark.sources.icelite import Icelite

    base_ids = data.draw(st.lists(st.integers(0, 30), min_size=1,
                                  max_size=20, unique=True))
    upd_ids = data.draw(st.lists(st.integers(0, 40), min_size=1,
                                 max_size=10, unique=True))
    cut = data.draw(st.integers(0, 40))

    tmp = tmp_path_factory.mktemp("cow")
    t = Icelite(str(tmp / "t"))
    base = pd.DataFrame({"k": base_ids,
                         "v": [f"b{i}" for i in base_ids]})
    upd = pd.DataFrame({"k": upd_ids,
                        "v": [f"u{i}" for i in upd_ids]})
    t.append(spark.createDataFrame(base, "k long, v string")
             .repartition(3))
    t.merge(spark, spark.createDataFrame(upd, "k long, v string"), ["k"])
    t.delete(spark, f"k >= {cut}")

    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    oracle = pd.concat([base[~base.k.isin(upd.k)], upd])
    oracle = oracle[oracle.k < cut]
    assert got == sorted(map(tuple, oracle.itertuples(index=False)))


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet=st.characters(min_codepoint=32,
                                               max_codepoint=126),
                        min_size=1, max_size=60), min_size=1, max_size=5))
def test_quality_classifier_bounded_on_arbitrary_text(spark, texts):
    """sigmoid output stays strictly inside (0, 1) and never NaN for
    ANY printable-ASCII input, including whitespace-only and
    punctuation-soup strings."""
    from aef_mosaic_spark.functions.text import quality_classifier_col
    from pyspark.sql import functions as F
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select(quality_classifier_col(F.col("text")).alias("s")).collect()
    for r in got:
        assert r["s"] is not None and 0.0 < r["s"] < 1.0


def test_sharded_rank_property(spark):
    """Property sweep: sharded_keyed_rank == the single-window
    formulation for random key skews, shard counts, and sum columns
    (beyond the three fixed operator fixtures)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aef_mosaic_spark.operators.sampling import (sample_bucket_col,
                                                     sharded_keyed_rank)

    for seed, n, n_keys, shards in ((1, 500, 1, 4), (2, 700, 3, 64),
                                    (3, 400, 50, 7), (4, 300, 2, 10000)):
        df = (spark.range(n)
              .selectExpr("id", f"pmod(id * {seed * 2654435761 % 97 + 3}, "
                          f"{n_keys}) AS k",
                          f"pmod(id * 31 + {seed}, 17) AS v")
              .withColumn("_hb", sample_bucket_col("id", f"prop-{seed}")))
        got = sharded_keyed_rank(df, ["k"], "_hb", "id", sum_col="v",
                                 n_shards=shards) \
            .select("id", "k", "_rk", "_cum")
        w = Window.partitionBy("k").orderBy("_hb", "id")
        want = df.select(
            "id", "k",
            F.row_number().over(w).cast("long").alias("_rk"),
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("_cum"))
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect())), (seed, n, n_keys, shards)

"""Projection math vs reference test-vector expectations
(/root/reference/src/crs.rs:316-496 behaviors, reproduced not ported)."""

import numpy as np

from aef_mosaic_spark import proj


def test_identity():
    b = (-122.0, 37.0, -121.0, 38.0)
    assert proj.transform_bounds(b, "EPSG:4326", "EPSG:4326") == b


def test_wgs84_to_utm_sf_area():
    # reference src/crs.rs:351-365: SF-area bounds into UTM 10N ranges
    r = proj.transform_bounds((-122.5, 37.5, -122.0, 38.0), "EPSG:4326", "EPSG:32610")
    assert 500000 < r[0] < 600000
    assert 4100000 < r[1] < 4300000
    assert r[2] > r[0] and r[3] > r[1]


def test_utm_roundtrip_sub_mm():
    lon = np.linspace(-126.0, -118.0, 200)
    lat = np.linspace(30.0, 50.0, 200)
    e, n = proj.wgs84_to_utm(lon, lat, 10, False)
    lon2, lat2 = proj.utm_to_wgs84(e, n, 10, False)
    # <0.5 px at 10 m resolution demanded by SURVEY §7.3; we get ~1e-9 deg
    assert np.abs(lon2 - lon).max() < 1e-8
    assert np.abs(lat2 - lat).max() < 1e-8


def test_utm_south_hemisphere():
    e, n = proj.wgs84_to_utm(np.array([-70.0]), np.array([-33.5]), 19, True)
    assert 0 < e[0] < 1000000 and 6000000 < n[0] < 10000000
    lon, lat = proj.utm_to_wgs84(e, n, 19, True)
    assert abs(lon[0] + 70.0) < 1e-8 and abs(lat[0] + 33.5) < 1e-8


def test_cea_roundtrip():
    lon = np.linspace(-179.0, 179.0, 100)
    lat = np.linspace(-80.0, 80.0, 100)
    x, y = proj.wgs84_to_cea(lon, lat)
    lon2, lat2 = proj.cea_to_wgs84(x, y)
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-6


def test_cea_equal_area_property():
    # columns of equal lon width have equal x width regardless of lon
    x1, _ = proj.wgs84_to_cea(np.array([0.0, 10.0]), np.array([0.0, 0.0]))
    x2, _ = proj.wgs84_to_cea(np.array([100.0, 110.0]), np.array([0.0, 0.0]))
    assert abs((x1[1] - x1[0]) - (x2[1] - x2[0])) < 1e-6


def test_densification_contains_corners():
    # densified bounds must contain the plain 2-corner transform
    b = (-125.0, 30.0, -115.0, 45.0)
    dense = proj.transform_bounds(b, "EPSG:4326", "EPSG:32610", densify=21)
    x, y = proj.transform_points(
        np.array([b[0], b[2]]), np.array([b[1], b[3]]), "EPSG:4326", "EPSG:32610"
    )
    assert dense[0] <= x.min() and dense[2] >= x.max()
    assert dense[1] <= y.min() and dense[3] >= y.max()


def test_parse_epsg():
    assert proj.parse_epsg("EPSG:32610") == ("utm", 10, False)
    assert proj.parse_epsg("EPSG:32719") == ("utm", 19, True)
    assert proj.parse_epsg("EPSG:4326")[0] == "wgs84"
    assert proj.parse_epsg("EPSG:6933")[0] == "cea"


def test_great_circle_known_values(spark):
    """Haversine + bearing vs published values: London (-0.1278,
    51.5074) -> New York (-74.0060, 40.7128) ~ 5570 km, initial
    bearing ~ 288 deg; identity point -> 0 km; bearing wraps to
    [0, 360)."""
    from pyspark.sql import functions as F

    from aef_mosaic_spark.functions.geo import haversine_km, initial_bearing_deg

    df = spark.createDataFrame(
        [(-0.1278, 51.5074, -74.0060, 40.7128),
         (10.0, 20.0, 10.0, 20.0),
         (0.0, 0.0, 0.0, 1.0)],  # due north -> bearing 0
        "lon1 double, lat1 double, lon2 double, lat2 double")
    rows = df.select(
        haversine_km(F.col("lon1"), F.col("lat1"),
                     F.col("lon2"), F.col("lat2")).alias("d"),
        initial_bearing_deg(F.col("lon1"), F.col("lat1"),
                            F.col("lon2"), F.col("lat2")).alias("b"),
    ).collect()
    assert abs(rows[0].d - 5570.2) < 1.0
    assert abs(rows[0].b - 288.3) < 0.5
    assert rows[1].d == 0.0
    assert rows[2].b == 0.0 and 0 <= rows[0].b < 360

"""Vectorized numpy coordinate transforms (no libproj in sandbox).

Reimplements the CRS surface the reference gets from PROJ
(/root/reference/src/crs.rs:82-137): point transform, 4-corner bounds
transform, and edge-densified bounds transform, for the CRS family the
reference actually uses — EPSG:4326 (WGS84 lon/lat), EPSG:326xx/327xx
(UTM north/south), and EPSG:6933 (cylindrical equal area, the default
output CRS, src/crs.rs:26-30).

Formulas are the public Karney/Krüger Transverse-Mercator series
(Karney 2011, "Transverse Mercator with an accuracy of a few
nanometers") and the standard Lambert cylindrical-equal-area-on-
ellipsoid equations (Snyder 1987, Map Projections — A Working Manual,
eq. 10-1/3-12). Everything is numpy-vectorized: these run inside
pandas UDFs over Arrow batches, never per-row Python.
"""

from __future__ import annotations

import numpy as np

# WGS84 ellipsoid
A = 6378137.0
F = 1.0 / 298.257223563
E2 = F * (2.0 - F)
E = np.sqrt(E2)
N = F / (2.0 - F)

# Karney/Krüger 4th-order series coefficients in n.
_A_BAR = A / (1.0 + N) * (1.0 + N**2 / 4.0 + N**4 / 64.0)
_ALPHA = (
    N / 2.0 - 2.0 * N**2 / 3.0 + 5.0 * N**3 / 16.0 + 41.0 * N**4 / 180.0,
    13.0 * N**2 / 48.0 - 3.0 * N**3 / 5.0 + 557.0 * N**4 / 1440.0,
    61.0 * N**3 / 240.0 - 103.0 * N**4 / 140.0,
    49561.0 * N**4 / 161280.0,
)
_BETA = (
    N / 2.0 - 2.0 * N**2 / 3.0 + 37.0 * N**3 / 96.0 - N**4 / 360.0,
    N**2 / 48.0 + N**3 / 15.0 - 437.0 * N**4 / 1440.0,
    17.0 * N**3 / 480.0 - 37.0 * N**4 / 840.0,
    4397.0 * N**4 / 161280.0,
)

UTM_K0 = 0.9996
UTM_FE = 500000.0
UTM_FN_SOUTH = 10000000.0

# EPSG:6933 (cylindrical equal area, lat_ts=30, WGS84)
_CEA_LAT_TS = np.deg2rad(30.0)
_CEA_K0 = np.cos(_CEA_LAT_TS) / np.sqrt(1.0 - E2 * np.sin(_CEA_LAT_TS) ** 2)


def _q_auth(sin_phi: np.ndarray) -> np.ndarray:
    """Authalic q (Snyder eq. 3-12)."""
    es = E * sin_phi
    return (1.0 - E2) * (
        sin_phi / (1.0 - E2 * sin_phi**2) - (1.0 / (2.0 * E)) * np.log((1.0 - es) / (1.0 + es))
    )


_QP = float(_q_auth(np.array(1.0)))  # q at the pole


def _tm_lat(lat: np.ndarray) -> np.ndarray:
    """Latitude-only part of the forward Transverse Mercator: the
    conformal latitude tangent t."""
    sphi = np.sin(np.deg2rad(lat))
    return np.sinh(np.arctanh(sphi) - E * np.arctanh(E * sphi))


def _tm_lon(lon: np.ndarray, zone: int):
    """Longitude-only part: (cos λ, sin λ) of the longitude from the
    zone's central meridian."""
    lam = np.deg2rad(lon) - np.deg2rad(zone * 6.0 - 183.0)
    return np.cos(lam), np.sin(lam)


def _tm_xy(t: np.ndarray, cos_lam: np.ndarray, sin_lam: np.ndarray,
           south: bool):
    """Per-point part: Gauss-Schreiber angles plus the Krüger series.
    Returns (easting, northing)."""
    xi_p = np.arctan2(t, cos_lam)
    eta_p = np.arcsinh(sin_lam / np.sqrt(t**2 + cos_lam**2))
    xi = xi_p.copy()
    eta = eta_p.copy()
    for j, a_j in enumerate(_ALPHA, start=1):
        xi += a_j * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta += a_j * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    easting = UTM_FE + UTM_K0 * _A_BAR * eta
    northing = (UTM_FN_SOUTH if south else 0.0) + UTM_K0 * _A_BAR * xi
    return easting, northing


def wgs84_to_utm(lon: np.ndarray, lat: np.ndarray, zone: int, south: bool):
    """Forward Transverse Mercator (Karney series). Returns (easting, northing)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    return _tm_xy(_tm_lat(lat), *_tm_lon(lon, zone), south)


def utm_to_wgs84(x: np.ndarray, y: np.ndarray, zone: int, south: bool):
    """Inverse Transverse Mercator (Karney series + Newton). Returns (lon, lat)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lam0 = np.deg2rad(zone * 6.0 - 183.0)
    eta = (x - UTM_FE) / (UTM_K0 * _A_BAR)
    xi = (y - (UTM_FN_SOUTH if south else 0.0)) / (UTM_K0 * _A_BAR)
    xi_p = xi.copy()
    eta_p = eta.copy()
    for j, b_j in enumerate(_BETA, start=1):
        xi_p -= b_j * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p -= b_j * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    tau_p = np.sin(xi_p) / np.sqrt(np.sinh(eta_p) ** 2 + np.cos(xi_p) ** 2)
    # Newton-iterate tau (tan of geographic latitude) from conformal tau'.
    tau = tau_p.copy()
    for _ in range(5):
        sig = np.sinh(E * np.arctanh(E * tau / np.sqrt(1.0 + tau**2)))
        tau_i = tau * np.sqrt(1.0 + sig**2) - sig * np.sqrt(1.0 + tau**2)
        dtau = (
            (tau_p - tau_i)
            / np.sqrt(1.0 + tau_i**2)
            * (1.0 + (1.0 - E2) * tau**2)
            / ((1.0 - E2) * np.sqrt(1.0 + tau**2))
        )
        tau = tau + dtau
    lat = np.rad2deg(np.arctan(tau))
    lon = np.rad2deg(lam0 + np.arctan2(np.sinh(eta_p), np.cos(xi_p)))
    return lon, lat


def wgs84_to_cea(lon: np.ndarray, lat: np.ndarray):
    """EPSG:6933 forward. Returns (x, y) in meters."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = A * _CEA_K0 * np.deg2rad(lon)
    y = A * _q_auth(np.sin(np.deg2rad(lat))) / (2.0 * _CEA_K0)
    return x, y


def cea_to_wgs84(x: np.ndarray, y: np.ndarray):
    """EPSG:6933 inverse via authalic-latitude series (Snyder eq. 3-18)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.rad2deg(x / (A * _CEA_K0))
    q = 2.0 * _CEA_K0 * y / A
    beta = np.arcsin(np.clip(q / _QP, -1.0, 1.0))
    e4, e6 = E2**2, E2**3
    lat = beta + (
        (E2 / 3.0 + 31.0 * e4 / 180.0 + 517.0 * e6 / 5040.0) * np.sin(2 * beta)
        + (23.0 * e4 / 360.0 + 251.0 * e6 / 3780.0) * np.sin(4 * beta)
        + (761.0 * e6 / 45360.0) * np.sin(6 * beta)
    )
    return lon, np.rad2deg(lat)


def parse_epsg(crs: str) -> tuple[str, int, bool]:
    """Parse 'EPSG:code' -> (kind, zone, south). kind in {wgs84, utm, cea}."""
    code = int(str(crs).upper().replace("EPSG:", ""))
    if code == 4326:
        return ("wgs84", 0, False)
    if code == 6933:
        return ("cea", 0, False)
    if 32601 <= code <= 32660:
        return ("utm", code - 32600, False)
    if 32701 <= code <= 32760:
        return ("utm", code - 32700, True)
    raise ValueError(f"unsupported CRS {crs!r} (supported: EPSG:4326, EPSG:6933, UTM)")


def transform_points(x, y, src_crs: str, dst_crs: str):
    """Transform arrays of points src_crs -> dst_crs (via WGS84 hub).

    Mirrors the reference's transform_point surface
    (/root/reference/src/crs.rs:82-96), vectorized over numpy arrays.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if src_crs == dst_crs:
        return x.copy(), y.copy()
    skind, szone, ssouth = parse_epsg(src_crs)
    dkind, dzone, dsouth = parse_epsg(dst_crs)
    if skind == "wgs84":
        lon, lat = x, y
    elif skind == "utm":
        lon, lat = utm_to_wgs84(x, y, szone, ssouth)
    else:
        lon, lat = cea_to_wgs84(x, y)
    if dkind == "wgs84":
        return lon, lat
    if dkind == "utm":
        return wgs84_to_utm(lon, lat, dzone, dsouth)
    return wgs84_to_cea(lon, lat)


def transform_grid(tx: np.ndarray, ty: np.ndarray, src_crs: str,
                   dst_crs: str):
    """Transform the window of pixel centres with axes tx (w,) and
    ty (h,) src_crs -> dst_crs. Returns (X, Y) of shape (h, w), bit for
    bit what transform_points returns over meshgrid(tx, ty).

    From a cylindrical source (EPSG:4326, EPSG:6933) into UTM, lon
    depends on x alone and lat on y alone: the inverse CEA and the
    conformal t run once per row, λ and its cos/sin once per column,
    and only _tm_xy runs per pixel. Its inputs are materialized
    contiguous because NumPy's SIMD and strided loops for the
    transcendental ufuncs may differ in the last bit, and the full-grid
    call takes the SIMD ones. Every other CRS pair transforms the full
    grid."""
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty, dtype=np.float64)
    shape = (len(ty), len(tx))
    if (src_crs == dst_crs or parse_epsg(src_crs)[0] == "utm"
            or parse_epsg(dst_crs)[0] != "utm"):
        TX, TY = np.meshgrid(tx, ty)
        x, y = transform_points(TX.ravel(), TY.ravel(), src_crs, dst_crs)
        return x.reshape(shape), y.reshape(shape)
    _, dzone, dsouth = parse_epsg(dst_crs)
    # cea_to_wgs84 maps x to lon and y to lat independently
    lon, lat = ((tx, ty) if parse_epsg(src_crs)[0] == "wgs84"
                else cea_to_wgs84(tx, ty))
    cos_lam, sin_lam = _tm_lon(lon, dzone)
    return _tm_xy(np.repeat(_tm_lat(lat), shape[1]).reshape(shape),
                  np.tile(cos_lam, (shape[0], 1)),
                  np.tile(sin_lam, (shape[0], 1)), dsouth)


def transform_bounds(bounds, src_crs: str, dst_crs: str, densify: int = 21):
    """Bounds [min_x,min_y,max_x,max_y] -> dst CRS via edge densification.

    Reference: transform_bounds_with_densification
    (/root/reference/src/crs.rs:159-217) — sample N points per edge,
    take the hull, so curvature of projected edges is captured.
    """
    min_x, min_y, max_x, max_y = (float(v) for v in bounds)
    ts = np.linspace(0.0, 1.0, densify)
    xs = np.concatenate(
        [
            min_x + ts * (max_x - min_x),  # bottom
            np.full(densify, max_x),  # right
            min_x + ts * (max_x - min_x),  # top
            np.full(densify, min_x),  # left
        ]
    )
    ys = np.concatenate(
        [
            np.full(densify, min_y),
            min_y + ts * (max_y - min_y),
            np.full(densify, max_y),
            min_y + ts * (max_y - min_y),
        ]
    )
    tx, ty = transform_points(xs, ys, src_crs, dst_crs)
    ok = np.isfinite(tx) & np.isfinite(ty)
    tx, ty = tx[ok], ty[ok]
    return (float(tx.min()), float(ty.min()), float(tx.max()), float(ty.max()))

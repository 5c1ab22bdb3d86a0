"""CRS transforms (reproj_vector_layer family,
python/rsgislib/vectorutils/__init__.py:804,946,2430,3632 — OGR/pyproj
reprojection; reproj_point tools/geometrytools.py:584).

No pyproj in the sandbox; the engine's stance (SURVEY §2.9) is
canonicalize-to-EPSG:4326-at-ingest, and provide the spherical
Web-Mercator (EPSG:3857) and ellipsoidal UTM forward transforms —
public textbook formulas — as shared SQL templates (bit-identical
Spark/DuckDB) plus numpy mirrors and inverses.
"""

from __future__ import annotations

import numpy as np

R_MAJOR = 6378137.0  # WGS84 semi-major axis (public constant)

# EPSG:3857 spherical mercator, forward
MERC_X_SQL = "(CAST({r!r} AS DOUBLE) * RADIANS({lon}))"
MERC_Y_SQL = ("(CAST({r!r} AS DOUBLE) * LN(TAN(CAST(0.7853981633974483 AS DOUBLE)"
              " + RADIANS({lat}) / CAST(2 AS DOUBLE))))")


def mercator_sql(lon: str, lat: str) -> tuple:
    return (MERC_X_SQL.format(lon=lon, r=R_MAJOR),
            MERC_Y_SQL.format(lat=lat, r=R_MAJOR))


def mercator_np(lon: np.ndarray, lat: np.ndarray) -> tuple:
    x = R_MAJOR * np.radians(lon)
    y = R_MAJOR * np.log(np.tan(0.7853981633974483 + np.radians(lat) / 2.0))
    return x, y


def inv_mercator_np(x: np.ndarray, y: np.ndarray) -> tuple:
    lon = np.degrees(x / R_MAJOR)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / R_MAJOR)) - 1.5707963267948966)
    return lon, lat


# ---------------------------------------------------------------- UTM
# Ellipsoidal transverse Mercator, Snyder series (Map Projections — A
# Working Manual, USGS PP 1395, eq. 8-9..8-13) — the public formulas
# behind reproj_wgs84_vec_to_utm (vectorutils/__init__.py:2430, pyproj
# under the hood). Sub-mm series accuracy inside a zone; shared-SQL so
# Spark and DuckDB evaluate the identical expression tree (outputs are
# ROUND(,2)-gated: SIN/COS differ by ulps between JVM and libm).
WGS84_F = 1.0 / 298.257223563
UTM_E2 = WGS84_F * (2.0 - WGS84_F)            # first eccentricity^2
UTM_EP2 = UTM_E2 / (1.0 - UTM_E2)             # second eccentricity^2
UTM_K0 = 0.9996

# meridian-arc coefficients
_M0 = 1.0 - UTM_E2 / 4.0 - 3.0 * UTM_E2**2 / 64.0 - 5.0 * UTM_E2**3 / 256.0
_M2 = 3.0 * UTM_E2 / 8.0 + 3.0 * UTM_E2**2 / 32.0 + 45.0 * UTM_E2**3 / 1024.0
_M4 = 15.0 * UTM_E2**2 / 256.0 + 45.0 * UTM_E2**3 / 1024.0
_M6 = 35.0 * UTM_E2**3 / 3072.0


def _d(v: float) -> str:
    return f"CAST({v!r} AS DOUBLE)"


def utm_zone_sql(lon: str) -> str:
    """UTM zone number 1..60 from longitude (standard 6-degree bands)."""
    return (f"CAST(FLOOR(({lon} + CAST(180 AS DOUBLE))"
            f" / CAST(6 AS DOUBLE)) AS BIGINT) + 1")


def utm_sql(lon: str, lat: str, zone: str | None = None) -> tuple:
    """(easting, northing, zone) SQL fragments; lon/lat must be simple
    column references (the series mentions them many times)."""
    z = zone if zone is not None else utm_zone_sql(lon)
    lam0 = f"(CAST({z} AS DOUBLE) * CAST(6 AS DOUBLE) - CAST(183 AS DOUBLE))"
    p = f"RADIANS({lat})"
    sinp, cosp, tanp = f"SIN({p})", f"COS({p})", f"TAN({p})"
    nu = f"({_d(R_MAJOR)} / SQRT(CAST(1 AS DOUBLE) - {_d(UTM_E2)} * {sinp} * {sinp}))"
    t = f"({tanp} * {tanp})"
    c = f"({_d(UTM_EP2)} * {cosp} * {cosp})"
    a = f"(RADIANS({lon} - {lam0}) * {cosp})"
    m = (f"({_d(R_MAJOR)} * ({_d(_M0)} * {p} - {_d(_M2)} * SIN(CAST(2 AS DOUBLE) * {p})"
         f" + {_d(_M4)} * SIN(CAST(4 AS DOUBLE) * {p})"
         f" - {_d(_M6)} * SIN(CAST(6 AS DOUBLE) * {p})))")
    easting = (
        f"({_d(UTM_K0)} * {nu} * ({a}"
        f" + (CAST(1 AS DOUBLE) - {t} + {c}) * {a}*{a}*{a} / CAST(6 AS DOUBLE)"
        f" + (CAST(5 AS DOUBLE) - CAST(18 AS DOUBLE) * {t} + {t}*{t}"
        f" + CAST(72 AS DOUBLE) * {c} - CAST(58 AS DOUBLE) * {_d(UTM_EP2)})"
        f" * {a}*{a}*{a}*{a}*{a} / CAST(120 AS DOUBLE))"
        f" + CAST(500000 AS DOUBLE))"
    )
    northing = (
        f"({_d(UTM_K0)} * ({m} + {nu} * {tanp} * ({a}*{a} / CAST(2 AS DOUBLE)"
        f" + (CAST(5 AS DOUBLE) - {t} + CAST(9 AS DOUBLE) * {c}"
        f" + CAST(4 AS DOUBLE) * {c}*{c}) * {a}*{a}*{a}*{a} / CAST(24 AS DOUBLE)"
        f" + (CAST(61 AS DOUBLE) - CAST(58 AS DOUBLE) * {t} + {t}*{t}"
        f" + CAST(600 AS DOUBLE) * {c} - CAST(330 AS DOUBLE) * {_d(UTM_EP2)})"
        f" * {a}*{a}*{a}*{a}*{a}*{a} / CAST(720 AS DOUBLE)))"
        f" + (CASE WHEN {lat} < CAST(0 AS DOUBLE)"
        f" THEN CAST(10000000 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END))"
    )
    return easting, northing, z


def utm_np(lon: np.ndarray, lat: np.ndarray,
           zone: np.ndarray | None = None) -> tuple:
    """numpy mirror of utm_sql (same Snyder series)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    if zone is None:
        zone = np.floor((lon + 180.0) / 6.0).astype(np.int64) + 1
    lam0 = zone * 6.0 - 183.0
    p = np.radians(lat)
    sinp, cosp, tanp = np.sin(p), np.cos(p), np.tan(p)
    nu = R_MAJOR / np.sqrt(1.0 - UTM_E2 * sinp * sinp)
    t = tanp * tanp
    c = UTM_EP2 * cosp * cosp
    a = np.radians(lon - lam0) * cosp
    m = R_MAJOR * (_M0 * p - _M2 * np.sin(2 * p) + _M4 * np.sin(4 * p)
                   - _M6 * np.sin(6 * p))
    easting = UTM_K0 * nu * (
        a + (1.0 - t + c) * a**3 / 6.0
        + (5.0 - 18.0 * t + t * t + 72.0 * c - 58.0 * UTM_EP2) * a**5 / 120.0
    ) + 500000.0
    northing = UTM_K0 * (m + nu * tanp * (
        a * a / 2.0 + (5.0 - t + 9.0 * c + 4.0 * c * c) * a**4 / 24.0
        + (61.0 - 58.0 * t + t * t + 600.0 * c - 330.0 * UTM_EP2)
        * a**6 / 720.0
    )) + np.where(lat < 0.0, 10000000.0, 0.0)
    return easting, northing, zone


def utm_inverse_np(easting: np.ndarray, northing: np.ndarray,
                   zone: np.ndarray, south: np.ndarray | bool = False
                   ) -> tuple:
    """Inverse ellipsoidal transverse Mercator (Snyder eq. 8-17..8-25,
    footpoint-latitude series) — UTM -> WGS84 lon/lat. The inverse
    half of reproj_wgs84_vec_to_utm; enables merge_utm_vecs_wgs84
    (canonicalize-at-ingest)."""
    x = np.asarray(easting, dtype=np.float64) - 500000.0
    y = np.asarray(northing, dtype=np.float64).copy()
    zone = np.asarray(zone, dtype=np.float64)
    south_arr = np.broadcast_to(np.asarray(south, dtype=bool), y.shape)
    y = np.where(south_arr, y - 10000000.0, y)
    lam0 = zone * 6.0 - 183.0

    m = y / UTM_K0
    mu = m / (R_MAJOR * _M0)
    e1 = (1.0 - np.sqrt(1.0 - UTM_E2)) / (1.0 + np.sqrt(1.0 - UTM_E2))
    phi1 = (mu
            + (3.0 * e1 / 2.0 - 27.0 * e1**3 / 32.0) * np.sin(2 * mu)
            + (21.0 * e1**2 / 16.0 - 55.0 * e1**4 / 32.0) * np.sin(4 * mu)
            + (151.0 * e1**3 / 96.0) * np.sin(6 * mu)
            + (1097.0 * e1**4 / 512.0) * np.sin(8 * mu))
    sinp, cosp, tanp = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    c1 = UTM_EP2 * cosp * cosp
    t1 = tanp * tanp
    n1 = R_MAJOR / np.sqrt(1.0 - UTM_E2 * sinp * sinp)
    r1 = R_MAJOR * (1.0 - UTM_E2) / (1.0 - UTM_E2 * sinp * sinp) ** 1.5
    d = x / (n1 * UTM_K0)
    lat = phi1 - (n1 * tanp / r1) * (
        d * d / 2.0
        - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * UTM_EP2)
        * d**4 / 24.0
        + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1
           - 252.0 * UTM_EP2 - 3.0 * c1 * c1) * d**6 / 720.0)
    lon = np.radians(lam0) + (
        d - (1.0 + 2.0 * t1 + c1) * d**3 / 6.0
        + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + 8.0 * UTM_EP2
           + 24.0 * t1 * t1) * d**5 / 120.0) / cosp
    return np.degrees(lon), np.degrees(lat)

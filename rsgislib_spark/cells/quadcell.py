"""Hierarchical lon/lat quadtree cell index (the engine's H3 role).

RSGISLib replaces brute-force geometry tests with spatial indexes and
tiles: rtree/STRtree joins (reference
python/rsgislib/vectorattrs/__init__.py:1283), explicit grids
(python/rsgislib/vectorutils/createvectors.py:981
create_wgs84_vector_grid — deterministic tile names from coordinates)
and hex grids (createvectors.py:1237 create_hex_grid_bbox). In a
distributed engine the index must be a *partitionable key*, so we use
a discrete global grid: at resolution ``r`` the world
(lon in [-180,180), lat in [-90,90)) is a 2^r x 2^r grid; a cell id
packs (r, cx, cy) into one int64. Parents are integer right-shifts of
(cx, cy), so the index is hierarchical like H3/S2 (public designs);
the implementation is pure arithmetic — no native deps.

Resolutions 0..27 are supported; the engine's working range mirrors
the north star's "H3 res 5-9": our res 7..13 has comparable cell
edges (res 13 ~ 2.7 km at the equator, res 7 ~ 175 km).

Three synchronized implementations of the same formula:

- ``cell_sql`` — a SQL string template (valid in both Spark SQL and
  DuckDB). The Spark Column version is ``F.expr`` of the *same*
  string, which guarantees bit-identical results between the engine
  and the DuckDB correctness oracle (both evaluate the identical
  IEEE-754 expression tree).
- ``cell_col`` — native Column (JVM-side, whole-stage codegen; the
  hot path — no Python in the loop).
- ``cell_np`` — vectorized numpy (used inside pandas UDFs, e.g. the
  polygon cover on the broadcast side).

INTEROP NOTE: these ids fill H3's role but are NOT H3 ids (square
lon/lat cells, not hexagons; see cells/s2cell.py for the matching S2
note and cells/hexgrid.py for the true-hexagon index). Export to
external H3 tooling goes through cell_center lon/lat.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# id = res * 2^56 + cx * 2^28 + cy   (cx, cy < 2^28 => res <= 27)
RES_SHIFT = 72057594037927936  # 2^56
CX_SHIFT = 268435456  # 2^28
MAX_RES = 27

# The formula, written once. {lon}/{lat} are SQL sub-expressions.
# Op order matters: both engines must evaluate the identical tree.
_X_SQL = ("CAST(FLOOR(({lon} + CAST(180 AS DOUBLE)) * CAST({n} AS DOUBLE)"
          " / CAST(360 AS DOUBLE)) AS BIGINT)")
_Y_SQL = ("CAST(FLOOR(({lat} + CAST(90 AS DOUBLE)) * CAST({n} AS DOUBLE)"
          " / CAST(180 AS DOUBLE)) AS BIGINT)")
_CELL_SQL = ("(CAST({res} AS BIGINT) * 72057594037927936 + " + _X_SQL
             + " * 268435456 + " + _Y_SQL + ")")


def cell_sql(lon: str, lat: str, res: int) -> str:
    """SQL expression (Spark SQL == DuckDB) for the cell id."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be 0..{MAX_RES}, got {res}")
    return _CELL_SQL.format(lon=lon, lat=lat, res=res, n=float(1 << res))


import functools


@functools.lru_cache(maxsize=256)
def cell_col(lon: str, lat: str, res: int) -> Column:
    """Spark Column for the cell id — F.expr of the shared template.
    Cached: expression parsing is driver-side serial work, and the
    same (lon, lat, res) column is requested on every query."""
    return F.expr(cell_sql(lon, lat, res))


def cell_col_at(lon: str, lat: str, res: str) -> Column:
    """cell_col at the res held in an int column: 2^res as a double is
    exact, so it gives the ids cell_col gives at that res."""
    n = f"CAST(shiftleft(CAST(1 AS BIGINT), {res}) AS DOUBLE)"
    return F.expr(_CELL_SQL.format(lon=lon, lat=lat, res=res, n=n))


def cell_xy_cols(lon: str, lat: str, res: int) -> tuple[Column, Column]:
    """(cx, cy) Columns: the two halves of cell_sql, left unpacked so
    that cells off the globe (cx < 0 or cx >= 2^res) still compare and
    subtract. Because 2^res scales exactly, cx at res r is cx at any
    finer res shifted right by the difference."""
    n = float(1 << res)
    return (F.expr(_X_SQL.format(lon=lon, n=n)),
            F.expr(_Y_SQL.format(lat=lat, n=n)))


def cell_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized numpy mirror of cell_sql (same op order)."""
    n = float(1 << res)
    cx = np.floor((lon + 180.0) * n / 360.0).astype(np.int64)
    cy = np.floor((lat + 90.0) * n / 180.0).astype(np.int64)
    return res * RES_SHIFT + cx * CX_SHIFT + cy


def cell_res(cell: int) -> int:
    return int(cell // RES_SHIFT)


def cell_xy(cell) -> tuple:
    """(cx, cy) of a cell id; works on ints and numpy arrays."""
    rem = cell % RES_SHIFT
    return rem // CX_SHIFT, rem % CX_SHIFT


def pack(res: int, cx, cy):
    return res * RES_SHIFT + cx * CX_SHIFT + cy


# ---------------------------------------------------------------- parent

_PARENT_SQL = (
    "(CAST({pres} AS BIGINT) * 72057594037927936"
    " + CAST(({cell} % 72057594037927936) DIV 268435456 AS BIGINT)"
    " DIV {f} * 268435456"
    " + CAST(({cell} % 268435456) AS BIGINT) DIV {f})"
)


def parent_sql(cell: str, child_res: int, parent_res: int) -> str:
    """SQL for the ancestor cell at ``parent_res``.

    Mirrors h3_to_parent semantics (reference analog:
    get_img_sum_stats_in_pxl, python/src/imagecalc.cpp:2384 — stats of
    fine pixels within each coarse pixel = parent-cell rollup).

    Note: uses Spark's ``DIV`` (integer division), which DuckDB spells
    ``//``, so the shared-oracle queries recompute the parent from
    lon/lat with cell_sql instead. This function is the Spark-side
    fast path; ``parent_np`` is its numpy twin.
    """
    f = 1 << (child_res - parent_res)
    return _PARENT_SQL.format(cell=cell, pres=parent_res, f=f)


def parent_np(cell: np.ndarray, parent_res: int) -> np.ndarray:
    res = cell // RES_SHIFT
    cx, cy = cell_xy(cell)
    shift = res - parent_res
    return pack(parent_res, cx >> shift.astype(np.int64), cy >> shift.astype(np.int64))


# ---------------------------------------------------------------- geometry of cells

def cell_bounds_np(cell: np.ndarray):
    """(lon_min, lat_min, lon_max, lat_max) arrays for cell ids."""
    res = (cell // RES_SHIFT).astype(np.int64)
    n = (1 << res).astype(np.float64)
    cx, cy = cell_xy(cell)
    w = 360.0 / n
    h = 180.0 / n
    lon0 = cx * w - 180.0
    lat0 = cy * h - 90.0
    return lon0, lat0, lon0 + w, lat0 + h


# ---------------------------------------------------------------- k-ring

def kring_col(cell: Column | str, k: int, res: int) -> Column:
    """Array Column of the cells within Chebyshev distance k.

    The H3 k_ring analog, used by the radius self-join
    (operators/knn.radius_count) and the tile halo
    (tiling.halo_explode).
    Longitude wraps mod 2^res; latitude is clamped (cells off the
    poles are dropped). Same cells in the same order as kring_np.
    Implemented as one constant-size ``transform`` over
    ``sequence(-k, k)`` — JVM-side, no UDF, and the expression the
    driver builds does not grow with k.
    """
    c = F.expr(cell) if isinstance(cell, str) else cell
    n = F.lit(1 << res)
    # packing is power-of-2 aligned, so extract with shifts (exact,
    # stays in long — never route int64 through a double)
    cx = F.shiftright(c, 28).bitwiseAND(F.lit((1 << 28) - 1))
    cy = c.bitwiseAND(F.lit((1 << 28) - 1))
    offs = F.sequence(F.lit(-k), F.lit(k))
    return F.flatten(F.transform(offs, lambda dx: F.transform(
        F.filter(offs, lambda dy: (cy + dy >= 0) & (cy + dy < n)),
        lambda dy: (F.lit(res * RES_SHIFT) + F.pmod(cx + dx, n) * F.lit(CX_SHIFT)
                    + cy + dy))))


def kring_np(cell: np.ndarray, k: int) -> np.ndarray:
    """(len(cell), <= (2k+1)^2) unique neighbour ids, numpy."""
    res = int(cell[0] // RES_SHIFT) if len(cell) else 0
    n = 1 << res
    cx, cy = cell_xy(cell)
    out = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            nx = (cx + dx) % n
            ny = cy + dy
            ok = (ny >= 0) & (ny < n)
            out.append(np.where(ok, pack(res, nx, ny), -1))
    return np.stack(out, axis=1)


# ---------------------------------------------------------------- polygon cover

def cover_bbox(lon_min: float, lat_min: float, lon_max: float,
               lat_max: float, res: int) -> np.ndarray:
    """Cell ids whose boxes intersect the bbox (inclusive).

    lon_min > lon_max encodes an antimeridian-crossing bbox
    (reference unwrap semantics:
    python/rsgislib/vectorutils/__init__.py:2973
    geopd_check_polys_wgs84_bounds_geometry).
    """
    n = 1 << res

    def _x(lon):
        return min(max(int(np.floor((lon + 180.0) * n / 360.0)), 0), n - 1)

    def _y(lat):
        return min(max(int(np.floor((lat + 90.0) * n / 180.0)), 0), n - 1)

    # bounds are INCLUSIVE: a max exactly on a cell edge covers one
    # extra row/col — harmless over-coverage (the exact refine drops
    # it), whereas any under-coverage silently loses join matches
    y0, y1 = _y(lat_min), _y(lat_max)
    if lon_min <= lon_max:
        xs = np.arange(_x(lon_min), _x(lon_max) + 1)
    else:  # crosses the antimeridian: [lon_min,180) U [-180,lon_max]
        xs = np.concatenate([np.arange(_x(lon_min), n), np.arange(0, _x(lon_max) + 1)])
    ys = np.arange(y0, y1 + 1)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return pack(res, gx.ravel(), gy.ravel())


COVER_RES = range(5, 14)  # adaptive_cover_res picks from these


def adaptive_cover_res(lon_min: float, lat_min: float, lon_max: float,
                       lat_max: float, max_cells: int = 256) -> int:
    """Finest res of ``COVER_RES`` whose bbox cover stays under
    ``max_cells`` (the coarsest when none does).

    This is the engine's analog of the reference choosing a tile size
    (create_tiles width/height, python/src/imageutils.cpp:2061): small
    polygons index at fine res (selective join key), continent-sized
    ones at coarse res (bounded explode fan-out). Scalars or arrays.
    """
    w = np.mod(np.subtract(lon_max, lon_min), 360.0)
    w, h = np.where(w == 0.0, 360.0, w), np.maximum(np.subtract(lat_max, lat_min), 1e-9)
    out = np.full(np.shape(w), COVER_RES[0])  # the finest res that fits wins
    for res in COVER_RES[1:]:
        n = 1 << res
        out = np.where((w / (360.0 / n) + 1) * (h / (180.0 / n) + 1) <= max_cells, res, out)
    return int(out) if out.ndim == 0 else out

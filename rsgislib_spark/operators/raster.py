"""Raster <-> vector operators over long-format pixel tables.

The engine's raster model (SURVEY.md §1.1): a grid is a DataFrame of
(x, y, band, value) rows — synthesized arithmetically or read from
parquet — georeferenced by an affine (origin, res) like GDAL's
geotransform. Operators:

- rasterize_polygons: burn polygons into the grid under GDAL's
  default pixel-CENTER rule (reference: rasterise_vec_lyr,
  python/rsgislib/vectorutils/createrasters.py:14-133; burn rule
  :108-114 — gdal.RasterizeLayer burns pixels whose center is inside),
  as a spatial join of the pixel centers: one point-in-polygon core
- extract_point_values: point -> pixel lookup via floor arithmetic
  (reference: ext_point_band_values,
  python/rsgislib/zonalstats/__init__.py:1328,1396-1594 —
  floor((pt-origin)/res), out-of-image/no-data => sentinel)
- focal_filter, focal_conv, focal_argmin, lee_filter,
  kuwahara_filter: k x k focal operators in applyInPandas over one
  halo-tile core, ``_halo_tiles`` (reference: imagefilter/__init__.py:
  38-951 ~25 filters over C++ apply_filters; the tile+overlap trick is
  the reference's own: python/src/imageutils.cpp:2061 overlap param)
- mosaic: overlapping tiles merged by first/min/max/last (reference:
  create_img_mosaic, python/src/imageutils.cpp:2095 skip_val/overlap
  behaviour)
- histogram / band_percentile (reference: python/src/imagecalc.cpp:
  2057,2088)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .spatial_join import PolygonIndex, spatial_join


def pixel_center_exprs(origin_x: float, origin_y: float, res: float,
                       x: str = "x", y: str = "y") -> tuple:
    """Shared-SQL (Spark == DuckDB) pixel-center lon/lat expressions.
    North-up grid: row y grows southward (GDAL convention)."""
    origin_x, origin_y, res = float(origin_x), float(origin_y), float(res)
    lon = (f"(CAST('{origin_x!r}' AS DOUBLE) + (CAST({x} AS DOUBLE)"
           f" + CAST(0.5 AS DOUBLE)) * CAST('{res!r}' AS DOUBLE))")
    lat = (f"(CAST('{origin_y!r}' AS DOUBLE) - (CAST({y} AS DOUBLE)"
           f" + CAST(0.5 AS DOUBLE)) * CAST('{res!r}' AS DOUBLE))")
    return lon, lat


def point_to_pixel_exprs(origin_x: float, origin_y: float, res: float,
                         lon: str = "lon", lat: str = "lat") -> tuple:
    """floor((pt - origin)/res) — the reference's exact arithmetic
    (zonalstats/__init__.py:1396)."""
    origin_x, origin_y, res = float(origin_x), float(origin_y), float(res)
    px = (f"CAST(FLOOR(({lon} - CAST('{origin_x!r}' AS DOUBLE))"
          f" / CAST('{res!r}' AS DOUBLE)) AS BIGINT)")
    py = (f"CAST(FLOOR((CAST('{origin_y!r}' AS DOUBLE) - {lat})"
          f" / CAST('{res!r}' AS DOUBLE)) AS BIGINT)")
    return px, py


def rasterize_polygons(grid: DataFrame, polys: list, origin_x: float,
                       origin_y: float, res: float) -> DataFrame:
    """Burn polygons into the grid: output (x, y, burn) where burn is
    the id of a polygon whose interior contains the pixel CENTER
    (GDAL default rule), highest poly_id wins overlaps (GDAL burns in
    feature order; we make the tie deterministic).

    polys: list of dicts with poly_id + rings (as PolygonIndex). The
    distinct pixel centers (``pixel_center_exprs``, the oracle's SQL)
    go through spatial_join, keyed by pixel so the edge refine counts
    each pixel's crossings once whatever the band count.
    """
    lon, lat = pixel_center_exprs(origin_x, origin_y, res)
    pix = grid.select("x", "y").distinct().selectExpr(
        "x", "y", "struct(x, y) AS _px", f"{lon} AS _lon", f"{lat} AS _lat")
    hits = spatial_join(pix, PolygonIndex(polys, res=None), lon="_lon",
                        lat="_lat", pt_id_col="_px")
    return hits.groupBy("x", "y").agg(F.max("poly_id").alias("burn"))


def extract_point_values(points: DataFrame, grid: DataFrame,
                         origin_x: float, origin_y: float, res: float,
                         band: int = 1, out_no_data: float = -9999.0,
                         no_data_val: float | None = None) -> DataFrame:
    """Point -> pixel value; anything out of image / no-data becomes
    the sentinel (ext_point_band_values semantics incl. the
    out_no_data_val fill, zonalstats/__init__.py:1396-1594)."""
    px, py = point_to_pixel_exprs(origin_x, origin_y, res)
    pts = points.selectExpr("*", f"{px} AS _px", f"{py} AS _py")
    g = grid.where(F.col("band") == band).select(
        F.col("x").alias("_px"), F.col("y").alias("_py"), "value")
    out = pts.join(g, ["_px", "_py"], "left")
    val = F.col("value")
    if no_data_val is not None:
        val = F.when(F.col("value") == no_data_val, None).otherwise(F.col("value"))
    return (
        out.withColumn("pix_val", F.coalesce(val, F.lit(out_no_data)))
        .drop("value", "_px", "_py")
    )


def _nanmode(w: np.ndarray) -> np.ndarray:
    """Row-wise mode of (n, m) windows, smallest value on ties: sort
    each window (NaN sorts last), run-length the equal runs, take the
    value of the longest run (first longest = smallest value since
    rows are sorted)."""
    ws = np.sort(w, axis=1)
    n, m = ws.shape
    newrun = np.ones((n, m), dtype=bool)
    newrun[:, 1:] = ws[:, 1:] != ws[:, :-1]
    run_id = np.cumsum(newrun, axis=1) - 1
    counts = np.zeros((n, m), dtype=np.int64)
    np.add.at(counts, (np.arange(n)[:, None], run_id), ~np.isnan(ws))
    best_run = np.argmax(counts, axis=1)  # first max
    # column index where run best_run starts
    first_col = np.full((n, m), m - 1, dtype=np.int64)
    cols = np.broadcast_to(np.arange(m), (n, m))
    np.minimum.at(first_col, (np.arange(n)[:, None], run_id),
                  np.where(newrun, cols, m - 1))
    return ws[np.arange(n), first_col[np.arange(n), best_run]]


# focal_filter's reductions over (n, k*k) NaN-padded windows
_FOCAL_REDUCERS = {
    "mean": lambda w: np.nanmean(w, axis=1),
    "min": lambda w: np.nanmin(w, axis=1),
    "max": lambda w: np.nanmax(w, axis=1),
    "median": lambda w: np.nanmedian(w, axis=1),
    "stddev": lambda w: np.nanstd(w, axis=1),
    "sum": lambda w: np.nansum(w, axis=1),
    "total": lambda w: np.nansum(w, axis=1),
    "range": lambda w: np.nanmax(w, axis=1) - np.nanmin(w, axis=1),
    "coeff_of_var": lambda w: np.nanstd(w, axis=1) / np.nanmean(w, axis=1),
    "var": lambda w: np.nanvar(w, axis=1),
    "norm_var": lambda w: np.nanvar(w, axis=1) / np.nanmean(w, axis=1),
    "mode": _nanmode,
}
FOCAL_STATS = set(_FOCAL_REDUCERS)


def _halo_tile_explode(grid: DataFrame, tile: int, h: int) -> DataFrame:
    """Assign each pixel to its home tile plus any neighbour tile whose
    halo (width h) it falls in — the reference's tile+overlap trick
    (imageutils.cpp:2061) as an explode. Requires h < tile (each pixel
    covers at most the 3x3 neighbouring tiles)."""
    if h >= tile:
        raise ValueError(
            f"halo {h} >= tile {tile}: a window would need pixels from "
            "beyond the 3x3 neighbour tiles and would silently truncate "
            "— raise tile (or shrink the kernel)")
    gx = (F.col("x") / tile).cast("long")
    gy = (F.col("y") / tile).cast("long")
    cand = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            tx = gx + dx
            ty = gy + dy
            cond = (
                (F.col("x") >= tx * tile - h) & (F.col("x") < (tx + 1) * tile + h)
                & (F.col("y") >= ty * tile - h) & (F.col("y") < (ty + 1) * tile + h)
                & (tx >= 0) & (ty >= 0)
            )
            cand.append(F.when(cond, F.concat_ws("_", tx, ty)))
    return grid.withColumn("_tile", F.explode(F.array_compact(F.array(*cand))))


_PD_TYPES = {"BIGINT": "int64", "DOUBLE": "float64"}


def _halo_tiles(grid: DataFrame, tile: int, h: int, fill: float,
                out: dict, kernel) -> DataFrame:
    """The halo-tile core of the focal operators. Pixels are tiled
    (tile x tile); each tile is shipped to one pandas UDF WITH ITS
    HALO of h duplicated border pixels — the reference's tile+overlap
    trick (imageutils.cpp:2061) — so every tile computes
    independently, no shuffle beyond the groupBy(tile).

    Per tile the pixels land in a dense window, padded by h and with
    ``fill`` where no pixel is (NaN for the nan-reductions: edge
    windows then truncate like the per-pixel clip of a windowed SQL
    self-join). ``kernel(P, r, c, hx, hy)`` gets that padded window
    P, the home pixels' window rows r and columns c (the (2h+1)-square
    window of a home pixel is P[r:r+2h+1, c:c+2h+1]) and their global
    x, y, and returns {column: values} for the ``out`` columns
    ({name: "BIGINT" | "DOUBLE"}), after x, y."""
    exploded = _halo_tile_explode(grid, tile, h)
    schema = ", ".join(f"{c} {t}" for c, t in
                       {"x": "BIGINT", "y": "BIGINT", **out}.items())
    empty = {c: pd.array([], dtype=_PD_TYPES[t]) for c, t in out.items()}

    def _tile(key, pdf):
        xs = pdf["x"].to_numpy()
        ys = pdf["y"].to_numpy()
        tx, ty = (int(t) for t in key[0].split("_"))
        home = ((xs >= tx * tile) & (xs < (tx + 1) * tile)
                & (ys >= ty * tile) & (ys < (ty + 1) * tile))
        hx, hy = xs[home], ys[home]
        if len(hx) == 0:  # halo-only group at the raster edge
            return pd.DataFrame({"x": hx, "y": hy, **empty})
        wx0, wy0 = xs.min(), ys.min()
        P = np.full((ys.max() - wy0 + 1 + 2 * h, xs.max() - wx0 + 1 + 2 * h),
                    fill)
        P[ys - wy0 + h, xs - wx0 + h] = pdf["value"].to_numpy(dtype=np.float64)
        with np.errstate(all="ignore"):
            cols = kernel(P, hy - wy0, hx - wx0, hx, hy)
        return pd.DataFrame({"x": hx, "y": hy, **cols})

    return exploded.groupBy("_tile").applyInPandas(_tile, schema=schema)


def _windows(P: np.ndarray, r, c, k: int) -> np.ndarray:
    """(n, k*k) windows of P with top-left corners (r, c)."""
    wins = np.lib.stride_tricks.sliding_window_view(P, (k, k))
    return wins[r, c].reshape(len(r), -1)


def focal_filter(grid: DataFrame, stat: str = "mean", k: int = 3,
                 tile: int = 64) -> DataFrame:
    """k x k focal aggregate per pixel (apply_*_filter semantics,
    imagefilter/__init__.py:38-571). Edge pixels aggregate over the
    available neighbourhood (scipy 'nearest'-free truncation — matches
    a plain windowed SQL self-join oracle). One vectorized
    nan-reduction per tile on the halo-tile core (``_halo_tiles``)."""
    if stat not in FOCAL_STATS:
        raise ValueError(f"stat must be one of {sorted(FOCAL_STATS)}")
    reduce = _FOCAL_REDUCERS[stat]
    return _halo_tiles(
        grid, tile, k // 2, np.nan, {"focal": "DOUBLE"},
        lambda P, r, c, hx, hy: {"focal": reduce(_windows(P, r, c, k))})


# Named kernels of the reference's linear filters
# (imagefilter/__init__.py:602-951): integer stencils + a power-of-two
# divisor keep integer-valued rasters exact in IEEE doubles.
KERNELS: dict = {
    "sobel_x": (np.array([[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]], float), 1.0),
    "sobel_y": (np.array([[-1, -2, -1], [0, 0, 0], [1, 2, 1]], float), 1.0),
    "prewitt_x": (np.array([[-1, 0, 1], [-1, 0, 1], [-1, 0, 1]], float), 1.0),
    "prewitt_y": (np.array([[-1, -1, -1], [0, 0, 0], [1, 1, 1]], float), 1.0),
    "laplacian": (np.array([[0, 1, 0], [1, -4, 1], [0, 1, 0]], float), 1.0),
    "gaussian3": (np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], float), 16.0),
    "gaussian5": (np.array([
        [1, 4, 6, 4, 1], [4, 16, 24, 16, 4], [6, 24, 36, 24, 6],
        [4, 16, 24, 16, 4], [1, 4, 6, 4, 1]], float), 256.0),
    "sharpen": (np.array([[0, -1, 0], [-1, 5, -1], [0, -1, 0]], float), 1.0),
}


def focal_conv(grid: DataFrame, kernel, divisor: float | None = None,
               tile: int = 64) -> DataFrame:
    """k x k linear convolution (apply_sobel_filter / _gaussian_ /
    _laplacian_ etc., imagefilter/__init__.py:602-951) on the halo-tile
    core. Missing / off-raster pixels contribute 0 (the
    join-omits-rows semantics of the SQL oracle). kernel: a name from
    KERNELS or a (k,k) array; divisor divides the stencil sum."""
    if isinstance(kernel, str):
        kern, div = KERNELS[kernel]
    else:
        kern, div = np.asarray(kernel, dtype=np.float64), 1.0
    if divisor is not None:
        div = float(divisor)
    k = kern.shape[0]
    if kern.shape != (k, k) or k % 2 != 1:
        raise ValueError("kernel must be square with odd size")
    stencil = kern.ravel()
    return _halo_tiles(
        grid, tile, k // 2, 0.0, {"conv": "DOUBLE"},
        lambda P, r, c, hx, hy: {
            "conv": np.einsum("nj,j->n", _windows(P, r, c, k), stencil) / div})


def focal_argmin(grid: DataFrame, k: int = 3, tile: int = 64) -> DataFrame:
    """identify_min_pxl_value_in_win (python/src/imagecalc.cpp:2409):
    per pixel, the VALUE and COORDINATES of the minimum pixel in its
    k x k window (lowest flat index breaks ties, deterministic)."""
    h = k // 2

    def _amin(P, r, c, hx, hy):
        w = _windows(P, r, c, k)
        flat = np.nanargmin(w, axis=1)  # first (lowest index) tie
        # window-local (row, col) -> global pixel coords
        return {"min_x": hx + flat % k - h, "min_y": hy + flat // k - h,
                "min_val": w[np.arange(len(hx)), flat]}

    return _halo_tiles(grid, tile, h, np.nan, {
        "min_x": "BIGINT", "min_y": "BIGINT", "min_val": "DOUBLE"}, _amin)


def lee_filter(grid: DataFrame, k: int = 3, noise_var: float = 1.0,
               tile: int = 64) -> DataFrame:
    """Lee adaptive speckle filter (apply_lee_filter,
    imagefilter/__init__.py:915): out = m + v/(v+noise) * (x - m) with
    window mean m / variance v."""
    h = k // 2

    def _lee(P, r, c, hx, hy):
        w = _windows(P, r, c, k)
        m, v = np.nanmean(w, axis=1), np.nanvar(w, axis=1)
        return {"lee": m + v / (v + noise_var) * (P[r + h, c + h] - m)}

    return _halo_tiles(grid, tile, h, np.nan, {"lee": "DOUBLE"}, _lee)


def kuwahara_filter(grid: DataFrame, k: int = 5, tile: int = 64) -> DataFrame:
    """Kuwahara edge-preserving filter (apply_kuwahara_filter,
    imagefilter/__init__.py:951): mean of the least-variance quadrant
    of the k x k window (quadrants of size (k+1)/2; deterministic
    NW-NE-SW-SE tie order)."""
    if k % 2 != 1:
        raise ValueError("k must be odd")
    h = k // 2

    def _kuw(P, r, c, hx, hy):
        # quadrant top-left corners in P: NW=(r,c), NE=(r,c+h),
        # SW=(r+h,c), SE=(r+h,c+h) — each includes the center row/col
        quads = [_windows(P, r + dr, c + dc, h + 1)
                 for dr, dc in ((0, 0), (0, h), (h, 0), (h, h))]
        means = np.stack([np.nanmean(q, axis=1) for q in quads])
        best = np.argmin([np.nanvar(q, axis=1) for q in quads], axis=0)
        return {"kuwahara": means[best, np.arange(len(hx))]}  # first min

    return _halo_tiles(grid, tile, h, np.nan, {"kuwahara": "DOUBLE"}, _kuw)


def distance_to_value(grid: DataFrame, target_value: float, band: int = 1,
                      max_dist: float | None = None, dense: bool = False,
                      tile: int = 64) -> DataFrame:
    """calc_dist_to_img_vals (imagecalc/__init__.py:145-245,
    gdal.ComputeProximity): per pixel, distance (pixel units) to the
    nearest pixel holding ``target_value``; optionally capped at
    max_dist like the reference's max_dist parameter.

    Two physical strategies:
    - dense=False (sparse targets, e.g. a handful of burned features):
      collect + broadcast the target set into a mapInPandas argmin —
      zero shuffle, but driver-bound if targets are dense.
    - dense=True: fully distributed halo'd-tile exact EDT — the
      reference's own tiled recipe (calc_dist_to_img_vals_tiled,
      imagecalc/__init__.py:280-468, overlap = ceil(max_dist/res)):
      only TARGET pixels are exploded into neighbouring tiles'
      halos (never the full raster), then a per-tile two-phase exact
      distance transform (1D row sweep + bounded column min) in numpy.
      Requires max_dist (the halo bound); never touches the driver.
    """
    if dense:
        if max_dist is None:
            raise ValueError("dense=True requires max_dist (halo bound)")
        return _distance_dense(grid, target_value, band, float(max_dist), tile)
    targets = (
        grid.where((F.col("band") == band) & (F.col("value") == target_value))
        .select("x", "y").collect()
    )
    tx = np.array([r.x for r in targets], dtype=np.float64)
    ty = np.array([r.y for r in targets], dtype=np.float64)
    cap = max_dist

    def _dist(batches):
        for pdf in batches:
            px = pdf["x"].to_numpy(dtype=np.float64)
            py = pdf["y"].to_numpy(dtype=np.float64)
            if len(tx) == 0:
                d = np.full(len(pdf), np.inf)
            else:
                dx = px[:, None] - tx[None, :]
                dy = py[:, None] - ty[None, :]
                d = np.sqrt(np.min(dx * dx + dy * dy, axis=1))
            if cap is not None:
                d = np.minimum(d, cap)
            out = pd.DataFrame({"x": pdf["x"], "y": pdf["y"], "dist": d})
            yield out

    return (
        grid.where(F.col("band") == band).select("x", "y")
        .mapInPandas(_dist, schema="x BIGINT, y BIGINT, dist DOUBLE")
    )


def _distance_dense(grid: DataFrame, target_value: float, band: int,
                    max_dist: float, tile: int) -> DataFrame:
    """Distributed exact EDT, capped at max_dist. Shuffle cost: the
    raster once (tile groupBy) + target pixels × the (2h/tile+1)²
    neighbouring tiles they halo into — never an all-pairs matrix,
    never a driver collect."""
    h = int(np.ceil(max_dist))
    px = grid.where(F.col("band") == band).select("x", "y", "value")
    home = (
        px.withColumn("_tx", (F.col("x") / tile).cast("long"))
        .withColumn("_ty", (F.col("y") / tile).cast("long"))
        .withColumn("_is_home", F.lit(True))
    )
    tgt = (
        px.where(F.col("value") == target_value)
        .withColumn("_tx", F.explode(F.sequence(
            F.floor((F.col("x") - h) / F.lit(float(tile))).cast("long"),
            F.floor((F.col("x") + h) / F.lit(float(tile))).cast("long"))))
        .withColumn("_ty", F.explode(F.sequence(
            F.floor((F.col("y") - h) / F.lit(float(tile))).cast("long"),
            F.floor((F.col("y") + h) / F.lit(float(tile))).cast("long"))))
        .withColumn("_is_home", F.lit(False))
    )
    both = home.unionByName(tgt)
    tval, cap = target_value, max_dist
    INF = 1.0e9

    def _edt(key, pdf):
        hm = pdf["_is_home"].to_numpy()
        if not hm.any():  # halo-only tile outside the raster
            return pd.DataFrame({"x": pd.array([], dtype="int64"),
                                 "y": pd.array([], dtype="int64"),
                                 "dist": pd.array([], dtype="float64")})
        xs = pdf["x"].to_numpy(dtype=np.int64)
        ys = pdf["y"].to_numpy(dtype=np.int64)
        vs = pdf["value"].to_numpy(dtype=np.float64)
        is_t = vs == tval
        wx0, wy0 = xs.min(), ys.min()
        Wd, Hd = int(xs.max() - wx0 + 1), int(ys.max() - wy0 + 1)
        T = np.zeros((Hd, Wd), dtype=bool)
        T[ys[is_t] - wy0, xs[is_t] - wx0] = True
        # phase 1: exact 1D distance to nearest target along each row
        g = np.where(T, 0.0, INF)
        for i in range(1, Wd):
            np.minimum(g[:, i], g[:, i - 1] + 1.0, out=g[:, i])
        for i in range(Wd - 2, -1, -1):
            np.minimum(g[:, i], g[:, i + 1] + 1.0, out=g[:, i])
        g2 = g * g
        # phase 2: min over row offsets within the halo bound
        d2 = np.full((Hd, Wd), np.inf)
        for dy in range(-h, h + 1):
            if dy >= 0:
                np.minimum(d2[dy:, :], g2[:Hd - dy, :] + float(dy * dy),
                           out=d2[dy:, :])
            else:
                np.minimum(d2[:Hd + dy, :], g2[-dy:, :] + float(dy * dy),
                           out=d2[:Hd + dy, :])
        d = np.sqrt(d2)
        hx, hy = xs[hm], ys[hm]
        return pd.DataFrame({
            "x": hx, "y": hy,
            "dist": np.minimum(d[hy - wy0, hx - wx0], cap),
        })

    return both.groupBy("_tx", "_ty").applyInPandas(
        _edt, schema="x BIGINT, y BIGINT, dist DOUBLE")


def pixels_to_points(grid: DataFrame, target_value: float,
                     origin_x: float, origin_y: float, res: float,
                     band: int = 1) -> DataFrame:
    """vectorise_pxls_to_pts (vectorutils/createvectors.py:124-225):
    pixels holding target_value → their center points — a pure
    codegen filter + projection (the reference runs a RIOS block
    applier collecting x/y arrays)."""
    lon, lat = pixel_center_exprs(origin_x, origin_y, res)
    return (
        grid.where((F.col("band") == band)
                   & (F.col("value") == target_value))
        .selectExpr("x", "y", f"{lon} AS lon", f"{lat} AS lat")
    )


def mosaic(tiles: DataFrame, how: str = "max",
           skip_val: float | None = None) -> DataFrame:
    """Merge overlapping tile pixel rows into one raster
    (create_img_mosaic semantics, imageutils.cpp:2095): per (x, y,
    band) keep min/max/first; skip_val rows are ignored like the
    reference's skip value."""
    df = tiles
    if skip_val is not None:
        df = df.where(F.col("value") != skip_val)
    agg = {"min": F.min("value"), "max": F.max("value"),
           "first": F.min_by("value", "tile_id")}[how]
    return df.groupBy("x", "y", "band").agg(agg.alias("value"))


def pixel_stat_across_images(imgs: DataFrame, stat: str = "argmax") -> DataFrame:
    """Per-pixel statistics ACROSS a stack of images
    (get_img_idx_for_stat python/src/imagecalc.cpp:2331 — argmin/
    argmax/median index; calc_imgs_pxl_mode imagecalc/__init__.py:1100).

    imgs: (img_id, x, y, value). Returns per (x, y): the img_id of the
    max/min value (lowest img_id tie-break) or the mode/median value.
    One groupBy — map-side combinable."""
    if stat == "argmax":
        agg = F.min_by("img_id", F.struct((-F.col("value")).alias("a"),
                                          F.col("img_id").alias("b"))).alias("img_id")
    elif stat == "argmin":
        agg = F.min_by("img_id", F.struct(F.col("value").alias("a"),
                                          F.col("img_id").alias("b"))).alias("img_id")
    elif stat == "median":
        agg = F.expr("CAST(percentile(value, 0.5) AS DOUBLE)").alias("median")
    elif stat == "mode":
        # smallest modal value (scipy-mstats rule), via count desc
        counted = imgs.groupBy("x", "y", "value").agg(F.count("*").alias("_n"))
        return counted.groupBy("x", "y").agg(
            F.min_by("value", F.struct((-F.col("_n")).alias("a"),
                                       F.col("value").alias("b"))).alias("mode"))
    else:
        raise ValueError("stat must be argmax/argmin/median/mode")
    return imgs.groupBy("x", "y").agg(agg)


def pixel_percentiles_across_images(imgs: DataFrame,
                                    pcts: list) -> DataFrame:
    """calc_imgs_pxl_percentiles (imagecalc/__init__.py:1161): per
    pixel, arbitrary percentiles of the value across the image stack —
    one map-side-combinable groupBy, exact interpolated percentile
    (the reference uses np.percentile, same linear interpolation)."""
    aggs = [
        F.expr(f"CAST(percentile(value, CAST('{float(p)!r}' AS DOUBLE)) AS DOUBLE)")
        .alias(f"p{int(round(p * 100)):02d}")
        for p in pcts
    ]
    return imgs.groupBy("x", "y").agg(*aggs)


def count_value_occurrences_across_images(imgs: DataFrame,
                                          target: float) -> DataFrame:
    """count_imgs_int_val_occur (imagecalc/__init__.py:1897): per
    pixel, in how many images of the stack the target value occurs."""
    return (
        imgs.groupBy("x", "y")
        .agg(F.sum(F.when(F.col("value") == target, 1).otherwise(0))
             .alias("n_occur"))
    )


def order_images_by_valid_fraction(imgs: DataFrame,
                                   no_data: float) -> DataFrame:
    """order_img_using_prop_valid_pxls (imageutils.cpp:2470): images
    ranked by % valid pixels, descending."""
    return (
        imgs.groupBy("img_id")
        .agg((F.sum(F.when(F.col("value") != no_data, 1).otherwise(0))
              / F.count("*")).alias("valid_frac"))
        .orderBy(F.desc("valid_frac"), F.asc("img_id"))
    )


def histogram(grid: DataFrame, band: int, lo: float, hi: float,
              n_bins: int) -> DataFrame:
    """Whole-band histogram via width_bucket (get_histogram,
    imagecalc.cpp:2073)."""
    return (
        grid.where(F.col("band") == band)
        .select(F.width_bucket("value", F.lit(lo), F.lit(hi), F.lit(n_bins))
                .alias("bucket"))
        .groupBy("bucket").agg(F.count("*").alias("n"))
    )


def band_percentile(grid: DataFrame, band: int, pct: float,
                    exact: bool = True) -> DataFrame:
    """calc_band_percentile (imagecalc.cpp:2088). exact=False uses
    percentile_approx — the reference's own 200-bin RAT percentile is
    approximate too (rastergis.cpp:1767-1791)."""
    fn = "percentile" if exact else "percentile_approx"
    return grid.where(F.col("band") == band).selectExpr(
        f"CAST({fn}(value, CAST('{float(pct)!r}' AS DOUBLE)) AS DOUBLE) AS pct_val")

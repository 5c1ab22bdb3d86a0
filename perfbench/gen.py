"""Seeded input generators for the benchmark.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical tables (and the same :func:`digest`), another seed gives
other tables. The engine only ever sees the parquet files written here
(plus the gazetteer and fixture polygon literals that ship with it).

Inputs:

- ``pages``   -- the ``data.pages`` schema (url, warc_ts, html, text,
  lang). 40% of rows sit in 3 hot places; 1 row in 5 carries only the
  gazetteer place name (no ``geo:`` token); 1 row in 100 names a place
  the gazetteer does not know and carries no token (geoparse yields
  NULL).
- ``points``  -- pt_id, lon, lat, meas; 40% of rows in 3 hot spots,
  1% in a patch far east of every site.
- ``parcels`` -- poly_id, geometry (WKB): rectangles and diamonds,
  denser around the point hot spots.
- ``sites``   -- site_id, site_lon, site_lat: 70% in clusters, 30%
  uniform background.
- ``grid``    -- long-format raster (x, y, band, value) with no-data
  blocks, plus ``zones`` (driver-side polygon list): some overlap,
  one lies off the grid and one falls between pixel centres, so both
  stay empty.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# reference-layer region (lon0, lat0, lon1, lat1)
REGION = (-10.0, 35.0, 30.0, 60.0)

LANGS = np.array(["en", "de", "fr", "es", "pt"])
TLDS = np.array(["com", "org", "net", "io", "info"])
WORDS = np.array(["lorem", "ipsum", "dolor", "sit", "amet", "crawl",
                  "corpus", "sample", "tile", "river", "harbour", "market",
                  "station", "museum", "valley", "north", "south"])

GRID_NODATA = -99.0
ROW_GROUPS = 32


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


# ------------------------------------------------------------------ pages
def pages(seed: int, n: int, payload_words: int = 0) -> dict:
    """Pages table plus the per-row facts the oracle needs.

    Returns {"table": pa.Table, "lon": parsed lon or NaN,
    "lat": ..., "text_len": int array}. ``payload_words`` appends that
    many random words to every text (the write-back payload)."""
    from rsgislib_spark.data.pages import gazetteer_rows

    rng = _rng(seed, 1)
    gaz = gazetteer_rows()
    g_name = np.array([g[0] for g in gaz])
    g_lon = np.array([g[1] for g in gaz])
    g_lat = np.array([g[2] for g in gaz])

    hot = rng.choice(len(gaz), 3, replace=False)
    is_hot = rng.random(n) < 0.4
    place = np.where(is_hot, hot[rng.integers(0, 3, n)],
                     rng.integers(0, len(gaz), n))
    lon = g_lon[place] + rng.uniform(-2.0, 2.0, n)
    lon = ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    lat = np.clip(g_lat[place] + rng.uniform(-2.0, 2.0, n), -89.999, 89.999)

    u = rng.random(n)
    unknown = u < 0.01                   # unknown place, no token
    name_only = (u >= 0.01) & (u < 0.21)  # place name only
    has_tok = ~(unknown | name_only)

    names = np.where(unknown, np.char.add("zz", place.astype(str)),
                     g_name[place])
    ids = np.arange(n, dtype=np.int64)
    tok = [f" geo:{x:.4f},{y:.4f}" if t else ""
           for x, y, t in zip(lon.tolist(), lat.tolist(), has_tok.tolist())]
    if payload_words:
        w = WORDS[rng.integers(0, len(WORDS), (n, payload_words))]
        payload = [" " + " ".join(r) for r in w.tolist()]
    else:
        payload = [""] * n
    text = [f"Page {i} near {p}{t} lorem ipsum crawl corpus sample.{pl}"
            for i, p, t, pl in zip(ids.tolist(), names.tolist(), tok, payload)]
    host = rng.integers(0, 97, n)
    tld = TLDS[rng.integers(0, len(TLDS), n)]
    url = [f"https://host{h}.example.{d}/{p}/{i}"
           for h, d, p, i in zip(host.tolist(), tld.tolist(), names.tolist(),
                                 ids.tolist())]
    ts = (np.datetime64("2025-01-01T00:00:00", "us")
          + rng.integers(0, 86400 * 365, n).astype("timedelta64[s]"))
    text_arr = pa.array(text, pa.string())
    html = pa.array([b"<html><body>" + t.encode() + b"</body></html>"
                     for t in text], pa.binary())
    table = pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": html,
        "text": text_arr,
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)], pa.string()),
    })

    # what a correct geoparse returns: the token text parsed back, the
    # gazetteer centre for name-only rows, NaN when neither resolves
    p_lon = np.where(name_only, g_lon[place], np.nan)
    p_lat = np.where(name_only, g_lat[place], np.nan)
    tok_idx = np.flatnonzero(has_tok)
    p_lon[tok_idx] = [float(f"{x:.4f}") for x in lon[tok_idx].tolist()]
    p_lat[tok_idx] = [float(f"{y:.4f}") for y in lat[tok_idx].tolist()]
    text_len = np.array([len(t) for t in text], dtype=np.int64)
    return {"table": table, "lon": p_lon, "lat": p_lat, "text_len": text_len}


# --------------------------------------------------------- reference layers
def _hot_spots(seed: int) -> np.ndarray:
    lon0, lat0, lon1, lat1 = REGION
    rng = _rng(seed, 2)
    return np.column_stack([rng.uniform(lon0 + 3, lon1 - 3, 3),
                            rng.uniform(lat0 + 3, lat1 - 3, 3)])


def _scatter(rng, n: int, centres: np.ndarray, sigma: float,
             hot_share: float) -> tuple:
    lon0, lat0, lon1, lat1 = REGION
    hot = rng.random(n) < hot_share
    c = centres[rng.integers(0, len(centres), n)]
    lon = np.where(hot, c[:, 0] + rng.normal(0.0, sigma, n),
                   rng.uniform(lon0, lon1, n))
    lat = np.where(hot, c[:, 1] + rng.normal(0.0, sigma, n),
                   rng.uniform(lat0, lat1, n))
    return np.clip(lon, lon0, lon1), np.clip(lat, lat0, lat1)


# a patch east of the site region for 1 point in 100, 12-16 degrees
# from the nearest site: beyond the radius knn_kring's first ring round
# guarantees for 1k sites (11.25 degrees), within its second
FAR = (42.0, 45.0, 44.0, 50.0)


def points(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, 3)
    lon, lat = _scatter(rng, n, _hot_spots(seed), 0.4, 0.4)
    far = rng.random(n) < 0.01
    lon = np.where(far, rng.uniform(FAR[0], FAR[2], n), lon)
    lat = np.where(far, rng.uniform(FAR[1], FAR[3], n), lat)
    return pa.table({
        "pt_id": pa.array(np.arange(n, dtype=np.int64) * 3 + 1),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
        "meas": pa.array(rng.integers(0, 100, n).astype(np.float64)),
    })


def parcel_rings(seed: int, n: int) -> np.ndarray:
    """(n, 5, 2) closed quadrilateral rings: even ids are axis-aligned
    rectangles, odd ids diamonds (slanted edges)."""
    rng = _rng(seed, 4)
    cx, cy = _scatter(rng, n, _hot_spots(seed), 0.8, 0.3)
    w = rng.uniform(0.02, 0.12, n)
    h = rng.uniform(0.02, 0.12, n)
    rect = np.stack([
        np.column_stack([cx - w / 2, cy - h / 2]),
        np.column_stack([cx + w / 2, cy - h / 2]),
        np.column_stack([cx + w / 2, cy + h / 2]),
        np.column_stack([cx - w / 2, cy + h / 2]),
    ], axis=1)
    diamond = np.stack([
        np.column_stack([cx - w / 2, cy]),
        np.column_stack([cx, cy - h / 2]),
        np.column_stack([cx + w / 2, cy]),
        np.column_stack([cx, cy + h / 2]),
    ], axis=1)
    quad = np.where((np.arange(n) % 2 == 0)[:, None, None], rect, diamond)
    return np.concatenate([quad, quad[:, :1]], axis=1)


def polygon_wkb(rings: np.ndarray) -> list:
    """Little-endian OGC WKB Polygon (one ring) per (k, 2) ring."""
    n, k, _ = rings.shape
    head = np.zeros(n, dtype=[("bo", "u1"), ("t", "<u4"), ("nr", "<u4"),
                              ("np", "<u4"), ("xy", "<f8", (2 * k,))])
    head["bo"], head["t"], head["nr"], head["np"] = 1, 3, 1, k
    head["xy"] = rings.reshape(n, 2 * k)
    raw = head.tobytes()
    size = head.dtype.itemsize
    return [raw[i * size:(i + 1) * size] for i in range(n)]


def parcels(seed: int, n: int) -> tuple:
    rings = parcel_rings(seed, n)
    table = pa.table({
        "poly_id": pa.array(np.arange(n, dtype=np.int64) + 1),
        "geometry": pa.array(polygon_wkb(rings), pa.binary()),
    })
    return table, rings


def sites(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, 5)
    lon0, lat0, lon1, lat1 = REGION
    centres = np.vstack([
        _hot_spots(seed),
        np.column_stack([rng.uniform(lon0, lon1, 17),
                         rng.uniform(lat0, lat1, 17)]),
    ])
    lon, lat = _scatter(rng, n, centres, 0.4, 0.7)
    return pa.table({
        "site_id": pa.array(np.arange(n, dtype=np.int64) + 1),
        "site_lon": pa.array(lon),
        "site_lat": pa.array(lat),
    })


GRID_ORIGIN = (5.0, 50.0)
GRID_RES = 0.01


def grid(seed: int, w: int, h: int) -> tuple:
    """Long-format band-1 raster: integer values in [0, 40) (so modes
    tie), six no-data blocks. Returns (table, values[h, w])."""
    rng = _rng(seed, 6)
    val = rng.integers(0, 40, (h, w)).astype(np.float64)
    for _ in range(6):
        bw, bh = rng.integers(w // 16, w // 5), rng.integers(h // 16, h // 5)
        x0, y0 = rng.integers(0, w - bw), rng.integers(0, h - bh)
        val[y0:y0 + bh, x0:x0 + bw] = GRID_NODATA
    yy, xx = np.mgrid[0:h, 0:w]
    table = pa.table({
        "x": pa.array(xx.ravel().astype(np.int64)),
        "y": pa.array(yy.ravel().astype(np.int64)),
        "band": pa.array(np.ones(w * h, dtype=np.int32)),
        "value": pa.array(val.ravel()),
    })
    return table, val


def zones(seed: int, w: int, h: int, n: int) -> list:
    """Zone polygons over the grid: rectangles and triangles, ids
    1..n. Zone n-1 lies off the grid and zone n sits between pixel
    centres, so both burn no pixel; the rest overlap at random."""
    rng = _rng(seed, 7)
    ox, oy = GRID_ORIGIN
    ext_w, ext_h = w * GRID_RES, h * GRID_RES
    out = []
    for zid in range(1, n - 1):
        zw = rng.uniform(0.05, 0.3) * ext_w
        zh = rng.uniform(0.05, 0.3) * ext_h
        x0 = ox + rng.uniform(0, ext_w - zw)
        y1 = oy - rng.uniform(0, ext_h - zh)
        if zid % 3 == 0:
            ring = [(x0, y1 - zh), (x0 + zw, y1 - zh), (x0 + zw / 2, y1),
                    (x0, y1 - zh)]
        else:
            ring = [(x0, y1 - zh), (x0 + zw, y1 - zh), (x0 + zw, y1),
                    (x0, y1), (x0, y1 - zh)]
        out.append({"poly_id": zid, "rings": [np.array(ring)]})
    # off the grid (east of it)
    x0 = ox + ext_w + 0.5
    out.append({"poly_id": n - 1, "rings": [np.array(
        [(x0, oy - 0.2), (x0 + 0.1, oy - 0.2), (x0 + 0.1, oy - 0.1),
         (x0, oy - 0.1), (x0, oy - 0.2)])]})
    # a sliver between two columns of pixel centres
    xs = ox + 10.6 * GRID_RES
    out.append({"poly_id": n, "rings": [np.array(
        [(xs, oy - 0.3), (xs + 0.2 * GRID_RES, oy - 0.3),
         (xs + 0.2 * GRID_RES, oy - 0.1), (xs, oy - 0.1), (xs, oy - 0.3)])]})
    return out


# ------------------------------------------------------------------ output
def write_parquet(table: pa.Table, path: str) -> None:
    """Many row groups, so the scan splits across every core."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path,
                   row_group_size=max(1, table.num_rows // ROW_GROUPS))


def digest(*tables: pa.Table) -> str:
    """sha256 over the Arrow IPC bytes of the given tables."""
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()

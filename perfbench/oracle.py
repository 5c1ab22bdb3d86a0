"""Engine-free answers for every benchmark op, in numpy.

Nothing here imports the engine's operators: the even-odd ray cast,
the quadtree cell formula, the nearest-site search and the zonal
statistics are written out again from their definitions. Floating
point follows the same IEEE expressions the definitions fix (crossing
x = (x2-x1)*(y-y1)/(y2-y1)+x1, d2 = dx*dx+dy*dy, two-moment stddev),
so integer-valued results compare exactly and the rest to 1e-9.
"""

from __future__ import annotations

import numpy as np

SENTINEL = -9999.0
STATS = ("min", "max", "mean", "stddev", "sum", "count", "median", "mode")
MIX = 2147483647


def inside(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Even-odd ray cast of points against one polygon's rings."""
    odd = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        for (x1, y1), (x2, y2) in zip(ring[:-1].tolist(), ring[1:].tolist()):
            if y1 == y2:
                continue
            cross = (y1 > py) != (y2 > py)
            xs = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            odd ^= cross & (px < xs)
    return odd


def zonal(zone: np.ndarray, value: np.ndarray, zone_ids) -> dict:
    """zone id -> stats tuple (reference semantics: population stddev,
    exact median, smallest modal value); zones without values get the
    sentinel."""
    out = {}
    order = np.argsort(zone, kind="stable")
    zone, value = zone[order], value[order]
    bounds = np.flatnonzero(np.r_[True, zone[1:] != zone[:-1], True])
    groups = {int(zone[bounds[i]]): value[bounds[i]:bounds[i + 1]]
              for i in range(len(bounds) - 1)} if len(zone) else {}
    for z in zone_ids:
        v = groups.get(int(z))
        if v is None:
            out[int(z)] = (SENTINEL,) * len(STATS)
            continue
        n = float(len(v))
        s = float(np.sum(v))
        mean = s / n
        std = np.sqrt(float(np.sum(v * v)) / n - mean * mean)
        uniq, cnt = np.unique(v, return_counts=True)
        mode = float(uniq[np.argmax(cnt)])  # unique() sorts: first = smallest
        out[int(z)] = (float(v.min()), float(v.max()), mean, float(std), s, n,
                       float(np.median(v)), mode)
    return out


def stats_match(got: dict, want: dict) -> bool:
    if set(got) != set(want):
        return False
    for k, w in want.items():
        if not np.allclose(np.asarray(got[k], dtype=np.float64),
                           np.asarray(w, dtype=np.float64),
                           rtol=1e-9, atol=1e-9):
            return False
    return True


def pair_checksum(a: np.ndarray, b: np.ndarray) -> tuple:
    """Order-free checksum of (a, b) pairs; the benchmark computes the
    same sums on the engine side as one aggregate."""
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    return (int(len(a)), int(a.sum()), int(b.sum()),
            int(((a * 1000003 + b) % MIX).sum()))


# ------------------------------------------------------------ geotile_join
def _unwrap(rings: list) -> tuple:
    out = []
    for r in rings:
        r = np.asarray(r, dtype=np.float64)
        if r[:, 0].max() - r[:, 0].min() > 180.0:
            r = r.copy()
            r[:, 0] = np.where(r[:, 0] < 0.0, r[:, 0] + 360.0, r[:, 0])
        out.append(r)
    return out, max(r[:, 0].max() for r in out) > 180.0


def geotile(pg: dict, polygons: list) -> dict:
    """Zonal stats of length(text) per fixture polygon over the
    geoparsed pages (points inside k polygons count k times)."""
    ok = ~np.isnan(pg["lon"])
    x, y = pg["lon"][ok], pg["lat"][ok]
    meas = pg["text_len"][ok].astype(np.float64)
    zone, value = [], []
    for p in polygons:
        rings, wrapped = _unwrap(p["rings"])
        xx = np.where(x < 0.0, x + 360.0, x) if wrapped else x
        m = inside(xx, y, rings)
        zone.append(np.full(int(m.sum()), p["poly_id"], dtype=np.int64))
        value.append(meas[m])
    zone, value = np.concatenate(zone), np.concatenate(value)
    # inner spatial join: only polygons with at least one page appear
    return zonal(zone, value, sorted(set(zone.tolist())))


def tile_counts(pg: dict, res: int = 5) -> dict:
    """Resolved pages per quadtree cell at ``res`` (cell id formula:
    res * 2^56 + cx * 2^28 + cy on a 2^res x 2^res lon/lat grid)."""
    ok = ~np.isnan(pg["lon"])
    n = float(1 << res)
    cx = np.floor((pg["lon"][ok] + 180.0) * n / 360.0).astype(np.int64)
    cy = np.floor((pg["lat"][ok] + 90.0) * n / 180.0).astype(np.int64)
    cell = res * (1 << 56) + cx * (1 << 28) + cy
    u, c = np.unique(cell, return_counts=True)
    return dict(zip(u.tolist(), c.tolist()))


# -------------------------------------------------------- reference_layers
def parcel_pairs(pt_id, lon, lat, rings: np.ndarray, cell: float = 0.15):
    """(pt_id, poly_id) for every point inside every parcel. Parcels
    are binned by bbox into ``cell``-degree bins; the exact ray cast
    then runs on every (point, parcel) pair sharing a bin."""
    poly_id = np.arange(len(rings), dtype=np.int64) + 1
    xmin, xmax = rings[:, :, 0].min(1), rings[:, :, 0].max(1)
    ymin, ymax = rings[:, :, 1].min(1), rings[:, :, 1].max(1)
    bx0, bx1 = np.floor(xmin / cell).astype(np.int64), np.floor(xmax / cell).astype(np.int64)
    by0, by1 = np.floor(ymin / cell).astype(np.int64), np.floor(ymax / cell).astype(np.int64)
    keys, owners = [], []
    for dx in range(int((bx1 - bx0).max()) + 1):
        for dy in range(int((by1 - by0).max()) + 1):
            m = (bx0 + dx <= bx1) & (by0 + dy <= by1)
            keys.append((bx0[m] + dx) * 100003 + (by0[m] + dy))
            owners.append(np.flatnonzero(m))
    keys, owners = np.concatenate(keys), np.concatenate(owners)
    order = np.argsort(keys, kind="stable")
    keys, owners = keys[order], owners[order]
    pkey = (np.floor(lon / cell).astype(np.int64) * 100003
            + np.floor(lat / cell).astype(np.int64))
    lo = np.searchsorted(keys, pkey, "left")
    cnt = np.searchsorted(keys, pkey, "right") - lo
    pi = np.repeat(np.arange(len(lon)), cnt)
    start = np.repeat(lo - np.cumsum(cnt) + cnt, cnt)
    gi = owners[start + np.arange(len(pi))]
    x, y = lon[pi], lat[pi]
    odd = np.zeros(len(pi), dtype=bool)
    for e in range(rings.shape[1] - 1):
        x1, y1 = rings[gi, e, 0], rings[gi, e, 1]
        x2, y2 = rings[gi, e + 1, 0], rings[gi, e + 1, 1]
        cross = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = (x2 - x1) * (y - y1) / (y2 - y1) + x1
        odd ^= cross & (x < xs)
    return pt_id[pi[odd]], poly_id[gi[odd]]


def nearest_site(lon, lat, sx, sy, sid) -> tuple:
    """Nearest site per point under planar d2 = dx*dx + dy*dy, ties to
    the lowest site id. Grid search at growing bin sizes; a point is
    final once its best d2 is within the searched block's radius."""
    n = len(lon)
    best_d = np.full(n, np.inf)
    best_i = np.full(n, np.iinfo(np.int64).max)
    todo = np.arange(n)
    k = 2
    for cell in (0.1, 0.4, 1.6):
        if not len(todo):
            break
        skey = (np.floor(sx / cell).astype(np.int64) * 100003
                + np.floor(sy / cell).astype(np.int64))
        order = np.argsort(skey, kind="stable")
        skey = skey[order]
        cx = np.floor(lon[todo] / cell).astype(np.int64)
        cy = np.floor(lat[todo] / cell).astype(np.int64)
        for dx in range(-k, k + 1):
            for dy in range(-k, k + 1):
                key = (cx + dx) * 100003 + (cy + dy)
                lo = np.searchsorted(skey, key, "left")
                cnt = np.searchsorted(skey, key, "right") - lo
                pi = np.repeat(todo, cnt)
                start = np.repeat(lo - np.cumsum(cnt) + cnt, cnt)
                si = order[start + np.arange(len(pi))]
                ddx, ddy = lon[pi] - sx[si], lat[pi] - sy[si]
                _improve(best_d, best_i, pi, ddx * ddx + ddy * ddy, sid[si])
        todo = todo[best_d[todo] > (k * cell) ** 2]
    for chunk in np.array_split(todo, max(1, len(todo) // 512)):
        if not len(chunk):
            continue
        ddx = lon[chunk, None] - sx[None, :]
        ddy = lat[chunk, None] - sy[None, :]
        d2 = ddx * ddx + ddy * ddy
        pi = np.repeat(chunk, len(sx))
        _improve(best_d, best_i, pi, d2.ravel(), np.tile(sid, len(chunk)))
    return best_i, best_d


def _improve(best_d, best_i, pi, d2, ids) -> None:
    """Fold candidate pairs into the running lexicographic min of
    (d2, site id) per point."""
    prev = best_d.copy()
    np.minimum.at(best_d, pi, d2)
    best_i[best_d < prev] = np.iinfo(np.int64).max  # old id beaten
    tie = d2 == best_d[pi]
    np.minimum.at(best_i, pi[tie], ids[tie])


def raster_zonal(values: np.ndarray, zones: list, origin: tuple, res: float,
                 nodata: float) -> dict:
    """Burn zones into pixel centres (highest id wins), then masked
    zonal stats of the burned pixels; every zone gets a row."""
    h, w = values.shape
    yy, xx = np.mgrid[0:h, 0:w]
    lon = origin[0] + (xx.ravel().astype(np.float64) + 0.5) * res
    lat = origin[1] - (yy.ravel().astype(np.float64) + 0.5) * res
    burn = np.full(lon.shape, -1, dtype=np.int64)
    for z in sorted(zones, key=lambda q: q["poly_id"]):
        burn[inside(lon, lat, z["rings"])] = z["poly_id"]
    v = values.ravel()
    m = (burn >= 0) & (v != nodata)
    return zonal(burn[m], v[m], [z["poly_id"] for z in zones])

"""Minimal WKB (well-known binary) codec — Point / Polygon /
MultiPolygon, 2-D, little-endian.

The reference moves geometry as OGR features (WKB under the hood,
e.g. python/rsgislib/vectorutils/__init__.py:1816
read_vec_lyr_to_mem); our engine's geometry column is WKB in a
BinaryType column (SURVEY.md §1.2). WKB is a public OGC format; this
codec implements the spec subset we need with struct/numpy only.

Internal geometry representation: ``list[numpy (k,2) float64]`` —
ring 0 of each polygon is the shell, subsequent rings are holes; a
MultiPolygon is the concatenation of its polygons' rings. The
even-odd ray-cast rule (predicates.py) makes shell/hole distinction
unnecessary for point-in-polygon.
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT = 1
WKB_POLYGON = 3
WKB_MULTIPOLYGON = 6


def point_to_wkb(lon: float, lat: float) -> bytes:
    return struct.pack("<BIdd", 1, WKB_POINT, lon, lat)


def polygon_to_wkb(rings: list) -> bytes:
    """rings: list of (k,2) arrays/sequences, shell first, closed or
    open (we close them on write, per the OGC spec)."""
    out = [struct.pack("<BII", 1, WKB_POLYGON, len(rings))]
    for ring in rings:
        arr = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(arr[0], arr[-1]):
            arr = np.vstack([arr, arr[:1]])
        out.append(struct.pack("<I", len(arr)))
        out.append(arr.astype("<f8").tobytes())
    return b"".join(out)


def multipolygon_to_wkb(polygons: list) -> bytes:
    """polygons: list of ring-lists."""
    out = [struct.pack("<BII", 1, WKB_MULTIPOLYGON, len(polygons))]
    for rings in polygons:
        out.append(polygon_to_wkb(rings))
    return b"".join(out)


def polygons_to_wkb(polygons: list) -> bytes:
    """A Polygon for one part, a MultiPolygon otherwise."""
    if len(polygons) == 1:
        return polygon_to_wkb(polygons[0])
    return multipolygon_to_wkb(polygons)


def pieces_to_wkb(pieces: list) -> bytes | None:
    """Trapezoid pieces (geometry/overlay.py) as a MultiPolygon of
    single-ring parts; None for no pieces."""
    if not pieces:
        return None
    return multipolygon_to_wkb([[p] for p in pieces])


def _read_ring(buf: memoryview, off: int):
    (k,) = struct.unpack_from("<I", buf, off)
    off += 4
    arr = np.frombuffer(buf, dtype="<f8", count=2 * k, offset=off).reshape(k, 2)
    return arr, off + 16 * k


def _read_polygon(buf: memoryview, off: int):
    byte_order, gtype = struct.unpack_from("<BI", buf, off)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    off += 5
    if gtype != WKB_POLYGON:
        raise ValueError(f"expected polygon, got type {gtype}")
    (nrings,) = struct.unpack_from("<I", buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        ring, off = _read_ring(buf, off)
        rings.append(ring)
    return rings, off


def wkb_to_rings(wkb: bytes) -> list:
    """Decode Polygon/MultiPolygon WKB → list of (k,2) float64 rings:
    the flatten of ``wkb_to_polygons``."""
    return [r for rings in wkb_to_polygons(wkb) for r in rings]


def wkb_to_polygons(wkb: bytes) -> list:
    """Structured decode: list of POLYGONS (each a list of rings,
    shell first) — unlike wkb_to_rings, MultiPolygon structure is
    preserved (needed by explode / hole-removal / per-polygon-parity
    overlay)."""
    buf = memoryview(wkb)
    byte_order, gtype = struct.unpack_from("<BI", buf, 0)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    if gtype == WKB_POLYGON:
        rings, _ = _read_polygon(buf, 0)
        return [rings]
    if gtype == WKB_MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", buf, 5)
        off = 9
        polys = []
        for _ in range(npolys):
            pr, off = _read_polygon(buf, off)
            polys.append(pr)
        return polys
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def wkb_to_point(wkb: bytes) -> tuple:
    byte_order, gtype = struct.unpack_from("<BI", wkb, 0)
    if gtype != WKB_POINT:
        raise ValueError(f"expected point, got type {gtype}")
    return struct.unpack_from("<dd", wkb, 5)

"""Polygon clipping — Sutherland–Hodgman against a rectangular window
(public textbook algorithm).

Covers clip_vec_lyr / clip_and_merge_with_roi semantics
(python/rsgislib/vectorgeoms/__init__.py:2531,2566) for the common
rectangular-ROI case, and subset-to-bbox overlays. The general
polygon×polygon overlay (vec_lyr_intersection_gp etc., GEOS in the
reference) is the scanline boolean in geometry/overlay.py; the layer
operators in operators/overlay.py use that one, not this clipper.
"""

from __future__ import annotations

import numpy as np


def _clip_edge(pts: np.ndarray, inside, intersect) -> np.ndarray:
    out = []
    n = len(pts)
    for i in range(n):
        cur, prev = pts[i], pts[i - 1]
        cin, pin = inside(cur), inside(prev)
        if cin:
            if not pin:
                out.append(intersect(prev, cur))
            out.append(cur)
        elif pin:
            out.append(intersect(prev, cur))
    return np.array(out) if out else np.empty((0, 2))


def clip_ring_to_bbox(ring: np.ndarray, xmin: float, ymin: float,
                      xmax: float, ymax: float) -> np.ndarray:
    """Clip one (closed or open) ring to the bbox; returns a closed
    ring, or an empty array if nothing remains."""
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) and np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]

    def ix(p, c, axis, val):
        t = (val - p[axis]) / (c[axis] - p[axis])
        q = p + t * (c - p)
        q[axis] = val
        return q

    edges = [
        (lambda p: p[0] >= xmin, lambda p, c: ix(p, c, 0, xmin)),
        (lambda p: p[0] <= xmax, lambda p, c: ix(p, c, 0, xmax)),
        (lambda p: p[1] >= ymin, lambda p, c: ix(p, c, 1, ymin)),
        (lambda p: p[1] <= ymax, lambda p, c: ix(p, c, 1, ymax)),
    ]
    for inside, intersect in edges:
        pts = _clip_edge(pts, inside, intersect)
        if len(pts) == 0:
            return pts
    return np.vstack([pts, pts[:1]])


def clip_rings_to_bbox(rings: list, xmin: float, ymin: float,
                       xmax: float, ymax: float) -> list:
    """Clip all rings (shell + holes); drops rings clipped away."""
    out = []
    for ring in rings:
        c = clip_ring_to_bbox(ring, xmin, ymin, xmax, ymax)
        if len(c) >= 4:  # needs >= 3 distinct vertices
            out.append(c)
    return out

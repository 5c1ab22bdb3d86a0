"""Geometry-editing primitives: Douglas–Peucker simplification and
Minkowski-disk buffering (both public textbook algorithms).

Reference surface covered: vec_lyr_simplify / get_geom_simplify
(python/rsgislib/vectorgeoms/__init__.py:1953), buffer via
``buffer_vec_geoms`` (:3276). GEOS is absent from the sandbox; the
buffer is composed from this repo's own scanline boolean union
(geometry/overlay.py): buffer(P, r) = union(P, edge quads, vertex
k-gons) — the Minkowski sum of the polygon with a k-gon disk, which is
exactly GEOS's quadsegs approximation strategy.
"""

from __future__ import annotations

import numpy as np

from . import overlay as boolean


def simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker on a closed ring: split at the vertex farthest
    from the chord anchored at vertex 0 and the midpoint vertex, then
    DP each open chain. Returns a closed ring with >= 4 points (a
    ring below tolerance collapses to its anchor triangle)."""
    r = np.asarray(ring, dtype=np.float64)
    closed = len(r) > 1 and np.array_equal(r[0], r[-1])
    pts = r[:-1] if closed else r
    if len(pts) <= 3:
        return np.vstack([pts, pts[:1]])
    mid = len(pts) // 2
    first = _dp(pts[: mid + 1], tol)   # chain 0..mid (both kept)
    second = _dp(pts[mid:], tol)       # chain mid..last (both kept)
    out = np.vstack([first[:-1], second])  # drop the shared mid once
    # The chain anchors (vertex 0, mid, and the last vertex — the two
    # chains' endpoints) were kept unconditionally by the split, not
    # because they exceed tol. Try removing ONLY those three — and
    # test each removal against the ORIGINAL ring vertices spanned by
    # the new chord (true DP semantics), never against
    # already-simplified neighbours, so removals cannot compound past
    # the tol bound.
    # the sweep maps simplified vertices back to original indices BY
    # VALUE — a ring with repeated coordinates (spike/touch point)
    # would lock onto the wrong occurrence and test deviation over the
    # wrong span; skip the sweep for such rings (DP result is already
    # within tol, the sweep is only an extra-trim optimization)
    has_dup = len(np.unique(pts, axis=0)) != len(pts)
    kept = None if has_dup else _kept_indices(pts, out)
    if kept is not None:
        for anchor in (mid, len(pts) - 1, 0):
            if len(kept) <= 3 or anchor not in kept:
                continue
            j = kept.index(anchor)
            p, n = kept[j - 1], kept[(j + 1) % len(kept)]
            span = (list(range(p + 1, n)) if p < n
                    else list(range(p + 1, len(pts))) + list(range(0, n)))
            if _max_chord_dev(pts, span, pts[p], pts[n]) <= tol:
                kept.pop(j)
        out = pts[kept]
    if len(out) < 3:  # degenerate: keep the anchor triangle
        out = pts[[0, mid, min(mid + 1, len(pts) - 1)]]
    return np.vstack([out, out[:1]])


def _kept_indices(pts: np.ndarray, out: np.ndarray) -> list | None:
    """Map simplified vertices back to their original ring indices
    (in ring order). None if any vertex fails to match (shouldn't
    happen — DP only drops points)."""
    idx, j = [], 0
    for v in out:
        while j < len(pts) and not np.array_equal(pts[j], v):
            j += 1
        if j == len(pts):
            return None
        idx.append(j)
        j += 1
    return idx


def _max_chord_dev(pts: np.ndarray, span: list, a: np.ndarray,
                   c: np.ndarray) -> float:
    """Max distance of the ORIGINAL vertices in ``span`` from segment
    a-c (0.0 for an empty span)."""
    if not span:
        return 0.0
    seg = pts[span]
    ac = c - a
    L2 = float(ac @ ac)
    if L2 == 0.0:
        d = np.hypot(seg[:, 0] - a[0], seg[:, 1] - a[1])
    else:
        t = np.clip(((seg - a) @ ac) / L2, 0.0, 1.0)
        proj = a + t[:, None] * ac
        d = np.hypot(seg[:, 0] - proj[:, 0], seg[:, 1] - proj[:, 1])
    return float(d.max())


def _dp(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker on an open polyline (endpoints kept).
    Iterative stack; the point-to-segment distance is vectorized."""
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[i + 1: j]
        a, b = pts[i], pts[j]
        ab = b - a
        L2 = float(ab @ ab)
        if L2 == 0.0:
            d = np.hypot(seg[:, 0] - a[0], seg[:, 1] - a[1])
        else:
            t = np.clip(((seg - a) @ ab) / L2, 0.0, 1.0)
            proj = a + t[:, None] * ab
            d = np.hypot(seg[:, 0] - proj[:, 0], seg[:, 1] - proj[:, 1])
        k = int(np.argmax(d))
        if d[k] > tol:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return pts[keep]


def simplify_polygon(rings: list, tol: float) -> list:
    """Simplify every ring of a polygon; rings that collapse below 3
    distinct vertices are dropped (holes vanish first, like GEOS)."""
    out = []
    for i, ring in enumerate(rings):
        s = simplify_ring(ring, tol)
        if len(np.unique(s[:-1], axis=0)) >= 3:
            out.append(s)
        elif i == 0:
            return []  # shell collapsed -> empty geometry
    return out


def disk_ngon(cx: float, cy: float, r: float, k: int = 16) -> np.ndarray:
    """k-gon approximation of a disk (GEOS quadsegs-style). k=4 is the
    exact taxicab diamond (vertices on the axes, no cos/sin ulps) so
    integer-coordinate buffers stay exactly representable."""
    if k == 4:
        ring = np.array([[cx + r, cy], [cx, cy + r],
                         [cx - r, cy], [cx, cy - r]])
    else:
        ang = np.linspace(0.0, 2.0 * np.pi, k, endpoint=False)
        ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def buffer_polygon(polys: list, dist: float, k: int = 16):
    """Positive buffer of a (multi)polygon — a list of polygons, each a
    list of rings, shell first (holes shrink is approximated by
    buffering the shells only — documented divergence): Minkowski sum
    with a k-gon disk = one scanline union of every shell, one quad per
    shell edge (offset both sides), and one k-gon per shell vertex, so
    parts whose buffers overlap count once.

    Returns (pieces, area) — the trapezoid partition of the buffered
    region (geometry/overlay.py representation)."""
    if dist <= 0.0:
        raise ValueError("buffer distance must be positive")
    parts = []
    for rings in polys:
        shell = np.asarray(rings[0], dtype=np.float64)
        if np.array_equal(shell[0], shell[-1]):
            shell = shell[:-1]
        parts.append([np.vstack([shell, shell[:1]])])
        n = len(shell)
        for i in range(n):
            a, b = shell[i], shell[(i + 1) % n]
            d = b - a
            L = float(np.hypot(*d))
            if L > 0.0:  # a zero-length edge has no quad, its vertex a k-gon
                nx, ny = -d[1] / L * dist, d[0] / L * dist
                quad = np.array([
                    [a[0] + nx, a[1] + ny], [b[0] + nx, b[1] + ny],
                    [b[0] - nx, b[1] - ny], [a[0] - nx, a[1] - ny],
                    [a[0] + nx, a[1] + ny],
                ])
                parts.append([quad])
            parts.append([disk_ngon(a[0], a[1], dist, k)])
    return boolean.boolean_pieces(parts, [], "union")

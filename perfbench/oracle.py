"""Independent containment oracle for the jittered-quad tessellation.

It shares no code with ``gregor_spark.geo.kernels``: instead of an even-odd
ray cast it uses the grid topology of the tessellation to pick the 3x3
candidate quads around a point, splits each (simple, possibly non-convex)
quad into two triangles along an interior diagonal, and tests the triangles
with orientation signs.  Points within ``EDGE_EPS`` of any candidate edge are
reported as skipped, because boundary ownership is a rule of the engine
(last id wins, west walls excluded), not a fact of the geometry.
"""

from __future__ import annotations

import numpy as np

EDGE_EPS = 1e-9
SKIPPED = -2
OUTSIDE = -1


def _cross(ax, ay, bx, by, px, py):
    return (bx - ax) * (py - ay) - (by - ay) * (px - ax)


def _seg_dist(ax, ay, bx, by, px, py):
    vx, vy = bx - ax, by - ay
    t = np.clip(((px - ax) * vx + (py - ay) * vy) / (vx * vx + vy * vy), 0.0, 1.0)
    return np.hypot(px - (ax + t * vx), py - (ay + t * vy))


def _in_triangle(a, b, c, px, py):
    """Closed counter-clockwise triangle test."""
    return (
        (_cross(*a, *b, px, py) >= 0)
        & (_cross(*b, *c, px, py) >= 0)
        & (_cross(*c, *a, px, py) >= 0)
    )


def _in_quad(xs, ys, px, py):
    v = list(zip(xs, ys))
    # a simple quad has at most one reflex vertex; the diagonal from it
    # (or either diagonal when convex) lies inside the quad
    reflex = [
        _cross(*v[k - 1], *v[k], *v[(k + 1) % 4]) < 0 for k in range(4)
    ]
    a = 1 if (reflex[1] or reflex[3]) else 0
    p, q, r, s = (v[(a + k) % 4] for k in range(4))
    return _in_triangle(p, q, r, px, py) | _in_triangle(p, r, s, px, py)


def expected_zones(tess, px, py) -> np.ndarray:
    """Zone id per point; ``OUTSIDE`` when no quad holds it, ``SKIPPED``
    when it lies within ``EDGE_EPS`` of an edge."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    minx, miny, _, _ = tess.bounds
    g = tess.g
    i0 = np.floor((px - minx) / tess.dx).astype(np.int64)
    j0 = np.floor((py - miny) / tess.dy).astype(np.int64)
    out = np.full(px.shape, OUTSIDE, dtype=np.int64)
    near = np.zeros(px.shape, dtype=bool)
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            i, j = i0 + di, j0 + dj
            valid = (i >= 0) & (i < g) & (j >= 0) & (j < g)
            for z in np.unique(i[valid] * g + j[valid]):
                m = valid & (i * g + j == z)
                xs, ys = tess.quad(int(z))
                for k in range(4):
                    d = _seg_dist(xs[k], ys[k], xs[(k + 1) % 4], ys[(k + 1) % 4], px[m], py[m])
                    near[m] |= d <= EDGE_EPS
                hit = _in_quad(xs, ys, px[m], py[m])
                out[np.flatnonzero(m)[hit]] = z
    out[near] = SKIPPED
    return out


def mismatches(tess, px, py, zone_ids) -> tuple[int, int]:
    """(points checked, points whose engine zone id differs from the
    oracle's); ``zone_ids`` uses -1 for unassigned."""
    want = expected_zones(tess, px, py)
    keep = want != SKIPPED
    got = np.asarray(zone_ids, dtype=np.int64)
    return int(keep.sum()), int((want[keep] != got[keep]).sum())

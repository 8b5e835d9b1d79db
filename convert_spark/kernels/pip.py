"""Vectorized ray-casting point-in-polygon (multipolygon + holes).

Reference behavior being generalized: ``srtm.IsPointInsideMultiPolygon``
calls at /root/reference/convert.go:763 (pointcloud hole filtering) and
convert.go:1011 (VerifyDelaunay triangle-centroid test). The reference runs
one scalar PIP per point; here a single numpy kernel tests a whole Arrow
batch of points against a polygon set at once — the executor-side "refine"
half of the broadcast spatial join (SURVEY.md §2.5).

A polygon is a list of rings, each closed once by ``close_ring``; the
broadcast join closes its polygon layer at index-build time and the mesh
drape per call, and both test points with ``in_rings``.

Even-odd rule: a point is inside a polygon iff the total crossing count
over *all* of the polygon's rings (outer + holes) is odd — holes need no
special casing under even-odd, which matches ray-casting references.
"""

from __future__ import annotations

import numpy as np


def ring_crossings(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-parity contribution of one ring for each point.

    Classic even-odd ray cast (horizontal ray toward +x):
    for each edge (xi,yi)-(xj,yj): count it when
    ``(yi > y) != (yj > y)`` and ``x < (xj-xi)*(y-yi)/(yj-yi) + xi``.
    Vectorized over points x edges.
    """
    xi = ring[:-1, 0][None, :]
    yi = ring[:-1, 1][None, :]
    xj = ring[1:, 0][None, :]
    yj = ring[1:, 1][None, :]
    x = px[:, None]
    y = py[:, None]
    straddles = (yi > y) != (yj > y)
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        x_int = (xj - xi) * (y - yi) / (yj - yi) + xi
    hit = straddles & (x < x_int)
    return hit.sum(axis=1)


def close_ring(ring) -> np.ndarray:
    """A ring's (x, y) vertices as a float64 (k, 2) array whose last vertex
    repeats its first (extra coordinates such as z are dropped)."""
    ring = np.asarray(ring, dtype=np.float64)[:, :2]
    if ring.shape[0] >= 1 and not np.array_equal(ring[0], ring[-1]):
        return np.vstack([ring, ring[:1]])
    return ring


def in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd containment of each point in a set of closed rings: a point
    crossing an even count of ring edges (outer + holes) is outside, the
    doughnut filter. Rings under 4 vertices (< 3 distinct) are skipped."""
    crossings = np.zeros(px.size, dtype=np.int64)
    for ring in rings:
        if ring.shape[0] >= 4:
            crossings += ring_crossings(px, py, ring)
    return (crossings & 1).astype(bool)


def point_in_multipolygon(px: np.ndarray, py: np.ndarray, polygons: list) -> np.ndarray:
    """Containment in a GeoJSON-style MultiPolygon, nested
    ``[poly][ring][vertex][xy]``: a bool mask, inside any outer ring and
    not in a hole (even-odd).
    """
    rings = [close_ring(ring) for poly in polygons for ring in poly]
    return in_rings(np.asarray(px, dtype=np.float64), np.asarray(py, dtype=np.float64), rings)

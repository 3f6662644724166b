"""Reference implementation the multi-ring point-in-polygon kernel
(``mvtspark/kernels/geom.py::point_in_polygon_multi``) is cross-checked
against: a one-ring kernel that broadcasts a block of points against
every edge of a single ring as an (N, E) matrix.

It computes the crossing rule without the flat (point, edge) entry
layout or the segmented reductions of the production kernel, so
agreement checks the layout and the per-ring wrap rather than one
implementation against itself. Integer-exact while every coordinate
stays below 2^30 in magnitude (int64 cross products).
"""

from __future__ import annotations

import numpy as np


def point_in_polygon(
    px: np.ndarray, py: np.ndarray, ring_x: np.ndarray, ring_y: np.ndarray
) -> np.ndarray:
    """Vectorized crossing-rule point-in-polygon over MANY points, ONE ring.

    Returns int8 array: 0 outside, 1 inside, -1 exactly on the boundary —
    the reference's result convention (src/Geometry/clipper.cs:4025-4077,
    Hormann–Agathos). Integer-exact when inputs are integer (int64 cross
    products, no floating error), like the reference's IntPoint math.
    """
    px = np.asarray(px, dtype=np.int64)
    py = np.asarray(py, dtype=np.int64)
    rx = np.asarray(ring_x, dtype=np.int64)
    ry = np.asarray(ring_y, dtype=np.int64)
    if rx.size >= 2 and rx[-1] == rx[0] and ry[-1] == ry[0]:
        rx = rx[:-1]
        ry = ry[:-1]
    n = rx.size
    if n < 3:
        return np.zeros(px.shape, dtype=np.int8)

    result = np.zeros(px.shape, dtype=np.int8)
    boundary = np.zeros(px.shape, dtype=bool)
    winding = np.zeros(px.shape, dtype=np.int64)

    x1 = rx
    y1 = ry
    x2 = np.roll(rx, -1)
    y2 = np.roll(ry, -1)

    # Broadcast points (N,1) against edges (E,) in manageable chunks.
    CHUNK = 4096
    for s in range(0, px.size, CHUNK):
        e = min(s + CHUNK, px.size)
        X = px[s:e, None]
        Y = py[s:e, None]
        # boundary: point collinear with edge and within bbox
        cross = (x2 - x1) * (Y - y1) - (y2 - y1) * (X - x1)
        on_seg = (
            (cross == 0)
            & (np.minimum(x1, x2) <= X)
            & (X <= np.maximum(x1, x2))
            & (np.minimum(y1, y2) <= Y)
            & (Y <= np.maximum(y1, y2))
        )
        boundary[s:e] = on_seg.any(axis=1)
        # crossing rule: edge crosses the horizontal ray to the right of X
        upward = (y1 <= Y) & (y2 > Y)
        downward = (y1 > Y) & (y2 <= Y)
        winding[s:e] = np.sum(upward & (cross > 0), axis=1) - np.sum(
            downward & (cross < 0), axis=1
        )
    inside = winding != 0  # nonzero fill rule (clipper pftNonZero default)
    result[inside] = 1
    result[boundary] = -1
    return result

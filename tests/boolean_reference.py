"""Reference implementations the exact slab sweep
(``mvtspark/kernels/polysweep.py``) is cross-checked against: float64
Sutherland–Hodgman convex clipping, the convex-pair boolean stats built
on it, the angular edge merge for convex Minkowski sums, and the
coordinate-compressed coverage grid for axis-aligned rect sets.

Each is an algorithm unrelated to the sweep, so agreement between the
two checks the geometry rather than one implementation against itself.
The float64 functions are exact for integer inputs only while every
cross product stays below 2^53 (coordinate differences below about
2^26); the tests keep their corpora well inside that range.
"""

from __future__ import annotations

import numpy as np


def ring_area2(xs: np.ndarray, ys: np.ndarray) -> float:
    """TWICE the signed shoelace area (CCW positive). Kept doubled so
    integer-coordinate rings stay integer-exact in float64."""
    x2 = np.roll(xs, -1)
    y2 = np.roll(ys, -1)
    return float(np.sum(xs * y2 - x2 * ys))


def clip_convex(
    sx: np.ndarray, sy: np.ndarray, cx: np.ndarray, cy: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Clip subject ring (sx, sy) by the CONVEX CCW clip ring (cx, cy)
    — Sutherland–Hodgman, one pass per clip edge. Output ring is empty
    when the subject is entirely outside. Points exactly ON a clip
    edge count as inside (>= 0), matching the rect clip's closed-set
    convention (kernels/geom.py J3 / Util.cs:80-83).

    The subject may be any simple ring; the CLIP ring must be convex
    (S-H's correctness domain). For a convex subject the result is the
    true convex intersection — clipper ctIntersection on this domain.
    """
    ox = np.asarray(sx, dtype=np.float64)
    oy = np.asarray(sy, dtype=np.float64)
    n = len(cx)
    for e in range(n):
        if len(ox) == 0:
            break
        ax, ay = float(cx[e]), float(cy[e])
        bx, by = float(cx[(e + 1) % n]), float(cy[(e + 1) % n])
        ex, ey = bx - ax, by - ay
        # side(p) = cross(edge, p - a); >= 0 == inside for CCW clip
        side = ex * (oy - ay) - ey * (ox - ax)
        keep_x, keep_y = [], []
        m = len(ox)
        for i in range(m):
            j = (i + 1) % m
            si, sj = side[i], side[j]
            if si >= 0.0:
                keep_x.append(ox[i])
                keep_y.append(oy[i])
            if (si < 0.0) != (sj < 0.0):
                # edge i->j crosses the clip line: parametric point
                t = si / (si - sj)
                keep_x.append(ox[i] + t * (ox[j] - ox[i]))
                keep_y.append(oy[i] + t * (oy[j] - oy[i]))
        ox = np.asarray(keep_x, dtype=np.float64)
        oy = np.asarray(keep_y, dtype=np.float64)
    return ox, oy


def _proper_crossings(
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray
) -> int:
    """Count edge pairs of rings A and B that PROPERLY cross (strictly
    opposite sides both ways) — integer-exact for integer inputs whose
    coordinate differences stay below 2^26 in magnitude (each cross
    product is then below 2^53, float64's exact-integer range), and
    replayed verbatim by the oracle's pairwise-edge SQL."""
    na, nb = len(ax), len(ay)
    a1x, a1y = ax, ay
    a2x, a2y = np.roll(ax, -1), np.roll(ay, -1)
    b1x, b1y = bx, by
    b2x, b2y = np.roll(bx, -1), np.roll(by, -1)
    cnt = 0
    for i in range(na):
        d1x, d1y = a2x[i] - a1x[i], a2y[i] - a1y[i]
        s1 = d1x * (b1y - a1y[i]) - d1y * (b1x - a1x[i])
        s2 = d1x * (b2y - a1y[i]) - d1y * (b2x - a1x[i])
        d2x, d2y = b2x - b1x, b2y - b1y
        s3 = d2x * (a1y[i] - b1y) - d2y * (a1x[i] - b1x)
        s4 = d2x * (a2y[i] - b1y) - d2y * (a2x[i] - b1x)
        cnt += int(
            np.count_nonzero((s1 * s2 < 0) & (s3 * s4 < 0))
        )
    return cnt


def minkowski_sum_convex(
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vertices of the Minkowski sum A ⊕ B of two convex CCW rings —
    the clipper MinkowskiSum surface (src/Geometry/clipper.cs:4596-4687,
    dead code in the reference) on the convex domain, where the sum is
    the classic angular EDGE MERGE: linearize each ring from its
    bottommost(-then-leftmost) vertex (edge polar angles then ascend
    through [0, 2π)), two-pointer-merge the edge lists by angle
    (cross-product comparator — no trig), fuse exactly-parallel
    same-direction edges, and cumsum from the summed start vertices.
    O(|A| + |B|), integer-exact for integer inputs (vertices are sums
    of input coordinates). Validated three ways in tests: against the
    hull of all pairwise vertex sums and against the angular-order
    area identity the SQL oracle replays."""

    def _from_lowest(xs, ys):
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        n = len(xs)
        start = min(range(n), key=lambda i: (ys[i], xs[i]))
        idx = [(start + t) % n for t in range(n)] + [start]
        ex = np.diff(xs[idx])
        ey = np.diff(ys[idx])
        return xs[start], ys[start], ex, ey

    sax, say, eax, eay = _from_lowest(ax, ay)
    sbx, sby, ebx, eby = _from_lowest(bx, by)
    out = []
    i = j = 0
    na, nb = len(eax), len(ebx)
    while i < na or j < nb:
        if i >= na:
            out.append((ebx[j], eby[j]))
            j += 1
        elif j >= nb:
            out.append((eax[i], eay[i]))
            i += 1
        else:
            cr = eax[i] * eby[j] - eay[i] * ebx[j]
            if cr > 0:
                out.append((eax[i], eay[i]))
                i += 1
            elif cr < 0:
                out.append((ebx[j], eby[j]))
                j += 1
            else:  # parallel same direction (antiparallel can't tie:
                # both lists ascend within one full turn) — fuse
                out.append((eax[i] + ebx[j], eay[i] + eby[j]))
                i += 1
                j += 1
    vx = np.cumsum([sax + sbx] + [e[0] for e in out[:-1]])
    vy = np.cumsum([say + sby] + [e[1] for e in out[:-1]])
    return vx, vy


def convex_pair_stats(
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray
) -> tuple[float, float, int, int]:
    """(inter_area2, union_area2, n_union_rings, n_crossings) for two
    convex CCW rings — areas DOUBLED (shoelace numerators) so integer
    inputs keep integer-exact A/B areas.

    union ring count: 1 when the interiors meet (overlap or
    containment), 2 when the interiors are disjoint — a measure-zero
    touch (inter_area == 0) counts as disjoint, documented as the
    closed-boundary edge case.
    """
    ix, iy = clip_convex(ax, ay, bx, by)
    inter2 = ring_area2(ix, iy) if len(ix) >= 3 else 0.0
    a2 = ring_area2(np.asarray(ax, np.float64), np.asarray(ay, np.float64))
    b2 = ring_area2(np.asarray(bx, np.float64), np.asarray(by, np.float64))
    union2 = a2 + b2 - inter2
    n_rings = 1 if inter2 > 0.0 else 2
    return inter2, union2, n_rings, _proper_crossings(
        np.asarray(ax, np.float64), np.asarray(ay, np.float64),
        np.asarray(bx, np.float64), np.asarray(by, np.float64),
    )


def _coverage_grid(rx0, ry0, rx1, ry1, extra_x=(), extra_y=()):
    """Coordinate-compressed coverage counts for axis-aligned rects:
    returns (xs, ys, cnt) where cnt[i, j] = number of rects covering
    the open cell (xs[i], xs[i+1]) x (ys[j], ys[j+1]). 2-D difference
    array + double cumsum — O(k log k + cells), integer-exact."""
    xs = np.unique(np.concatenate([rx0, rx1, np.asarray(extra_x, np.int64)]))
    ys = np.unique(np.concatenate([ry0, ry1, np.asarray(extra_y, np.int64)]))
    i0 = np.searchsorted(xs, rx0)
    i1 = np.searchsorted(xs, rx1)
    j0 = np.searchsorted(ys, ry0)
    j1 = np.searchsorted(ys, ry1)
    diff = np.zeros((len(xs), len(ys)), dtype=np.int64)
    np.add.at(diff, (i0, j0), 1)
    np.add.at(diff, (i1, j0), -1)
    np.add.at(diff, (i0, j1), -1)
    np.add.at(diff, (i1, j1), 1)
    cnt = diff.cumsum(axis=0).cumsum(axis=1)[:-1, :-1]
    return xs, ys, cnt

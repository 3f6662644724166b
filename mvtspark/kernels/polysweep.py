"""Exact boolean measures for ARBITRARY simple polygons — the full
clipper ``ClipType`` surface (src/Geometry/clipper.cs:476
ctIntersection/ctUnion/ctDifference/ctXor, :1561-1631 ``Execute``)
with no convexity or rectilinearity scoping: any simple
integer-vertex rings — non-convex, any edge angle — are exact here.
Every polygon boolean operator in ``operators/boolean.py`` runs on
this one sweep (convex pairs, rect sets and offsets included).

Algorithm — slab decomposition, the measure-only core of a Vatti /
Bentley–Ottmann sweep:

1. Event y's = every vertex y, plus the exact ``Fraction`` y of every
   proper crossing between edges of different rings (within-ring
   edges never cross — the rings are simple).
2. Between two consecutive events no vertex enters and no two edges
   swap order, so each slab's edges keep one x-order, and every
   boolean measure reads off per-ring even-odd parities (or, for an
   N-ring union, the coverage count): inter from (inA and inB), union
   from (inA or inB), diff from (inA and not inB), xor from
   (inA != inB) — NOT via inclusion-exclusion, so a cross-engine
   compare checks each measure independently.
3. An edge's x is linear in y, so its coefficient (the predicate left
   of it minus the predicate right of it) times 2∫x dy telescopes to
   a sum over the events where that coefficient changes.

Cost: the (slab, edge) entries live in int64 numpy arrays. Edge pairs
are tested for crossings with int64 sign masks, in blocks (a
1,000-vertex pair stays small); an edge straddles slab k exactly when
rank(lo) <= k < rank(hi); each slab is ordered by a float64 midline
key whose every adjacent pair is then checked in integers (a failing
slab is re-sorted on exact midlines); parities are segmented cumsums.
``Fraction``s are built only for the crossings and for the events
where an edge's coefficient changes. The entry count is events x
active edges, so heavily overlapping dense rings grow it cubically.
Pairs distribute embarrassingly: the Spark layer is a pure map.

Input rule: every coordinate is an integer (integer-valued floats
pass) with |c| < 2^30, else ``ValueError``, so differences stay below
2^31 and every orientation product fits int64. Orientation and vertex
rotation do not matter (even-odd fill); shared/collinear boundary
segments contribute zero width to every measure.
"""

from __future__ import annotations

from fractions import Fraction
from math import gcd
from types import SimpleNamespace

import numpy as np

#: exclusive bound on |coordinate| for the int64 orientation tests
COORD_LIMIT = 1 << 30
#: edge pairs per numpy block of the crossing test
_BLOCK = 1 << 18


def _ring_xy(rx, ry):
    """(2, n) int64 vertex array of one ring, in one vectorized pass.
    Raises ``ValueError`` on a coordinate that is not an integer
    (integer-valued floats pass; NaN and infinities do not) or whose
    magnitude reaches :data:`COORD_LIMIT`."""
    xy = np.array([np.reshape(rx, -1), np.reshape(ry, -1)])
    if xy.dtype.kind not in "iu":
        xy = xy.astype(np.float64)
        if not (xy == np.trunc(xy)).all():
            raise ValueError("sweep coordinates must be integers "
                             "(integer-valued floats pass)")
    if ((xy >= COORD_LIMIT) | (xy <= -COORD_LIMIT)).any():
        raise ValueError("sweep coordinates must satisfy |c| < 2**30 "
                         "(int64 orientation products)")
    return xy.astype(np.int64, copy=False)


def _all_edges(rings):
    """(x1, y1, x2, y2, ring) int64 arrays of every edge of the rings,
    in ring order (see :func:`_ring_xy` for what a coordinate may be)."""
    cols = []
    for p, (rx, ry) in enumerate(rings):
        xy = _ring_xy(rx, ry)
        cols.append(np.concatenate(
            [xy, np.roll(xy, -1, axis=1), np.full((1, xy.shape[1]), p)]))
    return np.concatenate(cols or [np.zeros((5, 0), np.int64)], axis=1)


def _edges(rings):
    """(x1, y1, x2, y2, ring) int64 arrays of the rings' non-horizontal
    edges, each oriented upward and grouped by ring, plus the set of
    every vertex y."""
    e = _all_edges(rings)
    vys = set(e[1].tolist())
    e = np.where(e[1] < e[3], e, e[[2, 3, 0, 1, 4]])[:, e[1] != e[3]]
    return (*e, vys)


def _sign(v):
    return np.sign(v).astype(np.int8)


def _crossings(x1, y1, dx, dy, ring):
    """Every PROPER crossing (strict straddle both ways) between edges
    of different rings: sorted pair keys i * E + j (i < j) and their
    exact y's. Improper touches happen at vertices, whose y's are
    events already; parallel pairs have no transversal crossing."""
    n = len(x1)
    ends = np.searchsorted(ring, ring, side="right")
    keys, ys = [], []
    i0 = 0
    while i0 < n and ends[i0] < n:
        j0 = ends[i0]
        i1 = min(n, i0 + max(1, _BLOCK // (n - j0)))
        i = np.arange(i0, i1)[:, None]
        j = np.arange(j0, n)[None, :]
        ox, oy = x1[j] - x1[i], y1[j] - y1[i]
        adx, ady, bdx, bdy = dx[i], dy[i], dx[j], dy[j]
        hit = (
            (ring[i] < ring[j])
            & (_sign(adx * oy - ady * ox)
               * _sign(adx * (oy + bdy) - ady * (ox + bdx)) < 0)
            & (_sign(bdy * ox - bdx * oy)
               * _sign(bdx * (ady - oy) - bdy * (adx - ox)) < 0)
        )
        ii, jj = np.nonzero(hit)
        if len(ii):
            den = adx[ii, 0] * bdy[0, jj] - ady[ii, 0] * bdx[0, jj]
            num = ox[ii, jj] * bdy[0, jj] - oy[ii, jj] * bdx[0, jj]
            for p1y, d1y, nu, de in zip(
                    y1[ii + i0].tolist(), ady[ii, 0].tolist(),
                    num.tolist(), den.tolist()):
                ys.append(Fraction(p1y * de + nu * d1y, de))
            keys.append((ii + i0) * n + (jj + j0))
        i0 = i1
    return np.concatenate(keys) if keys else np.zeros(0, np.int64), ys


def _gaps(sw, order):
    """Exact sign of the x-gap from each entry to the next one in
    ``order`` (0 where the next entry is in another slab). Two edges'
    gap is linear in y and keeps its sign between their crossings, so
    over a slab it is the sign at the low or the high end of their
    common y-range, whichever is nonzero — one int64 orientation test
    of an endpoint against the other edge's line each; a pair that
    crosses inside that range takes the end on the slab's side."""
    x1, y1, x2, y2, dx, dy = sw.x1, sw.y1, sw.x2, sw.y2, sw.dx, sw.dy
    gap = np.zeros(max(len(order) - 1, 0), np.int8)
    same = np.flatnonzero(sw.kc[order[1:]] == sw.kc[order[:-1]])
    e, f, k = sw.ec[order[same]], sw.ec[order[same + 1]], sw.kc[order[same]]
    s_lo = np.where(
        y1[f] >= y1[e],
        -_sign(dx[e] * (y1[f] - y1[e]) - dy[e] * (x1[f] - x1[e])),
        _sign(dx[f] * (y1[e] - y1[f]) - dy[f] * (x1[e] - x1[f])))
    s_hi = np.where(
        y2[f] <= y2[e],
        -_sign(dx[e] * (y2[f] - y1[e]) - dy[e] * (x2[f] - x1[e])),
        _sign(dx[f] * (y2[e] - y1[f]) - dy[f] * (x2[e] - x1[f])))
    s = np.where(s_lo != 0, s_lo, s_hi)
    cross = np.flatnonzero(s_lo * s_hi < 0)
    if len(cross):
        a, b = e[cross], f[cross]
        key = np.minimum(a, b) * len(x1) + np.maximum(a, b)
        at = np.minimum(np.searchsorted(sw.ckeys, key), len(sw.ckeys) - 1)
        if len(sw.ckeys) == 0 or (sw.ckeys[at] != key).any():
            raise ValueError("sweep rings must be simple: two edges of "
                             "one ring cross")
        s[cross] = np.where(k[cross] < sw.crank[at],
                            s_lo[cross], s_hi[cross])
    gap[same] = s
    return gap


def _sweep(rings) -> SimpleNamespace:
    """Every (slab, edge) entry of the rings, each slab's entries in
    exact x-order. ``events``: the sorted event y's (ints and
    Fractions), slab k running from events[k] to events[k + 1]. Edge
    arrays ``x1 .. dy`` (upward, non-horizontal) and ``rh`` (rank of
    the top y); crossing pair keys ``ckeys`` and their event ranks
    ``crank``. Entries in construction order (edge-major, slab
    ascending): ``ec``, ``kc``. In slab order: ``order`` (construction
    index), ``k``, ``e``, ``r`` (ring) and ``gap`` (see :func:`_gaps`)."""
    sw = SimpleNamespace()
    x1, y1, x2, y2, ring, vys = _edges(rings)
    dx, dy = x2 - x1, y2 - y1
    sw.x1, sw.y1, sw.x2, sw.y2, sw.dx, sw.dy = x1, y1, x2, y2, dx, dy
    sw.ckeys, cys = _crossings(x1, y1, dx, dy, ring)
    events = sw.events = sorted(vys.union(cys))
    rank = {v: i for i, v in enumerate(events)}
    sw.crank = np.array([rank[y] for y in cys], np.int64)
    irank = np.flatnonzero([type(v) is int for v in events])
    ivals = np.array([events[i] for i in irank.tolist()], np.int64)
    rl = irank[np.searchsorted(ivals, y1)]
    rh = sw.rh = irank[np.searchsorted(ivals, y2)]
    cnt = rh - rl
    ec = sw.ec = np.repeat(np.arange(len(x1)), cnt)
    kc = sw.kc = np.arange(len(ec)) - np.repeat(cnt.cumsum() - cnt - rl, cnt)
    evf = np.array(events, np.float64)
    xm = x1[ec] + (0.5 * (evf[kc] + evf[kc + 1]) - y1[ec]) * (dx / dy)[ec]
    order = np.lexsort((xm, kc))
    gap = _gaps(sw, order)
    bad = np.unique(kc[order[:-1]][gap < 0])
    if len(bad):
        # float midlines misordered these slabs: re-sort them exactly
        ks = kc[order]
        c = (x1 * dy - y1 * dx).tolist()
        dxl, dyl = dx.tolist(), dy.tolist()
        for b, i0, i1 in zip(bad.tolist(), np.searchsorted(ks, bad).tolist(),
                             np.searchsorted(ks, bad, "right").tolist()):
            ym = Fraction(events[b] + events[b + 1]) / 2
            order[i0:i1] = sorted(
                order[i0:i1].tolist(),
                key=lambda j: (c[ec[j]] + ym * dxl[ec[j]]) / dyl[ec[j]])
        gap = _gaps(sw, order)
    sw.order, sw.gap = order, gap
    sw.k, sw.e = kc[order], ec[order]
    sw.r = ring[sw.e]
    return sw


def _in_slab(sw, v):
    """Inclusive running sum of v over each slab's entries."""
    c = np.cumsum(v)
    first = np.searchsorted(sw.k, sw.k)
    return c - (c[first] - v[first])


def _pair_parities(sw):
    """(inA, inB) right of each entry, and left of it."""
    is_a = (sw.r == 0).astype(np.int64)
    a1 = (_in_slab(sw, is_a) & 1).astype(bool)
    b1 = (_in_slab(sw, 1 - is_a) & 1).astype(bool)
    return a1, b1, a1 ^ (is_a == 1), b1 ^ (is_a == 0)


def _integrate(sw, coef):
    """Σ c · 2∫x dy over every entry, exactly, for each row of
    ``coef`` (ops x entries, slab order; c = predicate left of the
    edge minus predicate right of it). An edge's x is (C + y·dx)/dy
    with C = x1·dy − y1·dx, so 2∫x dy = F(y1) − F(y0) with
    F(y) = (2C·y + dx·y²)/dy, and an edge's run of slabs telescopes to
    Σ F(events[k])·(c before k − c from k) over the events k where its
    coefficient changes; only those build Fractions."""
    if not len(sw.order):
        return [Fraction(0)] * len(coef)
    c = np.empty_like(coef)
    c[:, sw.order] = coef
    ec = sw.ec
    last = np.r_[ec[1:] != ec[:-1], True]
    prev = np.where(np.r_[True, last[:-1]], 0, np.roll(c, 1, axis=1))
    w = np.concatenate([prev - c, c[:, last]], axis=1)
    hot = np.flatnonzero(w.any(axis=0))
    ev = np.concatenate([sw.kc, sw.rh[ec[last]]])[hot].tolist()
    ed = np.concatenate([ec, ec[last]])[hot]
    cl = (sw.x1 * sw.dy - sw.y1 * sw.dx)[ed].tolist()
    terms = []  # (numerator, denominator) of F at each change point
    for c_, dx_, dy_, k in zip(cl, sw.dx[ed].tolist(), sw.dy[ed].tolist(), ev):
        p, q = sw.events[k].numerator, sw.events[k].denominator
        terms.append(((2 * c_ * q + dx_ * p) * p, q * q * dy_))
    out = []
    for row in w[:, hot].tolist():
        acc = {}
        for wi, (num, den) in zip(row, terms):
            if wi:
                acc[den] = acc.get(den, 0) + wi * num
        out.append(_rational_sum(list(acc.items())))
    return out


def _rational_sum(terms):
    """Exact Σ num/den over (den, num) pairs with den > 0: pairwise
    over common denominators, reduced once at the end."""
    while len(terms) > 1:
        odd = terms[-1:] if len(terms) % 2 else []
        terms = [
            (d1 // g * d2, n1 * (d2 // g) + n2 * (d1 // g))
            for (d1, n1), (d2, n2) in zip(terms[::2], terms[1::2])
            for g in (gcd(d1, d2),)
        ] + odd
    return Fraction(terms[0][1], terms[0][0]) if terms else Fraction(0)


_PREDS = {
    "inter": lambda a, b: a & b,
    "union": lambda a, b: a | b,
    "diff": lambda a, b: a & ~b,
    "xor": lambda a, b: a ^ b,
}


def boolean_pair_measures(ax, ay, bx, by):
    """(inter_area2, union_area2, diff_area2, xor_area2) — each TWICE
    the exact area (Fractions; integral for integer-vertex rings whose
    doubled boolean areas are integral, e.g. any octilinear corpus).
    diff is A \\ B. Inputs: vertex coordinate sequences of two simple
    rings, any orientation, any angles, integer coordinates with
    |c| < 2^30."""
    sw = _sweep([(ax, ay), (bx, by)])
    a1, b1, a0, b0 = _pair_parities(sw)
    coef = np.stack([
        _PREDS[op](a0, b0).astype(np.int8) - _PREDS[op](a1, b1)
        for op in ("inter", "union", "diff", "xor")
    ])
    return tuple(_integrate(sw, coef))


def proper_crossing_count(ax, ay, bx, by):
    """Number of (A-edge, B-edge) pairs of two rings that cross
    PROPERLY (each strictly straddles the other's line), horizontal
    edges included. Same input rules as :func:`boolean_pair_measures`."""
    x1, y1, x2, y2, ring = _all_edges([(ax, ay), (bx, by)])
    return len(_crossings(x1, y1, x2 - x1, y2 - y1, ring)[0])


def _coverage_area2(rings, *tests):
    """TWICE the exact area where each of ``tests`` holds of the
    coverage count (how many of the simple rings cover a point). Within
    one simple ring the even-odd intervals are disjoint, so the count
    of rings whose parity is odd IS the coverage count."""
    sw = _sweep(rings)
    m = len(sw.k)
    # each entry's occurrence index among its ring's entries in its slab
    grp = np.lexsort((np.arange(m), sw.r, sw.k))
    pos = np.arange(m)
    new = np.r_[True, (np.diff(sw.k[grp]) != 0) | (np.diff(sw.r[grp]) != 0)]
    occ = np.empty(m, np.int64)
    occ[grp] = pos - np.maximum.accumulate(np.where(new, pos, 0))
    delta = 1 - 2 * (occ & 1)
    cov = _in_slab(sw, delta)
    return _integrate(sw, np.stack([
        t(cov - delta).astype(np.int8) - t(cov) for t in tests]))


def rings_union_area2(rings):
    """TWICE the exact union area of a LIST of simple rings (clipper
    ctUnion over N inputs — the merged-geofence shape): where the
    coverage count is >= 1. Rings are (xs, ys) pairs; any orientation,
    any angles, integer coordinates."""
    return _coverage_area2(rings, lambda c: c >= 1)[0]


def rings_coverage_area2(rings):
    """(union_area2, overlap_area2, single_area2) of a list of simple
    rings: TWICE the exact area covered by at least one ring, by at
    least two, and by exactly one (ctUnion, pairwise-overlap and
    ctXor measures of a set), from one sweep."""
    return tuple(_coverage_area2(
        rings, lambda c: c >= 1, lambda c: c >= 2, lambda c: c == 1))


def _union_area2(pieces):
    """TWICE the exact area of the union of simple rings, each given
    as a vertex tuple list."""
    return rings_union_area2(
        [([p[0] for p in ring], [p[1] for p in ring]) for ring in pieces])


def _hull(points):
    """Convex hull (monotone chain) of integer points — used to build
    each edge's square-join dilation piece exactly."""
    pts = sorted(set(points))
    if len(pts) <= 2:
        return pts

    def half(seq):
        h = []
        for p in seq:
            while len(h) >= 2 and (
                (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
            ) <= 0:
                h.pop()
            h.append(p)
        return h

    lo = half(pts)
    hi = half(pts[::-1])
    return lo[:-1] + hi[:-1]


def _square_dilation_hull(p1, p2, r):
    """The segment's Minkowski sum with [-r, r]^2: the hull of the
    endpoint square corners (absorbs the vertex squares). Dilation
    only — erosion (r < 0) is a different operation the corner
    expansion cannot express, so reject it loudly."""
    if r < 0:
        raise ValueError("square dilation requires radius >= 0 "
                         "(erosion is not expressible as a corner hull)")
    return _hull([
        (px + sx * r, py + sy * r)
        for (px, py) in (p1, p2) for sx in (-1, 1) for sy in (-1, 1)
    ])


def _points(xs, ys):
    """One ring's vertices as tuples of Python ints (the coordinate
    rules of :func:`_ring_xy`)."""
    return list(map(tuple, _ring_xy(xs, ys).T.tolist()))


def _ring_area2_exact(pts):
    """TWICE the absolute shoelace area of a ring, exact."""
    return Fraction(abs(sum(x0 * y1 - x1 * y0 for (x0, y0), (x1, y1)
                            in zip(pts, pts[1:] + pts[:1]))))


def convex_minkowski_measures(ax, ay, bx, by):
    """(sum_area2, n_verts) of the Minkowski sum A ⊕ B of two CONVEX
    rings (clipper MinkowskiSum, clipper.cs:4596-4687, on the convex
    domain): the sum is the hull of every pairwise vertex sum, so this
    is that hull's exact doubled area and its vertex count (collinear
    vertices dropped, i.e. parallel edges fused)."""
    b = _points(bx, by)
    hull = _hull([(px + qx, py + qy) for px, py in _points(ax, ay)
                  for qx, qy in b])
    return _ring_area2_exact(hull), len(hull)


def square_offset_measures(xs, ys, r):
    """(base_area2, offset_area2) of the square-join offset (clipper
    jtSquare + etClosedPolygon, clipper.cs:4744-5120) of an ARBITRARY
    simple ring — no rectilinearity or convexity scoping: the offset
    region is base ∪ (every edge ⊕ [-r, r]^2), each edge dilation
    being the convex hull of its endpoints' square corners (which
    absorbs the vertex squares), measured exactly by the N-piece
    union sweep. Integer coordinates and radius >= 0 in; exact
    Fractions out (integral on octilinear-even corpora)."""
    base = _points(xs, ys)
    n = len(base)
    pieces = [base]
    for i in range(n):
        pieces.append(_square_dilation_hull(base[i], base[(i + 1) % n], r))
    return _ring_area2_exact(base), _union_area2(pieces)


def open_buffer_square_measures(xs, ys, r):
    """(len_l1, buffer_area2) of the square-join buffer of an OPEN
    polyline (clipper etOpenSquare, clipper.cs:4744-5120): the buffer
    region is ⋃ per-segment dilation hulls (endpoint square caps are
    absorbed by the segment hulls), measured exactly by the N-piece
    union sweep; len_l1 is the exact L1 length of the path (both
    engines recompute it independently). No closing edge — open
    paths, the road-buffer shape."""
    pts = _points(xs, ys)
    n = len(pts)
    pieces = [
        _square_dilation_hull(pts[i], pts[i + 1], r) for i in range(n - 1)
    ]
    len_l1 = sum(
        abs(pts[i + 1][0] - pts[i][0]) + abs(pts[i + 1][1] - pts[i][1])
        for i in range(n - 1)
    )
    return len_l1, _union_area2(pieces)


def pair_trapezoids(ax, ay, bx, by, op="union"):
    """RESULT GEOMETRY for any of the four ClipType ops (not just
    measures): the standard trapezoidal decomposition of op(A, B).
    Each slab's maximal intervals where the op's coverage predicate
    holds become trapezoids; corners are the exact x's of the
    bounding edges at the slab's y-extremes. Returns rows
    (ylo, yhi, xl_lo, xl_hi, xr_lo, xr_hi) — left edge runs
    (xl_lo, ylo)→(xl_hi, yhi), right edge (xr_lo, ylo)→(xr_hi, yhi);
    their union is EXACTLY op(A, B) (disjoint interiors).

    Boundary-edge attribution is well-defined: two edges can only
    share a midline x if they are collinear across the slab (a proper
    crossing at the midline would itself be an event y, and midlines
    are strictly between events), so ties carry identical corner x's;
    the predicate is read only after the last of a run of ties.
    """
    pred = _PREDS[op]
    sw = _sweep([(ax, ay), (bx, by)])
    a1, b1, _, _ = _pair_parities(sw)
    # a run of ties ends where the gap is nonzero or the slab changes;
    # every slab ends outside both rings, so the predicate does too
    tie_end = (sw.gap != 0) | (sw.k[1:] != sw.k[:-1])
    ends = np.flatnonzero(np.r_[tie_end, True])
    on = pred(a1[ends], b1[ends])
    was = np.r_[False, on[:-1]]
    left, right = ends[on & ~was], ends[was & ~on]
    ev = sw.events
    c = sw.x1 * sw.dy - sw.y1 * sw.dx

    def x_at(e, y):
        return (int(c[e]) + y * int(sw.dx[e])) / Fraction(int(sw.dy[e]))

    out = []
    for k, el, er in zip(sw.k[left].tolist(), sw.e[left].tolist(),
                         sw.e[right].tolist()):
        ylo, yhi = ev[k], ev[k + 1]
        out.append((ylo, yhi, x_at(el, ylo), x_at(el, yhi),
                    x_at(er, ylo), x_at(er, yhi)))
    return out


def region_components(ax, ay, bx, by, op="union"):
    """(n_components, area2) — REGION TOPOLOGY of op(A, B): the
    number of connected components (by INTERIOR connectivity: two
    trapezoids connect iff they share a slab boundary y and their
    x-intervals there overlap with positive length — corner touches
    do not connect; side-by-side coverage within one slab is already
    one trapezoid), plus the region area closing the measure. This is
    the piece of Vatti's output (how many result polygons) that area
    measures alone cannot see — e.g. the XOR of two overlapping rings
    shatters into many lobes. Each trapezoid probes only the
    trapezoids of the slab above it."""
    tr = pair_trapezoids(ax, ay, bx, by, op)
    parent = list(range(len(tr)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    by_ylo = {}
    for j, t in enumerate(tr):
        by_ylo.setdefault(t[0], []).append(j)
    for i, (_, yhi, _, xl_hi, _, xr_hi) in enumerate(tr):
        for j in by_ylo.get(yhi, ()):
            (_, _, xl_lo, _, xr_lo, _) = tr[j]
            # strict overlap at the shared y = yhi
            if xl_hi < xr_lo and xl_lo < xr_hi:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[ri] = rj
    area2 = sum(((yhi - ylo) * ((xr0 - xl0) + (xr1 - xl1))
                 for (ylo, yhi, xl0, xl1, xr0, xr1) in tr), Fraction(0))
    return len({find(i) for i in range(len(tr))}), area2


def minkowski_any_convex_measures(ax, ay, bx, by):
    """(a_area2, sum_area2) for the Minkowski sum A ⊕ B of an
    ARBITRARY simple ring A with a CONVEX ring B — past the
    convex⊗convex case of :func:`convex_minkowski_measures` (clipper
    MinkowskiSum,
    clipper.cs:4596-4687, which the reference vendors for arbitrary
    paths): with B translated so one vertex sits at the origin
    (area-invariant), A ⊕ B = A ∪ ⋃_edges hull((p1 ⊕ B) ∪ (p2 ⊕ B)),
    a union of |A| convex pieces plus A itself, measured exactly by
    the N-piece slab sweep. Integer coordinates in, exact Fractions
    out."""
    base = _points(ax, ay)
    n = len(base)
    b = _points(bx, by)
    q = [(x - b[0][0], y - b[0][1]) for x, y in b]
    pieces = [base]
    for i in range(n):
        p1, p2 = base[i], base[(i + 1) % n]
        pieces.append(_hull([
            (qx + px, qy + py) for (qx, qy) in q for (px, py) in (p1, p2)
        ]))
    return _ring_area2_exact(base), _union_area2(pieces)

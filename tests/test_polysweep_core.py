"""The vectorized slab core of kernels/polysweep.py: its exact in-slab
ordering (float keys checked in integers, failing slabs re-sorted
exactly), its coordinate bound, and its size range."""

import math
import time
from fractions import Fraction

import numpy as np
import pytest

from mvtspark.kernels import polysweep as ps


def _area2(xs, ys):
    n = len(xs)
    return abs(sum(xs[i] * ys[(i + 1) % n] - xs[(i + 1) % n] * ys[i]
                   for i in range(n)))


def _orient(ox, oy, ux, uy, vx, vy):
    return (ux - ox) * (vy - oy) - (uy - oy) * (vx - ox)


def _midline_oracle(ax, ay, bx, by):
    """Independent reference: brute-force crossings, then per slab the
    exact Fraction midline crossings of each ring and an endpoint walk
    reading each measure off its own predicate."""
    def edges(xs, ys):
        n = len(xs)
        return [(xs[i], ys[i], xs[(i + 1) % n], ys[(i + 1) % n])
                for i in range(n)]

    ea, eb = edges(ax, ay), edges(bx, by)
    ev = set(ay) | set(by)
    for (p1x, p1y, p2x, p2y) in ea:
        for (q1x, q1y, q2x, q2y) in eb:
            if (_orient(p1x, p1y, p2x, p2y, q1x, q1y)
                    * _orient(p1x, p1y, p2x, p2y, q2x, q2y) < 0
                    and _orient(q1x, q1y, q2x, q2y, p1x, p1y)
                    * _orient(q1x, q1y, q2x, q2y, p2x, p2y) < 0):
                den = (p2x - p1x) * (q2y - q1y) - (p2y - p1y) * (q2x - q1x)
                t = Fraction((q1x - p1x) * (q2y - q1y)
                             - (q1y - p1y) * (q2x - q1x), den)
                ev.add(p1y + t * (p2y - p1y))
    ev = sorted(ev)
    out = [Fraction(0)] * 4
    for y0, y1 in zip(ev, ev[1:]):
        ym = Fraction(y0 + y1) / 2
        marks = []
        for ring, es in enumerate((ea, eb)):
            for (x1, y1_, x2, y2) in es:
                if min(y1_, y2) < ym < max(y1_, y2):
                    slope = Fraction(x2 - x1, y2 - y1_)
                    marks.append((x1 + (ym - y1_) * slope, ring))
        marks.sort()
        inside = [False, False]
        for (x, ring), (xn, _) in zip(marks, marks[1:]):
            inside[ring] = not inside[ring]
            a, b = inside
            for i, on in enumerate((a and b, a or b, a and not b, a != b)):
                if on:
                    out[i] += 2 * (xn - x) * (y1 - y0)
    return tuple(out)


def test_float_misorder_is_resorted_exactly():
    """Two slivers of about 2^30 along nearly the same line: the float64
    midline key misorders a slab, the integer check catches it, and
    the exact re-sort gives the oracle's measures."""
    ax = [-818147124, 549189770, 549189772]
    ay = [-685220184, -684808048, -684808046]
    bx = [-818147123, 549189769, -818147117]
    by = [-685220183, -684808049, -685220185]
    sw = ps._sweep([(ax, ay), (bx, by)])
    evf = np.array(sw.events, np.float64)
    ym = 0.5 * (evf[sw.kc] + evf[sw.kc + 1])
    xm = sw.x1[sw.ec] + (ym - sw.y1[sw.ec]) * (sw.dx / sw.dy)[sw.ec]
    assert (ps._gaps(sw, np.lexsort((xm, sw.kc))) < 0).any()
    assert not (sw.gap < 0).any()
    got = ps.boolean_pair_measures(ax, ay, bx, by)
    assert got == _midline_oracle(ax, ay, bx, by)
    i2, u2, d2, x2 = got
    assert i2 + d2 == _area2(ax, ay)
    assert u2 + i2 == _area2(ax, ay) + _area2(bx, by)


def test_coordinate_bound():
    """|c| < 2^30 keeps every orientation product inside int64; the
    kernel entry enforces it for every sweep surface."""
    lim = (1 << 30) - 1
    sq = ([-lim, lim, lim, -lim], [-lim, -lim, lim, lim])
    half = ([0, lim, lim, 0], [-lim, -lim, lim, lim])
    full2 = 2 * (2 * lim) ** 2
    assert ps.boolean_pair_measures(*sq, *half) == (
        full2 // 2, full2, full2 // 2, full2 // 2)
    assert ps.rings_union_area2([sq, half]) == full2
    over = ([0, 1 << 30, 0], [0, 0, 5])
    tri = ([0, 4, 0], [0, 0, 4])
    for call in (
        lambda: ps.boolean_pair_measures(*over, *tri),
        lambda: ps.boolean_pair_measures(*tri, [0, 4, 0], [0, 0, -(1 << 30)]),
        lambda: ps.pair_trapezoids(*tri, *over, "xor"),
        lambda: ps.rings_union_area2([tri, over]),
        lambda: ps.square_offset_measures([0, lim, lim], [0, 0, 9], 1),
        lambda: ps.boolean_pair_measures(*tri, [0, 2**70, 0], [0, 0, 4]),
    ):
        with pytest.raises(ValueError, match="2\\*\\*30"):
            call()


def test_non_integral_coordinates_rejected():
    """A non-integral or non-finite coordinate raises instead of being
    truncated (0.5 used to measure as 0); integer-valued floats, as the
    Spark operators send them, measure exactly like ints."""
    tri = ([0, 1, 1, 0], [0, 0, 1, 1])
    assert ps.boolean_pair_measures(
        [0.0, 2.0, 2.0, 0.0], [0.0, 0.0, 2.0, 2.0], *tri) == (2, 8, 6, 6)
    for bad in ([0.5, 2.5, 2.5, 0.5], [0, 2, 2, float("nan")],
                [0, 2, 2, float("inf")], [0, Fraction(5, 2), 2, 0]):
        for call in (
            lambda: ps.boolean_pair_measures(bad, [0, 0, 2, 2], *tri),
            lambda: ps.rings_union_area2([tri, (bad, [0, 0, 2, 2])]),
            lambda: ps.square_offset_measures(bad, [0, 0, 2, 2], 1),
            lambda: ps.convex_minkowski_measures(*tri, bad, [0, 0, 2, 2]),
            lambda: ps.proper_crossing_count(*tri, bad, [0, 0, 2, 2]),
        ):
            with pytest.raises(ValueError):
                call()


def _big_star(rng, cx, cy, nv, scale):
    """perfbench's star shape with radii times ``scale``, so rounding to
    integers keeps a 1,000-vertex ring simple."""
    base = rng.uniform(0, 2 * np.pi)
    xs, ys = [], []
    for k in range(nv):
        a = base + 2 * np.pi * (k + rng.uniform(0.1, 0.9)) / nv
        r = scale * (rng.uniform(700, 1000) if k % 2 == 0
                     else rng.uniform(250, 450))
        xs.append(int(round(cx + r * math.cos(a))))
        ys.append(int(round(cy + r * math.sin(a))))
    return xs, ys


def test_thousand_vertex_star_pair():
    """A 1,000-vertex star pair overlapping at the rims (about 2,000
    crossings and 3,000 events) finishes in a few CPU-seconds; its
    measures close under shoelace, and its union agrees with the N-ring
    cover-count path."""
    rng = np.random.default_rng(11)
    ax, ay = _big_star(rng, 0, 0, 1000, 20)
    bx, by = _big_star(rng, 30000, 0, 1000, 20)
    t0 = time.process_time()
    i2, u2, d2, x2 = ps.boolean_pair_measures(ax, ay, bx, by)
    assert time.process_time() - t0 < 30
    a2, b2 = _area2(ax, ay), _area2(bx, by)
    assert 0 < i2 < min(a2, b2)
    assert i2 + d2 == a2
    assert u2 + i2 == a2 + b2
    assert u2 == i2 + x2
    assert ps.rings_union_area2([(ax, ay), (bx, by)]) == u2


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(0, 2**32 - 1),
        st.integers(-900, 900), st.integers(-900, 900),
        st.integers(8, 40), st.integers(8, 40),
    )
    def test_hypothesis_larger_stars(seed, tx, ty, na, nb):
        """16 to 80 vertices per ring at perfbench's radii: the measures
        equal the midline oracle's, close under shoelace, and the
        trapezoids of each op tile its measure."""
        rng = np.random.default_rng(seed)
        ax, ay = _big_star(rng, 0, 0, 2 * na, 1)
        bx, by = _big_star(rng, tx, ty, 2 * nb, 1)
        got = ps.boolean_pair_measures(ax, ay, bx, by)
        if na + nb <= 30:
            assert got == _midline_oracle(ax, ay, bx, by)
        i2, u2, d2, x2 = got
        a2, b2 = _area2(ax, ay), _area2(bx, by)
        assert i2 + d2 == a2 and u2 + i2 == a2 + b2 and u2 == i2 + x2
        for op, want in zip(("inter", "union", "diff", "xor"), got):
            tr = ps.pair_trapezoids(ax, ay, bx, by, op)
            assert sum((t[1] - t[0]) * (t[4] - t[2] + t[5] - t[3])
                       for t in tr) == want
except ImportError:  # pragma: no cover
    pass

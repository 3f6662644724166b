"""Slab-sweep general polygon boolean (kernels/polysweep.py) — exact
measures for arbitrary simple pairs, checked three independent ways:
hand-computed fixtures, identity invariants, and ALGORITHM PARITY
against the convex-only Sutherland–Hodgman reference
(tests/boolean_reference.py) on random convex pairs with arbitrary edge
angles."""

import random
from fractions import Fraction

import numpy as np
import pytest
from boolean_reference import convex_pair_stats

from mvtspark.kernels.polysweep import boolean_pair_measures

OCT = [(2, 0), (6, 0), (8, 2), (8, 6), (6, 8), (2, 8), (0, 6), (0, 2)]


def _xy(pts):
    return [p[0] for p in pts], [p[1] for p in pts]


def test_half_overlap_squares():
    i2, u2, d2, x2 = boolean_pair_measures(
        [0, 2, 2, 0], [0, 0, 2, 2], [1, 3, 3, 1], [0, 0, 2, 2]
    )
    assert (i2, u2, d2, x2) == (4, 12, 4, 8)


def test_disjoint_and_contained():
    assert boolean_pair_measures(
        [0, 1, 1, 0], [0, 0, 1, 1], [5, 6, 6, 5], [0, 0, 1, 1]
    ) == (0, 4, 2, 4)
    assert boolean_pair_measures(
        [0, 10, 10, 0], [0, 0, 10, 10], [2, 4, 4, 2], [2, 2, 4, 4]
    ) == (8, 200, 192, 192)


def test_square_inscribed_in_diamond():
    # every square corner lies ON the diamond boundary: closed-set
    # containment, zero diff
    i2, u2, d2, x2 = boolean_pair_measures(
        [0, 4, 4, 0], [0, 0, 4, 4], [2, 6, 2, -2], [-2, 2, 6, 2]
    )
    assert (i2, u2, d2, x2) == (32, 64, 0, 32)


def test_nonconvex_notch_vs_octagon():
    ax, ay = [0, 12, 12, 8, 8, 4, 4, 0], [0, 0, 10, 10, 6, 6, 10, 10]
    bx, by = _xy(OCT)
    i2, u2, d2, x2 = boolean_pair_measures(ax, ay, bx, by)
    a2 = 2 * (12 * 10 - 4 * 4)  # notched rect, doubled
    b2 = 2 * 56  # octagon 8x8 minus four 2x2/2 corners
    assert u2 == a2 + b2 - i2
    assert d2 == a2 - i2
    assert x2 == u2 - i2
    assert i2 == 100  # pinned


def test_orientation_and_rotation_invariance():
    ax, ay = [0, 12, 12, 8, 8, 4, 4, 0], [0, 0, 10, 10, 6, 6, 10, 10]
    bx, by = _xy(OCT)
    base = boolean_pair_measures(ax, ay, bx, by)
    # reverse B (CW), rotate A's start vertex
    assert boolean_pair_measures(ax, ay, bx[::-1], by[::-1]) == base
    assert boolean_pair_measures(
        ax[3:] + ax[:3], ay[3:] + ay[:3], bx, by
    ) == base


def test_shared_edge_neighbors():
    # two rects sharing the full edge x=2: boundary overlap is
    # measure-zero in every statistic
    assert boolean_pair_measures(
        [0, 2, 2, 0], [0, 0, 3, 3], [2, 5, 5, 2], [0, 0, 3, 3]
    ) == (0, 30, 12, 30)


def _shoelace2(xs, ys):
    n = len(xs)
    return sum(
        xs[i] * ys[(i + 1) % n] - xs[(i + 1) % n] * ys[i] for i in range(n)
    )


def _rand_convex(rng, n, cx, cy, r):
    """Random convex CCW ring: sorted random angles around a center,
    hull of the points to guarantee convexity."""
    angs = sorted(rng.uniform(0, 2 * np.pi) for _ in range(n))
    pts = []
    for a in angs:
        rr = r * rng.uniform(0.5, 1.0)
        pts.append((round(cx + rr * np.cos(a)), round(cy + rr * np.sin(a))))
    # convex hull (monotone chain) to clean collinear/reflex artifacts
    pts = sorted(set(pts))
    if len(pts) < 3:
        return None

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
    hull = lo[:-1] + hi[:-1]
    return hull if len(hull) >= 3 else None


def test_parity_vs_convex_sutherland_hodgman():
    """The sweep (exact Fractions, general) must agree with the S-H
    convex path (float64) on random convex pairs at arbitrary angles —
    two unrelated algorithms, one geometry."""
    rng = random.Random(42)
    checked = 0
    for _ in range(60):
        a = _rand_convex(rng, 8, 0, 0, 40)
        b = _rand_convex(rng, 8, rng.randint(-30, 30), rng.randint(-30, 30), 40)
        if a is None or b is None:
            continue
        ax, ay = _xy(a)
        bx, by = _xy(b)
        i2s, u2s, d2s, x2s = boolean_pair_measures(ax, ay, bx, by)
        i2c, u2c, _, _ = convex_pair_stats(
            np.asarray(ax, np.float64), np.asarray(ay, np.float64),
            np.asarray(bx, np.float64), np.asarray(by, np.float64),
        )
        assert abs(float(i2s) - i2c) < 1e-6 * max(1.0, abs(i2c))
        assert abs(float(u2s) - u2c) < 1e-6 * max(1.0, abs(u2c))
        # diff/xor close under shoelace: area2(A) = inter + diff
        a2 = abs(_shoelace2(ax, ay))
        b2 = abs(_shoelace2(bx, by))
        assert i2s + d2s == a2
        assert x2s == (a2 - i2s) + (b2 - i2s)
        checked += 1
    assert checked >= 40


def test_octilinear_corpus_is_integral():
    """On the axis+45-degree even-vertex grid every measure is an exact
    integer (denominator 1) — the property the SQL oracle relies on."""
    rng = random.Random(7)
    for _ in range(30):
        x0, y0 = 2 * rng.randint(0, 50), 2 * rng.randint(0, 50)
        w, h = 2 * rng.randint(12, 21), 2 * rng.randint(8, 19)
        nx0 = x0 + 2 * rng.randint(1, 5)
        nx1 = nx0 + 2 * rng.randint(2, 6)
        ny = y0 + h - 2 * rng.randint(2, 6)
        ax = [x0, x0 + w, x0 + w, nx1, nx1, nx0, nx0, x0]
        ay = [y0, y0, y0 + h, y0 + h, ny, ny, y0 + h, y0 + h]
        s = rng.randint(1, 4)
        tx, ty = 2 * rng.randint(0, 60), 2 * rng.randint(0, 60)
        bx = [p[0] * s + tx for p in OCT]
        by = [p[1] * s + ty for p in OCT]
        out = boolean_pair_measures(ax, ay, bx, by)
        for fr in out:
            assert isinstance(fr, Fraction) and fr.denominator == 1
        i2, u2, d2, x2 = out
        a2 = 2 * (w * h - (nx1 - nx0) * (y0 + h - ny))
        b2 = 2 * (64 * s * s - 8 * s * s)
        assert u2 == a2 + b2 - i2
        assert d2 == a2 - i2
        assert x2 == u2 - i2
        assert 0 <= i2 <= min(a2, b2)


def test_square_offset_rect_analytic():
    """Offset of a rectangle = (w+2r)(h+2r) exactly."""
    from mvtspark.kernels.polysweep import square_offset_measures

    for (w, h, r) in [(4, 4, 2), (10, 6, 3), (8, 2, 1)]:
        b2, o2 = square_offset_measures([0, w, w, 0], [0, 0, h, h], r)
        assert b2 == 2 * w * h
        assert o2 == 2 * (w + 2 * r) * (h + 2 * r)


def test_square_offset_convex_mixed_area():
    """For a CONVEX ring, area(P ⊕ [-r,r]^2) = A + r·Σ(|dx|+|dy|) +
    4r² (Minkowski mixed-area identity) — an independent analytic
    check covering the 45-degree edges of the octagon."""
    from mvtspark.kernels.polysweep import square_offset_measures

    ox = [p[0] for p in OCT]
    oy = [p[1] for p in OCT]
    for r in (1, 2, 3):
        b2, o2 = square_offset_measures(ox, oy, r)
        assert b2 == 2 * 56
        per_l1 = sum(
            abs(ox[(i + 1) % 8] - ox[i]) + abs(oy[(i + 1) % 8] - oy[i])
            for i in range(8)
        )
        assert o2 == b2 + 2 * (r * per_l1 + 4 * r * r)


def test_square_offset_nonconvex_l_shape():
    """Concave L: exact value cross-checked against an independent
    Chebyshev-distance membership count on the integer grid (the
    offset region of a rectilinear ring is rectilinear, so unit-cell
    center counting is exact)."""
    from mvtspark.kernels.polysweep import square_offset_measures

    xs, ys = [0, 8, 8, 4, 4, 0], [0, 0, 4, 4, 8, 8]
    r = 2
    b2, o2 = square_offset_measures(xs, ys, r)
    assert b2 == 2 * 48

    def inside(px, py):
        n = len(xs)
        ins = False
        j = n - 1
        for i in range(n):
            if (ys[i] > py) != (ys[j] > py):
                xint = xs[i] + (py - ys[i]) * (xs[j] - xs[i]) / (ys[j] - ys[i])
                if px < xint:
                    ins = not ins
            j = i
        return ins

    def near_edge(px, py):
        n = len(xs)
        for i in range(n):
            x1, y1 = xs[i], ys[i]
            x2, y2 = xs[(i + 1) % n], ys[(i + 1) % n]
            # axis-aligned edges: Chebyshev distance has closed form
            if x1 == x2:
                d = max(abs(px - x1), max(min(y1, y2) - py,
                                          py - max(y1, y2), 0))
            else:
                d = max(abs(py - y1), max(min(x1, x2) - px,
                                          px - max(x1, x2), 0))
            if d <= r:
                return True
        return False

    cells = 0
    for iy in range(-r - 1, 8 + r + 1):
        for ix in range(-r - 1, 8 + r + 1):
            px, py = ix + 0.5, iy + 0.5
            if inside(px, py) or near_edge(px, py):
                cells += 1
    assert o2 == 2 * cells


def test_square_offset_beveled_nonconvex_invariants():
    """The oracled corpus shape (notched rect with a 45° bevel):
    integrality on the multiple-of-4 grid plus measure bounds."""
    from mvtspark.kernels.polysweep import square_offset_measures

    rng = random.Random(11)
    for _ in range(10):
        x0, y0 = 4 * rng.randint(0, 50), 4 * rng.randint(0, 50)
        x1 = x0 + 4 * rng.randint(16, 23)
        y1 = y0 + 4 * rng.randint(8, 19)
        c = 4 * rng.randint(1, 3)
        nx0 = x0 + 4 * rng.randint(1, 5)
        nx1 = nx0 + 4 * rng.randint(2, 6)
        ny = y1 - 4 * rng.randint(2, 6)
        r = 4 * rng.randint(1, 2)
        xs = [x0, x1, x1, x1 - c, nx1, nx1, nx0, nx0, x0]
        ys = [y0, y0, y1 - c, y1, y1, ny, ny, y1, y1]
        b2, o2 = square_offset_measures(xs, ys, r)
        assert b2.denominator == 1 and o2.denominator == 1
        # base area: rect − notch − bevel corner triangle
        assert b2 == 2 * ((x1 - x0) * (y1 - y0)
                          - (nx1 - nx0) * (y1 - ny)) - c * c
        assert o2 > b2
        # offset fits in the dilated bounding box
        assert o2 <= 2 * (x1 - x0 + 2 * r) * (y1 - y0 + 2 * r)


def _star_points(cx, cy, n, r1, r2):
    pts = []
    for k in range(2 * n):
        a = np.pi * k / n
        r = r1 if k % 2 == 0 else r2
        pts.append((round(cx + r * np.cos(a)), round(cy + r * np.sin(a))))
    return pts


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(-20, 20), st.integers(-20, 20),
        st.integers(3, 6), st.integers(10, 18),
        st.integers(3, 6), st.integers(10, 18),
    )
    def test_hypothesis_sweep_identities(tx, ty, na, ra, nb, rb):
        """Property suite on star (non-convex, arbitrary-angle) pairs:
        the four measures close under shoelace for ANY inputs."""
        a = _star_points(0, 0, na, 40, ra)
        b = _star_points(tx, ty, nb, 35, rb)
        ax, ay = _xy(a)
        bx, by = _xy(b)
        i2, u2, d2, x2 = boolean_pair_measures(ax, ay, bx, by)
        a2 = abs(_shoelace2(ax, ay))
        b2 = abs(_shoelace2(bx, by))
        assert i2 + d2 == a2
        assert u2 + i2 == a2 + b2
        assert u2 == i2 + x2
        assert 0 <= i2 <= min(a2, b2)
except ImportError:  # pragma: no cover
    pass


def test_union_sweep_vs_coverage_grid():
    """N-piece union sweep vs the coordinate-compressed coverage grid
    (tests/boolean_reference.py) on random axis-aligned rect sets —
    two independent exact union algorithms; the coverage-count suite
    (union, overlap, single) against the grid's thresholds too."""
    import numpy as np
    from boolean_reference import _coverage_grid

    from mvtspark.kernels.polysweep import _union_area2, rings_coverage_area2

    rng = random.Random(99)
    for _ in range(20):
        n = rng.randint(2, 8)
        rects = []
        for _ in range(n):
            x0, y0 = rng.randint(0, 20), rng.randint(0, 20)
            rects.append((x0, y0, x0 + rng.randint(1, 9),
                          y0 + rng.randint(1, 9)))
        pieces = [
            [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
            for (x0, y0, x1, y1) in rects
        ]
        u2 = _union_area2(pieces)
        xs, ys, cnt = _coverage_grid(
            np.array([r[0] for r in rects], np.int64),
            np.array([r[1] for r in rects], np.int64),
            np.array([r[2] for r in rects], np.int64),
            np.array([r[3] for r in rects], np.int64),
        )
        cell = np.diff(xs)[:, None] * np.diff(ys)[None, :]
        assert u2 == 2 * int(cell[cnt >= 1].sum())
        assert rings_coverage_area2([_xy(p) for p in pieces]) == tuple(
            2 * int(cell[m].sum()) for m in (cnt >= 1, cnt >= 2, cnt == 1))


def test_rings_union_matches_pairwise_inclusion_exclusion():
    """For TWO rings the N-ring union must equal the pair sweep's
    union measure; known values for overlapping/disjoint/nested."""
    from mvtspark.kernels.polysweep import (
        boolean_pair_measures, rings_union_area2)

    cases = [
        (([0, 2, 2, 0], [0, 0, 2, 2]), ([1, 3, 3, 1], [0, 0, 2, 2])),
        (([0, 1, 1, 0], [0, 0, 1, 1]), ([5, 6, 6, 5], [0, 0, 1, 1])),
        (([0, 10, 10, 0], [0, 0, 10, 10]), ([2, 4, 4, 2], [2, 2, 4, 4])),
    ]
    for a, b in cases:
        u_pair = boolean_pair_measures(a[0], a[1], b[0], b[1])[1]
        assert rings_union_area2([a, b]) == u_pair
    # three rings with a duplicate: union unchanged by the duplicate
    a, b = cases[0]
    assert rings_union_area2([a, b, a]) == boolean_pair_measures(
        a[0], a[1], b[0], b[1])[1]


def test_open_buffer_square_values():
    """Straight segment -> rectangle; right-angle bend -> union of two
    rectangles (hand-computed); 45-degree segment -> hexagon with the
    mixed-area closed form len*2r + 4r^2 per isolated segment."""
    from mvtspark.kernels.polysweep import open_buffer_square_measures

    l1, b2 = open_buffer_square_measures([0, 10], [0, 0], 2)
    assert (l1, b2) == (10, 2 * 14 * 4)
    l1, b2 = open_buffer_square_measures([0, 8, 8], [0, 0, 6], 2)
    assert (l1, b2) == (14, 2 * (48 + 40 - 16))
    # isolated 45-degree segment (0,0)->(d,d): hull area =
    # (2r)^2 + L1*... exact: hexagon = square(2r)^2 + d*(2r)*2
    l1, b2 = open_buffer_square_measures([0, 6], [0, 6], 2)
    assert l1 == 12
    assert b2 == 2 * (16 + 6 * 4 * 2)


def test_union_trapezoids_tile_exactly():
    """The trapezoid decomposition must tile the union exactly: areas
    sum to the union measure, slabs don't overlap, and within a slab
    the trapezoids are disjoint and x-ordered."""
    from fractions import Fraction as Fr

    cases = [
        (([0, 2, 2, 0], [0, 0, 2, 2]), ([1, 3, 3, 1], [0, 0, 2, 2])),
        (([0, 4, 4, 0], [0, 0, 4, 4]), ([2, 6, 2, -2], [-2, 2, 6, 2])),
        (([0, 12, 12, 8, 8, 4, 4, 0], [0, 0, 10, 10, 6, 6, 10, 10]),
         (_xy(OCT))),
        (([0, 1, 1, 0], [0, 0, 1, 1]), ([5, 6, 6, 5], [0, 0, 1, 1])),
    ]
    from mvtspark.kernels.polysweep import pair_trapezoids

    for a, b in cases:
        measures = boolean_pair_measures(a[0], a[1], b[0], b[1])
        for idx, op in enumerate(("inter", "union", "diff", "xor")):
            tr = pair_trapezoids(a[0], a[1], b[0], b[1], op)
            tot = Fr(0)
            for (ylo, yhi, xl0, xl1, xr0, xr1) in tr:
                assert ylo < yhi
                assert xl0 <= xr0 and xl1 <= xr1
                tot += (yhi - ylo) * ((xr0 - xl0) + (xr1 - xl1))
            assert tot == measures[idx]
            by_slab = {}
            for t in tr:
                by_slab.setdefault((t[0], t[1]), []).append(t)
            for slab in by_slab.values():
                slab.sort(key=lambda t: t[2])
                for p, q in zip(slab, slab[1:]):
                    # disjoint interiors at both extremes
                    assert p[4] <= q[2] and p[5] <= q[3]


def test_negative_radius_rejected():
    """Erosion is not expressible as a corner-hull dilation: a
    negative radius must fail loudly, never silently dilate (the
    corner expansion is invariant under r -> -r)."""
    from mvtspark.kernels.polysweep import (
        open_buffer_square_measures, square_offset_measures)

    with pytest.raises(ValueError):
        square_offset_measures([0, 10, 10, 0], [0, 0, 10, 10], -2)
    with pytest.raises(ValueError):
        open_buffer_square_measures([0, 10], [0, 0], -1)


def test_region_components_topology():
    """Interior-connectivity component counts: overlap=1, disjoint=2,
    CORNER TOUCH=2 (not connected), shared vertical edge=1 (merged in
    one slab interval), shared horizontal edge=1 (the shared open
    segment is interior to the union), nested=1; xor of identical
    rings = 0 lobes; xor of the notch-octagon pair = 4 lobes; every
    component count pairs with the exact area closing the measure."""
    from mvtspark.kernels.polysweep import (
        boolean_pair_measures, region_components)

    u = lambda *a: region_components(*a, op="union")  # noqa: E731
    assert u([0, 2, 2, 0], [0, 0, 2, 2], [1, 3, 3, 1], [0, 0, 2, 2])[0] == 1
    assert u([0, 1, 1, 0], [0, 0, 1, 1], [5, 6, 6, 5], [0, 0, 1, 1])[0] == 2
    assert u([0, 2, 2, 0], [0, 0, 2, 2], [2, 4, 4, 2], [2, 2, 4, 4])[0] == 2
    assert u([0, 2, 2, 0], [0, 0, 3, 3], [2, 5, 5, 2], [0, 0, 3, 3])[0] == 1
    assert u([0, 2, 2, 0], [0, 0, 2, 2], [0, 2, 2, 0], [2, 2, 4, 4])[0] == 1
    assert u([0, 10, 10, 0], [0, 0, 10, 10],
             [2, 4, 4, 2], [2, 2, 4, 4])[0] == 1
    assert region_components(
        [0, 4, 4, 0], [0, 0, 4, 4], [0, 4, 4, 0], [0, 0, 4, 4], "xor"
    ) == (0, 0)
    ax, ay = [0, 12, 12, 8, 8, 4, 4, 0], [0, 0, 10, 10, 6, 6, 10, 10]
    bx, by = _xy(OCT)
    n, a2 = region_components(ax, ay, bx, by, "xor")
    assert n == 4
    assert a2 == boolean_pair_measures(ax, ay, bx, by)[3]


def test_minkowski_any_vs_convex_edge_merge():
    """For CONVEX A the sweep-based sum must agree with the angular
    edge merge (tests/boolean_reference.py) — two unrelated
    algorithms."""
    from boolean_reference import minkowski_sum_convex, ring_area2
    from mvtspark.kernels.polysweep import minkowski_any_convex_measures

    ox = [p[0] for p in OCT]
    oy = [p[1] for p in OCT]
    for (axs, ays) in [
        ([0, 10, 10, 0], [0, 0, 6, 6]),
        ([0, 7, 3], [0, 2, 9]),
        (ox, oy),
    ]:
        a2, s2 = minkowski_any_convex_measures(axs, ays, ox, oy)
        vx, vy = minkowski_sum_convex(
            np.asarray(axs, np.float64), np.asarray(ays, np.float64),
            np.asarray(ox, np.float64), np.asarray(oy, np.float64),
        )
        assert float(s2) == ring_area2(vx, vy)
        assert a2 == abs(_shoelace2(axs, ays))


def test_minkowski_any_square_is_offset():
    """A ⊕ [0, 2r]² has the same area as the square-join offset by r
    (translation invariance) — third algorithm cross-check, on a
    NON-CONVEX L-shape."""
    from mvtspark.kernels.polysweep import (
        minkowski_any_convex_measures, square_offset_measures)

    xs, ys = [0, 8, 8, 4, 4, 0], [0, 0, 4, 4, 8, 8]
    for r in (1, 2, 3):
        _, s2 = minkowski_any_convex_measures(
            xs, ys, [0, 2 * r, 2 * r, 0], [0, 0, 2 * r, 2 * r]
        )
        _, o2 = square_offset_measures(xs, ys, r)
        assert s2 == o2


def test_minkowski_any_nonconvex_invariants():
    """Beveled notched rect ⊕ scaled octagon on the ×4 grid (the
    oracled corpus class): integrality + containment bounds."""
    from mvtspark.kernels.polysweep import minkowski_any_convex_measures

    rng = random.Random(23)
    ox = [p[0] for p in OCT]
    oy = [p[1] for p in OCT]
    for _ in range(8):
        x0, y0 = 4 * rng.randint(0, 50), 4 * rng.randint(0, 50)
        x1 = x0 + 4 * rng.randint(16, 23)
        y1 = y0 + 4 * rng.randint(8, 19)
        c = 4 * rng.randint(1, 3)
        nx0 = x0 + 4 * rng.randint(1, 5)
        nx1 = nx0 + 4 * rng.randint(2, 6)
        ny = y1 - 4 * rng.randint(2, 6)
        s = 4 * rng.randint(1, 2)
        xs = [x0, x1, x1, x1 - c, nx1, nx1, nx0, nx0, x0]
        ys = [y0, y0, y1 - c, y1, y1, ny, ny, y1, y1]
        a2, s2 = minkowski_any_convex_measures(
            xs, ys, [v * s for v in ox], [v * s for v in oy]
        )
        assert a2.denominator == 1 and s2.denominator == 1
        b2 = 2 * 56 * s * s
        # sum contains a translate of A and of B; bounded by the
        # dilated bbox of A
        assert s2 >= max(a2, b2)
        assert s2 <= 2 * (x1 - x0 + 8 * s) * (y1 - y0 + 8 * s)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_measure_bounds_random_nonconvex(seed):
    """Star-shaped non-convex rings at arbitrary angles: invariant
    suite (no closed form, so check the lattice of inequalities)."""
    rng = random.Random(seed)

    def star(cx, cy, n, r1, r2):
        pts = []
        for k in range(2 * n):
            a = np.pi * k / n
            r = r1 if k % 2 == 0 else r2
            pts.append((round(cx + r * np.cos(a)), round(cy + r * np.sin(a))))
        return pts

    for _ in range(10):
        a = star(0, 0, rng.randint(3, 6), 40, rng.randint(12, 20))
        b = star(rng.randint(-25, 25), rng.randint(-25, 25),
                 rng.randint(3, 6), 35, rng.randint(10, 18))
        ax, ay = _xy(a)
        bx, by = _xy(b)
        i2, u2, d2, x2 = boolean_pair_measures(ax, ay, bx, by)
        a2 = abs(_shoelace2(ax, ay))
        b2 = abs(_shoelace2(bx, by))
        # every measure independently computed; shoelace closes the set
        assert i2 + d2 == a2
        assert u2 == i2 + x2
        assert u2 + i2 == a2 + b2
        assert i2 >= 0 and d2 >= 0 and u2 >= max(a2, b2)

"""Polygon boolean layer (operators/boolean.py on the exact slab sweep)
and the test-side reference algorithms it is checked against
(tests/boolean_reference.py): convex clip goldens, hull-of-candidates
cross-check (the oracle's independent algorithm), coverage-grid
exactness vs brute-force bitmaps, the rectilinear square-join offset
invariants, and the convex operators past float64's exact range."""

from fractions import Fraction

import numpy as np
import pytest
from boolean_reference import (
    _coverage_grid,
    clip_convex,
    convex_pair_stats,
    minkowski_sum_convex,
    ring_area2,
)

# ---------------------------------------------------------------- helpers


def _hull(points):
    """Monotone-chain convex hull (CCW, no duplicates) — test-local."""
    pts = sorted(set(map(tuple, points)))
    if len(pts) <= 2:
        return pts

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out

    lo = half(pts)
    hi = half(reversed(pts))
    return lo[:-1] + hi[:-1]


def _inter_area2_candidates(A, B):
    """Independent convex∩convex area2: hull of {A-verts in B} ∪
    {B-verts in A} ∪ {segment crossings} — the ORACLE's algorithm."""

    def inside(p, ring):
        n = len(ring)
        for i in range(n):
            ax, ay = ring[i]
            bx, by = ring[(i + 1) % n]
            if (bx - ax) * (p[1] - ay) - (by - ay) * (p[0] - ax) < 0:
                return False
        return True

    cand = [p for p in A if inside(p, B)] + [p for p in B if inside(p, A)]
    na, nb = len(A), len(B)
    for i in range(na):
        p1, p2 = A[i], A[(i + 1) % na]
        for j in range(nb):
            q1, q2 = B[j], B[(j + 1) % nb]
            d1 = (p2[0] - p1[0], p2[1] - p1[1])
            d2 = (q2[0] - q1[0], q2[1] - q1[1])
            den = d1[0] * d2[1] - d1[1] * d2[0]
            if den == 0:
                continue
            t = ((q1[0] - p1[0]) * d2[1] - (q1[1] - p1[1]) * d2[0]) / den
            u = ((q1[0] - p1[0]) * d1[1] - (q1[1] - p1[1]) * d1[0]) / den
            if 0 <= t <= 1 and 0 <= u <= 1:
                cand.append((p1[0] + t * d1[0], p1[1] + t * d1[1]))
    pts = _hull(cand)
    if len(pts) < 3:
        return 0.0
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    return ring_area2(xs, ys)


def _rand_convex(rng, cx, cy, r, k=8):
    """Random convex lattice polygon: hull of k points on a disc."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    xs = np.round(cx + r * np.cos(ang)).astype(int)
    ys = np.round(cy + r * np.sin(ang)).astype(int)
    return _hull(list(zip(xs.tolist(), ys.tolist())))


# ---------------------------------------------------------------- convex


def test_clip_convex_squares_golden():
    # unit squares offset by half: intersection = 1x1 square area 1
    a = np.array([0, 2, 2, 0]), np.array([0, 0, 2, 2])
    b = np.array([1, 3, 3, 1]), np.array([1, 1, 3, 3])
    ix, iy = clip_convex(a[0], a[1], b[0], b[1])
    assert ring_area2(ix, iy) == 2.0  # doubled area of the 1x1 overlap
    # disjoint
    c = np.array([5, 6, 6, 5]), np.array([5, 5, 6, 6])
    ix, iy = clip_convex(a[0], a[1], c[0], c[1])
    assert len(ix) == 0
    # containment: small inside big
    d = np.array([0, 10, 10, 0]), np.array([0, 0, 10, 10])
    ix, iy = clip_convex(a[0], a[1], d[0], d[1])
    assert ring_area2(ix, iy) == 8.0  # the small square, doubled


def test_clip_convex_nonrect_window():
    """The capability J3 lacks: clip against a NON-rectangular convex
    window (diamond). Square [0,4]^2 ∩ diamond |x-2|+|y-2|<=2 → the
    diamond itself (area 8, doubled 16)."""
    sq = np.array([0, 4, 4, 0]), np.array([0, 0, 4, 4])
    dia = np.array([2, 4, 2, 0]), np.array([0, 2, 4, 2])
    ix, iy = clip_convex(sq[0], sq[1], dia[0], dia[1])
    assert ring_area2(ix, iy) == pytest.approx(16.0)


def test_convex_pair_stats_cases():
    sq = ([0, 2, 2, 0], [0, 0, 2, 2])  # area2 = 8
    # overlap: areas via inclusion-exclusion, 1 ring, 2 crossings
    i2, u2, nr, nx = convex_pair_stats(
        np.array(sq[0]), np.array(sq[1]),
        np.array([1, 3, 3, 1]), np.array([1, 1, 3, 3]),
    )
    assert (i2, u2, nr, nx) == (2.0, 14.0, 1, 2)
    # disjoint: 2 rings, no crossings
    i2, u2, nr, nx = convex_pair_stats(
        np.array(sq[0]), np.array(sq[1]),
        np.array([5, 6, 6, 5]), np.array([5, 5, 6, 6]),
    )
    assert (i2, u2, nr, nx) == (0.0, 10.0, 2, 0)
    # containment: inter == smaller area, 1 ring, no crossings
    i2, u2, nr, nx = convex_pair_stats(
        np.array(sq[0]), np.array(sq[1]),
        np.array([-1, 5, 5, -1]), np.array([-1, -1, 5, 5]),
    )
    assert (i2, u2, nr, nx) == (8.0, 72.0, 1, 0)


def test_convex_pair_matches_candidate_hull():
    """S-H intersection area must agree with the independent
    hull-of-candidates algorithm (what the DuckDB oracle runs) over
    random convex lattice pairs — overlap, containment, disjoint; the
    sweep's proper-crossing count must agree with the reference's."""
    from mvtspark.kernels.polysweep import proper_crossing_count

    rng = np.random.default_rng(11)
    checked = overlapping = 0
    for _ in range(150):
        A = _rand_convex(rng, 0, 0, rng.integers(5, 40))
        B = _rand_convex(
            rng, rng.integers(-30, 30), rng.integers(-30, 30),
            rng.integers(5, 40),
        )
        if len(A) < 3 or len(B) < 3:
            continue
        ax = np.array([p[0] for p in A], float)
        ay = np.array([p[1] for p in A], float)
        bx = np.array([p[0] for p in B], float)
        by = np.array([p[1] for p in B], float)
        i2, u2, nr, nx = convex_pair_stats(ax, ay, bx, by)
        assert proper_crossing_count(ax, ay, bx, by) == nx, (A, B)
        want = _inter_area2_candidates(A, B)
        assert i2 == pytest.approx(want, abs=1e-6), (A, B)
        assert u2 == pytest.approx(
            ring_area2(ax, ay) + ring_area2(bx, by) - i2
        )
        assert -1e-9 <= i2 <= min(ring_area2(ax, ay), ring_area2(bx, by)) + 1e-9
        checked += 1
        overlapping += nr == 1
    assert checked > 100 and 0 < overlapping < checked


def test_convex_pair_union_exact_past_2_26(spark):
    """Near |c| = 2^29 float64 cross products lose exactness (the
    reference S-H clip returns a NEGATIVE intersection area here);
    the sweep-backed operator returns the exact rational as a double."""
    from mvtspark.operators.boolean import convex_pair_union

    A = [(-536870911, -536870911), (536870911, -536870246),
         (44466312, 536870911)]
    B = [(-527043510, -536967041), (-526896205, -536900293),
         (-526987183, -536870903)]
    inter = Fraction(21164314404860640246708104192,
                     1628789971578671954031184975)

    def area2(ring):
        return sum(x0 * y1 - x1 * y0 for (x0, y0), (x1, y1)
                   in zip(ring, ring[1:] + ring[:1]))

    df = spark.createDataFrame(
        [(1, *map(list, zip(*A)), *map(list, zip(*B)))],
        "pair_id long, ax array<long>, ay array<long>, "
        "bx array<long>, by array<long>")
    got = convex_pair_union(df).collect()[0]
    assert got.inter_area2 == float(inter)
    assert got.union_area2 == float(area2(A) + area2(B) - inter)
    assert (got.n_rings, got.n_cross) == (1, 2)


# ------------------------------------------------------------ rectilinear


def test_coverage_grid_matches_bitmap():
    """Compressed coverage counts == brute-force unit-pixel bitmap."""
    rng = np.random.default_rng(5)
    for _ in range(25):
        k = rng.integers(1, 12)
        x0 = rng.integers(0, 30, k)
        y0 = rng.integers(0, 30, k)
        x1 = x0 + rng.integers(1, 12, k)
        y1 = y0 + rng.integers(1, 12, k)
        xs, ys, cnt = _coverage_grid(x0, y0, x1, y1)
        bitmap = np.zeros((45, 45), dtype=int)
        for a, b, c, d in zip(x0, y0, x1, y1):
            bitmap[a:c, b:d] += 1
        cell = np.diff(xs)[:, None] * np.diff(ys)[None, :]
        for thresh in (1, 2):
            assert cell[cnt >= thresh].sum() == (bitmap >= thresh).sum()
        assert cell[cnt == 1].sum() == (bitmap == 1).sum()


def test_rect_union_stats_spark(spark):
    from mvtspark.operators.boolean import rect_union_stats

    rows = [
        (1, 0, 0, 2, 2), (1, 1, 1, 3, 3),   # union 7, overlap 1, xor 6
        (2, 0, 0, 1, 1), (2, 5, 5, 6, 6),   # disjoint: union 2, xor 2
        (3, 0, 0, 4, 4),                     # single: union 16
    ]
    df = spark.createDataFrame(
        rows, "group_id long, x0 int, y0 int, x1 int, y1 int"
    )
    got = {r.group_id: r for r in rect_union_stats(df).collect()}
    assert (got[1].union_area, got[1].overlap_area, got[1].xor_area) == (7, 1, 6)
    assert (got[2].union_area, got[2].overlap_area, got[2].xor_area) == (2, 0, 2)
    assert (got[3].union_area, got[3].n_rects) == (16, 1)


L_XS = [0, 4, 4, 2, 2, 0]
L_YS = [0, 0, 2, 2, 4, 4]


def _brute_offset_area(vx, vy, r, lo=-20, hi=40):
    """Unit-pixel brute force: pixel center within Chebyshev distance r
    of the polygon (inside, or L∞-close to some edge)."""
    vx, vy = np.asarray(vx), np.asarray(vy)
    nx, ny = np.roll(vx, -1), np.roll(vy, -1)
    area = 0
    for i in range(lo, hi):
        for j in range(lo, hi):
            cx, cy = i + 0.5, j + 0.5
            crosses = 0
            for a in range(len(vx)):
                if vx[a] == nx[a]:  # vertical edge
                    y0, y1 = sorted((vy[a], ny[a]))
                    if vx[a] > cx and y0 < cy < y1:
                        crosses += 1
            near = False
            for a in range(len(vx)):
                ex0, ex1 = sorted((vx[a], nx[a]))
                ey0, ey1 = sorted((vy[a], ny[a]))
                dx = max(ex0 - cx, cx - ex1, 0)
                dy = max(ey0 - cy, cy - ey1, 0)
                if max(dx, dy) <= r:
                    near = True
                    break
            area += (crosses % 2 == 1) or near
    return area


def test_offset_rectilinear_l_shape(spark):
    """Square-join offset of the concave L (``square_offset_any``, areas
    doubled): engine == brute-force Chebyshev dilation, including the
    analytic r=1 golden (base 12 + perimeter 16 + corner term 4 = 32)."""
    from mvtspark.operators.boolean import square_offset_any

    rows = [(r, L_XS, L_YS, r) for r in (1, 2, 3)]
    df = spark.createDataFrame(
        rows, "ring_id long, xs array<int>, ys array<int>, radius int")
    got = {r.ring_id: r for r in square_offset_any(df).collect()}
    for r in (1, 2, 3):
        assert got[r].base_area2 == 2 * 12
        want = _brute_offset_area(L_XS, L_YS, r)
        assert got[r].offset_area2 == 2 * want, (r, got[r], want)
    assert got[1].offset_area2 == 2 * 32


def test_offset_rectilinear_random_rectilinear_rings(spark):
    """Random staircase rings (always simple, rectilinear): engine
    offset area == brute-force Chebyshev dilation."""
    from mvtspark.operators.boolean import square_offset_any

    rng = np.random.default_rng(3)
    rows = []
    for rid in range(6):
        # staircase from (0,0) right/up then back — simple by construction
        xs, ys = [0], [0]
        x = 0
        for _ in range(rng.integers(2, 5)):
            x += int(rng.integers(1, 5))
            xs += [x, x]
            ys += [ys[-1], ys[-1] + int(rng.integers(1, 5))]
        xs += [0]
        ys += [ys[-1]]
        rows.append((rid, xs, ys, 2))
    df = spark.createDataFrame(
        rows, "ring_id long, xs array<int>, ys array<int>, radius int")
    got = {r.ring_id: r for r in square_offset_any(df).collect()}
    for rid, xs, ys, _ in rows:
        assert got[rid].offset_area2 == 2 * _brute_offset_area(xs, ys, 2), rid


def test_offset_and_buffer_pass_double_radius_through(spark):
    """A DOUBLE radius reaches the kernel unrounded: 2.0 measures
    exactly as the integer radius 2, while 2.5 raises the kernel's
    integer-coordinate error instead of being truncated to 2."""
    from pyspark.errors import PythonException

    from mvtspark.operators.boolean import polyline_buffer_square, square_offset_any

    def run(radius, rtype):
        rings = spark.createDataFrame(
            [(1, L_XS, L_YS, radius)],
            f"ring_id long, xs array<int>, ys array<int>, radius {rtype}")
        lines = spark.createDataFrame(
            [(1, [0, 8, 8], [0, 0, 6], radius)],
            f"line_id long, xs array<int>, ys array<int>, radius {rtype}")
        return (tuple(square_offset_any(rings).collect()[0]),
                tuple(polyline_buffer_square(lines).collect()[0]))

    assert run(2.0, "double") == run(2, "int")
    for op in (square_offset_any, polyline_buffer_square):
        key = "ring_id" if op is square_offset_any else "line_id"
        df = spark.createDataFrame(
            [(1, L_XS, L_YS, 2.5)],
            f"{key} long, xs array<int>, ys array<int>, radius double")
        with pytest.raises(PythonException, match="must be integers"):
            op(df).collect()


# ------------------------------------------------------------- minkowski


def test_minkowski_sum_three_way():
    """minkowski_sum_convex validated three independent ways on random
    convex lattice pairs: (1) the constructed ring's shoelace area,
    (2) the hull of all pairwise vertex sums (definitional for convex),
    (3) the angular-order identity the SQL oracle replays
    (2·area = 2aA + 2aB + Σ cross(earlier, later) by edge angle) —
    and the sweep-side hull kernel must reproduce it."""
    from mvtspark.kernels.polysweep import convex_minkowski_measures

    rng = np.random.default_rng(4)
    checked = 0
    for _ in range(120):
        A = _rand_convex(rng, 0, 0, rng.integers(4, 30))
        B = _rand_convex(rng, 0, 0, rng.integers(4, 25))
        if len(A) < 3 or len(B) < 3:
            continue
        ax = np.array([p[0] for p in A], float)
        ay = np.array([p[1] for p in A], float)
        bx = np.array([p[0] for p in B], float)
        by = np.array([p[1] for p in B], float)
        vx, vy = minkowski_sum_convex(ax, ay, bx, by)
        got = ring_area2(vx, vy)
        # (2) hull of sums
        H = _hull([
            (int(a0 + b0), int(a1 + b1))
            for a0, a1 in zip(ax, ay) for b0, b1 in zip(bx, by)
        ])
        hx = np.array([p[0] for p in H], float)
        hy = np.array([p[1] for p in H], float)
        assert got == ring_area2(hx, hy), (A, B)
        assert len(vx) == len(H), (A, B)  # fused vertex count matches hull
        assert convex_minkowski_measures(ax, ay, bx, by) == (got, len(vx))
        # (3) angular identity
        eax, eay = np.roll(ax, -1) - ax, np.roll(ay, -1) - ay
        ebx, eby = np.roll(bx, -1) - bx, np.roll(by, -1) - by
        angA = np.mod(np.arctan2(eay, eax), 2 * np.pi)
        angB = np.mod(np.arctan2(eby, ebx), 2 * np.pi)
        cr = eax[:, None] * eby[None, :] - eay[:, None] * ebx[None, :]
        mixed = float(np.where(angA[:, None] < angB[None, :], cr, -cr).sum())
        assert got == ring_area2(ax, ay) + ring_area2(bx, by) + mixed
        checked += 1
    assert checked > 80


def test_minkowski_goldens_and_translation_invariance():
    # unit square ⊕ unit square = 2x2 square (area2 = 8, 4 verts)
    sq = np.array([0, 1, 1, 0], float), np.array([0, 0, 1, 1], float)
    vx, vy = minkowski_sum_convex(*sq, *sq)
    assert ring_area2(vx, vy) == 8.0 and len(vx) == 4
    # square ⊕ diamond: every direction distinct → 8 verts, octagon
    dia = np.array([1, 2, 1, 0], float), np.array([0, 1, 2, 1], float)
    vx, vy = minkowski_sum_convex(*sq, *dia)
    assert len(vx) == 8
    assert ring_area2(vx, vy) == 2.0 + 4.0 + 2 * 4.0  # aA2+aB2+mixed
    # translation moves the ring, not its measures
    vx2, vy2 = minkowski_sum_convex(sq[0] + 10, sq[1] - 3, *dia)
    assert ring_area2(vx2, vy2) == ring_area2(vx, vy)
    assert np.array_equal(vx2 - 10, vx) and np.array_equal(vy2 + 3, vy)

"""Convex miter offset (D17): geometric invariants + error contract."""

import numpy as np
import pytest

from mvtspark.kernels.geom import offset_convex_rings, point_in_polygon


_BASE = np.array(
    [(2, 0), (5, 0), (7, 2), (7, 5), (5, 7), (2, 7), (0, 5), (0, 2)],
    dtype=np.float64,
)


def test_square_offset_exact():
    # CCW unit square offset by 1 → square from (-1,-1) to (2,2)
    xs = np.array([0.0, 1.0, 1.0, 0.0])
    ys = np.array([0.0, 0.0, 1.0, 1.0])
    ox, oy = offset_convex_rings(xs, ys, np.array([0, 4]), 1.0)
    np.testing.assert_allclose(ox, [-1.0, 2.0, 2.0, -1.0])
    np.testing.assert_allclose(oy, [-1.0, -1.0, 2.0, 2.0])


def test_offset_contains_original_and_grows_area():
    xs, ys = _BASE[:, 0] * 100, _BASE[:, 1] * 100
    ox, oy = offset_convex_rings(xs, ys, np.array([0, 8]), 25.0)

    def area2(x, y):
        return np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)

    assert area2(ox, oy) > area2(xs, ys) > 0
    # every original vertex is strictly inside the offset ring (rounded
    # to the integer grid the PIP kernel takes)
    for vx, vy in zip(xs, ys):
        assert point_in_polygon(
            np.array([vx]), np.array([vy]), np.rint(ox), np.rint(oy)
        )[0] == 1


def test_offset_distance_is_d_for_edges():
    """Each offset edge lies exactly d outside its source edge."""
    xs, ys = _BASE[:, 0] * 100, _BASE[:, 1] * 100
    d = 40.0
    ox, oy = offset_convex_rings(xs, ys, np.array([0, 8]), d)
    n = len(xs)
    for i in range(n):
        j = (i + 1) % n
        ex, ey = xs[j] - xs[i], ys[j] - ys[i]
        ll = np.hypot(ex, ey)
        # signed distance of the offset edge's endpoints from source edge
        for k in (i, j):
            dist = (ex * (oy[k] - ys[i]) - ey * (ox[k] - xs[i])) / ll
            assert dist == pytest.approx(-d, rel=1e-9)


def test_batch_of_rings_matches_single():
    xs1, ys1 = _BASE[:, 0] * 100, _BASE[:, 1] * 100
    xs2, ys2 = _BASE[:, 0] * 37 + 500, _BASE[:, 1] * 37 + 900
    fx = np.concatenate([xs1, xs2])
    fy = np.concatenate([ys1, ys2])
    ox, oy = offset_convex_rings(fx, fy, np.array([0, 8, 16]), 12.5)
    sx1, sy1 = offset_convex_rings(xs1, ys1, np.array([0, 8]), 12.5)
    sx2, sy2 = offset_convex_rings(xs2, ys2, np.array([0, 8]), 12.5)
    np.testing.assert_array_equal(ox, np.concatenate([sx1, sx2]))
    np.testing.assert_array_equal(oy, np.concatenate([sy1, sy2]))


def test_nonconvex_and_tiny_rings_raise():
    # CW square (negative orientation) → den < 0
    xs = np.array([0.0, 0.0, 1.0, 1.0])
    ys = np.array([0.0, 1.0, 1.0, 0.0])
    with pytest.raises(ValueError, match="convex"):
        offset_convex_rings(xs, ys, np.array([0, 4]), 1.0)
    with pytest.raises(ValueError, match=">= 3"):
        offset_convex_rings(xs[:2], ys[:2], np.array([0, 2]), 1.0)

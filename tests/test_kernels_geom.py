"""Geometry kernel tests — replicate the reference's golden assertions.

Goldens mirrored from:
- linestring (2,2)->(2,10)->(10,10) at scales 1.0/1.5/2.0
  (src/VectorTiles.Tests/TestMvtInBulk.cs:73-137)
- scaling linearity for scales {1.5, 2.25, 5.75, 197.3} (:142-175)
- clip(0) no-op on in-bounds geoms (:183-209)
- post-clip bounds 0 <= v <= extent (:246-275)
- ring closure + winding (VectorTileFeature.cs:97,130-141)
- PointInPolygon {0,1,-1} (clipper.cs:4025-4077)
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mvtspark.kernels import geom

# MVT spec example: LINESTRING (2,2)->(2,10)->(10,10)
# MoveTo(+2,+2) LineTo(+0,+8)(+8,+0)
LINE_CMDS = np.array([9, 4, 4, 18, 0, 16, 16, 0], dtype=np.uint32)

# MVT spec example polygon: (3,6)(8,12)(20,34) closed
POLY_CMDS = np.array([9, 6, 12, 18, 10, 12, 24, 44, 15], dtype=np.uint32)


def test_decode_linestring_golden():
    xs, ys, off = geom.decode_commands(LINE_CMDS, geom.GEOM_LINESTRING)
    assert off.tolist() == [0, 3]
    assert xs.tolist() == [2, 2, 10]
    assert ys.tolist() == [2, 10, 10]


def test_decode_polygon_ring_closed():
    xs, ys, off = geom.decode_commands(POLY_CMDS, geom.GEOM_POLYGON)
    # explicit closure: first vertex re-appended (DecodeGeometry.cs:76-82)
    assert off.tolist() == [0, 4]
    assert xs.tolist() == [3, 8, 20, 3]
    assert ys.tolist() == [6, 12, 34, 6]


def test_decode_multipoint_parts():
    # MoveTo with count=2: (5,7) and (3,2) — spec multipoint example
    cmds = np.array([17, 10, 14, 3, 9], dtype=np.uint32)
    xs, ys, off = geom.decode_commands(cmds, geom.GEOM_POINT)
    assert xs.tolist() == [5, 3]
    assert ys.tolist() == [7, 2]


def test_decode_multilinestring_cursor_persists():
    # spec multilinestring: (2,2)->(2,10)->(10,10); (1,1)->(3,5)
    cmds = np.array([9, 4, 4, 18, 0, 16, 16, 0, 9, 17, 17, 10, 4, 8], dtype=np.uint32)
    xs, ys, off = geom.decode_commands(cmds, geom.GEOM_LINESTRING)
    assert off.tolist() == [0, 3, 5]
    assert xs.tolist() == [2, 2, 10, 1, 3]
    assert ys.tolist() == [2, 10, 10, 1, 5]


def test_encode_decode_roundtrip():
    for cmds, gt in [
        (LINE_CMDS, geom.GEOM_LINESTRING),
        (POLY_CMDS, geom.GEOM_POLYGON),
        (np.array([17, 10, 14, 3, 9], dtype=np.uint32), geom.GEOM_POINT),
    ]:
        xs, ys, off = geom.decode_commands(cmds, gt)
        enc = geom.encode_commands(xs, ys, off, gt)
        assert enc.tolist() == cmds.tolist(), f"geom_type={gt}"


def test_scaling_linearity():
    """TestMvtInBulk.cs:142-175 — scaled == scale * raw per vertex (float)."""
    xs, ys, _ = geom.decode_commands(LINE_CMDS, geom.GEOM_LINESTRING)
    for scale in (1.5, 2.25, 5.75, 197.3):
        fx = geom.scale_coords(xs, scale, "float")
        assert np.allclose(fx, xs.astype(np.float64) * scale, rtol=1e-6)


def test_scale_bankers_rounding():
    """Convert.ToInt64 = round-half-to-even (DecodeGeometry.cs:121-126)."""
    v = np.array([1, 3, 5], dtype=np.int64)
    out = geom.scale_coords(v, 0.5, "int")  # 0.5, 1.5, 2.5
    assert out.tolist() == [0, 2, 2]  # half-to-even, NOT [1, 2, 3]


def test_signed_area_winding():
    # tile coords, y down: clockwise-on-screen ring (outer) has negative area
    # per the reference convention (inner rings have signedArea >= 0,
    # VectorTileFeature.cs:97)
    outer_x = np.array([0, 10, 10, 0, 0])
    outer_y = np.array([0, 0, 10, 10, 0])
    a = geom.signed_area(outer_x, outer_y)
    inner = geom.signed_area(outer_x[::-1], outer_y[::-1])
    assert a == -inner
    assert abs(a) == 100.0


def test_point_in_polygon_semantics():
    ring_x = np.array([0, 10, 10, 0, 0], dtype=np.int64)
    ring_y = np.array([0, 0, 10, 10, 0], dtype=np.int64)
    px = np.array([5, 15, 0, 10, 5, -1], dtype=np.int64)
    py = np.array([5, 5, 0, 5, 0, -1], dtype=np.int64)
    res = geom.point_in_polygon(px, py, ring_x, ring_y)
    # {0 out, 1 in, -1 boundary} — clipper.cs:4025-4077
    assert res.tolist() == [1, 0, -1, -1, -1, 0]


def test_point_in_concave_polygon():
    # concave "U" shape
    rx = np.array([0, 10, 10, 8, 8, 2, 2, 0, 0], dtype=np.int64)
    ry = np.array([0, 0, 10, 10, 2, 2, 10, 10, 0], dtype=np.int64)
    res = geom.point_in_polygon(
        np.array([5, 5, 1], dtype=np.int64), np.array([5, 1, 5], dtype=np.int64), rx, ry
    )
    assert res.tolist() == [0, 1, 1]  # middle of the U notch is outside


def test_point_in_polygon_degenerate_ring_ignores_batch_neighbours():
    """A closed ring with two distinct vertices contains nothing, not
    even its own segment, whatever rings share the batch: the answer of
    a (point, ring) row must not depend on its batch neighbours."""
    seg_x, seg_y = [0, 10, 0], [0, 0, 0]
    tri_x, tri_y = [0, 10, 0, 0], [0, 0, 10, 0]
    quad_x, quad_y = [0, 10, 10, 0, 0], [0, 0, 10, 10, 0]
    alone = geom.point_in_polygon_multi([5], [0], [0], [0, 3], seg_x, seg_y)
    assert alone.tolist() == [0]
    for ox, oy in ((tri_x, tri_y), (quad_x, quad_y), (seg_x, seg_y)):
        rx = np.r_[ox, seg_x]
        ry = np.r_[oy, seg_y]
        offsets = [0, len(ox), len(ox) + 3]
        got = geom.point_in_polygon_multi([1, 5], [1, 0], [0, 1], offsets, rx, ry)
        assert got[1] == alone[0], (ox, got)


def test_point_in_polygon_enforces_int64_bound():
    """Cross products are int64-exact only while |c| < 2^30: a point or
    a tested ring vertex at the bound raises instead of overflowing."""
    lim = geom.PIP_COORD_LIMIT
    assert lim == 1 << 30
    big = lim - 1
    ring_x = np.array([-big, big, big, -big], dtype=np.int64)
    ring_y = np.array([-big, -big, big, big], dtype=np.int64)
    assert geom.point_in_polygon(
        [0, big, -big], [0, 0, big], ring_x, ring_y).tolist() == [1, -1, -1]
    with pytest.raises(ValueError, match="2\\*\\*30"):
        geom.point_in_polygon([lim], [0], ring_x, ring_y)
    with pytest.raises(ValueError, match="2\\*\\*30"):
        geom.point_in_polygon([0], [-lim], ring_x, ring_y)
    with pytest.raises(ValueError, match="2\\*\\*30"):
        geom.point_in_polygon([0], [0], ring_x * 2, ring_y)


def test_point_in_polygon_rejects_non_integral_coordinates():
    """A float coordinate used to be truncated toward zero: (0.5, 5) read
    as the square's left edge (-1), and the ring (0.9, 0.9) ... (0.9, 10)
    read as (0, 0) ... (0, 10), putting (0, 0) on its boundary. Both
    raise now, as do NaN and infinities; integer-valued floats pass."""
    sq_x, sq_y = [0, 10, 10, 0, 0], [0, 0, 10, 10, 0]
    with pytest.raises(ValueError, match="finite integers"):
        geom.point_in_polygon([0.5], [5], sq_x, sq_y)
    ring_x = np.array([0.9, 10, 10, 0.9])
    ring_y = np.array([0.9, 0.9, 10, 10])
    with pytest.raises(ValueError, match="finite integers"):
        geom.point_in_polygon([0], [0], ring_x, ring_y)
    for bad in (np.nan, np.inf):
        with pytest.raises(ValueError, match="finite integers"):
            geom.point_in_polygon_multi([0], [bad], [0], [0, 5], sq_x, sq_y)
    assert geom.point_in_polygon(
        [5.0, 0.0, 15.0], [5.0, 5.0, 5.0], np.array(sq_x, float), np.array(sq_y, float)
    ).tolist() == [1, -1, 0]


@st.composite
def _ragged_rings(draw):
    """A ring set of mixed sizes (open or closed, possibly degenerate or
    self-intersecting) and points, some on vertices, each naming its ring."""
    coord = st.integers(-20, 20)
    rings = []
    for _ in range(draw(st.integers(1, 6))):
        xs = draw(st.lists(coord, min_size=0, max_size=9))
        ys = draw(st.lists(coord, min_size=len(xs), max_size=len(xs)))
        if xs and draw(st.booleans()):
            xs, ys = xs + xs[:1], ys + ys[:1]
        rings.append((np.array(xs, dtype=np.int64), np.array(ys, dtype=np.int64)))
    pts = draw(st.lists(st.tuples(coord, coord, st.integers(0, len(rings) - 1)),
                        max_size=40))
    return rings, pts


@given(_ragged_rings())
@settings(max_examples=200, deadline=None)
def test_point_in_polygon_multi_matches_reference_ragged(case):
    from pip_reference import point_in_polygon as reference

    rings, pts = case
    offsets = np.r_[0, np.cumsum([r[0].size for r in rings])]
    rxf = np.concatenate([r[0] for r in rings])
    ryf = np.concatenate([r[1] for r in rings])
    # a third of the points sit on a vertex of their ring
    px = np.array([p[0] for p in pts], dtype=np.int64)
    py = np.array([p[1] for p in pts], dtype=np.int64)
    ri = np.array([p[2] for p in pts], dtype=np.int64)
    for i in range(0, len(pts), 3):
        rx, ry = rings[ri[i]]
        if rx.size:
            px[i], py[i] = rx[i % rx.size], ry[i % rx.size]
    got = geom.point_in_polygon_multi(px, py, ri, offsets, rxf, ryf)
    exp = [reference(px[i:i + 1], py[i:i + 1], *rings[ri[i]])[0]
           for i in range(len(pts))]
    assert got.tolist() == [int(e) for e in exp]


def test_clip_points():
    xs = np.array([-5, 0, 2048, 4096, 5000])
    ys = np.array([10, 10, 10, 10, 10])
    cx, cy = geom.clip_points(xs, ys, extent=4096, buffer=0)
    assert cx.tolist() == [0, 2048, 4096]


def test_clip_ring_noop_inbounds():
    """clip(0) is a no-op on in-bounds rings (TestMvtInBulk.cs:183-209)."""
    xs = np.array([10, 100, 100, 10, 10], dtype=np.int64)
    ys = np.array([10, 10, 100, 100, 10], dtype=np.int64)
    cx, cy = geom.clip_ring(xs, ys, extent=4096, buffer=0)
    assert set(zip(cx.tolist(), cy.tolist())) == set(zip(xs.tolist(), ys.tolist()))
    assert cx[0] == cx[-1] and cy[0] == cy[-1]  # stays closed


def test_clip_ring_bounds():
    """post-clip all vertices within [0, extent] (TestMvtInBulk.cs:246-275)."""
    xs = np.array([-100, 5000, 5000, -100, -100], dtype=np.int64)
    ys = np.array([-100, -100, 5000, 5000, -100], dtype=np.int64)
    cx, cy = geom.clip_ring(xs, ys, extent=4096, buffer=0)
    assert cx.size > 0
    assert cx.min() >= 0 and cx.max() <= 4096
    assert cy.min() >= 0 and cy.max() <= 4096


def test_clip_ring_fully_outside():
    xs = np.array([5000, 6000, 6000, 5000, 5000], dtype=np.int64)
    ys = np.array([5000, 5000, 6000, 6000, 5000], dtype=np.int64)
    cx, cy = geom.clip_ring(xs, ys, extent=4096, buffer=0)
    assert cx.size == 0


def test_clip_line():
    xs = np.array([-100, 200], dtype=np.int64)
    ys = np.array([50, 50], dtype=np.int64)
    parts = geom.clip_line(xs, ys, extent=4096, buffer=0)
    assert len(parts) == 1
    px, py = parts[0]
    assert px.tolist() == [0, 200]
    assert py.tolist() == [50, 50]


def test_unknown_command_raises():
    with pytest.raises(geom.GeometryError):
        geom.decode_commands(np.array([3], dtype=np.uint32), geom.GEOM_POINT)

"""MVT geometry kernels, vectorized in numpy.

Re-implements (from the public MVT 2.x spec + reference semantics):

- command-integer split cmd=g&7, count=g>>3
                       (ref: src/Geometry/DecodeGeometry.cs:48-50)
- zigzag-delta cursor decode with MoveTo part splits and explicit
  ClosePath ring closure (first vertex re-appended), and its inverse
  encode — one-feature calls of the batch codec in kernels/mvt_batch.py
                       (ref: src/Geometry/DecodeGeometry.cs:31-91)
- Scale<T> with banker's rounding for integer targets
                       (ref: src/Geometry/DecodeGeometry.cs:101-144 —
                        Convert.ToInt64 = round-half-to-even = np.rint)
- signed polygon area (shoelace)
                       (ref: src/VectorTileReader/VectorTileFeature.cs:130-141,
                        src/Geometry/clipper.cs:4387-4400)
- point-in-polygon with {0 out, 1 in, -1 boundary} crossing-rule
  semantics          (ref: src/Geometry/clipper.cs:4025-4077,
                        Hormann–Agathos)
- axis-aligned rectangle clip: bbox filter for points
  (ref: src/Geometry/Util.cs:42-68), Sutherland–Hodgman for polygons and
  Liang–Barsky segment clip for linestrings — the reference reaches the
  same results through vendored Clipper's ctIntersection against a rect
  (src/Geometry/Util.cs:75-123); a full Vatti engine is unnecessary
  because the clip target is always an axis-aligned rectangle
  (Util.cs:80-83).

Ragged layout: a multipart geometry is (xs, ys, part_offsets) parallel
arrays — part i is xs[off[i]:off[i+1]] — mirroring the reference's
List<List<Point2d>> without per-row Python objects.
"""

from __future__ import annotations

import numpy as np

# ref: src/PbfReader/Constants.cs:25-30
CMD_MOVE_TO = 1
CMD_LINE_TO = 2
CMD_CLOSE_PATH = 7

# ref: src/Geometry/Geometry.cs:25-34
GEOM_UNKNOWN = 0
GEOM_POINT = 1
GEOM_LINESTRING = 2
GEOM_POLYGON = 3


class GeometryError(ValueError):
    pass


def decode_commands(
    commands: np.ndarray, geom_type: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one feature's packed command-integer stream → (xs, ys,
    part_offsets): the one-feature call of
    :func:`mvtspark.kernels.mvt_batch.decode_geometries_batch`, the one
    command-stream decoder.

    Semantics of src/Geometry/DecodeGeometry.cs:31-91: MoveTo starts a
    new part; the cursor (running sum of zigzag deltas) persists across
    parts; ClosePath appends the part's first vertex (rings come back
    explicitly closed, first == last). A stream the batch decoder marks
    as a fault (unknown command, overrun, ClosePath with no open part or
    on an empty part) raises :class:`GeometryError` with its message.
    """
    from .mvt_batch import decode_geometries_batch

    g = np.asarray(commands, dtype=np.uint32)
    xs, ys, offsets, _, faults = decode_geometries_batch(
        g, np.array([0, g.size], dtype=np.int64))
    if faults:
        raise GeometryError(faults[0])
    return xs, ys, offsets


def encode_commands(
    xs: np.ndarray, ys: np.ndarray, offsets: np.ndarray, geom_type: int
) -> np.ndarray:
    """Inverse of :func:`decode_commands` → packed command integers
    (uint32): the one-feature call of
    :func:`mvtspark.kernels.mvt_batch.encode_geometries_batch`.

    Accepts parts in the decoded convention (polygon rings explicitly
    closed, first == last); drops the duplicate closing vertex and emits
    ClosePath, so encode∘decode round-trips byte-exactly.
    """
    from .mvt_batch import encode_geometries_batch

    xs = np.asarray(xs, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    stream, _ = encode_geometries_batch(
        xs, np.asarray(ys, dtype=np.int64),
        np.array([0, xs.size], dtype=np.int64), offsets[:-1],
        np.array([0, offsets.size - 1], dtype=np.int64),
        np.array([geom_type], dtype=np.int64))
    return stream.astype(np.uint32)


def scale_coords(v: np.ndarray, scale: float, target: str = "long") -> np.ndarray:
    """Scale<T> semantics: multiply then convert.

    Integer targets use round-half-to-even (``Convert.ToInt64`` = banker's
    rounding = ``np.rint``). ref: src/Geometry/DecodeGeometry.cs:101-144.
    """
    scaled = np.asarray(v, dtype=np.float64) * float(scale)
    if target == "float":
        return scaled.astype(np.float32)
    if target == "int":
        return np.rint(scaled).astype(np.int32)
    if target == "long":
        if scale == 1.0:
            return np.asarray(v, dtype=np.int64)
        return np.rint(scaled).astype(np.int64)
    raise ValueError(f"unknown target {target}")


def signed_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Shoelace signed area over one ring (closed or open input both fine).

    Matches src/VectorTileReader/VectorTileFeature.cs:130-141: the
    reference sums over consecutive pairs of the *closed* ring
    (x[i]*y[i+1] - x[i+1]*y[i]) / 2 with positive = counter-clockwise in
    tile coords (y down), i.e. inner rings have area >= 0
    (VectorTileFeature.cs:97).
    """
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    if x.size < 3:
        return 0.0
    if x[-1] != x[0] or y[-1] != y[0]:
        x = np.concatenate([x, x[:1]])
        y = np.concatenate([y, y[:1]])
    return float(0.5 * np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


#: exclusive bound on |coordinate| for the PIP kernel: differences stay
#: below 2^31, so every edge cross product fits int64
PIP_COORD_LIMIT = 1 << 30
#: (point, edge) entries per numpy block of the PIP kernel
_PIP_BLOCK = 1 << 18


def pip_coords(a) -> np.ndarray:
    """``a`` as int64 PIP coordinates. An array whose dtype is not an
    integer type must hold finite integers (integer-valued floats pass),
    else ``ValueError``: casting 0.5 or 0.9 to int64 would truncate it
    toward zero and move the point or vertex."""
    a = np.asarray(a)
    if a.dtype.kind not in "iu":
        a = a.astype(np.float64)
        if not (np.isfinite(a) & (a == np.trunc(a))).all():
            raise ValueError("point-in-polygon coordinates must be finite "
                             "integers (integer-valued floats pass)")
    return a.astype(np.int64, copy=False)


def _check_pip_bound(*arrays: np.ndarray) -> None:
    for a in arrays:
        if a.size and (a.min() <= -PIP_COORD_LIMIT or a.max() >= PIP_COORD_LIMIT):
            raise ValueError("point-in-polygon coordinates must satisfy "
                             "|c| < 2**30 (int64 edge cross products)")


def point_in_polygon(
    px: np.ndarray, py: np.ndarray, ring_x: np.ndarray, ring_y: np.ndarray
) -> np.ndarray:
    """Crossing-rule point-in-polygon of MANY points against ONE ring:
    the one-ring call of :func:`point_in_polygon_multi`."""
    return point_in_polygon_multi(
        px, py, np.zeros(np.size(px), dtype=np.int64),
        np.array([0, np.size(ring_x)], dtype=np.int64), ring_x, ring_y,
    )


def point_in_polygon_multi(
    px: np.ndarray,
    py: np.ndarray,
    ring_idx: np.ndarray,
    ring_offsets: np.ndarray,
    ring_x_flat: np.ndarray,
    ring_y_flat: np.ndarray,
) -> np.ndarray:
    """Crossing-rule point-in-polygon where EACH point tests against its
    OWN ring (J4 phase 2 at batch granularity): ``ring_idx[i]`` selects
    ring ``r``'s vertex span ``ring_offsets[r]:ring_offsets[r+1]`` in
    the flat arrays.

    Returns int8: 0 outside, 1 inside, -1 exactly on the boundary — the
    reference's result convention (src/Geometry/clipper.cs:4025-4077,
    Hormann–Agathos), nonzero fill rule. A closing vertex (last == first)
    is dropped; a ring left with fewer than 3 vertices gives 0.

    Each (point, edge of its own ring) pair is one entry; winding number
    and boundary hit are segmented reductions over a point's entries, so
    one pass covers any mix of ring sizes. Exact: coordinates must be
    integers (:func:`pip_coords`; integer-valued floats pass), and every
    point coordinate and every vertex of a tested ring must satisfy
    |c| < 2^30, else ``ValueError``, so the edge cross products fit int64.
    """
    px, py = pip_coords(px), pip_coords(py)
    ring_idx = np.asarray(ring_idx, dtype=np.int64)
    ring_offsets = np.asarray(ring_offsets, dtype=np.int64)
    rxf, ryf = pip_coords(ring_x_flat), pip_coords(ring_y_flat)
    _check_pip_bound(px, py)
    out = np.zeros(px.size, dtype=np.int8)

    # per point: its ring's first vertex and edge count m (closing
    # duplicate dropped; m = 0 for a ring of fewer than 3 vertices)
    start = ring_offsets[ring_idx]
    m = ring_offsets[ring_idx + 1] - start
    two = np.flatnonzero(m >= 2)
    last = start[two] + m[two] - 1
    m[two] -= (rxf[last] == rxf[start[two]]) & (ryf[last] == ryf[start[two]])
    m[m < 3] = 0
    ends = np.cumsum(m)

    p = 0
    while p < px.size:
        # points p..q hold at most _PIP_BLOCK entries (or are one point)
        limit = ends[p] - m[p] + _PIP_BLOCK
        q = max(int(np.searchsorted(ends, limit, "right")), p + 1)
        mb = m[p:q]
        tested = np.flatnonzero(mb)
        if tested.size:
            mt = mb[tested]
            seg = np.cumsum(mt) - mt  # first entry of each tested point
            j = np.arange(seg[-1] + mt[-1]) + np.repeat(start[p:q][tested] - seg, mt)
            x1, y1 = rxf[j], ryf[j]
            _check_pip_bound(x1, y1)
            # edge end = next vertex, wrapping at each ring's last edge
            x2 = np.empty_like(x1)
            y2 = np.empty_like(y1)
            x2[:-1], y2[:-1] = x1[1:], y1[1:]
            wrap = seg + mt - 1
            x2[wrap], y2[wrap] = x1[seg], y1[seg]
            X = np.repeat(px[p:q][tested], mt)
            Y = np.repeat(py[p:q][tested], mt)
            cross = (x2 - x1) * (Y - y1) - (y2 - y1) * (X - x1)
            on_seg = (
                (cross == 0)
                & (np.minimum(x1, x2) <= X) & (X <= np.maximum(x1, x2))
                & (np.minimum(y1, y2) <= Y) & (Y <= np.maximum(y1, y2))
            )
            # an edge crossing the rightward ray: upward with the point on
            # its left adds 1, downward with the point on its right takes 1
            upward = (y1 <= Y) & (y2 > Y) & (cross > 0)
            downward = (y1 > Y) & (y2 <= Y) & (cross < 0)
            winding = np.add.reduceat(upward.astype(np.int64) - downward, seg)
            res = (winding != 0).astype(np.int8)
            res[np.logical_or.reduceat(on_seg, seg)] = -1
            out[p + tested] = res
        p = q
    return out


# ---------------------------------------------------------------------------
# rectangle clipping (ref: src/Geometry/Util.cs:29-157 — clip target is
# always the axis-aligned rect [-buffer, extent+buffer]^2, Util.cs:80-83)
# ---------------------------------------------------------------------------

def clip_points(
    xs: np.ndarray, ys: np.ndarray, extent: int, buffer: int
) -> tuple[np.ndarray, np.ndarray]:
    """Drop points outside [-buf, extent+buf]². ref: Util.cs:42-68."""
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    lo = -buffer
    hi = extent + buffer
    keep = (xs >= lo) & (xs <= hi) & (ys >= lo) & (ys <= hi)
    return xs[keep], ys[keep]


def _clip_ring_halfplane(
    x: np.ndarray, y: np.ndarray, axis: int, bound: int, keep_le: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland–Hodgman against one half-plane (open ring input)."""
    if x.size == 0:
        return x, y
    v = x if axis == 0 else y
    inside = (v <= bound) if keep_le else (v >= bound)
    nx: list[float] = []
    ny: list[float] = []
    n = x.size
    for i in range(n):
        j = (i + 1) % n
        if inside[i]:
            nx.append(x[i])
            ny.append(y[i])
        if inside[i] != inside[j]:
            vi = v[i]
            vj = v[j]
            t = (bound - vi) / (vj - vi)
            nx.append(x[i] + t * (x[j] - x[i]))
            ny.append(y[i] + t * (y[j] - y[i]))
    return np.asarray(nx, dtype=np.float64), np.asarray(ny, dtype=np.float64)


def clip_ring(
    xs: np.ndarray, ys: np.ndarray, extent: int, buffer: int
) -> tuple[np.ndarray, np.ndarray]:
    """Clip one polygon ring to the rect, returning a CLOSED ring
    (first == last, integer coords) or empty arrays.

    Reference path: Clipper ctIntersection vs rect then re-close
    (Util.cs:75-157); an axis-aligned rect clip of a simple ring via
    Sutherland–Hodgman is equivalent for the supported inputs.
    """
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    if x.size >= 2 and x[-1] == x[0] and y[-1] == y[0]:
        x = x[:-1]
        y = y[:-1]
    lo = float(-buffer)
    hi = float(extent + buffer)
    for axis, bound, keep_le in (
        (0, hi, True),
        (0, lo, False),
        (1, hi, True),
        (1, lo, False),
    ):
        x, y = _clip_ring_halfplane(x, y, axis, bound, keep_le)
        if x.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    xi = np.rint(x).astype(np.int64)
    yi = np.rint(y).astype(np.int64)
    # drop consecutive duplicates introduced by rounding
    keep = np.ones(xi.size, dtype=bool)
    keep[1:] = (xi[1:] != xi[:-1]) | (yi[1:] != yi[:-1])
    xi = xi[keep]
    yi = yi[keep]
    if xi.size >= 2 and xi[0] == xi[-1] and yi[0] == yi[-1]:
        xi = xi[:-1]
        yi = yi[:-1]
    if xi.size < 3:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    # re-close (decoded-ring convention, Util.cs:131-147)
    return np.concatenate([xi, xi[:1]]), np.concatenate([yi, yi[:1]])


def clip_line(
    xs: np.ndarray, ys: np.ndarray, extent: int, buffer: int
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Liang–Barsky clip of a polyline to the rect → list of sub-lines."""
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    lo = float(-buffer)
    hi = float(extent + buffer)
    parts: list[tuple[list[float], list[float]]] = []
    cur_x: list[float] = []
    cur_y: list[float] = []
    for i in range(x.size - 1):
        x0, y0, x1, y1 = x[i], y[i], x[i + 1], y[i + 1]
        t0, t1 = 0.0, 1.0
        dx = x1 - x0
        dy = y1 - y0
        ok = True
        for p, q in (
            (-dx, x0 - lo),
            (dx, hi - x0),
            (-dy, y0 - lo),
            (dy, hi - y0),
        ):
            if p == 0:
                if q < 0:
                    ok = False
                    break
                continue
            r = q / p
            if p < 0:
                if r > t1:
                    ok = False
                    break
                t0 = max(t0, r)
            else:
                if r < t0:
                    ok = False
                    break
                t1 = min(t1, r)
        if not ok:
            if cur_x:
                parts.append((cur_x, cur_y))
                cur_x, cur_y = [], []
            continue
        sx, sy = x0 + t0 * dx, y0 + t0 * dy
        ex, ey = x0 + t1 * dx, y0 + t1 * dy
        if not cur_x or cur_x[-1] != sx or cur_y[-1] != sy:
            if cur_x:
                parts.append((cur_x, cur_y))
            cur_x, cur_y = [sx], [sy]
        cur_x.append(ex)
        cur_y.append(ey)
        if t1 < 1.0:
            parts.append((cur_x, cur_y))
            cur_x, cur_y = [], []
    if cur_x:
        parts.append((cur_x, cur_y))
    return [
        (np.rint(np.asarray(a)).astype(np.int64), np.rint(np.asarray(b)).astype(np.int64))
        for a, b in parts
        if len(a) >= 2
    ]


def offset_convex_rings(
    xs: np.ndarray,
    ys: np.ndarray,
    offsets: np.ndarray,
    d: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Miter offset of strictly-convex CCW rings by distance ``d`` (D17
    — the reference vendors clipper's ClipperOffset/Minkowski, dead
    code per SURVEY §2.8; this is the Spark-first restricted-domain
    re-expression: convex rings, miter joins, where the result is pure
    per-vertex arithmetic a SQL oracle can replay bit-for-bit).

    Each output vertex is the intersection of the two adjacent edges'
    offset lines (edge normals point outward for CCW orientation in a
    y-up frame). Whole-batch vectorized over flat ring arrays; raises
    if any corner is non-convex/collinear (den <= 0) — offsetting a
    non-convex ring needs the full polygon-clipping machinery the
    reference itself never invokes.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    ln = np.diff(offsets)
    if (ln < 3).any():
        raise ValueError("rings need >= 3 vertices")
    idx = np.arange(len(xs), dtype=np.int64)
    s = np.repeat(offsets[:-1], ln)
    ll = np.repeat(ln, ln)
    prev = s + (idx - s - 1) % ll
    nxt = s + (idx - s + 1) % ll
    pxv, pyv = xs[prev], ys[prev]
    nxv, nyv = xs[nxt], ys[nxt]
    e1x, e1y = xs - pxv, ys - pyv
    e2x, e2y = nxv - xs, nyv - ys
    l1 = np.sqrt(e1x * e1x + e1y * e1y)
    l2 = np.sqrt(e2x * e2x + e2y * e2y)
    p1x = pxv + d * (e1y / l1)
    p1y = pyv - d * (e1x / l1)
    p2x = xs + d * (e2y / l2)
    p2y = ys - d * (e2x / l2)
    den = e1x * e2y - e1y * e2x
    if (den <= 0).any():
        raise ValueError("rings must be strictly convex CCW")
    t = ((p2x - p1x) * e2y - (p2y - p1y) * e2x) / den
    return p1x + t * e1x, p1y + t * e1y

"""Reference implementation the MVT command-stream codec
(``mvtspark/kernels/mvt_batch.py::decode_geometries_batch`` and
``encode_geometries_batch``, and their one-feature calls
``mvtspark/kernels/geom.py::decode_commands`` / ``encode_commands``) is
cross-checked against: per-feature loops over command headers and parts.

They walk one stream header by header in Python, with no chain
enumeration, segmented cursor carry or repeat-offset gather, so
agreement checks the batch layout rather than one implementation
against itself. Two documented differences, where the batch answer is
the production one: a stream with no vertex at all (``[1]`` =
MoveTo(0)) decodes here to part offsets ``[0]`` (batch: ``[0, 0]``),
and a point feature with no vertex encodes here to ``[1]`` (batch:
``[]``).
"""

from __future__ import annotations

import numpy as np

from mvtspark.kernels.geom import (
    CMD_CLOSE_PATH, CMD_LINE_TO, CMD_MOVE_TO, GEOM_POINT, GEOM_POLYGON,
    GeometryError,
)
from mvtspark.kernels.pbf import zigzag_decode, zigzag_encode


def decode_commands(
    commands: np.ndarray, geom_type: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a packed command-integer stream → (xs, ys, part_offsets).

    Semantics replicated exactly from src/Geometry/DecodeGeometry.cs:31-91:
    - MoveTo starts a new part (for count>1 point-multipoints, each MoveTo
      pair is its own part only when a part is already open — the reference
      flushes the open part on every MoveTo command *integer*, then appends
      `count` cursor positions to one part; DecodeGeometry.cs:52-66);
    - the cursor (running sum of zigzag deltas) persists across parts;
    - ClosePath appends the part's first vertex (rings come back explicitly
      closed, first == last; DecodeGeometry.cs:76-82), so a ClosePath with
      no open part, or on a part with no vertex, raises GeometryError.

    The per-header loop is over command *headers* (a handful per feature);
    all parameter decoding (zigzag + cumsum) is vectorized.
    """
    g = np.asarray(commands, dtype=np.uint32)
    n = g.size
    # First pass over headers: locate parameter spans and part boundaries.
    headers: list[tuple[int, int, int]] = []  # (cmd, count, param_start)
    p = 0
    total_params = 0
    open_verts = -1  # vertices of the open part; -1: no part is open
    close_fault = None  # the first ClosePath fault, raised after the walk
    while p < n:
        ci = int(g[p])
        cmd = ci & 0x7
        count = ci >> 3
        p += 1
        if cmd in (CMD_MOVE_TO, CMD_LINE_TO):
            headers.append((cmd, count, p))
            p += 2 * count
            total_params += count
            open_verts = count + max(open_verts, 0) if cmd == CMD_LINE_TO else count
        elif cmd == CMD_CLOSE_PATH:
            headers.append((cmd, count, p))
            if open_verts <= 0 and close_fault is None:
                close_fault = ("ClosePath with no open part" if open_verts < 0
                               else "ClosePath on an empty part")
            open_verts = -1
        else:
            raise GeometryError(f"unknown command {cmd}")  # DecodeGeometry.cs:84-87
    if p != n:
        raise GeometryError("command stream overruns buffer")
    if close_fault is not None:
        raise GeometryError(close_fault)

    if total_params == 0:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64),
            np.zeros(1, dtype=np.int64),
        )

    # Vectorized cursor decode of ALL MoveTo/LineTo params in stream order.
    dx = np.empty(total_params, dtype=np.int64)
    dy = np.empty(total_params, dtype=np.int64)
    w = 0
    for cmd, count, ps in headers:
        if cmd == CMD_CLOSE_PATH:
            continue
        params = g[ps : ps + 2 * count].astype(np.int64)
        dx[w : w + count] = zigzag_decode(params[0::2])
        dy[w : w + count] = zigzag_decode(params[1::2])
        w += count
    xs_all = np.cumsum(dx)
    ys_all = np.cumsum(dy)

    # Second pass: assemble parts (MoveTo flushes the open part; ClosePath
    # re-appends the part's first vertex).
    part_slices: list[tuple[int, int]] = []  # (start, end) into xs_all
    closed: list[bool] = []
    cur_start = -1
    w = 0
    for cmd, count, _ in headers:
        if cmd == CMD_MOVE_TO:
            if cur_start >= 0:
                part_slices.append((cur_start, w))
                closed.append(False)
            cur_start = w
            w += count
        elif cmd == CMD_LINE_TO:
            if cur_start < 0:
                cur_start = w
            w += count
        else:  # ClosePath (the first pass checked that a part is open)
            part_slices.append((cur_start, w))
            closed.append(True)
            cur_start = -1
    if cur_start >= 0:
        part_slices.append((cur_start, w))
        closed.append(False)

    sizes = np.array(
        [(e - s) + (1 if c else 0) for (s, e), c in zip(part_slices, closed)],
        dtype=np.int64,
    )
    offsets = np.zeros(sizes.size + 1, dtype=np.int64)
    np.cumsum(sizes, out=offsets[1:])
    xs = np.empty(int(offsets[-1]), dtype=np.int64)
    ys = np.empty(int(offsets[-1]), dtype=np.int64)
    for i, ((s, e), c) in enumerate(zip(part_slices, closed)):
        o = offsets[i]
        m = e - s
        xs[o : o + m] = xs_all[s:e]
        ys[o : o + m] = ys_all[s:e]
        if c:  # explicit ring closure — DecodeGeometry.cs:76-82
            xs[o + m] = xs_all[s]
            ys[o + m] = ys_all[s]
    return xs, ys, offsets


def encode_commands(
    xs: np.ndarray, ys: np.ndarray, offsets: np.ndarray, geom_type: int
) -> np.ndarray:
    """Inverse of :func:`decode_commands` → packed command integers (uint32).

    Accepts parts in the decoded convention (polygon rings explicitly
    closed, first == last); drops the duplicate closing vertex and emits
    ClosePath, so encode∘decode round-trips byte-exactly.
    """
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    nparts = offsets.size - 1
    out: list[np.ndarray] = []
    cx = 0
    cy = 0
    if geom_type == GEOM_POINT:
        # single MoveTo header with count = total points
        px = xs
        py = ys
        dx = np.diff(np.concatenate(([cx], px)))
        dy = np.diff(np.concatenate(([cy], py)))
        params = np.empty(2 * px.size, dtype=np.int64)
        params[0::2] = zigzag_encode(dx)
        params[1::2] = zigzag_encode(dy)
        header = np.array([(px.size << 3) | CMD_MOVE_TO], dtype=np.uint32)
        return np.concatenate([header, params.astype(np.uint32)])

    for i in range(nparts):
        s, e = int(offsets[i]), int(offsets[i + 1])
        px = xs[s:e]
        py = ys[s:e]
        is_ring = geom_type == GEOM_POLYGON
        if is_ring:
            if e - s < 2 or px[-1] != px[0] or py[-1] != py[0]:
                raise GeometryError("polygon ring must be explicitly closed")
            px = px[:-1]
            py = py[:-1]
        m = px.size
        if m == 0:
            continue
        dx = np.diff(np.concatenate(([cx], px)))
        dy = np.diff(np.concatenate(([cy], py)))
        zx = zigzag_encode(dx)
        zy = zigzag_encode(dy)
        move = np.array(
            [(1 << 3) | CMD_MOVE_TO, zx[0], zy[0]], dtype=np.uint32
        )
        seq = [move]
        if m > 1:
            rest = np.empty(2 * (m - 1), dtype=np.int64)
            rest[0::2] = zx[1:]
            rest[1::2] = zy[1:]
            seq.append(
                np.concatenate(
                    [
                        np.array([((m - 1) << 3) | CMD_LINE_TO], dtype=np.uint32),
                        rest.astype(np.uint32),
                    ]
                )
            )
        if is_ring:
            seq.append(np.array([(1 << 3) | CMD_CLOSE_PATH], dtype=np.uint32))
        out.extend(seq)
        cx, cy = int(px[-1]), int(py[-1])
    if not out:
        return np.empty(0, dtype=np.uint32)
    return np.concatenate(out)

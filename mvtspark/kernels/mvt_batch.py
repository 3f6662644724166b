"""Batch-vectorized MVT codec: encode/decode MANY features (spanning many
tiles) per call, so numpy amortizes across the whole Arrow batch instead
of paying per-feature overhead.

Byte-compatible with the per-tile kernel in kernels/mvt.py + kernels/geom.py
(tests assert byte parity); semantics are the reference's
(src/Geometry/DecodeGeometry.cs:31-91 command streams,
src/VectorTileReader/VectorTileReader.cs:148-375 message layout).

Design: every variable-length assembly is done with the
"repeat-offset gather" trick — for S segments with target starts t[s],
source starts p[s], lengths L[s]:
    idx = arange(sum(L)) + repeat(p - t, L)
    out = src[idx]
which concatenates S segments in one vectorized gather (no per-segment
Python). Varints are encoded/decoded for the WHOLE batch in single
calls to kernels.pbf.encode_varint_stream / decode_varint_stream.
"""

from __future__ import annotations

import numpy as np

from . import mvt as mk
from . import pbf
from .geom import (
    CMD_CLOSE_PATH, CMD_LINE_TO, CMD_MOVE_TO,
    GEOM_POINT, GEOM_POLYGON, GeometryError,
)
from .pbf import (
    read_key, read_varint, skip, varint_lengths, zigzag_decode, zigzag_encode,
)


def _gather_concat(src: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate src[starts[i]:starts[i]+lens[i]] segments, vectorized."""
    lens = np.asarray(lens, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return src[:0]
    tgt = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=tgt[1:])
    idx = np.arange(total, dtype=np.int64) + np.repeat(starts - tgt, lens)
    return src[idx]


def _scatter_concat(
    out: np.ndarray, tgt_starts: np.ndarray, src: np.ndarray,
    src_starts: np.ndarray, lens: np.ndarray,
) -> None:
    """out[tgt_starts[i]:+lens[i]] = src[src_starts[i]:+lens[i]], vectorized."""
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return
    tgt = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=tgt[1:])
    base = np.arange(total, dtype=np.int64)
    out[base + np.repeat(tgt_starts - tgt, lens)] = src[
        base + np.repeat(src_starts - tgt, lens)
    ]


def _reduceat_sums(vals: np.ndarray, bounds: np.ndarray) -> np.ndarray:
    """Sum vals over [bounds[i], bounds[i+1]) — empty spans give 0."""
    n = bounds.size - 1
    out = np.zeros(n, dtype=np.int64)
    nonempty = bounds[:-1] < bounds[1:]
    if vals.size and nonempty.any():
        sums = np.add.reduceat(vals, bounds[:-1][nonempty])
        out[nonempty] = sums
    return out


# ---------------------------------------------------------------------------
# batch geometry encode: ragged features → one command-int stream
# ---------------------------------------------------------------------------

def encode_geometries_batch(
    xs: np.ndarray,            # int64, all vertices concatenated
    ys: np.ndarray,
    vert_off: np.ndarray,      # int64 (nfeat+1) — feature vertex spans
    part_off: np.ndarray,      # int64, global vertex idx of each part start
    feat_part_off: np.ndarray, # int64 (nfeat+1) — feature part spans
    geom_type: np.ndarray,     # int64 per feature
) -> tuple[np.ndarray, np.ndarray]:
    """→ (command stream uint64 for the whole batch, per-feature int spans
    (nfeat+1)). Mirrors kernels.geom.encode_commands exactly (points: one
    multipoint MoveTo; polygons: closed rings in → ClosePath out)."""
    nfeat = vert_off.size - 1
    if nfeat == 0:
        return np.empty(0, np.uint64), np.zeros(1, np.int64)

    # ---- emission units: one per feature for points, one per part else
    is_pt_feat = geom_type == GEOM_POINT
    parts_per_feat = np.diff(feat_part_off)
    n_units_per_feat = np.where(is_pt_feat, 1, parts_per_feat)
    unit_feat = np.repeat(np.arange(nfeat), n_units_per_feat)
    n_units = unit_feat.size
    unit_off_in_feat = np.arange(n_units) - np.repeat(
        np.concatenate(([0], np.cumsum(n_units_per_feat)))[:-1], n_units_per_feat
    )
    # unit vertex spans
    u_start = np.where(
        is_pt_feat[unit_feat],
        vert_off[unit_feat],
        # part start: part_off[feat_part_off[f] + k]
        part_off[
            np.minimum(
                feat_part_off[unit_feat] + unit_off_in_feat, feat_part_off[-1] - 0
            ).clip(0, part_off.size - 1)
        ] if part_off.size else vert_off[unit_feat],
    )
    part_idx = feat_part_off[unit_feat] + unit_off_in_feat
    if part_off.size:
        next_bound = np.where(
            part_idx + 1 < feat_part_off[unit_feat + 1],
            part_off[np.minimum(part_idx + 1, part_off.size - 1)],
            vert_off[unit_feat + 1],
        )
    else:
        next_bound = vert_off[unit_feat + 1]
    u_end = np.where(is_pt_feat[unit_feat], vert_off[unit_feat + 1], next_bound)

    u_gtype = geom_type[unit_feat]
    is_poly = u_gtype == GEOM_POLYGON
    # polygons: validate closure, drop duplicate closing vertex
    if is_poly.any():
        ps, pe = u_start[is_poly], u_end[is_poly]
        if (pe - ps < 2).any():
            raise GeometryError("polygon ring must be explicitly closed")
        if (xs[pe - 1] != xs[ps]).any() or (ys[pe - 1] != ys[ps]).any():
            raise GeometryError("polygon ring must be explicitly closed")
    m = (u_end - u_start) - is_poly.astype(np.int64)  # effective vertex count
    keep_unit = m > 0
    u_start, u_end, m = u_start[keep_unit], u_end[keep_unit], m[keep_unit]
    unit_feat = unit_feat[keep_unit]
    u_gtype, is_poly = u_gtype[keep_unit], is_poly[keep_unit]
    is_pt = u_gtype == GEOM_POINT
    n_units = unit_feat.size

    # ---- kept vertices (in emission order) + per-feature cursor deltas
    vx = _gather_concat(xs, u_start, m)
    vy = _gather_concat(ys, u_start, m)
    nv = vx.size
    v_unit = np.repeat(np.arange(n_units), m)
    v_feat = unit_feat[v_unit]
    dx = np.diff(vx, prepend=0)
    dy = np.diff(vy, prepend=0)
    feat_first = np.ones(nv, dtype=bool)
    feat_first[1:] = v_feat[1:] != v_feat[:-1]
    dx[feat_first] = vx[feat_first]
    dy[feat_first] = vy[feat_first]
    zx = zigzag_encode(dx).astype(np.uint64)
    zy = zigzag_encode(dy).astype(np.uint64)

    # ---- command-int layout per unit
    # point unit:      [MoveTo(m)] + 2m params                 → 1 + 2m
    # line/poly unit:  [MoveTo(1), p, p] + (m>1: [LineTo(m-1)] + 2(m-1)) + (poly: [Close])
    multi = (~is_pt) & (m > 1)
    unit_len = np.where(
        is_pt, 1 + 2 * m, 3 + np.where(multi, 1 + 2 * (m - 1), 0) + is_poly
    )
    u_base = np.zeros(n_units + 1, dtype=np.int64)
    np.cumsum(unit_len, out=u_base[1:])
    total_ints = int(u_base[-1])
    stream = np.zeros(total_ints, dtype=np.uint64)

    # headers
    mv_count = np.where(is_pt, m, 1)
    stream[u_base[:-1]] = ((mv_count.astype(np.uint64)) << np.uint64(3)) | np.uint64(
        CMD_MOVE_TO
    )
    if multi.any():
        stream[u_base[:-1][multi] + 3] = (
            (m[multi] - 1).astype(np.uint64) << np.uint64(3)
        ) | np.uint64(CMD_LINE_TO)
    if is_poly.any():
        stream[u_base[1:][is_poly] - 1] = np.uint64((1 << 3) | CMD_CLOSE_PATH)

    # params: vertex ordinal k within unit
    v_unit_start = np.zeros(n_units, dtype=np.int64)
    np.cumsum(m[:-1], out=v_unit_start[1:])
    k = np.arange(nv, dtype=np.int64) - v_unit_start[v_unit]
    px_pos = u_base[:-1][v_unit] + 1 + 2 * k + ((k >= 1) & ~is_pt[v_unit])
    stream[px_pos] = zx
    stream[px_pos + 1] = zy

    # per-feature int spans (units are feature-contiguous)
    feat_ints = np.zeros(nfeat, dtype=np.int64)
    np.add.at(feat_ints, unit_feat, unit_len)
    feat_span = np.zeros(nfeat + 1, dtype=np.int64)
    np.cumsum(feat_ints, out=feat_span[1:])
    return stream, feat_span


# ---------------------------------------------------------------------------
# batch feature-message assembly
# ---------------------------------------------------------------------------

F_FEATURES_KEY = 0x12  # (2<<3)|WT_BYTES — layer.features
F_ID_KEY = 0x08        # (1<<3)|WT_VARINT
F_TAGS_KEY = 0x12      # (2<<3)|WT_BYTES
F_TYPE_KEY = 0x18      # (3<<3)|WT_VARINT
F_GEOM_KEY = 0x22      # (4<<3)|WT_BYTES


def encode_features_batch(
    feature_id: np.ndarray,    # int64
    geom_type: np.ndarray,     # int64
    tags_flat: np.ndarray,     # uint64, concatenated tag index pairs
    tag_off: np.ndarray,       # int64 (nfeat+1)
    xs: np.ndarray, ys: np.ndarray, vert_off: np.ndarray,
    part_off: np.ndarray, feat_part_off: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Encode nfeat features → (one uint8 buffer of concatenated
    layer-level `features` fields (key+len+message each), per-feature
    byte spans (nfeat+1)). Byte-identical to mvt.encode_feature wrapped
    in pbf.ld_field(2, ...)."""
    nfeat = feature_id.size
    if nfeat == 0:
        return np.empty(0, np.uint8), np.zeros(1, np.int64)

    geom_stream, geom_span = encode_geometries_batch(
        xs, ys, vert_off, part_off, feat_part_off, geom_type
    )
    geom_bytes = np.frombuffer(pbf.encode_varint_stream(geom_stream), dtype=np.uint8)
    geom_vlens = varint_lengths(geom_stream)
    geom_blen = _reduceat_sums(geom_vlens, geom_span)
    geom_bstart = np.zeros(nfeat, dtype=np.int64)
    np.cumsum(geom_blen[:-1], out=geom_bstart[1:])

    tags_bytes = np.frombuffer(
        pbf.encode_varint_stream(tags_flat.astype(np.uint64)), dtype=np.uint8
    )
    tags_vlens = varint_lengths(tags_flat.astype(np.uint64))
    tags_blen = _reduceat_sums(tags_vlens, tag_off)
    tags_bstart = np.zeros(nfeat, dtype=np.int64)
    np.cumsum(tags_blen[:-1], out=tags_bstart[1:])

    has_id = feature_id != 0          # mvt.encode_feature emits id only if truthy
    has_tags = np.diff(tag_off) > 0
    fid_u = feature_id.astype(np.uint64)
    id_len = varint_lengths(fid_u)
    gt_u = geom_type.astype(np.uint64)
    geom_len_vl = varint_lengths(geom_blen.astype(np.uint64))
    tags_len_vl = varint_lengths(tags_blen.astype(np.uint64))

    # feature message length (inside the LD field)
    msg_len = (
        has_id * (1 + id_len)
        + has_tags * (1 + tags_len_vl + tags_blen)
        + (1 + 1)                       # type key + 1-byte varint (1..3)
        + 1 + geom_len_vl + geom_blen   # geometry key + len + payload
    )
    msg_len_vl = varint_lengths(msg_len.astype(np.uint64))
    field_len = 1 + msg_len_vl + msg_len  # features key + len + message

    # ---- varint groups: g1 = [0x12, msg_len, (0x08, id)?, (0x12, tags_len)?]
    #                     g2 = [0x18, gtype, 0x22, geom_len]
    # emitted per feature as: g1 | tags_payload | g2 | geom_payload
    g1_count = 2 + has_id * 2 + has_tags * 2
    g2_count = np.full(nfeat, 4, dtype=np.int64)
    # build the interleaved varint VALUE stream: per feature g1 then g2
    slots = np.zeros((nfeat, 10), dtype=np.uint64)
    used = np.zeros((nfeat, 10), dtype=bool)
    col = np.zeros(nfeat, dtype=np.int64)

    def _put(mask, vals):
        nonlocal col
        rows = np.flatnonzero(mask) if mask is not True else np.arange(nfeat)
        c = col[rows]
        slots[rows, c] = vals
        used[rows, c] = True
        col[rows] = c + 1

    _put(True, np.full(nfeat, F_FEATURES_KEY, dtype=np.uint64))
    _put(True, msg_len.astype(np.uint64))
    _put(has_id, np.full(int(has_id.sum()), F_ID_KEY, dtype=np.uint64))
    _put(has_id, fid_u[has_id])
    _put(has_tags, np.full(int(has_tags.sum()), F_TAGS_KEY, dtype=np.uint64))
    _put(has_tags, tags_blen[has_tags].astype(np.uint64))
    _put(True, np.full(nfeat, F_TYPE_KEY, dtype=np.uint64))
    _put(True, gt_u)
    _put(True, np.full(nfeat, F_GEOM_KEY, dtype=np.uint64))
    _put(True, geom_blen.astype(np.uint64))

    vstream = slots[used]  # row-major → per-feature g1+g2 contiguous
    v_bytes = np.frombuffer(pbf.encode_varint_stream(vstream), dtype=np.uint8)
    v_lens = varint_lengths(vstream)
    # byte spans of g1 and g2 per feature within v_bytes
    counts = np.stack([g1_count, g2_count], axis=1).reshape(-1)  # g1,g2 per feat
    bounds = np.zeros(counts.size + 1, dtype=np.int64)
    np.cumsum(counts, out=bounds[1:])
    grp_blen = _reduceat_sums(v_lens, bounds)
    grp_bstart = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(grp_blen[:-1], out=grp_bstart[1:])
    g1_bstart, g2_bstart = grp_bstart[0::2], grp_bstart[1::2]
    g1_blen, g2_blen = grp_blen[0::2], grp_blen[1::2]

    # ---- final gather: src = v_bytes | tags_bytes | geom_bytes
    src = np.concatenate([v_bytes, tags_bytes, geom_bytes])
    tb = v_bytes.size
    gb = tb + tags_bytes.size
    seg_starts = np.stack(
        [g1_bstart, tags_bstart + tb, g2_bstart, geom_bstart + gb], axis=1
    ).reshape(-1)
    seg_lens = np.stack(
        [g1_blen, np.where(has_tags, tags_blen, 0), g2_blen, geom_blen], axis=1
    ).reshape(-1)
    out = _gather_concat(src, seg_starts, seg_lens)

    feat_bspan = np.zeros(nfeat + 1, dtype=np.int64)
    np.cumsum(field_len, out=feat_bspan[1:])
    if int(feat_bspan[-1]) != out.size:
        raise GeometryError("feature assembly length mismatch")
    return out, feat_bspan


# ---------------------------------------------------------------------------
# batch decode
# ---------------------------------------------------------------------------

def decode_geometries_batch(
    geom_streams: np.ndarray,  # uint64, all command ints concatenated
    feat_span: np.ndarray,     # int64 (nfeat+1) spans into geom_streams
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, dict[int, str]]:
    """Decode command streams for nfeat features at once.

    Returns (xs, ys, part_off_global, feat_part_off, faults) in the
    closed-ring convention of kernels.geom.decode_commands. ``faults``
    maps each feature whose stream decode_commands would reject to its
    message; such a feature decodes to no parts, so the caller can drop
    its tile instead of losing the whole batch.
    """
    nfeat = feat_span.size - 1
    g = geom_streams
    faults: dict[int, str] = {}
    # --- per-feature header walk (cheap: few headers per feature)
    unit_feat: list[int] = []
    unit_cmd: list[int] = []
    unit_count: list[int] = []
    unit_pstart: list[int] = []
    for f in range(nfeat):
        p, end = int(feat_span[f]), int(feat_span[f + 1])
        while p < end:
            ci = int(g[p])
            cmd = ci & 0x7
            count = ci >> 3
            p += 1
            if cmd == CMD_MOVE_TO or cmd == CMD_LINE_TO:
                unit_feat.append(f)
                unit_cmd.append(cmd)
                unit_count.append(count)
                unit_pstart.append(p)
                p += 2 * count
            elif cmd == CMD_CLOSE_PATH:
                unit_feat.append(f)
                unit_cmd.append(cmd)
                unit_count.append(0)
                unit_pstart.append(p)
            else:
                faults[f] = f"unknown command {cmd}"
                break
        else:
            if p != end:
                faults[f] = "command stream overruns buffer"
    uf = np.asarray(unit_feat, dtype=np.int64)
    uc = np.asarray(unit_cmd, dtype=np.int64)
    un = np.asarray(unit_count, dtype=np.int64)
    ups = np.asarray(unit_pstart, dtype=np.int64)
    # a ClosePath opening its feature or following another ClosePath has
    # no open part (MoveTo and LineTo both open one)
    close = uc == CMD_CLOSE_PATH
    orphan = close.copy()
    orphan[1:] &= close[:-1] | (uf[1:] != uf[:-1])
    for f in uf[orphan].tolist():
        faults.setdefault(f, "ClosePath with no open part")
    if faults:
        ok = ~np.isin(uf, np.fromiter(faults, dtype=np.int64, count=len(faults)))
        uf, uc, un, ups = uf[ok], uc[ok], un[ok], ups[ok]
    n_units = uf.size

    # --- extract + decode all params (vectorized)
    isv = uc != CMD_CLOSE_PATH
    pv_units = np.flatnonzero(isv)
    pcounts = un[pv_units]
    params = _gather_concat(g, ups[pv_units], 2 * pcounts).astype(np.int64)
    dx = zigzag_decode(params[0::2])
    dy = zigzag_decode(params[1::2])
    nv = dx.size
    v_feat = np.repeat(uf[pv_units], pcounts)
    # per-feature cumsum (reset at feature starts)
    cx = np.cumsum(dx)
    cy = np.cumsum(dy)
    first = np.ones(nv, dtype=bool)
    first[1:] = v_feat[1:] != v_feat[:-1]
    base_idx = np.flatnonzero(first)
    carry_x = np.zeros(nv, dtype=np.int64)
    carry_y = np.zeros(nv, dtype=np.int64)
    run = np.repeat(np.arange(base_idx.size), np.diff(np.append(base_idx, nv)))
    prev = base_idx - 1
    carry_x = np.where(prev[run] >= 0, cx[np.maximum(prev[run], 0)], 0)
    carry_y = np.where(prev[run] >= 0, cy[np.maximum(prev[run], 0)], 0)
    xs_all = cx - carry_x
    ys_all = cy - carry_y

    # --- parts assembly (mirror decode_commands): MoveTo flushes open part;
    # ClosePath closes it with an appended first vertex.
    # vertex start offset per value-unit
    vu_start = np.zeros(pv_units.size, dtype=np.int64)
    np.cumsum(pcounts[:-1], out=vu_start[1:])
    vstart_of_unit = np.full(n_units, -1, dtype=np.int64)
    vstart_of_unit[pv_units] = vu_start
    # walk units per feature (Python over units — a few per feature)
    part_start: list[int] = []
    part_end: list[int] = []
    part_closed: list[bool] = []
    part_feat: list[int] = []
    cur = -1
    cur_feat = -1
    w = 0
    for i in range(n_units):
        f = int(uf[i])
        if f != cur_feat:
            if cur >= 0:
                part_start.append(cur); part_end.append(w)
                part_closed.append(False); part_feat.append(cur_feat)
                cur = -1
            cur_feat = f
        c = int(uc[i])
        if c == CMD_MOVE_TO:
            if cur >= 0:
                part_start.append(cur); part_end.append(w)
                part_closed.append(False); part_feat.append(f)
            cur = w
            w += int(un[i])
        elif c == CMD_LINE_TO:
            if cur < 0:
                cur = w
            w += int(un[i])
        else:  # ClosePath (orphans were dropped above)
            part_start.append(cur); part_end.append(w)
            part_closed.append(True); part_feat.append(f)
            cur = -1
    if cur >= 0:
        part_start.append(cur); part_end.append(w)
        part_closed.append(False); part_feat.append(cur_feat)

    ps = np.asarray(part_start, dtype=np.int64)
    pe = np.asarray(part_end, dtype=np.int64)
    pc = np.asarray(part_closed, dtype=bool)
    pf = np.asarray(part_feat, dtype=np.int64)
    sizes = (pe - ps) + pc.astype(np.int64)
    out_off = np.zeros(ps.size + 1, dtype=np.int64)
    np.cumsum(sizes, out=out_off[1:])
    total = int(out_off[-1])
    xs = np.empty(total, dtype=np.int64)
    ys = np.empty(total, dtype=np.int64)
    _scatter_concat(xs, out_off[:-1], xs_all, ps, pe - ps)
    _scatter_concat(ys, out_off[:-1], ys_all, ps, pe - ps)
    if pc.any():
        close_pos = out_off[1:][pc] - 1
        xs[close_pos] = xs_all[ps[pc]]
        ys[close_pos] = ys_all[ps[pc]]

    # feat_part_off (parts are feature-contiguous, in order)
    parts_per_feat = np.zeros(nfeat, dtype=np.int64)
    np.add.at(parts_per_feat, pf, 1)
    feat_part_off = np.zeros(nfeat + 1, dtype=np.int64)
    np.cumsum(parts_per_feat, out=feat_part_off[1:])
    return xs, ys, out_off, feat_part_off, faults


# ---------------------------------------------------------------------------
# whole-batch tile encode/decode (the Spark-facing entry points)
# ---------------------------------------------------------------------------

def encode_tile_rows_flat(
    tile_bounds: np.ndarray,
    feature_id: np.ndarray,
    geom_type: np.ndarray,
    xs: np.ndarray,            # flat int64 vertices (all features)
    ys: np.ndarray,
    vert_off: np.ndarray,      # int64 (nfeat+1) vertex spans
    po_flat: np.ndarray,       # flat LOCAL part offsets incl. trailing end
    po_off: np.ndarray,        # int64 (nfeat+1) spans into po_flat
    props_json: list,          # per-feature JSON string or None
    layer_name: str,
    extents: np.ndarray,       # int64 per tile
    version: int = 2,
    props_typed: list | None = None,  # per-feature list of tagged-union
    # structs {k, tag, s, f, d, i, u, si, b}; overrides props_json and
    # preserves Float/Double/UInt/SInt/Bool type identity that a JSON
    # round-trip cannot (SURVEY §1.3; VectorTileReader.cs:166-214)
) -> list[bytes]:
    """Encode features (sorted + grouped by tile via tile_bounds) into one
    MVT blob per tile, fed directly from ListArray value/offset buffers.
    Geometry/varint/assembly is batch-vectorized across ALL tiles (the
    global part-offset table too); only dictionary building (props) is
    per-feature Python. Byte-identical to mvt.encode_tile over the same
    layers (asserted in tests)."""
    import json as _json

    nfeat = feature_id.size
    pc = np.diff(po_off)
    pcounts = np.maximum(pc - 1, 0)
    feat_part_off = np.zeros(nfeat + 1, dtype=np.int64)
    np.cumsum(pcounts, out=feat_part_off[1:])
    if nfeat:
        total = int(po_off[-1])
        within = np.arange(total, dtype=np.int64) - np.repeat(po_off[:-1], pc)
        keep = within < np.repeat(pc, pc) - 1  # drop each trailing end
        part_off = (
            po_flat.astype(np.int64) + np.repeat(vert_off[:-1], pc)
        )[keep]
    else:
        part_off = np.empty(0, np.int64)
    xs = xs.astype(np.int64, copy=False)
    ys = ys.astype(np.int64, copy=False)
    ntiles = tile_bounds.size - 1

    # --- per-tile dictionaries + per-feature tags (Python, cheap dict ops)
    tags_parts: list[list[int]] = []
    tile_keys: list[list[str]] = []
    tile_values: list[list[tuple[int, object]]] = []
    for t in range(ntiles):
        kidx: dict[str, int] = {}
        vidx: dict[tuple, int] = {}
        keys: list[str] = []
        values: list[tuple[int, object]] = []
        for i in range(int(tile_bounds[t]), int(tile_bounds[t + 1])):
            tags: list[int] = []
            if props_typed is not None:
                for e in props_typed[i] if props_typed[i] is not None else ():
                    k = e["k"]
                    ki = kidx.get(k)
                    if ki is None:
                        ki = kidx[k] = len(keys)
                        keys.append(k)
                    tag = int(e["tag"])
                    v = e.get(TAG_FIELD.get(tag, "s"))
                    tv = (tag, bool(v) if tag == mk.V_BOOL else v)
                    vi = vidx.get(tv)
                    if vi is None:
                        vi = vidx[tv] = len(values)
                        values.append(tv)
                    tags += (ki, vi)
                tags_parts.append(tags)
                continue
            pj = props_json[i]
            if pj:
                for k, v in _json.loads(pj).items():
                    ki = kidx.get(k)
                    if ki is None:
                        ki = kidx[k] = len(keys)
                        keys.append(k)
                    if isinstance(v, bool):
                        tv = (mk.V_BOOL, v)
                    elif isinstance(v, int):
                        tv = (mk.V_INT, v)
                    elif isinstance(v, float):
                        tv = (mk.V_DOUBLE, v)
                    else:
                        tv = (mk.V_STRING, str(v))
                    vi = vidx.get(tv)
                    if vi is None:
                        vi = vidx[tv] = len(values)
                        values.append(tv)
                    tags += (ki, vi)
            tags_parts.append(tags)
        tile_keys.append(keys)
        tile_values.append(values)
    tcounts = np.fromiter((len(t) for t in tags_parts), dtype=np.int64, count=nfeat)
    tag_off = np.zeros(nfeat + 1, dtype=np.int64)
    np.cumsum(tcounts, out=tag_off[1:])
    tags_flat = (
        np.fromiter(
            (v for ts in tags_parts for v in ts), dtype=np.uint64, count=int(tag_off[-1])
        )
        if int(tag_off[-1])
        else np.empty(0, np.uint64)
    )

    # --- batch feature-message encode
    feat_buf, feat_bspan = encode_features_batch(
        feature_id.astype(np.int64), geom_type.astype(np.int64),
        tags_flat, tag_off, xs, ys, vert_off, part_off, feat_part_off,
    )
    feat_bytes = feat_buf.tobytes()

    # --- per-tile layer + tile wrap (cheap Python per tile; varints
    # inlined — ld_field/_encode_value per value dominated the profile)
    name_b = layer_name.encode("utf-8")
    ev = pbf.encode_varint
    V_STRING = mk.V_STRING
    blobs: list[bytes] = []
    for t in range(ntiles):
        s = int(feat_bspan[int(tile_bounds[t])])
        e = int(feat_bspan[int(tile_bounds[t + 1])])
        out = bytearray()
        out += b"\x78" + ev(version)  # version key (15<<3|0)
        nl = len(name_b)
        out += (b"\x0a" + bytes([nl]) if nl < 128 else b"\x0a" + ev(nl))
        out += name_b
        out += feat_bytes[s:e]
        for k in tile_keys[t]:
            kb = k.encode("utf-8")
            kl = len(kb)
            out += (b"\x1a" + bytes([kl]) if kl < 128 else b"\x1a" + ev(kl)) + kb
        for tt, vv in tile_values[t]:
            if tt == V_STRING:  # hot path: string value message inline
                vb = str(vv).encode("utf-8")
                vl = len(vb)
                msg = (b"\x0a" + bytes([vl]) if vl < 128 else b"\x0a" + ev(vl)) + vb
            else:
                msg = mk._encode_value(tt, vv)
            ml = len(msg)
            out += (b"\x22" + bytes([ml]) if ml < 128 else b"\x22" + ev(ml)) + msg
        ext = int(extents[t])
        if ext != mk.DEFAULT_EXTENT:
            out += b"\x28" + ev(ext)
        blobs.append(bytes(b"\x1a" + ev(len(out)) + bytes(out)))
    return blobs


def _vec_varint_at(
    buf: np.ndarray, pos: np.ndarray, active: np.ndarray, limit: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized base-128 varint read at per-row byte positions.

    Returns (values u64, new positions, error mask). Rows outside
    ``active`` are untouched. Errors: read past ``limit`` or >10 bytes
    (PbfReader.cs:56-75's bound)."""
    n = pos.size
    val = np.zeros(n, dtype=np.uint64)
    p = pos.copy()
    shift = np.zeros(n, dtype=np.uint64)
    cont = active.copy()
    err = np.zeros(n, dtype=bool)
    for _ in range(10):
        if not cont.any():
            break
        over = cont & (p >= limit)
        err |= over
        cont &= ~over
        idx = np.flatnonzero(cont)
        if idx.size == 0:
            break
        b = buf[p[idx]].astype(np.uint64)
        val[idx] |= (b & np.uint64(0x7F)) << shift[idx]
        p[idx] += 1
        shift[idx] += np.uint64(7)
        cont[idx] = (b & np.uint64(0x80)) != 0
    err |= cont  # still continuing after 10 bytes
    return val, p, err


_MAX_FEATURE_FIELDS = 64  # parser round cap; real features have <= ~6 fields


def _parse_feature_headers(
    allbuf: np.ndarray, fstart: np.ndarray, fend: np.ndarray, strict: bool
) -> tuple[dict, np.ndarray]:
    """Vectorized walk of ALL feature messages at once (the per-feature
    Python loop dominated decode profiles at ~22us/feature; this replaces
    it with ~(#fields) masked numpy rounds over the whole batch).

    Returns ({fid u64, gt i64, tstart, tend, gstart, gend, rstart, rend},
    err bool): spans are absolute offsets into ``allbuf`` (tags, geometry,
    raster; ``rstart`` is -1 where the feature has no tag-5 raster field);
    rows with ``err`` must invalidate their whole tile (same semantics as
    the per-tile exception in the scalar path). ``strict`` also errs on
    what the per-tile reader would read differently: a field tag outside
    0 < tag < 19000, or a known field with the wrong wire type."""
    n = fstart.size
    fid = np.zeros(n, dtype=np.uint64)
    gt = np.zeros(n, dtype=np.int64)
    tstart = np.zeros(n, dtype=np.int64)
    tend = np.zeros(n, dtype=np.int64)
    gstart = np.zeros(n, dtype=np.int64)
    gend = np.zeros(n, dtype=np.int64)
    rstart = np.full(n, -1, dtype=np.int64)
    rend = np.full(n, -1, dtype=np.int64)
    err = np.zeros(n, dtype=bool)
    p = fstart.astype(np.int64).copy()
    end = fend.astype(np.int64)
    active = p < end
    for _ in range(_MAX_FEATURE_FIELDS):
        if not active.any():
            break
        key, p2, e = _vec_varint_at(allbuf, p, active, end)
        tag = (key >> np.uint64(3)).astype(np.int64)
        wt = (key & np.uint64(7)).astype(np.int64)
        if strict:
            e |= active & (
                (tag == 0) | (tag >= pbf.MAX_TAG)
                | (((tag == 1) | (tag == 3)) & (wt != 0))
                | (((tag == 2) | (tag == 4)) & (wt != 2))
            )
        err |= e
        active &= ~e

        newp = p2.copy()
        # wire type 0: varint payload (F_ID tag 1, F_TYPE tag 3, unknowns)
        isv = active & (wt == 0)
        if isv.any():
            val, p3, e = _vec_varint_at(allbuf, p2, isv, end)
            err |= e
            m = isv & (tag == 1)
            fid[m] = val[m]
            m = isv & (tag == 3)
            gt[m] = val[m].astype(np.int64)
            newp[isv] = p3[isv]
        # wire type 2: length-delimited (F_TAGS 2, F_GEOMETRY 4, F_RASTER 5)
        isl = active & (wt == 2)
        if isl.any():
            sl, p4, e2 = _vec_varint_at(allbuf, p2, isl, end)
            err |= e2
            # a crafted length >= 2^63 would go NEGATIVE after the int64
            # cast, making ld_end < p4 evade the `newp > end` check and
            # index from the end of allbuf — invalidate just that tile
            err |= isl & (sl > np.uint64(allbuf.size))
            isl &= ~err
            ld_end = p4 + sl.astype(np.int64)
            for t, s0, s1 in ((2, tstart, tend), (4, gstart, gend), (5, rstart, rend)):
                m = isl & (tag == t)
                s0[m] = p4[m]
                s1[m] = ld_end[m]
            newp[isl] = ld_end[isl]
        # fixed-width unknowns
        isf32 = active & (wt == 5)
        newp[isf32] = p2[isf32] + 4
        isf64 = active & (wt == 1)
        newp[isf64] = p2[isf64] + 8
        # unsupported wire types (3, 4, 6, 7) — same as pbf.skip raising
        err |= active & ~np.isin(wt, (0, 1, 2, 5))
        err |= active & (newp > end)
        p = newp
        active = active & ~err & (p < end)
    err |= active  # field-count cap exceeded
    h = dict(fid=fid, gt=gt, tstart=tstart, tend=tend, gstart=gstart,
             gend=gend, rstart=rstart, rend=rend)
    return h, err


#: value-union tag → struct field name (SURVEY §1.3 typed property union;
#: ref 7-way switch: VectorTileReader.cs:166-214)
TAG_FIELD = {1: "s", 2: "f", 3: "d", 4: "i", 5: "u", 6: "si", 7: "b"}


def typed_value_struct(tag: int, v: object) -> dict:
    """One dictionary VALUE as the tagged 7-way union struct — every
    member None except the one selected by ``tag`` (lossless type
    identity that a JSON props string cannot carry)."""
    e = {"tag": tag, "s": None, "f": None, "d": None,
         "i": None, "u": None, "si": None, "b": None}
    e[TAG_FIELD.get(tag, "s")] = v
    return e


def _peek_layer_name(buf: memoryview) -> str:
    """Name-only partial parse of one layer message (ref lazy index:
    VectorTileReader.cs:53-100): every non-name field is skipped by
    pointer arithmetic, no string/value decoding."""
    p = 0
    while p < len(buf):
        t2, w2, p = read_key(buf, p)
        if t2 == mk.L_NAME:
            sl, p = read_varint(buf, p)
            return bytes(buf[p : p + sl]).decode("utf-8")
        p = skip(buf, p, w2)
    return ""


def layers_index(blobs: list) -> tuple[list, list, list, dict]:
    """Lazy per-tile layer index (SURVEY §3.1 ``layers_index``; ref
    VectorTileReader.cs:53-100): for each tile, layer names and feature
    COUNTS from a partial parse — feature bodies, dictionaries, geometry
    and props are never decoded. Returns (tile_idx, names,
    feature_counts, err_tiles)."""
    t_out: list[int] = []
    n_out: list[str] = []
    c_out: list[int] = []
    errs: dict[int, str] = {}
    for ti, blob in enumerate(blobs):
        try:
            seen: set[str] = set()
            # staged: an error on a later layer must not leave earlier
            # index rows for a tile that also gets an error row
            tt: list[str] = []
            tc: list[int] = []
            for _, buf in mk.iter_layers(bytes(blob), False):
                name = ""
                nfeat = 0
                p = 0
                while p < len(buf):
                    t2, w2, p = read_key(buf, p)
                    if t2 == mk.L_NAME:
                        sl, p = read_varint(buf, p)
                        name = bytes(buf[p : p + sl]).decode("utf-8")
                        p += sl
                    elif t2 == mk.L_FEATURES:
                        sl, p = read_varint(buf, p)
                        nfeat += 1
                        p += sl
                    else:
                        p = skip(buf, p, w2)
                if name in seen:
                    raise mk.MvtError(f"duplicate layer name {name}")
                seen.add(name)
                tt.append(name)
                tc.append(nfeat)
            t_out.extend([ti] * len(tt))
            n_out.extend(tt)
            c_out.extend(tc)
        except Exception as e:
            errs[ti] = str(e)
    return t_out, n_out, c_out, errs


def _flag(faults: dict[int, str], mask: np.ndarray, msg: str) -> dict[int, str]:
    """Record ``msg`` for every feature in ``mask`` that has no fault yet."""
    for f in np.flatnonzero(mask).tolist():
        faults.setdefault(f, msg)
    return faults


def _drop_tiles(
    h: dict, faults: dict[int, str], err_tiles: dict[int, str],
    keep: np.ndarray | None = None,
) -> tuple[dict, np.ndarray]:
    """Error-row every tile holding a faulty feature (``faults``: feature
    index → message; a tile keeps its first message) and drop all of those
    tiles' features from the per-feature arrays ``h``, so one bad feature
    poisons only its own tile; also returns the keep mask applied.
    ``keep`` drops further features silently."""
    tile = h["tile"]
    for f, msg in faults.items():
        err_tiles.setdefault(int(tile[f]), msg)
    bad = np.isin(tile, tile[np.fromiter(faults, dtype=np.int64, count=len(faults))])
    keep = ~bad if keep is None else keep & ~bad
    return {k: v[keep] for k, v in h.items()}, keep


def _keep_spans(
    vals: np.ndarray, span: np.ndarray, keep: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """The values and (n+1) spans of the features ``keep`` selects."""
    counts = np.diff(span)
    new = np.zeros(int(keep.sum()) + 1, dtype=np.int64)
    np.cumsum(counts[keep], out=new[1:])
    return vals[np.repeat(keep, counts)], new


def _batch_varints(
    allbuf: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray, dict[int, str]]:
    """Decode every feature's packed varint field allbuf[starts:ends] in
    one call → (values u64, per-feature value spans (n+1), faults). A
    field the per-tile reader rejects (pbf.decode_varint_stream: it does
    not end on a varint terminator, or holds a varint over 10 bytes) is a
    fault and decodes as empty, so it can neither fail the batch nor run
    into the next feature's first value."""
    lens = ends - starts
    last = allbuf[np.maximum(ends - 1, 0)]
    faults = _flag({}, (lens > 0) & (last >= 0x80), "truncated varint at end of stream")
    lens[list(faults)] = 0
    seg = _gather_concat(allbuf, starts, lens)
    try:
        vals = pbf.decode_varint_stream(seg)
    except pbf.PbfError:  # a varint over 10 bytes: find its fields
        for f in np.flatnonzero(lens).tolist():
            try:
                pbf.decode_varint_stream(allbuf[starts[f]: starts[f] + lens[f]])
            except pbf.PbfError as e:
                faults[f] = str(e)
                lens[f] = 0
        seg = _gather_concat(allbuf, starts, lens)
        vals = pbf.decode_varint_stream(seg)
    nvals = _reduceat_sums(
        ((seg & 0x80) == 0).astype(np.int64), np.concatenate(([0], np.cumsum(lens)))
    )
    span = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(nvals, out=span[1:])
    return vals, span, faults


def decode_tile_rows(
    blobs: list,
    layer_filter: frozenset | set | None = None,
    validate: bool = False,
    typed_props: bool = False,
    raster: bool = False,
    flat: bool = True,
) -> tuple:
    """Decode a batch of tile blobs → flat per-feature columns, the shape
    ``pyarrow.ListArray.from_arrays`` wants:

    (tile_idx i64, layer_names, extents, feature_ids i64, geom_types,
    xs_flat, ys_flat, vert_off (nfeat+1), parts_flat i32, parts_cnt
    (per-feature), props_list, [props_t], [raster], err_tiles)

    ``props_t`` (only with ``typed_props=True``) holds per-feature
    ``list[dict]`` rows of the tagged union struct (k, tag, s, f, d, i, u,
    si, b), preserving Float/Double/UInt/SInt/Bool type identity
    (VectorTileReader.cs:166-214); ``raster`` (only with ``raster=True``)
    the Feature.Raster (tag 5) payload bytes or None. ``err_tiles`` is
    {tile_idx: error} for the tiles that yield no features: a bad tile
    never fails the batch.

    ``layer_filter`` keeps only the named layers; lenient mode skips the
    others after a name-only peek. ``validate=True`` adds the reference's
    strict checks (VectorTileReader.cs:58-64, 224-252, 331-372) on every
    layer, selected or not, and names each rejected tile by the exception
    of the per-tile oracle ``mvt.decode_tile(blob, validate=True)``.

    Tile/layer structure walk is per-tile Python (few iterations);
    feature headers, varint streams and geometry are batch-vectorized
    across ALL features of ALL tiles in the batch."""
    if not flat:
        # the keyword stays only because perfbench/ passes flat=True;
        # the flat layout is the only one
        raise ValueError("decode_tile_rows: only flat=True is supported")
    err_tiles: dict[int, str] = {}
    cols = _decode_flat(blobs, layer_filter, validate, typed_props, raster, err_tiles)
    if validate:
        # rejections are rare: name each by the per-tile oracle. A tile the
        # oracle reads (a geometry command fault — it leaves command
        # streams packed) keeps the batch's message.
        for ti in err_tiles:
            try:
                mk.decode_tile(bytes(blobs[ti]), validate=True)
            except Exception as e:
                err_tiles[ti] = str(e)
    return cols + (err_tiles,)


def _decode_flat(
    blobs: list, layer_filter, validate: bool, typed_props: bool,
    raster: bool, err_tiles: dict[int, str],
) -> tuple:
    """decode_tile_rows without its error naming; fills ``err_tiles``."""
    import json as _json
    from itertools import chain

    # strict mode checks every layer, so it walks them all
    peek = None if layer_filter is None or validate else frozenset(layer_filter)
    layers: list = []
    lay_tile: list[int] = []
    lay_base: list[int] = []  # layer start in the batch buffer
    lay_fs: list[list[tuple[int, int]]] = []  # feature spans in the layer
    bufs: list[np.ndarray] = []
    base = 0
    for ti, blob in enumerate(blobs):
        # staged: a fault on a later layer must leave no layer of this tile
        walked: list = []  # (mk.Layer, start in the tile, feature spans)
        seen: set[str] = set()
        try:
            data = bytes(blob)
            for lstart, lbuf in mk.iter_layers(data, validate):
                # lazy layer skip (ref layers_index name-only scan,
                # VectorTileReader.cs:53-100): for unselected layers the
                # dictionaries, feature headers, varint streams, geometry
                # and props are never touched
                if peek is None or (name := _peek_layer_name(lbuf)) in peek:
                    layer, spans = mk.read_layer(lbuf, validate)
                    name = layer.name
                    walked.append((layer, lstart, spans))
                if name in seen:
                    raise mk.MvtError(f"duplicate layer name {name}")
                seen.add(name)
        except Exception as e:  # lenient: tile-level error row
            err_tiles[ti] = str(e)
            continue
        for layer, lstart, spans in walked:
            layers.append(layer)
            lay_tile.append(ti)
            lay_base.append(base + lstart)
            lay_fs.append(spans)
        bufs.append(np.frombuffer(data, dtype=np.uint8))
        base += len(data)

    nlayers = len(layers)
    counts = np.fromiter((len(f) for f in lay_fs), dtype=np.int64, count=nlayers)
    nfeat = int(counts.sum())
    allbuf = np.concatenate(bufs) if bufs else np.empty(0, np.uint8)
    feat_layer = np.repeat(np.arange(nlayers, dtype=np.int64), counts)
    spans = np.fromiter(
        chain.from_iterable(chain.from_iterable(lay_fs)), dtype=np.int64,
        count=2 * nfeat,
    ).reshape(nfeat, 2) + np.asarray(lay_base, dtype=np.int64)[feat_layer, None]

    h, herr = _parse_feature_headers(allbuf, spans[:, 0], spans[:, 1], validate)
    h["layer"] = feat_layer
    h["tile"] = np.asarray(lay_tile, dtype=np.int64)[feat_layer]
    faults = _flag({}, herr, "malformed feature message")
    if validate:  # ref: VectorTileReader.cs:331-340
        _flag(faults, h["gt"] == 0, "feature has no geometry type")
        _flag(faults, h["gend"] == h["gstart"], "feature has no geometry")
    if faults:
        h, _ = _drop_tiles(h, faults, err_tiles)

    # --- tag streams of every walked layer (strict checks them all)
    tag_vals, tag_span, faults = _batch_varints(allbuf, h["tstart"], h["tend"])
    tcounts = np.diff(tag_span)
    if validate:  # ref: VectorTileReader.cs:341-344
        _flag(faults, tcounts % 2 == 1, "uneven number of feature tags")
    if tag_vals.size:
        # a tag index past its layer's dictionary would crash props
        # assembly with an IndexError: poison only its tile
        # (strict: VectorTileReader.cs:345-371)
        nk = np.fromiter((len(l.keys) for l in layers), dtype=np.int64, count=nlayers)
        nv = np.fromiter((len(l.values) for l in layers), dtype=np.int64, count=nlayers)
        tfeat = np.repeat(np.arange(tcounts.size, dtype=np.int64), tcounts)
        toff = np.arange(tag_vals.size, dtype=np.int64) - tag_span[tfeat]
        tl = h["layer"][tfeat]
        lim = np.where(toff % 2 == 0, nk[tl], nv[tl]).astype(np.uint64)
        bad = np.zeros(tcounts.size, dtype=bool)
        bad[tfeat[tag_vals >= lim]] = True
        _flag(faults, bad, "tag index out of range")
    keep = None
    if validate and layer_filter is not None:  # drop the unselected layers
        keep = np.fromiter(
            (l.name in layer_filter for l in layers), dtype=bool, count=nlayers
        )[h["layer"]]
    if faults or keep is not None:
        h, keep = _drop_tiles(h, faults, err_tiles, keep)
        tag_vals, tag_span = _keep_spans(tag_vals, tag_span, keep)

    # --- geometry of the selected layers
    def _geometry(h: dict) -> tuple[tuple, dict[int, str]]:
        vals, span, faults = _batch_varints(allbuf, h["gstart"], h["gend"])
        *geo, cfaults = decode_geometries_batch(vals, span)
        faults.update(cfaults)
        return geo, faults

    (xs, ys, part_off_g, feat_part_off), faults = _geometry(h)
    if faults:  # rare: drop those tiles and decode the rest again
        h, keep = _drop_tiles(h, faults, err_tiles)
        tag_vals, tag_span = _keep_spans(tag_vals, tag_span, keep)
        (xs, ys, part_off_g, feat_part_off), _ = _geometry(h)
    part_off_g32 = part_off_g.astype(np.int32)
    nfeat = h["tile"].size
    feat_layer = h["layer"].tolist()

    # per-layer pre-encoded JSON fragments: one dumps per dictionary
    # entry instead of one dict-dumps per FEATURE (shared dictionaries
    # amortize across all their features)
    key_frags = [[_json.dumps(k) for k in l.keys] for l in layers]
    val_frags = [[_json.dumps(v, default=str) for _, v in l.values] for l in layers]
    # typed union: one struct template per dictionary VALUE, shared
    # across all features that reference it (then per-pair dict merge)
    val_structs = (
        [[typed_value_struct(t, v) for t, v in l.values] for l in layers]
        if typed_props else None
    )
    lnames = [layers[l].name for l in feat_layer]
    exts = [layers[l].extent for l in feat_layer]

    props_list: list = []
    props_t_list: list = []
    tag_pairs = tag_vals.astype(np.int64)
    for f in range(nfeat):
        lid = feat_layer[f]
        kf = key_frags[lid]
        vf = val_frags[lid]
        t0, t1 = int(tag_span[f]), int(tag_span[f + 1])
        npairs = (t1 - t0) // 2
        if npairs == 1:
            props_list.append(
                "{%s: %s}" % (kf[tag_pairs[t0]], vf[tag_pairs[t0 + 1]])
            )
        elif npairs > 1:
            frag: dict = {}
            for j in range(t0, t1 - 1, 2):
                frag[int(tag_pairs[j])] = int(tag_pairs[j + 1])
            props_list.append(
                "{" + ", ".join(f"{kf[k]}: {vf[v]}" for k, v in frag.items()) + "}"
            )
        else:
            props_list.append("{}")
        if typed_props:
            ks = layers[lid].keys
            vt = val_structs[lid]
            props_t_list.append([
                {"k": ks[int(tag_pairs[j])], **vt[int(tag_pairs[j + 1])]}
                for j in range(t0, t1 - 1, 2)
            ])

    # per-feature vertex spans: contiguous and ordered by feature, so the
    # offsets vector is a single gather
    vert_off = part_off_g[feat_part_off]
    pd_diff = np.diff(feat_part_off)
    sizes = np.where(pd_diff > 0, pd_diff + 1, 1)
    pb = np.zeros(nfeat + 1, dtype=np.int64)
    np.cumsum(sizes, out=pb[1:])
    within = np.arange(int(pb[-1]), dtype=np.int64) - np.repeat(pb[:-1], sizes)
    src = np.repeat(feat_part_off[:-1], sizes) + within
    parts_flat = part_off_g32[src] - np.repeat(part_off_g32[feat_part_off[:-1]], sizes)
    out = (
        h["tile"], lnames, exts, h["fid"].view(np.int64), h["gt"], xs, ys,
        vert_off, parts_flat, sizes, props_list,
    )
    if typed_props:
        out += (props_t_list,)
    if raster:
        out += ([
            allbuf[s:e].tobytes() if s >= 0 else None
            for s, e in zip(h["rstart"].tolist(), h["rend"].tolist())
        ],)
    return out

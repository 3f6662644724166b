"""Batch-vectorized MVT codec: decode and encode every tile of an Arrow
batch in one call, so numpy and Arrow compute amortize across the whole
batch instead of paying per tile, layer or feature.

Byte-compatible with the per-tile oracle in kernels/mvt.py (tests
assert parity); semantics are the reference's
(src/Geometry/DecodeGeometry.cs:31-91 command streams,
src/VectorTileReader/VectorTileReader.cs:148-375 message layout).
:func:`decode_geometries_batch` and :func:`encode_geometries_batch` are
the one command-stream codec: kernels/geom.py's decode_commands and
encode_commands are their one-feature calls, and the per-feature loops
they replaced are the test-side reference in tests/geom_reference.py.

Design:

- The batch is one byte buffer plus tile offsets: a BinaryArray's own
  buffers, or a list of blobs joined once.
- One protobuf field walker (:class:`_Wire`) reads the messages of every
  level — tile, layer, feature and dictionary value. It steps all
  messages of a level together for a few fields, then finishes the long
  ones by pointer doubling over their remaining bytes (:func:`_chain`),
  so its numpy call count grows with log(fields of the longest
  message), not with the fields themselves. Geometry command streams
  are walked by the same chain enumerator.
- Variable-length assembly uses the "repeat-offset gather" trick — for
  S segments with target starts t[s], source starts p[s], lengths L[s]:
      idx = arange(sum(L)) + repeat(p - t, L);  out = src[idx]
  which concatenates S segments in one vectorized gather. Varints are
  encoded/decoded for the WHOLE batch in single calls to
  kernels.pbf.encode_varint_stream / decode_varint_stream.
- String columns (layer names, props JSON, props_t, raster) are built by
  Arrow compute from per-dictionary-entry arrays. Python runs once per
  distinct dictionary key or value of the batch (JSON fragments, value
  messages), once per distinct props string on encode, and once per
  fault.
"""

from __future__ import annotations

import json
import math
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import mvt as mk
from . import pbf
from .geom import (
    CMD_CLOSE_PATH, CMD_LINE_TO, CMD_MOVE_TO,
    GEOM_POINT, GEOM_POLYGON, GeometryError,
)
from .pbf import varint_lengths, zigzag_decode, zigzag_encode

INT32_MAX = 2**31 - 1

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
    (nfeat+1)). Points: one multipoint MoveTo (none for a point with no
    vertex); polygons: closed rings in → ClosePath out; the cursor
    carries across a feature's parts. The one encoder:
    kernels.geom.encode_commands is its one-feature call.

    Input contract (ValueError otherwise): xs and ys hold exactly the
    vertices the feature spans cover, and each feature's part starts are
    monotone inside its own vertex span."""
    nfeat = vert_off.size - 1
    if nfeat == 0:
        return np.empty(0, np.uint64), np.zeros(1, np.int64)
    if not xs.size == ys.size == vert_off[-1]:
        raise ValueError(
            f"{xs.size} xs and {ys.size} ys for {vert_off[-1]} feature vertices")
    part_feat = np.repeat(np.arange(nfeat), np.diff(feat_part_off))
    if (part_feat.size != part_off.size
            or (part_off < vert_off[part_feat]).any()
            or (part_off > vert_off[part_feat + 1]).any()
            or (np.diff(part_off)[np.diff(part_feat) == 0] < 0).any()):
        raise ValueError("part offsets must be monotone inside each "
                         "feature's vertex span")

    # ---- emission units, feature-contiguous: one per point feature (all
    # its vertices), one per part else; a part ends where the next one
    # starts, a feature's last part at the feature's vertex end
    is_pt_feat = geom_type == GEOM_POINT
    parts_per_feat = np.diff(feat_part_off)
    part_end = np.roll(part_off, -1)
    has = parts_per_feat > 0
    part_end[feat_part_off[1:][has] - 1] = vert_off[1:][has]
    n_units_per_feat = np.where(is_pt_feat, 1, parts_per_feat)
    unit_feat = np.repeat(np.arange(nfeat), n_units_per_feat)
    pt = is_pt_feat[unit_feat]
    first_unit = np.cumsum(n_units_per_feat) - n_units_per_feat
    pidx = np.where(pt, part_off.size, feat_part_off[unit_feat]
                    + np.arange(unit_feat.size) - first_unit[unit_feat])
    u_start = np.where(pt, vert_off[unit_feat], np.append(part_off, 0)[pidx])
    u_end = np.where(pt, vert_off[unit_feat + 1], np.append(part_end, 0)[pidx])

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
    feat_first = _firsts(v_feat)
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
# chain enumeration (protobuf fields, geometry commands)
# ---------------------------------------------------------------------------

_ROUNDS = 8        # chain steps always taken one at a time
_WIDE = 16         # ... and then while this many chains are still running
_CHUNK = 1 << 18   # positions per step() call while doubling
_END = 1 << 62     # a "next position" past the end of every chain


def _chain(starts: np.ndarray, ends: np.ndarray, step, parse=None):
    """The nodes s, step(s), step(step(s)), ... of every span [s, e) that
    lie before e → (per-span node offsets (n+1), node positions ordered by
    span then position, and with ``parse`` its records of them).
    ``step(pos, end)`` gives each node's successor, or any value >= end
    to end the chain there; spans must not overlap. ``parse(pos, end)``,
    if given, returns a dict of per-node arrays with the exact successor
    as ``nxt``; the first _ROUNDS steps use it directly.

    All chains are stepped together while at least _WIDE of them are
    still running, so each round of numpy calls advances many chains;
    the few long ones left are finished by pointer doubling over their
    remaining positions (:func:`_double`), whose numpy call count grows
    with log(chain length). No loop runs once per node of one chain."""
    n = starts.size
    nodes = []  # (chain, position, rank in chain, record or None)
    idx = np.flatnonzero(starts < ends)
    p, e = starts[idx], ends[idx]
    k = 0
    while idx.size >= _WIDE or (idx.size and k < _ROUNDS):
        rec = parse(p, e) if parse and k < _ROUNDS else None
        nxt = step(p, e) if rec is None else rec["nxt"]
        nodes.append((idx, p, np.full(idx.size, k), rec))
        live = nxt < e
        if live.all():
            p = nxt
        else:
            idx, p, e = idx[live], nxt[live], e[live]
        k += 1
    if idx.size:
        dc, dp = _double(idx, p, e, step)
        nodes.append((dc, dp, k + np.arange(dc.size) - np.searchsorted(dc, dc), None))
    off = np.zeros(n + 1, dtype=np.int64)
    if not nodes:
        return off, np.empty(0, np.int64), {}
    chain = np.concatenate([c for c, _, _, _ in nodes])
    np.cumsum(np.bincount(chain, minlength=n), out=off[1:])
    at = off[chain] + np.concatenate([r for _, _, r, _ in nodes])
    pos = np.empty(at.size, dtype=np.int64)
    pos[at] = np.concatenate([q for _, q, _, _ in nodes])
    if not parse:
        return off, pos, {}
    has = np.repeat([rec is not None for *_, rec in nodes], [c.size for c, *_ in nodes])
    recs = [rec for _, _, _, rec in nodes if rec is not None]
    out = {k: np.concatenate([r[k] for r in recs]) for k in recs[0]} if recs else {}
    late = at[~has]
    if late.size:  # the nodes stepped without a record: parse them at once
        rec = parse(pos[late], ends[np.searchsorted(off, late, "right") - 1])
        out = {k: np.concatenate((v, rec[k])) for k, v in out.items()} if out else rec
    order = np.concatenate((at[has], late))
    for k, v in out.items():
        out[k] = np.empty_like(v)
        out[k][order] = v
    return off, pos, out


def _double(idx, p, e, step) -> tuple[np.ndarray, np.ndarray]:
    """Nodes of chains ``idx`` from p up to e by pointer doubling: the
    successor of every position in [p, e) is computed speculatively,
    then jump tables of 1, 2, 4, ... steps add each chain's next nodes
    → (chain, position) sorted by chain then position."""
    lens = e - p
    m = int(lens.sum())
    dt = np.int32 if m < INT32_MAX else np.int64
    ci = np.repeat(np.arange(idx.size, dtype=dt), lens)  # chain of each position
    first = np.cumsum(lens) - lens
    shift = p - first
    jump = np.empty(m + 1, dtype=dt)
    jump[m] = m
    for a in range(0, m, _CHUNK):
        c = ci[a:a + _CHUNK]
        r = np.arange(a, a + c.size, dtype=np.int64)
        nxt = step(r + shift[c], e[c])
        jump[a:a + c.size] = np.where(nxt < e[c], nxt - shift[c], m)
    seen = np.zeros(m + 1, dtype=bool)
    cur = first.astype(dt)
    seen[cur] = True
    while True:  # cur: every node within 2**k steps; jump: 2**k steps
        new = jump[cur]
        new = new[new != m]
        if not new.size:
            break
        seen[new] = True
        cur = np.concatenate((cur, new))
        jump = jump[jump]
    r = np.flatnonzero(seen[:m])
    c = ci[r]
    return idx[c], r + shift[c]


def _firsts(keys: np.ndarray) -> np.ndarray:
    """Mask of the first element of each run of equal sorted ``keys``."""
    m = np.ones(keys.size, dtype=bool)
    m[1:] = keys[1:] != keys[:-1]
    return m


def _lasts(keys: np.ndarray) -> np.ndarray:
    """Mask of the last element of each run of equal sorted ``keys``."""
    m = np.ones(keys.size, dtype=bool)
    m[:-1] = keys[1:] != keys[:-1]
    return m


def _take(vals: np.ndarray, i: np.ndarray, default) -> np.ndarray:
    """vals[i], ``default`` where i is -1."""
    out = np.full(i.shape, default, dtype=vals.dtype)
    ok = i >= 0
    out[ok] = vals[i[ok]]
    return out


def _per_msg(msg: np.ndarray, mask: np.ndarray, n: int, last: bool = True) -> np.ndarray:
    """Index of the last (or first) field in ``mask`` of each of n
    messages, -1 where none; fields are ordered by message."""
    out = np.full(n, -1, dtype=np.int64)
    i = np.flatnonzero(mask)
    i = i[(_lasts if last else _firsts)(msg[i])]
    out[msg[i]] = i
    return out


# ---------------------------------------------------------------------------
# protobuf field walker
# ---------------------------------------------------------------------------

# how a field's payload is laid out
_VARINT, _LD, _F32, _F64, _BADWT = 0, 1, 2, 3, 4
_KIND_BY_WT = np.array([_VARINT, _F64, _LD, _BADWT, _BADWT, _F32, _BADWT, _BADWT])

# faults of one field, in the order the per-tile reader checks them
E_TRUNC, E_LONG, E_TAG, E_WT, E_OVERRUN, E_TILE_TAG, E_FIXED, E_FEATURE = range(1, 9)


class _Level:
    """How one message level reads its fields: ``known`` (tag, kind)
    pairs are read by tag whatever their wire type (the per-tile
    reader's dispatch), other tags are skipped by wire type. The rules
    become lookup tables indexed by (min(tag, 31), wire type)."""

    def __init__(self, known=(), check_tag=True, unknown=0, strict_feature=False,
                 overrun=0, overrun_kinds=(), overrun_known=True, stop_known=False):
        tag = np.repeat(np.arange(32), 8)
        wt = np.tile(np.arange(8), 32)
        self.kind = _KIND_BY_WT[wt]
        self.known = np.zeros(tag.size, dtype=bool)
        for t, k in known:
            self.kind[tag == t] = k
            self.known |= tag == t
        self.check_tag = check_tag  # 0 < tag < 19000
        # the first fault a field's key implies, in pbf.read_key's order
        fault = np.where(self.kind == _BADWT, E_WT, 0)
        if unknown:
            fault = np.where(self.known, fault, unknown)
        if strict_feature:  # what the per-tile reader reads differently
            fault = np.where((((tag == mk.F_ID) | (tag == mk.F_TYPE)) & (wt != pbf.WT_VARINT))
                             | (((tag == mk.F_TAGS) | (tag == mk.F_GEOMETRY))
                                & (wt != pbf.WT_BYTES)), E_FEATURE, fault)
        self.tag_fault = E_FEATURE if strict_feature else E_TAG
        if self.check_tag:
            fault = np.where(tag == 0, self.tag_fault, fault)
        self.fault = fault
        over = np.isin(self.kind, overrun_kinds)
        self.overrun = overrun
        self.over = over & self.known if overrun_known else over
        self.stop = self.known & stop_known  # the first known field ends it


_VARINT_VALUES = tuple((t, _VARINT) for t in (mk.V_INT, mk.V_UINT, mk.V_SINT, mk.V_BOOL))
_TILE = _Level(((mk.T_LAYERS, _LD),), overrun=E_OVERRUN, overrun_kinds=(_LD,))
_TILE_STRICT = _Level(((mk.T_LAYERS, _LD),), unknown=E_TILE_TAG,
                      overrun=E_OVERRUN, overrun_kinds=(_LD,))
_LAYER = _Level(tuple((t, _LD) for t in (mk.L_NAME, mk.L_FEATURES, mk.L_KEYS, mk.L_VALUES))
                + ((mk.L_EXTENT, _VARINT), (mk.L_VERSION, _VARINT)))
_INDEX_LAYER = _Level(((mk.L_NAME, _LD), (mk.L_FEATURES, _LD)))
_PEEK_LAYER = _Level(((mk.L_NAME, _LD),), stop_known=True)
_VALUE = _Level(((mk.V_STRING, _LD), (mk.V_FLOAT, _F32), (mk.V_DOUBLE, _F64))
                + _VARINT_VALUES, overrun=E_FIXED, overrun_kinds=(_F32, _F64), stop_known=True)
_ALL_KINDS = (_VARINT, _LD, _F32, _F64)
_FEATURE = _Level(check_tag=False, overrun=E_FEATURE,
                  overrun_kinds=_ALL_KINDS, overrun_known=False)
_FEATURE_STRICT = _Level(strict_feature=True, overrun=E_FEATURE,
                         overrun_kinds=_ALL_KINDS, overrun_known=False)

_FIXED_WIDTH = np.array([0, 0, 4, 8, _END])  # by kind; varints add their length


def _code(key: np.ndarray) -> np.ndarray:
    """A field key's row in the _Level tables: (min(tag, 31), wire type);
    tags from 31 up are unknown at every level."""
    return np.where(key < 256, key, 248 + (key & np.uint64(7))).astype(np.int64)


def _varint_fault(ln: np.ndarray, room: np.ndarray) -> np.ndarray:
    """pbf.read_varint's verdict on a varint of ``ln`` bytes with ``room``
    bytes left in its message: 0, E_TRUNC or E_LONG."""
    return np.where(ln <= np.minimum(room, 10), 0, np.where(room <= 10, E_TRUNC, E_LONG))


class _Wire:
    """One batch's bytes, readable as protobuf fields at any position.

    For every byte i, ``vlen[i]`` is the byte length of the varint
    starting there (11: longer than 10 bytes or unterminated) and
    ``vval[i]`` its value, both computed once for the whole batch; every
    walk gathers from them."""

    _PAD = 16

    def __init__(self, buf: np.ndarray):
        self.n = n = buf.size
        self.b = b = np.concatenate((buf, np.zeros(self._PAD, np.uint8)))
        cont = b >= 0x80
        self.vlen = vlen = np.ones(b.size, dtype=np.uint8)
        self.vval = vval = (b & 0x7F).astype(np.uint64)
        i = np.flatnonzero(cont[:n])  # varints still running at byte k
        for k in range(1, 11):
            if not i.size:
                break
            vlen[i] += 1
            if k < 10:
                vval[i] |= (b[i + k] & 0x7F).astype(np.uint64) << np.uint64(7 * k)
            i = i[cont[i + k]]

    def _span(self, pos: np.ndarray, lv: _Level):
        """The key length, key, table code and kind of the field at each
        position, where its payload starts (j: after the key), the varint
        there, and its payload span [ps, pe)."""
        klen = self.vlen[pos].astype(np.int64)
        key = self.vval[pos]
        code = _code(key)
        kind = lv.kind[code]
        j = np.minimum(pos + klen, self.n)
        vl = self.vlen[j].astype(np.int64)
        val = self.vval[j]
        ld = kind == _LD
        ps = np.where(ld, j + vl, j)
        width = np.where(ld, np.minimum(val, np.uint64(_END)).astype(np.int64), vl)
        pe = ps + np.where(kind <= _LD, width, _FIXED_WIDTH[kind])
        return klen, key, code, kind, j, vl, val, ps, pe

    def next_at(self, pos: np.ndarray, lv: _Level) -> np.ndarray:
        """Where the field at each position ends, exact for a field
        without fault (a faulty one may give any later position): the
        payload span of :meth:`_span` in the fewest numpy calls."""
        kind = lv.kind[_code(self.vval[pos])]
        j = np.minimum(pos + self.vlen[pos], self.n)
        vl = self.vlen[j]
        ln = np.where(kind == _LD, np.minimum(self.vval[j], np.uint64(_END)).astype(np.int64), 0)
        return j + np.where(kind <= _LD, vl, _FIXED_WIDTH[kind]) + ln

    def fields_at(self, pos: np.ndarray, end: np.ndarray, lv: _Level) -> dict:
        """Read one field at each position of a message ending at ``end``
        → dict of tag, wt, kind, known, payload span [ps, pe), varint
        value ``val``, ``fault`` (0 = none) and ``nxt``, the position of
        the next field (_END when this field ends the message)."""
        klen, key, code, kind, j, vl, val, ps, pe = self._span(pos, lv)
        tag = (key >> np.uint64(3)).astype(np.int64)
        isv = kind <= _LD
        bad = ((klen > np.minimum(end - pos, 10)) | (lv.fault[code] != 0)
               | (isv & (vl > np.minimum(end - j, 10))) | (lv.over[code] & (pe > end)))
        if lv.check_tag:
            bad |= tag >= pbf.MAX_TAG
        fault = np.zeros(pos.size, dtype=np.int64)
        i = np.flatnonzero(bad)
        if i.size:  # rare: name each fault, in pbf.read_key's order of checks
            f = lv.fault[code[i]]
            if lv.check_tag:
                f = np.where(tag[i] >= pbf.MAX_TAG, lv.tag_fault, f)
            f = np.where((f == 0) & isv[i], _varint_fault(vl[i], end[i] - j[i]), f)
            f = np.where((f == 0) & lv.over[code[i]] & (pe[i] > end[i]), lv.overrun, f)
            kf = _varint_fault(klen[i], end[i] - pos[i])
            fault[i] = np.where(kf > 0, kf, f)
        return dict(tag=tag, wt=(key & np.uint64(7)).astype(np.int64), kind=kind,
                    known=lv.known[code], ps=ps, pe=pe, val=val, fault=fault,
                    nxt=np.where(bad | lv.stop[code], _END, pe))

    def walk(self, starts: np.ndarray, ends: np.ndarray, lv: _Level):
        """Every field of every message [starts, ends) → (per-message field
        offsets (n+1), fields dict from :meth:`fields_at` plus ``pos`` and
        ``msg``), fields ordered by message then position. A message ends
        at its first faulty field, or for ``lv.stop`` its first known one."""
        starts = np.asarray(starts, dtype=np.int64)
        ends = np.asarray(ends, dtype=np.int64)
        off, pos, f = _chain(starts, ends, lambda p, e: self.next_at(p, lv),
                             lambda p, e: self.fields_at(p, e, lv))
        msg = np.repeat(np.arange(starts.size), np.diff(off))
        if not pos.size:
            f = self.fields_at(pos, ends[msg], lv)
        last = _per_msg(msg, f["nxt"] == _END, starts.size, last=False)
        keep = np.flatnonzero((last < 0)[msg] | (np.arange(msg.size) <= last[msg]))
        if keep.size < msg.size:  # nodes the cheap step walked past a fault
            f = {k: v[keep] for k, v in f.items()}
            msg = msg[keep]
            np.cumsum(np.bincount(msg, minlength=starts.size), out=off[1:])
        f["pos"], f["msg"] = pos[keep], msg
        return off, f

    def strings(self, s: np.ndarray, e: np.ndarray) -> tuple[pa.Array, dict[int, str]]:
        """The byte spans [s, e) as an Arrow string array, and {index:
        UnicodeDecodeError text} of the spans that are not UTF-8 (those
        read as empty strings)."""
        lens = np.maximum(e - s, 0)
        arr = _binary(_gather_concat(self.b, s, lens), lens)
        try:
            return arr.cast(pa.string()), {}
        except pa.ArrowInvalid:  # rare: find and name the bad spans
            bad = {}
            for i in range(lens.size):
                try:
                    self.b[s[i]:s[i] + lens[i]].tobytes().decode("utf-8")
                except UnicodeDecodeError as exc:
                    bad[i] = str(exc)
            lens[list(bad)] = 0
            return _binary(_gather_concat(self.b, s, lens), lens).cast(pa.string()), bad


def _binary(data: np.ndarray, lens: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    """Arrow binary array over ``data`` cut into ``lens``-byte values."""
    off = np.zeros(lens.size + 1, dtype=np.int32)
    np.cumsum(lens, out=off[1:])
    vbuf = None if valid is None else pa.array(valid, type=pa.bool_()).buffers()[1]
    return pa.BinaryArray.from_buffers(
        pa.binary(), lens.size, [vbuf, pa.py_buffer(off), pa.py_buffer(data)])


def _fault_text(code: int, tag: int, wt: int) -> str:
    """The per-tile reader's message for a field fault."""
    return {
        E_TRUNC: "truncated varint",
        E_LONG: "varint longer than 10 bytes",
        E_TAG: f"tag out of range: {tag}",
        E_WT: f"unsupported wire type {wt}",
        E_OVERRUN: "layer length overruns tile",
        E_TILE_TAG: f"unknown tile tag {tag}",
    }[code]


NULL_BLOB = "cannot convert 'NoneType' object to bytes"  # what bytes(None) raises


def _as_buffer(blobs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The batch's tile blobs → (bytes, tile offsets (n+1), null mask): a
    (Large)BinaryArray's own buffers, or a list of blobs joined once."""
    if isinstance(blobs, pa.ChunkedArray):
        blobs = blobs.combine_chunks()
    if isinstance(blobs, pa.Array):
        n = len(blobs)
        if n == 0:
            return np.empty(0, np.uint8), np.zeros(1, np.int64), np.zeros(0, bool)
        _, obuf, dbuf = blobs.buffers()
        odt = np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
        off = np.frombuffer(obuf, dtype=odt, count=n + 1,
                            offset=blobs.offset * np.dtype(odt).itemsize).astype(np.int64)
        data = np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None else np.empty(0, np.uint8)
        null = blobs.is_null().to_numpy(zero_copy_only=False)
        return data[off[0]:off[-1]], off - off[0], null
    null = np.fromiter((b is None for b in blobs), dtype=bool, count=len(blobs))
    if null.any():
        blobs = [b"" if b is None else b for b in blobs]
    off = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, blobs), dtype=np.int64, count=len(blobs)), out=off[1:])
    return np.frombuffer(b"".join(blobs), dtype=np.uint8), off, null


class _Faults:
    """Structural faults of a batch's tiles: each tile is named by the one
    the per-tile reader meets first, the smallest ``key`` (4 × byte
    position + order at that position)."""

    def __init__(self):
        self.tiles, self.keys, self.msgs = [], [], []

    def add(self, tiles, keys, msgs) -> None:
        tiles = np.asarray(tiles, dtype=np.int64)
        if tiles.size:
            self.tiles.append(tiles)
            self.keys.append(np.broadcast_to(np.asarray(keys, dtype=np.int64), tiles.shape))
            self.msgs += [msgs] * tiles.size if isinstance(msgs, str) else list(msgs)

    def fields(self, tile_of_field: np.ndarray, f: dict, sub: int) -> None:
        """Add every faulted field of walk result ``f``, at 4 × its
        position + ``sub``."""
        i = np.flatnonzero(f["fault"] != 0)
        self.add(tile_of_field[i], 4 * f["pos"][i] + sub, [
            _fault_text(c, t, w) for c, t, w in
            zip(f["fault"][i].tolist(), f["tag"][i].tolist(), f["wt"][i].tolist())])

    def named(self) -> dict[int, str]:
        """{tile: message} in tile order."""
        if not self.tiles:
            return {}
        t = np.concatenate(self.tiles)
        o = np.lexsort((np.concatenate(self.keys), t))
        o = o[_firsts(t[o])]
        return {ti: self.msgs[i] for ti, i in zip(t[o].tolist(), o.tolist())}


def _tile_walk(w: _Wire, toff: np.ndarray, null: np.ndarray, validate: bool):
    """Tile level of a batch: its faults so far and each layer's (tile,
    start, end), in tile then byte order. ref lifecycle:
    src/VectorTile/VectorTile.cs:23-26 + VectorTileReader.cs:31-100
    (gzip guard :39-42, unknown tile tag :58-64)."""
    faults = _Faults()
    ts, te = toff[:-1], toff[1:]
    empty = ~null & (te == ts)
    gz = ~null & (te - ts >= 2) & (w.b[ts] == 0x1F) & (w.b[ts + 1] == 0x8B)
    faults.add(np.flatnonzero(null), 0, NULL_BLOB)
    faults.add(np.flatnonzero(empty), 0, "tile data is empty")
    faults.add(np.flatnonzero(gz), 0, "tile data is gzipped")
    live = np.flatnonzero(~(null | empty | gz))
    _, f = w.walk(ts[live], te[live], _TILE_STRICT if validate else _TILE)
    tile = live[f["msg"]]
    faults.fields(tile, f, 3)
    lay = np.flatnonzero((f["tag"] == mk.T_LAYERS) & (f["fault"] == 0))
    return faults, tile[lay], f["ps"][lay], f["pe"][lay]


def _dup_faults(faults: _Faults, l_tile, le, names: pa.Array) -> None:
    """A layer whose name an earlier layer of its tile already has
    (VectorTileReader.cs:82-92), met once the layer is read."""
    if not len(names):
        return
    ids = names.dictionary_encode().indices.to_numpy(zero_copy_only=False).astype(np.int64)
    code = l_tile * (int(ids.max()) + 1) + ids
    _, first, inv = np.unique(code, return_index=True, return_inverse=True)
    dup = np.flatnonzero(first[inv] != np.arange(code.size))
    faults.add(l_tile[dup], 4 * le[dup] + 2,
               [f"duplicate layer name {s}" for s in names.take(dup).to_pylist()])


def _name_fields(w: _Wire, lf: dict, le: np.ndarray, tag: int):
    """The string fields ``tag`` of walked layers → (field index, layer,
    strings, {index into them: decode fault})."""
    i = np.flatnonzero((lf["tag"] == tag) & (lf["fault"] == 0))
    lay = lf["msg"][i]
    s, bad = w.strings(lf["ps"][i], np.minimum(lf["pe"][i], le[lay]))
    return i, lay, s, bad


def _pick(strs: pa.Array, idx: np.ndarray) -> pa.Array:
    """strs[idx], "" where idx is -1."""
    ext = pa.concat_arrays([strs, pa.array([""], type=pa.string())])
    return ext.take(np.where(idx < 0, len(strs), idx))


def layers_index(blobs) -> tuple[list, list, list, dict]:
    """Lazy per-tile layer index (SURVEY §3.1 ``layers_index``; ref
    VectorTileReader.cs:53-100): for each tile, layer names and feature
    COUNTS from a partial parse — feature bodies, dictionaries, geometry
    and props are never decoded. Returns (tile_idx, names,
    feature_counts, err_tiles)."""
    buf, toff, null = _as_buffer(blobs)
    w = _Wire(buf)
    faults, l_tile, ls, le = _tile_walk(w, toff, null, False)
    _, lf = w.walk(ls, le, _INDEX_LAYER)
    faults.fields(l_tile[lf["msg"]], lf, 1)
    ni, nlay, strs, bad = _name_fields(w, lf, le, mk.L_NAME)
    faults.add(l_tile[nlay[list(bad)]], 4 * lf["pos"][ni[list(bad)]] + 1, bad.values())
    rank = np.full(lf["msg"].size, -1, dtype=np.int64)
    rank[ni] = np.arange(ni.size)
    last = _per_msg(lf["msg"], rank >= 0, ls.size)
    names = _pick(strs, _take(rank, last, -1))
    _dup_faults(faults, l_tile, le, names)
    errs = faults.named()
    nfeat = np.bincount(lf["msg"][(lf["tag"] == mk.L_FEATURES) & (lf["fault"] == 0)],
                        minlength=ls.size)
    ok = ~np.isin(l_tile, np.fromiter(errs, dtype=np.int64, count=len(errs)))
    return (l_tile[ok].tolist(), names.filter(pa.array(ok)).to_pylist(),
            nfeat[ok].tolist(), errs)


# ---------------------------------------------------------------------------
# batch geometry decode
# ---------------------------------------------------------------------------

def decode_geometries_batch(
    geom_streams: np.ndarray,  # uint64, all command ints concatenated
    feat_span: np.ndarray,     # int64 (nfeat+1) spans into geom_streams
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, dict[int, str]]:
    """Decode command streams for nfeat features at once.

    Returns (xs, ys, part_off_global, feat_part_off, faults) in the
    closed-ring convention (a ClosePath re-appends its part's first
    vertex). ``faults`` maps each feature whose stream is invalid
    (unknown command, overrun, ClosePath with no open part or on an
    empty part) to its message; such a feature decodes to no parts, so
    the caller can drop its tile instead of losing the whole batch. The
    one decoder: kernels.geom.decode_commands is its one-feature call.
    """
    nfeat = feat_span.size - 1
    g = np.asarray(geom_streams, dtype=np.uint64)
    cmd = (g & np.uint64(7)).astype(np.int64)
    count = np.minimum(g >> np.uint64(3), np.uint64(_END >> 2)).astype(np.int64)
    params = (cmd == CMD_MOVE_TO) | (cmd == CMD_LINE_TO)
    adv = np.where(params, 1 + 2 * count, np.where(cmd == CMD_CLOSE_PATH, 1, _END))
    # --- command walk: one unit per command header, all features at once
    off, up, _ = _chain(feat_span[:-1], feat_span[1:], lambda p, e: p + adv[p])
    uf = np.repeat(np.arange(nfeat, dtype=np.int64), np.diff(off))
    uc, un = cmd[up], count[up]
    # a chain ends on an unknown command or on a unit overrunning its feature
    has = np.flatnonzero(off[1:] > off[:-1])
    lastu = off[1:][has] - 1
    unknown = (uc[lastu] != CMD_MOVE_TO) & (uc[lastu] != CMD_LINE_TO) & (
        uc[lastu] != CMD_CLOSE_PATH)
    over = ~unknown & (up[lastu] + adv[up[lastu]] > feat_span[1:][has])
    faults: dict[int, str] = {}
    for f, c in zip(has[unknown | over].tolist(), uc[lastu[unknown | over]].tolist()):
        faults[f] = ("command stream overruns buffer" if c in (
            CMD_MOVE_TO, CMD_LINE_TO, CMD_CLOSE_PATH) else f"unknown command {c}")
    ok = np.ones(up.size, dtype=bool)
    ok[lastu[unknown]] = False  # an unknown command opens no unit
    uf, uc, un, up = uf[ok], uc[ok], un[ok], up[ok]
    # parts: a MoveTo, or a LineTo with no open part, opens one; a
    # ClosePath opening its feature or following another ClosePath has
    # no open part, and one whose part has no vertex has nothing to close
    close = uc == CMD_CLOSE_PATH
    first = _firsts(uf)
    no_open = first | np.r_[False, close[:-1]]  # no part is open before the unit
    orphan = close & no_open
    opens = (uc == CMD_MOVE_TO) | ((uc == CMD_LINE_TO) & no_open)
    un = np.where(close, 0, un)
    pid = np.cumsum(opens) - 1
    part_verts = np.bincount(pid[~close], weights=un[~close], minlength=pid.size)
    empty = close & ~orphan & (part_verts[pid] == 0)
    bad = orphan | empty
    for f, o in zip(uf[bad].tolist(), orphan[bad].tolist()):
        faults.setdefault(f, "ClosePath with no open part" if o else "ClosePath on an empty part")
    if faults:
        ok = ~np.isin(uf, np.fromiter(faults, dtype=np.int64, count=len(faults)))
        uf, uc, un, up = uf[ok], uc[ok], un[ok], up[ok]
        close, opens = close[ok], opens[ok]
        pid = np.cumsum(opens) - 1

    # --- extract + decode all params (vectorized)
    pv_units = np.flatnonzero(~close)
    pcounts = un[pv_units]
    vals = _gather_concat(g, up[pv_units] + 1, 2 * pcounts).astype(np.int64)
    dx = zigzag_decode(vals[0::2])
    dy = zigzag_decode(vals[1::2])
    # per-feature cursor: the running sum less its value before the
    # feature's first vertex
    first = _firsts(np.repeat(uf[pv_units], pcounts))
    start, run = np.flatnonzero(first), np.cumsum(first) - 1
    cx, cy = np.cumsum(dx), np.cumsum(dy)
    xs_all = cx - (cx[start] - dx[start])[run]
    ys_all = cy - (cy[start] - dy[start])[run]

    # --- parts: a ClosePath closes its part with
    # an appended first vertex; each part runs until the next one opens or
    # its feature ends
    w0 = np.cumsum(un) - un  # first vertex of each unit
    ps = w0[opens]
    pe = ps + np.bincount(pid, weights=un, minlength=ps.size).astype(np.int64)
    pc = np.zeros(ps.size, dtype=bool)
    pc[pid[close]] = True
    pf = uf[opens]
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
    feat_part_off = np.zeros(nfeat + 1, dtype=np.int64)
    np.cumsum(np.bincount(pf, minlength=nfeat), out=feat_part_off[1:])
    return xs, ys, out_off, feat_part_off, faults


# ---------------------------------------------------------------------------
# whole-batch tile decode (the Spark-facing entry point)
# ---------------------------------------------------------------------------

_MAX_FEATURE_FIELDS = 64  # a feature with more fields is malformed

#: value-union tag → struct field name (SURVEY §1.3 typed property union;
#: ref 7-way switch: VectorTileReader.cs:166-214)
TAG_FIELD = {1: "s", 2: "f", 3: "d", 4: "i", 5: "u", 6: "si", 7: "b"}

#: Arrow type of one ``props_t`` entry
PROPS_T_STRUCT = pa.struct([
    ("k", pa.string()), ("tag", pa.int32()), ("s", pa.string()),
    ("f", pa.float32()), ("d", pa.float64()), ("i", pa.int64()),
    ("u", pa.int64()), ("si", pa.int64()), ("b", pa.bool_()),
])


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
    blobs,
    layer_filter: frozenset | set | None = None,
    validate: bool = False,
    typed_props: bool = False,
    raster: bool = False,
    flat: bool = True,
) -> tuple:
    """Decode a batch of tile blobs (a list of bytes, or an Arrow binary
    array — its buffers are read in place) → flat per-feature columns,
    the shape ``pyarrow.ListArray.from_arrays`` wants:

    (tile_idx i64, layer_names (Arrow string), extents i32, feature_ids
    i64, geom_types, xs_flat, ys_flat, vert_off (nfeat+1), parts_flat
    i32, parts_cnt (per-feature), props (Arrow string), [props_t],
    [raster], err_tiles)

    ``props_t`` (only with ``typed_props=True``) is an Arrow list of
    PROPS_T_STRUCT entries, the tagged union (k, tag, s, f, d, i, u, si,
    b) preserving Float/Double/UInt/SInt/Bool type identity
    (VectorTileReader.cs:166-214); ``raster`` (only with ``raster=True``)
    an Arrow binary array of the Feature.Raster (tag 5) payloads, null
    where a feature has none. ``err_tiles`` is {tile_idx: error} for the
    tiles that yield no features: a bad tile never fails the batch.

    ``layer_filter`` keeps only the named layers; lenient mode reads the
    others only up to their first name. ``validate=True`` adds the
    reference's strict checks (VectorTileReader.cs:58-64, 224-252,
    331-372) on every layer, selected or not, and names each rejected
    tile by the exception of the per-tile oracle
    ``mvt.decode_tile(blob, validate=True)``.

    Every level is batch-vectorized across ALL tiles of the batch: the
    tile, layer, feature and value messages by one field walker, the
    varint streams, geometry and the output columns by numpy and Arrow
    compute. Python runs per distinct dictionary key or value (JSON
    fragments) and per fault."""
    if not flat:
        # the keyword stays only because perfbench/ passes flat=True;
        # the flat layout is the only one
        raise ValueError("decode_tile_rows: only flat=True is supported")
    err_tiles: dict[int, str] = {}
    cols = _decode_flat(blobs, layer_filter, validate, typed_props, raster, err_tiles)
    if validate and err_tiles:
        # rejections are rare: name each by the per-tile oracle. A tile the
        # oracle reads (a geometry command fault — it leaves command
        # streams packed) keeps the batch's message.
        buf, toff, null = _as_buffer(blobs)
        for ti in [t for t in err_tiles if not null[t]]:  # a null stays NULL_BLOB
            try:
                mk.decode_tile(buf[toff[ti]:toff[ti + 1]].tobytes(), validate=True)
            except Exception as e:
                err_tiles[ti] = str(e)
    return cols + (err_tiles,)


def _value_entries(w: _Wire, vs: np.ndarray, ve: np.ndarray):
    """Walk the dictionary value messages [vs, ve) (ref:
    VectorTileReader.cs:166-214: the first known field is the value,
    SInt read without zigzag, UInt as signed) → (tag per value, 0 where
    it is faulty; typed member arrays; {index: fault message})."""
    off, f = w.walk(vs, ve, _VALUE)
    last = np.where(off[1:] > off[:-1], off[1:] - 1, -1)
    f = {k: _take(v, last, 0) for k, v in f.items()}  # each value's last field
    tag = np.where(f["known"] & (f["fault"] == 0), f["tag"], 0)
    bad = {}
    for i in np.flatnonzero(tag == 0).tolist():
        c = int(f["fault"][i])
        if c == E_FIXED:  # struct.unpack_from past the message end
            fmt = "<f" if f["kind"][i] == _F32 else "<d"
            try:
                struct.unpack_from(fmt, bytes(int(ve[i] - vs[i])), int(f["ps"][i] - vs[i]))
            except struct.error as e:
                bad[i] = str(e)
        elif c:
            bad[i] = _fault_text(c, int(f["tag"][i]), int(f["wt"][i]))
        else:
            bad[i] = "empty value message"
    ps, pe, val = f["ps"], f["pe"], f["val"]
    is_s = tag == mk.V_STRING
    s, sbad = w.strings(np.where(is_s, ps, 0), np.where(is_s, np.minimum(pe, ve), 0))
    for i, msg in sbad.items():
        bad[i] = msg
        tag[i] = 0
    fixed = w.b[np.minimum(ps, w.n)[:, None] + np.arange(8)]
    m = dict(
        s=s,
        f=np.ascontiguousarray(fixed[:, :4]).view("<f4").ravel(),
        d=fixed.view("<f8").ravel(),
        i=val.view(np.int64),
        b=val == 1,
    )
    return tag, m, bad


def _typed_struct(tag: np.ndarray, m: dict) -> pa.StructArray:
    """The value entries as the tagged union without ``k``: exactly the
    member named by each tag is set."""
    cols = [pa.array(tag, type=pa.int32())]
    for t, name in TAG_FIELD.items():
        unset = tag != t
        if name == "s":
            cols.append(pc.if_else(pa.array(unset), pa.scalar(None, pa.string()), m["s"]))
        else:
            member = m[name] if name in m else m["i"]  # u, si: signed like i
            cols.append(pa.array(member, type=PROPS_T_STRUCT.field(name).type, mask=unset))
    return pa.StructArray.from_arrays(cols, fields=list(PROPS_T_STRUCT)[1:])


def _distinct_fault(layer: np.ndarray, tag: np.ndarray, m: dict, nlayers: int) -> np.ndarray:
    """Layers whose dictionary values are not distinct as Python values
    (VectorTileReader.cs:247-251): strings by content; numbers by value
    across Int/UInt/SInt/Float/Double/Bool (1 == 1.0 == True); a NaN
    equals nothing."""
    num = np.where(tag == mk.V_BOOL, m["b"].astype(np.int64), m["i"])
    isf = (tag == mk.V_FLOAT) | (tag == mk.V_DOUBLE)
    with np.errstate(invalid="ignore"):  # bytes of non-float values are any bits
        d = np.where(tag == mk.V_FLOAT, m["f"].astype(np.float64), m["d"])
        as_int = isf & (d == np.floor(d)) & (np.abs(d) < 2.0**63)
        num = np.where(as_int, np.where(as_int, d, 0).astype(np.int64), num)
    dom = np.where(tag == mk.V_STRING, 0, np.where(isf & ~as_int, 2, 1))
    key = np.where(dom == 2, d.view(np.int64), num)
    if (tag == mk.V_STRING).any():
        ids = m["s"].dictionary_encode().indices.to_numpy(zero_copy_only=False)
        key = np.where(dom == 0, ids, key)
    use = ~(isf & np.isnan(d))
    o = np.lexsort((key[use], dom[use], layer[use]))
    lk, dk, kk = layer[use][o], dom[use][o], key[use][o]
    same = (lk[1:] == lk[:-1]) & (dk[1:] == dk[:-1]) & (kk[1:] == kk[:-1])
    out = np.zeros(nlayers, dtype=bool)
    out[lk[1:][same]] = True
    return out


def _json_fragments(strs: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """json.dumps of each distinct string → (entry → fragment index,
    fragments)."""
    enc = strs.dictionary_encode()
    return (enc.indices.to_numpy(zero_copy_only=False).astype(np.int64),
            pa.array([json.dumps(k) for k in enc.dictionary.to_pylist()], type=pa.string()))


def _value_fragments(w: _Wire, vs, ve, tag, m) -> tuple[np.ndarray, pa.Array]:
    """json.dumps(value, default=str) of each distinct value message
    (identical bytes decode identically) → (entry → fragment index,
    fragments)."""
    lens = ve - vs
    enc = _binary(_gather_concat(w.b, vs, lens), lens).dictionary_encode()
    ids = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    _, rep = np.unique(ids, return_index=True)
    s = m["s"].take(rep).to_pylist()
    frags = []
    for j, r in enumerate(rep.tolist()):
        t = int(tag[r])
        v = (s[j] if t == mk.V_STRING else float(m["f"][r]) if t == mk.V_FLOAT
             else float(m["d"][r]) if t == mk.V_DOUBLE else bool(m["b"][r])
             if t == mk.V_BOOL else int(m["i"][r]))
        frags.append(json.dumps(v, default=str))
    return ids, pa.array(frags, type=pa.string())


def _props_json(pfeat: np.ndarray, kent: np.ndarray, vent: np.ndarray,
                kfrag: pa.Array, vfrag: pa.Array, nfeat: int) -> pa.Array:
    """Per-feature props JSON from the fragments of its (key entry, value
    entry) pairs, with dict semantics: a key entry repeated in one
    feature keeps its first position and takes its last value."""
    multi = np.flatnonzero(np.bincount(pfeat, minlength=nfeat)[pfeat] > 1)
    code = pfeat[multi] * (int(kent.max(initial=0)) + 1) + kent[multi]
    o = np.argsort(code, kind="stable")
    sc = code[o]
    if (sc[1:] == sc[:-1]).any():
        g0, g1 = multi[o[_firsts(sc)]], multi[o[_lasts(sc)]]
        vent = vent.copy()
        vent[g0] = vent[g1]
        keep = np.ones(kent.size, dtype=bool)
        keep[multi] = False
        keep[g0] = True
        pfeat, kent, vent = pfeat[keep], kent[keep], vent[keep]
    off = np.zeros(nfeat + 1, dtype=np.int32)
    np.cumsum(np.bincount(pfeat, minlength=nfeat), out=off[1:])
    pair = pc.binary_join_element_wise(kfrag.take(kent), vfrag.take(vent), ": ")
    body = pc.binary_join(pa.ListArray.from_arrays(pa.array(off), pair), ", ")
    return pc.binary_join_element_wise("{", body, "}", "")


def _decode_flat(
    blobs, layer_filter, validate: bool, typed_props: bool,
    raster: bool, err_tiles: dict[int, str],
) -> tuple:
    """decode_tile_rows without its error naming; fills ``err_tiles``."""
    buf, toff, null = _as_buffer(blobs)
    w = _Wire(buf)
    faults, l_tile, ls, le = _tile_walk(w, toff, null, validate)
    nl = ls.size

    # --- layer level (ref: VectorTileReader.cs:134-252)
    sel = np.ones(nl, dtype=bool)
    first_name = None
    if layer_filter is not None and not validate:
        # lazy layer skip (ref layers_index name-only scan,
        # VectorTileReader.cs:53-100): every layer is read only up to its
        # first name; dictionaries, features, geometry and props of the
        # layers it does not select are never touched
        _, nf = w.walk(ls, le, _PEEK_LAYER)
        faults.fields(l_tile[nf["msg"]], nf, 0)
        ni, nlay, nstrs, nbad = _name_fields(w, nf, le, mk.L_NAME)
        faults.add(l_tile[nlay[list(nbad)]], 4 * ls[nlay[list(nbad)]], nbad.values())
        first_name = _pick(nstrs, _per_msg(nlay, np.ones(nlay.size, bool), nl))
        sel = pc.is_in(first_name, value_set=pa.array(sorted(layer_filter), pa.string()))
        sel = sel.to_numpy(zero_copy_only=False)
    read = np.flatnonzero(sel)
    _, lf = w.walk(ls[read], le[read], _LAYER)
    lf["msg"] = lmsg = read[lf["msg"]]
    faults.fields(l_tile[lmsg], lf, 1)
    ni, nlay, nstrs, nbad = _name_fields(w, lf, le, mk.L_NAME)
    faults.add(l_tile[nlay[list(nbad)]], 4 * lf["pos"][ni[list(nbad)]] + 1, nbad.values())
    last_name = _pick(nstrs, _per_msg(nlay, np.ones(nlay.size, bool), nl))
    # an unselected layer is known by its first name
    dup_name = last_name if first_name is None else pc.if_else(
        pa.array(sel), last_name, first_name)

    # dictionaries of the read layers: keys, then values
    ki, klay, keys, kbad = _name_fields(w, lf, le, mk.L_KEYS)
    faults.add(l_tile[klay[list(kbad)]], 4 * lf["pos"][ki[list(kbad)]] + 1, kbad.values())
    vi = np.flatnonzero((lf["tag"] == mk.L_VALUES) & (lf["fault"] == 0))
    vlay = lmsg[vi]
    vs, ve = lf["ps"][vi], np.minimum(lf["pe"][vi], le[vlay])
    vtag, vm, vbad = _value_entries(w, vs, ve)
    faults.add(l_tile[vlay[list(vbad)]], 4 * lf["pos"][vi[list(vbad)]] + 1, vbad.values())
    nk = np.bincount(klay, minlength=nl)
    nv = np.bincount(vlay, minlength=nl)
    kbase = np.cumsum(nk) - nk
    vbase = np.cumsum(nv) - nv

    def _last_val(tag: int, default: int) -> np.ndarray:
        i = _per_msg(lmsg, (lf["tag"] == tag) & (lf["fault"] == 0), nl)
        return _take(lf["val"], i, default)

    extent = _last_val(mk.L_EXTENT, mk.DEFAULT_EXTENT)
    nfeat_l = np.bincount(lmsg[(lf["tag"] == mk.L_FEATURES) & (lf["fault"] == 0)],
                          minlength=nl)
    if validate:  # ref: VectorTileReader.cs:224-252
        version = _last_val(mk.L_VERSION, 0)
        strict = [
            ((pc.equal(last_name, "")).to_numpy(zero_copy_only=False),
             lambda i: "layer missing name"),
            (version != 2, lambda i: f"unsupported layer version {version[i]}"),
            (extent == 0, lambda i: f"layer has invalid extent {extent[i]}"),
            (nfeat_l == 0, lambda i: "layer has no features"),
            (_distinct_fault(vlay, vtag, vm, nl),
             lambda i: "layer values are not distinct"),
        ]
        done = np.zeros(nl, dtype=bool)
        for mask, text in strict:
            i = np.flatnonzero(mask & ~done)
            done[i] = True
            faults.add(l_tile[i], 4 * le[i], [text(j) for j in i.tolist()])
    emit = sel  # the layers that give rows
    if validate and layer_filter is not None:
        emit = pc.is_in(last_name, value_set=pa.array(sorted(layer_filter), pa.string()))
        emit = emit.to_numpy(zero_copy_only=False)
    # a column the output schema declares int32 must not fail the batch
    big = np.flatnonzero(emit & (extent > np.uint64(INT32_MAX)))
    faults.add(l_tile[big], 4 * le[big] + 1,
               [f"layer extent {extent[i]} exceeds int32" for i in big.tolist()])
    _dup_faults(faults, l_tile, le, dup_name)
    err_tiles.update(faults.named())

    # --- feature headers of the layers read in full
    bad_tile = np.zeros(toff.size - 1, dtype=bool)
    bad_tile[list(err_tiles)] = True
    fi = np.flatnonzero((lf["tag"] == mk.L_FEATURES) & (lf["fault"] == 0)
                        & ~bad_tile[l_tile[lmsg]])
    flay = lmsg[fi]
    foff, ff = w.walk(lf["ps"][fi], np.minimum(lf["pe"][fi], le[flay]),
                      _FEATURE_STRICT if validate else _FEATURE)
    nfeat = fi.size
    fmsg = ff["msg"]
    h = {}
    for key, tag, wt in (("fid", mk.F_ID, 0), ("gt", mk.F_TYPE, 0), ("t", mk.F_TAGS, 2),
                         ("g", mk.F_GEOMETRY, 2), ("r", mk.F_RASTER, 2)):
        i = _per_msg(fmsg, (ff["tag"] == tag) & (ff["wt"] == wt), nfeat)
        if wt == 0:
            h[key] = _take(ff["val"], i, 0)
        else:
            h[key + "start"] = _take(ff["ps"], i, -1 if key == "r" else 0)
            h[key + "end"] = _take(ff["pe"], i, -1 if key == "r" else 0)
    herr = np.zeros(nfeat, dtype=bool)
    herr[fmsg[ff["fault"] != 0]] = True
    herr |= np.diff(foff) > _MAX_FEATURE_FIELDS
    h["layer"] = flay
    h["tile"] = l_tile[flay]
    faults = _flag({}, herr, "malformed feature message")
    gt_big = h["gt"] > np.uint64(INT32_MAX)
    for f in np.flatnonzero(gt_big).tolist():
        faults.setdefault(f, f"geometry type {h['gt'][f]} exceeds int32")
    if validate:  # ref: VectorTileReader.cs:331-340
        _flag(faults, h["gt"] == 0, "feature has no geometry type")
        _flag(faults, h["gend"] == h["gstart"], "feature has no geometry")
    h["gt"] = np.where(gt_big, 0, h["gt"]).astype(np.int64)
    if faults:
        h, _ = _drop_tiles(h, faults, err_tiles)

    # --- tag streams of every walked layer (strict checks them all)
    allbuf = w.b
    tag_vals, tag_span, faults = _batch_varints(allbuf, h["tstart"], h["tend"])
    tcounts = np.diff(tag_span)
    if validate:  # ref: VectorTileReader.cs:341-344
        _flag(faults, tcounts % 2 == 1, "uneven number of feature tags")
    if tag_vals.size:
        # a tag index past its layer's dictionary would crash props
        # assembly with an IndexError: poison only its tile
        # (strict: VectorTileReader.cs:345-371)
        tfeat = np.repeat(np.arange(tcounts.size, dtype=np.int64), tcounts)
        tpos = np.arange(tag_vals.size, dtype=np.int64) - tag_span[tfeat]
        tl = h["layer"][tfeat]
        lim = np.where(tpos % 2 == 0, nk[tl], nv[tl]).astype(np.uint64)
        bad = np.zeros(tcounts.size, dtype=bool)
        bad[tfeat[tag_vals >= lim]] = True
        _flag(faults, bad, "tag index out of range")
    keep = None
    if validate and layer_filter is not None:  # drop the unselected layers
        keep = emit[h["layer"]]
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
    lay = h["layer"]

    # --- props: (key, value) dictionary entries of each tag pair
    npairs = np.diff(tag_span) // 2
    pfeat = np.repeat(np.arange(nfeat, dtype=np.int64), npairs)
    pstart = np.zeros(nfeat + 1, dtype=np.int64)
    np.cumsum(npairs, out=pstart[1:])
    t0 = tag_span[pfeat] + 2 * (np.arange(pfeat.size) - pstart[pfeat])
    kent = kbase[lay[pfeat]] + tag_vals[t0].astype(np.int64)
    vent = vbase[lay[pfeat]] + tag_vals[t0 + 1].astype(np.int64)
    kid, kfrag = _json_fragments(keys)
    vid, vfrag = _value_fragments(w, vs, ve, vtag, vm)
    props = _props_json(pfeat, kent, vent, kfrag.take(kid), vfrag.take(vid), nfeat)

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
        h["tile"], last_name.take(lay), extent[lay].astype(np.int32),
        h["fid"].view(np.int64), h["gt"], xs, ys, vert_off, parts_flat, sizes, props,
    )
    if typed_props:
        typed = _typed_struct(vtag, vm).take(vent)
        entries = pa.StructArray.from_arrays(
            [keys.take(kent)] + typed.flatten(), fields=list(PROPS_T_STRUCT))
        out += (pa.ListArray.from_arrays(pa.array(pstart.astype(np.int32)), entries),)
    if raster:
        has = h["rstart"] >= 0
        lens = np.where(has, h["rend"] - h["rstart"], 0)
        out += (_binary(_gather_concat(allbuf, h["rstart"], lens), lens, has),)
    return out


# ---------------------------------------------------------------------------
# whole-batch tile encode (the Spark-facing entry point)
# ---------------------------------------------------------------------------

def _json_value(v: object) -> tuple[int, object]:
    """A JSON props value as a typed dictionary value."""
    if isinstance(v, bool):
        return mk.V_BOOL, v
    if isinstance(v, int):
        return mk.V_INT, v
    if isinstance(v, float):
        return mk.V_DOUBLE, v
    return mk.V_STRING, str(v)


def _typed_value(e: dict) -> tuple[int, object]:
    """One ``props_t`` entry as a typed dictionary value."""
    tag = int(e["tag"])
    v = e.get(TAG_FIELD.get(tag, "s"))
    return tag, bool(v) if tag == mk.V_BOOL else v


def _entries(units: list, unit: np.ndarray):
    """Dictionary entries of every feature. ``units[u]`` is a list of
    (key, (tag, value)) pairs and ``unit[f]`` feature f's unit (-1: none).

    Values compare as the per-tile dictionary compares them — equal
    (tag, value) tuples, so 0.0 and -0.0 are one entry and a NaN only
    matches itself — and each tile's entry is encoded from the value it
    first meets, which is why a value carries two ids: its class ``cls``
    and its ``exact`` encoding. Returns (per-feature entry offsets (n+1),
    key id, class id, exact id per entry, keys, exact values)."""
    kid: dict = {}
    cid: dict = {}
    xid: dict = {}
    values: list = []
    u_k: list[int] = []
    u_c: list[int] = []
    u_x: list[int] = []
    u_off = [0]
    for pairs in units + [[]]:  # the last, empty unit: features without one
        for k, tv in pairs:
            u_k.append(kid.setdefault(k, len(kid)))
            u_c.append(cid.setdefault(tv, len(cid)))
            ex = tv
            if isinstance(tv[1], float) and tv[1] == 0.0:  # +0.0 / -0.0
                ex = (*tv, math.copysign(1.0, tv[1]))
            if ex not in xid:
                xid[ex] = len(xid)
                values.append(tv)
            u_x.append(xid[ex])
        u_off.append(len(u_k))
    u_off = np.asarray(u_off, dtype=np.int64)
    unit = np.where(unit >= 0, unit, len(units))
    cnt = np.diff(u_off)[unit]
    off = np.zeros(unit.size + 1, dtype=np.int64)
    np.cumsum(cnt, out=off[1:])
    src = _gather_concat(np.arange(u_off[-1], dtype=np.int64), u_off[unit], cnt)
    return (off, np.asarray(u_k, np.int64)[src], np.asarray(u_c, np.int64)[src],
            np.asarray(u_x, np.int64)[src], list(kid), values)


def _first_ranks(tile: np.ndarray, ids: np.ndarray, ntiles: int):
    """Per-tile dictionaries by first occurrence: each entry's index in
    its tile's dictionary, and the dictionary items in (tile, index)
    order as (entry of first occurrence, tile, index)."""
    code = tile * (int(ids.max(initial=0)) + 1) + ids
    _, first, inv = np.unique(code, return_index=True, return_inverse=True)
    o = np.argsort(first, kind="stable")
    firsts = first[o]
    ut = tile[firsts]
    start = np.zeros(ntiles + 1, dtype=np.int64)
    np.cumsum(np.bincount(ut, minlength=ntiles), out=start[1:])
    rank_o = np.arange(o.size) - start[ut]
    rank = np.empty(o.size, dtype=np.int64)
    rank[o] = rank_o
    return rank[inv.reshape(-1)], firsts, ut, rank_o, np.diff(start)


def _pool(items: list[bytes]) -> tuple[bytes, np.ndarray]:
    """Byte strings → (concatenation, start offsets (n+1))."""
    off = np.zeros(len(items) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, items), dtype=np.int64, count=len(items)), out=off[1:])
    return b"".join(items), off


def encode_tile_rows_flat(
    tile_bounds: np.ndarray,
    feature_id: np.ndarray,
    geom_type: np.ndarray,
    xs: np.ndarray,            # flat int64 vertices (all features)
    ys: np.ndarray,
    vert_off: np.ndarray,      # int64 (nfeat+1) vertex spans
    po_flat: np.ndarray,       # flat LOCAL part offsets incl. trailing end
    po_off: np.ndarray,        # int64 (nfeat+1) spans into po_flat
    props_json,                # per-feature JSON string or None (list or Arrow)
    layer_name: str,
    extents: np.ndarray,       # int64 per tile
    version: int = 2,
    props_typed=None,          # per-feature list of tagged-union
    # structs {k, tag, s, f, d, i, u, si, b} (list or Arrow); overrides
    # props_json and preserves Float/Double/UInt/SInt/Bool type identity
    # that a JSON round-trip cannot (SURVEY §1.3; VectorTileReader.cs:166-214)
    ys_off: np.ndarray | None = None,  # ys list spans, when ys was
    # flattened apart from xs: must equal vert_off
) -> pa.Array:
    """Encode features (sorted + grouped by tile via tile_bounds) into one
    MVT blob per tile, returned as an Arrow binary array, fed directly
    from ListArray value/offset buffers. Everything is batch-vectorized
    across ALL tiles: geometry, varints and feature messages; per-tile
    key and value dictionaries by first-occurrence ranks; tile assembly
    as one gather. Python parses each distinct props string once and
    encodes each distinct key and value once. Byte-identical to
    mvt.encode_tile over the same layers (asserted in tests)."""
    nfeat = feature_id.size
    if ys_off is not None and not np.array_equal(ys_off, vert_off):
        raise ValueError("every feature needs as many ys as xs")
    pc_ = np.diff(po_off)
    pcounts = np.maximum(pc_ - 1, 0)
    feat_part_off = np.zeros(nfeat + 1, dtype=np.int64)
    np.cumsum(pcounts, out=feat_part_off[1:])
    if nfeat:
        total = int(po_off[-1])
        within = np.arange(total, dtype=np.int64) - np.repeat(po_off[:-1], pc_)
        keep = within < np.repeat(pc_, pc_) - 1  # drop each trailing end
        part_off = (
            po_flat.astype(np.int64) + np.repeat(vert_off[:-1], pc_)
        )[keep]
    else:
        part_off = np.empty(0, np.int64)
    xs = xs.astype(np.int64, copy=False)
    ys = ys.astype(np.int64, copy=False)
    ntiles = tile_bounds.size - 1
    feat_tile = np.repeat(np.arange(ntiles, dtype=np.int64), np.diff(tile_bounds))

    # --- dictionary entries: each distinct props string parsed once
    if props_typed is not None:
        if isinstance(props_typed, (pa.Array, pa.ChunkedArray)):
            props_typed = props_typed.to_pylist()
        units = [[(e["k"], _typed_value(e)) for e in p or ()] for p in props_typed]
        unit = np.arange(nfeat, dtype=np.int64)
    else:
        if isinstance(props_json, pa.ChunkedArray):
            props_json = props_json.combine_chunks()
        arr = props_json if isinstance(props_json, pa.Array) else pa.array(
            props_json, type=pa.string())
        enc = arr.dictionary_encode()
        unit = enc.indices.fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
        units = [[(k, _json_value(v)) for k, v in json.loads(s).items()] if s else []
                 for s in enc.dictionary.to_pylist()]
    ent_off, ent_k, ent_c, ent_x, keys, values = _entries(units, unit)
    ent_tile = np.repeat(feat_tile, np.diff(ent_off))
    krank, kfirst, ktile, krank_o, nk = _first_ranks(ent_tile, ent_k, ntiles)
    vrank, vfirst, vtile, vrank_o, nv = _first_ranks(ent_tile, ent_c, ntiles)
    tags_flat = np.stack([krank, vrank], axis=1).reshape(-1).astype(np.uint64)

    # --- batch feature-message encode
    feat_buf, feat_bspan = encode_features_batch(
        feature_id.astype(np.int64), geom_type.astype(np.int64),
        tags_flat, 2 * ent_off, xs, ys, vert_off, part_off, feat_part_off,
    )

    # --- tiles: [0x1a len][version, name][features][keys][values][extent]
    # as one gather over the pieces' bytes
    ev = pbf.encode_varint
    name_b = layer_name.encode("utf-8")
    head = b"\x78" + ev(version) + b"\x0a" + ev(len(name_b)) + name_b
    kpool, koff = _pool([b"\x1a" + ev(len(kb)) + kb for kb in (k.encode("utf-8") for k in keys)])
    vpool, voff = _pool([b"\x22" + ev(len(m)) + m for m in (
        mk._encode_value(t, v) for t, v in values)])
    ext = np.asarray(extents, dtype=np.int64)
    has_ext = ext != mk.DEFAULT_EXTENT
    ext_vals = np.stack([np.full(ntiles, 0x28, np.int64), ext], axis=1)[has_ext]
    ext_bytes = pbf.encode_varint_stream(ext_vals.reshape(-1).astype(np.uint64))
    ext_len = np.where(has_ext, 1 + varint_lengths(ext.astype(np.uint64)), 0)
    ext_start = np.cumsum(ext_len) - ext_len
    fb = feat_bspan[tile_bounds]
    vx = ent_x[vfirst]  # each tile's value entry is encoded as first met
    klen = np.diff(koff)[ent_k[kfirst]]
    vlen = np.diff(voff)[vx]
    layer_len = (len(head) + np.diff(fb) + np.bincount(ktile, klen, ntiles).astype(np.int64)
                 + np.bincount(vtile, vlen, ntiles).astype(np.int64) + ext_len)
    hdr = np.stack([np.full(ntiles, 0x1A, np.int64), layer_len], axis=1)
    hdr_bytes = pbf.encode_varint_stream(hdr.reshape(-1).astype(np.uint64))
    hdr_len = 1 + varint_lengths(layer_len.astype(np.uint64))

    parts = [hdr_bytes, head, feat_buf.tobytes(), kpool, vpool, ext_bytes]
    base = np.cumsum([0] + [len(p) for p in parts])
    src = np.frombuffer(b"".join(parts), dtype=np.uint8)
    nseg = 4 + nk + nv
    sb = np.cumsum(nseg) - nseg
    seg_s = np.empty(int(nseg.sum()), dtype=np.int64)
    seg_l = np.empty_like(seg_s)
    seg_s[sb], seg_l[sb] = base[0] + np.cumsum(hdr_len) - hdr_len, hdr_len
    seg_s[sb + 1], seg_l[sb + 1] = base[1], len(head)
    seg_s[sb + 2], seg_l[sb + 2] = base[2] + fb[:-1], np.diff(fb)
    i = sb[ktile] + 3 + krank_o
    seg_s[i], seg_l[i] = base[3] + koff[ent_k[kfirst]], klen
    i = sb[vtile] + 3 + nk[vtile] + vrank_o
    seg_s[i], seg_l[i] = base[4] + voff[vx], vlen
    i = sb + 3 + nk + nv
    seg_s[i], seg_l[i] = base[5] + ext_start, ext_len
    data = _gather_concat(src, seg_s, seg_l)
    return _binary(data, hdr_len + layer_len)

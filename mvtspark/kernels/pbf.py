"""Protobuf wire-format codecs, vectorized in numpy.

Re-implements (from the public protobuf wire spec + observed reference
behavior) the decode surface of the reference's PbfReader:

- base-128 varint decode/encode          (ref: src/PbfReader/PbfReader.cs:56-75)
- zigzag32/64 decode/encode              (ref: src/PbfReader/PbfReader.cs:148-157)
- packed repeated varint fields          (ref: src/PbfReader/PbfReader.cs:109-145)
- field header split (tag, wire type)    (ref: src/PbfReader/PbfReader.cs:206-225)
- length-delimited sub-message views     (ref: src/PbfReader/PbfReader.cs:83-102)
- fixed32/fixed64/string reads           (ref: src/PbfReader/PbfReader.cs:164-199)

Design note: the reference's ``View()`` copies bytes (its own TODO at
PbfReader.cs:11-15 wants zero-copy); here every "view" is an
(offset, length) pair into one contiguous numpy uint8 buffer — the
zero-copy layout the reference wished for, realized via Arrow/numpy.

Vectorized varint decode: a packed varint stream is decoded with
``np.bitwise_or.reduceat`` over 7-bit limbs — no per-value Python loop.
"""

from __future__ import annotations

import numpy as np

# Wire types (public protobuf spec; ref: src/PbfReader/Constants.cs)
WT_VARINT = 0
WT_FIXED64 = 1
WT_BYTES = 2
WT_FIXED32 = 5

# The reference rejects tag 0 and every tag >= 19000 (stricter than the
# proto reserved range 19000-19999): src/PbfReader/PbfReader.cs:216-222.
MAX_TAG = 19000


class PbfError(ValueError):
    """Structural protobuf decode error (mirrors reference exceptions)."""


# ---------------------------------------------------------------------------
# zigzag
# ---------------------------------------------------------------------------

def zigzag_decode(v: np.ndarray) -> np.ndarray:
    """(v >>> 1) ^ -(v & 1) — the shift is LOGICAL (C# casts through
    ulong), so go through a uint64 view; an arithmetic int64 shift
    diverges for magnitudes >= 2^62. ref: PbfReader.cs:148-157."""
    v = np.asarray(v, dtype=np.int64)
    u = (v.view(np.uint64) >> np.uint64(1)).view(np.int64)
    return u ^ -(v & 1)


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    """(v << 1) ^ (v >> 63) on int64 → unsigned magnitude in int64."""
    v = np.asarray(v, dtype=np.int64)
    return (v << 1) ^ (v >> 63)


# ---------------------------------------------------------------------------
# varint streams (vectorized)
# ---------------------------------------------------------------------------

def decode_varint_stream(buf: np.ndarray) -> np.ndarray:
    """Decode a buffer consisting solely of concatenated varints.

    Vectorized: identifies value boundaries via the continuation bit,
    then OR-reduces shifted 7-bit limbs per group. Returns uint64.

    ref semantics: src/PbfReader/PbfReader.cs:56-75 (Varint), including
    the ≤10-byte guard.
    """
    b = np.asarray(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    last = (b & 0x80) == 0  # terminator byte of each varint
    if not last[-1]:
        raise PbfError("truncated varint at end of stream")
    starts = np.flatnonzero(np.concatenate(([True], last[:-1])))
    lens = np.diff(np.concatenate((starts, [b.size])))
    maxlen = int(lens.max())
    if maxlen > 10:
        raise PbfError("varint longer than 10 bytes")  # PbfReader.cs:71-73
    # bounded masked loop over byte positions — O(total bytes) with pure
    # fancy indexing. (bitwise_or.reduceat costs ~hundreds of ns per
    # GROUP, which at millions of 1-2 byte varints dominated decode.)
    out = (b[starts] & 0x7F).astype(np.uint64)
    for k in range(1, maxlen):
        sel = lens > k
        out[sel] |= (b[starts[sel] + k] & np.uint64(0x7F)).astype(
            np.uint64
        ) << np.uint64(7 * k)
    return out


#: 128**k for k = 1..9: a value takes one more varint byte per threshold
#: it reaches (128**9 = 2**63 still fits uint64)
_VARINT_STEPS = np.uint64(128) ** np.arange(1, 10, dtype=np.uint64)


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length of each uint64 value (1..10): one plus the
    number of thresholds it reaches. Below 128**3 (known from the max)
    sum ``v >= t`` over the one or two reachable thresholds, about 2-4x
    faster there; wider streams count them in one binary search."""
    v = np.asarray(values, dtype=np.uint64)
    reach = int(np.searchsorted(_VARINT_STEPS, v.max(initial=0), "right"))
    if reach <= 2:
        out = np.ones(v.shape, np.int64)
        for t in _VARINT_STEPS[:reach]:
            out += v >= t
        return out
    return 1 + np.searchsorted(_VARINT_STEPS, v, side="right").astype(np.int64)


def encode_varint_stream(values: np.ndarray) -> bytes:
    """Encode uint64 values as a concatenated varint byte stream.

    Vectorized, with no loop over byte positions: ``rest`` holds, for
    each output byte, its value shifted down to that byte's 7 bits, so
    a byte is ``rest & 0x7F`` with the continuation bit set while
    ``rest`` has bits above them. Streams of 1- and 2-byte varints use a
    (values × width) matrix and take out each value's first byte and
    every byte with bits left; wider ones repeat each value once per
    byte of its own length, so one wide id among small values does not
    widen every row.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    width = int(varint_lengths(v.max()))
    if width <= 2:
        rest = v[:, None] >> (np.uint64(7) * np.arange(width, dtype=np.uint64))
        keep = rest != 0
        keep[:, 0] = True
    else:
        lens = varint_lengths(v)
        rest = np.repeat(v, lens)
        shift = np.full(rest.size, 7, dtype=np.int64)  # 7 per byte, 0 at each value's first
        shift[0] = 0
        shift[np.cumsum(lens[:-1])] = 7 - 7 * lens[:-1]
        rest >>= np.cumsum(shift).astype(np.uint64)
        keep = None
    out = (rest & np.uint64(0x7F)).astype(np.uint8)
    out |= (rest > np.uint64(0x7F)).view(np.uint8) << np.uint8(7)
    return (out if keep is None else out[keep]).tobytes()


def encode_varint(value: int) -> bytes:
    """Single-value varint encode (header/bookkeeping path)."""
    v = int(value) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# ---------------------------------------------------------------------------
# message walking (per-message Python loop; amortized per tile, not per row)
# ---------------------------------------------------------------------------

def read_varint(buf: memoryview, pos: int) -> tuple[int, int]:
    """Read one varint at pos → (value, new_pos). ref: PbfReader.cs:56-75."""
    result = 0
    shift = 0
    n = len(buf)
    while True:
        if pos >= n:
            raise PbfError("truncated varint")
        if shift >= 70:
            raise PbfError("varint longer than 10 bytes")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result & 0xFFFFFFFFFFFFFFFF, pos
        shift += 7


def read_key(buf: memoryview, pos: int) -> tuple[int, int, int]:
    """Read a field header → (tag, wire_type, new_pos).

    Enforces the reference's tag guard: 0 < tag < 19000
    (ref: src/PbfReader/PbfReader.cs:216-222).
    """
    key, pos = read_varint(buf, pos)
    tag = key >> 3
    wt = key & 0x7
    if tag == 0 or tag >= MAX_TAG:
        raise PbfError(f"tag out of range: {tag}")
    return tag, wt, pos


def skip(buf: memoryview, pos: int, wire_type: int) -> int:
    """Skip one field body by wire type. ref: PbfReader.cs:269-297."""
    if wire_type == WT_VARINT:
        _, pos = read_varint(buf, pos)
        return pos
    if wire_type == WT_BYTES:
        ln, pos = read_varint(buf, pos)
        return pos + ln
    if wire_type == WT_FIXED32:
        return pos + 4
    if wire_type == WT_FIXED64:
        return pos + 8
    raise PbfError(f"unsupported wire type {wire_type}")


def field_key(tag: int, wire_type: int) -> bytes:
    return encode_varint((tag << 3) | wire_type)


def ld_field(tag: int, payload: bytes) -> bytes:
    """Length-delimited field: key + len + payload."""
    return field_key(tag, WT_BYTES) + encode_varint(len(payload)) + payload


def varint_field(tag: int, value: int) -> bytes:
    return field_key(tag, WT_VARINT) + encode_varint(value)

"""pbf kernel unit tests (mirrors reference src/VectorTiles.Tests/TestPbfReader.cs)."""

import numpy as np
import pytest

from mvtspark.kernels import pbf


def test_zigzag_roundtrip():
    v = np.array([0, -1, 1, -2, 2, 2**31 - 1, -(2**31), 123456789, -987654321])
    assert np.array_equal(pbf.zigzag_decode(pbf.zigzag_encode(v)), v)
    # known pairs from the public spec
    assert pbf.zigzag_encode(np.array([0]))[0] == 0
    assert pbf.zigzag_encode(np.array([-1]))[0] == 1
    assert pbf.zigzag_encode(np.array([1]))[0] == 2
    assert pbf.zigzag_encode(np.array([-2]))[0] == 3


def test_varint_stream_roundtrip():
    rng = np.random.default_rng(42)
    vals = np.concatenate(
        [
            np.array([0, 1, 127, 128, 300, 2**32 - 1, 2**63, 2**64 - 1], dtype=np.uint64),
            rng.integers(0, 2**63, size=1000).astype(np.uint64),
        ]
    )
    enc = pbf.encode_varint_stream(vals)
    dec = pbf.decode_varint_stream(np.frombuffer(enc, dtype=np.uint8))
    assert np.array_equal(dec, vals)


@pytest.mark.parametrize("width", [1, 2, 3, 9, 10])
def test_varint_stream_bytes_match_scalar_encoder(width):
    """The vectorized encoder writes exactly the scalar encoder's bytes,
    at every length boundary and on random arrays of each width class
    (the narrow matrix path, and the per-byte path where one wide value
    sits among small ones)."""
    edges = [0, 127, 128, 2**14 - 1, 2**14, 2**63, 2**64 - 1]
    rng = np.random.default_rng(width)
    top = min(128**width, 2**64) - 1
    rand = rng.integers(0, top, size=2000, dtype=np.uint64, endpoint=True)
    mixed = rand.copy()
    mixed[::7] = rng.integers(0, 128, size=mixed[::7].size, dtype=np.uint64)
    for vals in ([v for v in edges if v <= top], rand, mixed, rand[:1]):
        arr = np.array(vals, dtype=np.uint64)
        assert pbf.encode_varint_stream(arr) == b"".join(
            pbf.encode_varint(int(v)) for v in arr)


def test_varint_known_bytes():
    # 300 = 0xAC 0x02 (public protobuf doc example)
    assert pbf.encode_varint(300) == b"\xac\x02"
    dec = pbf.decode_varint_stream(np.frombuffer(b"\xac\x02", dtype=np.uint8))
    assert dec[0] == 300


def test_varint_lengths_at_byte_boundaries():
    """Every threshold a varint's length steps at, against the scalar
    encoder's own byte count."""
    vals = [0, 127, 128, 2**35 - 1, 2**35, 2**63, 2**64 - 1]
    got = pbf.varint_lengths(np.array(vals, dtype=np.uint64))
    assert got.tolist() == [len(pbf.encode_varint(v)) for v in vals]
    assert got.tolist() == [1, 1, 2, 5, 6, 10, 10]
    # mixed widths on either side of the method switch (max below 128**3
    # sums thresholds, wider streams binary-search): every boundary
    # value, each array's own max included
    edges = [0, 1, 127, 128, 129, 2**14 - 1, 2**14, 2**21 - 1, 2**21,
             2**28, 2**49 - 1, 2**56, 2**63 - 1, 2**64 - 1]
    for top in range(1, len(edges) + 1):
        vals = np.array(edges[:top][::-1] + edges[:top], dtype=np.uint64)
        want = [len(pbf.encode_varint(int(v))) for v in vals]
        assert pbf.varint_lengths(vals).tolist() == want
        assert int(pbf.varint_lengths(vals.max())) == max(want)
    assert pbf.varint_lengths(np.zeros(0, np.uint64)).tolist() == []


def test_varint_truncated_raises():
    with pytest.raises(pbf.PbfError):
        pbf.decode_varint_stream(np.array([0x80], dtype=np.uint8))


def test_varint_too_long_raises():
    # 11 continuation bytes — reference guards at 10 (PbfReader.cs:71-73)
    bad = np.array([0x80] * 11 + [0x01], dtype=np.uint8)
    with pytest.raises(pbf.PbfError):
        pbf.decode_varint_stream(bad)


def test_tag_guard():
    # tag 0 and tag >= 19000 rejected (PbfReader.cs:216-222)
    buf = memoryview(pbf.encode_varint(0 << 3 | 0))
    with pytest.raises(pbf.PbfError):
        pbf.read_key(buf, 0)
    buf = memoryview(pbf.encode_varint(19000 << 3 | 0))
    with pytest.raises(pbf.PbfError):
        pbf.read_key(buf, 0)


def test_skip_by_wiretype():
    body = (
        pbf.varint_field(1, 12345)
        + pbf.field_key(2, pbf.WT_FIXED64) + b"\x00" * 8
        + pbf.field_key(3, pbf.WT_FIXED32) + b"\x00" * 4
        + pbf.ld_field(4, b"hello")
        + pbf.varint_field(5, 7)
    )
    buf = memoryview(body)
    pos = 0
    seen = []
    while pos < len(buf):
        tag, wt, pos = pbf.read_key(buf, pos)
        seen.append(tag)
        if tag == 5:
            v, pos = pbf.read_varint(buf, pos)
            assert v == 7
        else:
            pos = pbf.skip(buf, pos, wt)
    assert seen == [1, 2, 3, 4, 5]

"""JFIF header parsing: short or malformed segments raise ValueError naming
the segment, and fill bytes before a marker (T.81 B.1.1.2) are skipped."""

import struct

import numpy as np
import pytest

from mvtspark.kernels.jpeg import decode_jpeg, encode_jpeg


@pytest.fixture(scope="module")
def enc():
    img = np.random.default_rng(3).integers(0, 256, (16, 16, 3), np.uint8)
    return encode_jpeg(img, 85)


def _set_length(enc: bytes, marker: bytes, ln: int) -> bytes:
    i = enc.index(marker)
    return enc[: i + 2] + struct.pack(">H", ln) + enc[i + 4 :]


def test_short_sof_raises_value_error(enc):
    with pytest.raises(ValueError, match="SOF0"):
        decode_jpeg(_set_length(enc, b"\xff\xc0", 4))


def test_empty_dri_raises_value_error(enc):
    i = enc.index(b"\xff\xc0")
    with pytest.raises(ValueError, match="DRI"):
        decode_jpeg(enc[:i] + b"\xff\xdd\x00\x02" + enc[i:])


def test_short_sos_raises_value_error(enc):
    with pytest.raises(ValueError, match="SOS"):
        decode_jpeg(_set_length(enc, b"\xff\xda", 3))


@pytest.mark.parametrize("marker", [b"\xff\xc0", b"\xff\xdb", b"\xff\xe0"])
@pytest.mark.parametrize("ln", [0, 1])
def test_segment_length_below_two_raises_value_error(enc, marker, ln):
    with pytest.raises(ValueError, match="length"):
        decode_jpeg(_set_length(enc, marker, ln))


def test_short_dqt_and_dht_raise_value_error(enc):
    with pytest.raises(ValueError, match="DQT"):
        decode_jpeg(_set_length(enc, b"\xff\xdb", 40))
    with pytest.raises(ValueError, match="DHT"):
        decode_jpeg(_set_length(enc, b"\xff\xc4", 10))


def test_undefined_table_raises_value_error(enc):
    i = enc.index(b"\xff\xc0") + 2 + 2 + 6  # first component spec
    bad = enc[: i + 2] + b"\x03" + enc[i + 3 :]  # quant table 3: undefined
    with pytest.raises(ValueError, match="component 1"):
        decode_jpeg(bad)


def test_fill_bytes_before_marker_are_skipped(enc):
    i = enc.index(b"\xff\xc0")
    clean = decode_jpeg(enc)
    for fill in (b"\xff", b"\xff\xff\xff"):
        assert np.array_equal(decode_jpeg(enc[:i] + fill + enc[i:]), clean)


def test_zero_sampling_factor_and_cut_marker_raise_value_error(enc):
    i = enc.index(b"\xff\xc0") + 2 + 2 + 6  # first component spec
    with pytest.raises(ValueError, match="sampling"):
        decode_jpeg(enc[: i + 1] + b"\x00" + enc[i + 2 :])
    j = enc.index(b"\xff\xc0")
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(enc[:j + 1])

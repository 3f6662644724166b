"""Hand-authored invalid-tile corpus — one byte template per validation
class of the P5 suite (the reference's invalid-fixture strategy,
src/VectorTiles.Tests/TestInvalidMvtInBulk.cs:46-65, rebuilt as raw
wire bytes so NO encoder — ours or anyone's — is in the loop).

Each class must be detected by the strict decoder
(kernels/mvt.py::decode_tile(validate=True)); class 0 is the intact
control and must decode exactly one feature. Reference validation
sites are cited per class."""

from __future__ import annotations

# the valid single-point layer body (same logical tile as the reference's
# Feature-single-point fixture: layer "layer_name", POINT id=123,
# hello=world) — hand bytes, mirror of tests/test_wire_goldens.py
_FEATURE = bytes(
    [0x08, 0x7B]  # id = 123
    + [0x12, 0x02, 0x00, 0x00]  # tags = [0, 0]
    + [0x18, 0x01]  # type = POINT
    + [0x22, 0x03, 0x09, 0x32, 0x22]  # geometry MoveTo(25,17)
)
_NAME = bytes([0x0A, 0x0A]) + b"layer_name"
_KEY = bytes([0x1A, 0x05]) + b"hello"
_VAL = bytes([0x22, 0x07, 0x0A, 0x05]) + b"world"
_VERSION = bytes([0x78, 0x02])


def _tile(layer_body: bytes) -> bytes:
    assert len(layer_body) < 128
    return bytes([0x1A, len(layer_body)]) + layer_body


def _layer(feature: bytes = _FEATURE, name: bytes = _NAME,
           version: bytes = _VERSION, key: bytes = _KEY,
           val: bytes = _VAL, extent: bytes = b"") -> bytes:
    feat = bytes([0x12, len(feature)]) + feature if feature else b""
    return version + name + feat + key + val + extent


VALID_TILE = _tile(_layer())

#: class id -> (description, tile bytes, reference validation site)
INVALID_CLASSES: dict[int, tuple[str, bytes, str]] = {
    0: ("intact control", VALID_TILE, "TestMvtSingle.cs:26-41"),
    1: ("empty tile", b"", "VectorTileReader.cs:33-37"),
    2: ("gzip magic", b"\x1f\x8b" + VALID_TILE, "VectorTileReader.cs:39-42"),
    3: ("truncated varint (continuation bit at EOF)", b"\x1a\xff",
        "PbfReader.cs varint overrun"),
    4: ("unsupported wire type 3 inside feature message",
        _tile(_layer(feature=_FEATURE + bytes([0x2B]))),
        "PbfReader.cs:216-222 (skip of group wire types)"),
    5: ("zero field tag", b"\x00" + VALID_TILE[1:], "PbfReader.cs:216-222"),
    6: ("unknown tile-level tag", b"\x08\x01" + VALID_TILE,
        "VectorTileReader.cs:58-64"),
    7: ("layer version != 2",
        _tile(_layer(version=bytes([0x78, 0x01]))),
        "VectorTileReader.cs:224-230"),
    8: ("layer missing name", _tile(_layer(name=b"")),
        "VectorTileReader.cs:231-236"),
    9: ("layer with zero features", _tile(_layer(feature=b"")),
        "VectorTileReader.cs:237-241"),
    10: ("layer extent 0",
         _tile(_layer(extent=bytes([0x28, 0x00]))),
         "VectorTileReader.cs:242-247"),
    11: ("duplicate layer names", _tile(_layer()) + _tile(_layer()),
         "VectorTileReader.cs:82-92"),
    12: ("non-distinct layer values", _tile(_layer(val=_VAL + _VAL)),
         "VectorTileReader.cs:248-252 (distinct values)"),
    13: ("feature without geometry type",
         _tile(_layer(feature=_FEATURE[:6] + _FEATURE[8:])),
         "VectorTileReader.cs:331-340"),
    14: ("feature without geometry",
         _tile(_layer(feature=_FEATURE[:-5])),
         "VectorTileReader.cs:341-350"),
    15: ("odd feature tag count",
         _tile(_layer(feature=_FEATURE[:2] + bytes([0x12, 0x01, 0x00])
                      + _FEATURE[6:])),
         "VectorTileReader.cs:351-356"),
    16: ("tag key index out of range",
         _tile(_layer(feature=_FEATURE[:2] + bytes([0x12, 0x02, 0x05, 0x00])
                      + _FEATURE[6:])),
         "VectorTileReader.cs:357-364"),
    17: ("tag value index out of range",
         _tile(_layer(feature=_FEATURE[:2] + bytes([0x12, 0x02, 0x00, 0x05])
                      + _FEATURE[6:])),
         "VectorTileReader.cs:365-372"),
    18: ("length-delimited field overruns tile",
         bytes([0x1A, 0x7F]) + _layer()[:20],
         "layer length > remaining bytes"),
}

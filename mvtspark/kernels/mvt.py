"""Mapbox Vector Tile (spec 2.x) per-tile strict oracle, encoder and
shared helpers.

Role: the Spark decode path runs on the batch kernel
(kernels/mvt_batch.py), which reads every message level with its own
vectorized field walker and takes only constants, the value encoder and
strict-mode error names from here. ``decode_tile`` here stays as the
per-tile strict oracle: the batch kernel names each tile it rejects in
strict mode by the exception this decoder raises, tests compare the
batch kernel against it, and functions/sql_udtf.py serves it
row-at-a-time. Semantics follow the
public MVT spec and the reference's observable behaviour (and quirks):

- root message: repeated Layer at tag 3
                  (ref: src/PbfReader/Constants.cs:36-39)
- layer fields: Version 15, Name 1, Features 2, Keys 3, Values 4,
  Extent 5 (default 4096)
                  (ref: src/PbfReader/Constants.cs:45-53;
                   src/VectorTileReader/VectorTileReader.cs:148-221)
- feature fields: Id 1, Tags 2 (packed), Type 3, Geometry 4 (packed)
                  (ref: src/PbfReader/Constants.cs:59-66;
                   src/VectorTileReader/VectorTileReader.cs:270-375)
- 7-way value union; reference QUIRKS replicated exactly:
    * SInt (tag 6) decoded WITHOUT zigzag — deviates from the MVT spec
      (ref: src/VectorTileReader/VectorTileReader.cs:194-196 uses plain
       Varint(); decodeZigZag64 exists but is never called on values)
    * UInt (tag 5) returned as signed long
      (ref: VectorTileReader.cs:190-192)
- gzip rejection (magic 0x1f 0x8b)
                  (ref: src/VectorTileReader/VectorTileReader.cs:39-42)
- full validation suite (strict mode), mirroring VectorTileReader.cs:
  unique non-empty layer names (:82-92,226-229), version==2 (:230-237),
  extent>0 (:238-241), >=1 feature (:242-245), distinct layer values
  (:247-251), geom type+geometry present (:331-340), even tag count
  (:341-344), tag indices in range (:345-371), tag<19000
  (PbfReader.cs:216-222).

Value model: each decoded value is a (type_tag, python_value) pair so
re-encode is lossless (type_tag ∈ 1..7 per Constants.cs:74-80).

Decoding walks bytes with a per-TILE Python loop; geometry command
streams are kept packed (kernels.geom decodes them).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from . import pbf
from .pbf import PbfError, read_key, read_varint, skip

# layer/feature tags — ref: src/PbfReader/Constants.cs
T_LAYERS = 3
L_NAME = 1
L_FEATURES = 2
L_KEYS = 3
L_VALUES = 4
L_EXTENT = 5
L_VERSION = 15
F_ID = 1
F_TAGS = 2
F_TYPE = 3
F_GEOMETRY = 4
F_RASTER = 5  # declared, never decoded — ref: Constants.cs:65, no reader
V_STRING, V_FLOAT, V_DOUBLE, V_INT, V_UINT, V_SINT, V_BOOL = 1, 2, 3, 4, 5, 6, 7

DEFAULT_EXTENT = 4096


class MvtError(ValueError):
    """Strict-mode validation failure (mirrors reference exceptions)."""


@dataclass
class Feature:
    id: int = 0
    geom_type: int = 0
    geometry: np.ndarray = field(default_factory=lambda: np.empty(0, np.uint32))
    tags: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    # Feature.Raster (tag 5): the reference DECLARES it (Constants.cs:65,
    # enum description Constants.cs:122) but never decodes it — we carry
    # the payload through byte-exact so the proto surface is total.
    raster: bytes | None = None


@dataclass
class Layer:
    name: str = ""
    version: int = 0
    extent: int = DEFAULT_EXTENT
    keys: list[str] = field(default_factory=list)
    values: list[tuple[int, object]] = field(default_factory=list)
    features: list[Feature] = field(default_factory=list)

    def properties(self, feat: Feature) -> dict[str, object]:
        """Tag→dictionary join (ref: VectorTileFeature.cs:152-166)."""
        out: dict[str, object] = {}
        t = feat.tags
        for i in range(0, len(t) - 1, 2):
            out[self.keys[int(t[i])]] = self.values[int(t[i + 1])][1]
        return out

    def get_value(self, feat: Feature, key: str) -> object:
        """Key-probe semi-join (ref: VectorTileFeature.cs:174-192):
        returns None when key not among feature tags; raises when key is
        absent from the layer dictionary entirely."""
        if key not in self.keys:
            raise MvtError(f"key [{key}] does not exist")
        idx = self.keys.index(key)
        t = feat.tags
        for i in range(0, len(t) - 1, 2):
            if int(t[i]) == idx:
                return self.values[int(t[i + 1])][1]
        return None


def _decode_value(buf: memoryview) -> tuple[int, object]:
    """Decode one Value sub-message (7-way union).

    ref: VectorTileReader.cs:166-214 — including the SInt-without-zigzag
    and UInt-as-signed-long quirks.
    """
    pos = 0
    n = len(buf)
    while pos < n:
        tag, wt, pos = read_key(buf, pos)
        if tag == V_STRING:
            ln, pos = read_varint(buf, pos)
            return V_STRING, bytes(buf[pos : pos + ln]).decode("utf-8")
        if tag == V_FLOAT:
            return V_FLOAT, struct.unpack_from("<f", buf, pos)[0]
        if tag == V_DOUBLE:
            return V_DOUBLE, struct.unpack_from("<d", buf, pos)[0]
        if tag == V_INT:
            v, pos = read_varint(buf, pos)
            return V_INT, _to_signed(v)
        if tag == V_UINT:  # returned as signed long — VectorTileReader.cs:190-192
            v, pos = read_varint(buf, pos)
            return V_UINT, _to_signed(v)
        if tag == V_SINT:  # plain varint, NO zigzag — VectorTileReader.cs:194-196
            v, pos = read_varint(buf, pos)
            return V_SINT, _to_signed(v)
        if tag == V_BOOL:
            v, pos = read_varint(buf, pos)
            return V_BOOL, v == 1
        pos = skip(buf, pos, wt)
    raise MvtError("empty value message")


def _to_signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _decode_packed_u32(buf: memoryview, pos: int) -> tuple[np.ndarray, int]:
    ln, pos = read_varint(buf, pos)
    arr = np.frombuffer(buf, dtype=np.uint8, count=ln, offset=pos)
    vals = pbf.decode_varint_stream(arr)
    return vals, pos + ln


def decode_feature(buf: memoryview, validate: bool, layer: Layer) -> Feature:
    """ref: src/VectorTileReader/VectorTileReader.cs:270-375."""
    f = Feature()
    pos = 0
    n = len(buf)
    has_geom = False
    while pos < n:
        tag, wt, pos = read_key(buf, pos)
        if tag == F_ID:
            f.id, pos = read_varint(buf, pos)
        elif tag == F_TAGS:
            vals, pos = _decode_packed_u32(buf, pos)
            f.tags = vals.astype(np.int64)
        elif tag == F_TYPE:
            v, pos = read_varint(buf, pos)
            f.geom_type = v
        elif tag == F_GEOMETRY:
            vals, pos = _decode_packed_u32(buf, pos)
            f.geometry = vals.astype(np.uint32)
            has_geom = True
        elif tag == F_RASTER and wt == pbf.WT_BYTES:
            # only claim tag 5 when it is the length-delimited raster
            # field — a mismatched wire type (invalid corpus class 4)
            # must still fall through to skip()'s wire-type rejection
            ln, pos = read_varint(buf, pos)
            if pos + ln > len(buf):
                # memoryview slices truncate silently — a corrupt
                # length must fail loudly, matching the decode_tile
                # layer-length guard (invalid corpus class 4)
                raise MvtError("raster length overruns feature")
            f.raster = bytes(buf[pos : pos + ln])
            pos += ln
        else:
            pos = skip(buf, pos, wt)
    if validate:
        # ref: VectorTileReader.cs:331-372
        if f.geom_type == 0:
            raise MvtError("feature has no geometry type")
        if not has_geom or f.geometry.size == 0:
            raise MvtError("feature has no geometry")
        if f.tags.size % 2 != 0:
            raise MvtError("uneven number of feature tags")
        if f.tags.size:
            key_idx = f.tags[0::2]
            val_idx = f.tags[1::2]
            if key_idx.size and int(key_idx.max()) >= len(layer.keys):
                raise MvtError("tag key index out of range")
            if val_idx.size and int(val_idx.max()) >= len(layer.values):
                raise MvtError("tag value index out of range")
    return f


def read_layer(buf: memoryview, validate: bool) -> tuple[Layer, list[tuple[int, int]]]:
    """Walk one layer message → (Layer without features, the (start, end)
    span of each feature message in ``buf``, clipped to the layer as a
    memoryview slice would be). ``validate`` applies the layer checks.
    ref: src/VectorTileReader/VectorTileReader.cs:134-252."""
    layer = Layer()
    keys, values = layer.keys, layer.values
    feature_spans: list[tuple[int, int]] = []
    pos = 0
    n = len(buf)
    while pos < n:
        tag, wt, pos = read_key(buf, pos)
        if tag == L_VERSION:
            layer.version, pos = read_varint(buf, pos)
        elif tag == L_NAME:
            ln, pos = read_varint(buf, pos)
            layer.name = bytes(buf[pos : pos + ln]).decode("utf-8")
            pos += ln
        elif tag == L_EXTENT:
            layer.extent, pos = read_varint(buf, pos)
        elif tag == L_KEYS:
            ln, pos = read_varint(buf, pos)
            keys.append(bytes(buf[pos : pos + ln]).decode("utf-8"))
            pos += ln
        elif tag == L_VALUES:
            ln, pos = read_varint(buf, pos)
            values.append(_decode_value(buf[pos : pos + ln]))
            pos += ln
        elif tag == L_FEATURES:
            ln, pos = read_varint(buf, pos)
            end = pos + ln
            feature_spans.append((pos, end if end < n else n))  # lazy
            pos = end
        else:
            pos = skip(buf, pos, wt)
    if validate:
        # ref: VectorTileReader.cs:224-252
        if not layer.name:
            raise MvtError("layer missing name")
        if layer.version != 2:
            raise MvtError(f"unsupported layer version {layer.version}")
        if layer.extent <= 0:
            raise MvtError(f"layer has invalid extent {layer.extent}")
        if not feature_spans:
            raise MvtError("layer has no features")
        if len({v for _, v in layer.values}) != len(layer.values):
            raise MvtError("layer values are not distinct")
    return layer, feature_spans


def decode_layer(buf: memoryview, validate: bool) -> Layer:
    """ref: src/VectorTileReader/VectorTileReader.cs:134-252."""
    layer, feature_spans = read_layer(buf, validate)
    for s, e in feature_spans:
        layer.features.append(decode_feature(buf[s:e], validate, layer))
    return layer


def iter_layers(data: bytes, validate: bool):
    """Walk a tile's top-level fields → (start, memoryview) of each layer
    message, raising on the tile-level faults.

    ref lifecycle: src/VectorTileReader/VectorTile.cs:23-26 +
    VectorTileReader.cs:31-100 (incl. gzip guard :39-42).
    """
    if data is None or len(data) == 0:
        raise MvtError("tile data is empty")
    if len(data) >= 2 and data[0] == 0x1F and data[1] == 0x8B:
        raise MvtError("tile data is gzipped")  # VectorTileReader.cs:39-42
    buf = memoryview(data)
    pos = 0
    n = len(buf)
    while pos < n:
        tag, wt, pos = read_key(buf, pos)
        if tag == T_LAYERS:
            ln, pos = read_varint(buf, pos)
            if pos + ln > n:  # a memoryview slice would silently truncate
                raise MvtError("layer length overruns tile")
            yield pos, buf[pos : pos + ln]
            pos += ln
        else:
            if validate:
                raise MvtError(f"unknown tile tag {tag}")  # VectorTileReader.cs:58-64
            pos = skip(buf, pos, wt)


def decode_tile(data: bytes, validate: bool = False) -> dict[str, Layer]:
    """Decode a full tile → ordered {layer_name: Layer}; layer names are
    unique (VectorTileReader.cs:82-92)."""
    layers: dict[str, Layer] = {}
    for _, lbuf in iter_layers(data, validate):
        layer = decode_layer(lbuf, validate)
        if layer.name in layers:
            raise MvtError(f"duplicate layer name {layer.name}")
        layers[layer.name] = layer
    return layers


# ---------------------------------------------------------------------------
# encode (inverse — S9 in SURVEY §2.1; no reference impl, spec-derived)
# ---------------------------------------------------------------------------

def _encode_value(type_tag: int, v: object) -> bytes:
    if type_tag == V_STRING:
        return pbf.ld_field(V_STRING, str(v).encode("utf-8"))
    if type_tag == V_FLOAT:
        return pbf.field_key(V_FLOAT, pbf.WT_FIXED32) + struct.pack("<f", float(v))
    if type_tag == V_DOUBLE:
        return pbf.field_key(V_DOUBLE, pbf.WT_FIXED64) + struct.pack("<d", float(v))
    if type_tag in (V_INT, V_UINT, V_SINT):
        # inverse of the reference's plain-varint reads (no zigzag on SInt)
        return pbf.varint_field(type_tag, int(v) & 0xFFFFFFFFFFFFFFFF)
    if type_tag == V_BOOL:
        return pbf.varint_field(V_BOOL, 1 if v else 0)
    raise MvtError(f"unknown value type {type_tag}")


def encode_feature(feat: Feature) -> bytes:
    out = bytearray()
    if feat.id:
        out += pbf.varint_field(F_ID, feat.id)
    if feat.tags.size:
        out += pbf.ld_field(
            F_TAGS, pbf.encode_varint_stream(feat.tags.astype(np.uint64))
        )
    out += pbf.varint_field(F_TYPE, feat.geom_type)
    out += pbf.ld_field(
        F_GEOMETRY, pbf.encode_varint_stream(feat.geometry.astype(np.uint64))
    )
    if feat.raster is not None:
        out += pbf.ld_field(F_RASTER, feat.raster)
    return bytes(out)


def encode_layer(layer: Layer) -> bytes:
    out = bytearray()
    out += pbf.varint_field(L_VERSION, layer.version or 2)
    out += pbf.ld_field(L_NAME, layer.name.encode("utf-8"))
    for f in layer.features:
        out += pbf.ld_field(L_FEATURES, encode_feature(f))
    for k in layer.keys:
        out += pbf.ld_field(L_KEYS, k.encode("utf-8"))
    for t, v in layer.values:
        out += pbf.ld_field(L_VALUES, _encode_value(t, v))
    if layer.extent != DEFAULT_EXTENT:
        out += pbf.varint_field(L_EXTENT, layer.extent)
    return bytes(out)


def encode_tile(layers: list[Layer]) -> bytes:
    out = bytearray()
    for layer in layers:
        out += pbf.ld_field(T_LAYERS, encode_layer(layer))
    return bytes(out)

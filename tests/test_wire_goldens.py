"""Hand-authored wire-level golden fixtures (VERDICT round-1 gap #1).

Every byte below is written BY HAND from the public Mapbox Vector Tile
spec (protobuf wire format + vector_tile.proto field numbers), NOT
produced by this repo's encoder — so an encoder and decoder that agreed
on a *wrong* message layout would fail here. The geometry streams for
the linestring and polygon goldens are the MVT spec's own worked
examples (spec §4.3.5.2 / §4.3.5.3), i.e. fully external truth.

Reference parity targets:
- Feature-single-point fixture semantics:
  src/VectorTiles.Tests/TestMvtSingle.cs:26-41
  (layer "layer_name", POINT id=123, hello=world)
- 7-way Value union incl. the SInt-without-zigzag and UInt-as-signed
  quirks: src/VectorTileReader/VectorTileReader.cs:166-214
- field-order independence + explicit extent: protobuf semantics the
  reference reader honors via its tag-dispatch loop
  (VectorTileReader.cs:134-252)
"""

import numpy as np
import pytest

from mvtspark.kernels import geom, mvt, mvt_batch

# --------------------------------------------------------------------------
# Golden A — single-point tile, canonical field order (the order our
# encoder emits: version, name, features, keys, values; extent omitted
# because 4096 is the spec default).
#
# Tile   : field 3 (layers), wire 2          -> key 0x1A
# Layer  : 15=version 1=name 2=feature 3=key 4=value
# Feature: 1=id 2=tags(packed) 3=type 4=geometry(packed)
# Value  : 1=string_value
# Geometry: MoveTo(count=1) = (1<<3)|1 = 9, zigzag(25)=50, zigzag(17)=34
# --------------------------------------------------------------------------
_FEATURE_POINT = bytes(
    [0x08, 0x7B]  # id = 123
    + [0x12, 0x02, 0x00, 0x00]  # tags = [0, 0] packed
    + [0x18, 0x01]  # type = POINT
    + [0x22, 0x03, 0x09, 0x32, 0x22]  # geometry = [9, 50, 34]
)
_LAYER_A_BODY = (
    bytes([0x78, 0x02])  # version = 2   (field 15 varint)
    + bytes([0x0A, 0x0A]) + b"layer_name"  # name (field 1, len 10)
    + bytes([0x12, 0x0D]) + _FEATURE_POINT  # feature (field 2, len 13)
    + bytes([0x1A, 0x05]) + b"hello"  # keys[0] (field 3)
    + bytes([0x22, 0x07, 0x0A, 0x05]) + b"world"  # values[0] = Value{string}
)
GOLDEN_SINGLE_POINT = bytes([0x1A, 0x2D]) + _LAYER_A_BODY  # layer len 45

# --------------------------------------------------------------------------
# Golden B — same logical tile, but layer fields in ascending-tag order
# (name, features, keys, values, extent, version) with extent written
# EXPLICITLY (4096 = varint 80 20) — the order real mvt fixtures use.
# A decoder keyed to our encoder's emission order would break here.
# --------------------------------------------------------------------------
_LAYER_B_BODY = (
    bytes([0x0A, 0x0A]) + b"layer_name"
    + bytes([0x12, 0x0D]) + _FEATURE_POINT
    + bytes([0x1A, 0x05]) + b"hello"
    + bytes([0x22, 0x07, 0x0A, 0x05]) + b"world"
    + bytes([0x28, 0x80, 0x20])  # extent = 4096 (field 5 varint)
    + bytes([0x78, 0x02])  # version = 2
)
GOLDEN_SPEC_ORDER = bytes([0x1A, 0x30]) + _LAYER_B_BODY  # layer len 48

# --------------------------------------------------------------------------
# Golden C — one LINESTRING feature carrying all 7 Value types.
# Geometry is the spec's worked example §4.3.5.2:
#   [9,4,4, 18,0,16,16,0]  ->  (2,2) (2,10) (10,10)
# Values exercise the two reference quirks byte-for-byte:
#   - sint_value written as plain varint 9 decodes to 9 (NOT un-zigzagged
#     to -5): VectorTileReader.cs:194-196
#   - uint_value 2^64-1 decodes as signed -1: VectorTileReader.cs:190-192
# --------------------------------------------------------------------------
_V = lambda body: bytes([0x22, len(body)]) + bytes(body)  # noqa: E731
_VALUES_C = (
    _V([0x0A, 0x01, 0x78])  # v0 string "x"
    + _V([0x15, 0x00, 0x00, 0xC0, 0x3F])  # v1 float 1.5 (fixed32 LE)
    + _V([0x19, 0, 0, 0, 0, 0, 0, 0x02, 0x40])  # v2 double 2.25 (fixed64 LE)
    + _V([0x20] + [0xFD] + [0xFF] * 8 + [0x01])  # v3 int64 -3 (10-byte varint)
    + _V([0x28] + [0xFF] * 9 + [0x01])  # v4 uint64 2^64-1 -> signed -1
    + _V([0x30, 0x09])  # v5 sint plain varint 9 (no zigzag!)
    + _V([0x38, 0x01])  # v6 bool true
)
_K = lambda s: bytes([0x1A, len(s)]) + s.encode()  # noqa: E731
_KEYS_C = _K("s") + _K("f") + _K("d") + _K("i") + _K("u") + _K("si") + _K("b")
_FEATURE_LINE = bytes(
    [0x08, 0x01]  # id = 1
    + [0x12, 0x0E] + [t for p in range(7) for t in (p, p)]  # tags 0,0..6,6
    + [0x18, 0x02]  # type = LINESTRING
    + [0x22, 0x08, 0x09, 0x04, 0x04, 0x12, 0x00, 0x10, 0x10, 0x00]
)
_LAYER_C_BODY = (
    bytes([0x78, 0x02])
    + bytes([0x0A, 0x05]) + b"types"
    + bytes([0x12, len(_FEATURE_LINE)]) + _FEATURE_LINE
    + _KEYS_C
    + _VALUES_C
)
GOLDEN_TYPED_VALUES = bytes([0x1A, len(_LAYER_C_BODY)]) + _LAYER_C_BODY

# --------------------------------------------------------------------------
# Golden D — two layers: "poly" (spec worked example §4.3.5.3:
# [9,6,12, 18,10,12,24,44, 15] -> ring (3,6)(8,12)(20,34) + ClosePath,
# no id/tags) followed by the Golden-A layer. Checks multi-layer walk,
# layer ordering, and a tag-free feature.
# --------------------------------------------------------------------------
_FEATURE_POLY = bytes(
    [0x18, 0x03]  # type = POLYGON
    + [0x22, 0x09, 0x09, 0x06, 0x0C, 0x12, 0x0A, 0x0C, 0x18, 0x2C, 0x0F]
)
_LAYER_D_BODY = (
    bytes([0x78, 0x02])
    + bytes([0x0A, 0x04]) + b"poly"
    + bytes([0x12, len(_FEATURE_POLY)]) + _FEATURE_POLY
)
GOLDEN_TWO_LAYERS = (
    bytes([0x1A, len(_LAYER_D_BODY)]) + _LAYER_D_BODY
    + bytes([0x1A, 0x2D]) + _LAYER_A_BODY
)


def _single_point_layers():
    from tests.test_kernels_mvt import make_single_point_tile

    return make_single_point_tile()


def test_decode_hand_authored_single_point():
    layers = mvt.decode_tile(GOLDEN_SINGLE_POINT, validate=True)
    assert list(layers) == ["layer_name"]
    lyr = layers["layer_name"]
    assert lyr.version == 2 and lyr.extent == 4096
    f = lyr.features[0]
    assert f.id == 123 and f.geom_type == geom.GEOM_POINT
    xs, ys, off = geom.decode_commands(f.geometry, f.geom_type)
    assert xs.tolist() == [25] and ys.tolist() == [17]
    assert lyr.properties(f) == {"hello": "world"}


def test_encoder_reproduces_hand_authored_bytes():
    """Byte-for-byte: the repo's encoder must emit EXACTLY the
    hand-authored wire bytes — closes the self-consistent-but-wrong
    hole (VERDICT 'What's missing' #1)."""
    assert _single_point_layers() == GOLDEN_SINGLE_POINT


def test_decode_spec_field_order_and_explicit_extent():
    """Same logical tile, ascending-tag field order + explicit extent —
    must decode identically (protobuf field-order independence)."""
    layers = mvt.decode_tile(GOLDEN_SPEC_ORDER, validate=True)
    lyr = layers["layer_name"]
    assert lyr.extent == 4096 and lyr.version == 2
    f = lyr.features[0]
    assert f.id == 123
    assert lyr.properties(f) == {"hello": "world"}


def test_decode_typed_values_and_spec_linestring():
    layers = mvt.decode_tile(GOLDEN_TYPED_VALUES, validate=True)
    lyr = layers["types"]
    f = lyr.features[0]
    xs, ys, off = geom.decode_commands(f.geometry, geom.GEOM_LINESTRING)
    assert xs.tolist() == [2, 2, 10] and ys.tolist() == [2, 10, 10]
    props = lyr.properties(f)
    assert props["s"] == "x"
    assert props["f"] == 1.5 and isinstance(props["f"], float)
    assert props["d"] == 2.25
    assert props["i"] == -3
    assert props["u"] == -1  # UInt-as-signed quirk
    assert props["si"] == 9  # NO zigzag: spec writer meant -5, ref reads 9
    assert props["b"] is True
    # typed union tags survive (not just coerced values)
    assert [t for t, _ in lyr.values] == [
        mvt.V_STRING, mvt.V_FLOAT, mvt.V_DOUBLE, mvt.V_INT,
        mvt.V_UINT, mvt.V_SINT, mvt.V_BOOL,
    ]


def test_encoder_reproduces_typed_values_bytes():
    feat = mvt.Feature(
        id=1,
        geom_type=geom.GEOM_LINESTRING,
        geometry=np.array([9, 4, 4, 18, 0, 16, 16, 0], dtype=np.uint32),
        tags=np.array([t for p in range(7) for t in (p, p)], dtype=np.int64),
    )
    layer = mvt.Layer(
        name="types",
        version=2,
        extent=4096,
        keys=["s", "f", "d", "i", "u", "si", "b"],
        values=[
            (mvt.V_STRING, "x"),
            (mvt.V_FLOAT, 1.5),
            (mvt.V_DOUBLE, 2.25),
            (mvt.V_INT, -3),
            (mvt.V_UINT, 2**64 - 1),
            (mvt.V_SINT, 9),
            (mvt.V_BOOL, True),
        ],
        features=[feat],
    )
    assert mvt.encode_tile([layer]) == GOLDEN_TYPED_VALUES


def test_decode_two_layers_and_spec_polygon():
    layers = mvt.decode_tile(GOLDEN_TWO_LAYERS, validate=True)
    assert list(layers) == ["poly", "layer_name"]
    f = layers["poly"].features[0]
    assert f.id == 0 and f.tags.size == 0
    xs, ys, off = geom.decode_commands(f.geometry, geom.GEOM_POLYGON)
    # ClosePath re-closes the ring: first vertex re-appended
    assert xs.tolist() == [3, 8, 20, 3] and ys.tolist() == [6, 12, 34, 6]


def test_typed_props_from_hand_authored_bytes(spark):
    """DataFrame-level typed 7-way union (SURVEY §1.3) read from the
    hand-authored typed-values tile: decode_tiles(typed_props=True) must
    surface tag + exactly-one-member rows, preserving the SInt-no-zigzag
    and UInt-as-signed reference quirks above the kernel."""
    from pyspark.sql import functions as F

    from mvtspark.sources.tiles import decode_tiles

    tiles = spark.createDataFrame(
        [(0, 0, 0, bytearray(GOLDEN_TYPED_VALUES))],
        "zoom int, x int, y int, mvt binary",
    )
    dec = decode_tiles(tiles, typed_props=True)
    rows = (
        dec.select(F.explode("props_t").alias("p"))
        .select("p.*")
        .orderBy("tag")
        .collect()
    )
    got = {r.k: (r.tag, r.s, r.f, r.d, r.i, r.u, r.si, r.b) for r in rows}
    assert got == {
        "s": (1, "x", None, None, None, None, None, None),
        "f": (2, None, 1.5, None, None, None, None, None),
        "d": (3, None, None, 2.25, None, None, None, None),
        "i": (4, None, None, None, -3, None, None, None),
        "u": (5, None, None, None, None, -1, None, None),
        "si": (6, None, None, None, None, None, 9, None),
        "b": (7, None, None, None, None, None, None, True),
    }
    # strict path must agree with the batch path
    rows_strict = (
        decode_tiles(tiles, validate=True, typed_props=True)
        .select(F.explode("props_t").alias("p"))
        .select("p.*")
        .collect()
    )
    got_strict = {
        r.k: (r.tag, r.s, r.f, r.d, r.i, r.u, r.si, r.b) for r in rows_strict
    }
    assert got_strict == got


def _feature_xs(out, i, col=5):
    """Vertices of feature ``i`` from decode_tile_rows' flat columns
    (col 5 = xs, 6 = ys; vert_off is col 7)."""
    vert_off = out[7]
    return out[col][vert_off[i]: vert_off[i + 1]].tolist()


def test_batch_kernel_oversized_ld_length_poisons_only_its_tile():
    """A crafted length-delimited field declaring a 2^63-byte payload
    previously went negative after the int64 cast in
    _parse_feature_headers, indexing from the END of the shared batch
    buffer — one hostile tile could corrupt or crash the whole batch.
    It must instead error-row only its own tile (lenient semantics)."""
    huge_len = bytes([0x80] * 9 + [0x01])  # varint 2^63
    feature = bytes([0x18, 0x01, 0x22]) + huge_len
    layer = (
        bytes([0x78, 0x02])
        + bytes([0x0A, 0x01]) + b"h"
        + bytes([0x12, len(feature)]) + feature
    )
    hostile = bytes([0x1A, len(layer)]) + layer
    out = mvt_batch.decode_tile_rows(
        [GOLDEN_SINGLE_POINT, hostile, GOLDEN_SINGLE_POINT], flat=True)
    tile_idx, errs = out[0], out[-1]
    assert set(errs) == {1}
    assert sorted(set(tile_idx.tolist())) == [0, 2]
    for i in range(len(tile_idx)):
        assert _feature_xs(out, i) == [25]


def test_batch_kernel_decodes_hand_authored_bytes():
    """The hot path (mvt_batch.decode_tile_rows) must read the same
    hand-authored bytes — parity on encoder-independent input."""
    blobs = [
        GOLDEN_SINGLE_POINT,
        GOLDEN_SPEC_ORDER,
        GOLDEN_TYPED_VALUES,
        GOLDEN_TWO_LAYERS,
    ]
    out = mvt_batch.decode_tile_rows(blobs, flat=True)
    tile_idx, names, extents, fids, gtypes = out[:5]
    names = names.to_pylist()  # the layer column comes back as Arrow strings
    assert out[-1] == {}
    rows = list(zip(tile_idx.tolist(), names, extents, fids.tolist(),
                    gtypes.tolist()))
    # tiles 0 and 1 decode to the identical logical feature
    assert rows[0] == (0, "layer_name", 4096, 123, 1)
    assert rows[1] == (1, "layer_name", 4096, 123, 1)
    assert _feature_xs(out, 0) == [25]
    assert _feature_xs(out, 1) == [25]
    # tile 2: spec linestring
    i2 = [i for i, r in enumerate(rows) if r[0] == 2][0]
    assert names[i2] == "types" and gtypes[i2] == 2
    assert _feature_xs(out, i2) == [2, 2, 10]
    assert _feature_xs(out, i2, col=6) == [2, 10, 10]
    # tile 3: two layers in order, polygon ring re-closed
    i3 = [i for i, r in enumerate(rows) if r[0] == 3]
    assert [names[i] for i in i3] == ["poly", "layer_name"]
    assert _feature_xs(out, i3[0]) == [3, 8, 20, 3]


def test_invalid_corpus_every_class_detected():
    """Every hand-authored invalid class must raise in strict decode
    with its SPECIFIC error, and the intact control must decode
    (sources/invalid_corpus.py; TestInvalidMvtInBulk.cs:46-65 analog)."""
    from mvtspark.sources.invalid_corpus import INVALID_CLASSES

    expected_fragment = {
        1: "empty", 2: "gzipped", 3: "truncated varint",
        4: "unsupported wire type", 5: "tag out of range",
        6: "unknown tile tag", 7: "unsupported layer version",
        8: "missing name", 9: "no features", 10: "invalid extent",
        11: "duplicate layer name", 12: "values are not distinct",
        13: "no geometry type", 14: "feature has no geometry",
        15: "uneven number of feature tags", 16: "tag key index",
        17: "tag value index", 18: "length overruns",
    }
    layers = mvt.decode_tile(INVALID_CLASSES[0][1], validate=True)
    assert sum(len(l.features) for l in layers.values()) == 1
    for cls, frag in expected_fragment.items():
        try:
            mvt.decode_tile(INVALID_CLASSES[cls][1], validate=True)
            raise AssertionError(f"class {cls} decoded without error")
        except Exception as e:
            assert frag in str(e), (cls, str(e))


def test_invalid_corpus_batch_kernel_poisons_only_bad_tiles():
    """Lenient batch decode of the WHOLE corpus: every invalid tile gets
    an error entry, the intact tile still decodes. (Lenient mode skips the
    strict checks — they run only with ``validate=True`` — so
    structurally-readable-but-semantically-invalid classes decode
    leniently; structurally broken ones must still be caught.)"""
    from mvtspark.sources.invalid_corpus import INVALID_CLASSES

    blobs = [INVALID_CLASSES[c][1] for c in sorted(INVALID_CLASSES)]
    out = mvt_batch.decode_tile_rows(blobs, flat=True)
    tile_idx, errs = out[0], out[-1]
    assert 0 not in errs  # intact control decodes
    assert 0 in tile_idx
    structural = {1, 2, 3, 5, 18}  # unreadable at the wire level
    assert structural <= set(errs), (structural - set(errs))


def test_layers_index_partial_parse():
    """Lazy layer index (ref VectorTileReader.cs:53-100): names +
    feature counts from a name-only parse of the hand-authored bytes."""
    tix, names, counts, errs = mvt_batch.layers_index(
        [GOLDEN_TWO_LAYERS, GOLDEN_SINGLE_POINT, b"\x1f\x8bxx"])
    assert errs == {2: "tile data is gzipped"}
    assert list(zip(tix, names, counts)) == [
        (0, "poly", 1), (0, "layer_name", 1), (1, "layer_name", 1)]


def test_layer_filter_skips_unselected_layers():
    out = mvt_batch.decode_tile_rows(
        [GOLDEN_TWO_LAYERS], flat=True, layer_filter=frozenset({"poly"}))
    tidx, names = out[0], out[1]
    assert names.to_pylist() == ["poly"] and out[-1] == {}
    # duplicate-name detection still fires for SKIPPED layers
    dup = GOLDEN_TWO_LAYERS + bytes([0x1A, len(_LAYER_D_BODY)]) + _LAYER_D_BODY
    out2 = mvt_batch.decode_tile_rows(
        [dup], flat=True, layer_filter=frozenset({"nope"}))
    assert 0 in out2[-1] and "duplicate" in out2[-1][0]


def test_decode_tiles_layer_filter_dataframe(spark):
    from pyspark.sql import functions as F

    from mvtspark.sources.tiles import decode_tiles, layers_index

    tiles = spark.createDataFrame(
        [(0, 0, 0, bytearray(GOLDEN_TWO_LAYERS))],
        "zoom int, x int, y int, mvt binary",
    )
    idx = layers_index(tiles).orderBy("layer").collect()
    assert [(r.layer, r.feature_count) for r in idx] == [
        ("layer_name", 1), ("poly", 1)]
    only = decode_tiles(tiles, layers={"layer_name"}).collect()
    assert [r.layer for r in only] == ["layer_name"]
    assert only[0].feature_id == 123


def test_batch_decode_mid_walk_error_commits_no_partial_layers():
    """A tile that errors on a LATER layer (duplicate name) must emit
    ONLY its error row — previously its already-walked first layer was
    committed pointing at an unbacked buffer id, decoding features from
    the NEXT tile's bytes (or crashing the batch on IndexError)."""
    dup = GOLDEN_TWO_LAYERS + bytes([0x1A, len(_LAYER_D_BODY)]) + _LAYER_D_BODY
    # order 1: bad tile first — previously leaked a garbage feature row
    out = mvt_batch.decode_tile_rows([dup, GOLDEN_SINGLE_POINT], flat=True)
    tidx, errs = out[0], out[-1]
    assert set(errs) == {0} and "duplicate" in errs[0]
    assert set(tidx.tolist()) == {1}
    # order 2: bad tile last — previously raised IndexError (batch kill)
    out2 = mvt_batch.decode_tile_rows([GOLDEN_SINGLE_POINT, dup], flat=True)
    assert set(out2[-1]) == {1} and set(out2[0].tolist()) == {0}
    # layers_index: no partial index rows for the errored tile
    t, n, c, e = mvt_batch.layers_index([dup, GOLDEN_TWO_LAYERS])
    assert set(e) == {0}
    assert t == [1, 1] and n == ["poly", "layer_name"]


def _tile_with_geometry(geometry: list[int]) -> bytes:
    """The invalid corpus' intact control tile with its POINT feature's
    geometry stream replaced by ``geometry`` (hand-written command ints)."""
    from mvtspark.sources.invalid_corpus import _FEATURE, _layer, _tile

    return _tile(_layer(
        feature=_FEATURE[:8] + bytes([0x22, len(geometry)]) + bytes(geometry)))


#: one hand-written command stream per fault kernels.geom.decode_commands
#: rejects, with its message
BAD_GEOMETRY = {
    "unknown command 5": [0x0D, 0x32, 0x22],  # (1 << 3) | 5
    "command stream overruns buffer": [0x09, 0x32],  # MoveTo(1), one param
    "ClosePath with no open part": [0x0F, 0x09, 0x32, 0x22],
    "ClosePath on an empty part": [0x01, 0x0F],  # MoveTo(0), ClosePath
}


def test_bad_geometry_stream_poisons_only_its_tile(spark):
    """A tile whose geometry command stream holds an unknown command,
    overruns its buffer or closes a part it never opened used to raise
    out of the batch kernel, failing the whole Arrow batch and the task.
    Each must become its own tile's error row — in lenient and strict
    mode — while the good tiles of the same batch still decode."""
    from pyspark.sql import functions as F

    from mvtspark.sources.tiles import decode_tiles

    rows = [(0, 0, 0, bytearray(GOLDEN_SINGLE_POINT))] + [
        (0, i + 1, 0, bytearray(_tile_with_geometry(g)))
        for i, g in enumerate(BAD_GEOMETRY.values())
    ]
    tiles = spark.createDataFrame(rows, "zoom int, x int, y int, mvt binary")
    for kwargs in ({}, {"validate": True}):
        got = decode_tiles(tiles.coalesce(1), **kwargs).orderBy("x").collect()
        assert [(r.x, r.decode_error) for r in got] == [(0, None)] + [
            (i + 1, msg) for i, msg in enumerate(BAD_GEOMETRY)
        ], kwargs
        assert got[0].feature_id == 123 and list(got[0].xs) == [25]
    assert decode_tiles(tiles).where(F.col("decode_error").isNull()).count() == 1


def test_bad_packed_stream_poisons_only_its_tile():
    """A packed geometry field ending mid-varint must not run into the
    next feature's first value (nor fail the batch when it is last), and
    one holding an 11-byte varint must not fail the batch either; both
    get the per-tile reader's message, in lenient and strict mode."""
    truncated = _tile_with_geometry([0x09, 0x32, 0xA2])
    overlong = _tile_with_geometry([0x09] + [0x80] * 10 + [0x01, 0x22])
    for validate in (False, True):
        out = mvt_batch.decode_tile_rows(
            [truncated, GOLDEN_SINGLE_POINT, overlong, truncated],
            validate=validate)
        assert out[-1] == {0: "truncated varint at end of stream",
                           2: "varint longer than 10 bytes",
                           3: "truncated varint at end of stream"}
        assert out[0].tolist() == [1] and _feature_xs(out, 0) == [25]


def test_closepath_on_an_empty_part_poisons_only_its_tile():
    """A ClosePath closing a part with no vertex (MoveTo(0), then
    ClosePath; here also as a feature's second part) used to take its
    closing vertex from whatever vertex followed in the batch (the next
    tile decoded as xs [25, 25]) and to raise IndexError, failing the
    whole batch, when no vertex followed. It is its tile's fault now, in
    lenient and strict mode and in either position."""
    empty = _tile_with_geometry([0x01, 0x0F])
    second = _tile_with_geometry([0x09, 0x32, 0x22, 0x0F, 0x01, 0x0F])
    msg = "ClosePath on an empty part"
    for validate in (False, True):
        for blobs, bad in (([empty, GOLDEN_SINGLE_POINT], 0),
                           ([GOLDEN_SINGLE_POINT, empty], 1),
                           ([GOLDEN_SINGLE_POINT, second], 1)):
            out = mvt_batch.decode_tile_rows(blobs, validate=validate)
            assert out[-1] == {bad: msg}, (validate, bad)
            assert out[0].tolist() == [1 - bad] and _feature_xs(out, 0) == [25]


def test_decode_commands_rejects_closepath_on_an_empty_part():
    """The strict oracle's decoder raises a ValueError for the same
    streams, including one with no parameters at all."""
    for stream, msg in (([0x01, 0x0F], "ClosePath on an empty part"),
                        ([0x09, 0x32, 0x22, 0x0F, 0x01, 0x0F], "ClosePath on an empty part"),
                        ([0x0F], "ClosePath with no open part")):
        with pytest.raises(geom.GeometryError, match=msg):
            geom.decode_commands(stream, 3)
    xs, ys, off = geom.decode_commands([0x09, 0x32, 0x22, 0x0F], 3)  # one closed vertex
    assert xs.tolist() == [25, 25] and ys.tolist() == [17, 17] and off.tolist() == [0, 2]


def test_strict_decode_tiles_matches_invalid_suite_oracle(spark):
    """decode_tiles(validate=True) over all 19 invalid-corpus classes gives
    exactly the error strings the invalid_tile_suite oracle pins (which
    are the per-tile strict decoder's), and the intact control decodes
    its one feature."""
    from mvtspark.sources.invalid_corpus import INVALID_CLASSES
    from mvtspark.sources.tiles import decode_tiles

    oracle = {
        1: "tile data is empty", 2: "tile data is gzipped",
        3: "truncated varint", 4: "unsupported wire type 3",
        5: "tag out of range: 0", 6: "unknown tile tag 1",
        7: "unsupported layer version 1", 8: "layer missing name",
        9: "layer has no features", 10: "layer has invalid extent 0",
        11: "duplicate layer name layer_name",
        12: "layer values are not distinct",
        13: "feature has no geometry type", 14: "feature has no geometry",
        15: "uneven number of feature tags",
        16: "tag key index out of range", 17: "tag value index out of range",
        18: "layer length overruns tile",
    }
    for cls, msg in oracle.items():
        try:
            mvt.decode_tile(INVALID_CLASSES[cls][1], validate=True)
        except Exception as e:
            assert str(e) == msg, cls
    tiles = spark.createDataFrame(
        [(0, c, 0, bytearray(b)) for c, (_, b, _) in INVALID_CLASSES.items()],
        "zoom int, x int, y int, mvt binary",
    )
    got = decode_tiles(tiles, validate=True).collect()
    assert {r.x: r.decode_error for r in got if r.x > 0} == oracle
    control = [r for r in got if r.x == 0]
    assert len(control) == 1 and control[0].decode_error is None
    assert control[0].feature_id == 123


def test_strict_batch_kernel_names_rejections_like_the_oracle():
    """Strict batch decode rejects exactly the tiles the per-tile oracle
    rejects and names each by the oracle's message — the whole invalid
    corpus, plus two feature fields the lenient header walk reads past
    but the per-tile reader does not: a zero field tag, and an id field
    written length-delimited."""
    from mvtspark.sources.invalid_corpus import INVALID_CLASSES, _FEATURE, _layer, _tile

    blobs = [b for _, b, _ in INVALID_CLASSES.values()] + [
        _tile(_layer(feature=_FEATURE + bytes([0x00, 0x00]))),
        _tile(_layer(feature=bytes([0x0A, 0x01, 0x00]) + _FEATURE[2:])),
    ]
    expected = {}
    for i, blob in enumerate(blobs):
        try:
            mvt.decode_tile(blob, validate=True)
        except Exception as e:
            expected[i] = str(e)
    assert len(expected) == len(blobs) - 1  # all but the intact control
    lenient = mvt_batch.decode_tile_rows(blobs)
    assert not {len(blobs) - 2, len(blobs) - 1} & set(lenient[-1])
    out = mvt_batch.decode_tile_rows(blobs, validate=True)
    assert out[-1] == expected
    assert out[0].tolist() == [0]


def test_strict_typed_raster_layers_match_per_tile_oracle(spark):
    """Every opt-in at once — validate, typed_props, raster and a layer
    filter — on the hand-authored goldens (plus one tile carrying a
    raster payload) yields exactly the rows the per-tile oracle
    mvt.decode_tile gives for the selected layers."""
    import json

    from mvtspark.kernels.mvt_batch import TAG_FIELD
    from mvtspark.sources.tiles import decode_tiles

    raster_feat = mvt.Feature(
        id=7, geom_type=geom.GEOM_POINT,
        geometry=np.array([9, 50, 34], dtype=np.uint32),
        tags=np.array([0, 0], dtype=np.int64), raster=b"\x00R\xffx",
    )
    raster_tile = mvt.encode_tile([mvt.Layer(
        name="types", version=2, keys=["k"], values=[(mvt.V_DOUBLE, 0.5)],
        features=[raster_feat],
    )])
    blobs = [GOLDEN_SINGLE_POINT, GOLDEN_SPEC_ORDER, GOLDEN_TYPED_VALUES,
             GOLDEN_TWO_LAYERS, raster_tile]
    selected = {"layer_name", "types"}
    expected = []
    for x, blob in enumerate(blobs):
        for name, lyr in mvt.decode_tile(blob, validate=True).items():
            if name not in selected:
                continue
            for f in lyr.features:
                xs, ys, off = geom.decode_commands(f.geometry, f.geom_type)
                typed = []
                for k, v in zip(f.tags[0::2], f.tags[1::2]):
                    tag, val = lyr.values[int(v)]
                    member = dict.fromkeys(TAG_FIELD.values())
                    member[TAG_FIELD[tag]] = val
                    typed.append({"k": lyr.keys[int(k)], "tag": tag, **member})
                expected.append((
                    x, name, lyr.extent, int(f.id), int(f.geom_type),
                    off.tolist(), xs.tolist(), ys.tolist(),
                    json.dumps(lyr.properties(f), default=str), typed,
                    f.raster,
                ))
    tiles = spark.createDataFrame(
        [(0, x, 0, bytearray(b)) for x, b in enumerate(blobs)],
        "zoom int, x int, y int, mvt binary",
    )
    got = [
        (r.x, r.layer, r.extent, r.feature_id, r.geom_type,
         list(r.part_offsets), list(r.xs), list(r.ys), r.props,
         [p.asDict() for p in r.props_t],
         None if r.raster is None else bytes(r.raster))
        for r in decode_tiles(
            tiles, validate=True, typed_props=True, raster=True,
            layers=selected,
        ).collect()
    ]
    assert all(r.decode_error is None for r in decode_tiles(
        tiles, validate=True).collect())
    assert sorted(got, key=repr) == sorted(expected, key=repr)
    assert any(row[-1] == b"\x00R\xffx" for row in got)


def _wide_int32_tiles() -> list[bytes]:
    """The intact control tile with its layer extent, then its feature's
    geometry type, written as a varint past int32."""
    from mvtspark.kernels import pbf
    from mvtspark.sources.invalid_corpus import _FEATURE, _layer, _tile

    return [
        _tile(_layer(extent=bytes([0x28]) + pbf.encode_varint(2**32))),
        _tile(_layer(feature=_FEATURE[:6] + bytes([0x18]) + pbf.encode_varint(2**31)
                     + _FEATURE[8:])),
    ]


WIDE_INT32_ERRORS = ["layer extent 4294967296 exceeds int32",
                     "geometry type 2147483648 exceeds int32"]


def test_extent_or_geometry_type_past_int32_poisons_only_its_tile(spark):
    """A layer extent or geometry type that does not fit the int32
    ``extent`` / ``geom_type`` columns used to make the Arrow batch
    conversion raise, failing the task. It must become its own tile's
    error row, in lenient and strict mode."""
    from mvtspark.sources.tiles import decode_tiles

    rows = [(0, 0, 0, bytearray(GOLDEN_SINGLE_POINT))] + [
        (0, i + 1, 0, bytearray(b)) for i, b in enumerate(_wide_int32_tiles())]
    tiles = spark.createDataFrame(rows, "zoom int, x int, y int, mvt binary").coalesce(1)
    for kwargs in ({}, {"validate": True}):
        got = decode_tiles(tiles, **kwargs).orderBy("x").collect()
        assert [(r.x, r.decode_error) for r in got] == [(0, None)] + [
            (i + 1, msg) for i, msg in enumerate(WIDE_INT32_ERRORS)], kwargs
        assert got[0].feature_id == 123 and got[0].extent == 4096

"""Dense and edge-case parity of the batch MVT codec (kernels/mvt_batch.py)
against the per-tile oracle (kernels/mvt.py, with the per-feature
command-stream loops of tests/geom_reference.py).

The decode batch holds a layer of 2,400 point features, 1,200 one-feature
tiles (points, lines, two-ring polygons, some with a raster payload),
features whose tags repeat a key, multi-pair props, string, int, uint,
sint, float, double, bool and NaN values, a null blob and an empty blob.
In every mode the batch decode must give the rows the oracle gives tile
by tile. The encode batch holds a tile of 2,400 points and 1,000
one-feature tiles with the same kinds of props; it must give the bytes
mvt.encode_tile gives tile by tile.

The one-feature codec calls (kernels/geom.py::decode_commands and
encode_commands) must equal the reference loops on random command streams
(every fault kind) and ragged feature sets, apart from two documented
no-vertex cases where they give what decode_tiles/encode_tiles give."""

import json

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import geom_reference as ref
from mvtspark.kernels import geom, mvt, mvt_batch

NAN = float("nan")  # one object, as json.loads hands out one NaN object
VALUES = [(mvt.V_STRING, "a"), (mvt.V_STRING, 'é"\\\n'), (mvt.V_INT, -3),
          (mvt.V_UINT, 7), (mvt.V_SINT, 9), (mvt.V_FLOAT, 1.5),
          (mvt.V_DOUBLE, 2.25), (mvt.V_DOUBLE, NAN), (mvt.V_BOOL, True),
          (mvt.V_BOOL, False)]
KEYS = ["k0", "k1", "ü"]
GEOMETRY = {
    geom.GEOM_POINT: [9, 50, 34],
    geom.GEOM_LINESTRING: [9, 4, 4, 18, 0, 16, 16, 0],
    geom.GEOM_POLYGON: [9, 6, 12, 18, 10, 12, 24, 44, 15,
                        9, 2, 2, 26, 2, 0, 0, 2, 1, 0, 15],
}


def _feature(fid, gt, geometry, tags, raster=None):
    return mvt.Feature(id=fid, geom_type=gt, geometry=np.array(geometry, np.uint32),
                       tags=np.array(tags, np.int64), raster=raster)


@pytest.fixture(scope="module")
def blobs():
    rng = np.random.default_rng(11)
    dense = []
    for i in range(2400):
        tags = rng.integers(0, [len(KEYS), len(VALUES)], size=(int(rng.integers(0, 4)), 2))
        dense.append(_feature(i + 1, geom.GEOM_POINT, [9] + rng.integers(0, 8192, 2).tolist(),
                              tags.ravel().tolist()))
    out = [mvt.encode_tile([mvt.Layer(name="dense", version=2, keys=KEYS,
                                      values=VALUES, features=dense)])]
    for i in range(1200):
        gt = 1 + i % 3
        tags = [0, i % len(VALUES), 1, (3 * i) % len(VALUES)]
        if i % 4 == 0:
            tags += [0, (i + 1) % len(VALUES)]  # k0 again: its last value wins
        out.append(mvt.encode_tile([mvt.Layer(
            name=("pts", "lines", "polys")[gt - 1], version=2,
            extent=4096 if i % 5 else 512, keys=KEYS, values=VALUES,
            features=[_feature(i, gt, GEOMETRY[gt], tags,
                               b"\x00r" if i % 7 == 0 else None)])]))
    return out + [None, b""]


def _oracle(blobs, validate, layers, typed, raster):
    rows, errs = [], {}
    for t, blob in enumerate(blobs):
        try:
            decoded = mvt.decode_tile(bytes(blob), validate=validate)
        except Exception as e:
            errs[t] = str(e)
            continue
        for name, lyr in decoded.items():
            if layers is not None and name not in layers:
                continue
            for f in lyr.features:
                xs, ys, off = ref.decode_commands(f.geometry, f.geom_type)
                row = (t, name, lyr.extent, int(f.id), int(f.geom_type), off.tolist(),
                       xs.tolist(), ys.tolist(), json.dumps(lyr.properties(f), default=str))
                if typed:
                    entries = []
                    for k, v in zip(f.tags[0::2], f.tags[1::2]):
                        tag, val = lyr.values[int(v)]
                        member = dict.fromkeys(mvt_batch.TAG_FIELD.values())
                        member[mvt_batch.TAG_FIELD[tag]] = val
                        entries.append({"k": lyr.keys[int(k)], "tag": tag, **member})
                    row += (entries,)
                if raster:
                    row += (f.raster,)
                rows.append(row)
    return rows, errs


def _rows(out, typed, raster):
    tile, names, ext, fid, gt, xs, ys, vo, parts, pcnt, props = out[:11]
    pb = np.concatenate(([0], np.cumsum(pcnt)))
    extra = [c.to_pylist() for c in out[11:11 + typed + raster]]
    return [
        (t, n, int(ext[i]), int(fid[i]), int(gt[i]), parts[pb[i]:pb[i + 1]].tolist(),
         xs[vo[i]:vo[i + 1]].tolist(), ys[vo[i]:vo[i + 1]].tolist(), p) + tuple(c[i] for c in extra)
        for i, (t, n, p) in enumerate(zip(tile.tolist(), names.to_pylist(), props.to_pylist()))
    ]


@pytest.mark.parametrize("mode", [
    {}, {"validate": True}, {"layer_filter": frozenset({"dense", "polys"})},
    {"typed_props": True}, {"raster": True},
    {"validate": True, "typed_props": True, "raster": True,
     "layer_filter": frozenset({"lines", "pts"})},
])
def test_batch_decode_matches_per_tile_oracle(blobs, mode):
    typed, raster = mode.get("typed_props", False), mode.get("raster", False)
    expected, errs = _oracle(blobs, mode.get("validate", False), mode.get("layer_filter"),
                             typed, raster)
    out = mvt_batch.decode_tile_rows(blobs, **mode)
    assert out[-1] == errs == {len(blobs) - 2: mvt_batch.NULL_BLOB,
                               len(blobs) - 1: "tile data is empty"}
    _assert_same(_rows(out, typed, raster), expected)


def _assert_same(got: list, expected: list) -> None:
    """Equal lists (by repr, so NaN equals NaN), reporting the first
    difference rather than a diff of the whole batch."""
    assert len(got) == len(expected) >= 800
    bad = next((i for i, (g, e) in enumerate(zip(got, expected)) if repr(g) != repr(e)), None)
    assert bad is None, (bad, got[bad], expected[bad])


def _json_value(v):
    if isinstance(v, bool):
        return mvt.V_BOOL, v
    if isinstance(v, int):
        return mvt.V_INT, v
    if isinstance(v, float):
        return mvt.V_DOUBLE, v
    return mvt.V_STRING, str(v)


PROPS = ['{"caption": "x"}', '{"a": 1, "b": 2.5, "c": true}', '{"a": NaN, "b": NaN}',
         '{"a": 1, "a": 2}', '{"z": -0.0, "y": 0.0}', '{"z": 0.0}', '{"q": "\\u00e9", "r": null}',
         None, "", "{}", '{"b": false, "i": 0}', '{"a": 1.0}', '{"a": 1}', '{"n": -7}']


def test_batch_encode_matches_encode_tile():
    rng = np.random.default_rng(5)
    sizes = [2400] + [1] * 1000
    nf = sum(sizes)
    bounds = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
    px, py = rng.integers(0, 4096, nf), rng.integers(0, 4096, nf)
    props = [PROPS[int(i)] for i in rng.integers(0, len(PROPS), nf)]
    extents = np.where(np.arange(len(sizes)) % 3, 4096, 512).astype(np.int64)
    blobs = mvt_batch.encode_tile_rows_flat(
        bounds, np.arange(nf, dtype=np.int64), np.ones(nf, np.int64), px, py,
        np.arange(nf + 1, dtype=np.int64), np.tile(np.array([0, 1], np.int32), nf),
        np.arange(0, 2 * nf + 1, 2, dtype=np.int64), props, "pts", extents)
    expected = []
    for t in range(len(sizes)):
        keys, values, kidx, vidx, feats = [], [], {}, {}, []
        for i in range(bounds[t], bounds[t + 1]):
            tags = []
            for k, v in (json.loads(props[i]) if props[i] else {}).items():
                tv = _json_value(v)  # a dictionary keeps the value it meets first
                if k not in kidx:
                    kidx[k] = len(keys)
                    keys.append(k)
                if tv not in vidx:
                    vidx[tv] = len(values)
                    values.append(tv)
                tags += [kidx[k], vidx[tv]]
            cmds = ref.encode_commands(px[i:i + 1], py[i:i + 1], np.array([0, 1]), 1)
            feats.append(_feature(i, 1, cmds, tags))
        expected.append(mvt.encode_tile([mvt.Layer(
            name="pts", version=2, extent=int(extents[t]), keys=keys,
            values=values, features=feats)]))
    _assert_same(blobs.to_pylist(), expected)


@pytest.mark.parametrize("xs, ys, off", [
    ([0, 1], [0, 1], [0, 3]),           # the part runs past the vertices
    ([0, 1, 2], [0, 1], [0, 3]),        # fewer ys than xs
    ([0, 1, 2], [0, 1, 2], [0, 2, 1, 3]),  # part starts out of order
])
def test_encode_commands_rejects_malformed_spans(xs, ys, off):
    with pytest.raises(ValueError):
        geom.encode_commands(xs, ys, off, geom.GEOM_LINESTRING)


def test_encode_tile_rows_flat_rejects_ragged_ys():
    """Two features with 1+2 xs but 2+1 ys: the totals agree, the
    per-feature spans do not."""
    xs = ys = np.array([5, 6, 7], np.int64)
    with pytest.raises(ValueError):
        mvt_batch.encode_tile_rows_flat(
            np.array([0, 2], np.int64), np.array([1, 2], np.int64),
            np.array([2, 2], np.int64), xs, ys, np.array([0, 1, 3], np.int64),
            np.array([0, 1, 0, 2], np.int32), np.array([0, 2, 4], np.int64),
            [None, None], "l", np.array([4096], np.int64),
            ys_off=np.array([0, 2, 3], np.int64))


def _outcome(fn, *args):
    """(lists of the outputs) or the GeometryError message of one call."""
    try:
        out = fn(*args)
    except geom.GeometryError as e:
        return str(e)
    return [a.tolist() for a in out] if isinstance(out, tuple) else out.tolist()


@st.composite
def _streams(draw):
    """A command stream of MoveTo/LineTo/ClosePath headers (counts 0-3)
    with an unknown command now and then and possibly cut short, so every
    fault kind occurs: unknown command, overrun, ClosePath with no open
    part and ClosePath on an empty part."""
    out = []
    for _ in range(draw(st.integers(0, 6))):
        cmd = draw(st.sampled_from([1, 1, 1, 2, 2, 2, 7, 7, 0, 3]))
        count = draw(st.integers(0, 3))
        out.append((count << 3) | cmd)
        if cmd in (1, 2):
            out += draw(st.lists(st.integers(0, 2**20), min_size=2 * count,
                                 max_size=2 * count))
    cut = draw(st.integers(0, 2))
    return out[:len(out) - cut] if draw(st.booleans()) else out


@given(_streams())
@settings(max_examples=400, deadline=None)
def test_decode_commands_matches_reference(stream):
    got = _outcome(geom.decode_commands, stream, geom.GEOM_POLYGON)
    exp = _outcome(ref.decode_commands, stream, geom.GEOM_POLYGON)
    if exp == [[], [], [0]] and got != exp:
        # no vertex at all: the batch keeps the opened (empty) parts
        assert got[:2] == [[], []] and set(got[2]) == {0}, stream
    else:
        assert got == exp, stream


@st.composite
def _features(draw):
    """One feature of geom type 0-3: ragged parts of 0-4 vertices;
    polygon rings closed except now and then, so the closure fault
    occurs too."""
    gt = draw(st.integers(0, 3))
    xs, ys, off = [], [], [0]
    coord = st.integers(-2**20, 2**20)
    for _ in range(draw(st.integers(0, 3))):
        n = draw(st.integers(0, 4))
        px = draw(st.lists(coord, min_size=n, max_size=n))
        py = draw(st.lists(coord, min_size=n, max_size=n))
        if gt == geom.GEOM_POLYGON and px and draw(st.integers(0, 9)):
            px, py = px + px[:1], py + py[:1]
        xs += px
        ys += py
        off.append(len(xs))
    return (np.array(xs, np.int64), np.array(ys, np.int64),
            np.array(off, np.int64), gt)


@given(st.lists(_features(), min_size=1, max_size=6))
@settings(max_examples=300, deadline=None)
def test_encode_commands_matches_reference(feats):
    streams = []
    for xs, ys, off, gt in feats:
        got = _outcome(geom.encode_commands, xs, ys, off, gt)
        exp = _outcome(ref.encode_commands, xs, ys, off, gt)
        if gt == geom.GEOM_POINT and xs.size == 0:
            assert exp == [1] and got == []  # an empty point emits nothing
        else:
            assert got == exp, (xs, ys, off, gt)
        streams.append(got)
    if any(isinstance(s, str) for s in streams):
        return
    # the whole ragged set in one batch call: the same per-feature streams
    vert_off = np.r_[0, np.cumsum([f[0].size for f in feats])]
    part_off = np.concatenate([f[2][:-1] + v for f, v in zip(feats, vert_off)])
    stream, span = mvt_batch.encode_geometries_batch(
        np.concatenate([f[0] for f in feats]), np.concatenate([f[1] for f in feats]),
        vert_off, part_off.astype(np.int64),
        np.r_[0, np.cumsum([f[2].size - 1 for f in feats])],
        np.array([f[3] for f in feats], np.int64))
    assert [stream[a:b].tolist() for a, b in zip(span[:-1], span[1:])] == streams


def test_no_vertex_cases_match_decode_and_encode_tiles(spark):
    """decode_commands([MoveTo(0)]) keeps its one empty part, as a
    decode_tiles row does, and a point feature with no vertex encodes to
    no command at all, as encode_tiles writes it."""
    from mvtspark.sources.tiles import decode_tiles, encode_tiles

    xs, ys, off = geom.decode_commands([1], geom.GEOM_POINT)
    assert (xs.tolist(), ys.tolist(), off.tolist()) == ([], [], [0, 0])
    blob = mvt.encode_tile([mvt.Layer(name="l", version=2, keys=[], values=[],
                                      features=[_feature(1, 1, [1], [])])])
    row = decode_tiles(spark.createDataFrame(
        [(0, 0, 0, bytearray(blob))], "zoom int, x int, y int, mvt binary")).first()
    assert (list(row.xs), list(row.ys), list(row.part_offsets)) == ([], [], off.tolist())

    assert geom.encode_commands([], [], [0, 0], geom.GEOM_POINT).tolist() == []
    feats = spark.createDataFrame(
        [(0, 0, 0, 4096, 1, 1, [0, 0], [], [], None)],
        "zoom int, x int, y int, extent int, feature_id long, geom_type int, "
        "part_offsets array<int>, xs array<long>, ys array<long>, props string")
    (tile,) = encode_tiles(feats, layer_name="l").collect()
    (f,) = mvt.decode_tile(bytes(tile.mvt))["l"].features
    assert f.geometry.tolist() == []

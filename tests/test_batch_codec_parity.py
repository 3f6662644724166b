"""Dense and edge-case parity of the batch MVT codec (kernels/mvt_batch.py)
against the per-tile oracle (kernels/mvt.py + kernels/geom.py).

The decode batch holds a layer of 2,400 point features, 1,200 one-feature
tiles (points, lines, two-ring polygons, some with a raster payload),
features whose tags repeat a key, multi-pair props, string, int, uint,
sint, float, double, bool and NaN values, a null blob and an empty blob.
In every mode the batch decode must give the rows the oracle gives tile
by tile. The encode batch holds a tile of 2,400 points and 1,000
one-feature tiles with the same kinds of props; it must give the bytes
mvt.encode_tile gives tile by tile."""

import json

import numpy as np
import pytest

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
                xs, ys, off = geom.decode_commands(f.geometry, f.geom_type)
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
            cmds = geom.encode_commands(px[i:i + 1], py[i:i + 1], np.array([0, 1]), 1)
            feats.append(_feature(i, 1, cmds, tags))
        expected.append(mvt.encode_tile([mvt.Layer(
            name="pts", version=2, extent=int(extents[t]), keys=keys,
            values=values, features=feats)]))
    _assert_same(blobs.to_pylist(), expected)

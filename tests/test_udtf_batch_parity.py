"""The decode_mvt UDTF and the DataFrame decode_tiles give identical rows,
``props`` strings included (keys in tile order), over multi-key props,
the invalid-tile suite and the hand-written bad geometry streams."""

import numpy as np

from mvtspark.functions.sql_udtf import register_sql_functions
from mvtspark.kernels import mvt as mk
from mvtspark.sources.invalid_corpus import INVALID_CLASSES
from mvtspark.sources.tiles import decode_tiles

COLS = ("x", "layer", "extent", "feature_id", "geom_type", "part_offsets",
        "xs", "ys", "props", "decode_error")


def _multi_key_tile() -> bytes:
    g = lambda *v: np.array(v, dtype=np.uint32)  # noqa: E731
    pts = mk.Layer(
        name="pts", extent=512,
        keys=["zeta", "alpha", "big", "f"],
        values=[(mk.V_STRING, "z"), (mk.V_INT, 3), (mk.V_UINT, 2**40 + 7),
                (mk.V_DOUBLE, 1.5), (mk.V_BOOL, True)],
        features=[
            mk.Feature(id=1, geom_type=1, geometry=g(9, 50, 34),
                       tags=np.array([0, 0, 1, 1, 2, 2, 3, 3])),
            mk.Feature(id=2, geom_type=1, geometry=g(9, 2, 2)),  # no props
            mk.Feature(id=3, geom_type=1, geometry=g(17, 2, 2, 4, 4),
                       tags=np.array([3, 4, 0, 0])),
        ],
    )
    polys = mk.Layer(
        name="polys", keys=["k"], values=[(mk.V_STRING, "v")],
        features=[mk.Feature(
            id=9, geom_type=3, tags=np.array([0, 0]),
            geometry=g(9, 0, 0, 26, 20, 0, 0, 20, 19, 0, 15,
                       9, 4, 4, 26, 0, 8, 8, 0, 7, 0, 15))],
    )
    return mk.encode_tile([pts, polys])


def test_udtf_rows_equal_decode_tiles(spark):
    from test_wire_goldens import BAD_GEOMETRY, _tile_with_geometry, _wide_int32_tiles

    blobs = [_multi_key_tile()] + [t for _, t, _ in INVALID_CLASSES.values()]
    blobs += [_tile_with_geometry(s) for s in BAD_GEOMETRY.values()]
    blobs += _wide_int32_tiles()
    rows = [(0, i, 0, bytearray(b)) for i, b in enumerate(blobs)] + [(0, -1, 0, None)]
    tiles = spark.createDataFrame(rows, "zoom int, x int, y int, mvt binary")
    register_sql_functions(spark)
    tiles.createOrReplaceTempView("udtf_parity")
    via_sql = spark.sql(
        "SELECT t.x, f.* FROM udtf_parity t, LATERAL decode_mvt(t.mvt) f")
    via_df = decode_tiles(tiles.where("mvt IS NOT NULL"))

    def key(r):
        return tuple(tuple(v) if isinstance(v, list) else v for v in r)

    a = sorted((key(r) for r in via_sql.select(*COLS).collect()), key=repr)
    b = sorted((key(r) for r in via_df.select(*COLS).collect()), key=repr)
    assert a == b
    errs = {r[0] for r in a if r[-1] is not None}
    assert errs >= set(range(20, 26)) and errs & set(range(1, 20))  # faults kept
    first = next(r for r in a if r[0] == 0 and r[3] == 1)
    assert first[8] == '{"zeta": "z", "alpha": 3, "big": 1099511627783, "f": 1.5}'

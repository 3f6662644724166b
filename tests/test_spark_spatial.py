"""Spark-layer tests: tile assignment, PIP join, salted agg, flagship
parity, checkpoint resume, kNN ring join. Cross-checked against the
pure-numpy kernels (the single-process oracle, SURVEY §5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mvtspark.kernels.image import synth_latlng
from mvtspark.kernels.proj import lnglat_to_tile
from mvtspark.operators.spatial import assign_tiles, salted_tile_counts, spatial_join_pip
from mvtspark.sources.images import synth_images
from mvtspark.sources.tiles import tile_polygons, tile_pyramid

N = 400
ZOOM = 8


@pytest.fixture(scope="module")
def images(spark):
    return synth_images(spark, N, with_bytes=False).cache()


def test_synth_images_deterministic_and_distributed(spark, images):
    rows = images.orderBy("image_id").limit(5).collect()
    again = synth_images(spark, N, with_bytes=False).orderBy("image_id").limit(5).collect()
    assert rows == again
    assert images.count() == N


def test_assign_tiles_matches_numpy_oracle(spark, images):
    got = assign_tiles(images, ZOOM).select("image_id", "x", "y", "px", "py").collect()
    ids = np.arange(N)
    lat, lng = synth_latlng(ids)
    tx, ty, px, py = lnglat_to_tile(lng, lat, ZOOM)
    exp = {
        f"img{i:012d}": (int(tx[i]), int(ty[i]), int(round(px[i])), int(round(py[i])))
        for i in ids
    }
    for r in got:
        e = exp[r.image_id]
        assert (r.x, r.y) == e[:2], r.image_id
        # px/py rounding: Spark ROUND is half-up, numpy round() half-even;
        # allow off-by-one only exactly at .5 boundaries
        assert abs(r.px - e[2]) <= 1 and abs(r.py - e[3]) <= 1


def test_spatial_join_pip_full_coverage(spark, images):
    """Every point falls in its own tile's rect ring (boundary counts)."""
    assigned = assign_tiles(images, ZOOM)
    polys = tile_polygons(assigned.select("zoom", "x", "y").distinct())
    joined = spatial_join_pip(assigned, polys)
    assert joined.count() == N
    assert joined.where(F.col("pip") == 0).count() == 0


def test_tile_polygons_over_pyramid_grid(spark):
    """tile_polygons decorates each key of a tile_pyramid grid with its
    closed (0, 0)-(extent, extent) boundary ring."""
    dim = tile_polygons(tile_pyramid(spark, 3, (1, 2), (5, 7)), extent=512)
    assert dim.columns == ["zoom", "x", "y", "extent", "ring_x", "ring_y"]
    rows = dim.collect()
    assert sorted((r.x, r.y) for r in rows) == [
        (x, y) for x in (1, 2) for y in (5, 6, 7)]
    for r in rows:
        assert (r.zoom, r.extent) == (3, 512)
        assert r.ring_x == [0, 512, 512, 0, 0]
        assert r.ring_y == [0, 0, 512, 512, 0]


def test_spatial_join_pip_subtile_polygon(spark, images):
    """Inset polygon excludes edge points — exact ray-cast semantics."""
    assigned = assign_tiles(images, ZOOM)
    lo, hi = 1024, 3072
    ring_x = F.array(*[F.lit(v).cast("long") for v in (lo, hi, hi, lo, lo)])
    ring_y = F.array(*[F.lit(v).cast("long") for v in (lo, lo, hi, hi, lo)])
    polys = (
        assigned.select("zoom", "x", "y").distinct()
        .withColumns({"extent": F.lit(4096), "ring_x": ring_x, "ring_y": ring_y})
    )
    joined = spatial_join_pip(assigned, polys).select("image_id", "px", "py").collect()
    inside = {r.image_id for r in joined}
    for r in assign_tiles(images, ZOOM).select("image_id", "px", "py").collect():
        expect = (lo <= r.px <= hi) and (lo <= r.py <= hi)
        assert (r.image_id in inside) == expect


def test_spatial_join_pip_rows_mode_matches_broadcast(spark, images):
    """broadcast_dim=False (JVM join + rings-per-row UDF) must agree
    row-for-row with the broadcast-rings path on a mixed dim (some
    full-tile rects, some inset polygons)."""
    assigned = assign_tiles(images, ZOOM)
    lo, hi = 512, 3584
    # inset ring for even x, full ring for odd x
    mk = lambda vals: F.array(*[F.lit(v).cast("long") for v in vals])
    polys = (
        assigned.select("zoom", "x", "y").distinct()
        .withColumns({
            "extent": F.lit(4096),
            "ring_x": F.when(F.col("x") % 2 == 0, mk((lo, hi, hi, lo, lo)))
                       .otherwise(mk((0, 4096, 4096, 0, 0))),
            "ring_y": F.when(F.col("x") % 2 == 0, mk((lo, lo, hi, hi, lo)))
                       .otherwise(mk((0, 0, 4096, 4096, 0))),
        })
    )
    cols = ["image_id", "zoom", "x", "y", "px", "py", "pip"]
    a = sorted(map(tuple, spatial_join_pip(assigned, polys, broadcast_dim=True)
                   .select(*cols).collect()))
    b = sorted(map(tuple, spatial_join_pip(assigned, polys, broadcast_dim=False)
                   .select(*cols).collect()))
    assert a == b
    assert len(a) > 0


def test_spatial_join_pip_rows_mode_matches_broadcast_degenerate_ring(spark):
    """On a dim mixing a degenerate ring (two distinct vertices, closed)
    with a rect and an open triangle, the rows path (broadcast_dim=False,
    one kernel call per Arrow batch) equals the broadcast path row for
    row; the degenerate ring contains nothing, even on its segment."""
    mk = "zoom int, x long, y long, extent int, ring_x array<long>, ring_y array<long>"
    polys = spark.createDataFrame([
        (4, 0, 0, 4096, [0, 4096, 0], [0, 0, 0]),
        (4, 1, 0, 4096, [0, 4096, 4096, 0, 0], [0, 0, 4096, 4096, 0]),
        (4, 2, 0, 4096, [0, 4096, 2048], [0, 0, 4096]),
    ], mk)
    pts = [(i, 4, x, 0, px, py) for i, (x, px, py) in enumerate([
        (0, 5, 0), (0, 0, 0), (0, 4096, 0), (0, 100, 100),
        (1, 0, 0), (1, 2048, 2048), (1, 4096, 17), (1, 5000, 5),
        (2, 2048, 10), (2, 1024, 2048), (2, 0, 0), (2, 4000, 4000),
        (3, 1, 1),
    ])]
    points = spark.createDataFrame(
        pts, "image_id long, zoom int, x long, y long, px long, py long")
    cols = ["image_id", "pip"]
    a = sorted(map(tuple, spatial_join_pip(points, polys, broadcast_dim=True)
                   .select(*cols).collect()))
    b = sorted(map(tuple, spatial_join_pip(points, polys, broadcast_dim=False)
                   .select(*cols).collect()))
    assert a == b
    assert a == [(4, -1), (5, 1), (6, -1), (8, 1), (9, -1), (10, -1)]


def test_pip_rows_batch_reads_sliced_list_offsets():
    """The rows-path batch function takes ring spans from the ListArray
    offsets; a sliced batch (nonzero offset into the values buffer)
    gives the one-ring reference's answer on each row's own ring."""
    import pyarrow as pa
    from pip_reference import point_in_polygon as reference

    from mvtspark.functions.udfs import _pip_rows

    rx = [[9, 9, 9], [0, 10, 0], [0, 10, 10, 0, 0], [0, 10, 5], [0, 10, 10, 0]]
    ry = [[9, 9, 9], [0, 0, 0], [0, 0, 10, 10, 0], [0, 0, 10], [0, 0, 10, 10]]
    px = [0, 5, 5, 5, 10]
    py = [0, 0, 5, 0, 5]
    t = pa.list_(pa.int64())
    got = _pip_rows(
        pa.array(px, pa.int64()).slice(1), pa.array(py, pa.int64()).slice(1),
        pa.array(rx, t).slice(1), pa.array(ry, t).slice(1),
    )
    assert got.type == pa.int8()
    exp = [int(reference([x], [y], np.array(a), np.array(b))[0])
           for x, y, a, b in zip(px[1:], py[1:], rx[1:], ry[1:])]
    assert got.to_pylist() == exp == [0, 1, -1, -1]


def test_point_in_polygon_multi_matches_single():
    """Multi-ring kernel ≡ the one-ring reference (tests/pip_reference.py)
    on uniform and ragged ring sets: closed and open rings, a concave U,
    degenerate rings (fewer than 3 vertices once the closing duplicate
    is dropped) and an empty batch."""
    import numpy as np
    from pip_reference import point_in_polygon as reference

    from mvtspark.kernels import geom

    rng = np.random.default_rng(7)
    R = lambda xs, ys: (np.array(xs), np.array(ys))
    rings = [
        R([0, 100, 100, 0, 0], [0, 0, 100, 100, 0]),        # closed rect
        R([10, 90, 50, 10], [10, 10, 90, 10]),              # closed triangle
        R([20, 80, 80, 20, 20], [20, 20, 80, 80, 20]),      # closed rect
        R([0, 100, 100, 0], [0, 0, 100, 100]),              # open rect
        R([5, 95, 50], [5, 5, 95]),                         # open triangle
        R([0, 100, 100, 80, 80, 20, 20, 0, 0],              # concave U
          [0, 0, 100, 100, 20, 20, 100, 100, 0]),
        R([0, 100, 0], [0, 0, 0]),                          # 2 distinct, closed
        R([0, 100], [50, 50]),                              # open segment
        R([40], [40]),                                      # one vertex
        R([], []),                                          # empty ring
    ]
    for use in ([0, 2], [3], [0, 1, 2], [5], [6], [0, 6], list(range(10))):
        sub = [rings[i] for i in use]
        offsets = np.r_[0, np.cumsum([r[0].size for r in sub])]
        rxf = np.concatenate([r[0] for r in sub]).astype(np.int64)
        ryf = np.concatenate([r[1] for r in sub]).astype(np.int64)
        n = 500
        px = rng.integers(-10, 111, n)
        py = rng.integers(-10, 111, n)
        ri = rng.integers(0, len(sub), n)
        got = geom.point_in_polygon_multi(px, py, ri, offsets, rxf, ryf)
        assert got.dtype == np.int8
        for r, (rx, ry) in enumerate(sub):
            sel = ri == r
            exp = reference(px[sel], py[sel], rx, ry)
            assert (got[sel] == exp).all(), f"ring {r} (set {use})"
        none = np.array([], dtype=np.int64)
        assert geom.point_in_polygon_multi(
            none, none, none, offsets, rxf, ryf).shape == (0,)


def test_clip_features_boundary_and_noop(spark):
    """clip_features: clip(0) is a no-op on in-bounds geometry (the
    reference Clipping invariant, TestMvtInBulk.cs:183-209); geometry
    crossing the tile edge is clipped hard to [0, extent] (post-clip
    bounds invariant, TestMvtInBulk.cs:246-275)."""
    from mvtspark.sources.tiles import clip_features

    rows = [
        # in-bounds point
        (2, 0, 0, "l", 4096, 1, 1, [0, 1], [100], [200], "{}", None),
        # out-of-bounds point -> dropped at buffer 0
        (2, 0, 0, "l", 4096, 2, 1, [0, 1], [5000], [200], "{}", None),
        # line crossing the right edge -> clipped at x=4096
        (2, 0, 0, "l", 4096, 3, 2, [0, 2], [4000, 5000], [0, 1000], "{}", None),
        # square ring straddling the edge -> clipped to the rect
        (2, 0, 0, "l", 4096, 4, 3, [0, 5],
         [3000, 5000, 5000, 3000, 3000], [1000, 1000, 2000, 2000, 1000],
         "{}", None),
    ]
    schema = (
        "zoom int, x int, y int, layer string, extent int, feature_id long,"
        "geom_type int, part_offsets array<int>, xs array<long>,"
        "ys array<long>, props string, decode_error string"
    )
    df = spark.createDataFrame(rows, schema=schema)
    got = {r.feature_id: r for r in clip_features(df, buffer=0).collect()}
    assert set(got) == {1, 3, 4}  # feature 2 clipped away entirely
    assert (got[1].xs, got[1].ys) == ([100], [200])  # untouched
    assert got[3].xs == [4000, 4096] and got[3].ys == [0, 96]
    assert max(got[4].xs) == 4096 and min(got[4].xs) == 3000
    assert got[4].xs[0] == got[4].xs[-1] and got[4].ys[0] == got[4].ys[-1]
    for fid in (3, 4):
        assert all(0 <= v <= 4096 for v in got[fid].xs + got[fid].ys)


def test_salted_counts_match_plain_groupby(spark, images):
    assigned = assign_tiles(images, ZOOM)
    salted = {
        (r.x, r.y): r.image_count
        for r in salted_tile_counts(assigned, salt_buckets=8).collect()
    }
    plain = {
        (r.x, r.y): r["count"]
        for r in assigned.groupBy("x", "y").count().collect()
    }
    assert salted == plain


def test_flagship_parity(spark):
    from mvtspark.plans.flagship import flagship

    rows = flagship(spark, n_images=300, zoom=8).collect()
    assert len(rows) > 0
    assert all(r.parity_ok for r in rows)
    assert sum(r.image_count for r in rows) == 300


def test_checkpoint_resume(spark, tmp_path):
    from mvtspark.sources.checkpoint import (
        pending_work,
        read_checkpoint,
        write_stage_checkpoint,
    )

    path = str(tmp_path / "ckpt")
    planned = spark.range(10).select(F.col("id").cast("int").alias("zoom"))
    done_df = planned.where(F.col("zoom") < 4)
    write_stage_checkpoint(done_df, path, job_id="j1", stage="s1", lineage="test")
    ck = read_checkpoint(spark, path)
    assert ck.count() > 0
    pend = pending_work(planned, ck, "j1", "s1", keys=("zoom",))
    assert sorted(r.zoom for r in pend.collect()) == [4, 5, 6, 7, 8, 9]
    # second stage unaffected
    pend2 = pending_work(planned, ck, "j1", "s2", keys=("zoom",))
    assert pend2.count() == 10


def test_knn_ring_join(spark, images):
    from mvtspark.operators.spatial import knn_ring_join

    sites = spark.createDataFrame(
        [(i, 40.0 + i * 0.3, -74.0 + i * 0.3) for i in range(6)],
        "site_id int, lat double, lng double",
    )
    pts = images.limit(50)
    out = knn_ring_join(pts, sites, k=2, zoom=6, max_radius=4)
    got = out.groupBy("image_id").count().collect()
    # every point that found neighbors has exactly k
    for r in got:
        assert r["count"] == 2
    # oracle: brute force in numpy for a sample
    ids = [r.image_id for r in pts.select("image_id").collect()]
    lat, lng = synth_latlng(np.array([int(i[3:]) for i in ids]))
    site_rows = sites.collect()
    knn = {
        r.image_id: sorted((r.site_id, round(r.dist2, 9)) for r in out.where(F.col("image_id") == r.image_id).collect())
        for r in out.limit(5).collect()
    }
    for img_id, pairs in knn.items():
        i = ids.index(img_id)
        d2 = [(s.site_id, (lat[i] - s.lat) ** 2 + (lng[i] - s.lng) ** 2) for s in site_rows]
        d2.sort(key=lambda t: (t[1], t[0]))
        expect = sorted((sid, round(d, 9)) for sid, d in d2[:2])
        assert [p[0] for p in pairs] == [e[0] for e in expect]


def test_broadcast_rings_rejects_zoom_past_packed_key_range(spark):
    from mvtspark.functions.udfs import broadcast_rings

    ring_x = [0, 10, 10, 0, 0]
    ring_y = [0, 0, 10, 10, 0]
    ok = spark.createDataFrame(
        [(28, (1 << 28) - 1, (1 << 28) - 1, ring_x, ring_y)],
        "zoom int, x long, y long, ring_x array<long>, ring_y array<long>",
    )
    assert broadcast_rings(spark, ok) is not None  # zoom 28 is the last valid level
    bad = spark.createDataFrame(
        [(29, 1 << 28, 1 << 28, ring_x, ring_y)],
        "zoom int, x long, y long, ring_x array<long>, ring_y array<long>",
    )
    with pytest.raises(ValueError, match="zoom <= 28"):
        broadcast_rings(spark, bad)


def test_broadcast_rings_rejects_duplicate_tile_keys(spark):
    """searchsorted resolves ONE ring per packed key; a dim with two
    polygons in one tile must fail loudly instead of nondeterministically
    picking one (unstable argsort) — multi-polygon tiles belong on the
    broadcast_dim=False path."""
    from mvtspark.functions.udfs import broadcast_rings

    ring_x = [0, 10, 10, 0, 0]
    ring_y = [0, 0, 10, 10, 0]
    dup = spark.createDataFrame(
        [(4, 1, 1, ring_x, ring_y), (4, 1, 1, ring_x, ring_y)],
        "zoom int, x long, y long, ring_x array<long>, ring_y array<long>",
    )
    with pytest.raises(ValueError, match="duplicate"):
        broadcast_rings(spark, dup)


def test_connected_components_chain_and_singleton(spark):
    """A~B, B~C must collapse into ONE group labeled min(id); disjoint
    pair D~E stays its own group; chain propagation needs >1 round."""
    from mvtspark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], "doc_a long, doc_b long"
    )
    rows = {r.doc_id: (r.group_id, r.group_size)
            for r in connected_components(edges).collect()}
    assert rows == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 7: (1, 4),
        10: (10, 2), 11: (10, 2),
    }


def test_broadcast_rings_rejects_non_integral_vertices(spark):
    """The broadcast build used to truncate double ring vertices to
    int64; a non-integral vertex raises now, an integer-valued one passes."""
    from mvtspark.functions.udfs import broadcast_rings

    schema = "zoom int, x long, y long, ring_x array<double>, ring_y array<double>"
    ok = spark.createDataFrame(
        [(4, 1, 1, [0.0, 10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0, 0.0])], schema)
    assert broadcast_rings(spark, ok).kind == "rect"
    bad = spark.createDataFrame(
        [(4, 1, 1, [0.9, 10.0, 10.0, 0.9, 0.9], [0.9, 0.9, 10.0, 10.0, 0.9])], schema)
    with pytest.raises(ValueError, match="finite integers"):
        broadcast_rings(spark, bad)

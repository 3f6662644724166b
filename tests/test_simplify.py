"""Douglas–Peucker: batch kernel ≡ naive recursive twin + Spark wrapper."""

import numpy as np
from pyspark.sql import functions as F

from mvtspark.kernels.simplify import dp_mask_batch
from simplify_reference import dp_mask_naive


def _rand_parts(seed=7, n=120):
    rng = np.random.default_rng(seed)
    return [
        rng.integers(0, 4096, size=(int(rng.integers(2, 40)), 2)).astype(np.int64)
        for _ in range(n)
    ]


def test_batch_matches_naive_across_eps():
    parts = _rand_parts()
    xs = np.concatenate([p[:, 0] for p in parts])
    ys = np.concatenate([p[:, 1] for p in parts])
    offs = np.concatenate([[0], np.cumsum([len(p) for p in parts])])
    for eps in (0, 1, 10, 200, 500, 5000):
        m = dp_mask_batch(xs, ys, offs, eps)
        for pi, p in enumerate(parts):
            nm = dp_mask_naive(p[:, 0], p[:, 1], eps)
            np.testing.assert_array_equal(m[offs[pi]: offs[pi + 1]], nm)


def test_invariants_endpoints_and_deviation_bound():
    """Kept set always contains endpoints; every dropped vertex is
    within eps of the simplified polyline's spanning segment chain."""
    parts = _rand_parts(seed=11, n=40)
    eps = 300
    for p in parts:
        m = dp_mask_naive(p[:, 0], p[:, 1], eps)
        assert m[0] and m[-1]
        kept = np.nonzero(m)[0]
        # every dropped point lies within eps of the segment between its
        # surrounding kept vertices (the DP guarantee)
        for a, b in zip(kept[:-1], kept[1:]):
            ax, ay = p[a]
            bx, by = p[b]
            dx, dy = bx - ax, by - ay
            for i in range(a + 1, b):
                cr = dx * (p[i, 1] - ay) - dy * (p[i, 0] - ax)
                assert cr * cr <= eps * eps * (dx * dx + dy * dy)


def test_eps_monotone():
    parts = _rand_parts(seed=3, n=30)
    for p in parts:
        prev = None
        for eps in (0, 50, 200, 1000, 10000):
            n = int(dp_mask_naive(p[:, 0], p[:, 1], eps).sum())
            if prev is not None:
                assert n <= prev
            prev = n
        assert prev >= 2


def test_spark_wrapper_matches_kernel(spark):
    from mvtspark.sources.tiles import simplify_features

    parts = _rand_parts(seed=5, n=25)
    rows = []
    for i, p in enumerate(parts):
        rows.append(
            (
                0, 0, 0, "l", 4096, i, 2,
                [0, len(p)], p[:, 0].tolist(), p[:, 1].tolist(), "{}", None,
            )
        )
    from mvtspark.sources.tiles import FEATURES_SCHEMA

    df = spark.createDataFrame(rows, FEATURES_SCHEMA)
    out = {
        r["feature_id"]: r
        for r in simplify_features(df, eps=400).collect()
    }
    for i, p in enumerate(parts):
        m = dp_mask_naive(p[:, 0], p[:, 1], 400)
        r = out[i]
        assert r["xs"] == p[m, 0].tolist()
        assert r["ys"] == p[m, 1].tolist()
        assert r["part_offsets"] == [0, int(m.sum())]


def test_multipart_and_degenerate_rows(spark):
    from mvtspark.sources.tiles import FEATURES_SCHEMA, simplify_features

    # two parts in one feature + a single-vertex part + an error row
    p1 = [(0, 0), (10, 2000), (20, 0), (30, 2000), (40, 0)]
    p2 = [(100, 100), (200, 100)]
    xs = [v[0] for v in p1 + p2] + [7]
    ys = [v[1] for v in p1 + p2] + [9]
    rows = [
        (0, 0, 0, "l", 4096, 1, 2, [0, 5, 7, 8], xs, ys, "{}", None),
        (0, 0, 0, "l", 4096, 2, 2, None, None, None, "{}", "boom"),
    ]
    df = spark.createDataFrame(rows, FEATURES_SCHEMA)
    got = {r["feature_id"]: r for r in simplify_features(df, eps=100).collect()}
    r1 = got[1]
    m1 = dp_mask_naive(
        np.array([v[0] for v in p1]), np.array([v[1] for v in p1]), 100
    )
    k1 = int(m1.sum())
    # part 1 simplifies per the naive twin; 2-point and 1-point parts
    # pass through untouched
    assert r1["part_offsets"] == [0, k1, k1 + 2, k1 + 3]
    assert r1["xs"] == [p1[i][0] for i in np.nonzero(m1)[0]] + [100, 200, 7]
    assert r1["ys"] == [p1[i][1] for i in np.nonzero(m1)[0]] + [100, 100, 9]
    assert got[2]["xs"] is None or got[2]["xs"] == []

"""The benchmark's own tests: every output check passes on a correct
result and fails on a corrupted one, the expected decode outcomes match
the program's kernels, and BENCHMARK.json names exactly the metrics the
benchmark prints.  Spark-free; run with ``python -m pytest perfbench``."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import checks, gen, probes, trace
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- northstar ------------------------------------------------------------

def _northstar_ok():
    expected = {(1, 2): (3, 100, 200), (5, 6): (1, 7, 8)}
    decoded = {k: (*v, 0) for k, v in expected.items()}
    return decoded, expected, {"agg": 2, "encode": 2}


def test_northstar_accepts_correct_result():
    assert checks.northstar(*_northstar_ok()) == []


@pytest.mark.parametrize("corrupt", [
    lambda d, e, c: d.update({(1, 2): (2, 100, 200, 0)}),   # a point lost
    lambda d, e, c: d.update({(1, 2): (3, 101, 200, 0)}),   # a coordinate moved
    lambda d, e, c: d.update({(5, 6): (1, 7, 8, 1)}),       # a decode error
    lambda d, e, c: d.pop((5, 6)),                          # a tile lost
    lambda d, e, c: d.update({(9, 9): (1, 0, 0, 0)}),       # a tile invented
    lambda d, e, c: c.update({"encode": 1}),                # checkpoint short
])
def test_northstar_rejects_corruption(corrupt):
    d, e, c = _northstar_ok()
    corrupt(d, e, c)
    assert checks.northstar(d, e, c)


def test_tile_counts_sql_agrees_with_numpy_replay(tmp_path):
    """The DuckDB oracle and the probes' numpy tile math, two writings of
    the same formula, agree tile by tile."""
    import duckdb
    import numpy as np

    gen.points(3).to_parquet(tmp_path / "p.parquet")
    rows = duckdb.sql(gen.tile_counts_sql(str(tmp_path / "p.parquet"))).fetchall()
    x, y, px, py, _, starts = probes._northstar_tiles(3)
    ends = np.append(starts[1:], x.size)
    replay = {(int(x[s]), int(y[s])): (int(e - s), int(px[s:e].sum()), int(py[s:e].sum()))
              for s, e in zip(starts, ends)}
    assert {(r[0], r[1]): tuple(r[2:]) for r in rows} == replay
    assert len(replay) > gen.RECT_NATIVE_MAX


# -- tile decode ----------------------------------------------------------

@pytest.fixture(scope="module")
def tiles():
    return gen.tiles(5)


def _kernel_outcomes(rows, mode):
    """What the program's kernels give for each tile, per decode mode."""
    from mvtspark.kernels import mvt as mk
    from mvtspark.kernels.geom import decode_commands
    from mvtspark.kernels.mvt_batch import decode_tile_rows

    got = {}
    for _, x, y, blob in rows:
        if mode == "validate":
            try:
                layers = mk.decode_tile(blob, validate=True)
            except ValueError:  # every decode fault raises a ValueError subclass
                got[(x, y)] = (0, 0, 1)
                continue
            feats = [f for layer in layers.values() for f in layer.features]
            verts = sum(decode_commands(f.geometry, f.geom_type)[0].size for f in feats)
            got[(x, y)] = (len(feats), verts, 0)
        else:
            lf = gen.LAYER_FILTER if mode == "layers" else None
            r = decode_tile_rows([blob], flat=True, layer_filter=lf)
            got[(x, y)] = (len(r[1]), int(r[5].size), len(r[-1]))
    return got


@pytest.mark.parametrize("mode", gen.MODES)
def test_expected_outcomes_match_the_kernels(tiles, mode):
    rows, expect = tiles
    assert checks.tile_decode(mode, _kernel_outcomes(rows, mode), expect) == []


def _perfect(expect, mode):
    out = {}
    for key, (_, modes) in expect.items():
        f, v, e = modes[mode]
        if f or e:
            out[key] = (f, v or 0, e)
    return out


@pytest.mark.parametrize("mode", gen.MODES)
def test_tile_decode_rejects_corruption(tiles, mode):
    _, expect = tiles
    good = _perfect(expect, mode)
    assert checks.tile_decode(mode, good, expect) == []
    valid = next(k for k, (c, _) in expect.items() if c < 0)
    invalid = next(k for k, (c, m) in expect.items() if c > 0 and m[mode][2])
    for key, bad in ((valid, (good[valid][0] - 1, good[valid][1], 0)),
                     (valid, (good[valid][0], good[valid][1] + 1, 0)),
                     (invalid, (0, 0, 0))):
        corrupt = dict(good)
        corrupt[key] = bad
        assert checks.tile_decode(mode, corrupt, expect), (key, bad)


# -- images ---------------------------------------------------------------

def test_images_check():
    rows = [("a", 4200, None), ("b", 10**9, None)]
    assert checks.images("mrj", rows, 2) == []
    assert checks.images("mrj", [("a", 3999, None), rows[1]], 2)
    assert checks.images("mrj", [("a", None, "bad marker"), rows[1]], 2)
    assert checks.images("mrj", rows[:1], 2)


# -- polygon pairs --------------------------------------------------------

def test_pairs_check_against_the_sweep():
    from mvtspark.kernels.polysweep import boolean_pair_measures

    pairs = [p for p in gen.polygon_pairs(9) if len(p[1]) == 16][:4]
    areas = checks.pair_areas(pairs)
    rows = []
    for pid, ax, ay, bx, by in pairs:
        i2, u2, d2, x2 = boolean_pair_measures(ax, ay, bx, by)
        rows.append((pid, round(i2), round(u2), round(d2), round(x2)))
    assert checks.pairs(rows, areas) == []
    for k, delta in ((1, 7), (2, -5), (3, 3), (4, 2)):
        bad = list(rows)
        bad[0] = tuple(v + delta if j == k else v for j, v in enumerate(rows[0]))
        assert checks.pairs(bad, areas), (k, delta)
    swapped = [(p, i, u, x, d) for p, i, u, d, x in rows]
    assert checks.pairs(swapped, areas)
    assert checks.pairs(rows[1:], areas)


# -- BENCHMARK.json -------------------------------------------------------

def test_benchmark_json_names_what_the_benchmark_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == trace.PER_LAYER
    assert all(m["better"] == trace.better(m["name"]) for m in spec["per_layer"])
    assert {m["name"] for m in spec["end_to_end"]} == {
        "iter_s", "first_iter_s", "cpu_s", "setup_s", "peak_rss_mb"}
    assert len(spec["per_layer"]) <= 128

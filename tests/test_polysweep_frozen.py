"""Frozen exact outputs of the slab sweep (kernels/polysweep.py).

``polysweep_frozen.json`` holds the exact ``Fraction`` results of the
sweep's public entry points, minted by the per-slab ``Fraction`` sweep
that the vectorized core replaced, so it stands in for that second
implementation as the reference:

* ``pairs``: ``boolean_pair_measures`` on the star pairs of
  ``perfbench/gen.py::polygon_pairs`` (seeds 1-3, 16 to 64 vertices per
  ring; a copy of the generator is below, so the benchmark's files stay
  untouched) and on the octilinear notched-rect x octagon corpus;
* ``unions``: the N-piece union sweep through ``rings_union_area2``,
  ``square_offset_measures``, ``open_buffer_square_measures`` and
  ``minkowski_any_convex_measures`` on 16-vertex stars;
* ``trapezoids``: a SHA-256 over the exact ``pair_trapezoids`` rows of
  every op, and ``region_components`` of every op, on 16-vertex stars.

Regenerate (only when the reference itself is meant to change) with
``python tests/test_polysweep_frozen.py > tests/polysweep_frozen.json``.
"""

import hashlib
import json
import math
import os
import random
from fractions import Fraction

import numpy as np

from mvtspark.kernels import polysweep as ps

_FROZEN = os.path.join(os.path.dirname(__file__), "polysweep_frozen.json")
_OPS = ("inter", "union", "diff", "xor")
OCT = [(2, 0), (6, 0), (8, 2), (8, 6), (6, 8), (2, 8), (0, 6), (0, 2)]

# copy of perfbench/gen.py's polygon-pair generator
PAIR_MIX = ((16, 12), (32, 5), (48, 2), (64, 1))


def _star(rng, cx, cy, nv):
    base = rng.uniform(0, 2 * np.pi)
    xs, ys = [], []
    for k in range(nv):
        a = base + 2 * np.pi * (k + rng.uniform(0.1, 0.9)) / nv
        r = rng.uniform(700, 1000) if k % 2 == 0 else rng.uniform(250, 450)
        xs.append(int(round(cx + r * math.cos(a))))
        ys.append(int(round(cy + r * math.sin(a))))
    return xs, ys


def polygon_pairs(seed):
    rng = np.random.default_rng([seed, 4])
    sizes = [nv for nv, k in PAIR_MIX for _ in range(k)]
    rng.shuffle(sizes)
    rows = []
    for pid, nv in enumerate(sizes):
        ax, ay = _star(rng, 0, 0, nv)
        bx, by = _star(rng, int(rng.integers(-600, 600)),
                       int(rng.integers(-600, 600)), nv)
        rows.append((pid, ax, ay, bx, by))
    return rows


def octilinear_pairs():
    """Notched rect x scaled octagon on the even grid (the shape of
    tests/test_polysweep.py::test_octilinear_corpus_is_integral)."""
    rng = random.Random(7)
    out = []
    for _ in range(30):
        x0, y0 = 2 * rng.randint(0, 50), 2 * rng.randint(0, 50)
        w, h = 2 * rng.randint(12, 21), 2 * rng.randint(8, 19)
        nx0 = x0 + 2 * rng.randint(1, 5)
        nx1 = nx0 + 2 * rng.randint(2, 6)
        ny = y0 + h - 2 * rng.randint(2, 6)
        s = rng.randint(1, 4)
        tx, ty = 2 * rng.randint(0, 60), 2 * rng.randint(0, 60)
        out.append((
            [x0, x0 + w, x0 + w, nx1, nx1, nx0, nx0, x0],
            [y0, y0, y0 + h, y0 + h, ny, ny, y0 + h, y0 + h],
            [p[0] * s + tx for p in OCT],
            [p[1] * s + ty for p in OCT],
        ))
    return out


def _small_stars(seed, n):
    rng = np.random.default_rng([seed, 9])
    return [_star(rng, int(rng.integers(-600, 600)),
                  int(rng.integers(-600, 600)), 16) for _ in range(n)]


def _s(v):
    return str(Fraction(v))


def compute():
    pairs = {}
    for seed in (1, 2, 3):
        for pid, ax, ay, bx, by in polygon_pairs(seed):
            pairs[f"star{seed}.{pid}"] = [
                _s(v) for v in ps.boolean_pair_measures(ax, ay, bx, by)]
    for i, (ax, ay, bx, by) in enumerate(octilinear_pairs()):
        pairs[f"oct.{i}"] = [
            _s(v) for v in ps.boolean_pair_measures(ax, ay, bx, by)]

    unions = {}
    stars = _small_stars(5, 12)
    for i in range(0, 12, 3):
        unions[f"rings.{i}"] = _s(ps.rings_union_area2(stars[i:i + 3]))
    ox = [30 * p[0] for p in OCT]
    oy = [30 * p[1] for p in OCT]
    for i, (xs, ys) in enumerate(stars[:4]):
        for r in (7, 60):
            unions[f"offset.{i}.{r}"] = [
                _s(v) for v in ps.square_offset_measures(xs, ys, r)]
        unions[f"buffer.{i}"] = [
            _s(v) for v in ps.open_buffer_square_measures(xs, ys, 11)]
        unions[f"minkowski.{i}"] = [
            _s(v) for v in ps.minkowski_any_convex_measures(xs, ys, ox, oy)]

    traps = {}
    for seed in (1, 2):
        for j, (ax, ay) in enumerate(_small_stars(seed, 6)[::2]):
            bx, by = _small_stars(seed + 10, 6)[2 * j]
            for op in _OPS:
                rows = ps.pair_trapezoids(ax, ay, bx, by, op)
                text = "\n".join(",".join(_s(v) for v in t) for t in rows)
                n, a2 = ps.region_components(ax, ay, bx, by, op)
                traps[f"{seed}.{j}.{op}"] = [
                    len(rows), hashlib.sha256(text.encode()).hexdigest(),
                    n, _s(a2)]
    return {"pairs": pairs, "unions": unions, "trapezoids": traps}


def _frozen():
    with open(_FROZEN) as f:
        return json.load(f)


def test_pair_measures_frozen():
    got = compute()
    want = _frozen()
    for part in ("pairs", "unions", "trapezoids"):
        assert got[part].keys() == want[part].keys()
        bad = [k for k in want[part] if got[part][k] != want[part][k]]
        assert not bad, f"{part}: {len(bad)} differ, first {bad[:3]}"


def test_frozen_star_corpus_is_non_integral():
    """The star corpus exercises rational events and measures, not just
    the integer grid: most of its measures have a denominator."""
    fr = [Fraction(v) for k, vs in _frozen()["pairs"].items()
          if k.startswith("star") for v in vs]
    assert sum(v.denominator != 1 for v in fr) > len(fr) // 2


if __name__ == "__main__":
    print(json.dumps(compute(), indent=1, sort_keys=True))

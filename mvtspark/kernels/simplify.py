"""Douglas–Peucker line simplification, whole-batch vectorized (D16).

The reference vendors clipper's SimplifyPolygon/CleanPolygon
(src/Clipper/clipper.cs — dead code per SURVEY §2.8 D16, never called
from the tile path), so round 1 scoped it out; this implements the
capability Spark-first so the inventory row is closed for real.

Integer-exact DP: a segment (A, B) splits at the interior point with
the largest perpendicular distance iff

    cross^2 > eps^2 * |AB|^2        (cross = (B-A) × (P-A))

— all int64 (|cross| <= 2*4096^2, squared < 2^51), so the engine, the
naive recursive twin (tests/simplify_reference.py) and the DuckDB
recursive-CTE oracle agree bit-for-bit with no float distances
anywhere. Ties (several interior points at the max) break to the
LOWEST index on every implementation.

``dp_mask_batch`` is the engine path: ALL parts of an Arrow batch are
simplified together with a flat worklist of (start, end) segment pairs
— per round, one np.repeat gather builds every segment's interior
slice, one 1-D maximum.reduceat finds the split candidates, and the
worklist is rebuilt by boolean masks. No per-feature Python loop; the
round count is the DP recursion depth (<= log2 of the longest part for
balanced splits, <= part length worst case), not the feature count.

Domain note: this is an OPEN-POLYLINE simplifier. For a degenerate
anchor segment (A == B, e.g. a closed ring fed end-to-end) the split
test cross^2 > eps^2*|AB|^2 is identically 0 > 0 and never fires, so
the part collapses to its two (identical) endpoints. All three
implementations (engine, naive twin, SQL oracle) share that behavior
by construction — callers simplifying rings should split them into
open halves first (the MVT pipeline's rings never reach this API).
"""

from __future__ import annotations

import numpy as np

_I64MAX = np.iinfo(np.int64).max


def dp_mask_batch(
    xs: np.ndarray, ys: np.ndarray, offsets: np.ndarray, eps: int
) -> np.ndarray:
    """Vectorized DP over MANY parts at once.

    xs/ys: flat int64 vertex arrays; offsets: int64 part boundaries
    (len P+1, offsets[p]..offsets[p+1] is part p). Returns a bool mask
    over the flat arrays (True = vertex kept).
    """
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    keep = np.zeros(len(xs), dtype=bool)
    starts, ends = offsets[:-1], offsets[1:] - 1
    nonempty = ends >= starts
    keep[starts[nonempty]] = True
    keep[ends[nonempty]] = True
    eps2 = np.int64(int(eps) * int(eps))

    a = starts[ends - starts >= 2]
    b = ends[ends - starts >= 2]
    while len(a):
        ln = b - a - 1                      # interior points per segment
        bounds = np.zeros(len(a), dtype=np.int64)
        np.cumsum(ln[:-1], out=bounds[1:] if len(a) > 1 else bounds[:0])
        total = int(bounds[-1] + ln[-1])
        # flat gather of every segment's interior slice
        idx = np.repeat(a + 1, ln) + (np.arange(total, dtype=np.int64) - np.repeat(bounds, ln))
        ax = np.repeat(xs[a], ln)
        ay = np.repeat(ys[a], ln)
        dx = np.repeat(xs[b] - xs[a], ln)
        dy = np.repeat(ys[b] - ys[a], ln)
        cr = dx * (ys[idx] - ay) - dy * (xs[idx] - ax)
        c2 = cr * cr
        maxv = np.maximum.reduceat(c2, bounds)
        sdx = xs[b] - xs[a]
        sdy = ys[b] - ys[a]
        lim = eps2 * (sdx * sdx + sdy * sdy)
        split = maxv > lim
        # lowest interior index attaining the max, per segment
        cand = np.where(c2 == np.repeat(maxv, ln), idx, _I64MAX)
        split_i = np.minimum.reduceat(cand, bounds)
        si = split_i[split]
        keep[si] = True
        # children: (a, split) and (split, b) with >=1 interior point
        na = np.concatenate([a[split], si])
        nb = np.concatenate([si, b[split]])
        grow = nb - na >= 2
        a, b = na[grow], nb[grow]
    return keep

"""Polygon boolean operators over Spark — the clipper.cs parity layer
(src/Geometry/clipper.cs:476 ``ClipType``, :1561-1631 ``Execute``,
:4744-5120 ``ClipperOffset``) re-scoped to the two domains a tile
engine actually exercises, each with an exact, SQL-replayable oracle:

1. CONVEX pairs (``convex_pair_union``): intersection / union area,
   union ring count, and boundary crossings via general-convex
   Sutherland–Hodgman (kernels/polyclip.py) — clipper ``ctIntersection``
   beyond J3's rectangle-only window, plus ``ctUnion`` measures through
   inclusion–exclusion.

2. RECTILINEAR sets (``rect_union_stats``): exact union / overlap /
   xor areas of axis-aligned integer rectangles per group by
   coordinate-compressed coverage counting — the scanline family that
   makes union/intersection/difference of rectilinear regions (merged
   geofences, tile masks) a single counting rule: union = cnt >= 1,
   pairwise overlap = cnt >= 2, xor = cnt == 1.

3. RECTILINEAR square-join offset (``offset_rectilinear``): clipper's
   jtSquare/etClosedPolygon on the rectilinear domain. The Minkowski
   sum of a rectilinear polygon with the square [-r, r]^2 is exactly
   polygon ∪ (every edge dilated to a 2r-wide rectangle) — vertex
   squares are absorbed by the edge rectangles — so the offset REGION
   area falls out of the same compressed-coverage grid plus one
   crossing-number point-in-polygon test per cell center. This lifts
   the D17 "strictly-convex rings only" restriction for the
   axis-aligned class (non-convex L/U/T shapes included).

Scale shape: each group/ring is a small geometry (fences, masks —
tens of rectangles); groups distribute embarrassingly. The coverage
grid is O(k^2) cells for k rectangles — bounded by the geometry, not
the fact tables — and every step is integer-exact, so the DuckDB
oracle replays it cell-for-cell with no float discipline needed.
"""

from __future__ import annotations

from collections.abc import Iterator
from fractions import Fraction

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mvtspark.kernels.polyclip import (
    convex_pair_stats, minkowski_sum_convex, ring_area2)
from mvtspark.kernels.polysweep import (
    boolean_pair_measures, minkowski_any_convex_measures,
    open_buffer_square_measures, pair_trapezoids, region_components,
    rings_union_area2, square_offset_measures)


def _as_long(fr) -> int:
    """Exact BIGINT from a rational measure: integral values pass
    through; otherwise round exactly on the Fraction with Python's
    half-to-even ``round`` (never through float — large rationals
    would overflow or lose precision)."""
    return int(fr) if fr.denominator == 1 else round(fr)


def _row_map(df: DataFrame, schema: str, fn, many=False) -> DataFrame:
    """Pure per-row map, no shuffle: ``fn`` turns each input row (a
    namedtuple) into one output tuple in ``schema``'s column order, or
    into an iterable of them with ``many``."""
    cols = [c.split()[0] for c in schema.split(", ")]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = map(fn, pdf.itertuples(index=False))
            yield pd.DataFrame(
                [o for out in rows for o in out] if many else list(rows),
                columns=cols)

    return df.mapInPandas(_run, schema)


def _float_rings(r):
    return [np.asarray(v, np.float64) for v in (r.ax, r.ay, r.bx, r.by)]


CONVEX_PAIR_SCHEMA = (
    "pair_id long, inter_area2 double, union_area2 double, "
    "n_rings int, n_cross int"
)


def convex_pair_union(pairs: DataFrame) -> DataFrame:
    """Per-row convex boolean stats: input rows carry two convex CCW
    rings as coordinate arrays (pair_id, ax, ay, bx, by); output the
    DOUBLED intersection and union areas (integer-exact for integer
    coordinates), the union ring count, and the proper edge-crossing
    count. Pure map — no shuffle; pairs distribute evenly."""
    return _row_map(pairs, CONVEX_PAIR_SCHEMA, lambda r: (
        int(r.pair_id), *convex_pair_stats(*_float_rings(r))))


MINKOWSKI_SCHEMA = "pair_id long, sum_area2 long, n_verts int"


def minkowski_sum_stats(pairs: DataFrame) -> DataFrame:
    """Per-row convex Minkowski sum measures (kernels/polyclip.py
    ``minkowski_sum_convex`` — clipper.cs:4596-4687 on the convex
    domain): input rows carry two convex CCW integer rings
    (pair_id, ax, ay, bx, by); output the DOUBLED area of A ⊕ B
    (integer-exact — sum vertices are integer sums) and its vertex
    count after parallel-edge fusion. Pure map — pairs distribute."""

    def row(r):
        vx, vy = minkowski_sum_convex(*_float_rings(r))
        return int(r.pair_id), int(round(ring_area2(vx, vy))), len(vx)

    return _row_map(pairs, MINKOWSKI_SCHEMA, row)


GENERAL_PAIR_SCHEMA = (
    "pair_id long, inter_area2 long, union_area2 long, "
    "diff_area2 long, xor_area2 long"
)


def general_pair_boolean(pairs: DataFrame) -> DataFrame:
    """Per-row boolean measures for ARBITRARY simple polygon pairs
    (kernels/polysweep.py — the full clipper ClipType surface,
    clipper.cs:476/:1561-1631, with no convexity or rectilinearity
    scoping): exact DOUBLED intersection / union / difference (A\\B) /
    xor areas via the vectorized slab sweep (exact rationals).
    Input rows carry two simple rings (pair_id, ax, ay, bx, by) with
    integer coordinates, |c| < 2^30. Pure map — no shuffle; pairs
    distribute.

    Outputs are BIGINT: exact when the doubled boolean areas are
    integral (always true for octilinear rings — axis + 45° edges
    through even vertices keep every crossing on the integer grid);
    otherwise the exact rational rounded half-to-even (Python
    ``round``; DuckDB's ``ROUND`` rounds half away from zero)."""
    return _row_map(pairs, GENERAL_PAIR_SCHEMA, lambda r: (
        int(r.pair_id),
        *map(_as_long, boolean_pair_measures(r.ax, r.ay, r.bx, r.by))))


RINGS_UNION_SCHEMA = "group_id long, n_rings long, union_area2 long"


def rings_union_stats(rings: DataFrame,
                      group_col: str = "group_id") -> DataFrame:
    """Exact union area of each GROUP's simple rings (kernels/
    polysweep.py ``rings_union_area2`` — clipper ctUnion over N
    arbitrary inputs, the merged-geofence job): rows carry one ring
    each (group_col, xs, ys); groups aggregate via applyInPandas.
    The groupBy is the ONLY shuffle; per-group work is bounded by the
    group's geometry (tens of fences), never the fact tables."""

    def _stats(key, pdf):
        u2 = rings_union_area2(list(zip(pdf["xs"], pdf["ys"])))
        return pd.DataFrame(
            [(int(key[0]), len(pdf), _as_long(u2))],
            columns=["group_id", "n_rings", "union_area2"])

    return rings.groupBy(group_col).applyInPandas(
        _stats, RINGS_UNION_SCHEMA
    )


BUFFER_OPEN_SCHEMA = "line_id long, len_l1 long, buffer_area2 long"


def polyline_buffer_square(lines: DataFrame) -> DataFrame:
    """Square-join buffer of OPEN polylines (kernels/polysweep.py
    ``open_buffer_square_measures`` — clipper etOpenSquare): exact L1
    path length and buffer-region area per row (line_id, xs, ys,
    radius). Pure map — no shuffle; lines distribute."""

    def row(r):
        l1, b2 = open_buffer_square_measures(r.xs, r.ys, int(r.radius))
        return int(r.line_id), int(l1), _as_long(b2)

    return _row_map(lines, BUFFER_OPEN_SCHEMA, row)


TRAPEZOID_SCHEMA = (
    "pair_id long, ylo long, yhi long, xl_lo long, xl_hi long, "
    "xr_lo long, xr_hi long"
)


def union_trapezoid_rows(pairs: DataFrame, op: str = "union") -> DataFrame:
    """RESULT GEOMETRY of any ClipType op on the pair (kernels/
    polysweep.py ``pair_trapezoids``): each input pair explodes into
    the exact trapezoidal decomposition of op(A, B) — the materialized
    boolean result a downstream rasterizer or clipper consumes, not
    just measures. op in {union, inter, diff, xor}. Rows: (pair_id,
    ylo, yhi, xl_lo, xl_hi, xr_lo, xr_hi); corners are exact BIGINTs
    on octilinear corpora (non-integral corners raise). Pure map +
    explode — no shuffle."""

    def rows(r):
        for tz in pair_trapezoids(r.ax, r.ay, r.bx, r.by, op):
            if any(v.denominator != 1 for v in map(Fraction, tz)):
                raise ValueError(
                    "non-integral trapezoid corner for pair "
                    f"{r.pair_id}: BIGINT output needs an "
                    "octilinear (integer-event) corpus"
                )
            yield (int(r.pair_id), *map(int, tz))

    return _row_map(pairs, TRAPEZOID_SCHEMA, rows, many=True)


COMPONENT_SCHEMA = "pair_id long, n_components long, area2 long"


def region_component_stats(pairs: DataFrame, op: str = "xor") -> DataFrame:
    """REGION TOPOLOGY of op(A, B) per pair (kernels/polysweep.py
    ``region_components``): the connected-component count of the
    result region (interior connectivity over the trapezoid
    decomposition) plus its area — the piece of Vatti's output (how
    many result polygons) that measures alone cannot see. Pure map —
    no shuffle."""

    def row(r):
        n, a2 = region_components(r.ax, r.ay, r.bx, r.by, op)
        return int(r.pair_id), int(n), _as_long(a2)

    return _row_map(pairs, COMPONENT_SCHEMA, row)


MINK_ANY_SCHEMA = "pair_id long, a_area2 long, sum_area2 long"


def minkowski_any_convex(pairs: DataFrame) -> DataFrame:
    """Per-row Minkowski sum measures for ARBITRARY simple ring A ⊕
    CONVEX ring B (kernels/polysweep.py
    ``minkowski_any_convex_measures`` — clipper MinkowskiSum,
    clipper.cs:4596-4687, lifted past the convex⊗convex edge merge):
    exact doubled area of A and of A ⊕ B via the N-piece union slab
    sweep over A ∪ per-edge dilation hulls. Input rows carry
    (pair_id, ax, ay, bx, by). Pure map — no shuffle."""
    return _row_map(pairs, MINK_ANY_SCHEMA, lambda r: (
        int(r.pair_id),
        *map(_as_long, minkowski_any_convex_measures(r.ax, r.ay, r.bx, r.by))))


OFFSET_ANY_SCHEMA = "ring_id long, base_area2 long, offset_area2 long"


def square_offset_any(rings: DataFrame) -> DataFrame:
    """Square-join offset of ARBITRARY simple rings (kernels/
    polysweep.py ``square_offset_measures`` — clipper jtSquare +
    etClosedPolygon, clipper.cs:4744-5120, with NO rectilinearity or
    convexity scoping): exact doubled base and offset-region areas via
    the N-piece union slab sweep (base ∪ per-edge square dilations).
    Input rows carry one simple integer ring and its radius
    (ring_id, xs, ys, radius). Pure map — no shuffle; rings
    distribute."""
    return _row_map(rings, OFFSET_ANY_SCHEMA, lambda r: (
        int(r.ring_id),
        *map(_as_long, square_offset_measures(r.xs, r.ys, int(r.radius)))))


def _coverage_grid(rx0, ry0, rx1, ry1, extra_x=(), extra_y=()):
    """Coordinate-compressed coverage counts for axis-aligned rects:
    returns (xs, ys, cnt) where cnt[i, j] = number of rects covering
    the open cell (xs[i], xs[i+1]) x (ys[j], ys[j+1]). 2-D difference
    array + double cumsum — O(k log k + cells), integer-exact."""
    xs = np.unique(np.concatenate([rx0, rx1, np.asarray(extra_x, np.int64)]))
    ys = np.unique(np.concatenate([ry0, ry1, np.asarray(extra_y, np.int64)]))
    i0 = np.searchsorted(xs, rx0)
    i1 = np.searchsorted(xs, rx1)
    j0 = np.searchsorted(ys, ry0)
    j1 = np.searchsorted(ys, ry1)
    diff = np.zeros((len(xs), len(ys)), dtype=np.int64)
    np.add.at(diff, (i0, j0), 1)
    np.add.at(diff, (i1, j0), -1)
    np.add.at(diff, (i0, j1), -1)
    np.add.at(diff, (i1, j1), 1)
    cnt = diff.cumsum(axis=0).cumsum(axis=1)[:-1, :-1]
    return xs, ys, cnt


RECT_UNION_SCHEMA = (
    "group_id long, n_rects long, union_area long, overlap_area long, "
    "xor_area long"
)


def rect_union_stats(rects: DataFrame, group_col: str = "group_id") -> DataFrame:
    """Exact boolean-measure suite of each group's axis-aligned integer
    rects (group_col, x0, y0, x1, y1): union (cnt >= 1), pairwise
    overlap (cnt >= 2), and xor (cnt == 1) areas from ONE compressed
    coverage grid. The groupBy is the only shuffle; per-group work is
    O(k^2) cells for k rects — geometry-bounded."""

    def _stats(key, pdf):
        xs, ys, cnt = _coverage_grid(
            pdf["x0"].to_numpy(np.int64), pdf["y0"].to_numpy(np.int64),
            pdf["x1"].to_numpy(np.int64), pdf["y1"].to_numpy(np.int64),
        )
        cell = (np.diff(xs)[:, None] * np.diff(ys)[None, :])
        return pd.DataFrame(
            {
                "group_id": [int(key[0])],
                "n_rects": [len(pdf)],
                "union_area": [int(cell[cnt >= 1].sum())],
                "overlap_area": [int(cell[cnt >= 2].sum())],
                "xor_area": [int(cell[cnt == 1].sum())],
            }
        )

    return rects.groupBy(group_col).applyInPandas(_stats, RECT_UNION_SCHEMA)


OFFSET_RECT_SCHEMA = (
    "ring_id long, base_area long, offset_area long, n_cells long"
)


def offset_rectilinear(rings: DataFrame, radius: int) -> DataFrame:
    """Square-join offset (clipper jtSquare + etClosedPolygon,
    clipper.cs:4744-5120, scoped to the rectilinear domain) of simple
    axis-aligned rings (ring_id, xs, ys — closed implicitly): exact
    area of the Minkowski sum ring ⊕ [-r, r]^2.

    offset region = polygon ∪ (each edge dilated by r in Chebyshev
    metric) — an edge (x1,y)-(x2,y) dilates to the rectangle
    [min-r, max+r] x [y-r, y+r], which absorbs the per-vertex squares.
    Coverage of the compressed grid decides membership: a cell is in
    the region iff its CENTER is inside the base ring (crossing-number
    over vertical edges — exact: every vertex coordinate is a grid line,
    so a center, the midpoint of two adjacent grid lines, lies strictly
    between edges and never on one) or inside any edge rectangle. Handles non-convex rings
    (L/U/T fences) — the shapes D17's strictly-convex offset rejects."""
    if radius < 0:
        raise ValueError("offset_rectilinear requires radius >= 0: a "
                         "negative radius inverts the dilation rects "
                         "and corrupts the coverage grid (erosion is "
                         "a different operation)")

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                vx = np.asarray(r.xs, dtype=np.int64)
                vy = np.asarray(r.ys, dtype=np.int64)
                nx_, ny_ = np.roll(vx, -1), np.roll(vy, -1)
                # edge dilation rects (covers boundary + vertex squares)
                rx0 = np.minimum(vx, nx_) - radius
                rx1 = np.maximum(vx, nx_) + radius
                ry0 = np.minimum(vy, ny_) - radius
                ry1 = np.maximum(vy, ny_) + radius
                xs, ys, cnt = _coverage_grid(rx0, ry0, rx1, ry1,
                                             extra_x=vx, extra_y=vy)
                cxs = (xs[:-1] + xs[1:]) / 2.0
                cys = (ys[:-1] + ys[1:]) / 2.0
                # crossing-number PIP of every cell center vs the base
                # ring: vertical edges only (rectilinear); a center lies
                # strictly between grid lines, so never on an edge
                vert = vx == nx_
                ex = vx[vert].astype(np.float64)
                ey0 = np.minimum(vy, ny_)[vert].astype(np.float64)
                ey1 = np.maximum(vy, ny_)[vert].astype(np.float64)
                crosses = (
                    (ex[None, None, :] > cxs[:, None, None])
                    & (ey0[None, None, :] < cys[None, :, None])
                    & (ey1[None, None, :] > cys[None, :, None])
                ).sum(axis=2) if len(ex) else np.zeros(
                    (len(cxs), len(cys)), dtype=np.int64
                )
                inside = (crosses % 2).astype(bool)
                region = inside | (cnt >= 1)
                cell = np.diff(xs)[:, None] * np.diff(ys)[None, :]
                rows.append(
                    (
                        int(r.ring_id),
                        int(cell[inside].sum()),
                        int(cell[region].sum()),
                        int(region.sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["ring_id", "base_area", "offset_area", "n_cells"],
            )

    return rings.mapInPandas(_run, OFFSET_RECT_SCHEMA)

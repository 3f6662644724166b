"""Polygon boolean operators over Spark — the clipper.cs parity layer
(src/Geometry/clipper.cs:476 ``ClipType``, :1561-1631 ``Execute``,
:4596-4687 ``MinkowskiSum``, :4744-5120 ``ClipperOffset``).

Every operator here measures its geometry with ONE exact engine, the
slab sweep of ``kernels/polysweep.py``: arbitrary simple integer rings,
any edge angle, exact rational measures. Convex pairs, axis-aligned
rect sets and rectilinear offsets are just inputs to it, not domains
with kernels of their own. Each group or ring is a small geometry
(fences, masks, tens of vertices); rows and groups distribute
embarrassingly, so the Spark layer is a pure map, or one groupBy for
the per-group set measures.
"""

from __future__ import annotations

from collections.abc import Iterator
from fractions import Fraction

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mvtspark.kernels.polysweep import (
    boolean_pair_measures, convex_minkowski_measures,
    minkowski_any_convex_measures, open_buffer_square_measures,
    pair_trapezoids, proper_crossing_count, region_components,
    rings_coverage_area2, rings_union_area2, square_offset_measures)


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


CONVEX_PAIR_SCHEMA = (
    "pair_id long, inter_area2 double, union_area2 double, "
    "n_rings int, n_cross int"
)


def convex_pair_union(pairs: DataFrame) -> DataFrame:
    """Per-row convex boolean stats: input rows carry two convex rings
    as coordinate arrays (pair_id, ax, ay, bx, by; integer values,
    |c| < 2^30); output the DOUBLED intersection and union areas (the
    sweep's exact measures as doubles), the union ring count (1 when
    the interiors meet, 2 when they are disjoint — a measure-zero touch
    counts as disjoint) and the proper edge-crossing count. Pure map —
    no shuffle; pairs distribute evenly."""

    def row(r):
        i2, u2, _, _ = boolean_pair_measures(r.ax, r.ay, r.bx, r.by)
        return (int(r.pair_id), float(i2), float(u2), 1 if i2 > 0 else 2,
                proper_crossing_count(r.ax, r.ay, r.bx, r.by))

    return _row_map(pairs, CONVEX_PAIR_SCHEMA, row)


MINKOWSKI_SCHEMA = "pair_id long, sum_area2 long, n_verts int"


def minkowski_sum_stats(pairs: DataFrame) -> DataFrame:
    """Per-row convex Minkowski sum measures (kernels/polysweep.py
    ``convex_minkowski_measures`` — clipper.cs:4596-4687 on the convex
    domain): input rows carry two convex integer rings
    (pair_id, ax, ay, bx, by); output the exact DOUBLED area of A ⊕ B
    and its vertex count with parallel edges fused. Pure map — pairs
    distribute."""

    def row(r):
        s2, n = convex_minkowski_measures(r.ax, r.ay, r.bx, r.by)
        return int(r.pair_id), _as_long(s2), n

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
        l1, b2 = open_buffer_square_measures(r.xs, r.ys, r.radius)
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
        *map(_as_long, square_offset_measures(r.xs, r.ys, r.radius))))


RECT_UNION_SCHEMA = (
    "group_id long, n_rects long, union_area long, overlap_area long, "
    "xor_area long"
)


def rect_union_stats(rects: DataFrame, group_col: str = "group_id") -> DataFrame:
    """Exact boolean-measure suite of each group's axis-aligned integer
    rects (group_col, x0, y0, x1, y1): union (covered at least once),
    pairwise overlap (at least twice) and xor (exactly once) areas,
    from one coverage-count sweep over the rects as 4-vertex rings
    (kernels/polysweep.py ``rings_coverage_area2``). The groupBy is the
    only shuffle; per-group work is bounded by the group's geometry."""

    def _stats(key, pdf):
        x0, y0, x1, y1 = (pdf[c].to_numpy(np.int64)
                          for c in ("x0", "y0", "x1", "y1"))
        rings = list(zip(np.stack([x0, x1, x1, x0], 1),
                         np.stack([y0, y0, y1, y1], 1)))
        areas = [_as_long(a2 / 2) for a2 in rings_coverage_area2(rings)]
        return pd.DataFrame(
            [(int(key[0]), len(pdf), *areas)],
            columns=["group_id", "n_rects", "union_area", "overlap_area",
                     "xor_area"])

    return rects.groupBy(group_col).applyInPandas(_stats, RECT_UNION_SCHEMA)

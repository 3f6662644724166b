"""Vectorized pandas/Arrow UDFs over the numpy kernels (no per-row Python
at DataFrame level — the ``input_hint`` contract).

Everything here is a thin Arrow-batch adapter: pd.Series (or, for
list columns, pyarrow arrays) in → numpy kernel → the same kind out.
Kernel imports happen inside the functions so executors only unpickle
module-level names (closure-capture hygiene).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, LongType


def s2_cell(lng: Column, lat: Column, level: int) -> Column:
    """lat/lng → S2 cell id at level (D18). Kernel: kernels/cells.py."""

    @F.pandas_udf(LongType())
    def _f(lng_s: pd.Series, lat_s: pd.Series) -> pd.Series:
        from mvtspark.kernels.cells import s2_cell_id

        return pd.Series(s2_cell_id(lng_s.to_numpy(), lat_s.to_numpy(), level))

    return _f(lng, lat)


def s2_parent_cell(cell: Column, level: int) -> Column:
    @F.pandas_udf(LongType())
    def _f(c: pd.Series) -> pd.Series:
        from mvtspark.kernels.cells import s2_parent

        return pd.Series(s2_parent(c.to_numpy(), level))

    return _f(cell)


def xyz_cell(lng: Column, lat: Column, zoom: int) -> Column:
    """lat/lng → packed Morton tile cell at zoom (grid-aligned join key)."""

    @F.pandas_udf(LongType())
    def _f(lng_s: pd.Series, lat_s: pd.Series) -> pd.Series:
        from mvtspark.kernels.cells import xyz_cell as _xyz

        return pd.Series(_xyz(lng_s.to_numpy(), lat_s.to_numpy(), zoom))

    return _f(lng, lat)


def pip_contains(px: Column, py: Column, ring_x: Column, ring_y: Column) -> Column:
    """Ray-cast point-in-polygon refinement (J4 phase 2), rings-per-row.

    Inputs: point tile-coords (long) + ring arrays (array<long>).
    Output: tinyint {0 out, 1 in, -1 boundary} — reference semantics
    (src/Geometry/clipper.cs:4025-4077).

    One kernel call per Arrow batch
    (kernels/geom.py::point_in_polygon_multi): row i tests against ring
    i, whose span the ``ring_x``/``ring_y`` ListArray offsets give.

    Scale note: this variant ships each row's ring through Arrow (~16B ×
    ring length per row) — right when the polygon dim is too big to
    broadcast. For broadcastable dims prefer
    :func:`pip_contains_bcast`, which ships only 5 scalar columns.
    """
    return F.arrow_udf(ByteType())(_pip_rows)(px, py, ring_x, ring_y)


def _pip_rows(px, py, ring_x, ring_y):
    """:func:`pip_contains` on one Arrow batch: row i against ring i."""
    import numpy as np
    import pyarrow as pa

    from mvtspark.kernels.geom import point_in_polygon_multi

    # offsets of a sliced ListArray index its unsliced values buffer;
    # rebase them onto the slice's own values (flatten())
    ox = ring_x.offsets.to_numpy().astype(np.int64)
    oy = ring_y.offsets.to_numpy().astype(np.int64)
    if not np.array_equal(ox - ox[0], oy - oy[0]):
        raise ValueError("pip_contains: ring_x and ring_y lengths differ")
    out = point_in_polygon_multi(
        px.to_numpy(zero_copy_only=False), py.to_numpy(zero_copy_only=False),
        np.arange(len(px)), ox - ox[0],
        ring_x.flatten().to_numpy(zero_copy_only=False),
        ring_y.flatten().to_numpy(zero_copy_only=False),
    )
    return pa.array(out, type=pa.int8())


class RingCatalog:
    """Driver-side build of a tile-polygon dimension (J4 broadcast path).

    ``kind == "rect"``: every ring is a closed axis-aligned rectangle —
    the planner (``spatial_join_pip``) then compiles the PIP refinement
    to a NATIVE bbox predicate (whole-stage codegen, zero Python), the
    same specialization insight as the reference, whose clip target is
    always an axis-aligned rect (src/Geometry/Util.cs:80-83).

    ``kind == "generic"``: arbitrary polygons; ``bcast`` holds the
    packed numpy arrays consumed by :func:`pip_contains_bcast`.
    """

    def __init__(self, kind, bcast, rect_pdf=None):
        self.kind = kind
        self.bcast = bcast
        self.rect_pdf = rect_pdf

    @property
    def value(self):  # pass-through so pip_contains_bcast accepts either
        return self.bcast.value


#: largest dim that takes the native rectangle predicate (see
#: :func:`broadcast_rings`)
RECT_NATIVE_MAX = 65536


def broadcast_rings(spark, tile_polys):
    """Collect a tile-polygon dim to the driver and broadcast it to the
    Python workers as four numpy arrays (sorted packed keys, ring
    offsets, flat ring x/y) — the Python-side analog of a JVM broadcast
    hash join build, sized for dims up to a few million rings.

    Returns a :class:`RingCatalog` (also detects the all-rectangles
    special case for the native fast path). The rect fast path is only
    chosen for dims ≤ :data:`RECT_NATIVE_MAX` rings: its JVM broadcast-hash
    build is rebuilt per QUERY (driver-serial), whereas the Python ring
    broadcast is built once per catalog and amortizes across queries —
    at ~10^6 rings the rebuild dominates and generic wins.
    """
    import numpy as np

    # Arrow-native build: list-array offsets/values come out as flat
    # numpy arrays directly — zero per-ring Python, O(n) vectorized.
    tbl = tile_polys.select("zoom", "x", "y", "ring_x", "ring_y").toArrow()
    zc = tbl.column("zoom").to_numpy().astype(np.int64)
    xc = tbl.column("x").to_numpy().astype(np.int64)
    yc = tbl.column("y").to_numpy().astype(np.int64)
    # packed key layout: zoom<<58 | x<<29 | y — valid for zoom <= 28
    # (x, y < 2^29); fail loudly instead of silently colliding keys
    if zc.size and (int(zc.max()) > 28 or int(xc.max()) >= 1 << 29 or int(yc.max()) >= 1 << 29):
        raise ValueError("broadcast_rings packed key supports zoom <= 28")
    keys = (zc << 58) | (xc << 29) | yc
    rx = tbl.column("ring_x").combine_chunks()
    ry = tbl.column("ring_y").combine_chunks()
    offsets = rx.offsets.to_numpy().astype(np.int64)
    rx_flat = rx.values.to_numpy().astype(np.int64)
    ry_flat = ry.values.to_numpy().astype(np.int64)
    # sort only the KEY index; rings stay in arrival order and lookups
    # go through the permutation (sorted pos -> original ring index)
    perm = np.argsort(keys).astype(np.int64)
    sorted_keys = keys[perm]
    # CONTRACT: one ring per (zoom, x, y). searchsorted resolves exactly
    # one ring per key, so a dim with two polygons in the same tile
    # would silently test points against an arbitrary one (and argsort
    # is unstable — nondeterministically so). Fail loudly; such dims
    # must use the rows-per-ring path (spatial_join_pip with
    # broadcast_dim=False).
    if sorted_keys.size > 1 and (np.diff(sorted_keys) == 0).any():
        raise ValueError(
            "broadcast_rings: duplicate (zoom, x, y) keys in dimension — "
            "one ring per tile is the broadcast-catalog contract; use "
            "broadcast_dim=False for multi-polygon tiles"
        )
    bcast = spark.sparkContext.broadcast(
        (sorted_keys, perm, offsets, rx_flat, ry_flat)
    )

    # rectangle detection (vectorized): every ring closed, 5 vertices,
    # exactly 2 distinct x and 2 distinct y values
    sizes = np.diff(offsets)
    rect_pdf = None
    if 0 < sizes.size <= RECT_NATIVE_MAX and (sizes == 5).all():
        vx = rx_flat.reshape(-1, 5)
        vy = ry_flat.reshape(-1, 5)
        closed = (vx[:, 0] == vx[:, 4]) & (vy[:, 0] == vy[:, 4])
        xmin, xmax = vx.min(axis=1), vx.max(axis=1)
        ymin, ymax = vy.min(axis=1), vy.max(axis=1)
        two_x = ((vx == xmin[:, None]) | (vx == xmax[:, None])).all(axis=1)
        two_y = ((vy == ymin[:, None]) | (vy == ymax[:, None])).all(axis=1)
        # each edge must be axis-aligned (one coord constant per edge)
        axis_edges = (
            (vx[:, 1:] == vx[:, :-1]) | (vy[:, 1:] == vy[:, :-1])
        ).all(axis=1)
        degenerate = (xmin == xmax) | (ymin == ymax)
        if (closed & two_x & two_y & axis_edges & ~degenerate).all():
            import pandas as pd

            rect_pdf = pd.DataFrame(
                {
                    "zoom": (keys >> 58) & 0x3F,
                    "x": (keys >> 29) & ((1 << 29) - 1),
                    "y": keys & ((1 << 29) - 1),
                    "rect_xmin": xmin, "rect_xmax": xmax,
                    "rect_ymin": ymin, "rect_ymax": ymax,
                }
            )
            return RingCatalog("rect", bcast, rect_pdf)
    return RingCatalog("generic", bcast)


def pip_contains_bcast(
    px: Column, py: Column, zoom: Column, x: Column, y: Column, rings_bcast
) -> Column:
    """Ray-cast PIP against a BROADCAST polygon dim (J4, broadcast path).

    Only five scalar int columns cross the JVM↔Python Arrow boundary
    (40 B/row vs ~100+ B/row for rings-per-row); each worker resolves
    the ring from the broadcast arrays via int64 searchsorted, then the
    whole batch is evaluated in one vectorized multi-ring kernel pass
    (kernels/geom.py::point_in_polygon_multi). Rows whose (zoom,x,y) has
    no ring in the dim get 0 (outside) — filtering on ``pip != 0``
    therefore realizes the inner spatial join without a JVM join.
    """

    @F.pandas_udf(ByteType())
    def _f(
        px_s: pd.Series, py_s: pd.Series, z_s: pd.Series, x_s: pd.Series,
        y_s: pd.Series,
    ) -> pd.Series:
        import numpy as np

        from mvtspark.kernels.geom import point_in_polygon_multi

        sorted_keys, perm, offsets, rx_flat, ry_flat = rings_bcast.value
        n = len(px_s)
        out = np.zeros(n, dtype=np.int8)
        if n == 0 or sorted_keys.size == 0:
            return pd.Series(out)
        row_keys = (
            (z_s.to_numpy(dtype=np.int64, copy=False) << 58)
            | (x_s.to_numpy(dtype=np.int64, copy=False) << 29)
            | y_s.to_numpy(dtype=np.int64, copy=False)
        )
        pos = np.searchsorted(sorted_keys, row_keys)
        pos[pos >= sorted_keys.size] = 0
        hit = sorted_keys[pos] == row_keys
        if hit.any():
            hi = np.flatnonzero(hit)
            out[hi] = point_in_polygon_multi(
                px_s.to_numpy(dtype=np.int64, copy=False)[hi],
                py_s.to_numpy(dtype=np.int64, copy=False)[hi],
                perm[pos[hi]], offsets, rx_flat, ry_flat,
            )
        return pd.Series(out)

    return _f(px, py, zoom, x, y)

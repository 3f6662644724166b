"""Z-order (Morton) clustered parquet layout for spatial scan pruning.

At 100 TB the dominant cost of a bbox query is the scan, and parquet
min/max statistics prune a file or row group only if the filtered
columns are *locally clustered* inside it.  A hash- or arrival-ordered
layout gives every file x ∈ [0, 2^z) and y ∈ [0, 2^z), so no file can
ever be skipped.  Interleaving the bits of the tile coordinates
(Morton / Z-order curve) and range-partitioning + sorting the write by
that single key bounds each file to a small spatial square, so a bbox
predicate touches O(bbox area / file area) files instead of all of
them — the same reason Iceberg/Delta ship `ZORDER BY`.

The z-value is a pure native bitwise expression (shiftleft/AND/OR over
longs), so the clustering key is computed inside whole-stage codegen —
no UDF, no Python, and the write's range exchange is the ONLY shuffle.
Reads need no knowledge of the layout: Spark pushes the bbox predicate
to the parquet reader (PushedFilters on x/y), which skips non-matching
row groups via the very statistics the layout tightened.

Numpy twin: ``kernels/cells._interleave_bits`` (same bit layout) —
cross-checked in tests/test_zorder_layout.py.  Reference analog: the
(zoom, x, y) explicit partitioning the north rule requires for the
tiling pipeline's persisted stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import _spread64


def zvalue(x: Column, y: Column) -> Column:
    """Morton z-value of two 16-bit grid coordinates (native codegen).

    Supports zoom <= 16 tile addresses (the reference's own fixture
    zooms): both inputs are masked to 16 bits before the spread.
    """
    x16, y16 = (c.cast("long").bitwiseAND(F.lit(0xFFFF)) for c in (x, y))
    return _spread64(x16).bitwiseOR(F.shiftleft(_spread64(y16), 1)).alias("z")


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str = "x",
    y_col: str = "y",
    n_files: int = 16,
    z_col: str = "z",
) -> None:
    """Write ``df`` as parquet clustered along the Z-order curve.

    ``repartitionByRange`` on the z-value splits the curve into
    ``n_files`` contiguous segments (one range exchange — the single
    shuffle of the write); ``sortWithinPartitions`` then orders rows
    inside each file so row-group min/max stats on BOTH x and y are
    tight.  ``n_files`` is the scale knob: pick data_size /
    target_file_size (e.g. 1 GB files) so each file still covers a
    compact square of the curve.
    """
    out = df
    if z_col not in df.columns:
        out = df.withColumn(z_col, zvalue(F.col(x_col), F.col(y_col)))
    (
        out.repartitionByRange(n_files, z_col)
        .sortWithinPartitions(z_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_bbox(
    spark: SparkSession,
    path: str,
    x_range: tuple[int, int],
    y_range: tuple[int, int],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Scan a (clustered) layout with a bbox predicate.

    Plain declarative filter — Catalyst pushes it to the parquet source
    (PushedFilters: GreaterThanOrEqual/LessThanOrEqual on x and y) and
    the reader skips row groups whose stats miss the box.  The pruning
    win comes entirely from the write layout, not from read-side code.
    """
    return (
        spark.read.parquet(path)
        .where(F.col(x_col).between(*x_range) & F.col(y_col).between(*y_range))
    )


def layout_prune_stats(
    path: str,
    x_range: tuple[int, int],
    y_range: tuple[int, int],
    x_col: str = "x",
    y_col: str = "y",
) -> dict:
    """Footer-only audit of how much a bbox scan can skip.

    Walks every parquet footer under ``path`` and counts files and row
    groups whose [min, max] envelope on BOTH columns intersects the
    bbox — exactly the decision the parquet reader's statistics filter
    makes.  Returns totals + touched counts; the layout tests assert
    z-ordered touched << unclustered touched on identical data.
    """
    import os

    import pyarrow.parquet as pq

    files_total = files_touched = rg_total = rg_touched = 0
    for root, _dirs, names in os.walk(path):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, name)).metadata
            schema_names = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            xi, yi = schema_names[x_col], schema_names[y_col]
            files_total += 1
            file_hit = False
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                xs, ys = rg.column(xi).statistics, rg.column(yi).statistics
                rg_total += 1
                hit = (
                    xs is None
                    or ys is None
                    or (
                        xs.min <= x_range[1]
                        and xs.max >= x_range[0]
                        and ys.min <= y_range[1]
                        and ys.max >= y_range[0]
                    )
                )
                if hit:
                    rg_touched += 1
                    file_hit = True
            if file_hit:
                files_touched += 1
    return {
        "files_total": files_total,
        "files_touched": files_touched,
        "rowgroups_total": rg_total,
        "rowgroups_touched": rg_touched,
    }

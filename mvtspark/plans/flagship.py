"""The north-star plan (SURVEY §3.3 "Spark analog"): images → project
lat/lng to tiles (D19, native codegen) → PIP spatial join against tile
polygons (J4) → salted per-tile aggregation (A6/A7) → MVT encode (S9),
built by :func:`tile_plan` for the job, the flagship and ``bench.py``;
:func:`flagship` adds decode-back parity (D1-D8) → per-tile summary.

Shuffle budget: exactly two wide stages — the (zoom,x,y) aggregation and
the per-tile encode group-by (they share partitioning, so AQE reuses the
exchange where possible); the polygon join is broadcast (zero shuffle).
At 10^12 rows the identical plan holds: generation is embarrassingly
parallel, the dimension stays broadcastable per zoom, and the salted agg
bounds any single reducer's key volume.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial import assign_tiles, salted_tile_counts, spatial_join_pip
from ..sources.images import synth_images
from ..sources.tiles import (
    decode_tiles, encode_tiles, point_features, tile_polygons,
)


class TilePlan(NamedTuple):
    assigned: DataFrame
    joined: DataFrame
    counts: DataFrame

    @property
    def tiles(self) -> DataFrame:
        """Built on request only: point features need a ``caption``,
        which count-only callers do not carry."""
        return encode_tiles(point_features(self.joined), layer_name="images")


def tile_plan(points: DataFrame, zoom: int, extent: int = 4096,
              salt_buckets: int = 16, rings=None,
              pending: Callable[[DataFrame], DataFrame] | None = None) -> TilePlan:
    """The stage frames of the north-star plan over ``points`` (lat,
    lng; image_id and caption to encode).

    ``rings``: a prebuilt :func:`broadcast_rings` tile catalog. Without
    it the dimension is the tiles the data actually hits, derived from
    ``assigned`` — small and broadcastable at any zoom (never the full
    4^zoom grid). Its only payload is ``extent``, which ``joined`` gets
    as a literal. ``pending`` keeps the assigned rows still to do (the
    job's resume: :func:`pending_work` over its checkpoint).
    """
    assigned = assign_tiles(points, zoom=zoom, extent=extent)
    if pending is not None:
        assigned = pending(assigned)
    polys = None if rings is not None else tile_polygons(
        assigned.select("zoom", "x", "y").distinct(), extent=extent)
    joined = spatial_join_pip(
        assigned, polys, broadcast_dim=True, rings=rings, attach_payload=False
    ).withColumn("extent", F.lit(extent))
    return TilePlan(assigned, joined, salted_tile_counts(joined, salt_buckets))


def flagship(spark: SparkSession, n_images: int = 1000, zoom: int = 8) -> DataFrame:
    """Returns the decoded-tile summary DF of :func:`tile_plan` over
    synthetic images: (zoom, x, y, image_count, feature_count,
    decoded_features, parity_ok).

    ``parity_ok`` is the decode-back check: every encoded tile re-decodes
    with our D1-D8 kernels to the same feature count (byte-level geometry
    round-trip is covered by the kernel suite; here the whole pipeline
    re-reads its own sink output, the reference's bulk-decode test shape,
    TestMvtInBulk.cs:41-69).
    """
    plan = tile_plan(synth_images(spark, n_images, with_bytes=False), zoom)
    tiles = plan.tiles
    decoded_counts = (
        decode_tiles(tiles.select("zoom", "x", "y", "mvt"))
        .where(F.col("decode_error").isNull())
        .groupBy("zoom", "x", "y")
        .agg(F.count(F.lit(1)).alias("decoded_features"))
    )

    return (
        tiles.select("zoom", "x", "y", "feature_count")
        .join(decoded_counts, ["zoom", "x", "y"], "left")
        .join(plan.counts, ["zoom", "x", "y"], "left")
        .withColumn(
            "parity_ok", F.col("feature_count") == F.col("decoded_features")
        )
        .select(
            "zoom", "x", "y", "image_count", "feature_count",
            "decoded_features", "parity_ok",
        )
    )

"""Flagship pipeline (SURVEY §3.3 "Spark analog"):

images → project lat/lng to tiles (D19, native codegen) → PIP spatial
join against tile polygons (J4) → salted per-tile aggregation (A6/A7) →
MVT encode (S9) → decode-back parity (D1-D8) → per-tile summary.

Shuffle budget: exactly two wide stages — the (zoom,x,y) aggregation and
the per-tile encode group-by (they share partitioning, so AQE reuses the
exchange where possible); the polygon join is broadcast (zero shuffle).
At 10^12 rows the identical plan holds: generation is embarrassingly
parallel, the dimension stays broadcastable per zoom, and the salted agg
bounds any single reducer's key volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial import assign_tiles, salted_tile_counts, spatial_join_pip
from ..sources.images import synth_images
from ..sources.tiles import (
    decode_tiles, encode_tiles, point_features, tile_polygons,
)


def flagship(
    spark: SparkSession,
    n_images: int = 1000,
    zoom: int = 8,
    salt_buckets: int = 16,
    with_bytes: bool = False,
) -> DataFrame:
    """Returns the decoded-tile summary DF:
    (zoom, x, y, feature_count, decoded_features, parity_ok).

    ``parity_ok`` is the decode-back check: every encoded tile re-decodes
    with our D1-D8 kernels to the same feature count (byte-level geometry
    round-trip is covered by the kernel suite; here the whole pipeline
    re-reads its own sink output, the reference's bulk-decode test shape,
    TestMvtInBulk.cs:41-69).
    """
    images = synth_images(spark, n_images, with_bytes=with_bytes)
    assigned = assign_tiles(images, zoom=zoom)

    # dimension: tiles the data actually hits (small — bounded by the
    # city clusters), decorated with their boundary rings. In production
    # this is the pre-built tile-catalog table; deriving it from the fact
    # side keeps the dimension broadcastable at any zoom (never the full
    # 4^zoom grid).
    polys = tile_polygons(assigned.select("zoom", "x", "y").distinct())

    joined = spatial_join_pip(assigned, polys, broadcast_dim=True)
    counts = salted_tile_counts(joined, salt_buckets=salt_buckets)

    # per-tile feature set: one point feature per image (id = stable row
    # number within the tile, W2 deterministic ordering), props = caption
    tiles = encode_tiles(point_features(joined), layer_name="images")

    decoded = decode_tiles(tiles.select("zoom", "x", "y", "mvt"))
    decoded_counts = (
        decoded.where(F.col("decode_error").isNull())
        .groupBy("zoom", "x", "y")
        .agg(F.count(F.lit(1)).alias("decoded_features"))
    )

    return (
        tiles.select("zoom", "x", "y", "feature_count")
        .join(decoded_counts, ["zoom", "x", "y"], "left")
        .join(counts, ["zoom", "x", "y"], "left")
        .withColumn(
            "parity_ok", F.col("feature_count") == F.col("decoded_features")
        )
        .select(
            "zoom", "x", "y", "image_count", "feature_count",
            "decoded_features", "parity_ok",
        )
    )

"""Python UDTF SQL surface (SURVEY §2.9): decode_mvt table function
parity with the vectorized DataFrame decode path."""

from pyspark.sql import functions as F

from mvtspark.functions.sql_udtf import register_sql_functions
from mvtspark.sources.tiles import decode_tiles, encode_tiles


def _feature_df(spark, n=50):
    return spark.range(n).select(
        F.lit(3).alias("zoom"),
        (F.col("id") % 2).cast("int").alias("x"),
        (F.col("id") % 3).cast("int").alias("y"),
        F.lit(4096).alias("extent"),
        F.col("id").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
        F.array(F.col("id") * 41 % 4096).alias("xs"),
        F.array(F.col("id") * 59 % 4096).alias("ys"),
        F.to_json(F.struct((F.col("id") % 5).alias("tag"))).alias("props"),
    )


def test_udtf_matches_dataframe_decode(spark):
    register_sql_functions(spark)
    tiles = encode_tiles(_feature_df(spark), layer_name="pts")
    tiles.createOrReplaceTempView("udtf_tiles")

    via_sql = spark.sql(
        """
        SELECT t.zoom, t.x, t.y, f.feature_id, f.xs[0] AS px, f.ys[0] AS py
        FROM udtf_tiles t, LATERAL decode_mvt(t.mvt) f
        """
    )
    via_df = decode_tiles(tiles.select("zoom", "x", "y", "mvt")).select(
        "zoom", "x", "y", "feature_id",
        F.element_at("xs", 1).alias("px"), F.element_at("ys", 1).alias("py"),
    )
    a = sorted(map(tuple, via_sql.collect()))
    b = sorted(map(tuple, via_df.collect()))
    assert a == b and len(a) == 50


def test_udtf_lenient_error_row(spark):
    register_sql_functions(spark)
    bad = spark.createDataFrame([(bytes([0x1F, 0x8B, 0x00]),)], "mvt binary")
    bad.createOrReplaceTempView("udtf_bad")
    rows = spark.sql(
        "SELECT f.decode_error FROM udtf_bad t, LATERAL decode_mvt(t.mvt) f"
    ).collect()
    assert len(rows) == 1 and rows[0].decode_error


def test_udtf_bad_geometry_or_wide_int_gives_error_row(spark):
    """A geometry stream decode_commands rejects, or an extent or
    geometry type past the int32 columns, used to raise out of the UDTF
    and fail the SQL query; each must give its tile's one error row while
    the other tiles of the query still decode."""
    from test_wire_goldens import (
        BAD_GEOMETRY, GOLDEN_SINGLE_POINT, WIDE_INT32_ERRORS, _tile_with_geometry,
        _wide_int32_tiles,
    )

    register_sql_functions(spark)
    bad = [_tile_with_geometry(g) for g in BAD_GEOMETRY.values()] + _wide_int32_tiles()
    rows = [(0, bytearray(GOLDEN_SINGLE_POINT))] + [
        (i + 1, bytearray(b)) for i, b in enumerate(bad)]
    spark.createDataFrame(rows, "x int, mvt binary").createOrReplaceTempView("udtf_faults")
    got = spark.sql(
        "SELECT t.x, f.feature_id, f.decode_error "
        "FROM udtf_faults t, LATERAL decode_mvt(t.mvt) f ORDER BY t.x"
    ).collect()
    assert [(r.x, r.feature_id, r.decode_error) for r in got] == [(0, 123, None)] + [
        (i + 1, None, msg) for i, msg in enumerate(list(BAD_GEOMETRY) + WIDE_INT32_ERRORS)]

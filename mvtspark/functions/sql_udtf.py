"""Python UDTF sugar for SQL users (SURVEY §2.9 stretch): expose the MVT
decode kernel as a table function so plain-SQL sessions can do

    SELECT f.* FROM tiles, LATERAL decode_mvt(zoom, x, y, mvt) AS f

The UDTF is a thin per-row wrapper over the per-tile decoder
(kernels.mvt.decode_tile, the strict oracle the DataFrame path names its
rejections by); the DataFrame API (`sources.tiles.decode_tiles`) remains
the hot path — it is whole-Arrow-batch vectorized, while a UDTF yields
row-at-a-time and is meant for ad-hoc SQL exploration, not the 100 TB
pipeline.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

INT32_MAX = 2**31 - 1  # the schema's int columns

DECODE_MVT_SCHEMA = (
    "layer string, extent int, feature_id bigint, geom_type int, "
    "part_offsets array<int>, xs array<bigint>, ys array<bigint>, "
    "props string, decode_error string"
)


@udtf(returnType=DECODE_MVT_SCHEMA)
class DecodeMvtUdtf:
    """One input tile row → one output row per decoded feature
    (lenient: decode errors become a single error row, matching
    sources.tiles.decode_tiles semantics)."""

    def eval(self, mvt):  # noqa: D102 - SQL surface
        from mvtspark.kernels import mvt as mk
        from mvtspark.kernels.geom import decode_commands

        if mvt is None:
            return
        try:  # the whole tile first: a fault anywhere gives one error row
            rows = []
            for layer in mk.decode_tile(bytes(mvt), validate=False).values():
                if layer.extent > INT32_MAX:
                    raise mk.MvtError(f"layer extent {layer.extent} exceeds int32")
                for f in layer.features:
                    if f.geom_type > INT32_MAX:
                        raise mk.MvtError(f"geometry type {f.geom_type} exceeds int32")
                    xs, ys, part_offsets = decode_commands(f.geometry, f.geom_type)
                    props = layer.properties(f)
                    rows.append((
                        layer.name,
                        int(layer.extent),
                        mk._to_signed(f.id),  # bigint, as decode_tiles reads it
                        int(f.geom_type),
                        [int(v) for v in part_offsets],
                        [int(v) for v in xs],
                        [int(v) for v in ys],
                        json.dumps(props, sort_keys=True, default=str) if props else None,
                        None,
                    ))
        except Exception as e:  # lenient: error row, don't kill the query
            yield (None, None, None, None, None, None, None, None, str(e))
            return
        yield from rows


def register_sql_functions(spark: SparkSession) -> None:
    """Register the UDTF surface on a session (idempotent)."""
    spark.udtf.register("decode_mvt", DecodeMvtUdtf)

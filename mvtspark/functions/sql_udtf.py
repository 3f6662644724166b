"""Python UDTF sugar for SQL users (SURVEY §2.9 stretch): expose the MVT
decode kernel as a table function so plain-SQL sessions can do

    SELECT f.* FROM tiles, LATERAL decode_mvt(mvt) AS f

The UDTF runs the batch decoder the DataFrame path runs
(kernels.mvt_batch.decode_tile_rows) on a batch of one tile, so its rows,
error messages and ``props`` strings (keys in tile order) are those of
`sources.tiles.decode_tiles`. That DataFrame API remains the hot path —
it decodes a whole Arrow batch per call, while a UDTF yields
row-at-a-time and is meant for ad-hoc SQL exploration, not the 100 TB
pipeline. (An Arrow UDTF is not an option: PySpark rejects it in
``LATERAL`` with LATERAL_JOIN_WITH_ARROW_UDTF_UNSUPPORTED.)
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

DECODE_MVT_SCHEMA = (
    "layer string, extent int, feature_id bigint, geom_type int, "
    "part_offsets array<int>, xs array<bigint>, ys array<bigint>, "
    "props string, decode_error string"
)


@udtf(returnType=DECODE_MVT_SCHEMA)
class DecodeMvtUdtf:
    """One input tile row → one output row per decoded feature
    (lenient: an undecodable tile gives a single error row, as in
    sources.tiles.decode_tiles); a null tile gives no row."""

    def eval(self, mvt):  # noqa: D102 - SQL surface
        from mvtspark.kernels.mvt_batch import decode_tile_rows

        if mvt is None:
            return
        (_, names, exts, fids, gts, xs, ys, vert_off, parts, parts_cnt,
         props, errs) = decode_tile_rows([bytes(mvt)])
        if errs:
            yield (None,) * 8 + (errs[0],)
            return
        names, props = names.to_pylist(), props.to_pylist()
        pb = 0
        for i, (v0, v1) in enumerate(zip(vert_off[:-1], vert_off[1:])):
            pe = pb + int(parts_cnt[i])
            yield (
                names[i], int(exts[i]), int(fids[i]), int(gts[i]),
                parts[pb:pe].tolist(), xs[v0:v1].tolist(), ys[v0:v1].tolist(),
                props[i], None,
            )
            pb = pe


def register_sql_functions(spark: SparkSession) -> None:
    """Register the UDTF surface on a session (idempotent)."""
    spark.udtf.register("decode_mvt", DecodeMvtUdtf)

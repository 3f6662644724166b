"""The workloads.  Each is a closed loop with one client: one driver
thread submits a job, waits for its result, checks it, and only then
submits the next, the way a batch job runs.

A workload's ``setup`` writes its generated input under the run's work
directory and computes the expected values; ``iterate`` runs one fixed
amount of work through the program's public functions, wrapping every
call that runs a Spark job in ``span(name)``, and returns the amount of
work done and the list of check failures.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from . import checks, gen

#: each input is written as this many parquet files; together with
#: ``spark.sql.files.minPartitionNum`` every scan splits into this many
#: tasks, two per task slot, so no single oversized task decides an
#: iteration's time.  Each task pays a fixed cost in the Python workers;
#: with 8 tasks that cost set most of the small workload's time.
INPUT_FILES = 4


def _write_parquet(df, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-tbl.num_rows // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(tbl.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))


class Northstar:
    """The production job, shaped like ``jobs/run_pipeline.py``: tile
    assignment, broadcast point-in-polygon join, salted per-tile counts,
    stage checkpoint, MVT encode into a parquet tile sink, a second
    checkpoint, and a decode-back of the sink."""

    name = "northstar"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.n_iter = 0

    def setup(self, spark) -> None:
        import duckdb

        pts = gen.points(self.seed)
        self.input = os.path.join(self.work, "points")
        shutil.rmtree(self.input, ignore_errors=True)
        _write_parquet(pts, self.input)
        rows = duckdb.sql(gen.tile_counts_sql(os.path.join(self.input, "*.parquet"))).fetchall()
        self.expected = {(x, y): (n, sx, sy) for x, y, n, sx, sy in rows}
        if len(self.expected) <= gen.RECT_NATIVE_MAX:
            raise RuntimeError(
                f"{len(self.expected)} distinct tiles: the PIP UDF would leave the plan")
        self.n_points = len(pts)

    def iterate(self, spark, span):
        from pyspark.sql import functions as F

        from mvtspark.functions.udfs import broadcast_rings
        from mvtspark.operators.spatial import (
            assign_tiles, salted_tile_counts, spatial_join_pip,
        )
        from mvtspark.sources.checkpoint import write_stage_checkpoint
        from mvtspark.sources.tiles import decode_tiles, encode_tiles

        self.n_iter += 1
        # a fresh output directory per iteration: append mode would grow
        # the work from one iteration to the next
        out = os.path.join(self.work, f"out-{self.n_iter}")
        ckpt, sink = os.path.join(out, "ckpt"), os.path.join(out, "tiles")
        job_id = f"bench-{self.n_iter}"
        extent = gen.NS_EXTENT

        assigned = assign_tiles(spark.read.parquet(self.input),
                                zoom=gen.NS_ZOOM, extent=extent)
        corners = ((0, extent, extent, 0, 0), (0, 0, extent, extent, 0))
        polys = assigned.select("zoom", "x", "y").distinct().withColumns({
            "extent": F.lit(extent),
            "ring_x": F.array(*[F.lit(v).cast("long") for v in corners[0]]),
            "ring_y": F.array(*[F.lit(v).cast("long") for v in corners[1]]),
        })
        # spatial_join_pip(rings=None) makes exactly this call; it is made
        # here so that the catalog build has a span of its own
        with span("functions.broadcast_rings"):
            rings = broadcast_rings(spark, polys)
        try:
            joined = spatial_join_pip(assigned, polys, broadcast_dim=True, rings=rings)
            counts = salted_tile_counts(joined, salt_buckets=16)
            with span("sources.write_stage_checkpoint.agg"):
                write_stage_checkpoint(counts, ckpt, job_id=job_id, stage="agg",
                                       lineage="salted_tile_counts", part_cols=("zoom",))
            feats = joined.select(
                "zoom", "x", "y", F.col("extent"),
                F.xxhash64("image_id").bitwiseAND(F.lit((1 << 62) - 1)).alias("feature_id"),
                F.lit(1).alias("geom_type"),
                F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
                F.array(F.col("px")).alias("xs"),
                F.array(F.col("py")).alias("ys"),
                F.to_json(F.struct("caption")).alias("props"),
            )
            with span("sources.encode_tiles"):
                encode_tiles(feats, layer_name="images").write.mode("append").parquet(sink)
            written = spark.read.parquet(sink)
            with span("sources.write_stage_checkpoint.encode"):
                write_stage_checkpoint(written, ckpt, job_id=job_id, stage="encode",
                                       lineage="encode_tiles", part_cols=("zoom", "x", "y"))
            with span("sources.decode_tiles"):
                decoded = _per_tile(decode_tiles(written.select("zoom", "x", "y", "mvt")), {
                    "n": F.col("feature_id").isNotNull().cast("long"),
                    "sx": F.element_at("xs", 1),
                    "sy": F.element_at("ys", 1),
                    "e": F.col("decode_error").isNotNull().cast("long"),
                })
            bad = checks.northstar(decoded, self.expected, _checkpoint_rows(ckpt))
            self.counters = {"points": self.n_points, "rings": int(rings.value[0].size)}
        finally:
            rings.bcast.destroy()
            shutil.rmtree(out, ignore_errors=True)
        return {"points": self.n_points, "tiles": len(self.expected)}, bad


def _per_tile(features, cols: dict) -> dict:
    """``{(x, y): sums of cols}`` over decoded feature rows.  The rows are
    collected and summed on the driver, so the check adds no shuffle to
    the job it checks."""
    t = features.select("x", "y", *[c.alias(n) for n, c in cols.items()]).toArrow()
    g = t.group_by(["x", "y"]).aggregate([(n, "sum") for n in cols])
    keys = zip(g.column("x").to_pylist(), g.column("y").to_pylist())
    sums = zip(*(g.column(f"{n}_sum").to_pylist() for n in cols))
    return {k: tuple(v or 0 for v in vs) for k, vs in zip(keys, sums)}


def _checkpoint_rows(path: str) -> dict:
    """Summed row counts per stage of the lineage table, read with
    pyarrow so that the check adds no Spark job."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["stage", "row_count"])
    out: dict = {}
    for stage, n in zip(t.column("stage").to_pylist(), t.column("row_count").to_pylist()):
        out[stage] = out.get(stage, 0) + n
    return out


class TileDecode:
    """The reference Bench loop: decode the 210-tile z14 grid three ways
    per iteration (lenient Arrow path, strict validation, layer filter)."""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def setup(self, spark) -> None:
        import pandas as pd

        rows, self.expect = gen.tiles(self.seed)
        self.input = os.path.join(self.work, "tiles")
        shutil.rmtree(self.input, ignore_errors=True)
        _write_parquet(pd.DataFrame(rows, columns=["zoom", "x", "y", "mvt"]), self.input)
        self.n_tiles = len(rows)
        self.cls = {key: c for key, (c, _) in self.expect.items()}

    def iterate(self, spark, span):
        from pyspark.sql import functions as F

        from mvtspark.sources.tiles import decode_tiles

        tiles = spark.read.parquet(self.input)
        kwargs = {"lenient": {}, "validate": {"validate": True},
                  "layers": {"layers": set(gen.LAYER_FILTER)}}
        bad = []
        errors = dict.fromkeys(range(1, len(gen.INVALID_CLASSES)), 0)
        for mode in gen.MODES:
            with span(f"sources.decode_tiles.{mode}"):
                got = _per_tile(decode_tiles(tiles, **kwargs[mode]), {
                    "f": F.col("feature_id").isNotNull().cast("long"),
                    "v": F.when(F.col("xs").isNotNull(), F.size("xs")),
                    "e": F.col("decode_error").isNotNull().cast("long"),
                })
            bad += checks.tile_decode(mode, got, self.expect)
            for key, (_, _, e) in got.items():
                if self.cls.get(key, -1) > 0:
                    errors[self.cls[key]] += e
        self.counters = {f"error_rows.{c}": n for c, n in errors.items()}
        return {"tiles": 3 * self.n_tiles}, bad


class Operators:
    """Image transcode (axis B; noise images, raw and PNG, through the
    4:4:4 MRJ codec, smooth images through the 4:2:0 JFIF codec, PSNR
    checked per row), then the exact slab-sweep boolean on non-convex
    star pairs of mixed size."""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def setup(self, spark) -> None:
        import pandas as pd

        noise, smooth = gen.images(self.seed)
        cols = ["image_id", "bytes", "w", "h", "fmt"]
        self.inputs = {}
        for kind, rows in (("noise", noise), ("smooth", smooth)):
            path = os.path.join(self.work, kind)
            shutil.rmtree(path, ignore_errors=True)
            _write_parquet(pd.DataFrame(rows, columns=cols), path)
            self.inputs[kind] = (path, len(rows))
        # decoded pixel bytes, the unit of the image rate
        self.mb = sum(3 * r[2] * r[3] for r in noise + smooth) / 1e6
        self.pairs = gen.polygon_pairs(self.seed)
        self.areas = checks.pair_areas(self.pairs)
        self.pairs_in = os.path.join(self.work, "pairs")
        shutil.rmtree(self.pairs_in, ignore_errors=True)
        df = pd.DataFrame(self.pairs, columns=["pair_id", "ax", "ay", "bx", "by"])
        for c in ("ax", "ay", "bx", "by"):
            df[c] = df[c].map(lambda v: np.asarray(v, dtype=np.int64))
        _write_parquet(df, self.pairs_in)

    def iterate(self, spark, span):
        from mvtspark.operators.boolean import general_pair_boolean
        from mvtspark.operators.multimodal import (
            transcode_images_jpeg, transcode_images_mrj,
        )

        bad = []
        for kind, name, run in (
            ("noise", "operators.transcode_images_mrj", transcode_images_mrj),
            ("smooth", "operators.transcode_images_jpeg",
             lambda df: transcode_images_jpeg(df, quality=85, subsampling="420")),
        ):
            path, n = self.inputs[kind]
            with span(name):
                rows = run(spark.read.parquet(path)).select(
                    "image_id", "psnr_x100", "error").collect()
            bad += checks.images(name, [tuple(r) for r in rows], n)
        with span("operators.general_pair_boolean"):
            rows = general_pair_boolean(spark.read.parquet(self.pairs_in)).collect()
        bad += checks.pairs([tuple(r) for r in rows], self.areas)
        return {"MB": self.mb, "pairs": len(self.pairs)}, bad


class Maps:
    """The pure-map work, where no join or shuffle decides the time: the
    decode loop, then the image transcodes and the polygon booleans."""

    name = "maps"

    def __init__(self, seed: int, work: str):
        self.parts = (TileDecode(seed, work), Operators(seed, work))

    def setup(self, spark) -> None:
        for p in self.parts:
            p.setup(spark)

    def iterate(self, spark, span):
        work, bad, self.counters = {}, [], {}
        for p in self.parts:
            w, b = p.iterate(spark, span)
            work.update(w)
            bad += b
            self.counters.update(getattr(p, "counters", {}))
        return work, bad


WORKLOADS = {w.name: w for w in (Northstar, Maps)}

"""spark-submit entry point for the north-star pipeline (BASELINE.json
north_rule: "run via spark-submit --py-files on a multi-executor
cluster at two cluster sizes").

Cluster usage:

    zip -r /tmp/mvtspark.zip mvtspark
    spark-submit --py-files /tmp/mvtspark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<3x total cores> \
        jobs/run_pipeline.py \
        --images <iceberg-or-parquet path | synth:N> --zoom 10 \
        --tiles-out /data/tiles --checkpoint /data/ckpt [--resume]

The Python workers start from the ``mvtspark.daemon`` daemon module, so
``mvtspark`` must be on the executors' PYTHONPATH when the first task
starts (for instance through ``spark.executorEnv.PYTHONPATH``), not only
added per task.

Local (sandbox) smoke:

    python jobs/run_pipeline.py --images synth:20000 --zoom 8 \
        --tiles-out /tmp/mvt_out/tiles --checkpoint /tmp/mvt_out/ckpt

The plan is ``mvtspark.plans.flagship.tile_plan``, the builder the
flagship and ``bench.py`` share:
  1. assign   — native Web-Mercator tile assignment (D19, codegen)
  2. join     — broadcast PIP spatial join against tile rings (J4)
  3. agg      — salted two-stage per-tile counts (A7)
  4. encode   — per-(zoom,x,y) MVT protobuf encode (S9) + decode-parity
The agg and encode stages record per-partition lineage + row counts in
the checkpoint table; --resume anti-joins the assigned rows against the
tiles the killed run's encode stage recorded, so it restarts at tile
granularity.
"""

from __future__ import annotations

import argparse
import os
import sys
import uuid
from functools import partial

# local fallback: on a cluster --py-files ships mvtspark; running the file
# directly needs the repo root on the DRIVER's sys.path and — because
# Python UDF workers are separate processes that only inherit PYTHONPATH,
# not sys.path — on PYTHONPATH too, before the session (and its worker
# env snapshot) is created
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import SparkSession, functions as F

from mvtspark.session import PYTHON_DAEMON_CONF


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True,
                    help="parquet/iceberg path, or synth:N for the generator")
    ap.add_argument("--zoom", type=int, default=10)
    ap.add_argument("--extent", type=int, default=4096)
    ap.add_argument("--salt-buckets", type=int, default=16)
    ap.add_argument("--tiles-out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--job-id", default=None)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args(argv)

    spark = (SparkSession.builder.appName("mvtspark-pipeline")
             .config(*PYTHON_DAEMON_CONF).getOrCreate())

    from mvtspark.plans.flagship import tile_plan
    from mvtspark.sources.checkpoint import (
        pending_work, read_checkpoint, write_stage_checkpoint,
    )
    from mvtspark.sources.images import synth_points
    from mvtspark.sources.tiles import decode_tiles

    if args.resume and not args.job_id:
        # a fresh random id would match NO checkpoint rows: the anti-join
        # re-plans everything and append-mode writing then DUPLICATES the
        # finished tiles — fail loudly instead of silently redoing work
        ap.error("--resume requires --job-id (the id of the killed run)")
    job_id = args.job_id or f"pipeline-{uuid.uuid4().hex[:8]}"

    if args.images.startswith("synth:"):
        images = synth_points(spark, int(args.images.split(":", 1)[1]))
    else:
        reader = spark.read
        images = (
            reader.format("iceberg").load(args.images)
            if "/" not in args.images
            else reader.parquet(args.images)
        )

    pending = None
    if args.resume:
        pending = partial(pending_work,
                          checkpoint=read_checkpoint(spark, args.checkpoint),
                          job_id=job_id, stage="encode", keys=("zoom", "x", "y"))
    plan = tile_plan(images, args.zoom, extent=args.extent,
                     salt_buckets=args.salt_buckets, pending=pending)

    write_stage_checkpoint(plan.counts, args.checkpoint, job_id=job_id,
                           stage="agg", lineage="salted_tile_counts",
                           part_cols=("zoom",))

    plan.tiles.write.mode("append").parquet(args.tiles_out)

    written = spark.read.parquet(args.tiles_out)
    write_stage_checkpoint(written, args.checkpoint, job_id=job_id,
                           stage="encode", lineage="encode_tiles",
                           part_cols=("zoom", "x", "y"))

    bad = (
        decode_tiles(written.select("zoom", "x", "y", "mvt"))
        .where(F.col("decode_error").isNotNull()).count()
    )
    n_tiles = written.count()
    print(f"job={job_id} tiles={n_tiles} decode_errors={bad}")
    if bad:
        sys.exit(2)


if __name__ == "__main__":
    main()

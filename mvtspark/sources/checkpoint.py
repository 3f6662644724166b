"""Checkpoint / lineage table + partition-granular resume (S8/J7, north rule).

Production target is an Iceberg table (``writeTo(...).append()``); the
sandbox has no Iceberg jars, so the same semantics run on an append-only
parquet directory — identical schema (FIXTURES.md §5), identical resume
logic (left-anti join of planned work units vs completed keys). The
storage backend is a one-line switch.

Schema: job_id string, stage string, zoom int, x int, y int,
        part_id int, row_count long, lineage string, ts timestamp
(x and y are null on the rows of stages recorded per zoom only).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_SCHEMA = (
    "job_id string, stage string, zoom int, x int, y int, part_id int, "
    "row_count long, lineage string, ts timestamp"
)


def write_stage_checkpoint(
    df: DataFrame,
    path: str,
    job_id: str,
    stage: str,
    lineage: str,
    part_cols: tuple[str, ...] = ("zoom",),
) -> None:
    """Record per-partition-unit row counts for a completed stage.

    ``part_id`` is the physical partition id (spark_partition_id) —
    together with the logical partition columns it gives per-partition
    lineage + metrics (A8).
    """
    agg = (
        df.groupBy(*part_cols, F.spark_partition_id().alias("part_id"))
        .agg(F.count(F.lit(1)).alias("row_count"))
        .select(
            F.lit(job_id).alias("job_id"),
            F.lit(stage).alias("stage"),
            *[F.col(c).cast("int") for c in part_cols],
            F.col("part_id"),
            F.col("row_count"),
            F.lit(lineage).alias("lineage"),
            F.current_timestamp().alias("ts"),
        )
    )
    agg.write.mode("append").parquet(path)


def read_checkpoint(spark: SparkSession, path: str) -> DataFrame:
    """Empty-on-absent read of the lineage table, always in
    ``CHECKPOINT_SCHEMA``: stages write different partition columns (the
    job's ``agg`` rows have no x/y), so an inferred schema would depend
    on which part file Spark happens to sample.

    Storage-agnostic: a local-only ``os.path.exists`` probe would make
    every absence check silently succeed on object-store paths
    (s3a://…), voiding the committed-epoch guard in the streaming sink.
    The local fast path stays (cheap, no JVM call) but the fallback is
    catch-path-missing, which any Hadoop filesystem reports."""
    if "://" not in path and not os.path.exists(path):
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)
    try:
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(path)
    except Exception as e:  # AnalysisException PATH_NOT_FOUND
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame([], CHECKPOINT_SCHEMA)
        raise


def pending_work(
    planned: DataFrame, checkpoint: DataFrame, job_id: str, stage: str,
    keys: tuple[str, ...] = ("zoom",),
) -> DataFrame:
    """Resume: planned work units minus completed ones (left-anti, J7)."""
    done = (
        checkpoint.where((F.col("job_id") == job_id) & (F.col("stage") == stage))
        .select(*keys)
        .distinct()
    )
    return planned.join(done, list(keys), "left_anti")

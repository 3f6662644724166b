"""Structured Streaming layer (SURVEY §2.10).

The batch kernels (tile assignment D19, PIP join J4, per-tile agg A6/A7,
MVT encode S9) are stateless column transforms, so they lift directly
onto streaming DataFrames. This module provides the thin streaming
wrappers the north rule's ingestion side needs:

- :func:`file_points_stream` — ``readStream`` source over a parquet
  directory of geotagged points (the micro-batch stand-in for a Kafka /
  Iceberg-CDC feed; identical schema to ``sources.images.synth_points``
  plus ``ingest_ts``).
- :func:`stream_tile_counts` — exactly-once per-tile counts:
  ``withWatermark`` + ``dropDuplicates`` on image_id, tumbling
  event-time window, groupBy (window, zoom, x, y). State is bounded by
  the watermark; the aggregation is the same partial/final hash-agg
  Spark plans for batch (map-side partials per micro-batch).
- :func:`stream_encode_sink` — ``foreachBatch`` writer that runs the
  batch MVT encoder on each micro-batch and appends per-partition
  lineage rows to the checkpoint table (S8), so a killed stream resumes
  at (micro-batch, partition) granularity on top of Spark's own
  offset-log checkpointing.

Scale notes: no driver-side state; watermark bounds the agg state store;
the encode groupBy reuses the (zoom, x, y) partitioning; checkpoint
writes are append-only parquet (Iceberg ``writeTo(...).append()`` in
production — same one-line switch as sources.checkpoint).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial import assign_tiles

POINTS_STREAM_SCHEMA = (
    "image_id string, caption string, lat double, lng double, ingest_ts timestamp"
)


def file_points_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Streaming source over a directory of point parquet files.

    ``maxFilesPerTrigger`` bounds micro-batch size (backpressure); the
    schema is pinned (streaming file sources require it) and matches
    ``synth_points`` + an event-time column.
    """
    return (
        spark.readStream.schema(POINTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_tile_counts(
    points: DataFrame,
    zoom: int,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Windowed exactly-once per-tile counts over a stream of points.

    dropDuplicates after the watermark gives exactly-once per image_id
    within the watermark horizon (late duplicates beyond it are dropped
    wholesale by the watermark itself).
    """
    deduped = points.withWatermark("ingest_ts", watermark).dropDuplicates(
        ["image_id", "ingest_ts"]
    )
    assigned = assign_tiles(deduped, zoom=zoom)
    return (
        assigned.groupBy(F.window("ingest_ts", window), "zoom", "x", "y")
        .agg(F.count(F.lit(1)).alias("image_count"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "zoom", "x", "y", "image_count",
        )
    )


def _epoch_committed(
    spark: SparkSession, checkpoint_path: str, job_id: str, stage: str
) -> bool:
    """True iff this epoch's lineage commit marker already exists —
    the shared idempotence probe of every exactly-once epoch writer."""
    from ..sources.checkpoint import read_checkpoint

    return bool(
        read_checkpoint(spark, checkpoint_path)
        .where((F.col("job_id") == job_id) & (F.col("stage") == stage))
        .limit(1)
        .count()
    )


def _epoch_writer(build, out_path: str, checkpoint_path: str, job_id: str,
                  lineage: str):
    """The exactly-once foreachBatch function over ``build`` (micro-batch
    frame → the frame to write): skip an epoch whose lineage marker
    exists, else cache ``build(df)``, overwrite ``epoch=<id>/`` under
    ``out_path``, write the marker last and unpersist."""
    from ..sources.checkpoint import write_stage_checkpoint

    def _batch(df: DataFrame, epoch_id: int) -> None:
        stage = f"epoch={epoch_id}"
        if _epoch_committed(df.sparkSession, checkpoint_path, job_id, stage):
            return  # replay of a committed epoch: exactly-once no-op
        out = build(df).cache()
        try:
            out.write.mode("overwrite").parquet(os.path.join(out_path, stage))
            write_stage_checkpoint(
                out, checkpoint_path, job_id=job_id,
                stage=stage, lineage=f"{lineage} epoch {epoch_id}",
            )
        finally:
            out.unpersist()

    return _batch


def make_epoch_batch_writer(
    zoom: int,
    tiles_path: str,
    checkpoint_path: str,
    job_id: str = "stream_encode",
):
    """Build the EXACTLY-ONCE per-epoch batch function foreachBatch runs.

    Structured Streaming guarantees at-least-once delivery to
    foreachBatch: after a crash the same (batch data, epoch_id) is
    REPLAYED. Exactly-once therefore needs the writer to be idempotent
    per epoch, which this one is by construction:

    1. each epoch's tiles land in their own ``epoch=<id>/`` directory
       written with mode("overwrite") — a replay of a half-written
       epoch replaces the partial files instead of appending duplicates.
       SCHEMA NOTE for readers of the old flat-append layout: the sink
       now exposes an extra ``epoch`` partition-discovery column, and a
       raw ``spark.read.parquet(tiles_path)`` can observe a partially
       committed epoch during the crash window before its marker /
       replay. Use :func:`read_stream_tiles` — it drops ``epoch``
       (restoring the flat schema) and, given the checkpoint path,
       filters to committed epochs only;
    2. the lineage row (``stage = epoch=<id>``) is written LAST — it is
       the commit marker; and
    3. an epoch whose marker already exists returns without writing
       anything, so a replay of a fully-committed epoch is a no-op
       (no duplicate tiles AND no duplicate lineage/metrics rows).

    The committed check reads the lineage table with job_id/stage
    pushed into the parquet scan — bounded by epochs × partition-units
    (metrics rows, not data), and in the Iceberg production shape the
    same probe is a metadata-only lookup.

    Exposed separately from the stream wiring so tests can drive the
    crash-replay matrix directly (tests/test_streaming.py).
    """
    from ..sources.tiles import encode_tiles, point_features

    def _tiles(df: DataFrame) -> DataFrame:
        assigned = assign_tiles(df, zoom=zoom).withColumn("extent", F.lit(4096))
        return encode_tiles(point_features(assigned), layer_name="images")

    return _epoch_writer(_tiles, tiles_path, checkpoint_path, job_id, "stream")


def stream_encode_sink(
    points: DataFrame,
    zoom: int,
    tiles_path: str,
    checkpoint_path: str,
    job_id: str = "stream_encode",
):
    """foreachBatch sink: per micro-batch, run the batch tile pipeline
    (assign → per-tile MVT encode) and write tiles + lineage exactly
    once per epoch (idempotent replay — see make_epoch_batch_writer).

    Returns the unstarted ``DataStreamWriter`` — caller picks trigger +
    stream checkpoint location and calls ``.start()``.
    """
    _batch = make_epoch_batch_writer(
        zoom, tiles_path, checkpoint_path, job_id=job_id
    )
    return points.writeStream.foreachBatch(_batch).outputMode("update")


def make_counts_maintenance_writer(
    zoom: int,
    counts_path: str,
    checkpoint_path: str,
    levels: int = 3,
    job_id: str = "tile_counts",
):
    """EXACTLY-ONCE materialized per-tile counts via an append-only
    DELTA LEDGER — streaming × operators/incremental.py.

    Each micro-batch of arriving points becomes its per-tile count
    deltas at ``zoom`` and ``levels`` ancestors (tile_count_deltas —
    changes-bounded, the fact table is never rescanned) written to its
    own ``epoch=<id>/`` ledger partition with overwrite + a lineage
    marker last, so the crash-replay matrix is identical to the tile
    sink's: half-written epochs are replaced, committed epochs are
    no-ops. The CURRENT counts are the ledger sum
    (:func:`read_tile_counts`) — at planet scale that read is a
    partial-aggregated scan of delta rows (metrics-sized, not
    point-sized), and compaction is an offline sum-rewrite of old
    epochs into one, which the ledger-sum read makes a no-op
    semantically.
    """
    from ..operators.incremental import tile_count_deltas

    def _deltas(df: DataFrame) -> DataFrame:
        changes = assign_tiles(df, zoom=zoom).select(
            F.lit(None).cast("int").alias("old_x"),
            F.lit(None).cast("int").alias("old_y"),
            F.col("x").cast("int").alias("new_x"),
            F.col("y").cast("int").alias("new_y"),
        )
        return tile_count_deltas(changes, zoom, levels)

    return _epoch_writer(_deltas, counts_path, checkpoint_path, job_id, "counts")


def read_stream_tiles(
    spark: SparkSession,
    tiles_path: str,
    checkpoint_path: str | None = None,
    job_id: str = "stream_encode",
) -> DataFrame:
    """Read the epoch-partitioned stream tile sink with the flat-layout
    schema (``epoch`` dropped). Pass ``checkpoint_path`` to filter to
    COMMITTED epochs (lineage marker present) — excluding the dirty-read
    window where a crashed writer's half-written epoch dir is visible
    before its replay. The epoch filter is partition pruning on the
    scan (epoch is the partition column), so uncommitted files are
    never even listed into the read."""
    led = spark.read.parquet(tiles_path)
    if checkpoint_path is not None:
        committed = _committed_epoch_ids(spark, checkpoint_path, job_id)
        led = led.where(F.col("epoch").isin(committed))
    return led.drop("epoch")


def _committed_epoch_ids(
    spark: SparkSession, checkpoint_path: str, job_id: str
) -> list:
    """Epoch ids whose lineage commit marker exists — the shared probe
    of the ledger read and compaction paths. Bounded by epochs
    (metrics rows, not data); compaction keeps the live list short."""
    from ..sources.checkpoint import read_checkpoint

    return sorted(
        {
            int(r.stage.split("=", 1)[1])
            for r in read_checkpoint(spark, checkpoint_path)
            .where(
                (F.col("job_id") == job_id)
                & F.col("stage").startswith("epoch=")
            )
            .select("stage")
            .distinct()
            .collect()
        }
    )


def read_tile_counts(
    spark: SparkSession,
    counts_path: str,
    checkpoint_path: str | None = None,
    job_id: str = "tile_counts",
) -> DataFrame:
    """Current (zoom, x, y, n_points) from the delta ledger: one
    partial-aggregated sum over the epoch partitions.

    Pass ``checkpoint_path`` to restrict the sum to COMMITTED epochs
    (lineage marker present) plus the ``epoch=-1`` compacted base —
    this is what makes the read exactly-once under the crash-replay
    matrix: a writer that died after its parquet write but before its
    marker leaves an uncommitted ``epoch=<id>/`` dir that the stream
    will overwrite on replay, and summing it early would count a
    partial (then, post-replay, stale) delta. Without
    ``checkpoint_path`` the read sums every ``epoch=*`` dir and is
    only exact when no writer crashed mid-epoch (a dirty-read window —
    fine for monitoring, not for the exactly-once claim)."""
    led = spark.read.parquet(counts_path)
    if checkpoint_path is not None:
        committed = _committed_epoch_ids(spark, checkpoint_path, job_id)
        led = led.where(F.col("epoch").isin([-1, *committed]))
    return (
        led.groupBy("zoom", "x", "y")
        .agg(F.sum("delta").cast("long").alias("n_points"))
        .where(F.col("n_points") != 0)
    )


def _finish_compaction(counts_path: str) -> None:
    """Complete (or discard) an interrupted compaction. The manifest is
    the commit point: without it, a leftover ``_compact_tmp`` is
    garbage from a pre-commit crash and is discarded; with it, the
    swap (remove folded epochs + old base, rename tmp, drop manifest)
    replays idempotently."""
    import shutil

    tmp = os.path.join(counts_path, "_compact_tmp")
    manifest = os.path.join(counts_path, "_compact_manifest.json")
    if not os.path.exists(manifest):
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        return
    folded = json.load(open(manifest))
    for e in folded:
        d = os.path.join(counts_path, f"epoch={e}")
        if os.path.exists(d):
            shutil.rmtree(d)
    base = os.path.join(counts_path, "epoch=-1")
    if os.path.exists(tmp):
        if os.path.exists(base):
            shutil.rmtree(base)
        os.rename(tmp, base)
    os.remove(manifest)


def compact_tile_counts(
    spark: SparkSession,
    counts_path: str,
    checkpoint_path: str,
    upto_epoch: int,
    job_id: str = "tile_counts",
) -> int:
    """Offline ledger compaction: fold every COMMITTED ``epoch=<id>``
    partition with 0 <= id <= ``upto_epoch`` (plus any existing base)
    into one ``epoch=-1`` base partition of summed deltas. The
    ledger-sum read (:func:`read_tile_counts`) is indifferent to
    compaction by construction — pinned in tests.

    Only epochs whose lineage marker exists are folded: an uncommitted
    epoch dir (writer crashed before its marker) will be OVERWRITTEN by
    the stream's replay — folding it into the base would double-count
    that replay. Its dir is left alone and folded by a later compaction
    once committed.

    Crash-safe two-phase swap: (1) the folded base is written to a
    ``_compact_tmp`` dir (underscore-prefixed → invisible to parquet
    partition discovery, so reads concurrent with this phase are
    unaffected); (2) a manifest naming the folded epochs is written —
    THE commit point; (3) folded epochs + old base are removed and tmp
    renamed in. A crash before (2) discards tmp on the next run; after
    (2) the next run replays (3) idempotently (_finish_compaction).
    The swap window itself (step 3) is not atomic for CONCURRENT
    readers on a plain filesystem — run compaction offline, as with
    any file-listing layout; Iceberg's atomic snapshot pointer is what
    removes that caveat in the production shape. Returns the number of
    folded epoch partitions.
    """
    _finish_compaction(counts_path)
    committed = set(_committed_epoch_ids(spark, checkpoint_path, job_id))
    led = spark.read.parquet(counts_path)
    fold = led.where(
        (F.col("epoch") <= upto_epoch) & (F.col("epoch") >= 0)
    )
    folded_epochs = sorted(
        r.epoch
        for r in fold.select("epoch").distinct().collect()
        if r.epoch in committed
    )
    if not folded_epochs:
        return 0
    base = (
        led.where(
            (F.col("epoch") == -1) | F.col("epoch").isin(folded_epochs)
        )
        .drop("epoch")
        .groupBy("zoom", "x", "y")
        .agg(F.sum("delta").cast("long").alias("delta"))
        .where(F.col("delta") != 0)
    )
    tmp = os.path.join(counts_path, "_compact_tmp")
    base.write.mode("overwrite").parquet(tmp)
    manifest = os.path.join(counts_path, "_compact_manifest.json")
    with open(manifest + ".part", "w") as f:
        json.dump(folded_epochs, f)
    os.rename(manifest + ".part", manifest)  # commit point (atomic)
    _finish_compaction(counts_path)
    return len(folded_epochs)


def stream_tile_counts_maintenance(
    points: DataFrame,
    zoom: int,
    counts_path: str,
    checkpoint_path: str,
    levels: int = 3,
    job_id: str = "tile_counts",
):
    """foreachBatch sink maintaining the materialized tile-counts
    ledger exactly once per epoch (see make_counts_maintenance_writer).
    Returns the unstarted ``DataStreamWriter``."""
    _batch = make_counts_maintenance_writer(
        zoom, counts_path, checkpoint_path, levels=levels, job_id=job_id
    )
    return points.writeStream.foreachBatch(_batch).outputMode("update")


def stream_running_tile_totals(points: DataFrame, zoom: int) -> DataFrame:
    """CUSTOM STATEFUL operator via ``applyInPandasWithState`` (the
    arbitrary-state surface the windowed aggs can't express): a running
    per-tile point total that survives across micro-batches in the state
    store. Each update emits the tile's new cumulative total, so the
    sink sees a monotone counter per tile (downstream takes MAX for the
    final value).

    State is one int64 per live tile — bounded by the distinct-tile
    count, not the stream length; at planet scale pair with a timeout
    (GroupStateTimeout.ProcessingTimeTimeout + state.setTimeoutDuration)
    to expire cold tiles. Grouping key is the tile address, so state
    shuffles exactly like the batch per-tile aggregation."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    assigned = assign_tiles(points, zoom=zoom)

    def _update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame(
            {
                "zoom": [key[0]], "x": [key[1]], "y": [key[2]],
                "total": [total],
            }
        )

    return assigned.groupBy("zoom", "x", "y").applyInPandasWithState(
        _update,
        outputStructType="zoom int, x int, y int, total long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSIONS_STREAM_SCHEMA = "user_id long, ts timestamp"


def file_sessions_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming source over (user_id, ts) event parquet files — the
    sessionization input shape (ts is TIMESTAMP so it can carry the
    watermark)."""
    return (
        spark.readStream.schema(SESSIONS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_user_sessions(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 seconds"
) -> DataFrame:
    """NATIVE session windows in STREAMING mode (§2.10): watermarked
    gap-merge sessionization. The state store holds each user's open
    sessions; a session that spans micro-batches MERGES in state
    (pinned by tests/test_streaming.py), and under append output a
    session emits exactly once — when the watermark passes its end
    (last event + gap). Same semantics as the batch `session_window_agg`
    twin: events exactly ``gap`` apart merge (break is strictly > gap).

    At scale this is the unbounded-input sessionizer: state is
    per-open-session (bounded by watermark retention), the shuffle is
    one hash partitioning on user_id, and emission is incremental —
    no batch-job-over-everything per evaluation window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            "user_id",
            F.session_window(F.col("ts"), gap).alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start").cast("timestamp")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("sw.end").cast("timestamp")).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


PING_STREAM_SCHEMA = "user_id long, ts timestamp_ntz, lng double, lat double"


def file_pings_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming source over a directory of (user, ts, lng, lat) ping
    parquet files — the geofence-alerting input shape."""
    return (
        spark.readStream.schema(PING_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_geofence_transitions(
    pings: DataFrame, fences: list[tuple[int, list[tuple[float, ...]]]]
) -> DataFrame:
    """Geofence ALERTING: stateful enter/exit transition detection.

    The streaming marriage of the convex sign-fold PIP
    (`operators/geofence.py`) and ``applyInPandasWithState``: per user,
    the state store carries (last fence-membership bitmask, running
    transition count) across micro-batches; each batch sorts its pings
    by event time, classifies them against the broadcast fence catalog
    with one vectorized cross-product pass, and emits one row per
    membership flip — ``(user_id, ts_us, fence_id, entered)``.

    State is 2 int64 per live user (bounded by user cardinality, not
    stream length); grouping key is user_id, so state shuffles like any
    per-user agg. Transition semantics assume a user's pings arrive
    time-ordered ACROSS batches (the file layout in the contract query
    makes each user batch-complete; the cross-batch path is pinned by
    tests/test_streaming.py with explicitly ordered files)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_f = len(fences)
    sizes = {len(edges) for _, edges in fences}
    if len(sizes) != 1:
        # the (N, n_f, n_edges) reshape below would silently slice one
        # fence's edges into another's per-fence min
        raise ValueError(f"all fences must have equal edge counts, got {sizes}")
    # bit f of the inside-mask is position f in the SORTED catalog; map
    # it back to the caller's actual fence id on emit (ids need not be
    # the contiguous 0..n-1 the contract query happens to use)
    fence_ids = [fid for fid, _ in sorted(fences)]
    flat = [e for _, edges in sorted(fences) for e in edges]
    ex1 = np.array([e[0] for e in flat])
    ey1 = np.array([e[1] for e in flat])
    ex2 = np.array([e[2] for e in flat])
    ey2 = np.array([e[3] for e in flat])
    n_edges = len(flat) // n_f

    def _update(key, pdfs, state: GroupState):
        prev_mask, n_trans = state.get if state.exists else (0, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if not len(pdf):
            yield pd.DataFrame(
                {"user_id": [], "ts_us": [], "fence_id": [], "entered": []}
            )
            return
        # stable sort with a full tiebreak: equal-timestamp pings get a
        # deterministic order (and the contract input has unique
        # (user, ts), where the oracle's lag-by-ts replay is exact)
        pdf = pdf.sort_values(["ts", "lng", "lat"], kind="mergesort")
        px = pdf["lng"].to_numpy()
        py = pdf["lat"].to_numpy()
        ts_us = (pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64))
        # (N, F*E) edge cross products -> per-fence min over its E edges
        cross = (ex2 - ex1) * (py[:, None] - ey1) - (ey2 - ey1) * (
            px[:, None] - ex1
        )
        inside = cross.reshape(len(px), n_f, n_edges).min(axis=2) >= 0
        masks = (inside.astype(np.int64) << np.arange(n_f)).sum(axis=1)
        prev_seq = np.concatenate(([prev_mask], masks[:-1]))
        diff = masks ^ prev_seq
        out = {"user_id": [], "ts_us": [], "fence_id": [], "entered": []}
        for i in np.nonzero(diff)[0]:
            d = int(diff[i])
            m = int(masks[i])
            f = 0
            while d:
                if d & 1:
                    out["user_id"].append(int(key[0]))
                    out["ts_us"].append(int(ts_us[i]))
                    out["fence_id"].append(int(fence_ids[f]))
                    out["entered"].append(bool((m >> f) & 1))
                d >>= 1
                f += 1
        n_trans += len(out["user_id"])
        state.update((int(masks[-1]), int(n_trans)))
        yield pd.DataFrame(out)

    return pings.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=(
            "user_id long, ts_us long, fence_id int, entered boolean"
        ),
        stateStructType="last_mask long, n_trans long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

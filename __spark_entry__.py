"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``       — flagship MVT pipeline smoke (sf0.001-scale synth images).
``queries()``          — one entry per implemented operator from SURVEY.md §2
                         (+ the training-data-pipeline operators: dedup, text,
                         ANN, multimodal).
``oracle_sql()``       — DuckDB-ANSI equivalents for everything SQL-expressible.
                         Non-SQL ops (MVT codec internals, LSH signatures, image
                         kernels) are rows-only checked, but the MVT encode→decode
                         round-trip IS oracled: the oracle recomputes the codec's
                         *input* relationally, so a lossless codec must match.

Engine precision discipline for oracle parity:
- money aggregates go through DECIMAL(18,2) (exact, order-insensitive) and are
  cast to DOUBLE only at the end;
- distances use only +/-/* (bit-identical across engines; no pow/sqrt in
  compared columns);
- timestamps are compared as epoch-microsecond integers or formatted strings,
  never as raw timestamps.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DEC = "decimal(18,2)"
SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- flagship

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synth images → tile assign (D19) → PIP join (J4) → salted
    agg (A6/A7) → MVT encode (S9) → decode-back parity (D1-D8)."""
    from mvtspark.plans.flagship import flagship

    return flagship(spark, n_images=1000, zoom=6)


# ---------------------------------------------------- relational operators

def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Scan+filter+hash-agg (A5-shape). Filters push to parquet scan."""
    l = _t(spark, sf, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    dec_price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(dec_price).cast("double").alias("sum_base_price"),
            F.sum(dec_price * disc).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """3-way join (broadcast dim) + agg + top-k (TakeOrderedAndProject)."""
    c = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").where(F.col("o_orderdate") < F.lit("1997-03-15"))
    l = _t(spark, sf, "lineitem").where(F.col("l_shipdate") > F.lit("1997-03-15"))
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """5-way star join; all dims broadcast; one shuffle (final agg)."""
    r = _t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    l = _t(spark, sf, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def semi_join_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi join (J7 existence check)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def anti_join_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Left-anti join (J7 — the checkpoint-resume shape, sources/checkpoint.py)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def top_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Window top-k per group (W1/O5 shape)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


def running_customer_spend(spark: SparkSession, sf: str) -> DataFrame:
    """Running-frame window (W4 shape); exact decimal cumsum."""
    o = _t(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("cum_spend"),
    )


def rollup_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Rollup grouping sets (A9) — tile-pyramid rollup analog."""
    o = _t(spark, sf, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
    )


def nations_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Set operations (§2.7): intersect + union + except over nation sets."""
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    with_cust = n.join(c, n.n_nationkey == c.c_nationkey, "left_semi").select("n_name")
    with_supp = n.join(s, n.n_nationkey == s.s_nationkey, "left_semi").select("n_name")
    r0 = n.where(F.col("n_regionkey") == 0).select("n_name")
    return with_cust.intersect(with_supp).union(r0).exceptAll(
        n.where(F.col("n_regionkey") == 4).select("n_name")
    ).distinct()


def distinct_users_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct aggregate (A10 exact flavor)."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling time-window agg (streaming-shape §2.10, run on batch)."""
    e = _t(spark, sf, "events")
    # parquet ts is TIMESTAMP_NTZ; session tz is UTC, so this cast matches
    # DuckDB's epoch_us on the naive value exactly
    hour = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3600000000)
    ).alias("hour_bucket")
    return e.groupBy(hour, "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: gaps-and-islands via lag + cumulative sum (W-ops);
    the batch equivalent of a session_window stream."""
    e = _t(spark, sf, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.when(
        F.col("us") - F.lag("us").over(w) > 1800 * 1_000_000, 1
    ).otherwise(0)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.withColumn("session_id", F.sum(gap).over(wrun))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
    )


# -------------------------------------------------- spatial / mercator ops

def _event_points(
    spark: SparkSession, sf: str, extra: tuple[str, ...] = ()
) -> DataFrame:
    """Deterministic geotags derived from event ids (offsets chosen so no
    point lands within double-ulp of a tile boundary — see tile_assign).
    ``extra`` carries additional event columns (user_id, ts) through —
    the ONE place the lng/lat formulas live on the Spark side (the SQL
    twin is _EVENT_PTS)."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        *extra,
        ((F.col("event_id") % 3600) / 10.0 - 179.947).alias("lng"),
        (((F.col("event_id") * 7) % 1600) / 10.0 - 79.947).alias("lat"),
    )


def tile_assign_events(spark: SparkSession, sf: str) -> DataFrame:
    """D19 forward Web-Mercator tile assignment (native codegen, no UDF)
    + per-tile counts (A6 shape)."""
    from mvtspark.operators.spatial import assign_tiles

    pts = _event_points(spark, sf)
    return (
        assign_tiles(pts, zoom=4)
        .groupBy("zoom", "x", "y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def zorder_bbox_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order clustered write + stats-pruned bbox read-back (SURVEY §4
    layout discipline; `sources/clustered.py`).

    Writes the zoom-6 tile assignment of the event points as parquet
    clustered along the Morton curve (native bitwise z-value, ONE range
    exchange), then scans it back with a bbox predicate that Catalyst
    pushes to the parquet reader — at scale the clustered layout is
    what makes that pushdown skip files (pruning counts asserted in
    tests/test_zorder_layout.py).  Returns per-tile counts plus the
    tile's z-value so the oracle independently re-derives the curve key
    with DuckDB's bitwise spread chain."""
    import tempfile

    from mvtspark.operators.spatial import assign_tiles
    from mvtspark.sources.clustered import read_bbox, write_zordered

    pts = _event_points(spark, sf)
    t = assign_tiles(pts, zoom=6).select("event_id", "x", "y")
    base = tempfile.mkdtemp(prefix="mvtspark_zorder_")
    write_zordered(t, base, n_files=8)
    back = read_bbox(spark, base, (24, 39), (24, 39))
    return back.groupBy("x", "y", "z").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("event_id").cast("long").alias("sum_ids"),
    )


def geohash_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Geohash cell index (`functions/geodesy.py`): per-event base-32
    cell at precision 6 + per-cell aggregation — the fourth cell-key
    family (Morton/XYZ, S2, hex, geohash), with the prefix-containment
    property pinned in tests/test_geodesy.py against public vectors.
    Quantization is pure floor arithmetic (IEEE-exact across engines);
    the oracle re-derives the Morton spread chain and the base-32
    digits in DuckDB SQL."""
    from mvtspark.functions.geodesy import geohash

    pts = _event_points(spark, sf)
    return (
        pts.withColumn("gh", geohash(F.col("lat"), F.col("lng"), 6))
        .groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("event_id").cast("long").alias("sum_ids"),
        )
    )


def haversine_nearest_site(spark: SparkSession, sf: str) -> DataFrame:
    """Great-circle nearest site per event point (`haversine_km`,
    functions/geodesy.py): broadcast 25-site dim, codegen trig, window
    top-1 — the spherical-metric counterpart of the planar kNN ring
    join (sites hundreds of km apart need the real metric).  Distances
    round to 4 decimals (~0.1 m) to absorb cross-engine libm ulps, the
    same discipline as mercator_roundtrip."""
    from mvtspark.functions.geodesy import haversine_km

    pts = _event_points(spark, sf)
    n = _t(spark, sf, "nation")
    sites = n.select(
        F.col("n_nationkey").alias("site_id"),
        ((F.col("n_nationkey") * 37 % 160) - 79.5).cast("double").alias("slat"),
        ((F.col("n_nationkey") * 73 % 360) - 179.5).cast("double").alias("slng"),
    )
    # round to the 4-decimal contract resolution BEFORE the argmin:
    # two sites an ulp apart in raw libm trig could argmin differently
    # in Spark vs DuckDB — rounding first makes ties break on identical
    # operands (then site_id) in both engines
    d = pts.join(F.broadcast(sites)).withColumn(
        "km",
        F.round(
            haversine_km(F.col("lat"), F.col("lng"), F.col("slat"), F.col("slng")),
            4,
        ),
    )
    # argmin as min(struct(km, site_id)) — unlike a window top-1, the
    # 25x-exploded rows collapse in the MAP-SIDE partial aggregate, so
    # only one row per event ever shuffles
    return (
        d.groupBy("event_id")
        .agg(F.min(F.struct(F.col("km"), F.col("site_id"))).alias("m"))
        .select(
            "event_id",
            F.col("m.site_id").alias("site_id"),
            F.col("m.km").alias("km"),
        )
    )


def bbox_overlap_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Rectangle-overlap spatial join (`operators/overlap.py`): PBSM
    grid join — cover-cell explode, ONE equi-join shuffle, and the
    corner rule for exactly-once pair emission (never the O(n²)
    inequality nested loop Spark would otherwise plan).  Two
    deterministic rect sets derive from disjoint event slices; the
    oracle IS the naive inequality join (tractable at oracle scale)."""
    from mvtspark.operators.overlap import bbox_overlap_join

    e = _t(spark, sf, "events")

    def rects(mod_eq: int, mul: int, prefix: str) -> DataFrame:
        idc = F.col("event_id")
        x0 = idc * mul % 100000
        y0 = idc * (mul * 3 + 1) % 100000
        return e.where(idc % 20 == mod_eq).select(
            idc.alias(f"{prefix}id"),
            x0.alias(f"{prefix}xmin"),
            y0.alias(f"{prefix}ymin"),
            (x0 + idc % 900 + 100).alias(f"{prefix}xmax"),
            (y0 + (idc * 3) % 900 + 100).alias(f"{prefix}ymax"),
        )

    return bbox_overlap_join(rects(0, 48271, "a_"), rects(7, 16807, "b_"))


def user_track_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user trajectory stats (`operators/trajectory.py`): order each
    user's geotagged events by (ts, event_id), lag-window the previous
    ping, haversine each segment, reduce to movement totals.  ONE
    shuffle — the groupBy reuses the window's hash partitioning on
    user_id.  Segment km is scaled to km·10⁴ and ROUNDED TO AN EXACT
    INTEGER before summing (rounding before scaling would leave a
    non-integral double whose long cast truncates in Spark but rounds
    in DuckDB), so the sum is order-independent and the DuckDB window
    oracle reproduces it exactly."""
    from mvtspark.operators.trajectory import track_stats

    return track_stats(_event_points(spark, sf, extra=("user_id", "ts")))


def grid_density_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Grid-DBSCAN (`operators/cluster.py`): snap → count → dense-cell
    8-adjacency hash join → distributed min-label connected components
    (the same Pregel loop as dedup_groups, on a graph orders of
    magnitude smaller than the point table).  Cluster ids are exact
    integer min packed keys, so the DuckDB oracle closes the identical
    graph with a recursive reachability CTE and must match bit-for-bit."""
    from mvtspark.operators.cluster import grid_dbscan

    return grid_dbscan(_event_points(spark, sf), cell_size=2.0, min_pts=3)


def pq_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (`operators/pq.py`): 8×16 codebooks from
    the seed vectors, ONE min_by aggregation for all 8 codes, broadcast
    per-query ADC tables, ordered-fold table-lookup distance — the
    compressed-codes rung of the ANN ladder (brute force → IVF → PQ).
    Every float reduction is a pinned-order fold, so the DuckDB oracle
    (list folds + window argmins) matches bit-for-bit."""
    from mvtspark.operators.pq import pq_topk

    emb = _t(spark, sf, "embeddings")
    return pq_topk(emb, emb.where(F.col("vec_id") < 5), k=5)


def ivf_pq_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF+PQ composed ANN (`operators/pq.py::ivf_pq_topk` — Jégou's
    IVFADC): coarse cosine buckets prune the corpus to nprobe/C via an
    equi-join, then PQ ADC table lookups score only the touched rows —
    the plan that serves 10^12-vector search. Every float reduction is
    a pinned-order fold; the oracle replays bucket assignment, probe
    selection, codes, ADC tables and the final rank bit-for-bit."""
    from mvtspark.operators.pq import ivf_pq_topk

    emb = _t(spark, sf, "embeddings")
    return ivf_pq_topk(emb, emb.where(F.col("vec_id") < 5), k=5)


def quadkey_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Bing quadkey cell index (`functions/geodesy.py::quadkey`): the
    fifth cell-key family, exactly aligned to the XYZ pyramid (every
    prefix is the ancestor tile).  Pure bit-math codegen on top of the
    native mercator tile assignment; the oracle replays projection +
    base-4 digits in SQL."""
    from mvtspark.functions.geodesy import quadkey
    from mvtspark.operators.spatial import assign_tiles

    pts = _event_points(spark, sf)
    return (
        assign_tiles(pts, zoom=6)
        .withColumn("qk", quadkey(F.col("x"), F.col("y"), 6))
        .groupBy("qk")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("event_id").cast("long").alias("sum_ids"),
        )
    )


def convex_geofence_pip(spark: SparkSession, sf: str) -> DataFrame:
    """Convex geofence membership (`operators/geofence.py`): broadcast
    12-fence hexagon catalog, exact sign-fold PIP (min edge cross
    product >= 0 — pure +,-,* doubles, no rounding discipline needed),
    per-fence aggregate.  The oracle rebuilds the identical edge
    literals from repr()'d Python doubles and classifies every point
    bit-for-bit."""
    from mvtspark.operators.geofence import fence_catalog, geofence_join

    pts = _event_points(spark, sf)
    return (
        geofence_join(pts, fence_catalog(spark))
        .groupBy("fence_id")
        .agg(
            F.count(F.lit(1)).alias("n_inside"),
            F.sum("event_id").cast("long").alias("sum_ids"),
        )
    )


def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc top-3 TF-IDF terms (`operators/text.py`): explode →
    tf/df aggs → smooth idf → score rounded to 6 BEFORE the (score,
    term) ranking so cross-engine libm ln ulps can't flip the order."""
    from mvtspark.operators.text import tfidf_top_terms as _tfidf

    return _tfidf(_t(spark, sf, "documents"), k=3)


def session_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """W4 counterpart using Spark's NATIVE `session_window` (the manual
    lag+cumsum sessionization is `sessionize_events`; this exercises
    the built-in gap-merge operator, batch mode).  Session end is
    last-event + gap, and events EXACTLY gap apart merge (verified by
    repro: two events 30 min apart → one session), so the oracle's
    break rule is strictly `> gap`."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            "user_id",
            F.session_window(F.col("ts"), "30 minutes").alias("sw"),
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


def event_type_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot/crosstab: hourly event counts spread to one column per
    type — Spark's `groupBy().pivot()` with the value list PINNED (an
    unpinned pivot runs an extra distinct job and its column order
    depends on collected data).  The oracle is conditional
    aggregation, the relational dual of pivot."""
    e = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        e.withColumn(
            "hour_us",
            F.unix_micros(F.date_trunc("hour", F.col("ts")).cast("timestamp")),
        )
        .groupBy("hour_us")
        .pivot("event_type", types)
        .count()
        .select(
            "hour_us",
            *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
        )
    )


def top_tokens_global(spark: SparkSession, sf: str) -> DataFrame:
    """Global top-50 vocabulary terms: explode → map-side-partial count
    agg → `orderBy().limit()` which Spark plans as TakeOrderedAndProject
    (per-partition top-k, only 50×partitions rows reach the driver-side
    merge — never a global sort).  Ties at the cut break by term asc."""
    from mvtspark.operators.text import tokens

    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(50)
    )


def value_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Numerically-EXACT distributed moments + correlation: `value` has
    2-decimal resolution, so it scales to integer cents (round-then-
    cast, the engine's exact-integer discipline) and every sufficient
    statistic (Σx, Σx², Σxy) is an order-independent integer SUM.
    Mean/variance/correlation derive from those exact integers with an
    expression both engines evaluate identically — the scale-out answer
    to "floating SUM changes with partitioning" (Spark's stddev/corr
    merge state in shuffle order; this never does)."""
    e = _t(spark, sf, "events")
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    uid = F.col("user_id")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).cast("long").alias("sx"),
        F.sum(cents * cents).cast("long").alias("sxx"),
        F.sum(uid).cast("long").alias("sy"),
        F.sum(uid * uid).cast("long").alias("syy"),
        F.sum(cents * uid).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    mean = (F.col("sx") / 100.0) / nd
    var = (F.col("sxx") / 10000.0) / nd - mean * mean
    corr_num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    corr_den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "event_type",
        "n",
        "sx",
        F.round(mean, 6).alias("mean_value"),
        F.round(F.sqrt(var), 6).alias("stddev_pop"),
        F.round(corr_num / corr_den, 6).alias("corr_value_user"),
    )


def value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram of `value` (bucket = floor(v/2), clamped
    to [0, 12]) — counts and exact-cents sums per bucket, the classic
    one-pass profile scan (map-side partials, one small shuffle)."""
    e = _t(spark, sf, "events")
    b = F.least(F.greatest(F.floor(F.col("value") / 2.0), F.lit(0)), F.lit(12))
    return (
        e.groupBy(b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
    )


def props_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured column handling: parse the `props` JSON string
    with a TYPED `from_json` schema (schema-on-read — Catalyst prunes
    to the single field; no regex hacks), then aggregate by k decile.
    The everyday pipeline op for event payloads."""
    e = _t(spark, sf, "events")
    k = F.from_json(F.col("props"), "k long")["k"]
    return (
        e.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


def value_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT percentiles per group (`F.percentile`, the sort-based
    exact operator — `approx_percentile` is the sketch path): p50/p90/
    p99 of `value`, rounded to 6 to absorb interpolation-formula ulps.
    DuckDB's `quantile_cont` uses the same pos = p·(n−1) definition."""
    e = _t(spark, sf, "events")
    p = F.percentile(F.col("value"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        e.groupBy("event_type")
        .agg(p.alias("ps"))
        .select(
            "event_type",
            F.round(F.col("ps")[0], 6).alias("p50"),
            F.round(F.col("ps")[1], 6).alias("p90"),
            F.round(F.col("ps")[2], 6).alias("p99"),
        )
    )


def user_rank_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking-function breadth: rank, dense_rank, percent_rank and
    cume_dist over each customer's spend-ordered orders (tie-agnostic —
    tied prices get equal values, so no tiebreak column is needed for
    determinism), plus ntile(4) over the fully-tiebroken order (ntile
    is position-based, so it NEEDS the o_orderkey tiebreak).  Both
    windows share one hash partitioning; percent_rank/cume_dist are
    exact ratios of ints, rounded to 6."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    wt = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(wt).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def salted_skew_join(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit skew-spread JOIN (`operators/skew.py::salted_join`):
    a deliberately skewed fact key (90% of events collapse to key 0)
    joined to a 5-row dim through a per-row hash salt, so the hot key
    spreads over 8 reducers instead of one.  The salt is a pure
    function of event_id — results are set-equal to the plain join,
    which IS the oracle.  (The dynamic counterpart, AQE skew split, is
    evidenced in tests/test_skew_join.py with `skew=true` plans.)"""
    from mvtspark.operators.skew import salted_join

    e = _t(spark, sf, "events")
    fact = e.select(
        "event_id",
        F.when(F.col("event_id") % 10 < 9, F.lit(0).cast("long"))
        .otherwise(F.floor(F.col("event_id") / 10) % 5)
        .alias("k"),
    )
    r = _t(spark, sf, "region")
    dim = r.select(F.col("r_regionkey").cast("long").alias("k"), "r_name")
    return (
        salted_join(fact, dim, on="k", tiebreak="event_id", n_salt=8)
        .groupBy("k", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("long").alias("sum_ids"),
        )
    )


def image_channel_goldens(spark: SparkSession, sf: str) -> DataFrame:
    """Per-channel pixel sums FROM BYTES vs frozen goldens
    (`operators/multimodal.py::channel_sums`): decodes 120 synthetic
    images (raw + PNG codecs) and emits exact int64 channel sums; the
    oracle is a literal VALUES table computed once and pinned — the
    decoder never touches the oracle side, closing the self-consistency
    hole the roundtrip invariants leave open."""
    from mvtspark.operators.multimodal import channel_sums
    from mvtspark.sources.images import synth_images

    return channel_sums(synth_images(spark, 120))


def image_fliprot_invariants(spark: SparkSession, sf: str) -> DataFrame:
    """Geometric augmentation gate (`multimodal.py::flip_rot_invariants`):
    flip/rot90 from bytes; channel sums of the AUGMENTED image must
    still match the frozen goldens (pixel permutations preserve sums),
    double-flip / 4×rot90 must reproduce the original exactly, and the
    corner probe proves the ops moved pixels (verified offline: no
    golden image has equal corner pixels, so all three flags are
    constant TRUE in the oracle)."""
    from mvtspark.operators.multimodal import flip_rot_invariants
    from mvtspark.sources.images import synth_images

    return flip_rot_invariants(synth_images(spark, 120))


def cdc_upsert_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """CDC latest-wins upsert (`operators/cdc.py` — MERGE INTO
    semantics): the events table read as a change feed keyed by
    user_id, versioned by (ts, event_id), with event_type='error' as
    the delete marker.  ONE max_by aggregation with map-side partials —
    never a window sort over the whole feed.  The oracle replays it
    with a rank-1 window, a deliberately different plan that must land
    on identical rows."""
    from mvtspark.operators.cdc import latest_wins_upsert

    e = _t(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        F.round(F.col("value") * 100.0, 0).cast("long").alias("value_cents"),
    )
    return latest_wins_upsert(
        e,
        key_cols=["user_id"],
        order_cols=["ts_us", "event_id"],
        is_delete=F.col("event_type") == "error",
    )


def scd2_user_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD type-2 history (`operators/cdc.py::scd2_intervals`): every
    change row with its validity interval (valid_from/valid_to/
    is_current) via one lead window — the history table whose compacted
    head is `cdc_upsert_snapshot`."""
    from mvtspark.operators.cdc import scd2_intervals

    e = _t(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
    )
    return scd2_intervals(
        e, key_cols=["user_id"], order_cols=["ts_us", "event_id"],
        ts_col="ts_us",
    )


def streaming_geofence_alerts(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming geofence ALERTING, driver-visible and ORACLED
    (`streaming/pipeline.py::stream_geofence_transitions`): a bounded
    two-file ping stream (split by user, so each user is batch-complete
    — the cross-batch state path is pinned separately in
    tests/test_streaming.py) runs the applyInPandasWithState enter/exit
    detector against the hexagon fence catalog under
    Trigger.AvailableNow; DuckDB replays membership + lag-over-(user,
    fence) relationally and every transition row must hash-match."""
    import tempfile
    import uuid as _uuid

    from mvtspark.operators.geofence import hex_fences
    from mvtspark.streaming import file_pings_stream, stream_geofence_transitions

    base = tempfile.mkdtemp(prefix="mvtspark_geoq_")
    pings = _event_points(spark, sf, extra=("user_id", "ts")).drop("event_id")
    pings.where(F.col("user_id") < 25).coalesce(1).write.mode("append").parquet(
        base + "/in"
    )
    pings.where(F.col("user_id") >= 25).coalesce(1).write.mode(
        "append"
    ).parquet(base + "/in")

    stream = file_pings_stream(spark, base + "/in", max_files_per_trigger=1)
    alerts = stream_geofence_transitions(stream, hex_fences())
    name = "geoq_" + _uuid.uuid4().hex[:8]
    q = (
        alerts.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("streaming query did not finish in 600s")
    return spark.table(name).select("user_id", "ts_us", "fence_id", "entered")


def hex_polyfill_fences(spark: SparkSession, sf: str) -> DataFrame:
    """H3-style POLYFILL (`functions/hexgrid.py::hex_polyfill_convex`):
    cover each world-projected convex fence with the res-7 hex cells
    whose centers fall inside — vertex-derived axial ranges, bounded
    sequence×sequence explode, sign-fold center test, all codegen.
    Fence vertices are projected ONCE driver-side and embedded as
    literals, so no trig runs at query time and the DuckDB oracle
    replays every +,-,* bit-for-bit."""
    from mvtspark.functions.hexgrid import hex_polyfill_convex
    from mvtspark.operators.geofence import world_fence_verts

    polys = spark.createDataFrame(
        [(fid, verts) for fid, verts in world_fence_verts()],
        "poly_id long, verts array<struct<x:double,y:double>>",
    )
    return hex_polyfill_convex(polys, res=7)


def polyfill_cover_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Polyfill COVER JOIN — the composition the polyfill exists for:
    the fence catalog polyfills to a broadcast (poly_id, cell) set and
    the event fact table joins on its BARE res-7 hex cell — one
    broadcast hash join, zero shuffle of the facts, per-fence counts.
    Membership here is cell-granular (center-in-polygon coverage), the
    coarse pre-filter a pipeline refines with the exact sign-fold PIP;
    the oracle replays both sides relationally."""
    from mvtspark.functions import hexgrid as hx
    from mvtspark.functions.hexgrid import hex_polyfill_convex
    from mvtspark.operators.geofence import world_fence_verts

    polys = spark.createDataFrame(
        [(fid, verts) for fid, verts in world_fence_verts()],
        "poly_id long, verts array<struct<x:double,y:double>>",
    )
    cover = hex_polyfill_convex(polys, res=7).select("poly_id", "cell")
    pts = _event_points(spark, sf).select(
        "event_id", hx.hex_cell(F.col("lng"), F.col("lat"), 7).alias("cell")
    )
    return (
        pts.join(F.broadcast(cover), "cell")
        .groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("long").alias("sum_ids"),
        )
    )


def mercator_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """D10/D19 projection parity: lat/lng → global mercator px → back.
    Round-trips to 4 decimals (~11 m), proving both directions match the
    reference math (Geometry.cs:71-103) in pure SQL."""
    from mvtspark.functions.native import (
        lat_from_tile, lng_from_tile, tile_px, tile_py, tile_x, tile_y,
    )

    zoom = 4
    pts = _event_points(spark, sf)
    lngc, latc = F.col("lng"), F.col("lat")
    px = tile_px(lngc, latc, zoom)
    py = tile_py(lngc, latc, zoom)
    tx = tile_x(lngc, latc, zoom)
    ty = tile_y(lngc, latc, zoom)
    return pts.select(
        "event_id",
        F.round(lng_from_tile(px, tx, zoom), 4).alias("lng_rt"),
        F.round(lat_from_tile(py, ty, zoom), 4).alias("lat_rt"),
    )


def knn_sites(spark: SparkSession, sf: str) -> DataFrame:
    """J5 cell-ring-expansion kNN join: each event point's 3 nearest
    'sites' (nation-derived POIs). At zoom 1 the radius-1 ring covers the
    whole grid, so the grid-kNN result is exact → oracled against a full
    cross-join kNN."""
    from mvtspark.operators.spatial import knn_ring_join

    pts = _event_points(spark, sf).select(
        F.col("event_id").alias("image_id"), "lat", "lng"
    )
    n = _t(spark, sf, "nation")
    sites = n.select(
        F.col("n_nationkey").alias("site_id"),
        ((F.col("n_nationkey") * 37 % 160) - 79.5).cast("double").alias("lat"),
        ((F.col("n_nationkey") * 73 % 360) - 179.5).cast("double").alias("lng"),
    )
    out = knn_ring_join(pts, sites, k=3, zoom=1, max_radius=2)
    return out.select(
        F.col("image_id").alias("event_id"),
        "site_id",
        F.round("dist2", 6).alias("dist2"),
        "knn_rank",
    )


# ------------------------------------------------------ MVT codec pipeline

def mvt_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """S9 encode → D1-D8 decode round-trip, ORACLED: per-order synthetic
    point features are encoded into per-tile MVT protobufs (applyInPandas)
    and decoded back (mapInPandas); the oracle recomputes the input
    relationally — a lossless codec must hash-match it exactly.
    Covers varint/zigzag/delta command streams + key/value dictionaries
    (ref DecodeGeometry.cs:31-91, VectorTileReader.cs:148-375)."""
    from mvtspark.sources.tiles import decode_tiles, encode_tiles

    o = _t(spark, sf, "orders")
    feats = o.select(
        F.lit(2).alias("zoom"),
        (F.col("o_orderkey") % 4).cast("int").alias("x"),
        ((F.col("o_orderkey") / 4).cast("long") % 4).cast("int").alias("y"),
        F.lit(4096).alias("extent"),
        F.col("o_orderkey").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
        F.array(F.col("o_orderkey") * 7919 % 4096).alias("xs"),
        F.array(F.col("o_orderkey") * 104729 % 4096).alias("ys"),
        F.to_json(F.struct(F.col("o_orderstatus").alias("status"))).alias("props"),
    )
    tiles = encode_tiles(feats, layer_name="orders")
    dec = decode_tiles(tiles.select("zoom", "x", "y", "mvt"))
    return dec.where(F.col("decode_error").isNull()).select(
        "zoom",
        "x",
        "y",
        "feature_id",
        "geom_type",
        F.element_at("xs", 1).alias("px"),
        F.element_at("ys", 1).alias("py"),
        F.get_json_object("props", "$.status").alias("status"),
    )


def flagship_mvt_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Whole north-star loop at test scale, ORACLED (was rows-only in
    r1): the synthetic geotags are a splitmix64 mixer that DuckDB
    reproduces bit-exactly (see oracle_sql), so the per-tile summary
    (image/feature/decoded counts + parity flag) is relationally
    recomputed end-to-end — the engine's project→PIP-join→salted-agg→
    encode→decode-back loop must land every image in the right tile and
    round-trip every feature to hash-match."""
    from mvtspark.plans.flagship import flagship

    n = 2000 if "0.01" in sf else 500
    return flagship(spark, n_images=n, zoom=6)


def image_roundtrip_invariants(spark: SparkSession, sf: str) -> DataFrame:
    """BASELINE input_hint PER-ROW invariants, ORACLED: every image must
    decode (no error), round-trip its pixels at PSNR ≥ 40 dB (∞ for the
    lossless raw/PNG codecs), recompute a pHash, and match its caption
    exactly — so the expected table is a constant truth per image_id
    that DuckDB generates independently. A single flipped pixel or
    caption byte fails the hash-match."""
    from mvtspark.operators.multimodal import image_roundtrip_stats
    from mvtspark.sources.images import synth_images

    imgs = synth_images(spark, 300, with_bytes=True)
    stats = image_roundtrip_stats(imgs)
    return stats.select(
        "image_id",
        "fmt",
        F.col("decode_error").isNull().alias("decoded_ok"),
        (F.col("psnr") >= 40.0).alias("psnr_ok"),
        F.col("caption_ok"),
        F.col("phash_check").isNotNull().alias("phash_ok"),
    )


# ------------------------------------------------- training-data pipeline

def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: token counts, quality features, lang-id, fingerprint
    — all native Column expressions (whole-stage codegen)."""
    from mvtspark.operators.text import analyze

    d = _t(spark, sf, "documents")
    return analyze(d).select(
        "doc_id", "n_tokens_ws", "n_tokens_bpe", "n_words",
        "punct_ratio", "stopword_ratio", "avg_word_len", "quality",
        "lang_pred", "fp",
    )


def lang_id_counts(spark: SparkSession, sf: str) -> DataFrame:
    from mvtspark.operators.text import lang_id

    d = _t(spark, sf, "documents")
    return d.select("lang", lang_id(F.col("text")).alias("lang_pred")).groupBy(
        "lang", "lang_pred"
    ).agg(F.count(F.lit(1)).alias("n"))


def exact_dedup_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup (hash-groupBy) keyed on the first-5-token prefix of the
    normalized text."""
    from mvtspark.operators.dedup import exact_dedup, normalized_text

    d = _t(spark, sf, "documents")
    key = F.concat_ws(" ", F.slice(F.split(normalized_text(), " "), 1, 5))
    return exact_dedup(d, key=key)


def ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs: PREFIX-FILTER candidates
    (`jaccard_prefix_candidates` — a guaranteed-exact equi-join superset,
    never the O(n²) inequality cross join) + exact verify.  The oracle
    stays the all-pairs SQL: prefix filtering is provably lossless, so
    results are identical."""
    from mvtspark.operators.dedup import (
        jaccard_prefix_candidates,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf, "documents")
    cand = jaccard_prefix_candidates(d, n=3, threshold=0.5)
    return ngram_jaccard_pairs(d, cand, n=3, threshold=0.5)


def minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (shingle → 64-perm minhash →
    16-band bucket equi-join), ORACLED end-to-end: the shingle hash is a
    polynomial mod-2^64 fold over token hashes (kernels/strhash.py —
    DuckDB recomputes it with list_reduce over split(w,'') code points)
    and band keys are the raw signature slices, so the oracle recomputes
    identical signatures, bands, candidate pairs and Jaccard estimates
    in pure SQL."""
    from mvtspark.operators.dedup import minhash_lsh_dedup

    # the test-scale doc table is one parquet file = one partition;
    # spread it so the signature UDF uses all cores (at production scale
    # the table arrives already partitioned and this is unnecessary)
    d = _t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return minhash_lsh_dedup(d, n=3, threshold=0.7)


def simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs within hamming distance 3 (4×16-bit band
    blocking; pigeonhole-exact candidate recall), ORACLED: the
    polynomial token hash (kernels/strhash.py) lets DuckDB rebuild the
    64-bit signatures bit-for-bit."""
    from mvtspark.operators.dedup import simhash_dedup

    d = _t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return simhash_dedup(d, max_hamming=3)


def embedding_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs: sign-bit LSH blocking + exact cosine."""
    from mvtspark.operators.dedup import embedding_cosine_dups

    e = _t(spark, sf, "embeddings")
    return embedding_cosine_dups(e, threshold=0.42, sign_bits=4)


def embedding_rh_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs (Charikar), ORACLED: the
    8-band × 3-bit hyperplane sign keys are pure fold expressions over
    literal dyadic-rational coefficients that the oracle SQL embeds
    verbatim, so DuckDB rebuilds the identical band keys and exact-cosine
    verify.  Recall upgrade over embedding_cosine_pairs' first-k-dims
    sign bucket: 33/34 true pairs at the 0.42 operating point vs 6/34."""
    from mvtspark.operators.dedup import embedding_rh_lsh_dups

    e = _t(spark, sf, "embeddings")
    return embedding_rh_lsh_dups(e, threshold=0.42, bands=8, bits=3)


def ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force exact cosine top-k (ANN correctness baseline); query
    side broadcast, similarity native zip_with/aggregate, window top-k."""
    from mvtspark.operators.ann import brute_force_topk

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return brute_force_topk(e, q, k=5)


def ann_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-bucketed approximate top-k (the 10^12-scale path: probe nprobe
    of C centroid buckets instead of the full corpus), ORACLED: the
    quantizer is relational (argmax over fold-order-stable centroid
    sims), so DuckDB reproduces buckets, probes, and scores exactly."""
    from mvtspark.operators.ann import ivf_topk

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return ivf_topk(e, q, k=5, n_centroids=16, nprobe=4)


# ------------------------------------------- geometry / sinks / validation

def geojson_points(spark: SparkSession, sf: str) -> DataFrame:
    """S5 GeoJSON Feature serialization (ref ExtensionMethods/
    VectorTile.cs:33-207 — same `{"type":"Feature",...}` template),
    ORACLED: coordinates emitted as integer microdegrees so the string
    is bit-identical across engines (float formatting differs between
    Java's %s and C printf; the reference's invariant-culture float path
    is covered by kernel unit tests instead)."""
    pts = _event_points(spark, sf)
    e = _t(spark, sf, "events").select("event_id", "event_type")
    j = pts.join(e, "event_id")
    geojson = F.format_string(
        '{"type":"Feature","id":%d,"geometry":{"type":"Point",'
        '"coordinates":[%d,%d]},"properties":{"event_type":"%s"}}',
        F.col("event_id"),
        F.round(F.col("lng") * 1e6).cast("long"),
        F.round(F.col("lat") * 1e6).cast("long"),
        F.col("event_type"),
    )
    return j.select("event_id", geojson.alias("geojson"))


def polygon_area_orientation(spark: SparkSession, sf: str) -> DataFrame:
    """A1/D15 signed polygon area + winding orientation (shoelace fold;
    ref VectorTileFeature.cs:130-141, clipper.cs:4387-4400). Deterministic
    4-vertex rings derived from order keys; area2 = 2x signed area kept
    integer-exact (no division), orientation = area2 >= 0 (clipper.cs:
    3560-3564 `Orientation := Area >= 0`). Native higher-order folds."""
    o = _t(spark, sf, "orders").select("o_orderkey")
    idx = F.sequence(F.lit(0), F.lit(3))
    xs = F.transform(idx, lambda i: (F.col("o_orderkey") * (i + 1) * 2654435761) % 8192)
    ys = F.transform(idx, lambda i: ((F.col("o_orderkey") + i) * 40503) % 8192)
    rot = lambda a: F.concat(F.slice(a, 2, 3), F.slice(a, 1, 1))
    ring = o.select(
        "o_orderkey", xs.alias("xs"), ys.alias("ys"),
        rot(xs).alias("xr"), rot(ys).alias("yr"),
    )
    terms = F.zip_with(
        F.zip_with("xs", "yr", lambda x, yn: x * yn),
        F.zip_with("xr", "ys", lambda xn, y: xn * y),
        lambda a, b: a - b,
    )
    area2 = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)
    return ring.select(
        "o_orderkey",
        area2.alias("area2"),
        (area2 >= 0).alias("ccw"),
    )


def range_join_px(spark: SparkSession, sf: str) -> DataFrame:
    """J6 non-equi range join: event in-tile px against 16 static px
    bucket ranges (BETWEEN join). The dim is broadcast (16 rows), so the
    physical plan is BroadcastNestedLoopJoin over a tiny side — the
    shape used for tile-pyramid range queries. At scale, prefer the
    equi rewrite (bucket = px div 256) when ranges are uniform; this
    query keeps the general non-equi form."""
    from mvtspark.operators.spatial import assign_tiles

    pts = assign_tiles(_event_points(spark, sf), zoom=4)
    b = spark.range(16).select(
        F.col("id").alias("bucket_id"),
        (F.col("id") * 256).alias("lo"),
        (F.col("id") * 256 + 255).alias("hi"),
    )
    j = pts.join(
        F.broadcast(b),
        (F.col("px") >= F.col("lo")) & (F.col("px") <= F.col("hi")),
        "inner",
    )
    return j.groupBy("bucket_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("sum_event_id"),
    )


def asof_join_clicks(spark: SparkSession, sf: str) -> DataFrame:
    """J6 as-of join: for each 'view' event, the user's most recent
    click at-or-before it. Spark has no ASOF JOIN; the scalable pattern
    is union-the-streams + one window pass carrying the last click
    forward (one shuffle on user_id, no range self-join blowup). Oracle:
    DuckDB's native ASOF JOIN."""
    e = _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        # ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is identity
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    views = e.where(F.col("event_type") == "view")
    clicks = e.where(F.col("event_type") == "click")
    allev = views.select(
        "user_id", "us", "event_id", F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("long").alias("click_us"),
    ).unionByName(
        clicks.select(
            "user_id", "us", F.lit(None).cast("long").alias("event_id"),
            F.col("event_id").alias("click_id"), F.col("us").alias("click_us"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        # secondary key orders clicks BEFORE views at equal timestamps so
        # a same-us click is visible to the view, matching the oracle's
        # ASOF `v.us >= c.us` (inclusive) deterministically — without it
        # the tie order is whatever the sort happens to produce
        .orderBy("us", F.col("click_id").isNull())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = allev.withColumns(
        {
            "last_click_id": F.last("click_id", ignorenulls=True).over(w),
            "last_click_us": F.last("click_us", ignorenulls=True).over(w),
        }
    )
    return out.where(
        F.col("event_id").isNotNull() & F.col("last_click_id").isNotNull()
    ).select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("last_click_id").alias("click_id"),
        (F.col("us") - F.col("last_click_us")).alias("gap_us"),
    )


def zigzag_varint_sql(spark: SparkSession, sf: str) -> DataFrame:
    """D2 zigzag + D1 varint width in PURE SQL (no UDF): proves the wire
    math (PbfReader.cs:148-157 decodeZigZag, :56-75 varint <=10 bytes) is
    expressible relationally. zz = (n << 1) ^ (n >> 63) [encode],
    back = (zz >>> 1) ^ -(zz & 1) [decode, logical shift], varint width
    by exact power-of-128 thresholds."""
    e = _t(spark, sf, "events").select("event_id", "user_id")
    n = (F.col("event_id") * F.lit(2654435761)) - F.lit(4611686018427387904)
    zz = F.shiftleft(n, 1).bitwiseXOR(F.shiftright(n, 63))
    back = F.shiftrightunsigned(zz, 1).bitwiseXOR(-(zz.bitwiseAND(F.lit(1))))
    # zz is a bit-pattern (may be "negative" as int64) — compare unsigned
    # via DECIMAL(20,0); bounds are exact 128^k literals
    uzz = F.when(
        zz < 0,
        zz.cast("decimal(20,0)") + F.expr(f"CAST({2**64} AS DECIMAL(21,0))"),
    ).otherwise(zz.cast("decimal(20,0)"))
    width = F.lit(10)
    for w_ in range(9, 0, -1):
        width = F.when(
            uzz < F.expr(f"CAST({1 << (7 * w_)} AS DECIMAL(20,0))"), w_
        ).otherwise(width)
    return e.select(
        "event_id",
        n.alias("n"),
        zz.alias("zz"),
        back.alias("back"),
        width.cast("int").alias("varint_bytes"),
        (back == n).alias("roundtrip_ok"),
    )


def validate_tiles_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """P5 validation predicate suite over a deterministically CORRUPTED
    tile corpus (the reference's invalid-fixture strategy,
    TestInvalidMvtInBulk.cs:46-65, built synthetically): per tile,
    class = (x*4+y)%5 selects intact / truncated / gzip-magic
    (VectorTileReader.cs:39-42) / zeroed-first-byte (tag 0 rejected,
    PbfReader.cs:216-222) / appended-garbage-field. The engine decodes
    leniently (row-level decode_error instead of failing the job —
    SURVEY §1.3) and every corruption class must be detected while
    intact tiles decode all their features."""
    from mvtspark.sources.tiles import decode_tiles, encode_tiles

    o = _t(spark, sf, "orders")
    feats = o.select(
        F.lit(2).alias("zoom"),
        (F.col("o_orderkey") % 4).cast("int").alias("x"),
        ((F.col("o_orderkey") / 4).cast("long") % 4).cast("int").alias("y"),
        F.lit(4096).alias("extent"),
        F.col("o_orderkey").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
        F.array(F.col("o_orderkey") * 7919 % 4096).alias("xs"),
        F.array(F.col("o_orderkey") * 104729 % 4096).alias("ys"),
        F.to_json(F.struct(F.col("o_orderstatus").alias("status"))).alias("props"),
    )
    tiles = encode_tiles(feats, layer_name="orders")
    cls = F.pmod(F.col("x") * 4 + F.col("y"), F.lit(5))
    mvt = F.col("mvt")
    corrupted = (
        F.when(cls == 1, F.substring(mvt, 1, 8))  # truncated mid-message
        .when(cls == 2, F.concat(F.lit(b"\x1f\x8b"), mvt))  # gzip magic
        .when(cls == 3, F.concat(F.lit(b"\x00"), F.substring(mvt, 2, 1 << 30)))
        .when(cls == 4, F.concat(mvt, F.lit(b"\x07")))  # tag0+wiretype7
        .otherwise(mvt)
    )
    corpus = tiles.select("zoom", "x", "y", cls.alias("cls"), corrupted.alias("mvt"))
    dec = decode_tiles(corpus.select("zoom", "x", "y", "mvt"), validate=True)
    agg = dec.groupBy("zoom", "x", "y").agg(
        F.sum(F.when(F.col("decode_error").isNull(), 1).otherwise(0)).alias("n_features"),
        F.max(F.col("decode_error").isNotNull().cast("int")).alias("err"),
    )
    return agg.join(
        corpus.select("zoom", "x", "y", "cls"), ["zoom", "x", "y"]
    ).select(
        "zoom", "x", "y", "cls",
        F.col("n_features").cast("long").alias("n_features"),
        (F.col("err") == 1).alias("error_detected"),
    )


def approx_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """A10 approximate distinct (HLL++). Rows-only: approximate results
    are engine-specific by design; the exact twin is
    distinct_users_by_type."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def mvt_roundtrip_lines(spark: SparkSession, sf: str) -> DataFrame:
    """S9/D7/D8 multi-vertex LINESTRING round-trip, ORACLED: 4-vertex
    polylines exercise the delta+zigzag cursor across MoveTo/LineTo
    command runs (DecodeGeometry.cs:39-90); decoded vertices are
    exploded to rows and must hash-match the relationally recomputed
    inputs."""
    from mvtspark.sources.tiles import decode_tiles, encode_tiles

    o = _t(spark, sf, "orders")
    idx = F.sequence(F.lit(0), F.lit(3))
    xs = F.transform(idx, lambda i: (F.col("o_orderkey") * (i + 7) * 2654435761) % 4096)
    ys = F.transform(idx, lambda i: ((F.col("o_orderkey") + i * 13) * 40503) % 4096)
    feats = o.select(
        F.lit(3).alias("zoom"),
        (F.col("o_orderkey") % 8).cast("int").alias("x"),
        ((F.col("o_orderkey") / 8).cast("long") % 8).cast("int").alias("y"),
        F.lit(4096).alias("extent"),
        F.col("o_orderkey").alias("feature_id"),
        F.lit(2).alias("geom_type"),
        F.array(F.lit(0), F.lit(4)).cast("array<int>").alias("part_offsets"),
        xs.alias("xs"),
        ys.alias("ys"),
        F.to_json(F.struct(F.col("o_orderpriority").alias("prio"))).alias("props"),
    )
    tiles = encode_tiles(feats, layer_name="lines")
    dec = decode_tiles(tiles.select("zoom", "x", "y", "mvt"))
    v = dec.where(F.col("decode_error").isNull()).select(
        "zoom", "x", "y", "feature_id", "geom_type",
        F.posexplode(F.zip_with("xs", "ys", lambda a, b: F.struct(a.alias("px"), b.alias("py")))),
        F.get_json_object("props", "$.prio").alias("prio"),
    )
    return v.select(
        "zoom", "x", "y", "feature_id", "geom_type",
        F.col("pos").alias("vertex_idx"),
        F.col("col.px").alias("px"), F.col("col.py").alias("py"),
        "prio",
    )


def mvt_roundtrip_polys(spark: SparkSession, sf: str) -> DataFrame:
    """S9/D8 POLYGON round-trip, ORACLED including the reference's
    explicit ring closure: ClosePath appends the first vertex, so a
    decoded 4-vertex ring comes back with 5 vertices, first == last
    (DecodeGeometry.cs:39-90) — the oracle generates exactly that."""
    from mvtspark.sources.tiles import decode_tiles, encode_tiles

    o = _t(spark, sf, "orders")
    # axis-aligned rect ring from the key, EXPLICITLY CLOSED (first ==
    # last — the decoded-ring convention the encoder expects; on the
    # wire the closing vertex becomes ClosePath and the decoder appends
    # it back, DecodeGeometry.cs:39-90)
    x0 = (F.col("o_orderkey") * 131) % 2048
    y0 = (F.col("o_orderkey") * 223) % 2048
    wd = F.lit(64) + (F.col("o_orderkey") % 512)
    ht = F.lit(64) + ((F.col("o_orderkey") * 7) % 512)
    feats = o.select(
        F.lit(3).alias("zoom"),
        (F.col("o_orderkey") % 8).cast("int").alias("x"),
        ((F.col("o_orderkey") / 8).cast("long") % 8).cast("int").alias("y"),
        F.lit(4096).alias("extent"),
        F.col("o_orderkey").alias("feature_id"),
        F.lit(3).alias("geom_type"),
        F.array(F.lit(0), F.lit(5)).cast("array<int>").alias("part_offsets"),
        F.array(x0, x0 + wd, x0 + wd, x0, x0).alias("xs"),
        F.array(y0, y0, y0 + ht, y0 + ht, y0).alias("ys"),
        F.to_json(F.struct(F.col("o_orderstatus").alias("status"))).alias("props"),
    )
    tiles = encode_tiles(feats, layer_name="polys")
    dec = decode_tiles(tiles.select("zoom", "x", "y", "mvt"))
    v = dec.where(F.col("decode_error").isNull()).select(
        "zoom", "x", "y", "feature_id",
        F.posexplode(F.zip_with("xs", "ys", lambda a, b: F.struct(a.alias("px"), b.alias("py")))),
    )
    return v.select(
        "zoom", "x", "y", "feature_id",
        F.col("pos").alias("vertex_idx"),
        F.col("col.px").alias("px"), F.col("col.py").alias("py"),
    )


def tile_parity_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Cogrouped-map parity diff (§2.9): intact vs deterministically
    corrupted tile corpus decoded side-by-side; per tile the common /
    A-only / B-only feature counts are ORACLED from the corruption
    class — corrupted tiles must lose ALL their features (A-only),
    intact tiles must agree feature-for-feature."""
    from mvtspark.sources.tiles import (
        cogroup_tile_parity, decode_tiles, encode_tiles,
    )

    o = _t(spark, sf, "orders")
    feats = o.select(
        F.lit(2).alias("zoom"),
        (F.col("o_orderkey") % 4).cast("int").alias("x"),
        ((F.col("o_orderkey") / 4).cast("long") % 4).cast("int").alias("y"),
        F.lit(4096).alias("extent"),
        F.col("o_orderkey").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
        F.array(F.col("o_orderkey") * 7919 % 4096).alias("xs"),
        F.array(F.col("o_orderkey") * 104729 % 4096).alias("ys"),
        F.to_json(F.struct(F.col("o_orderstatus").alias("status"))).alias("props"),
    )
    tiles = encode_tiles(feats, layer_name="orders")
    cls = F.pmod(F.col("x") * 4 + F.col("y"), F.lit(5))
    mvt = F.col("mvt")
    corrupted = (
        F.when(cls == 1, F.substring(mvt, 1, 8))
        .when(cls == 2, F.concat(F.lit(b"\x1f\x8b"), mvt))
        .when(cls == 3, F.concat(F.lit(b"\x00"), F.substring(mvt, 2, 1 << 30)))
        .when(cls == 4, F.concat(mvt, F.lit(b"\x07")))
        .otherwise(mvt)
    )
    a = decode_tiles(tiles.select("zoom", "x", "y", "mvt"))
    b = decode_tiles(
        tiles.select("zoom", "x", "y", corrupted.alias("mvt")), validate=True
    )
    return cogroup_tile_parity(a, b)


def tile_pyramid_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A9's tile-pyramid form, ORACLED: per-tile point counts at zoom 4
    rolled up through zoom 3 and 2 by integer-halving the tile address
    (x>>1, y>>1 per level) — the parent-tile aggregation every tiling
    pipeline runs to build lower zooms. One shuffle per level with
    map-side partial aggregation."""
    from mvtspark.operators.spatial import assign_tiles

    pts = _event_points(spark, sf)
    z4 = (
        assign_tiles(pts, zoom=4)
        .groupBy("zoom", "x", "y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    levels = [z4]
    cur = z4
    for z in (3, 2):
        cur = (
            cur.select(
                F.lit(z).alias("zoom"),
                F.shiftright("x", 1).alias("x"),
                F.shiftright("y", 1).alias("y"),
                "n_points",
            )
            .groupBy("zoom", "x", "y")
            .agg(F.sum("n_points").alias("n_points"))
        )
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def xyz_cell_keys(spark: SparkSession, sf: str) -> DataFrame:
    """D18 hierarchical cell key (packed Morton tile cell, the grid-
    aligned spatial-join key), ORACLED: the kernel's bit-spread
    interleave is recomputed in SQL as a 4-bit positional sum at zoom 4.
    The S2 Hilbert variant is covered by kernel unit tests (its face/UV
    trig isn't SQL-reproducible bit-for-bit)."""
    from mvtspark.functions.udfs import xyz_cell

    pts = _event_points(spark, sf)
    return pts.select(
        "event_id",
        xyz_cell(F.col("lng"), F.col("lat"), 4).alias("cell"),
    )


def mvt_clip_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """P3/J3 clip operators in the decode path, ORACLED via the
    reference's own Clipping invariant (TestMvtInBulk.cs:183-209):
    clip(buffer=0) is a no-op on in-bounds geometry, so encode → decode
    → clip must still hash-match the relationally recomputed input.
    Exercises bbox point clip (Util.cs:42-68) and the rect-intersection
    ring path (Util.cs:75-157) end-to-end."""
    from mvtspark.sources.tiles import clip_features, decode_tiles, encode_tiles

    o = _t(spark, sf, "orders")
    feats = o.select(
        F.lit(2).alias("zoom"),
        (F.col("o_orderkey") % 4).cast("int").alias("x"),
        ((F.col("o_orderkey") / 4).cast("long") % 4).cast("int").alias("y"),
        F.lit(4096).alias("extent"),
        F.col("o_orderkey").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
        F.array(F.col("o_orderkey") * 7919 % 4096).alias("xs"),
        F.array(F.col("o_orderkey") * 104729 % 4096).alias("ys"),
        F.to_json(F.struct(F.col("o_orderstatus").alias("status"))).alias("props"),
    )
    tiles = encode_tiles(feats, layer_name="orders")
    dec = decode_tiles(tiles.select("zoom", "x", "y", "mvt"))
    clipped = clip_features(dec, buffer=0)
    return clipped.where(F.col("decode_error").isNull()).select(
        "zoom", "x", "y", "feature_id", "geom_type",
        F.element_at("xs", 1).alias("px"),
        F.element_at("ys", 1).alias("py"),
        F.get_json_object("props", "$.status").alias("status"),
    )


def mvt_typed_props_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY §1.3 typed 7-way property union END-TO-END at DataFrame
    level, ORACLED: per-order properties of ALL seven Value types
    (string/float/double/int/uint/sint/bool) are built as native
    columns, encoded through the typed dictionary path, decoded back via
    decode_tiles(typed_props=True), and the exploded (key, tag, member)
    rows hash-match a relational recomputation. Float32/Double/Int64
    type identity survives the wire — the JSON ``props`` string can't
    carry it (ref 7-way switch: VectorTileReader.cs:166-214)."""
    from mvtspark.sources.tiles import decode_tiles, encode_tiles

    def _u(k, tag, **kw):
        members = {
            "s": "string", "f": "float", "d": "double",
            "i": "long", "u": "long", "si": "long", "b": "boolean",
        }
        fields = [F.lit(k).alias("k"), F.lit(tag).alias("tag")]
        for m, typ in members.items():
            c = kw.get(m)
            fields.append(
                (c if c is not None else F.lit(None).cast(typ)).alias(m)
            )
        return F.struct(*fields)

    o = _t(spark, sf, "orders").where(F.col("o_orderkey") % 7 == 0)
    key = F.col("o_orderkey")
    feats = o.select(
        F.lit(1).alias("zoom"),
        (key % 2).cast("int").alias("x"),
        ((key / 2).cast("long") % 2).cast("int").alias("y"),
        F.lit(4096).alias("extent"),
        key.alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
        F.array(key * 7919 % 4096).alias("xs"),
        F.array(key * 104729 % 4096).alias("ys"),
        F.array(
            _u("s", 1, s=F.col("o_orderstatus")),
            _u("f", 2, f=((key % 1000) * 0.25).cast("float")),
            _u("d", 3, d=(key * 0.5).cast("double")),
            _u("i", 4, i=(-(key % 97) - 1).cast("long")),
            _u("u", 5, u=key.cast("long")),
            _u("si", 6, si=((key % 50) - 25).cast("long")),
            _u("b", 7, b=(key % 2 == 0)),
        ).alias("props_t"),
    )
    tiles = encode_tiles(feats, layer_name="typed")
    dec = decode_tiles(tiles.select("zoom", "x", "y", "mvt"), typed_props=True)
    p = F.col("p")
    return (
        dec.where(F.col("decode_error").isNull())
        .select("feature_id", F.explode("props_t").alias("p"))
        .select(
            "feature_id",
            p.k.alias("k"), p.tag.alias("tag"), p.s.alias("s"),
            p.f.alias("f"), p.d.alias("d"), p.i.alias("i"),
            p.u.alias("u"), p.si.alias("si"), p.b.alias("b"),
        )
    )


def s2_cell_goldens(spark: SparkSession, sf: str) -> DataFrame:
    """D18 S2 cell keys (face/UV quadratic projection + Hilbert curve,
    kernels/cells.py), ORACLED against 128 FROZEN golden ids: the oracle
    holds literal level-30 and level-10 cell ids generated once and
    pinned as constants, while the engine recomputes them LIVE from
    lat/lng — any regression in the face selection, ST quadratic
    transform, Hilbert orientation tables, or parent truncation fails
    the hash gate. (Complements xyz_cell_keys, whose Morton interleave
    the oracle recomputes algebraically.)"""

    def _gen(batches):
        import numpy as np
        import pandas as pd

        from mvtspark.kernels import cells

        for pdf in batches:
            k = pdf["id"].to_numpy()
            lng = ((k * 137) % 360) - 180 + 0.25
            lat = ((k * 73) % 170) - 85 + 0.125
            leaf = cells.s2_cell_id(lng.astype(float), lat.astype(float), 30)
            p10 = cells.s2_parent(leaf, 10)
            yield pd.DataFrame(
                {
                    "k": k,
                    "s2_leaf": leaf.view(np.int64),
                    "s2_l10": p10.view(np.int64),
                }
            )

    return spark.range(128).mapInPandas(
        _gen, schema="k long, s2_leaf long, s2_l10 long"
    )


def layers_index_scan(spark: SparkSession, sf: str) -> DataFrame:
    """S-side lazy layer index over MULTI-layer tiles (ref
    VectorTileReader.cs:53-100 name-only scan; SURVEY §3.1
    layers_index), ORACLED: two per-tile layers are built by encoding
    two feature sets and concatenating the tile messages (protobuf field
    concatenation IS multi-layer), then layers_index reports
    (layer, feature_count) per tile WITHOUT decoding feature bodies —
    DuckDB recomputes both layers' per-tile counts relationally."""
    from mvtspark.sources.tiles import encode_tiles, layers_index

    o = _t(spark, sf, "orders")

    def _feats(src):
        return src.select(
            F.lit(2).alias("zoom"),
            (F.col("o_orderkey") % 4).cast("int").alias("x"),
            ((F.col("o_orderkey") / 4).cast("long") % 4).cast("int").alias("y"),
            F.lit(4096).alias("extent"),
            F.col("o_orderkey").alias("feature_id"),
            F.lit(1).alias("geom_type"),
            F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
            F.array(F.col("o_orderkey") * 7919 % 4096).alias("xs"),
            F.array(F.col("o_orderkey") * 104729 % 4096).alias("ys"),
            F.lit(None).cast("string").alias("props"),
        )

    a = encode_tiles(_feats(o), layer_name="alpha").select(
        "zoom", "x", "y", F.col("mvt").alias("mvt_a")
    )
    b = encode_tiles(
        _feats(o.where(F.col("o_orderkey") % 3 == 0)), layer_name="beta"
    ).select("zoom", "x", "y", F.col("mvt").alias("mvt_b"))
    tiles = a.join(b, ["zoom", "x", "y"], "left").select(
        "zoom", "x", "y",
        F.concat(F.col("mvt_a"), F.coalesce(F.col("mvt_b"), F.lit(b""))).alias("mvt"),
    )
    return layers_index(tiles).where(F.col("index_error").isNull()).select(
        "zoom", "x", "y", "layer",
        F.col("feature_count").cast("long").alias("feature_count"),
    )


def _phash_corpus(spark: SparkSession) -> DataFrame:
    """120 synthetic images with PLANTED near-duplicates: every id with
    i%5==4 is replaced by a lightly perturbed copy of image i-4 (12
    pixels nudged by +8), so the pHash pair stage has true positives to
    find. Deterministic end-to-end."""
    from mvtspark.sources.images import synth_images

    imgs = synth_images(spark, 120, with_bytes=True)

    def _plant(batches):
        import numpy as np
        import pandas as pd

        from mvtspark.kernels.image import decode_image, encode_raw, synth_image

        cols = ["image_id", "bytes", "w", "h", "fmt"]
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                i = int(row.image_id[3:])
                if i % 5 == 4:
                    data, w, h, fmt = synth_image(i - 4)
                    img = decode_image(data, w, h, fmt).copy()
                    rng = np.random.default_rng(i)
                    ys = rng.integers(0, img.shape[0], 12)
                    xs = rng.integers(0, img.shape[1], 12)
                    img[ys, xs] = ((img[ys, xs].astype(np.int64) + 8) % 256).astype(np.uint8)
                    rows.append(dict(image_id=row.image_id,
                                     bytes=encode_raw(img), w=w, h=h, fmt="raw"))
                else:
                    rows.append(dict(image_id=row.image_id, bytes=bytes(row.bytes),
                                     w=int(row.w), h=int(row.h), fmt=row.fmt))
            yield pd.DataFrame(rows, columns=cols)

    return imgs.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        _plant, schema="image_id string, bytes binary, w int, h int, fmt string"
    )


def image_phash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal near-dup pairing: pHash recomputed FROM BYTES
    (decode → 32x32 DCT → median bits) then the SAME banded hamming
    blocking as the text side (hamming_band_pairs; 8x8-bit bands, exact
    pigeonhole recall for hamming <= 7) — never an image x image cross
    join. ORACLED: the per-image pHashes are frozen constants (like the
    S2 goldens — a regression in grayscale/resize/DCT/median flips
    them) and the banding + hamming pair derivation is recomputed
    relationally in DuckDB on those constants."""
    from mvtspark.operators.multimodal import phash_near_dup_pairs

    return phash_near_dup_pairs(_phash_corpus(spark), max_hamming=6)


def repetition_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters (boilerplate / degenerate text):
    duplicate-line fraction, duplicate-3-gram fraction, and the top
    token's share — the latter via a single native `aggregate` fold over
    the sorted token array (longest equal run), so the whole operator is
    shuffle-free codegen. ORACLED: DuckDB recomputes all three signals
    relationally (the top-token share via unnest + group-max)."""
    from mvtspark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"))


def stratified_sample_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling + train/eval split
    (operators/sample.py), ORACLED: membership is a pure function of
    md5(key) so DuckDB recomputes the exact surviving rows AND their
    split labels — the property that makes backfills reproducible and
    eval leakage impossible (random `df.sample` changes with
    partitioning; this never does). Pure codegen'd filters, no
    shuffle."""
    from mvtspark.operators.sample import stratified_sample, train_eval_split

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    s = stratified_sample(
        d, {"en": 0.5, "fr": 0.25, "de": 0.25}, default_frac=0.1
    )
    return train_eval_split(s, eval_frac=0.2).select("doc_id", "lang", "split")


def streaming_stateful_totals(spark: SparkSession, sf: str) -> DataFrame:
    """CUSTOM STATEFUL streaming operator (applyInPandasWithState —
    SURVEY §2.9/2.10's arbitrary-state surface), driver-visible and
    ORACLED: a per-tile running total accumulates in the state store
    across two micro-batches (ids 0..999 then 1000..1499, one file per
    trigger); the monotone counter's MAX per tile must equal the
    relational per-tile count of all 1500 splitmix64 geotags."""
    import tempfile
    import uuid as _uuid

    from mvtspark.sources.images import synth_points
    from mvtspark.streaming import file_points_stream, stream_running_tile_totals

    base = tempfile.mkdtemp(prefix="mvtspark_statq_")
    pts = synth_points(spark, 1500).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1_700_000_000))
    )
    pts.where(F.col("image_id") < "img000000001000").coalesce(1).write.mode(
        "append"
    ).parquet(base + "/in")
    pts.where(F.col("image_id") >= "img000000001000").coalesce(1).write.mode(
        "append"
    ).parquet(base + "/in")

    stream = file_points_stream(spark, base + "/in", max_files_per_trigger=1)
    totals = stream_running_tile_totals(stream, zoom=6)
    name = "statq_" + _uuid.uuid4().hex[:8]
    q = (
        totals.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("streaming query did not finish in 600s")
    return (
        spark.table(name)
        .groupBy("zoom", "x", "y")
        .agg(F.max("total").alias("total"))
    )


def dedup_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup GROUP assignment — candidate pairs (exact 3-gram Jaccard ≥
    0.5) collapsed into connected components by iterative min-label
    propagation (operators/dedup.py::connected_components; the Pregel
    loop shape: every iteration is a distributed neighbor-min join).
    ORACLED: DuckDB rebuilds the same pair graph and closes it with a
    recursive reachability CTE — labels, canonical keepers and group
    sizes must all hash-match. The step every near-dup pipeline needs
    after pair generation (A~B, B~C must collapse to ONE group)."""
    from mvtspark.operators.dedup import (
        connected_components,
        jaccard_prefix_candidates,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf, "documents")
    # exact prefix-filter candidates (lossless superset — see
    # ngram_jaccard), so the reachability oracle is unchanged
    cand = jaccard_prefix_candidates(d, n=3, threshold=0.5)
    pairs = ngram_jaccard_pairs(d, cand, n=3, threshold=0.5)
    return connected_components(pairs).select(
        "doc_id", "group_id", F.col("group_size").cast("long").alias("group_size")
    )


def dedup_groups_chain(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components on a PATHOLOGICAL diameter graph — 30
    chains of 60 nodes (event ids 0..1799, edge i→i+1 except across
    60-boundaries) — using the large-star/small-star algorithm
    (operators/dedup.py::_two_star_cc, Kiveris et al.): O(log n)
    rounds (7 measured) where min-label propagation would need 60
    (> its max_iter). ORACLED closed-form: each chain's component is
    its 60-block, group_id = the block minimum, size = 60. The round
    bound itself is pinned on a 1024-chain by
    tests/test_dedup_groups.py::test_two_star_logarithmic_rounds."""
    from mvtspark.operators.dedup import connected_components

    e = _t(spark, sf, "events").where(F.col("event_id") < 1800)
    edges = e.where((F.col("event_id") + 1) % 60 != 0).select(
        F.col("event_id").alias("doc_a"),
        (F.col("event_id") + 1).alias("doc_b"),
    )
    return connected_components(edges, algorithm="two-star").select(
        "doc_id", "group_id",
        F.col("group_size").cast("long").alias("group_size"),
    )


def pyramid_thinned_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Tile-pyramid build with per-level top-K feature thinning
    (operators/pyramid.py::thin_pyramid) — the production tiling rule
    that keeps low zooms bounded: each parent tile keeps its children's
    top-20 features by (weight DESC, id), coordinates integer-halved
    into the parent frame. Events → z6 tiles (mercator assignment),
    then levels 6→3; output aggregates per (zoom, x, y) so the px/py
    sums certify the coordinate transform and min/count certify the
    ranking. Weights and pixels are synthetic integers ((id*37)%1000,
    (id*131)%4096, (id*223)%4096) so BOTH engines rank and halve on
    exact ints — no float discipline needed anywhere. ORACLED with
    unrolled per-level ROW_NUMBER CTEs."""
    from mvtspark.operators.pyramid import thin_pyramid
    from mvtspark.operators.spatial import assign_tiles

    a = assign_tiles(_event_points(spark, sf), zoom=6)
    feats = a.select(
        F.col("zoom").cast("int").alias("zoom"),
        F.col("x").cast("int").alias("x"),
        F.col("y").cast("int").alias("y"),
        F.col("event_id").alias("feature_id"),
        (F.col("event_id") * 37 % 1000).alias("weight"),
        (F.col("event_id") * 131 % 4096).alias("px"),
        (F.col("event_id") * 223 % 4096).alias("py"),
    )
    pyr = thin_pyramid(feats, from_zoom=6, to_zoom=3, k=20)
    return pyr.groupBy("zoom", "x", "y").agg(
        F.count(F.lit(1)).alias("n_feats"),
        F.sum("weight").cast("long").alias("sum_weight"),
        F.min("feature_id").alias("min_fid"),
        F.sum("px").cast("long").alias("sum_px"),
        F.sum("py").cast("long").alias("sum_py"),
    )


def streaming_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    """NATIVE session windows under STREAMING semantics
    (`streaming/pipeline.py::stream_user_sessions`): a bounded two-file
    event stream (real events, then a far-future sentinel ping that
    advances the watermark past every real session end) runs the
    watermarked gap-merge sessionizer with APPEND output under
    Trigger.AvailableNow — each session emits exactly once, when the
    watermark passes its end. ORACLED against the same strictly->gap
    break rule as the batch twin (`session_window_agg`), so streaming
    state merging must reproduce the batch sessions bit-for-bit."""
    import datetime as _dt
    import os as _os
    import tempfile
    import uuid as _uuid

    from mvtspark.streaming import file_sessions_stream, stream_user_sessions

    import shutil as _shutil

    root = tempfile.mkdtemp(prefix="mvtspark_sessq_")
    base = root + "/in"
    try:
        e = _t(spark, sf, "events").where(F.col("event_id") < 600)
        e.select("user_id", F.col("ts").cast("timestamp").alias("ts")).coalesce(
            1
        ).write.mode("append").parquet(base)
        # the sentinel MUST be the later micro-batch: processed first, its
        # watermark would mark every real event late and drop them all.
        # Batch order is known A PRIORI from write order — capture the
        # first write's files before the second lands, then pin utimes by
        # that knowledge (sorting observed mtimes could tie on a coarse
        # mtime tick and order the sentinel first arbitrarily)
        first = {f for f in _os.listdir(base) if f.endswith(".parquet")}
        spark.createDataFrame(
            [(-1, _dt.datetime(2035, 1, 1))], "user_id long, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(base)
        second = [
            f
            for f in _os.listdir(base)
            if f.endswith(".parquet") and f not in first
        ]
        for f in first:
            _os.utime(_os.path.join(base, f), (1_700_000_000, 1_700_000_000))
        for f in second:
            _os.utime(_os.path.join(base, f), (1_700_000_100, 1_700_000_100))

        stream = file_sessions_stream(spark, base, max_files_per_trigger=1)
        sess = stream_user_sessions(stream, gap="30 minutes")
        name = "sessq_" + _uuid.uuid4().hex[:8]
        # state-store instances scale with shuffle partitions; at gate size
        # the per-store fixed cost dominates, so plan the stream narrow
        # (cluster deployments size this to executor cores as usual)
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = (
                sess.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("streaming query did not finish in 600s")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        # the memory sink holds the rows driver-side; the input dir is
        # no longer needed once the AvailableNow query has terminated
        return spark.table(name).where(F.col("user_id") != -1)
    finally:
        _shutil.rmtree(root, ignore_errors=True)


def streaming_tile_counts(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY §2.10 Structured Streaming, driver-visible and ORACLED:
    a bounded file stream (two appended micro-batch files, the second a
    pure duplicate of half the first) runs the real streaming pipeline —
    watermark + dropDuplicates exactly-once dedup, native tile
    assignment, tumbling event-time window, stateful agg — under
    Trigger.AvailableNow into a memory sink. The synthetic points are
    the same splitmix64 geotags as the flagship, so DuckDB recomputes
    the per-tile windowed counts relationally; the duplicate batch must
    change NOTHING (dedup correctness is part of the hash gate)."""
    import tempfile
    import uuid as _uuid

    from mvtspark.sources.images import synth_points
    from mvtspark.streaming import file_points_stream, stream_tile_counts

    base = tempfile.mkdtemp(prefix="mvtspark_streamq_")
    pts = synth_points(spark, 1000).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1_700_000_000))
    )
    pts.coalesce(1).write.mode("append").parquet(base + "/in")
    pts.limit(500).coalesce(1).write.mode("append").parquet(base + "/in")

    stream = file_points_stream(spark, base + "/in", max_files_per_trigger=1)
    counts = stream_tile_counts(stream, zoom=6)
    name = "strq_" + _uuid.uuid4().hex[:8]
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("streaming query did not finish in 600s")
    return spark.table(name).select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "zoom", "x", "y",
        F.col("image_count").cast("long").alias("image_count"),
    )


def invalid_tile_suite(spark: SparkSession, sf: str) -> DataFrame:
    """P5 validation suite driven END-TO-END over the full hand-authored
    invalid corpus (sources/invalid_corpus.py — raw wire bytes per
    validation class, NO encoder in the loop; the reference's
    TestInvalidMvtInBulk.cs:46-65 strategy). ORACLED against a constant
    truth table of (class, detected, feature_count, exact error string):
    every corruption class must be detected WITH its specific error,
    and the intact control must decode its one feature."""
    from mvtspark.sources.invalid_corpus import INVALID_CLASSES
    from mvtspark.sources.tiles import decode_tiles

    def _gen(batches):
        import pandas as pd

        for pdf in batches:
            ks = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "zoom": [0] * len(ks),
                    "x": [int(k) for k in ks],
                    "y": [0] * len(ks),
                    "mvt": [bytearray(INVALID_CLASSES[int(k)][1]) for k in ks],
                }
            )

    tiles = spark.range(len(INVALID_CLASSES)).mapInPandas(
        _gen, schema="zoom int, x int, y int, mvt binary"
    )
    dec = decode_tiles(tiles, validate=True)
    return dec.groupBy(F.col("x").alias("cls")).agg(
        F.max(F.col("decode_error").isNotNull().cast("int")).cast("boolean")
         .alias("error_detected"),
        F.sum(F.when(F.col("decode_error").isNull(), 1).otherwise(0))
         .cast("long").alias("n_features"),
        F.max("decode_error").alias("error"),
    )


def raster_passthrough(spark: SparkSession, sf: str) -> DataFrame:
    """Feature.Raster (tag 5) passthrough — the one proto field the
    reference DECLARES but never decodes (Constants.cs:59-66, enum
    description :122): 64 single-feature tiles carry a deterministic
    binary raster payload next to real point geometry; the engine
    decodes them via decode_tiles(raster=True) and emits the payload's
    length + md5 plus the coexisting geometry. ORACLED: DuckDB rebuilds
    the identical ASCII payload closed-form ('R' || zero-padded id ||
    'x'*(id%57)) and recomputes md5/length — any byte slip in the tag-5
    wire read or the nullable-binary surfacing fails the hash gate."""
    from mvtspark.sources.tiles import decode_tiles

    def _gen(batches):
        import numpy as np
        import pandas as pd

        from mvtspark.kernels import geom as gk
        from mvtspark.kernels import mvt as mk

        for pdf in batches:
            rows = []
            for k in pdf["id"].tolist():
                fid = int(k) + 1
                f = mk.Feature(
                    id=fid, geom_type=1,
                    geometry=gk.encode_commands(
                        np.array([fid * 31 % 4096]),
                        np.array([fid * 17 % 4096]),
                        np.array([0, 1]), 1,
                    ),
                    tags=np.array([0, 0], dtype=np.int64),
                    raster=(b"R%08d" % fid) + b"x" * (fid % 57),
                )
                layer = mk.Layer(
                    name="raster", version=2, keys=["k"],
                    values=[(mk.V_INT, 1)], features=[f],
                )
                rows.append(
                    dict(zoom=3, x=fid % 8, y=fid // 8 % 8,
                         mvt=bytearray(mk.encode_tile([layer])))
                )
            yield pd.DataFrame(rows, columns=["zoom", "x", "y", "mvt"])

    tiles = spark.range(64).mapInPandas(
        _gen, schema="zoom int, x int, y int, mvt binary"
    )
    dec = decode_tiles(tiles, raster=True)
    return dec.where(F.col("decode_error").isNull()).select(
        "feature_id",
        F.element_at("xs", 1).cast("long").alias("px"),
        F.element_at("ys", 1).cast("long").alias("py"),
        F.length("raster").cast("long").alias("raster_len"),
        F.md5("raster").alias("raster_md5"),
    )


# ---------------------------------------------------------- multimodal ops

def frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-stride sampling with a REAL codec (MRV container,
    kernels/video.py — length-indexed zlib keyframe+delta planes; the
    round-1/2 stub is gone). 64 synthetic 8x6 clips of 50..249 frames,
    key_int=4, sampled every 30th frame; the operator decodes actual
    pixels via index seeks. ORACLED end-to-end: DuckDB regenerates each
    sampled frame from the closed-form synthesis ((x*3+y*7+c*11+f*13+
    seed) mod 256) and recomputes BOTH the exact pixel sum and the
    md5-low-64 hash of the canonical csv serialization — so container
    parse, keyframe/delta reconstruction, and sampling cadence are all
    value-checked against decoded pixels (lossless: any codec bit-slip
    flips the hash).

    Parity scope vs reference: vector-tile-cs has no video surface;
    this is the training-pipeline multimodal extension (BASELINE.json
    input_hint: binary payload columns + vectorized UDFs, per-row
    invariant = decoded-pixel equality for lossless)."""
    from mvtspark.operators.multimodal import frame_sample_clips
    from mvtspark.sources.videos import synth_videos

    videos = synth_videos(spark, 64, w=8, h=6, key_int=4)
    return frame_sample_clips(videos, every_n=30)


def thumbnail_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Image nearest-neighbor resize (pure numpy, real not stubbed) over
    synthetic raw-RGB images; ORACLED on the metadata contract (every
    row resized to exactly 8x8 raw RGB = 192 bytes, no errors)."""
    from mvtspark.operators.multimodal import resize_images
    from mvtspark.sources.images import synth_images

    imgs = synth_images(spark, 64, with_bytes=True)
    r = resize_images(imgs, 8, 8)
    return r.select(
        "image_id", "w", "h", "fmt",
        F.length("bytes").alias("n_bytes"), "error",
    )


def audio_window_features(spark: SparkSession, sf: str) -> DataFrame:
    """Audio windowed RMS + zero-crossing-rate over raw int16 PCM (real
    numpy — raw PCM needs no codec), ORACLED (was rows-only in r1): the
    squared-sample sums are exact integers below 2^53, so the double
    reductions are order-independent and DuckDB recomputes RMS/ZCR
    bit-stably from the same trunc(sin)-synthesized PCM."""
    from mvtspark.operators.multimodal import audio_features

    d = _t(spark, sf, "documents").where(F.col("doc_id") < 32)

    def _gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                t = np.arange(4096, dtype=np.float64)
                freq = 0.01 + (int(did) % 17) * 0.005
                wave = np.sin(2 * np.pi * freq * t) * 12000.0
                pcm = wave.astype("<i2").tobytes()
                out.append(
                    dict(audio_id=f"aud{int(did)}", pcm=pcm, sample_rate=16000)
                )
            yield pd.DataFrame(out, columns=["audio_id", "pcm", "sample_rate"])

    audio = d.select("doc_id").mapInPandas(
        _gen, schema="audio_id string, pcm binary, sample_rate int"
    )
    out = audio_features(audio, window=1024)
    return out.select(
        "audio_id", "win_idx", F.round("rms", 4).alias("rms"),
        F.round("zcr", 6).alias("zcr"),
    )


def hex_cell_keys(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule H3-side hex index (functions/hexgrid.py), ORACLED: the
    full lat/lng → axial → cube-round → packed-id pipeline at two
    resolutions PLUS the centroid-hierarchy parent (res 8 → 7) is
    recomputed op-for-op in DuckDB SQL. Pure native columns — the cell
    key is codegen arithmetic inside the scan stage, no UDF (the shape
    that makes the join key free at 100 TB)."""
    from mvtspark.functions import hexgrid as hx

    # TWO projections, parent derived from the materialized h8 COLUMN:
    # nesting hex_parent(hex_cell(...)) inlines the whole mercator tree
    # ~6x, blowing the generated method past janino's 64 KB limit
    # (codegen falls back to interpreted — 17s vs 1.5s at sf0.01).
    # CollapseProject keeps the split because h8 is non-cheap and
    # multiply-referenced.
    pts = _event_points(spark, sf)
    step1 = pts.select(
        "event_id",
        hx.hex_cell(F.col("lng"), F.col("lat"), 8).alias("h8"),
        hx.hex_cell(F.col("lng"), F.col("lat"), 6).alias("h6"),
    )
    return step1.select(
        "event_id", "h8", "h6", hx.hex_parent(F.col("h8"), 7).alias("h7p")
    )


def hex_kring_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Hex cover-join: per-site event counts within hex distance 2 at
    res 5, ORACLED. Spark explodes the 19-cell k-ring on the SMALL side
    (25 sites × 19 cells, broadcast) and equi-joins the big side on its
    bare cell id — one broadcast hash join, no shuffle of the fact
    table, the H3-style kRing join shape. The oracle takes a DIFFERENT
    plan (distance-predicate θ-join on axial coords) and must land on
    identical rows."""
    from mvtspark.functions import hexgrid as hx

    pts = _event_points(spark, sf).select(
        "event_id", hx.hex_cell(F.col("lng"), F.col("lat"), 5).alias("cell")
    )
    sites = _t(spark, sf, "nation").select(
        F.col("n_nationkey").cast("long").alias("site_id"),
        (F.col("n_nationkey") * 14.0 - 170.0).alias("lng"),
        (F.col("n_nationkey") * 6.0 - 70.0).alias("lat"),
    )
    # materialize the site cell BEFORE the 19-way ring expansion — the
    # nested form duplicates the full lat/lng→cell tree into every ring
    # element and the Generate stage's method exceeds janino's 64 KB
    # limit (ERROR CodeGenerator + interpreted fallback)
    site_cells = sites.select(
        "site_id", hx.hex_cell(F.col("lng"), F.col("lat"), 5).alias("c0")
    )
    ring = site_cells.select(
        "site_id",
        F.explode(hx.hex_ring_cells(F.col("c0"), 2)).alias("cell"),
    )
    return (
        pts.join(F.broadcast(ring), "cell")
        .groupBy("site_id")
        .agg(F.count("*").alias("n_events"))
    )


def cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch heavy hitters (`operators/text.py::cms_sketch`/
    `cms_estimate`): a 4×4096 mergeable counter table summarizes the
    whole token stream in bounded memory (16k cells at ANY corpus
    size), then the exact top-20 tokens read back their min-of-depth
    estimates — cms_n >= exact_n always, equality when no collision.
    Hashing is the repo's polynomial fold times odd multipliers mod
    2^64, taking the HIGH 12 bits of the product (multiply-shift — the
    low bits would collide identically across depths), so the ORACLE
    rebuilds the identical sketch cell-for-cell in DuckDB (HUGEINT
    product // 2^52) and the gate checks exact counts AND estimates."""
    from mvtspark.operators.text import cms_estimate, cms_sketch

    d = _t(spark, sf, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    exact_top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
        .limit(20)
    )
    sketch = cms_sketch(toks, depth=4, width=4096)
    est = cms_estimate(exact_top.select("tok"), sketch, depth=4, width=4096)
    return exact_top.join(est, "tok").select(
        F.col("tok").alias("token"), "exact_n", "cms_n"
    )


def decontamination_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set decontamination (`operators/dedup.py::decontaminate`):
    every 25th document plays the benchmark; each remaining training
    doc reports how many of its distinct 3-gram shingles appear
    anywhere in the benchmark, plus the integer-math >=10% flag — the
    standard n-gram contamination rule for LLM corpora. Benchmark
    shingles form a broadcast dim bounded by the EVAL set; one probe
    join + one per-doc agg shuffle. ORACLED: DuckDB rebuilds both
    shingle sets with the shared _SHINGLES form and replays the left
    join + counts exactly."""
    from mvtspark.operators.dedup import decontaminate

    d = _t(spark, sf, "documents")
    return decontaminate(
        d.where(F.col("doc_id") % 25 != 0),
        d.where(F.col("doc_id") % 25 == 0),
        n=3,
    )


def zonal_fence_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Zonal statistics (`operators/raster.py::zonal_stats`): events
    reduce to a 0.5-degree world raster (count per cell), then each
    convex hexagon zone aggregates the cells whose CENTERS fall inside
    (sign-fold test on the centers — the standard zonal rule). The
    raster side is bounded by grid resolution regardless of event
    count; the zone test is a broadcast filter; ONE agg shuffle.
    ORACLED: DuckDB replays the quantization, the center PIP fold over
    the repr()'d edge literals, and the rollup bit-for-bit."""
    from mvtspark.operators.geofence import fence_catalog
    from mvtspark.operators.raster import zonal_stats

    pts = _event_points(spark, sf)
    cells = (
        pts.select(
            F.floor(F.col("lng") * 2).alias("cx"),
            F.floor(F.col("lat") * 2).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("val"))
        .select(
            ((F.col("cx") + 0.5) / 2.0).alias("cell_lng"),
            ((F.col("cy") + 0.5) / 2.0).alias("cell_lat"),
            "val",
        )
    )
    return zonal_stats(cells, fence_catalog(spark))


def rasterize_tile_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Raster side of raster↔vector (operators/raster.py), ORACLED: event
    points are rasterized into per-tile 64×64 uint32 density grids (a
    REAL binary raster artifact, one shuffle on the tile key), then the
    grids are unpacked back to nonzero pixels — so the hash gate
    round-trips vector→raster→pixel-rows against a relational recount.
    A flipped count or a transposed gy/gx in the binary fails it."""
    from mvtspark.operators.raster import grid_pixels, rasterize_points

    pts = _event_points(spark, sf)
    r = rasterize_points(pts, zoom=2, grid=64)
    return grid_pixels(r, grid=64)


def vectorize_grid_rects(spark: SparkSession, sf: str) -> DataFrame:
    """Vector side of raster↔vector, ORACLED: per-tile rasters are
    converted back to vector rectangles (maximal horizontal runs of
    pixels with count ≥ 2, whole-batch numpy diff/cumsum — no per-row
    Python) with tile-frame px bounds ready for the MVT encoder. The
    oracle rebuilds the runs with SQL gaps-and-islands over the
    recomputed pixel counts."""
    from mvtspark.operators.raster import rasterize_points, vectorize_rect_runs

    pts = _event_points(spark, sf)
    r = rasterize_points(pts, zoom=2, grid=64)
    return vectorize_rect_runs(r, threshold=2, grid=64)


def simplify_lines_dp(spark: SparkSession, sf: str) -> DataFrame:
    """D16 Douglas–Peucker simplification (kernels/simplify.py — the
    reference's SimplifyPolygon capability re-expressed Spark-first),
    ORACLED by a DuckDB RECURSIVE CTE that replays the DP recursion
    relationally: integer-exact split condition cross² > eps²·|AB|²,
    ties to the lowest index, so the engine's whole-batch worklist DP
    and the SQL recursion must keep bit-identical vertex sets."""
    from mvtspark.sources.tiles import simplify_features

    fid = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(fid % 10 == 0)
    feats = o.select(
        F.lit(0).alias("zoom"), F.lit(0).alias("x"), F.lit(0).alias("y"),
        F.lit("lines").alias("layer"), F.lit(4096).alias("extent"),
        fid.alias("feature_id"), F.lit(2).alias("geom_type"),
        F.array(F.lit(0), F.lit(17)).cast("array<int>").alias("part_offsets"),
        F.transform(
            F.sequence(F.lit(0), F.lit(16)),
            lambda i: (fid * 7919 + i * 997 + i * i * 13) % 4096,
        ).alias("xs"),
        F.transform(
            F.sequence(F.lit(0), F.lit(16)),
            lambda i: (fid * 104729 + i * 31 + i * i * 7) % 4096,
        ).alias("ys"),
        F.lit("{}").alias("props"),
        F.lit(None).cast("string").alias("decode_error"),
    )
    simp = simplify_features(feats, eps=500)
    return simp.select(
        "feature_id", F.posexplode(F.arrays_zip("xs", "ys"))
    ).select(
        "feature_id",
        F.col("pos").alias("seq"),
        F.col("col.xs").alias("px"),
        F.col("col.ys").alias("py"),
    )


def offset_convex_polygons(spark: SparkSession, sf: str) -> DataFrame:
    """D17 polygon offset (kernels/geom.py::offset_convex_rings —
    clipper's ClipperOffset capability in its SQL-replayable restricted
    domain: strictly-convex CCW rings, miter joins), ORACLED: every
    miter-intersection double must match a DuckDB lead/lag recomputation
    BIT-FOR-BIT (sqrt and division are correctly-rounded IEEE in both
    engines, and the op order is mirrored exactly)."""
    fid = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(fid % 10 == 3)
    base = [(2, 0), (5, 0), (7, 2), (7, 5), (5, 7), (2, 7), (0, 5), (0, 2)]
    s = F.lit(100) + (fid % 7) * 50
    tx = (fid * 37) % 2000
    ty = (fid * 53) % 2000
    feats = o.select(
        fid.alias("feature_id"),
        F.array(*[(F.lit(bx) * s + tx).cast("double") for bx, _ in base]).alias("xs"),
        F.array(*[(F.lit(by) * s + ty).cast("double") for _, by in base]).alias("ys"),
    )

    def _off(batches):
        import numpy as np
        import pandas as pd

        from mvtspark.kernels.geom import offset_convex_rings

        for pdf in batches:
            if not len(pdf):
                continue
            xs = np.concatenate([np.asarray(v, dtype=np.float64) for v in pdf["xs"]])
            ys = np.concatenate([np.asarray(v, dtype=np.float64) for v in pdf["ys"]])
            offs = np.arange(len(pdf) + 1, dtype=np.int64) * 8
            ox, oy = offset_convex_rings(xs, ys, offs, 25.0)
            yield pd.DataFrame(
                {
                    "feature_id": np.repeat(pdf["feature_id"].to_numpy(), 8),
                    "i": np.tile(np.arange(8, dtype=np.int32), len(pdf)),
                    "ox": ox,
                    "oy": oy,
                }
            )

    return feats.mapInPandas(
        _off, schema="feature_id long, i int, ox double, oy double"
    )


def repeated_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact repeated-substring detection (operators/spans.py) over the
    documents corpus: every 8-token window keyed by md5, spans recurring
    in >= 2 distinct docs reported with counts + the canonical first
    occurrence. Pure whole-stage codegen span generation (sequence →
    slice → concat_ws → md5 → explode), ONE aggregation shuffle with
    map-side partials — the published dedup-substrings recipe at its
    10^12-doc shape. ORACLED: DuckDB regenerates every window and its
    md5 from the same tokenization and replays the aggregation."""
    from mvtspark.operators.spans import repeated_spans as _rs

    return _rs(_t(spark, sf, "documents"), window=8, min_docs=2)


def span_dedup_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document duplication profile (operators/spans.py): share of a
    doc's 8-token windows that recur elsewhere in the corpus — the
    boilerplate score a cleaning pass thresholds on. The duplicated-span
    set is the SMALL broadcast side; the fact table shuffles once for
    its own per-doc count. ORACLED end-to-end in DuckDB."""
    from mvtspark.operators.spans import span_dedup_stats

    return span_dedup_stats(_t(spark, sf, "documents"), window=8, min_docs=2)


def incremental_tile_rebuild(spark: SparkSession, sf: str) -> DataFrame:
    """CDC × tiling (operators/incremental.py): a deterministic change
    batch over the event geotags (every 13th id deletes, every
    remaining 7th moves to a second closed-form position, every 17th
    inserts there), dirty (zoom, x, y) tiles at zoom 6 plus 2 ancestor
    levels, and the POST-change point count recomputed for exactly the
    dirty set (0 for emptied tiles) — changes-bounded work, never a
    full-pyramid rebuild. The delta path (fact table never scanned) is
    pinned equal to this recompute in tests/test_incremental.py.
    ORACLED: DuckDB replays change classification, mercator tiling,
    halving ancestors, and the left-join counts."""
    from mvtspark.operators.incremental import rebuild_dirty_counts
    from mvtspark.operators.spatial import assign_tiles

    e = F.col("event_id")
    old_pts = _event_points(spark, sf)
    new_pts = _t(spark, sf, "events").select(
        "event_id",
        (((e * 3) % 3600) / 10.0 - 179.947).alias("lng"),
        (((e * 11) % 1600) / 10.0 - 79.947).alias("lat"),
    )
    old_t = assign_tiles(old_pts, zoom=6).select("event_id", "x", "y")
    new_t = assign_tiles(new_pts, zoom=6).select(
        "event_id", F.col("x").alias("nx"), F.col("y").alias("ny")
    )
    is_del = e % 13 == 0
    is_move = (e % 13 != 0) & (e % 7 == 0)
    is_ins = e % 17 == 0
    j = old_t.join(new_t, "event_id")
    changes = (
        j.where(is_del).select(
            F.col("x").alias("old_x"), F.col("y").alias("old_y"),
            F.lit(None).cast("int").alias("new_x"),
            F.lit(None).cast("int").alias("new_y"),
        )
        .unionAll(j.where(is_move).select(
            F.col("x").alias("old_x"), F.col("y").alias("old_y"),
            F.col("nx").alias("new_x"), F.col("ny").alias("new_y"),
        ))
        .unionAll(j.where(is_ins).select(
            F.lit(None).cast("int").alias("old_x"),
            F.lit(None).cast("int").alias("old_y"),
            F.col("nx").alias("new_x"), F.col("ny").alias("new_y"),
        ))
    )
    pts_after = (
        j.where(~is_del & ~is_move).select("x", "y")
        .unionAll(j.where(is_move).select(
            F.col("nx").alias("x"), F.col("ny").alias("y")))
        .unionAll(j.where(is_ins).select(
            F.col("nx").alias("x"), F.col("ny").alias("y")))
    )
    return rebuild_dirty_counts(pts_after, changes, zoom=6, levels=3)


def adaptive_cover_events(spark: SparkSession, sf: str) -> DataFrame:
    """Adaptive quadtree cover (operators/adaptive.py) of the event
    geotags: zoom-3 cells split while they hold > 150 points, down to
    zoom 6 — dense cells go deep, sparse stay coarse, one rollup
    shuffle computes every level's counts. ORACLED: DuckDB rebuilds the
    per-level counts by halving and replays the node/leaf recursion as
    a fixed CTE chain."""
    from mvtspark.operators.adaptive import adaptive_cell_cover
    from mvtspark.operators.spatial import assign_tiles

    pts = assign_tiles(_event_points(spark, sf), zoom=6)
    return adaptive_cell_cover(
        pts, base_zoom=3, max_zoom=6, max_count=150
    )


def lossy_roundtrip_psnr(spark: SparkSession, sf: str) -> DataFrame:
    """LOSSY image codec round trip (kernels/image.py MRJ: YCbCr → 8x8
    orthonormal DCT → uniform quantization → zlib — built from scratch,
    the image twin of the MRV video codec) over the 64-image synthetic
    corpus: exact integer |error| sums, encoded sizes, and PSNR x100
    per image, ORACLED against FROZEN goldens minted once from this
    pipeline — any drift in the color transform, DCT, quantizer, or
    entropy stage flips the hash. Makes the input_hint's "PSNR >= 40 dB
    for lossy" bound REAL: the corpus worst case is 41.78 dB (the synth
    images are uniform noise — the codec's information-theoretic worst
    case; psnr_ok pins every row >= 40)."""
    from mvtspark.operators.multimodal import transcode_images_mrj
    from mvtspark.sources.images import synth_images

    t = transcode_images_mrj(synth_images(spark, 64), qstep=4)
    return t.where(F.col("error").isNull()).select(
        "image_id",
        F.col("n_px").cast("long").alias("n_px"),
        F.col("sum_abs_err").cast("long").alias("sum_abs_err"),
        F.col("enc_len").cast("long").alias("enc_len"),
        F.col("psnr_x100").cast("long").alias("psnr_x100"),
        (F.col("psnr_x100") >= 4000).alias("psnr_ok"),
    )


def lossy_420_psnr(spark: SparkSession, sf: str) -> DataFrame:
    """LOSSY codec, 4:2:0 chroma-subsampled mode (kernels/image.py
    ``encode_mrj420`` — full-res Y, 2x2 box-averaged Cb/Cr, magic
    MRJ2): round trip over the 64-image SMOOTH synthetic corpus, where
    chroma subsampling earns REAL compression (median ~19x vs raw,
    ~1.6x smaller than 4:4:4 — floor pinned in ratio_ok) while holding
    the input_hint's PSNR >= 40 dB bound (corpus worst case 43.49 dB).
    On uniform noise this mode fails the bound by construction — the
    noise corpus stays on 4:4:4 (lossy_roundtrip_psnr); picking the
    mode by content is the documented contract. ORACLED against FROZEN
    goldens minted from this pipeline — the 4:4:4 goldens are
    untouched (its bytes are pinned separately)."""
    from mvtspark.operators.multimodal import transcode_images_mrj
    from mvtspark.sources.images import synth_smooth_images

    t = transcode_images_mrj(
        synth_smooth_images(spark, 64), qstep=4, subsample=True
    )
    return t.where(F.col("error").isNull()).select(
        "image_id",
        F.col("n_px").cast("long").alias("n_px"),
        F.col("sum_abs_err").cast("long").alias("sum_abs_err"),
        F.col("enc_len").cast("long").alias("enc_len"),
        F.col("psnr_x100").cast("long").alias("psnr_x100"),
        (F.col("psnr_x100") >= 4000).alias("psnr_ok"),
        (F.col("enc_len") * 8 <= F.col("n_px") * 3).alias("ratio_ok"),
    )


def jpeg_roundtrip_psnr(spark: SparkSession, sf: str) -> DataFrame:
    """Baseline JFIF codec (kernels/jpeg.py — from-scratch T.81:
    Annex K quant/Huffman tables written to and READ FROM the stream,
    4:2:0 MCU interleave, DRI restart markers, byte unstuffing) — the
    un-stubbing of the last NotImplementedError branch
    (decode_image(fmt='jpeg')). Round trip over the 64-image smooth
    corpus at quality 85, 4:2:0, restart interval 4 (so the RST path
    runs in-pipeline): PSNR >= 40 dB per row (worst case 41.69 dB) and
    real compression. ORACLED against FROZEN goldens minted from this
    pipeline — any drift in tables, entropy coding, sampling, or the
    IDCT flips the hash."""
    from mvtspark.operators.multimodal import transcode_images_jpeg
    from mvtspark.sources.images import synth_smooth_images

    t = transcode_images_jpeg(
        synth_smooth_images(spark, 64),
        quality=85, subsampling="420", restart_interval=4,
    )
    return t.where(F.col("error").isNull()).select(
        "image_id",
        F.col("n_px").cast("long").alias("n_px"),
        F.col("sum_abs_err").cast("long").alias("sum_abs_err"),
        F.col("enc_len").cast("long").alias("enc_len"),
        F.col("psnr_x100").cast("long").alias("psnr_x100"),
        (F.col("psnr_x100") >= 4000).alias("psnr_ok"),
    )


def snap_nearest_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Map-matching core (operators/snap.py): every event point snaps
    to its nearest polyline segment within a 64 px radius — segment
    bboxes inflate by the radius and explode to grid cells so a point
    probes only its OWN cell (exact by construction, never a cross
    join); the argmin packs (scaled d², seg_id) into one BIGINT so both
    engines pick identical winners. 200 closed-form segments (seg 0
    degenerate) over closed-form pixel points. ORACLED: DuckDB brute
    forces the full point × segment distance matrix with the same
    clamp/round/pack discipline."""
    from mvtspark.operators.snap import snap_to_segments

    e = F.col("event_id")
    pts = _t(spark, sf, "events").select(
        e.alias("point_id"),
        ((e * 48271) % 4096).cast("double").alias("px"),
        ((e * 69621) % 4096).cast("double").alias("py"),
    )
    i = F.col("id")
    segs = spark.range(200).select(
        i.cast("int").alias("seg_id"),
        ((i * 7919) % 4096).cast("double").alias("ax"),
        ((i * 104729) % 4096).cast("double").alias("ay"),
        (
            (i * 7919) % 4096
            + F.when(i == 0, F.lit(0)).otherwise((i * 131) % 512 - 256)
        ).cast("double").alias("bx"),
        (
            (i * 104729) % 4096
            + F.when(i == 0, F.lit(0)).otherwise((i * 211) % 512 - 256)
        ).cast("double").alias("by"),
    )
    return snap_to_segments(pts, segs, radius=64.0)


def snap_topk_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Map-matching CANDIDATE generator (operators/snap.py
    ``snap_topk_segments``): the 4 nearest segments within 64 px per
    event point — the HMM emission set, not just the argmin. Same
    broadcast cell-cover join as snap_nearest_segment; the per-point
    bottom-k runs as a rank window with WindowGroupLimit pushdown
    (partial top-k before the one point-keyed shuffle — plan-pinned in
    tests). Ties break by seg_id, the same (distance, id) total order
    the argmin packs, so rank 1 IS the argmin winner. ORACLED: DuckDB
    brute-forces the full distance matrix and replays the identical
    row_number ordering."""
    from mvtspark.operators.snap import snap_topk_segments as _topk

    e = F.col("event_id")
    pts = _t(spark, sf, "events").select(
        e.alias("point_id"),
        ((e * 48271) % 4096).cast("double").alias("px"),
        ((e * 69621) % 4096).cast("double").alias("py"),
    )
    i = F.col("id")
    segs = spark.range(200).select(
        i.cast("int").alias("seg_id"),
        ((i * 7919) % 4096).cast("double").alias("ax"),
        ((i * 104729) % 4096).cast("double").alias("ay"),
        (
            (i * 7919) % 4096
            + F.when(i == 0, F.lit(0)).otherwise((i * 131) % 512 - 256)
        ).cast("double").alias("bx"),
        (
            (i * 104729) % 4096
            + F.when(i == 0, F.lit(0)).otherwise((i * 211) % 512 - 256)
        ).cast("double").alias("by"),
    )
    return _topk(pts, segs, radius=64.0, k=4)


def doc_search_postings(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index BUILD (operators/search.py): (term, doc_id, tf)
    postings over the documents corpus — one explode + one aggregation
    with map-side partials; bucketBy(term) at write time in production
    so query probes prune buckets. ORACLED: DuckDB replays tokenize →
    unnest → group."""
    from mvtspark.operators.search import build_postings

    return build_postings(_t(spark, sf, "documents"))


def doc_search_and(spark: SparkSession, sf: str) -> DataFrame:
    """Conjunctive keyword query over the inverted index: documents
    containing ALL of {hash, join, scan} with match counts and total
    term frequency — answered from POSTINGS ALONE (the plan test pins
    that document text is never re-tokenized at query time; the term
    filter is pushed into the scan). ORACLED end-to-end."""
    from mvtspark.operators.search import build_postings, search_all_terms

    return search_all_terms(
        build_postings(_t(spark, sf, "documents")),
        ["hash", "join", "scan"],
    )


_OCT_BASE = [(2, 0), (6, 0), (8, 2), (8, 6), (6, 8), (2, 8), (0, 6), (0, 2)]


def poly_union_area(spark: SparkSession, sf: str) -> DataFrame:
    """Convex polygon boolean measures (operators/boolean.py
    ``convex_pair_union`` on the exact slab sweep,
    kernels/polysweep.py) — the clipper ClipType surface
    (src/Geometry/clipper.cs:476, :1561-1631) on the convex-pair
    domain: ctIntersection and ctUnion areas (a convex window beyond
    J3's rectangle-only clip, Util.cs:104-122), plus union ring count
    and proper boundary crossings.

    Corpus: integer rect subjects × even-coordinate octagon clip
    windows whose edges are axis-aligned or 45° — on that grid every
    intersection point is INTEGRAL, so the doubled areas are exact
    integers in both engines (no float discipline in the compare).
    ORACLED by an INDEPENDENT algorithm: DuckDB builds
    the intersection polygon as {A-verts in B} ∪ {B-verts in A} ∪
    {edge crossings}, orders by angle around the centroid, and
    shoelaces — agreement checks the geometry, not the instruction
    order."""
    from mvtspark.operators.boolean import convex_pair_union

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 13 == 1)
    x0, y0 = (k * 17) % 240, (k * 29) % 240
    x1 = x0 + 2 + (k % 40) * 2
    y1 = y0 + 2 + ((k * 7) % 40) * 2
    s = 2 + 2 * (k % 5)
    tx, ty = 2 * ((k * 3) % 120), 2 * ((k * 11) % 120)
    d = lambda c: c.cast("double")  # noqa: E731
    pairs = o.select(
        k.alias("pair_id"),
        F.array(d(x0), d(x1), d(x1), d(x0)).alias("ax"),
        F.array(d(y0), d(y0), d(y1), d(y1)).alias("ay"),
        F.array(*[d(F.lit(ox) * s + tx) for ox, _ in _OCT_BASE]).alias("bx"),
        F.array(*[d(F.lit(oy) * s + ty) for _, oy in _OCT_BASE]).alias("by"),
    )
    out = convex_pair_union(pairs)
    return out.select(
        "pair_id",
        F.round("inter_area2").cast("long").alias("inter_area2"),
        F.round("union_area2").cast("long").alias("union_area2"),
        F.col("n_rings").cast("int").alias("n_rings"),
        F.col("n_cross").cast("int").alias("n_cross"),
    )


def minkowski_sum_area(spark: SparkSession, sf: str) -> DataFrame:
    """Convex Minkowski sum (kernels/polysweep.py
    ``convex_minkowski_measures`` — clipper MinkowskiSum,
    clipper.cs:4596-4687, dead code in the reference, scoped to the
    convex domain where the sum is the hull of the pairwise vertex
    sums): doubled area and fused vertex count of A ⊕ B per pair.
    Corpus: integer
    triangles ⊕ translated octagons (varying which edge directions
    coincide, so the parallel-fusion count varies). ORACLED by an
    INDEPENDENT identity, not a merge replay: DuckDB computes
    2·area(A⊕B) = 2aA + 2aB + Σ_{(i,j)} cross(earlier, later) over all
    A×B edge pairs ordered by polar angle in [0, 2π), and n_verts =
    |A| + |B| − #(parallel same-direction pairs) — all integer-exact
    (sum vertices are integer sums)."""
    from mvtspark.operators.boolean import minkowski_sum_stats

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 23 == 7)
    p = 4 + k % 17
    q = (k * 5) % 23
    r = 3 + (k * 7) % 13
    s = 1 + k % 5
    tx, ty = (k * 3) % 100, (k * 11) % 100
    d = lambda c: c.cast("double")  # noqa: E731
    z = F.lit(0)
    pairs = o.select(
        k.alias("pair_id"),
        F.array(d(z), d(p), d(q)).alias("ax"),
        F.array(d(z), d(z), d(r)).alias("ay"),
        F.array(*[d(F.lit(ox) * s + tx) for ox, _ in _OCT_BASE]).alias("bx"),
        F.array(*[d(F.lit(oy) * s + ty) for _, oy in _OCT_BASE]).alias("by"),
    )
    return minkowski_sum_stats(pairs).select(
        "pair_id",
        F.col("sum_area2").cast("long").alias("sum_area2"),
        F.col("n_verts").cast("int").alias("n_verts"),
    )


def rect_union_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Rectilinear boolean-measure suite (operators/boolean.py
    ``rect_union_stats``): exact union / pairwise-overlap / xor areas
    of each group's axis-aligned integer rects from ONE coverage-count
    slab sweep over the rects as rings — union = cnt >= 1,
    intersection-of-any-two = cnt >= 2, symmetric difference =
    cnt == 1 (clipper ctUnion/ctXor measures on the rectilinear
    domain, the merged-geofence shape). ORACLED by an independent
    algorithm: DuckDB builds the coordinate-compressed cells with
    lead() windows and counts covering rects per cell — everything
    integer-exact."""
    from mvtspark.operators.boolean import rect_union_stats

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 97 == 5)
    rects = o.select(
        (k % 12).cast("long").alias("group_id"),
        ((k * 7) % 20).cast("int").alias("x0"),
        ((k * 13) % 20).cast("int").alias("y0"),
        ((k * 7) % 20 + 1 + (k % 9)).cast("int").alias("x1"),
        ((k * 13) % 20 + 1 + ((k * 3) % 9)).cast("int").alias("y1"),
    )
    return rect_union_stats(rects).select(
        "group_id",
        F.col("n_rects").cast("long").alias("n_rects"),
        F.col("union_area").cast("long").alias("union_area"),
        F.col("overlap_area").cast("long").alias("overlap_area"),
        F.col("xor_area").cast("long").alias("xor_area"),
    )


def offset_rectilinear_square(spark: SparkSession, sf: str) -> DataFrame:
    """NON-CONVEX polygon offset with square joins (operators/
    boolean.py ``square_offset_any``, r = 2) — clipper's jtSquare +
    etClosedPolygon (clipper.cs:4744-5120) on concave rectilinear
    L-shapes, lifting D17's strictly-convex-only restriction. The
    Minkowski sum with [-r, r]^2 is polygon ∪ dilated edges, measured
    exactly by the N-piece slab sweep; the doubled areas are halved.
    ORACLED by an independent algorithm: DuckDB builds the
    coordinate-compressed cells, replays the vertical-edge crossing
    parity and the near-edge EXISTS per cell, and sums the integer
    cell areas."""
    from mvtspark.operators.boolean import square_offset_any

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 53 == 2)
    a = 6 + 2 * (k % 8)
    b = 2 + (k * 3) % 4
    dd = 6 + 2 * ((k * 5) % 8)
    c = 2 + (k * 7) % 4
    z = F.lit(0)
    rings = o.select(
        k.alias("ring_id"),
        F.array(
            z.cast("int"), a.cast("int"), a.cast("int"),
            b.cast("int"), b.cast("int"), z.cast("int"),
        ).alias("xs"),
        F.array(
            z.cast("int"), z.cast("int"), c.cast("int"),
            c.cast("int"), dd.cast("int"), dd.cast("int"),
        ).alias("ys"),
        F.lit(2).alias("radius"),
    )
    return square_offset_any(rings).select(
        "ring_id",
        F.expr("base_area2 div 2").alias("base_area"),
        F.expr("offset_area2 div 2").alias("offset_area"),
    )


def poly_boolean_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """GENERAL simple-polygon boolean suite (operators/boolean.py
    ``general_pair_boolean`` + kernels/polysweep.py) — the full clipper
    ClipType surface (src/Geometry/clipper.cs:476 ctIntersection /
    ctUnion / ctDifference / ctXor, :1561-1631 ``Execute``) with NO
    convexity or rectilinearity scoping: exact slab-decomposition sweep
    (event y's at vertices + A×B edge crossings; midline interval
    algebra per slab) in Fraction arithmetic, each of the four measures
    read directly off its coverage predicate — not inclusion-exclusion.

    Corpus: NON-CONVEX notched rectangles × 45°-edged octagons, all
    vertices even — on that grid every A×B crossing lands on an EVEN
    integer, so every event y is even, every slab midline is an exact
    integer, and the DuckDB oracle replays the whole sweep (crossings →
    slabs → midline x-crossings → parity sweep → measures) in pure
    BIGINT arithmetic. ORACLED measure-for-measure."""
    from mvtspark.operators.boolean import general_pair_boolean

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 41 == 3)
    x0 = 2 * ((k * 17) % 50)
    y0 = 2 * ((k * 29) % 50)
    x1 = x0 + 2 * (12 + k % 10)
    y1 = y0 + 2 * (8 + (k * 7) % 12)
    nx0 = x0 + 2 * (1 + (k * 3) % 5)
    nx1 = nx0 + 2 * (2 + (k * 5) % 5)
    ny = y1 - 2 * (2 + (k * 11) % 5)
    s = 1 + k % 4
    tx = 2 * ((k * 3) % 60)
    ty = 2 * ((k * 13) % 60)
    g = lambda c: c.cast("long")  # noqa: E731
    pairs = o.select(
        k.alias("pair_id"),
        F.array(g(x0), g(x1), g(x1), g(nx1),
                g(nx1), g(nx0), g(nx0), g(x0)).alias("ax"),
        F.array(g(y0), g(y0), g(y1), g(y1),
                g(ny), g(ny), g(y1), g(y1)).alias("ay"),
        F.array(*[g(F.lit(ox) * s + tx) for ox, _ in _OCT_BASE]).alias("bx"),
        F.array(*[g(F.lit(oy) * s + ty) for _, oy in _OCT_BASE]).alias("by"),
    )
    return general_pair_boolean(pairs)


def offset_sweep_square(spark: SparkSession, sf: str) -> DataFrame:
    """Square-join offset of ARBITRARY simple polygons (operators/
    boolean.py ``square_offset_any`` + kernels/polysweep.py
    ``square_offset_measures``) — clipper jtSquare + etClosedPolygon
    (clipper.cs:4744-5120) with NO scoping left: the offset region is
    base ∪ (every edge ⊕ [-r, r]^2 — the convex hull of the endpoint
    square corners, which absorbs vertex squares), measured exactly by
    the N-piece union slab sweep.

    Corpus: NON-CONVEX notched rectangles with one 45°-BEVELED corner
    (so both axis and diagonal edges are exercised), all coordinates
    and radii multiples of 4 — then every cross-piece crossing
    (including 45°×45°) lands on an EVEN integer, every slab midline
    is an exact integer, and the DuckDB oracle replays the whole
    N-piece sweep in pure BIGINT. ORACLED both measures."""
    from mvtspark.operators.boolean import square_offset_any

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 37 == 4)
    x0 = 4 * ((k * 17) % 50)
    y0 = 4 * ((k * 29) % 50)
    x1 = x0 + 4 * (16 + k % 8)
    y1 = y0 + 4 * (8 + (k * 7) % 12)
    c = 4 * (1 + (k * 3) % 3)
    nx0 = x0 + 4 * (1 + (k * 3) % 5)
    nx1 = nx0 + 4 * (2 + (k * 5) % 5)
    ny = y1 - 4 * (2 + (k * 11) % 5)
    r = 4 * (1 + k % 2)
    g = lambda col: col.cast("long")  # noqa: E731
    rings = o.select(
        k.alias("ring_id"),
        F.array(g(x0), g(x1), g(x1), g(x1 - c), g(nx1),
                g(nx1), g(nx0), g(nx0), g(x0)).alias("xs"),
        F.array(g(y0), g(y0), g(y1 - c), g(y1), g(y1),
                g(ny), g(ny), g(y1), g(y1)).alias("ys"),
        g(r).alias("radius"),
    )
    return square_offset_any(rings)


def minkowski_nonconvex_sum(spark: SparkSession, sf: str) -> DataFrame:
    """Minkowski sum of a NON-CONVEX simple polygon with a convex one
    (operators/boolean.py ``minkowski_any_convex`` + kernels/
    polysweep.py) — clipper MinkowskiSum (clipper.cs:4596-4687) past
    the convex⊗convex edge merge: with B anchored at a vertex,
    A ⊕ B = A ∪ ⋃_edges hull((p1 ⊕ B) ∪ (p2 ⊕ B)), measured exactly
    by the N-piece union slab sweep.

    Corpus: beveled notched rectangles (non-convex, axis + 45° edges)
    ⊕ octagons, everything on the ×4 grid so every cross-piece
    crossing is even and the DuckDB oracle replays the sweep in pure
    BIGINT. The oracle builds each edge's dilation hull CLOSED-FORM:
    B ⊕ [0,t] for octilinear t fuses to exactly 8 vertices, where
    vertex oi advances by t iff (oi − cls − 1) mod 8 < 4 with cls the
    direction class of t — no hull computation in SQL. ORACLED both
    measures."""
    from mvtspark.operators.boolean import minkowski_any_convex

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 43 == 6)
    x0 = 4 * ((k * 17) % 50)
    y0 = 4 * ((k * 29) % 50)
    x1 = x0 + 4 * (16 + k % 8)
    y1 = y0 + 4 * (8 + (k * 7) % 12)
    c = 4 * (1 + (k * 3) % 3)
    nx0 = x0 + 4 * (1 + (k * 3) % 5)
    nx1 = nx0 + 4 * (2 + (k * 5) % 5)
    ny = y1 - 4 * (2 + (k * 11) % 5)
    s = 4 * (1 + (k * 7) % 2)
    g = lambda col: col.cast("long")  # noqa: E731
    pairs = o.select(
        k.alias("pair_id"),
        F.array(g(x0), g(x1), g(x1), g(x1 - c), g(nx1),
                g(nx1), g(nx0), g(nx0), g(x0)).alias("ax"),
        F.array(g(y0), g(y0), g(y1 - c), g(y1), g(y1),
                g(ny), g(ny), g(y1), g(y1)).alias("ay"),
        F.array(*[g(F.lit(ox) * s) for ox, _ in _OCT_BASE]).alias("bx"),
        F.array(*[g(F.lit(oy) * s) for _, oy in _OCT_BASE]).alias("by"),
    )
    return minkowski_any_convex(pairs)


def fence_union_area(spark: SparkSession, sf: str) -> DataFrame:
    """Merged-geofence union (operators/boolean.py
    ``rings_union_stats`` + kernels/polysweep.py ``rings_union_area2``)
    — clipper ctUnion over N ARBITRARY simple rings per group, the
    query a tile-engine user merging fence polygons runs first: exact
    union area of each group's mixed ring set (non-convex notched
    rects + 45°-edged octagons) via the N-piece slab sweep inside ONE
    applyInPandas aggregation (the groupBy is the only shuffle).

    Scale shape: group COUNT scales with the fact table while group
    SIZE stays geometry-bounded (~10 fences per group at every SF) —
    per-group work never grows with data volume. Corpus on the ×4
    grid, so the DuckDB oracle replays the whole multi-ring sweep in
    BIGINT. ORACLED per group."""
    from mvtspark.operators.boolean import rings_union_stats

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 31 == 9)
    x0 = 4 * ((k * 17) % 50)
    y0 = 4 * ((k * 29) % 50)
    x1 = x0 + 4 * (16 + k % 8)
    y1 = y0 + 4 * (8 + (k * 7) % 12)
    c = 4 * (1 + (k * 3) % 3)
    nx0 = x0 + 4 * (1 + (k * 3) % 5)
    nx1 = nx0 + 4 * (2 + (k * 5) % 5)
    ny = y1 - 4 * (2 + (k * 11) % 5)
    s = 4 * (1 + (k * 5) % 2)
    tx = 4 * ((k * 3) % 60)
    ty = 4 * ((k * 13) % 60)
    p = (k * 7) % 2
    g = lambda col: col.cast("long")  # noqa: E731
    oxs = [o_[0] for o_ in _OCT_BASE] + [_OCT_BASE[-1][0]]
    oys = [o_[1] for o_ in _OCT_BASE] + [_OCT_BASE[-1][1]]
    rxs = [x0, x1, x1, x1 - c, nx1, nx1, nx0, nx0, x0]
    rys = [y0, y0, y1 - c, y1, y1, ny, ny, y1, y1]
    rings = o.select(
        # integer `div`, not double division (exact at any key scale)
        F.expr("o_orderkey div 1240").cast("long").alias("group_id"),
        F.array(*[
            g(F.when(p == 0, rxs[i]).otherwise(F.lit(oxs[i]) * s + tx))
            for i in range(9)
        ]).alias("xs"),
        F.array(*[
            g(F.when(p == 0, rys[i]).otherwise(F.lit(oys[i]) * s + ty))
            for i in range(9)
        ]).alias("ys"),
    )
    return rings_union_stats(rings)


def polyline_buffer(spark: SparkSession, sf: str) -> DataFrame:
    """Open-path square buffer (operators/boolean.py
    ``polyline_buffer_square`` + kernels/polysweep.py
    ``open_buffer_square_measures``) — clipper etOpenSquare
    (clipper.cs:4744-5120), the road-buffer shape: exact L1 length and
    buffer area of staircase paths with a 45° middle segment. Pieces
    are per-segment dilation hulls (endpoint caps absorbed); ×4 grid
    keeps the DuckDB N-piece sweep replay in BIGINT. ORACLED both
    columns."""
    from mvtspark.operators.boolean import polyline_buffer_square

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 29 == 3)
    x0 = 4 * ((k * 17) % 50)
    y0 = 4 * ((k * 29) % 50)
    a = 4 * (2 + (k * 3) % 6)
    b = 4 * (2 + (k * 5) % 6)
    cc = 4 * (2 + (k * 7) % 6)
    r = 4 * (1 + k % 2)
    g = lambda col: col.cast("long")  # noqa: E731
    lines = o.select(
        k.alias("line_id"),
        F.array(g(x0), g(x0 + a), g(x0 + a + b), g(x0 + a + b)).alias("xs"),
        F.array(g(y0), g(y0), g(y0 + b), g(y0 + b + cc)).alias("ys"),
        g(r).alias("radius"),
    )
    return polyline_buffer_square(lines)


def poly_union_trapezoids(spark: SparkSession, sf: str) -> DataFrame:
    """RESULT GEOMETRY for the general pair union (operators/
    boolean.py ``union_trapezoid_rows``): the exact trapezoidal
    decomposition of A ∪ B — what a downstream rasterizer/clipper
    consumes — on the same non-convex notched-rect × octagon corpus
    as `poly_boolean_sweep`. Every corner coordinate is an exact
    BIGINT (octilinear edges, integer events). ORACLED row-for-row:
    DuckDB replays the sweep and pairs coverage 0→≥1 / ≥1→0
    transitions into the same trapezoids."""
    from mvtspark.operators.boolean import union_trapezoid_rows

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 41 == 3)
    x0 = 2 * ((k * 17) % 50)
    y0 = 2 * ((k * 29) % 50)
    x1 = x0 + 2 * (12 + k % 10)
    y1 = y0 + 2 * (8 + (k * 7) % 12)
    nx0 = x0 + 2 * (1 + (k * 3) % 5)
    nx1 = nx0 + 2 * (2 + (k * 5) % 5)
    ny = y1 - 2 * (2 + (k * 11) % 5)
    s = 1 + k % 4
    tx = 2 * ((k * 3) % 60)
    ty = 2 * ((k * 13) % 60)
    g = lambda c: c.cast("long")  # noqa: E731
    pairs = o.select(
        k.alias("pair_id"),
        F.array(g(x0), g(x1), g(x1), g(nx1),
                g(nx1), g(nx0), g(nx0), g(x0)).alias("ax"),
        F.array(g(y0), g(y0), g(y1), g(y1),
                g(ny), g(ny), g(y1), g(y1)).alias("ay"),
        F.array(*[g(F.lit(ox) * s + tx) for ox, _ in _OCT_BASE]).alias("bx"),
        F.array(*[g(F.lit(oy) * s + ty) for _, oy in _OCT_BASE]).alias("by"),
    )
    return union_trapezoid_rows(pairs)


def poly_inter_trapezoids(spark: SparkSession, sf: str) -> DataFrame:
    """RESULT GEOMETRY for the general pair INTERSECTION (operators/
    boolean.py ``union_trapezoid_rows`` with op="inter") — the actual
    clip output for non-convex pairs, the op a tile engine runs most:
    exact trapezoidal decomposition of A ∩ B on the notched-rect ×
    octagon corpus. ORACLED row-for-row: DuckDB tracks per-polygon
    coverage and pairs transitions of the conjunction."""
    from mvtspark.operators.boolean import union_trapezoid_rows

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 41 == 3)
    x0 = 2 * ((k * 17) % 50)
    y0 = 2 * ((k * 29) % 50)
    x1 = x0 + 2 * (12 + k % 10)
    y1 = y0 + 2 * (8 + (k * 7) % 12)
    nx0 = x0 + 2 * (1 + (k * 3) % 5)
    nx1 = nx0 + 2 * (2 + (k * 5) % 5)
    ny = y1 - 2 * (2 + (k * 11) % 5)
    s = 1 + k % 4
    tx = 2 * ((k * 3) % 60)
    ty = 2 * ((k * 13) % 60)
    g = lambda c: c.cast("long")  # noqa: E731
    pairs = o.select(
        k.alias("pair_id"),
        F.array(g(x0), g(x1), g(x1), g(nx1),
                g(nx1), g(nx0), g(nx0), g(x0)).alias("ax"),
        F.array(g(y0), g(y0), g(y1), g(y1),
                g(ny), g(ny), g(y1), g(y1)).alias("ay"),
        F.array(*[g(F.lit(ox) * s + tx) for ox, _ in _OCT_BASE]).alias("bx"),
        F.array(*[g(F.lit(oy) * s + ty) for _, oy in _OCT_BASE]).alias("by"),
    )
    return union_trapezoid_rows(pairs, op="inter")


def poly_xor_components(spark: SparkSession, sf: str) -> DataFrame:
    """REGION TOPOLOGY of the symmetric difference (operators/
    boolean.py ``region_component_stats``): how many connected lobes
    A △ B shatters into (interior connectivity over the trapezoid
    decomposition — corner touches do not connect), plus the xor
    area. This is the part of Vatti's Execute output (number of
    result polygons) that area measures cannot see. Same notched-rect
    × octagon corpus. ORACLED: DuckDB rebuilds the xor trapezoids,
    connects them with a recursive min-label CTE (the
    grid_density_clusters pattern), and counts components."""
    from mvtspark.operators.boolean import region_component_stats

    k = F.col("o_orderkey")
    o = _t(spark, sf, "orders").where(k % 41 == 3)
    x0 = 2 * ((k * 17) % 50)
    y0 = 2 * ((k * 29) % 50)
    x1 = x0 + 2 * (12 + k % 10)
    y1 = y0 + 2 * (8 + (k * 7) % 12)
    nx0 = x0 + 2 * (1 + (k * 3) % 5)
    nx1 = nx0 + 2 * (2 + (k * 5) % 5)
    ny = y1 - 2 * (2 + (k * 11) % 5)
    s = 1 + k % 4
    tx = 2 * ((k * 3) % 60)
    ty = 2 * ((k * 13) % 60)
    g = lambda c: c.cast("long")  # noqa: E731
    pairs = o.select(
        k.alias("pair_id"),
        F.array(g(x0), g(x1), g(x1), g(nx1),
                g(nx1), g(nx0), g(nx0), g(x0)).alias("ax"),
        F.array(g(y0), g(y0), g(y1), g(y1),
                g(ny), g(ny), g(y1), g(y1)).alias("ay"),
        F.array(*[g(F.lit(ox) * s + tx) for ox, _ in _OCT_BASE]).alias("bx"),
        F.array(*[g(F.lit(oy) * s + ty) for _, oy in _OCT_BASE]).alias("by"),
    )
    return region_component_stats(pairs, op="xor")


# ---------------------------------------------------------------- registry

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is intentional: driver correctness sampling is
    # time-budgeted and walks dict order. Round 5 fronts (a) the six
    # NEW slab-sweep queries (general booleans, arbitrary offset,
    # non-convex Minkowski, grouped fence union, open-path buffer,
    # trapezoid result geometry) plus the queries whose code changed
    # this round (snap cover slack, adaptive integer-div unpack,
    # raster overrun guard, JFIF/4:2:0, snap top-k), then (b) the 52
    # queries last driver-sampled in rounds 1-3 (none in
    # CORRECTNESS_r04.json) so their hard signal is renewed on HEAD,
    # then (c) the queries r4 already confirmed.
    return {
        "poly_boolean_sweep": poly_boolean_sweep,
        "offset_sweep_square": offset_sweep_square,
        "minkowski_nonconvex_sum": minkowski_nonconvex_sum,
        "fence_union_area": fence_union_area,
        "polyline_buffer": polyline_buffer,
        "poly_union_trapezoids": poly_union_trapezoids,
        "poly_inter_trapezoids": poly_inter_trapezoids,
        "poly_xor_components": poly_xor_components,
        "poly_union_area": poly_union_area,
        "minkowski_sum_area": minkowski_sum_area,
        "jpeg_roundtrip_psnr": jpeg_roundtrip_psnr,
        "lossy_420_psnr": lossy_420_psnr,
        "snap_topk_segments": snap_topk_segments,
        "rect_union_coverage": rect_union_coverage,
        "offset_rectilinear_square": offset_rectilinear_square,
        "snap_nearest_segment": snap_nearest_segment,
        "adaptive_cover_events": adaptive_cover_events,
        "raster_passthrough": raster_passthrough,
        "distinct_users_by_type": distinct_users_by_type,
        "events_hourly": events_hourly,
        "sessionize_events": sessionize_events,
        "tile_assign_events": tile_assign_events,
        "zorder_bbox_scan": zorder_bbox_scan,
        "geohash_cells": geohash_cells,
        "haversine_nearest_site": haversine_nearest_site,
        "bbox_overlap_pairs": bbox_overlap_pairs,
        "user_track_stats": user_track_stats,
        "grid_density_clusters": grid_density_clusters,
        "pq_ann_topk": pq_ann_topk,
        "quadkey_cells": quadkey_cells,
        "convex_geofence_pip": convex_geofence_pip,
        "tfidf_top_terms": tfidf_top_terms,
        "session_window_agg": session_window_agg,
        "event_type_pivot": event_type_pivot,
        "top_tokens_global": top_tokens_global,
        "value_moments": value_moments,
        "value_histogram": value_histogram,
        "props_json_extract": props_json_extract,
        "value_percentiles": value_percentiles,
        "user_rank_functions": user_rank_functions,
        "salted_skew_join": salted_skew_join,
        "image_channel_goldens": image_channel_goldens,
        "hex_polyfill_fences": hex_polyfill_fences,
        "polyfill_cover_counts": polyfill_cover_counts,
        "image_fliprot_invariants": image_fliprot_invariants,
        "cdc_upsert_snapshot": cdc_upsert_snapshot,
        "scd2_user_history": scd2_user_history,
        "mercator_roundtrip": mercator_roundtrip,
        "mvt_roundtrip": mvt_roundtrip,
        "flagship_mvt_pipeline": flagship_mvt_pipeline,
        "image_roundtrip_invariants": image_roundtrip_invariants,
        "text_stats": text_stats,
        "lang_id_counts": lang_id_counts,
        "exact_dedup_prefix": exact_dedup_prefix,
        "ngram_jaccard": ngram_jaccard,
        "minhash_lsh": minhash_lsh,
        "simhash_pairs": simhash_pairs,
        "embedding_cosine_pairs": embedding_cosine_pairs,
        "ann_topk": ann_topk,
        "ann_topk_ivf": ann_topk_ivf,
        "polygon_area_orientation": polygon_area_orientation,
        "asof_join_clicks": asof_join_clicks,
        "zigzag_varint_sql": zigzag_varint_sql,
        "validate_tiles_corpus": validate_tiles_corpus,
        "approx_distinct_users": approx_distinct_users,
        "mvt_roundtrip_lines": mvt_roundtrip_lines,
        "mvt_roundtrip_polys": mvt_roundtrip_polys,
        "tile_parity_diff": tile_parity_diff,
        "mvt_clip_roundtrip": mvt_clip_roundtrip,
        "thumbnail_resize": thumbnail_resize,
        "frame_sample": frame_sample,
        "geojson_points": geojson_points,
        "streaming_geofence_alerts": streaming_geofence_alerts,
        "knn_sites": knn_sites,
        "cms_heavy_hitters": cms_heavy_hitters,
        "dedup_groups": dedup_groups,
        "dedup_groups_chain": dedup_groups_chain,
        "streaming_session_windows": streaming_session_windows,
        "zonal_fence_stats": zonal_fence_stats,
        "repeated_spans": repeated_spans,
        "span_dedup_profile": span_dedup_profile,
        "incremental_tile_rebuild": incremental_tile_rebuild,
        "lossy_roundtrip_psnr": lossy_roundtrip_psnr,
        "doc_search_postings": doc_search_postings,
        "doc_search_and": doc_search_and,
        "range_join_px": range_join_px,
        "tile_pyramid_rollup": tile_pyramid_rollup,
        "xyz_cell_keys": xyz_cell_keys,
        "audio_window_features": audio_window_features,
        "embedding_rh_lsh": embedding_rh_lsh,
        "mvt_typed_props_roundtrip": mvt_typed_props_roundtrip,
        "s2_cell_goldens": s2_cell_goldens,
        "invalid_tile_suite": invalid_tile_suite,
        "layers_index_scan": layers_index_scan,
        "pyramid_thinned_counts": pyramid_thinned_counts,
        "ivf_pq_ann_topk": ivf_pq_ann_topk,
        "decontamination_overlap": decontamination_overlap,
        "stratified_sample_split": stratified_sample_split,
        "repetition_quality": repetition_quality,
        "image_phash_pairs": image_phash_pairs,
        "hex_cell_keys": hex_cell_keys,
        "hex_kring_counts": hex_kring_counts,
        "rasterize_tile_grid": rasterize_tile_grid,
        "vectorize_grid_rects": vectorize_grid_rects,
        "simplify_lines_dp": simplify_lines_dp,
        "offset_convex_polygons": offset_convex_polygons,
        "streaming_tile_counts": streaming_tile_counts,
        "streaming_stateful_totals": streaming_stateful_totals,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_region_revenue": q5_region_revenue,
        "semi_join_customers": semi_join_customers,
        "anti_join_customers": anti_join_customers,
        "top_orders_per_customer": top_orders_per_customer,
        "running_customer_spend": running_customer_spend,
        "rollup_order_priority": rollup_order_priority,
        "nations_set_ops": nations_set_ops,
    }


_NORM = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
_SHINGLES = (
    "list_distinct([array_to_string(toks[i:i+2], ' ') "
    "for i in range(1, greatest(len(toks)-2, 1)+1)])"
)
_STOP = (
    "['the','a','an','and','or','of','to','in','is','are','was','were',"
    "'be','been','it','this','that','with','as','for','on','at','by','from']"
)
_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_EVENT_PTS = (
    "SELECT event_id, (event_id % 3600)/10.0 - 179.947 AS lng, "
    "((event_id*7) % 1600)/10.0 - 79.947 AS lat FROM events"
)


def _hex_sql(src: str, idcol: str, res: int, out: str) -> str:
    """CTE chain recomputing functions/hexgrid.py's cell id op-for-op:
    relation ``src`` must expose (idcol, wx, wy) in the zoom-0 mercator
    world frame; emits ``{out}`` with (idcol, cell, q, r). Constants are
    repr()'d Python doubles so DuckDB parses the exact same values."""
    import math as _m

    a, b, c = repr(_m.sqrt(3.0) / 3.0), repr(1.0 / 3.0), repr(2.0 / 3.0)
    inv = repr(2.0 ** (res - 10))
    return f"""
      {out}_f AS (SELECT {idcol}, (wx*{a} - wy*{b})*{inv} AS qf,
                         (wy*{c})*{inv} AS rf FROM {src}),
      {out}_c AS (SELECT {idcol}, qf, rf, floor(qf+0.5) AS rx,
                         floor(rf+0.5) AS rz, floor(-qf-rf+0.5) AS ry
                  FROM {out}_f),
      {out} AS (SELECT {idcol},
          CAST({res} AS BIGINT)*288230376151711744
            + (q+134217728)*536870912 + (r+134217728) AS cell, q, r
        FROM (SELECT {idcol},
          CAST(CASE WHEN abs(rx-qf) > abs(ry-(-qf-rf))
                     AND abs(rx-qf) > abs(rz-rf)
               THEN -ry-rz ELSE rx END AS BIGINT) AS q,
          CAST(CASE WHEN NOT(abs(rx-qf) > abs(ry-(-qf-rf))
                         AND abs(rx-qf) > abs(rz-rf))
                     AND NOT(abs(ry-(-qf-rf)) > abs(rz-rf))
               THEN -rx-ry ELSE rz END AS BIGINT) AS r FROM {out}_c))"""


# Frozen MRJ lossy-roundtrip goldens for synth_image(0..63) — minted
# ONCE from transcode_images_mrj at qstep=4 and pinned as literals:
# any later drift in the color transform, DCT, quantizer, or zlib
# framing flips the hash (unlike the channel goldens below, these DO
# certify the repo's own codec against its frozen past self, not an
# independent recomputation). (image_id, n_px, sum_abs_err, enc_len,
# psnr_x100)
_JFIF_GOLDENS = """('img000000000000', 1023, 4831, 753, 4169),
('img000000000001', 1551, 5378, 782, 4333),
('img000000000002', 2079, 6502, 806, 4469),
('img000000000003', 2607, 7280, 837, 4591),
('img000000000004', 1519, 5473, 801, 4411),
('img000000000005', 2303, 5933, 861, 4644),
('img000000000006', 3087, 7089, 907, 4720),
('img000000000007', 3871, 10095, 915, 4633),
('img000000000008', 2015, 5792, 828, 4523),
('img000000000009', 3055, 8817, 872, 4553),
('img000000000010', 4095, 10763, 898, 4645),
('img000000000011', 5135, 10865, 993, 4807),
('img000000000012', 2511, 6887, 909, 4596),
('img000000000013', 3807, 8365, 990, 4744),
('img000000000014', 5103, 12852, 976, 4680),
('img000000000015', 6399, 12122, 1028, 4830),
('img000000000016', 1023, 4542, 754, 4195),
('img000000000017', 1551, 5565, 775, 4392),
('img000000000018', 2079, 6073, 813, 4562),
('img000000000019', 2607, 6153, 864, 4711),
('img000000000020', 1519, 4501, 815, 4499),
('img000000000021', 2303, 7893, 823, 4424),
('img000000000022', 3087, 8003, 858, 4592),
('img000000000023', 3871, 9448, 915, 4667),
('img000000000024', 2015, 7249, 799, 4411),
('img000000000025', 3055, 8404, 892, 4605),
('img000000000026', 4095, 8643, 955, 4804),
('img000000000027', 5135, 9821, 1032, 4855),
('img000000000028', 2511, 9047, 867, 4411),
('img000000000029', 3807, 9151, 927, 4660),
('img000000000030', 5103, 12169, 969, 4710),
('img000000000031', 6399, 13953, 1027, 4789),
('img000000000032', 1023, 4120, 757, 4308),
('img000000000033', 1551, 4596, 807, 4529),
('img000000000034', 2079, 5420, 837, 4610),
('img000000000035', 2607, 7878, 845, 4500),
('img000000000036', 1519, 4808, 792, 4410),
('img000000000037', 2303, 7334, 827, 4469),
('img000000000038', 3087, 8761, 848, 4584),
('img000000000039', 3871, 8648, 920, 4774),
('img000000000040', 2015, 5759, 864, 4562),
('img000000000041', 3055, 7031, 930, 4711),
('img000000000042', 4095, 11003, 925, 4620),
('img000000000043', 5135, 10875, 965, 4748),
('img000000000044', 2511, 8280, 867, 4457),
('img000000000045', 3807, 10504, 898, 4596),
('img000000000046', 5103, 11470, 983, 4769),
('img000000000047', 6399, 11682, 1099, 4919),
('img000000000048', 1023, 3442, 770, 4385),
('img000000000049', 1551, 6189, 774, 4286),
('img000000000050', 2079, 6461, 802, 4444),
('img000000000051', 2607, 7205, 848, 4554),
('img000000000052', 1519, 5975, 766, 4350),
('img000000000053', 2303, 6806, 838, 4558),
('img000000000054', 3087, 6813, 884, 4769),
('img000000000055', 3871, 8154, 949, 4774),
('img000000000056', 2015, 7593, 835, 4372),
('img000000000057', 3055, 7916, 881, 4590),
('img000000000058', 4095, 10323, 916, 4666),
('img000000000059', 5135, 11978, 965, 4735),
('img000000000060', 2511, 8058, 885, 4494),
('img000000000061', 3807, 8960, 979, 4721),
('img000000000062', 5103, 10338, 1043, 4833),
('img000000000063', 6399, 14089, 1048, 4771)"""

_MRJ2_GOLDENS = """('img000000000000', 1023, 4000, 278, 4349),
('img000000000001', 1551, 4396, 359, 4539),
('img000000000002', 2079, 5330, 411, 4642),
('img000000000003', 2607, 6071, 436, 4751),
('img000000000004', 1519, 4669, 316, 4569),
('img000000000005', 2303, 4834, 410, 4809),
('img000000000006', 3087, 5848, 471, 4887),
('img000000000007', 3871, 8440, 504, 4781),
('img000000000008', 2015, 4787, 366, 4677),
('img000000000009', 3055, 7113, 484, 4732),
('img000000000010', 4095, 9062, 548, 4801),
('img000000000011', 5135, 9347, 624, 4933),
('img000000000012', 2511, 5878, 408, 4732),
('img000000000013', 3807, 7241, 522, 4865),
('img000000000014', 5103, 10863, 613, 4826),
('img000000000015', 6399, 10864, 717, 4931),
('img000000000016', 1023, 3738, 296, 4376),
('img000000000017', 1551, 4672, 340, 4569),
('img000000000018', 2079, 4991, 374, 4738),
('img000000000019', 2607, 5158, 460, 4865),
('img000000000020', 1519, 3653, 320, 4685),
('img000000000021', 2303, 6433, 404, 4615),
('img000000000022', 3087, 6395, 474, 4783),
('img000000000023', 3871, 7944, 545, 4819),
('img000000000024', 2015, 6535, 375, 4531),
('img000000000025', 3055, 6879, 451, 4794),
('img000000000026', 4095, 7442, 538, 4917),
('img000000000027', 5135, 8640, 646, 4960),
('img000000000028', 2511, 7653, 386, 4582),
('img000000000029', 3807, 7588, 518, 4831),
('img000000000030', 5103, 10584, 655, 4830),
('img000000000031', 6399, 12254, 701, 4903),
('img000000000032', 1023, 3573, 267, 4465),
('img000000000033', 1551, 3719, 345, 4724),
('img000000000034', 2079, 4576, 391, 4778),
('img000000000035', 2607, 6419, 428, 4685),
('img000000000036', 1519, 4086, 318, 4564),
('img000000000037', 2303, 5914, 416, 4658),
('img000000000038', 3087, 7330, 466, 4750),
('img000000000039', 3871, 7470, 495, 4897),
('img000000000040', 2015, 4743, 364, 4729),
('img000000000041', 3055, 5827, 462, 4863),
('img000000000042', 4095, 9111, 526, 4788),
('img000000000043', 5135, 9105, 646, 4903),
('img000000000044', 2511, 7272, 424, 4590),
('img000000000045', 3807, 8947, 505, 4759),
('img000000000046', 5103, 9852, 610, 4896),
('img000000000047', 6399, 10461, 749, 4989),
('img000000000048', 1023, 2811, 267, 4587),
('img000000000049', 1551, 4914, 357, 4507),
('img000000000050', 2079, 5340, 395, 4626),
('img000000000051', 2607, 6006, 449, 4725),
('img000000000052', 1519, 5318, 328, 4469),
('img000000000053', 2303, 5524, 392, 4750),
('img000000000054', 3087, 5841, 475, 4900),
('img000000000055', 3871, 6920, 547, 4926),
('img000000000056', 2015, 6530, 367, 4531),
('img000000000057', 3055, 6611, 454, 4763),
('img000000000058', 4095, 8857, 568, 4804),
('img000000000059', 5135, 10221, 611, 4869),
('img000000000060', 2511, 7077, 395, 4625),
('img000000000061', 3807, 7312, 532, 4876),
('img000000000062', 5103, 9034, 634, 4928),
('img000000000063', 6399, 12560, 712, 4875)"""

_MRJ_GOLDENS = """('img000000000000', 256, 1153, 872, 4226),
('img000000000001', 512, 2312, 1670, 4222),
('img000000000002', 768, 3485, 2463, 4232),
('img000000000003', 1024, 4653, 3255, 4222),
('img000000000004', 512, 2274, 1671, 4230),
('img000000000005', 1024, 4672, 3253, 4227),
('img000000000006', 1536, 7034, 4763, 4224),
('img000000000007', 2048, 9248, 6309, 4223),
('img000000000008', 768, 3526, 2479, 4226),
('img000000000009', 1536, 6883, 4829, 4232),
('img000000000010', 2304, 10595, 7069, 4214),
('img000000000011', 3072, 13894, 9274, 4227),
('img000000000012', 1024, 4606, 3255, 4233),
('img000000000013', 2048, 9215, 6286, 4230),
('img000000000014', 3072, 14052, 9344, 4216),
('img000000000015', 4096, 18657, 12349, 4222),
('img000000000016', 256, 1167, 873, 4238),
('img000000000017', 512, 2435, 1671, 4203),
('img000000000018', 768, 3500, 2467, 4222),
('img000000000019', 1024, 4712, 3245, 4215),
('img000000000020', 512, 2325, 1679, 4214),
('img000000000021', 1024, 4803, 3241, 4199),
('img000000000022', 1536, 7015, 4788, 4223),
('img000000000023', 2048, 9221, 6315, 4222),
('img000000000024', 768, 3425, 2462, 4236),
('img000000000025', 1536, 6982, 4782, 4229),
('img000000000026', 2304, 10468, 7077, 4222),
('img000000000027', 3072, 13849, 9302, 4222),
('img000000000028', 1024, 4646, 3242, 4224),
('img000000000029', 2048, 9352, 6311, 4215),
('img000000000030', 3072, 13931, 9327, 4219),
('img000000000031', 4096, 18699, 12348, 4214),
('img000000000032', 256, 1227, 874, 4178),
('img000000000033', 512, 2369, 1685, 4210),
('img000000000034', 768, 3529, 2470, 4221),
('img000000000035', 1024, 4676, 3250, 4218),
('img000000000036', 512, 2346, 1682, 4218),
('img000000000037', 1024, 4647, 3245, 4223),
('img000000000038', 1536, 7027, 4765, 4221),
('img000000000039', 2048, 9363, 6319, 4211),
('img000000000040', 768, 3477, 2482, 4223),
('img000000000041', 1536, 6940, 4804, 4223),
('img000000000042', 2304, 10576, 7038, 4216),
('img000000000043', 3072, 13931, 9268, 4220),
('img000000000044', 1024, 4674, 3245, 4217),
('img000000000045', 2048, 9346, 6318, 4210),
('img000000000046', 3072, 14003, 9338, 4221),
('img000000000047', 4096, 18609, 12331, 4219),
('img000000000048', 256, 1188, 869, 4210),
('img000000000049', 512, 2291, 1674, 4227),
('img000000000050', 768, 3426, 2442, 4234),
('img000000000051', 1024, 4652, 3234, 4218),
('img000000000052', 512, 2348, 1687, 4215),
('img000000000053', 1024, 4737, 3246, 4211),
('img000000000054', 1536, 7067, 4774, 4210),
('img000000000055', 2048, 9287, 6317, 4225),
('img000000000056', 768, 3506, 2481, 4213),
('img000000000057', 1536, 7017, 4812, 4218),
('img000000000058', 2304, 10435, 7056, 4222),
('img000000000059', 3072, 13922, 9296, 4224),
('img000000000060', 1024, 4654, 3253, 4223),
('img000000000061', 2048, 9349, 6303, 4218),
('img000000000062', 3072, 13959, 9334, 4220),
('img000000000063', 4096, 18664, 12337, 4219)"""

# Frozen per-image channel-sum goldens for synth_image(0..119) —
# computed ONCE from the decoded pixels and pinned as literals (the
# S2-goldens pattern): the oracle never calls the repo's decoder, so
# decode regressions cannot cancel out.  (image_id, n_px, sum_r,
# sum_g, sum_b)
_CHANNEL_GOLDENS = """('img000000000000', 256, 34138, 32981, 32512),
('img000000000001', 512, 67186, 65792, 59613),
('img000000000002', 768, 95467, 97987, 97702),
('img000000000003', 1024, 132399, 129876, 130347),
('img000000000004', 512, 67233, 64560, 62790),
('img000000000005', 1024, 131086, 133825, 127542),
('img000000000006', 1536, 190304, 197666, 195621),
('img000000000007', 2048, 257354, 263545, 264166),
('img000000000008', 768, 97316, 97020, 97603),
('img000000000009', 1536, 195320, 196668, 190632),
('img000000000010', 2304, 302355, 293519, 298485),
('img000000000011', 3072, 392688, 392859, 397761),
('img000000000012', 1024, 128479, 131228, 132995),
('img000000000013', 2048, 255044, 262139, 255796),
('img000000000014', 3072, 397530, 390311, 393790),
('img000000000015', 4096, 523696, 519718, 521254),
('img000000000016', 256, 32611, 30096, 31600),
('img000000000017', 512, 65341, 65221, 63734),
('img000000000018', 768, 97409, 99699, 96228),
('img000000000019', 1024, 132741, 128689, 128705),
('img000000000020', 512, 63863, 66459, 67924),
('img000000000021', 1024, 130952, 132801, 133821),
('img000000000022', 1536, 188731, 192694, 197629),
('img000000000023', 2048, 265124, 262888, 261407),
('img000000000024', 768, 95892, 97244, 94147),
('img000000000025', 1536, 192016, 192315, 198656),
('img000000000026', 2304, 296246, 301162, 292117),
('img000000000027', 3072, 387482, 394610, 388229),
('img000000000028', 1024, 131339, 132621, 132787),
('img000000000029', 2048, 268087, 261233, 263333),
('img000000000030', 3072, 393301, 398220, 381919),
('img000000000031', 4096, 520322, 534786, 523441),
('img000000000032', 256, 33122, 31188, 32887),
('img000000000033', 512, 61308, 68132, 65654),
('img000000000034', 768, 100557, 99284, 100886),
('img000000000035', 1024, 133295, 127887, 125089),
('img000000000036', 512, 65700, 64837, 60951),
('img000000000037', 1024, 127830, 129013, 131606),
('img000000000038', 1536, 200043, 194412, 191890),
('img000000000039', 2048, 261948, 261334, 267481),
('img000000000040', 768, 96197, 96067, 94272),
('img000000000041', 1536, 198791, 196772, 197253),
('img000000000042', 2304, 287379, 288581, 291229),
('img000000000043', 3072, 392522, 403925, 394299),
('img000000000044', 1024, 132099, 134092, 133048),
('img000000000045', 2048, 259039, 253403, 256941),
('img000000000046', 3072, 398613, 383420, 392480),
('img000000000047', 4096, 516456, 517871, 519449),
('img000000000048', 256, 33021, 32061, 31589),
('img000000000049', 512, 67380, 65110, 67041),
('img000000000050', 768, 98944, 98721, 93072),
('img000000000051', 1024, 125111, 130165, 128709),
('img000000000052', 512, 66948, 66290, 62846),
('img000000000053', 1024, 130193, 133636, 132847),
('img000000000054', 1536, 191351, 192894, 197598),
('img000000000055', 2048, 258817, 264962, 263054),
('img000000000056', 768, 100350, 94094, 95853),
('img000000000057', 1536, 197793, 196039, 194566),
('img000000000058', 2304, 291273, 291944, 291015),
('img000000000059', 3072, 389111, 394439, 396691),
('img000000000060', 1024, 130588, 128111, 132615),
('img000000000061', 2048, 263955, 260412, 269004),
('img000000000062', 3072, 387715, 386977, 390626),
('img000000000063', 4096, 509304, 517748, 525098),
('img000000000064', 256, 32863, 31889, 33622),
('img000000000065', 512, 62619, 70464, 66417),
('img000000000066', 768, 98481, 102256, 99110),
('img000000000067', 1024, 128461, 132715, 129919),
('img000000000068', 512, 63208, 64959, 64444),
('img000000000069', 1024, 133189, 135054, 129956),
('img000000000070', 1536, 196389, 201660, 201958),
('img000000000071', 2048, 261487, 260544, 261821),
('img000000000072', 768, 97762, 97637, 99598),
('img000000000073', 1536, 194418, 197531, 191349),
('img000000000074', 2304, 297697, 298656, 294391),
('img000000000075', 3072, 394419, 392885, 387702),
('img000000000076', 1024, 133178, 130866, 133902),
('img000000000077', 2048, 258834, 263235, 258700),
('img000000000078', 3072, 389682, 382136, 391384),
('img000000000079', 4096, 516761, 515526, 528957),
('img000000000080', 256, 30623, 33321, 34177),
('img000000000081', 512, 62329, 64428, 66716),
('img000000000082', 768, 100160, 95680, 98336),
('img000000000083', 1024, 130229, 127923, 129164),
('img000000000084', 512, 65265, 63174, 64803),
('img000000000085', 1024, 133530, 131893, 129278),
('img000000000086', 1536, 193798, 194500, 195194),
('img000000000087', 2048, 254530, 260317, 261877),
('img000000000088', 768, 96854, 96690, 96603),
('img000000000089', 1536, 193697, 196941, 193187),
('img000000000090', 2304, 289614, 294148, 295585),
('img000000000091', 3072, 402102, 390077, 387309),
('img000000000092', 1024, 131066, 124054, 128242),
('img000000000093', 2048, 260910, 261349, 262991),
('img000000000094', 3072, 387200, 399721, 389684),
('img000000000095', 4096, 521142, 519325, 517466),
('img000000000096', 256, 32586, 31671, 30895),
('img000000000097', 512, 66599, 64638, 64963),
('img000000000098', 768, 99501, 95726, 99878),
('img000000000099', 1024, 130119, 131102, 130672),
('img000000000100', 512, 64917, 63028, 61744),
('img000000000101', 1024, 135001, 130834, 134867),
('img000000000102', 1536, 189759, 192810, 201200),
('img000000000103', 2048, 262470, 253866, 262090),
('img000000000104', 768, 98723, 97649, 96611),
('img000000000105', 1536, 195555, 198288, 191730),
('img000000000106', 2304, 287696, 289258, 294993),
('img000000000107', 3072, 389947, 393677, 396873),
('img000000000108', 1024, 129822, 133742, 132432),
('img000000000109', 2048, 261773, 266197, 262125),
('img000000000110', 3072, 392305, 389273, 394219),
('img000000000111', 4096, 521314, 523320, 530983),
('img000000000112', 256, 32799, 33368, 34506),
('img000000000113', 512, 64204, 64506, 64252),
('img000000000114', 768, 99949, 98680, 98433),
('img000000000115', 1024, 132469, 130486, 127916),
('img000000000116', 512, 64189, 68978, 68053),
('img000000000117', 1024, 129694, 128422, 133862),
('img000000000118', 1536, 198171, 193737, 198065),
('img000000000119', 2048, 262076, 259475, 263590)"""


def _pyramid_lvl(src: str, out: str) -> str:
    """One thin_pyramid level as CTE text: parent coords + integer
    pixel halving + per-parent-tile top-20 by (w DESC, fid) — the SQL
    twin of operators/pyramid.py (distinct alias names because DuckDB
    lateral alias references would otherwise shadow the source x/y)."""
    return f"""
      {out}_c AS (SELECT zoom - 1 AS zoom, x // 2 AS nx, y // 2 AS ny,
          fid, w,
          (px + (x % 2) * 4096) // 2 AS npx,
          (py + (y % 2) * 4096) // 2 AS npy,
          ROW_NUMBER() OVER (PARTITION BY x // 2, y // 2
                             ORDER BY w DESC, fid) AS rn
        FROM {src}),
      {out} AS (SELECT zoom, CAST(nx AS INT) AS x, CAST(ny AS INT) AS y,
          fid, w, npx AS px, npy AS py
        FROM {out}_c WHERE rn <= 20)"""


def _merc_xy(zoom: int) -> tuple[str, str]:
    size = 4096.0 * (2.0 ** zoom)
    gx = f"((greatest(-180.0, least(180.0, lng)) + 180.0) / 360.0 * {size})"
    s = "sin(radians(greatest(-85.051128779806589, least(85.051128779806589, lat))))"
    gy = f"((0.5 - ln((1.0 + {s}) / (1.0 - {s})) / (4.0 * pi())) * {size})"
    return gx, gy


def oracle_sql() -> dict[str, str]:
    import numpy as _np

    n = (1 << 4) - 1
    gx4, gy4 = _merc_xy(4)
    gx0, gy0 = _merc_xy(0)
    gx2, gy2 = _merc_xy(2)
    gx6, gy6 = _merc_xy(6)
    # base-4 quadkey digits, MSB-down (functions/geodesy.py::quadkey)
    _qk = " || ".join(
        f"substr('0123', ((x >> {i - 1}) & 1) + 2 * ((y >> {i - 1}) & 1)"
        " + 1, 1)"
        for i in range(6, 0, -1)
    )
    # convex hexagon fence catalog — SAME generator invocation as the
    # Spark dim (operators/geofence.py::hex_fences), repr()'d doubles
    from mvtspark.operators.geofence import hex_fences as _hf
    from mvtspark.operators.geofence import world_fence_verts as _wfv

    _fence_rows = ", ".join(
        f"({fid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for fid, edges in _hf()
        for (x1, y1, x2, y2) in edges
    )
    _poly_vert_rows = ", ".join(
        f"({fid}, {i}, {x!r}, {y!r})"
        for fid, verts in _wfv()
        for i, (x, y) in enumerate(verts)
    )
    from mvtspark.functions.hexgrid import _A as _HXA
    from mvtspark.functions.hexgrid import _B as _HXB
    from mvtspark.functions.hexgrid import _C as _HXC
    from mvtspark.functions.hexgrid import _D as _HXD
    from mvtspark.functions.hexgrid import _E as _HXE

    # res-7 polyfill of the world-projected fence catalog — shared by
    # hex_polyfill_fences and polyfill_cover_counts (op-for-op replay of
    # functions/hexgrid.py::hex_polyfill_convex)
    _polyfill_ctes = f"""
            verts(poly_id, idx, x, y) AS (VALUES {_poly_vert_rows}),
            b AS (SELECT poly_id,
                    CAST(FLOOR(MIN((x * {_HXA!r} - y * {_HXB!r}) * 0.125))
                         AS BIGINT) - 1 AS q_lo,
                    CAST(FLOOR(MAX((x * {_HXA!r} - y * {_HXB!r}) * 0.125))
                         AS BIGINT) + 1 AS q_hi,
                    CAST(FLOOR(MIN((y * {_HXC!r}) * 0.125)) AS BIGINT) - 1
                      AS r_lo,
                    CAST(FLOOR(MAX((y * {_HXC!r}) * 0.125)) AS BIGINT) + 1
                      AS r_hi
                  FROM verts GROUP BY poly_id),
            cq AS (SELECT poly_id, r_lo, r_hi,
                     unnest(generate_series(q_lo, q_hi)) AS q FROM b),
            pcand AS (SELECT poly_id, q, r,
                       (CAST(q AS DOUBLE) * {_HXD!r}
                        + CAST(r AS DOUBLE) * {_HXE!r}) * 8.0 AS cx,
                       (CAST(r AS DOUBLE) * 1.5) * 8.0 AS cy
                     FROM (SELECT poly_id, q,
                             unnest(generate_series(r_lo, r_hi)) AS r
                           FROM cq)),
            pnv AS (SELECT poly_id, MAX(idx) + 1 AS n
                    FROM verts GROUP BY 1),
            pedges AS (SELECT v1.poly_id, v1.x AS x1, v1.y AS y1,
                             v2.x AS x2, v2.y AS y2
                      FROM verts v1
                      JOIN pnv ON v1.poly_id = pnv.poly_id
                      JOIN verts v2
                        ON v1.poly_id = v2.poly_id
                       AND v2.idx = (v1.idx + 1) % pnv.n),
            pmc AS (SELECT c.poly_id, c.q, c.r,
                     MIN((e.x2 - e.x1) * (c.cy - e.y1)
                         - (e.y2 - e.y1) * (c.cx - e.x1)) AS m
                   FROM pcand c JOIN pedges e ON c.poly_id = e.poly_id
                   GROUP BY 1, 2, 3),
            pcells AS (SELECT poly_id,
              CAST(7 AS BIGINT) * 288230376151711744
                + (q + 134217728) * 536870912 + (r + 134217728) AS cell,
              q, r
            FROM pmc WHERE m >= 0)"""
    _hd = repr(math.sqrt(3.0))
    _he = repr(math.sqrt(3.0) / 2.0)
    # the minhash permutation constants — SAME generator invocation as the
    # Spark UDF (operators/dedup.py::_shingle_minhash_udf, odd-forced
    # multiply-shift family), inlined as SQL literals so DuckDB
    # recomputes identical signatures
    _A = _np.random.default_rng(42).integers(1, 2**61, size=64, dtype=_np.int64)
    perms_values = ", ".join(
        f"({k}, {int(a) | 1})" for k, a in enumerate(_A)
    )
    u64 = "CAST('18446744073709551616' AS HUGEINT)"
    i64max1 = "CAST('9223372036854775808' AS HUGEINT)"
    # polynomial token/shingle hash constants — MUST match
    # mvtspark/kernels/strhash.py (TOKEN_SEED/TOKEN_MULT/SHINGLE_*)
    from mvtspark.kernels.strhash import (
        SHINGLE_MULT as _SMUL,
        SHINGLE_SEED as _SSEED,
        TOKEN_MULT as _TMUL,
        TOKEN_SEED as _TSEED,
    )

    # ---- flagship synthetic-geotag reconstruction (splitmix64) --------
    # kernels/image.py::synth_latlng is a splitmix64-style mixer over
    # (id + salt); every step is exact integer/dyadic-float math, so
    # DuckDB reproduces lat/lng BIT-IDENTICALLY (verified: 0 float64
    # mismatches over the full id range). 64-bit multiplies are split
    # 32/32 to stay inside HUGEINT.
    from mvtspark.kernels.image import CITY_LATLNG as _CITY
    from mvtspark.kernels.image import _ZIPF_CDF as _CDF

    # ---- random-hyperplane LSH coefficients (embedding_rh_lsh) --------
    # SAME generator invocation as the Spark query
    # (operators/dedup.py::rh_planes); the dyadic-rational coefficients
    # are embedded as exact decimal literals, so DuckDB recomputes the
    # identical hyperplane sign bits — no cross-engine RNG replay.
    from mvtspark.operators.dedup import rh_planes as _rh_planes

    _rh = _rh_planes(24, 64)
    _rh_sign_exprs = ",\n                ".join(
        "CAST(list_sum(list_transform(range(1, 65), i -> "
        f"CAST(embedding[i] AS DOUBLE) * ([{', '.join(repr(c) for c in row)}])[i]"
        ")) >= 0 AS BIGINT)"
        for row in _rh.tolist()
    )

    _K1, _K2, _K3 = 0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB

    def _mm64(a: str, b: int) -> str:  # (a*b) mod 2^64, HUGEINT-safe
        return (
            f"((({a}) % 4294967296) * {b} + ((({a}) // 4294967296)"
            f" * ({b} % 4294967296) % 4294967296) * 4294967296) % {u64}"
        )

    _salts = range(1, 11)
    _sm0 = ", ".join(
        f"{_mm64(f'CAST(i + {s} AS HUGEINT)', _K1)} AS z{s}_0" for s in _salts
    )
    _sm1 = ", ".join(
        f"{_mm64(f'xor(z{s}_0, z{s}_0 // 1073741824)', _K2)} AS z{s}_1"
        for s in _salts
    )
    _sm2 = ", ".join(
        f"{_mm64(f'xor(z{s}_1, z{s}_1 // 134217728)', _K3)} AS z{s}_2"
        for s in _salts
    )
    _sm3 = ", ".join(
        f"CAST(xor(z{s}_2, z{s}_2 // 2147483648) // 2048 AS DOUBLE)"
        f" / 9007199254740992.0 AS u{s}"
        for s in _salts
    )
    _cdf_l = "[" + ",".join(repr(float(v)) for v in _CDF) + "]"
    _clat_l = "[" + ",".join(repr(float(v)) for v in _CITY[:, 0]) + "]"
    _clng_l = "[" + ",".join(repr(float(v)) for v in _CITY[:, 1]) + "]"
    gx6, gy6 = _merc_xy(6)

    # token hash: fold code points; DuckDB split('','') yields [''] whose
    # unicode() is -1, so the empty token is pinned to the bare seed
    # (matching the kernel's virtual-empty-token rule)
    tok_hash_sql = f"""list_transform(t, w ->
                CASE WHEN w = '' THEN CAST({_TSEED} AS HUGEINT) ELSE
                  list_reduce(list_prepend(CAST({_TSEED} AS HUGEINT),
                    list_transform(split(w, ''), c -> CAST(unicode(c) AS HUGEINT))),
                    (acc, c) -> (acc * {_TMUL} + c) % {u64}) END)"""
    # repeated-span CTEs shared by both span oracles (operators/spans.py
    # tokenization = trim/lower/whitespace-split, 8-token windows, md5)
    _SPAN_BASE = """
        toks AS (SELECT doc_id,
            regexp_split_to_array(trim(lower(text)), '\\s+') AS t
          FROM documents),
        spans AS (
          SELECT doc_id, i AS pos,
            md5(array_to_string(t[i : i+7], ' ')) AS span_key
          FROM toks, unnest(generate_series(1, len(t)-7)) AS u(i)
          WHERE len(t) >= 8)
    """

    # incremental rebuild: change classification + dirty set + counts
    _INC_LEVELS = 3
    _inc_dirty = " UNION ALL ".join(
        f"SELECT {6 - l} AS zoom, (x >> {l}) AS x, (y >> {l}) AS y FROM locs"
        for l in range(_INC_LEVELS)
    )
    _inc_counts = " UNION ALL ".join(
        f"SELECT {6 - l} AS zoom, (x >> {l}) AS x, (y >> {l}) AS y"
        " FROM after_t"
        for l in range(_INC_LEVELS)
    )

    # adaptive cover: counts per level by halving + node/leaf recursion
    _AD_BASE, _AD_MAX, _AD_K = 3, 6, 150
    _ad_cte = [
        "t AS (SELECT "
        f"CAST(GREATEST(0, LEAST(63, FLOOR({gx6} / 4096))) AS INT) AS x, "
        f"CAST(GREATEST(0, LEAST(63, FLOOR({gy6} / 4096))) AS INT) AS y "
        "FROM pts)",
        f"c{_AD_MAX} AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM t GROUP BY 1, 2)",
    ]
    for z in range(_AD_MAX - 1, _AD_BASE - 1, -1):
        _ad_cte.append(
            f"c{z} AS (SELECT (x >> 1) AS x, (y >> 1) AS y, "
            f"CAST(SUM(n) AS BIGINT) AS n FROM c{z + 1} GROUP BY 1, 2)"
        )
    _ad_cte.append(f"n{_AD_BASE} AS (SELECT * FROM c{_AD_BASE})")
    for z in range(_AD_BASE, _AD_MAX):
        _ad_cte.append(
            f"n{z + 1} AS (SELECT c.* FROM c{z + 1} c "
            f"JOIN n{z} p ON (c.x >> 1) = p.x AND (c.y >> 1) = p.y "
            f"WHERE p.n > {_AD_K})"
        )
    _ad_leaves = " UNION ALL ".join(
        [
            f"SELECT {z} AS zoom, x, y, n AS n_points FROM n{z} "
            f"WHERE n <= {_AD_K}"
            for z in range(_AD_BASE, _AD_MAX)
        ]
        + [f"SELECT {_AD_MAX} AS zoom, x, y, n AS n_points FROM n{_AD_MAX}"]
    )
    _ad_sql = (
        f"WITH pts AS ({_EVENT_PTS}), "
        + ", ".join(_ad_cte)
        + f" SELECT CAST(zoom AS INT) AS zoom, x, y, n_points"
        f" FROM ({_ad_leaves})"
    )

    return {
        # Independent algorithm (NOT an S-H replay): intersection ring =
        # hull of {{A-verts in B}} ∪ {{B-verts in A}} ∪ {{edge
        # crossings}}, angle-ordered shoelace. Integral on this corpus
        # (rect × even-octagon with axis/45° edges), so the compare is
        # exact-integer.
        # Full slab-sweep replay in BIGINT: the corpus (axis-aligned
        # notched rects x axis/45-degree octagons, even vertices) keeps
        # every crossing y EVEN, so slab midlines are exact integers
        # and every step below is integer arithmetic. Measures read
        # straight off the coverage predicate, like the engine.
        "poly_boolean_sweep": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 41 = 3),
            pr AS (SELECT k,
                2*((k*17) % 50) AS x0, 2*((k*29) % 50) AS y0,
                2*((k*17) % 50) + 2*(12 + k % 10) AS x1,
                2*((k*29) % 50) + 2*(8 + (k*7) % 12) AS y1,
                2*((k*17) % 50) + 2*(1 + (k*3) % 5) AS nx0,
                2*((k*17) % 50) + 2*(1 + (k*3) % 5)
                  + 2*(2 + (k*5) % 5) AS nx1,
                2*((k*29) % 50) + 2*(8 + (k*7) % 12)
                  - 2*(2 + (k*11) % 5) AS ny,
                1 + k % 4 AS s,
                2*((k*3) % 60) AS tx, 2*((k*13) % 60) AS ty
              FROM ks),
            av AS (SELECT k, i,
                CASE i WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
                       WHEN 3 THEN nx1 WHEN 4 THEN nx1 WHEN 5 THEN nx0
                       WHEN 6 THEN nx0 ELSE x0 END AS vx,
                CASE i WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1
                       WHEN 3 THEN y1 WHEN 4 THEN ny WHEN 5 THEN ny
                       ELSE y1 END AS vy
              FROM pr, range(8) t(i)),
            ob(i, ox, oy) AS (SELECT * FROM (VALUES
              (0,2,0),(1,6,0),(2,8,2),(3,8,6),
              (4,6,8),(5,2,8),(6,0,6),(7,0,2))),
            bv AS (SELECT k, i, ox*s + tx AS vx, oy*s + ty AS vy
                   FROM pr, ob),
            ed AS (
              SELECT a1.k, 0 AS poly, a1.vx AS ex1, a1.vy AS ey1,
                     a2.vx AS ex2, a2.vy AS ey2
                FROM av a1 JOIN av a2
                  ON a2.k = a1.k AND a2.i = (a1.i + 1) % 8
              UNION ALL
              SELECT b1.k, 1, b1.vx, b1.vy, b2.vx, b2.vy
                FROM bv b1 JOIN bv b2
                  ON b2.k = b1.k AND b2.i = (b1.i + 1) % 8),
            xys AS (  -- proper A-edge x B-edge crossings: exact y
              SELECT a.k,
                a.ey1 + (((b.ex1-a.ex1)*(b.ey2-b.ey1)
                        - (b.ey1-a.ey1)*(b.ex2-b.ex1))
                       * (a.ey2-a.ey1))
                     // ((a.ex2-a.ex1)*(b.ey2-b.ey1)
                       - (a.ey2-a.ey1)*(b.ex2-b.ex1)) AS y
              FROM ed a JOIN ed b ON b.k = a.k
              WHERE a.poly = 0 AND b.poly = 1
                AND ((a.ex2-a.ex1)*(b.ey1-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex1-a.ex1))
                  * ((a.ex2-a.ex1)*(b.ey2-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex2-a.ex1)) < 0
                AND ((b.ex2-b.ex1)*(a.ey1-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex1-b.ex1))
                  * ((b.ex2-b.ex1)*(a.ey2-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex2-b.ex1)) < 0),
            evy AS (SELECT DISTINCT k, y FROM (
                      SELECT k, vy AS y FROM av
                      UNION ALL SELECT k, vy FROM bv
                      UNION ALL SELECT k, y FROM xys)),
            slabs AS (SELECT k, y AS ylo,
                             lead(y) OVER (PARTITION BY k ORDER BY y)
                               AS yhi
                      FROM evy),
            sl AS (SELECT k, ylo, yhi, (ylo + yhi) // 2 AS ym
                   FROM slabs WHERE yhi IS NOT NULL),
            xing AS (  -- midline x-crossings; octilinear slopes in
                       -- {-1, 0, +1} keep this integral
              SELECT s.k, s.ylo, s.yhi, e.poly,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ym - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xc
              FROM sl s JOIN ed e ON e.k = s.k
              WHERE least(e.ey1, e.ey2) < s.ym
                AND s.ym < greatest(e.ey1, e.ey2)),
            dl AS (SELECT k, ylo, yhi, poly, xc,
                CASE WHEN row_number() OVER (
                  PARTITION BY k, ylo, poly ORDER BY xc) % 2 = 1
                  THEN 1 ELSE -1 END AS d
              FROM xing),
            ev AS (SELECT k, ylo, yhi, xc,
                SUM(CASE WHEN poly = 0 THEN d ELSE 0 END) AS da,
                SUM(CASE WHEN poly = 1 THEN d ELSE 0 END) AS db
              FROM dl GROUP BY k, ylo, yhi, xc),
            seg AS (SELECT k, ylo, yhi, xc,
                lead(xc) OVER (PARTITION BY k, ylo ORDER BY xc) AS xn,
                SUM(da) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS ca,
                SUM(db) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS cb
              FROM ev),
            meas AS (SELECT k,
                SUM(CASE WHEN ca = 1 AND cb = 1
                    THEN (xn-xc)*(yhi-ylo) ELSE 0 END) AS mi,
                SUM(CASE WHEN ca = 1 OR cb = 1
                    THEN (xn-xc)*(yhi-ylo) ELSE 0 END) AS mu,
                SUM(CASE WHEN ca = 1 AND cb = 0
                    THEN (xn-xc)*(yhi-ylo) ELSE 0 END) AS md,
                SUM(CASE WHEN ca <> cb
                    THEN (xn-xc)*(yhi-ylo) ELSE 0 END) AS mx
              FROM seg WHERE xn IS NOT NULL GROUP BY k)
            SELECT p.k AS pair_id,
              CAST(COALESCE(2*m.mi, 0) AS BIGINT) AS inter_area2,
              CAST(COALESCE(2*m.mu, 0) AS BIGINT) AS union_area2,
              CAST(COALESCE(2*m.md, 0) AS BIGINT) AS diff_area2,
              CAST(COALESCE(2*m.mx, 0) AS BIGINT) AS xor_area2
            FROM pr p LEFT JOIN meas m ON m.k = p.k
        """,
        # TOPOLOGY replay: xor trapezoids from the sweep, connected by
        # a recursive min-label CTE over interior adjacency (strict
        # x-overlap at the shared slab boundary), components counted.
        "poly_xor_components": """
            WITH RECURSIVE ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 41 = 3),
            pr AS (SELECT k,
                2*((k*17) % 50) AS x0, 2*((k*29) % 50) AS y0,
                2*((k*17) % 50) + 2*(12 + k % 10) AS x1,
                2*((k*29) % 50) + 2*(8 + (k*7) % 12) AS y1,
                2*((k*17) % 50) + 2*(1 + (k*3) % 5) AS nx0,
                2*((k*17) % 50) + 2*(1 + (k*3) % 5)
                  + 2*(2 + (k*5) % 5) AS nx1,
                2*((k*29) % 50) + 2*(8 + (k*7) % 12)
                  - 2*(2 + (k*11) % 5) AS ny,
                1 + k % 4 AS s,
                2*((k*3) % 60) AS tx, 2*((k*13) % 60) AS ty
              FROM ks),
            av AS (SELECT k, i,
                CASE i WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
                       WHEN 3 THEN nx1 WHEN 4 THEN nx1 WHEN 5 THEN nx0
                       WHEN 6 THEN nx0 ELSE x0 END AS vx,
                CASE i WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1
                       WHEN 3 THEN y1 WHEN 4 THEN ny WHEN 5 THEN ny
                       ELSE y1 END AS vy
              FROM pr, range(8) t(i)),
            ob(i, ox, oy) AS (SELECT * FROM (VALUES
              (0,2,0),(1,6,0),(2,8,2),(3,8,6),
              (4,6,8),(5,2,8),(6,0,6),(7,0,2))),
            bv AS (SELECT k, i, ox*s + tx AS vx, oy*s + ty AS vy
                   FROM pr, ob),
            ed AS (
              SELECT a1.k, 0 AS poly, a1.vx AS ex1, a1.vy AS ey1,
                     a2.vx AS ex2, a2.vy AS ey2
                FROM av a1 JOIN av a2
                  ON a2.k = a1.k AND a2.i = (a1.i + 1) % 8
              UNION ALL
              SELECT b1.k, 1, b1.vx, b1.vy, b2.vx, b2.vy
                FROM bv b1 JOIN bv b2
                  ON b2.k = b1.k AND b2.i = (b1.i + 1) % 8),
            xys AS (SELECT a.k,
                a.ey1 + (((b.ex1-a.ex1)*(b.ey2-b.ey1)
                        - (b.ey1-a.ey1)*(b.ex2-b.ex1))
                       * (a.ey2-a.ey1))
                     // ((a.ex2-a.ex1)*(b.ey2-b.ey1)
                       - (a.ey2-a.ey1)*(b.ex2-b.ex1)) AS y
              FROM ed a JOIN ed b ON b.k = a.k
              WHERE a.poly = 0 AND b.poly = 1
                AND ((a.ex2-a.ex1)*(b.ey1-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex1-a.ex1))
                  * ((a.ex2-a.ex1)*(b.ey2-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex2-a.ex1)) < 0
                AND ((b.ex2-b.ex1)*(a.ey1-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex1-b.ex1))
                  * ((b.ex2-b.ex1)*(a.ey2-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex2-b.ex1)) < 0),
            evy AS (SELECT DISTINCT k, y FROM (
                      SELECT k, vy AS y FROM av
                      UNION ALL SELECT k, vy FROM bv
                      UNION ALL SELECT k, y FROM xys)),
            sl AS (SELECT k, ylo, yhi, (ylo + yhi) // 2 AS ym FROM (
                     SELECT k, y AS ylo,
                            lead(y) OVER (PARTITION BY k ORDER BY y)
                              AS yhi
                     FROM evy) WHERE yhi IS NOT NULL),
            xing AS (SELECT s.k, s.ylo, s.yhi, e.poly,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ym - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xc,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ylo - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xat_lo,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.yhi - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xat_hi
              FROM sl s JOIN ed e ON e.k = s.k
              WHERE least(e.ey1, e.ey2) < s.ym
                AND s.ym < greatest(e.ey1, e.ey2)),
            dl AS (SELECT k, ylo, yhi, poly, xc, xat_lo, xat_hi,
                CASE WHEN row_number() OVER (
                  PARTITION BY k, ylo, poly ORDER BY xc) % 2 = 1
                  THEN 1 ELSE -1 END AS d
              FROM xing),
            ev AS (SELECT k, ylo, yhi, xc,
                SUM(CASE WHEN poly = 0 THEN d ELSE 0 END) AS da,
                SUM(CASE WHEN poly = 1 THEN d ELSE 0 END) AS db,
                MIN(xat_lo) AS xat_lo, MIN(xat_hi) AS xat_hi
              FROM dl GROUP BY k, ylo, yhi, xc),
            tr0 AS (SELECT k, ylo, yhi, xc, xat_lo, xat_hi,
                SUM(da) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS ca,
                SUM(db) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS cb,
                SUM(da) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) - da AS pca,
                SUM(db) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) - db AS pcb
              FROM ev),
            st AS (SELECT k, ylo, yhi, xat_lo, xat_hi, xc,
                row_number() OVER (PARTITION BY k, ylo ORDER BY xc)
                  AS rn
              FROM tr0 WHERE ca <> cb AND NOT (pca <> pcb)),
            en AS (SELECT k, ylo, xat_lo, xat_hi,
                row_number() OVER (PARTITION BY k, ylo ORDER BY xc)
                  AS rn
              FROM tr0 WHERE pca <> pcb AND NOT (ca <> cb)),
            traps AS (SELECT s.k, s.ylo, s.yhi,
                s.xat_lo AS xl_lo, s.xat_hi AS xl_hi,
                e.xat_lo AS xr_lo, e.xat_hi AS xr_hi,
                row_number() OVER (PARTITION BY s.k
                                   ORDER BY s.ylo, s.xc) AS tid
              FROM st s JOIN en e
                ON e.k = s.k AND e.ylo = s.ylo AND e.rn = s.rn),
            adj AS (
              SELECT t1.k, t1.tid AS t_from, t2.tid AS t_to
              FROM traps t1 JOIN traps t2
                ON t2.k = t1.k AND t2.ylo = t1.yhi
               AND t1.xl_hi < t2.xr_lo AND t2.xl_lo < t1.xr_hi
              UNION ALL
              SELECT t1.k, t2.tid, t1.tid
              FROM traps t1 JOIN traps t2
                ON t2.k = t1.k AND t2.ylo = t1.yhi
               AND t1.xl_hi < t2.xr_lo AND t2.xl_lo < t1.xr_hi),
            reach(k, tid, lbl) AS (
              SELECT k, tid, tid FROM traps
              UNION
              SELECT a.k, a.t_to, r.lbl
              FROM reach r JOIN adj a
                ON a.k = r.k AND a.t_from = r.tid),
            lab AS (SELECT k, tid, MIN(lbl) AS lbl
                    FROM reach GROUP BY k, tid),
            comp AS (SELECT k, COUNT(DISTINCT lbl) AS n FROM lab
                     GROUP BY k),
            ar AS (SELECT k, SUM((yhi-ylo)*((xr_lo-xl_lo)
                                          + (xr_hi-xl_hi))) AS a2
                   FROM traps GROUP BY k)
            SELECT p.k AS pair_id,
              CAST(COALESCE(c.n, 0) AS BIGINT) AS n_components,
              CAST(COALESCE(a.a2, 0) AS BIGINT) AS area2
            FROM pr p LEFT JOIN comp c ON c.k = p.k
            LEFT JOIN ar a ON a.k = p.k
        """,
        # RESULT-GEOMETRY replay for the INTERSECTION: per-polygon
        # coverage tracked separately; trapezoids pair transitions of
        # the conjunction (ca=1 AND cb=1).
        "poly_inter_trapezoids": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 41 = 3),
            pr AS (SELECT k,
                2*((k*17) % 50) AS x0, 2*((k*29) % 50) AS y0,
                2*((k*17) % 50) + 2*(12 + k % 10) AS x1,
                2*((k*29) % 50) + 2*(8 + (k*7) % 12) AS y1,
                2*((k*17) % 50) + 2*(1 + (k*3) % 5) AS nx0,
                2*((k*17) % 50) + 2*(1 + (k*3) % 5)
                  + 2*(2 + (k*5) % 5) AS nx1,
                2*((k*29) % 50) + 2*(8 + (k*7) % 12)
                  - 2*(2 + (k*11) % 5) AS ny,
                1 + k % 4 AS s,
                2*((k*3) % 60) AS tx, 2*((k*13) % 60) AS ty
              FROM ks),
            av AS (SELECT k, i,
                CASE i WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
                       WHEN 3 THEN nx1 WHEN 4 THEN nx1 WHEN 5 THEN nx0
                       WHEN 6 THEN nx0 ELSE x0 END AS vx,
                CASE i WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1
                       WHEN 3 THEN y1 WHEN 4 THEN ny WHEN 5 THEN ny
                       ELSE y1 END AS vy
              FROM pr, range(8) t(i)),
            ob(i, ox, oy) AS (SELECT * FROM (VALUES
              (0,2,0),(1,6,0),(2,8,2),(3,8,6),
              (4,6,8),(5,2,8),(6,0,6),(7,0,2))),
            bv AS (SELECT k, i, ox*s + tx AS vx, oy*s + ty AS vy
                   FROM pr, ob),
            ed AS (
              SELECT a1.k, 0 AS poly, a1.vx AS ex1, a1.vy AS ey1,
                     a2.vx AS ex2, a2.vy AS ey2
                FROM av a1 JOIN av a2
                  ON a2.k = a1.k AND a2.i = (a1.i + 1) % 8
              UNION ALL
              SELECT b1.k, 1, b1.vx, b1.vy, b2.vx, b2.vy
                FROM bv b1 JOIN bv b2
                  ON b2.k = b1.k AND b2.i = (b1.i + 1) % 8),
            xys AS (SELECT a.k,
                a.ey1 + (((b.ex1-a.ex1)*(b.ey2-b.ey1)
                        - (b.ey1-a.ey1)*(b.ex2-b.ex1))
                       * (a.ey2-a.ey1))
                     // ((a.ex2-a.ex1)*(b.ey2-b.ey1)
                       - (a.ey2-a.ey1)*(b.ex2-b.ex1)) AS y
              FROM ed a JOIN ed b ON b.k = a.k
              WHERE a.poly = 0 AND b.poly = 1
                AND ((a.ex2-a.ex1)*(b.ey1-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex1-a.ex1))
                  * ((a.ex2-a.ex1)*(b.ey2-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex2-a.ex1)) < 0
                AND ((b.ex2-b.ex1)*(a.ey1-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex1-b.ex1))
                  * ((b.ex2-b.ex1)*(a.ey2-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex2-b.ex1)) < 0),
            evy AS (SELECT DISTINCT k, y FROM (
                      SELECT k, vy AS y FROM av
                      UNION ALL SELECT k, vy FROM bv
                      UNION ALL SELECT k, y FROM xys)),
            sl AS (SELECT k, ylo, yhi, (ylo + yhi) // 2 AS ym FROM (
                     SELECT k, y AS ylo,
                            lead(y) OVER (PARTITION BY k ORDER BY y)
                              AS yhi
                     FROM evy) WHERE yhi IS NOT NULL),
            xing AS (SELECT s.k, s.ylo, s.yhi, e.poly,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ym - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xc,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ylo - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xat_lo,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.yhi - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xat_hi
              FROM sl s JOIN ed e ON e.k = s.k
              WHERE least(e.ey1, e.ey2) < s.ym
                AND s.ym < greatest(e.ey1, e.ey2)),
            dl AS (SELECT k, ylo, yhi, poly, xc, xat_lo, xat_hi,
                CASE WHEN row_number() OVER (
                  PARTITION BY k, ylo, poly ORDER BY xc) % 2 = 1
                  THEN 1 ELSE -1 END AS d
              FROM xing),
            ev AS (SELECT k, ylo, yhi, xc,
                SUM(CASE WHEN poly = 0 THEN d ELSE 0 END) AS da,
                SUM(CASE WHEN poly = 1 THEN d ELSE 0 END) AS db,
                MIN(xat_lo) AS xat_lo, MIN(xat_hi) AS xat_hi
              FROM dl GROUP BY k, ylo, yhi, xc),
            tr0 AS (SELECT k, ylo, yhi, xc, xat_lo, xat_hi,
                SUM(da) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS ca,
                SUM(db) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS cb,
                SUM(da) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) - da AS pca,
                SUM(db) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) - db AS pcb
              FROM ev),
            st AS (SELECT k, ylo, yhi, xat_lo, xat_hi,
                row_number() OVER (PARTITION BY k, ylo ORDER BY xc)
                  AS rn
              FROM tr0 WHERE ca = 1 AND cb = 1
                AND NOT (pca = 1 AND pcb = 1)),
            en AS (SELECT k, ylo, xat_lo, xat_hi,
                row_number() OVER (PARTITION BY k, ylo ORDER BY xc)
                  AS rn
              FROM tr0 WHERE pca = 1 AND pcb = 1
                AND NOT (ca = 1 AND cb = 1))
            SELECT s.k AS pair_id,
              CAST(s.ylo AS BIGINT) AS ylo,
              CAST(s.yhi AS BIGINT) AS yhi,
              CAST(s.xat_lo AS BIGINT) AS xl_lo,
              CAST(s.xat_hi AS BIGINT) AS xl_hi,
              CAST(e.xat_lo AS BIGINT) AS xr_lo,
              CAST(e.xat_hi AS BIGINT) AS xr_hi
            FROM st s JOIN en e
              ON e.k = s.k AND e.ylo = s.ylo AND e.rn = s.rn
        """,
        # RESULT-GEOMETRY replay: same sweep as poly_boolean_sweep,
        # but xing carries each edge's x at BOTH slab extremes and
        # coverage transitions pair into trapezoid rows.
        "poly_union_trapezoids": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 41 = 3),
            pr AS (SELECT k,
                2*((k*17) % 50) AS x0, 2*((k*29) % 50) AS y0,
                2*((k*17) % 50) + 2*(12 + k % 10) AS x1,
                2*((k*29) % 50) + 2*(8 + (k*7) % 12) AS y1,
                2*((k*17) % 50) + 2*(1 + (k*3) % 5) AS nx0,
                2*((k*17) % 50) + 2*(1 + (k*3) % 5)
                  + 2*(2 + (k*5) % 5) AS nx1,
                2*((k*29) % 50) + 2*(8 + (k*7) % 12)
                  - 2*(2 + (k*11) % 5) AS ny,
                1 + k % 4 AS s,
                2*((k*3) % 60) AS tx, 2*((k*13) % 60) AS ty
              FROM ks),
            av AS (SELECT k, i,
                CASE i WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
                       WHEN 3 THEN nx1 WHEN 4 THEN nx1 WHEN 5 THEN nx0
                       WHEN 6 THEN nx0 ELSE x0 END AS vx,
                CASE i WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1
                       WHEN 3 THEN y1 WHEN 4 THEN ny WHEN 5 THEN ny
                       ELSE y1 END AS vy
              FROM pr, range(8) t(i)),
            ob(i, ox, oy) AS (SELECT * FROM (VALUES
              (0,2,0),(1,6,0),(2,8,2),(3,8,6),
              (4,6,8),(5,2,8),(6,0,6),(7,0,2))),
            bv AS (SELECT k, i, ox*s + tx AS vx, oy*s + ty AS vy
                   FROM pr, ob),
            ed AS (
              SELECT a1.k, 0 AS poly, a1.vx AS ex1, a1.vy AS ey1,
                     a2.vx AS ex2, a2.vy AS ey2
                FROM av a1 JOIN av a2
                  ON a2.k = a1.k AND a2.i = (a1.i + 1) % 8
              UNION ALL
              SELECT b1.k, 1, b1.vx, b1.vy, b2.vx, b2.vy
                FROM bv b1 JOIN bv b2
                  ON b2.k = b1.k AND b2.i = (b1.i + 1) % 8),
            xys AS (SELECT a.k,
                a.ey1 + (((b.ex1-a.ex1)*(b.ey2-b.ey1)
                        - (b.ey1-a.ey1)*(b.ex2-b.ex1))
                       * (a.ey2-a.ey1))
                     // ((a.ex2-a.ex1)*(b.ey2-b.ey1)
                       - (a.ey2-a.ey1)*(b.ex2-b.ex1)) AS y
              FROM ed a JOIN ed b ON b.k = a.k
              WHERE a.poly = 0 AND b.poly = 1
                AND ((a.ex2-a.ex1)*(b.ey1-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex1-a.ex1))
                  * ((a.ex2-a.ex1)*(b.ey2-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex2-a.ex1)) < 0
                AND ((b.ex2-b.ex1)*(a.ey1-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex1-b.ex1))
                  * ((b.ex2-b.ex1)*(a.ey2-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex2-b.ex1)) < 0),
            evy AS (SELECT DISTINCT k, y FROM (
                      SELECT k, vy AS y FROM av
                      UNION ALL SELECT k, vy FROM bv
                      UNION ALL SELECT k, y FROM xys)),
            sl AS (SELECT k, ylo, yhi, (ylo + yhi) // 2 AS ym FROM (
                     SELECT k, y AS ylo,
                            lead(y) OVER (PARTITION BY k ORDER BY y)
                              AS yhi
                     FROM evy) WHERE yhi IS NOT NULL),
            xing AS (SELECT s.k, s.ylo, s.yhi, e.poly,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ym - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xc,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ylo - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xat_lo,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.yhi - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xat_hi
              FROM sl s JOIN ed e ON e.k = s.k
              WHERE least(e.ey1, e.ey2) < s.ym
                AND s.ym < greatest(e.ey1, e.ey2)),
            dl AS (SELECT k, ylo, yhi, xc, xat_lo, xat_hi,
                CASE WHEN row_number() OVER (
                  PARTITION BY k, ylo, poly ORDER BY xc) % 2 = 1
                  THEN 1 ELSE -1 END AS d
              FROM xing),
            ev AS (SELECT k, ylo, yhi, xc, SUM(d) AS dd,
                          MIN(xat_lo) AS xat_lo, MIN(xat_hi) AS xat_hi
                   FROM dl GROUP BY k, ylo, yhi, xc),
            tr0 AS (SELECT k, ylo, yhi, xc, xat_lo, xat_hi,
                SUM(dd) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS cov,
                SUM(dd) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) - dd AS prev
              FROM ev),
            st AS (SELECT k, ylo, yhi, xat_lo, xat_hi,
                row_number() OVER (PARTITION BY k, ylo ORDER BY xc)
                  AS rn
              FROM tr0 WHERE prev = 0 AND cov >= 1),
            en AS (SELECT k, ylo, xat_lo, xat_hi,
                row_number() OVER (PARTITION BY k, ylo ORDER BY xc)
                  AS rn
              FROM tr0 WHERE prev >= 1 AND cov = 0)
            SELECT s.k AS pair_id,
              CAST(s.ylo AS BIGINT) AS ylo,
              CAST(s.yhi AS BIGINT) AS yhi,
              CAST(s.xat_lo AS BIGINT) AS xl_lo,
              CAST(s.xat_hi AS BIGINT) AS xl_hi,
              CAST(e.xat_lo AS BIGINT) AS xr_lo,
              CAST(e.xat_hi AS BIGINT) AS xr_hi
            FROM st s JOIN en e
              ON e.k = s.k AND e.ylo = s.ylo AND e.rn = s.rn
        """,
        # Multi-ring union sweep per GROUP in BIGINT: each row is one
        # ring (notched rect or padded octagon by parity), piece id =
        # the row key, the sweep partitions by group.
        "fence_union_area": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 31 = 9),
            pr AS (SELECT k, k // 1240 AS g, (k*7) % 2 AS p,
                4*((k*17) % 50) AS x0, 4*((k*29) % 50) AS y0,
                4*((k*17) % 50) + 4*(16 + k % 8) AS x1,
                4*((k*29) % 50) + 4*(8 + (k*7) % 12) AS y1,
                4*(1 + (k*3) % 3) AS c,
                4*((k*17) % 50) + 4*(1 + (k*3) % 5) AS nx0,
                4*((k*17) % 50) + 4*(1 + (k*3) % 5)
                  + 4*(2 + (k*5) % 5) AS nx1,
                4*((k*29) % 50) + 4*(8 + (k*7) % 12)
                  - 4*(2 + (k*11) % 5) AS ny,
                4*(1 + (k*5) % 2) AS s,
                4*((k*3) % 60) AS tx, 4*((k*13) % 60) AS ty
              FROM ks),
            av AS (SELECT k, g, i,
                CASE WHEN p = 0 THEN
                  CASE i WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
                         WHEN 3 THEN x1-c WHEN 4 THEN nx1 WHEN 5 THEN nx1
                         WHEN 6 THEN nx0 WHEN 7 THEN nx0 ELSE x0 END
                ELSE s * (CASE i WHEN 0 THEN 2 WHEN 1 THEN 6
                         WHEN 2 THEN 8 WHEN 3 THEN 8 WHEN 4 THEN 6
                         WHEN 5 THEN 2 ELSE 0 END) + tx END AS vx,
                CASE WHEN p = 0 THEN
                  CASE i WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1-c
                         WHEN 3 THEN y1 WHEN 4 THEN y1 WHEN 5 THEN ny
                         WHEN 6 THEN ny WHEN 7 THEN y1 ELSE y1 END
                ELSE s * (CASE i WHEN 0 THEN 0 WHEN 1 THEN 0
                         WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 8
                         WHEN 5 THEN 8 WHEN 6 THEN 6 ELSE 2 END) + ty
                END AS vy
              FROM pr, range(9) t(i)),
            ed AS (SELECT a1.g, a1.k AS piece,
                          a1.vx AS ex1, a1.vy AS ey1,
                          a2.vx AS ex2, a2.vy AS ey2
                   FROM av a1 JOIN av a2
                     ON a2.k = a1.k AND a2.i = (a1.i + 1) % 9),
            xys AS (SELECT a.g,
                a.ey1 + (((b.ex1-a.ex1)*(b.ey2-b.ey1)
                        - (b.ey1-a.ey1)*(b.ex2-b.ex1))
                       * (a.ey2-a.ey1))
                     // ((a.ex2-a.ex1)*(b.ey2-b.ey1)
                       - (a.ey2-a.ey1)*(b.ex2-b.ex1)) AS y
              FROM ed a JOIN ed b ON b.g = a.g AND a.piece < b.piece
              WHERE ((a.ex2-a.ex1)*(b.ey1-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex1-a.ex1))
                  * ((a.ex2-a.ex1)*(b.ey2-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex2-a.ex1)) < 0
                AND ((b.ex2-b.ex1)*(a.ey1-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex1-b.ex1))
                  * ((b.ex2-b.ex1)*(a.ey2-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex2-b.ex1)) < 0),
            evy AS (SELECT DISTINCT g, y FROM (
                      SELECT g, ey1 AS y FROM ed
                      UNION ALL SELECT g, y FROM xys)),
            sl AS (SELECT g, ylo, yhi, (ylo + yhi) // 2 AS ym FROM (
                     SELECT g, y AS ylo,
                            lead(y) OVER (PARTITION BY g ORDER BY y)
                              AS yhi
                     FROM evy) WHERE yhi IS NOT NULL),
            xing AS (SELECT s.g, s.ylo, s.yhi, e.piece,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ym - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xc
              FROM sl s JOIN ed e ON e.g = s.g
              WHERE least(e.ey1, e.ey2) < s.ym
                AND s.ym < greatest(e.ey1, e.ey2)),
            dl AS (SELECT g, ylo, yhi, xc,
                CASE WHEN row_number() OVER (
                  PARTITION BY g, ylo, piece ORDER BY xc) % 2 = 1
                  THEN 1 ELSE -1 END AS d
              FROM xing),
            ev AS (SELECT g, ylo, yhi, xc, SUM(d) AS dd
                   FROM dl GROUP BY g, ylo, yhi, xc),
            seg AS (SELECT g, ylo, yhi, xc,
                lead(xc) OVER (PARTITION BY g, ylo ORDER BY xc) AS xn,
                SUM(dd) OVER (PARTITION BY g, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS cov
              FROM ev),
            uni AS (SELECT g,
                SUM(CASE WHEN cov >= 1 THEN (xn-xc)*(yhi-ylo)
                    ELSE 0 END) AS mu
              FROM seg WHERE xn IS NOT NULL GROUP BY g),
            cnt AS (SELECT g, count(*) AS n FROM pr GROUP BY g)
            SELECT c.g AS group_id,
              CAST(c.n AS BIGINT) AS n_rings,
              CAST(2*u.mu AS BIGINT) AS union_area2
            FROM cnt c JOIN uni u ON u.g = c.g
        """,
        # Open-path buffer: pieces are per-SEGMENT dilation hulls
        # (no base ring, no closing edge), same BIGINT sweep.
        "polyline_buffer": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 29 = 3),
            pr AS (SELECT k,
                4*((k*17) % 50) AS x0, 4*((k*29) % 50) AS y0,
                4*(2 + (k*3) % 6) AS a, 4*(2 + (k*5) % 6) AS b,
                4*(2 + (k*7) % 6) AS cc, 4*(1 + k % 2) AS r
              FROM ks),
            av AS (SELECT k, i,
                CASE i WHEN 0 THEN x0 WHEN 1 THEN x0+a
                       ELSE x0+a+b END AS vx,
                CASE i WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y0+b
                       ELSE y0+b+cc END AS vy
              FROM pr, range(4) t(i)),
            bed AS (SELECT a1.k, a1.i,
                a1.vx AS rx1, a1.vy AS ry1, a2.vx AS rx2, a2.vy AS ry2,
                CASE WHEN (a2.vx < a1.vx)
                       OR (a2.vx = a1.vx AND a2.vy < a1.vy)
                     THEN a2.vx ELSE a1.vx END AS cx1,
                CASE WHEN (a2.vx < a1.vx)
                       OR (a2.vx = a1.vx AND a2.vy < a1.vy)
                     THEN a2.vy ELSE a1.vy END AS cy1,
                CASE WHEN (a2.vx < a1.vx)
                       OR (a2.vx = a1.vx AND a2.vy < a1.vy)
                     THEN a1.vx ELSE a2.vx END AS cx2,
                CASE WHEN (a2.vx < a1.vx)
                       OR (a2.vx = a1.vx AND a2.vy < a1.vy)
                     THEN a1.vy ELSE a2.vy END AS cy2
              FROM av a1 JOIN av a2
                ON a2.k = a1.k AND a2.i = a1.i + 1),
            bcl AS (SELECT b.*, p.r,
                CASE WHEN cy2 = cy1 THEN 0 WHEN cx2 = cx1 THEN 1
                     WHEN cy2 > cy1 THEN 2 ELSE 3 END AS cls
              FROM bed b JOIN pr p USING (k)),
            pv AS (SELECT k, i + 1 AS piece, j,
                CASE cls
                  WHEN 0 THEN CASE j WHEN 0 THEN cx1-r WHEN 1 THEN cx2+r
                    WHEN 2 THEN cx2+r ELSE cx1-r END
                  WHEN 1 THEN CASE j WHEN 0 THEN cx1-r WHEN 1 THEN cx1+r
                    WHEN 2 THEN cx1+r ELSE cx1-r END
                  WHEN 2 THEN CASE j WHEN 0 THEN cx1-r WHEN 1 THEN cx1+r
                    WHEN 2 THEN cx2+r WHEN 3 THEN cx2+r WHEN 4 THEN cx2-r
                    ELSE cx1-r END
                  ELSE CASE j WHEN 0 THEN cx1-r WHEN 1 THEN cx2-r
                    WHEN 2 THEN cx2+r WHEN 3 THEN cx2+r WHEN 4 THEN cx1+r
                    ELSE cx1-r END
                END AS vx,
                CASE cls
                  WHEN 0 THEN CASE j WHEN 0 THEN cy1-r WHEN 1 THEN cy1-r
                    WHEN 2 THEN cy1+r ELSE cy1+r END
                  WHEN 1 THEN CASE j WHEN 0 THEN cy1-r WHEN 1 THEN cy1-r
                    WHEN 2 THEN cy2+r ELSE cy2+r END
                  WHEN 2 THEN CASE j WHEN 0 THEN cy1-r WHEN 1 THEN cy1-r
                    WHEN 2 THEN cy2-r WHEN 3 THEN cy2+r WHEN 4 THEN cy2+r
                    ELSE cy1+r END
                  ELSE CASE j WHEN 0 THEN cy1-r WHEN 1 THEN cy2-r
                    WHEN 2 THEN cy2-r WHEN 3 THEN cy2+r WHEN 4 THEN cy1+r
                    ELSE cy1+r END
                END AS vy
              FROM bcl, range(6) u(j)),
            ed AS (SELECT v1.k, v1.piece, v1.vx AS ex1, v1.vy AS ey1,
                          v2.vx AS ex2, v2.vy AS ey2
                   FROM pv v1 JOIN pv v2
                     ON v2.k = v1.k AND v2.piece = v1.piece
                    AND v2.j = (v1.j + 1) % 6),
            xys AS (SELECT a.k,
                a.ey1 + (((b.ex1-a.ex1)*(b.ey2-b.ey1)
                        - (b.ey1-a.ey1)*(b.ex2-b.ex1))
                       * (a.ey2-a.ey1))
                     // ((a.ex2-a.ex1)*(b.ey2-b.ey1)
                       - (a.ey2-a.ey1)*(b.ex2-b.ex1)) AS y
              FROM ed a JOIN ed b ON b.k = a.k AND a.piece < b.piece
              WHERE ((a.ex2-a.ex1)*(b.ey1-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex1-a.ex1))
                  * ((a.ex2-a.ex1)*(b.ey2-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex2-a.ex1)) < 0
                AND ((b.ex2-b.ex1)*(a.ey1-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex1-b.ex1))
                  * ((b.ex2-b.ex1)*(a.ey2-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex2-b.ex1)) < 0),
            evy AS (SELECT DISTINCT k, y FROM (
                      SELECT k, ey1 AS y FROM ed
                      UNION ALL SELECT k, y FROM xys)),
            sl AS (SELECT k, ylo, yhi, (ylo + yhi) // 2 AS ym FROM (
                     SELECT k, y AS ylo,
                            lead(y) OVER (PARTITION BY k ORDER BY y)
                              AS yhi
                     FROM evy) WHERE yhi IS NOT NULL),
            xing AS (SELECT s.k, s.ylo, s.yhi, e.piece,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ym - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xc
              FROM sl s JOIN ed e ON e.k = s.k
              WHERE least(e.ey1, e.ey2) < s.ym
                AND s.ym < greatest(e.ey1, e.ey2)),
            dl AS (SELECT k, ylo, yhi, xc,
                CASE WHEN row_number() OVER (
                  PARTITION BY k, ylo, piece ORDER BY xc) % 2 = 1
                  THEN 1 ELSE -1 END AS d
              FROM xing),
            ev AS (SELECT k, ylo, yhi, xc, SUM(d) AS dd
                   FROM dl GROUP BY k, ylo, yhi, xc),
            seg AS (SELECT k, ylo, yhi, xc,
                lead(xc) OVER (PARTITION BY k, ylo ORDER BY xc) AS xn,
                SUM(dd) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS cov
              FROM ev),
            uni AS (SELECT k,
                SUM(CASE WHEN cov >= 1 THEN (xn-xc)*(yhi-ylo)
                    ELSE 0 END) AS mu
              FROM seg WHERE xn IS NOT NULL GROUP BY k),
            lens AS (SELECT k, SUM(ABS(rx2-rx1) + ABS(ry2-ry1)) AS l1
                     FROM bed GROUP BY k)
            SELECT p.k AS line_id,
              CAST(l.l1 AS BIGINT) AS len_l1,
              CAST(2*u.mu AS BIGINT) AS buffer_area2
            FROM pr p JOIN lens l ON l.k = p.k
            JOIN uni u ON u.k = p.k
        """,
        # N-piece union sweep replay in BIGINT, pieces built
        # CLOSED-FORM: B + [0,t] for octilinear t fuses to exactly
        # 8 vertices; vertex oi advances by t iff
        # (oi - cls - 1) mod 8 < 4, cls = direction class of t.
        "minkowski_nonconvex_sum": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 43 = 6),
            pr AS (SELECT k,
                4*((k*17) % 50) AS x0, 4*((k*29) % 50) AS y0,
                4*((k*17) % 50) + 4*(16 + k % 8) AS x1,
                4*((k*29) % 50) + 4*(8 + (k*7) % 12) AS y1,
                4*(1 + (k*3) % 3) AS c,
                4*((k*17) % 50) + 4*(1 + (k*3) % 5) AS nx0,
                4*((k*17) % 50) + 4*(1 + (k*3) % 5)
                  + 4*(2 + (k*5) % 5) AS nx1,
                4*((k*29) % 50) + 4*(8 + (k*7) % 12)
                  - 4*(2 + (k*11) % 5) AS ny,
                4*(1 + (k*7) % 2) AS s
              FROM ks),
            av AS (SELECT k, i,
                CASE i WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
                       WHEN 3 THEN x1-c WHEN 4 THEN nx1 WHEN 5 THEN nx1
                       WHEN 6 THEN nx0 WHEN 7 THEN nx0 ELSE x0 END AS vx,
                CASE i WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1-c
                       WHEN 3 THEN y1 WHEN 4 THEN y1 WHEN 5 THEN ny
                       WHEN 6 THEN ny WHEN 7 THEN y1 ELSE y1 END AS vy
              FROM pr, range(9) t(i)),
            bed AS (SELECT a1.k, a1.i,
                a1.vx AS rx1, a1.vy AS ry1, a2.vx AS rx2, a2.vy AS ry2,
                CASE
                  WHEN a2.vy = a1.vy AND a2.vx > a1.vx THEN 0
                  WHEN a2.vx > a1.vx AND a2.vy > a1.vy THEN 1
                  WHEN a2.vx = a1.vx AND a2.vy > a1.vy THEN 2
                  WHEN a2.vx < a1.vx AND a2.vy > a1.vy THEN 3
                  WHEN a2.vy = a1.vy AND a2.vx < a1.vx THEN 4
                  WHEN a2.vx < a1.vx AND a2.vy < a1.vy THEN 5
                  WHEN a2.vx = a1.vx AND a2.vy < a1.vy THEN 6
                  ELSE 7 END AS cls
              FROM av a1 JOIN av a2
                ON a2.k = a1.k AND a2.i = (a1.i + 1) % 9),
            ob(oi, obx, oby) AS (SELECT * FROM (VALUES
              (0,2,0),(1,6,0),(2,8,2),(3,8,6),
              (4,6,8),(5,2,8),(6,0,6),(7,0,2))),
            pv AS (SELECT b.k, b.i + 1 AS piece, o.oi AS j,
                CASE WHEN ((o.oi - b.cls + 7) % 8) < 4
                     THEN b.rx2 ELSE b.rx1 END
                  + p.s*o.obx - 2*p.s AS vx,
                CASE WHEN ((o.oi - b.cls + 7) % 8) < 4
                     THEN b.ry2 ELSE b.ry1 END
                  + p.s*o.oby AS vy
              FROM bed b JOIN pr p USING (k), ob o),
            ded AS (SELECT v1.k, v1.piece, v1.vx AS ex1, v1.vy AS ey1,
                           v2.vx AS ex2, v2.vy AS ey2
                    FROM pv v1 JOIN pv v2
                      ON v2.k = v1.k AND v2.piece = v1.piece
                     AND v2.j = (v1.j + 1) % 8),
            ed AS (SELECT k, 0 AS piece, rx1 AS ex1, ry1 AS ey1,
                          rx2 AS ex2, ry2 AS ey2 FROM bed
                   UNION ALL
                   SELECT k, piece, ex1, ey1, ex2, ey2 FROM ded),
            xys AS (SELECT a.k,
                a.ey1 + (((b.ex1-a.ex1)*(b.ey2-b.ey1)
                        - (b.ey1-a.ey1)*(b.ex2-b.ex1))
                       * (a.ey2-a.ey1))
                     // ((a.ex2-a.ex1)*(b.ey2-b.ey1)
                       - (a.ey2-a.ey1)*(b.ex2-b.ex1)) AS y
              FROM ed a JOIN ed b ON b.k = a.k AND a.piece < b.piece
              WHERE ((a.ex2-a.ex1)*(b.ey1-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex1-a.ex1))
                  * ((a.ex2-a.ex1)*(b.ey2-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex2-a.ex1)) < 0
                AND ((b.ex2-b.ex1)*(a.ey1-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex1-b.ex1))
                  * ((b.ex2-b.ex1)*(a.ey2-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex2-b.ex1)) < 0),
            evy AS (SELECT DISTINCT k, y FROM (
                      SELECT k, ey1 AS y FROM ed
                      UNION ALL SELECT k, y FROM xys)),
            sl AS (SELECT k, ylo, yhi, (ylo + yhi) // 2 AS ym FROM (
                     SELECT k, y AS ylo,
                            lead(y) OVER (PARTITION BY k ORDER BY y)
                              AS yhi
                     FROM evy) WHERE yhi IS NOT NULL),
            xing AS (SELECT s.k, s.ylo, s.yhi, e.piece,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ym - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xc
              FROM sl s JOIN ed e ON e.k = s.k
              WHERE least(e.ey1, e.ey2) < s.ym
                AND s.ym < greatest(e.ey1, e.ey2)),
            dl AS (SELECT k, ylo, yhi, xc,
                CASE WHEN row_number() OVER (
                  PARTITION BY k, ylo, piece ORDER BY xc) % 2 = 1
                  THEN 1 ELSE -1 END AS d
              FROM xing),
            ev AS (SELECT k, ylo, yhi, xc, SUM(d) AS dd
                   FROM dl GROUP BY k, ylo, yhi, xc),
            seg AS (SELECT k, ylo, yhi, xc,
                lead(xc) OVER (PARTITION BY k, ylo ORDER BY xc) AS xn,
                SUM(dd) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS cov
              FROM ev),
            uni AS (SELECT k,
                SUM(CASE WHEN cov >= 1 THEN (xn-xc)*(yhi-ylo)
                    ELSE 0 END) AS mu
              FROM seg WHERE xn IS NOT NULL GROUP BY k),
            base AS (SELECT k, ABS(SUM(rx1*ry2 - rx2*ry1)) AS b2
                     FROM bed GROUP BY k)
            SELECT p.k AS pair_id,
              CAST(b.b2 AS BIGINT) AS a_area2,
              CAST(2*u.mu AS BIGINT) AS sum_area2
            FROM pr p JOIN base b ON b.k = p.k
            JOIN uni u ON u.k = p.k
        """,
        # N-piece union sweep replay in BIGINT: pieces = base ring +
        # one square-dilation hull per edge (axis edges -> rects, the
        # beveled 45-degree edge -> a hexagon, built by canonical
        # direction CASE). Coordinates and radii are multiples of 4,
        # so every cross-piece crossing (even 45x45) lands on an EVEN
        # integer and every slab midline is an exact BIGINT.
        "offset_sweep_square": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 37 = 4),
            pr AS (SELECT k,
                4*((k*17) % 50) AS x0, 4*((k*29) % 50) AS y0,
                4*((k*17) % 50) + 4*(16 + k % 8) AS x1,
                4*((k*29) % 50) + 4*(8 + (k*7) % 12) AS y1,
                4*(1 + (k*3) % 3) AS c,
                4*((k*17) % 50) + 4*(1 + (k*3) % 5) AS nx0,
                4*((k*17) % 50) + 4*(1 + (k*3) % 5)
                  + 4*(2 + (k*5) % 5) AS nx1,
                4*((k*29) % 50) + 4*(8 + (k*7) % 12)
                  - 4*(2 + (k*11) % 5) AS ny,
                4*(1 + k % 2) AS r
              FROM ks),
            av AS (SELECT k, i,
                CASE i WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
                       WHEN 3 THEN x1-c WHEN 4 THEN nx1 WHEN 5 THEN nx1
                       WHEN 6 THEN nx0 WHEN 7 THEN nx0 ELSE x0 END AS vx,
                CASE i WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1-c
                       WHEN 3 THEN y1 WHEN 4 THEN y1 WHEN 5 THEN ny
                       WHEN 6 THEN ny WHEN 7 THEN y1 ELSE y1 END AS vy
              FROM pr, range(9) t(i)),
            bed AS (SELECT a1.k, a1.i,
                a1.vx AS rx1, a1.vy AS ry1, a2.vx AS rx2, a2.vy AS ry2,
                CASE WHEN (a2.vx < a1.vx)
                       OR (a2.vx = a1.vx AND a2.vy < a1.vy)
                     THEN a2.vx ELSE a1.vx END AS cx1,
                CASE WHEN (a2.vx < a1.vx)
                       OR (a2.vx = a1.vx AND a2.vy < a1.vy)
                     THEN a2.vy ELSE a1.vy END AS cy1,
                CASE WHEN (a2.vx < a1.vx)
                       OR (a2.vx = a1.vx AND a2.vy < a1.vy)
                     THEN a1.vx ELSE a2.vx END AS cx2,
                CASE WHEN (a2.vx < a1.vx)
                       OR (a2.vx = a1.vx AND a2.vy < a1.vy)
                     THEN a1.vy ELSE a2.vy END AS cy2
              FROM av a1 JOIN av a2
                ON a2.k = a1.k AND a2.i = (a1.i + 1) % 9),
            bcl AS (SELECT b.*, p.r,
                CASE WHEN cy2 = cy1 THEN 0 WHEN cx2 = cx1 THEN 1
                     WHEN cy2 > cy1 THEN 2 ELSE 3 END AS cls
              FROM bed b JOIN pr p USING (k)),
            pv AS (SELECT k, i + 1 AS piece, j,
                CASE cls
                  WHEN 0 THEN CASE j WHEN 0 THEN cx1-r WHEN 1 THEN cx2+r
                    WHEN 2 THEN cx2+r ELSE cx1-r END
                  WHEN 1 THEN CASE j WHEN 0 THEN cx1-r WHEN 1 THEN cx1+r
                    WHEN 2 THEN cx1+r ELSE cx1-r END
                  WHEN 2 THEN CASE j WHEN 0 THEN cx1-r WHEN 1 THEN cx1+r
                    WHEN 2 THEN cx2+r WHEN 3 THEN cx2+r WHEN 4 THEN cx2-r
                    ELSE cx1-r END
                  ELSE CASE j WHEN 0 THEN cx1-r WHEN 1 THEN cx2-r
                    WHEN 2 THEN cx2+r WHEN 3 THEN cx2+r WHEN 4 THEN cx1+r
                    ELSE cx1-r END
                END AS vx,
                CASE cls
                  WHEN 0 THEN CASE j WHEN 0 THEN cy1-r WHEN 1 THEN cy1-r
                    WHEN 2 THEN cy1+r ELSE cy1+r END
                  WHEN 1 THEN CASE j WHEN 0 THEN cy1-r WHEN 1 THEN cy1-r
                    WHEN 2 THEN cy2+r ELSE cy2+r END
                  WHEN 2 THEN CASE j WHEN 0 THEN cy1-r WHEN 1 THEN cy1-r
                    WHEN 2 THEN cy2-r WHEN 3 THEN cy2+r WHEN 4 THEN cy2+r
                    ELSE cy1+r END
                  ELSE CASE j WHEN 0 THEN cy1-r WHEN 1 THEN cy2-r
                    WHEN 2 THEN cy2-r WHEN 3 THEN cy2+r WHEN 4 THEN cy1+r
                    ELSE cy1+r END
                END AS vy
              FROM bcl, range(6) u(j)),
            ded AS (SELECT v1.k, v1.piece, v1.vx AS ex1, v1.vy AS ey1,
                           v2.vx AS ex2, v2.vy AS ey2
                    FROM pv v1 JOIN pv v2
                      ON v2.k = v1.k AND v2.piece = v1.piece
                     AND v2.j = (v1.j + 1) % 6),
            ed AS (SELECT k, 0 AS piece, rx1 AS ex1, ry1 AS ey1,
                          rx2 AS ex2, ry2 AS ey2 FROM bed
                   UNION ALL
                   SELECT k, piece, ex1, ey1, ex2, ey2 FROM ded),
            xys AS (SELECT a.k,
                a.ey1 + (((b.ex1-a.ex1)*(b.ey2-b.ey1)
                        - (b.ey1-a.ey1)*(b.ex2-b.ex1))
                       * (a.ey2-a.ey1))
                     // ((a.ex2-a.ex1)*(b.ey2-b.ey1)
                       - (a.ey2-a.ey1)*(b.ex2-b.ex1)) AS y
              FROM ed a JOIN ed b ON b.k = a.k AND a.piece < b.piece
              WHERE ((a.ex2-a.ex1)*(b.ey1-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex1-a.ex1))
                  * ((a.ex2-a.ex1)*(b.ey2-a.ey1)
                   - (a.ey2-a.ey1)*(b.ex2-a.ex1)) < 0
                AND ((b.ex2-b.ex1)*(a.ey1-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex1-b.ex1))
                  * ((b.ex2-b.ex1)*(a.ey2-b.ey1)
                   - (b.ey2-b.ey1)*(a.ex2-b.ex1)) < 0),
            evy AS (SELECT DISTINCT k, y FROM (
                      SELECT k, ey1 AS y FROM ed
                      UNION ALL SELECT k, y FROM xys)),
            sl AS (SELECT k, ylo, yhi, (ylo + yhi) // 2 AS ym FROM (
                     SELECT k, y AS ylo,
                            lead(y) OVER (PARTITION BY k ORDER BY y)
                              AS yhi
                     FROM evy) WHERE yhi IS NOT NULL),
            xing AS (SELECT s.k, s.ylo, s.yhi, e.piece,
                e.ex1 + CASE WHEN e.ey2 = e.ey1 THEN 0
                  ELSE (s.ym - e.ey1) * ((e.ex2-e.ex1) // (e.ey2-e.ey1))
                  END AS xc
              FROM sl s JOIN ed e ON e.k = s.k
              WHERE least(e.ey1, e.ey2) < s.ym
                AND s.ym < greatest(e.ey1, e.ey2)),
            dl AS (SELECT k, ylo, yhi, xc,
                CASE WHEN row_number() OVER (
                  PARTITION BY k, ylo, piece ORDER BY xc) % 2 = 1
                  THEN 1 ELSE -1 END AS d
              FROM xing),
            ev AS (SELECT k, ylo, yhi, xc, SUM(d) AS dd
                   FROM dl GROUP BY k, ylo, yhi, xc),
            seg AS (SELECT k, ylo, yhi, xc,
                lead(xc) OVER (PARTITION BY k, ylo ORDER BY xc) AS xn,
                SUM(dd) OVER (PARTITION BY k, ylo ORDER BY xc
                              ROWS UNBOUNDED PRECEDING) AS cov
              FROM ev),
            uni AS (SELECT k,
                SUM(CASE WHEN cov >= 1 THEN (xn-xc)*(yhi-ylo)
                    ELSE 0 END) AS mu
              FROM seg WHERE xn IS NOT NULL GROUP BY k),
            base AS (SELECT k, ABS(SUM(rx1*ry2 - rx2*ry1)) AS b2
                     FROM bed GROUP BY k)
            SELECT p.k AS ring_id,
              CAST(b.b2 AS BIGINT) AS base_area2,
              CAST(2*u.mu AS BIGINT) AS offset_area2
            FROM pr p JOIN base b ON b.k = p.k
            JOIN uni u ON u.k = p.k
        """,
        "poly_union_area": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 13 = 1),
            pr AS (SELECT k,
                (k*17) % 240 AS x0, (k*29) % 240 AS y0,
                (k*17) % 240 + 2 + (k % 40)*2 AS x1,
                (k*29) % 240 + 2 + ((k*7) % 40)*2 AS y1,
                2 + 2*(k % 5) AS s,
                2*((k*3) % 120) AS tx, 2*((k*11) % 120) AS ty
              FROM ks),
            av AS (SELECT k, i,
                CASE i WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
                       ELSE x0 END AS vx,
                CASE i WHEN 0 THEN y0 WHEN 1 THEN y0 ELSE y1 END AS vy
              FROM pr, range(4) t(i)),
            ob(i, ox, oy) AS (SELECT * FROM (VALUES
              (0,2,0),(1,6,0),(2,8,2),(3,8,6),
              (4,6,8),(5,2,8),(6,0,6),(7,0,2))),
            bv AS (SELECT k, i, ox*s + tx AS vx, oy*s + ty AS vy
                   FROM pr, ob),
            ae AS (SELECT a1.k, a1.vx AS ex1, a1.vy AS ey1,
                          a2.vx AS ex2, a2.vy AS ey2
                   FROM av a1 JOIN av a2
                     ON a2.k = a1.k AND a2.i = (a1.i + 1) % 4),
            be AS (SELECT b1.k, b1.vx AS ex1, b1.vy AS ey1,
                          b2.vx AS ex2, b2.vy AS ey2
                   FROM bv b1 JOIN bv b2
                     ON b2.k = b1.k AND b2.i = (b1.i + 1) % 8),
            ain AS (SELECT v.k, v.vx, v.vy FROM av v JOIN be e ON e.k = v.k
                    GROUP BY v.k, v.vx, v.vy
                    HAVING min((e.ex2-e.ex1)*(v.vy-e.ey1)
                             - (e.ey2-e.ey1)*(v.vx-e.ex1)) >= 0),
            bin AS (SELECT v.k, v.vx, v.vy FROM bv v JOIN pr p ON p.k = v.k
                    WHERE v.vx BETWEEN p.x0 AND p.x1
                      AND v.vy BETWEEN p.y0 AND p.y1),
            xr0 AS (SELECT a.k, a.ex1, a.ey1, a.ex2, a.ey2,
                CAST((b.ex1-a.ex1)*(b.ey2-b.ey1)
                   - (b.ey1-a.ey1)*(b.ex2-b.ex1) AS DOUBLE)
                / ((a.ex2-a.ex1)*(b.ey2-b.ey1)
                 - (a.ey2-a.ey1)*(b.ex2-b.ex1)) AS t,
                CAST((b.ex1-a.ex1)*(a.ey2-a.ey1)
                   - (b.ey1-a.ey1)*(a.ex2-a.ex1) AS DOUBLE)
                / ((a.ex2-a.ex1)*(b.ey2-b.ey1)
                 - (a.ey2-a.ey1)*(b.ex2-b.ex1)) AS u
               FROM ae a JOIN be b ON b.k = a.k
               WHERE (a.ex2-a.ex1)*(b.ey2-b.ey1)
                   - (a.ey2-a.ey1)*(b.ex2-b.ex1) <> 0),
            xx AS (SELECT k,
                CAST(round(ex1 + t*(ex2-ex1)) AS BIGINT) AS vx,
                CAST(round(ey1 + t*(ey2-ey1)) AS BIGINT) AS vy
               FROM xr0 WHERE t BETWEEN 0 AND 1 AND u BETWEEN 0 AND 1),
            cand AS (
              SELECT k, CAST(vx AS BIGINT) AS vx, CAST(vy AS BIGINT) AS vy
                FROM ain
              UNION
              SELECT k, CAST(vx AS BIGINT), CAST(vy AS BIGINT) FROM bin
              UNION
              SELECT k, vx, vy FROM xx),
            ctr AS (SELECT k, avg(vx) AS cx, avg(vy) AS cy, count(*) AS n
                    FROM cand GROUP BY k),
            op AS (SELECT c.k, c.vx, c.vy, t.n,
                row_number() OVER (PARTITION BY c.k ORDER BY
                  atan2(CAST(c.vy AS DOUBLE) - t.cy,
                        CAST(c.vx AS DOUBLE) - t.cx),
                  (c.vx-t.cx)*(c.vx-t.cx) + (c.vy-t.cy)*(c.vy-t.cy)) AS rn
               FROM cand c JOIN ctr t USING (k)),
            shoe AS (SELECT p.k, SUM(p.vx*q.vy - q.vx*p.vy) AS raw,
                            max(p.n) AS n
                     FROM op p JOIN op q
                       ON q.k = p.k AND q.rn = p.rn % p.n + 1
                     GROUP BY p.k),
            inter AS (SELECT p.k,
                COALESCE(CASE WHEN s.n >= 3 THEN GREATEST(s.raw, 0)
                              ELSE 0 END, 0) AS i2
               FROM pr p LEFT JOIN shoe s ON s.k = p.k),
            ncr AS (SELECT a.k, count(*) AS nx
                    FROM ae a JOIN be b ON b.k = a.k
                    WHERE ((a.ex2-a.ex1)*(b.ey1-a.ey1)
                         - (a.ey2-a.ey1)*(b.ex1-a.ex1))
                        * ((a.ex2-a.ex1)*(b.ey2-a.ey1)
                         - (a.ey2-a.ey1)*(b.ex2-a.ex1)) < 0
                      AND ((b.ex2-b.ex1)*(a.ey1-b.ey1)
                         - (b.ey2-b.ey1)*(a.ex1-b.ex1))
                        * ((b.ex2-b.ex1)*(a.ey2-b.ey1)
                         - (b.ey2-b.ey1)*(a.ex2-b.ex1)) < 0
                    GROUP BY a.k)
            SELECT p.k AS pair_id,
              CAST(i.i2 AS BIGINT) AS inter_area2,
              CAST(2*(p.x1-p.x0)*(p.y1-p.y0) + 112*p.s*p.s - i.i2
                   AS BIGINT) AS union_area2,
              CAST(CASE WHEN i.i2 > 0 THEN 1 ELSE 2 END AS INT) AS n_rings,
              CAST(COALESCE(x.nx, 0) AS INT) AS n_cross
            FROM pr p JOIN inter i ON i.k = p.k
            LEFT JOIN ncr x ON x.k = p.k
        """,
        # INDEPENDENT identity replay (not an edge-merge rerun):
        # 2 area(A⊕B) = 2aA + 2aB + Σ cross(earlier, later) over A×B
        # edge pairs in polar-angle order; n_verts = |A|+|B|−#fused
        "minkowski_sum_area": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 23 = 7),
            pp AS (SELECT k, 4 + k % 17 AS p, (k*5) % 23 AS q,
                          3 + (k*7) % 13 AS r, 1 + k % 5 AS s,
                          (k*3) % 100 AS tx, (k*11) % 100 AS ty
                   FROM ks),
            tv AS (SELECT k, i,
                CASE i WHEN 0 THEN 0 WHEN 1 THEN p ELSE q END AS vx,
                CASE i WHEN 0 THEN 0 WHEN 1 THEN 0 ELSE r END AS vy
              FROM pp, range(3) t(i)),
            ob(i, ox, oy) AS (SELECT * FROM (VALUES
              (0,2,0),(1,6,0),(2,8,2),(3,8,6),
              (4,6,8),(5,2,8),(6,0,6),(7,0,2))),
            bv AS (SELECT k, i, ox*s + tx AS vx, oy*s + ty AS vy
                   FROM pp, ob),
            ae AS (SELECT a1.k, a2.vx - a1.vx AS ex, a2.vy - a1.vy AS ey
                   FROM tv a1 JOIN tv a2
                     ON a2.k = a1.k AND a2.i = (a1.i + 1) % 3),
            be AS (SELECT b1.k, b2.vx - b1.vx AS ex, b2.vy - b1.vy AS ey
                   FROM bv b1 JOIN bv b2
                     ON b2.k = b1.k AND b2.i = (b1.i + 1) % 8),
            aa AS (SELECT a1.k,
                     SUM(a1.vx*a2.vy - a2.vx*a1.vy) AS a2x
                   FROM tv a1 JOIN tv a2
                     ON a2.k = a1.k AND a2.i = (a1.i + 1) % 3
                   GROUP BY a1.k),
            bb AS (SELECT b1.k,
                     SUM(b1.vx*b2.vy - b2.vx*b1.vy) AS b2x
                   FROM bv b1 JOIN bv b2
                     ON b2.k = b1.k AND b2.i = (b1.i + 1) % 8
                   GROUP BY b1.k),
            mix AS (SELECT a.k,
                SUM(CASE WHEN
                      (CASE WHEN atan2(CAST(a.ey AS DOUBLE),
                                       CAST(a.ex AS DOUBLE)) < 0
                            THEN atan2(CAST(a.ey AS DOUBLE),
                                       CAST(a.ex AS DOUBLE)) + 2*pi()
                            ELSE atan2(CAST(a.ey AS DOUBLE),
                                       CAST(a.ex AS DOUBLE)) END)
                      <
                      (CASE WHEN atan2(CAST(b.ey AS DOUBLE),
                                       CAST(b.ex AS DOUBLE)) < 0
                            THEN atan2(CAST(b.ey AS DOUBLE),
                                       CAST(b.ex AS DOUBLE)) + 2*pi()
                            ELSE atan2(CAST(b.ey AS DOUBLE),
                                       CAST(b.ex AS DOUBLE)) END)
                     THEN a.ex*b.ey - a.ey*b.ex
                     ELSE -(a.ex*b.ey - a.ey*b.ex) END) AS mixed
               FROM ae a JOIN be b ON b.k = a.k
               GROUP BY a.k),
            par AS (SELECT a.k, count(*) AS np
                    FROM ae a JOIN be b ON b.k = a.k
                    WHERE a.ex*b.ey - a.ey*b.ex = 0
                      AND a.ex*b.ex + a.ey*b.ey > 0
                    GROUP BY a.k)
            SELECT m.k AS pair_id,
              CAST(aa.a2x + bb.b2x + m.mixed AS BIGINT) AS sum_area2,
              CAST(3 + 8 - COALESCE(par.np, 0) AS INT) AS n_verts
            FROM mix m JOIN aa ON aa.k = m.k JOIN bb ON bb.k = m.k
            LEFT JOIN par ON par.k = m.k
        """,
        # coordinate-compressed coverage replay: compressed cells from
        # lead() windows, covering-rect counts per cell, area sums by
        # the same cnt>=1 / cnt>=2 / cnt=1 rules — all integer
        "rect_union_coverage": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 97 = 5),
            r AS (SELECT k % 12 AS g,
                (k*7) % 20 AS x0, (k*13) % 20 AS y0,
                (k*7) % 20 + 1 + (k % 9) AS x1,
                (k*13) % 20 + 1 + ((k*3) % 9) AS y1
              FROM ks),
            xs AS (SELECT DISTINCT g, x FROM (
                SELECT g, x0 AS x FROM r UNION ALL SELECT g, x1 FROM r)),
            xc AS (SELECT g, x AS cx0,
                     lead(x) OVER (PARTITION BY g ORDER BY x) AS cx1
                   FROM xs),
            ys AS (SELECT DISTINCT g, y FROM (
                SELECT g, y0 AS y FROM r UNION ALL SELECT g, y1 FROM r)),
            yc AS (SELECT g, y AS cy0,
                     lead(y) OVER (PARTITION BY g ORDER BY y) AS cy1
                   FROM ys),
            cells AS (SELECT xc.g, cx0, cx1, cy0, cy1
                      FROM xc JOIN yc ON yc.g = xc.g
                      WHERE cx1 IS NOT NULL AND cy1 IS NOT NULL),
            cov AS (SELECT c.g, c.cx0, c.cy0, c.cx1, c.cy1,
                      count(r.x0) AS cnt
                    FROM cells c LEFT JOIN r
                      ON r.g = c.g AND r.x0 <= c.cx0 AND r.x1 >= c.cx1
                     AND r.y0 <= c.cy0 AND r.y1 >= c.cy1
                    GROUP BY ALL),
            nr AS (SELECT g, count(*) AS n_rects FROM r GROUP BY g)
            SELECT n.g AS group_id,
              CAST(n.n_rects AS BIGINT) AS n_rects,
              CAST(COALESCE(SUM((cx1-cx0)*(cy1-cy0))
                FILTER (WHERE cnt >= 1), 0) AS BIGINT) AS union_area,
              CAST(COALESCE(SUM((cx1-cx0)*(cy1-cy0))
                FILTER (WHERE cnt >= 2), 0) AS BIGINT) AS overlap_area,
              CAST(COALESCE(SUM((cx1-cx0)*(cy1-cy0))
                FILTER (WHERE cnt = 1), 0) AS BIGINT) AS xor_area
            FROM nr n JOIN cov ON cov.g = n.g
            GROUP BY n.g, n.n_rects
        """,
        # square-join offset replay on the L-shape corpus (r = 2):
        # same compressed grid ({v, v-2, v+2} coords), vertical-edge
        # crossing parity for the interior, dilated-edge-rect EXISTS
        # for the boundary band — integer cell areas throughout
        "offset_rectilinear_square": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 53 = 2),
            pp AS (SELECT k, 6 + 2*(k % 8) AS a, 2 + (k*3) % 4 AS b,
                          6 + 2*((k*5) % 8) AS d, 2 + (k*7) % 4 AS c
                   FROM ks),
            v AS (SELECT k, i,
                CASE i WHEN 0 THEN 0 WHEN 1 THEN a WHEN 2 THEN a
                       WHEN 3 THEN b WHEN 4 THEN b ELSE 0 END AS vx,
                CASE i WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN c
                       WHEN 3 THEN c ELSE d END AS vy
              FROM pp, range(6) t(i)),
            e AS (SELECT v1.k, v1.vx AS ex1, v1.vy AS ey1,
                         v2.vx AS ex2, v2.vy AS ey2
                  FROM v v1 JOIN v v2
                    ON v2.k = v1.k AND v2.i = (v1.i + 1) % 6),
            xs AS (SELECT DISTINCT k, x FROM (
                SELECT k, vx AS x FROM v
                UNION ALL SELECT k, vx - 2 FROM v
                UNION ALL SELECT k, vx + 2 FROM v)),
            xc AS (SELECT k, x AS cx0,
                     lead(x) OVER (PARTITION BY k ORDER BY x) AS cx1
                   FROM xs),
            ys AS (SELECT DISTINCT k, y FROM (
                SELECT k, vy AS y FROM v
                UNION ALL SELECT k, vy - 2 FROM v
                UNION ALL SELECT k, vy + 2 FROM v)),
            yc AS (SELECT k, y AS cy0,
                     lead(y) OVER (PARTITION BY k ORDER BY y) AS cy1
                   FROM ys),
            cells AS (SELECT xc.k, cx0, cx1, cy0, cy1,
                        (cx0 + cx1)/2.0 AS mx, (cy0 + cy1)/2.0 AS my
                      FROM xc JOIN yc ON yc.k = xc.k
                      WHERE cx1 IS NOT NULL AND cy1 IS NOT NULL),
            pip AS (SELECT c.k, c.cx0, c.cy0, c.cx1, c.cy1,
                SUM(CASE WHEN e.ex1 = e.ex2 AND e.ex1 > c.mx
                      AND least(e.ey1, e.ey2) < c.my
                      AND greatest(e.ey1, e.ey2) > c.my
                     THEN 1 ELSE 0 END) % 2 = 1 AS inside,
                bool_or(c.mx >= least(e.ex1, e.ex2) - 2
                    AND c.mx <= greatest(e.ex1, e.ex2) + 2
                    AND c.my >= least(e.ey1, e.ey2) - 2
                    AND c.my <= greatest(e.ey1, e.ey2) + 2) AS near
               FROM cells c JOIN e ON e.k = c.k
               GROUP BY ALL)
            SELECT k AS ring_id,
              CAST(SUM(CASE WHEN inside
                THEN (cx1-cx0)*(cy1-cy0) ELSE 0 END) AS BIGINT) AS base_area,
              CAST(SUM(CASE WHEN inside OR near
                THEN (cx1-cx0)*(cy1-cy0) ELSE 0 END)
                AS BIGINT) AS offset_area
            FROM pip GROUP BY k
        """,
        "repeated_spans": f"""
            WITH {_SPAN_BASE},
            agg AS (SELECT span_key,
                CAST(COUNT(*) AS BIGINT) AS n_occ,
                CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                MIN(doc_id * 1000000 + pos) AS loc
              FROM spans GROUP BY 1)
            SELECT span_key, n_occ, n_docs,
              CAST(loc // 1000000 AS BIGINT) AS first_doc,
              CAST(loc % 1000000 AS BIGINT) AS first_pos
            FROM agg WHERE n_docs >= 2
        """,
        "span_dedup_profile": f"""
            WITH {_SPAN_BASE},
            dup AS (SELECT span_key FROM spans
                    GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
            per AS (SELECT s.doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_spans,
                CAST(COUNT(d.span_key) AS BIGINT) AS n_dup_spans
              FROM spans s LEFT JOIN dup d USING (span_key)
              GROUP BY 1)
            SELECT doc_id, n_spans, n_dup_spans,
              ROUND(n_dup_spans / CAST(n_spans AS DOUBLE), 6) AS dup_ratio
            FROM per
        """,
        "incremental_tile_rebuild": f"""
            WITH old_pts AS ({_EVENT_PTS}),
            new_pts AS (SELECT event_id,
                ((event_id*3) % 3600)/10.0 - 179.947 AS lng,
                ((event_id*11) % 1600)/10.0 - 79.947 AS lat FROM events),
            old_t AS (SELECT event_id,
              CAST(GREATEST(0, LEAST(63, FLOOR({gx6} / 4096))) AS INT) AS x,
              CAST(GREATEST(0, LEAST(63, FLOOR({gy6} / 4096))) AS INT) AS y
              FROM old_pts),
            new_t AS (SELECT event_id,
              CAST(GREATEST(0, LEAST(63, FLOOR({gx6} / 4096))) AS INT) AS x,
              CAST(GREATEST(0, LEAST(63, FLOOR({gy6} / 4096))) AS INT) AS y
              FROM new_pts),
            locs AS (
              SELECT x, y FROM old_t WHERE event_id % 13 = 0
              UNION ALL SELECT x, y FROM old_t
                WHERE event_id % 13 <> 0 AND event_id % 7 = 0
              UNION ALL SELECT x, y FROM new_t
                WHERE event_id % 13 <> 0 AND event_id % 7 = 0
              UNION ALL SELECT x, y FROM new_t WHERE event_id % 17 = 0),
            dirty AS (SELECT DISTINCT * FROM ({_inc_dirty})),
            after_t AS (
              SELECT x, y FROM old_t
                WHERE event_id % 13 <> 0 AND event_id % 7 <> 0
              UNION ALL SELECT x, y FROM new_t
                WHERE event_id % 13 <> 0 AND event_id % 7 = 0
              UNION ALL SELECT x, y FROM new_t WHERE event_id % 17 = 0),
            cnt AS (SELECT zoom, x, y, CAST(COUNT(*) AS BIGINT) AS n_points
                    FROM ({_inc_counts}) GROUP BY 1, 2, 3)
            SELECT CAST(d.zoom AS INT) AS zoom, d.x, d.y,
              CAST(COALESCE(c.n_points, 0) AS BIGINT) AS n_points
            FROM dirty d LEFT JOIN cnt c USING (zoom, x, y)
        """,
        "adaptive_cover_events": _ad_sql,
        "doc_search_postings": """
            WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  AS term
              FROM documents)
            SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE term != '' GROUP BY 1, 2
        """,
        "doc_search_and": """
            WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  AS term
              FROM documents),
            p AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
                  FROM toks WHERE term != '' GROUP BY 1, 2),
            hits AS (SELECT doc_id,
                COUNT(DISTINCT term) AS nt, SUM(tf) AS total
              FROM p WHERE term IN ('hash', 'join', 'scan')
              GROUP BY 1)
            SELECT doc_id, CAST(nt AS BIGINT) AS n_terms_matched,
              CAST(total AS BIGINT) AS total_tf
            FROM hits WHERE nt = 3
        """,
        "snap_nearest_segment": """
            WITH pts AS (SELECT event_id AS point_id,
                CAST((event_id * 48271) % 4096 AS DOUBLE) AS px,
                CAST((event_id * 69621) % 4096 AS DOUBLE) AS py
              FROM events),
            segs AS (SELECT CAST(i AS INT) AS seg_id,
                CAST((i * 7919) % 4096 AS DOUBLE) AS ax,
                CAST((i * 104729) % 4096 AS DOUBLE) AS ay,
                CAST((i * 7919) % 4096
                  + CASE WHEN i = 0 THEN 0 ELSE (i * 131) % 512 - 256 END
                  AS DOUBLE) AS bx,
                CAST((i * 104729) % 4096
                  + CASE WHEN i = 0 THEN 0 ELSE (i * 211) % 512 - 256 END
                  AS DOUBLE) AS by
              FROM (SELECT CAST(range AS BIGINT) AS i FROM range(200))),
            d AS (SELECT point_id,
                CAST(ROUND(((px - (ax + t * dx)) * (px - (ax + t * dx))
                          + (py - (ay + t * dy)) * (py - (ay + t * dy)))
                          * 10000, 0) AS BIGINT) AS d2s,
                CAST(seg_id AS BIGINT) AS sid
              FROM (SELECT point_id, px, py, seg_id, ax, ay, dx, dy,
                  LEAST(1.0, GREATEST(0.0,
                    ((px - ax) * dx + (py - ay) * dy)
                    / (CASE WHEN dx * dx + dy * dy = 0 THEN 1.0
                            ELSE dx * dx + dy * dy END))) AS t
                FROM (SELECT p.point_id, p.px, p.py, s.seg_id, s.ax, s.ay,
                        s.bx - s.ax AS dx, s.by - s.ay AS dy
                      FROM pts p CROSS JOIN segs s))),
            best AS (SELECT point_id,
                MIN(d2s * 100000 + sid) AS pack
              FROM d WHERE d2s <= 64 * 64 * 10000 GROUP BY 1)
            SELECT point_id,
              CAST(pack % 100000 AS BIGINT) AS seg_id,
              CAST(pack // 100000 AS BIGINT) AS dist2_x10k
            FROM best
        """,
        "snap_topk_segments": """
            WITH pts AS (SELECT event_id AS point_id,
                CAST((event_id * 48271) % 4096 AS DOUBLE) AS px,
                CAST((event_id * 69621) % 4096 AS DOUBLE) AS py
              FROM events),
            segs AS (SELECT CAST(i AS INT) AS seg_id,
                CAST((i * 7919) % 4096 AS DOUBLE) AS ax,
                CAST((i * 104729) % 4096 AS DOUBLE) AS ay,
                CAST((i * 7919) % 4096
                  + CASE WHEN i = 0 THEN 0 ELSE (i * 131) % 512 - 256 END
                  AS DOUBLE) AS bx,
                CAST((i * 104729) % 4096
                  + CASE WHEN i = 0 THEN 0 ELSE (i * 211) % 512 - 256 END
                  AS DOUBLE) AS by
              FROM (SELECT CAST(range AS BIGINT) AS i FROM range(200))),
            d AS (SELECT point_id,
                CAST(ROUND(((px - (ax + t * dx)) * (px - (ax + t * dx))
                          + (py - (ay + t * dy)) * (py - (ay + t * dy)))
                          * 10000, 0) AS BIGINT) AS d2s,
                CAST(seg_id AS BIGINT) AS sid
              FROM (SELECT point_id, px, py, seg_id, ax, ay, dx, dy,
                  LEAST(1.0, GREATEST(0.0,
                    ((px - ax) * dx + (py - ay) * dy)
                    / (CASE WHEN dx * dx + dy * dy = 0 THEN 1.0
                            ELSE dx * dx + dy * dy END))) AS t
                FROM (SELECT p.point_id, p.px, p.py, s.seg_id, s.ax, s.ay,
                        s.bx - s.ax AS dx, s.by - s.ay AS dy
                      FROM pts p CROSS JOIN segs s))),
            rk AS (SELECT point_id, d2s, sid,
                row_number() OVER (PARTITION BY point_id
                                   ORDER BY d2s, sid) AS rank
              FROM d WHERE d2s <= 64 * 64 * 10000)
            SELECT point_id, CAST(rank AS INT) AS rank,
              CAST(sid AS BIGINT) AS seg_id,
              CAST(d2s AS BIGINT) AS dist2_x10k
            FROM rk WHERE rank <= 4
        """,
        "jpeg_roundtrip_psnr": f"""
            SELECT image_id,
              CAST(n_px AS BIGINT) AS n_px,
              CAST(sum_abs_err AS BIGINT) AS sum_abs_err,
              CAST(enc_len AS BIGINT) AS enc_len,
              CAST(psnr_x100 AS BIGINT) AS psnr_x100,
              psnr_x100 >= 4000 AS psnr_ok
            FROM (VALUES {_JFIF_GOLDENS})
              v(image_id, n_px, sum_abs_err, enc_len, psnr_x100)
        """,
        "lossy_420_psnr": f"""
            SELECT image_id,
              CAST(n_px AS BIGINT) AS n_px,
              CAST(sum_abs_err AS BIGINT) AS sum_abs_err,
              CAST(enc_len AS BIGINT) AS enc_len,
              CAST(psnr_x100 AS BIGINT) AS psnr_x100,
              psnr_x100 >= 4000 AS psnr_ok,
              enc_len * 8 <= n_px * 3 AS ratio_ok
            FROM (VALUES {_MRJ2_GOLDENS})
              v(image_id, n_px, sum_abs_err, enc_len, psnr_x100)
        """,
        "lossy_roundtrip_psnr": f"""
            SELECT image_id,
              CAST(n_px AS BIGINT) AS n_px,
              CAST(sum_abs_err AS BIGINT) AS sum_abs_err,
              CAST(enc_len AS BIGINT) AS enc_len,
              CAST(psnr_x100 AS BIGINT) AS psnr_x100,
              psnr_x100 >= 4000 AS psnr_ok
            FROM (VALUES {_MRJ_GOLDENS})
              v(image_id, n_px, sum_abs_err, enc_len, psnr_x100)
        """,
        "raster_passthrough": """
            SELECT CAST(fid AS BIGINT) AS feature_id,
              CAST((fid * 31) % 4096 AS BIGINT) AS px,
              CAST((fid * 17) % 4096 AS BIGINT) AS py,
              CAST(9 + (fid % 57) AS BIGINT) AS raster_len,
              md5('R' || lpad(CAST(fid AS VARCHAR), 8, '0')
                  || repeat('x', fid % 57)) AS raster_md5
            FROM (SELECT CAST(range + 1 AS BIGINT) AS fid FROM range(64))
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
              COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   o_orderpriority,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-03-15'
              AND l_shipdate > TIMESTAMP '1997-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_region_revenue": """
            SELECT n_name,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
            FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
        """,
        "semi_join_customers": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        """,
        "anti_join_customers": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
              FROM orders) WHERE rank <= 3
        """,
        "running_customer_spend": """
            SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
            FROM orders
        """,
        "rollup_order_priority": """
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """,
        "nations_set_ops": """
            SELECT DISTINCT n_name FROM (
              SELECT n_name FROM (
                SELECT n_name FROM nation WHERE EXISTS
                  (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
                INTERSECT
                SELECT n_name FROM nation WHERE EXISTS
                  (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
                UNION ALL
                SELECT n_name FROM nation WHERE n_regionkey = 0
              )
              EXCEPT ALL
              SELECT n_name FROM nation WHERE n_regionkey = 4
            )
        """,
        "distinct_users_by_type": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "events_hourly": """
            SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_bucket,
                   event_type, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sessionize_events": """
            WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
            g AS (
              SELECT user_id, event_id, us,
                CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                          > 1800 * 1000000 THEN 1 ELSE 0 END AS brk
              FROM e),
            s AS (
              SELECT user_id, us,
                CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_id
              FROM g)
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   MIN(us) AS start_us, MAX(us) AS end_us
            FROM s GROUP BY user_id, session_id
        """,
        "tile_assign_events": f"""
            WITH pts AS ({_EVENT_PTS})
            SELECT 4 AS zoom,
              CAST(GREATEST(0, LEAST({n}, FLOOR({gx4} / 4096))) AS INT) AS x,
              CAST(GREATEST(0, LEAST({n}, FLOOR({gy4} / 4096))) AS INT) AS y,
              COUNT(*) AS n_points
            FROM pts GROUP BY 2, 3
        """,
        "zorder_bbox_scan": f"""
            WITH pts AS ({_EVENT_PTS}),
            t AS (SELECT event_id,
              CAST(GREATEST(0, LEAST(63, FLOOR({_merc_xy(6)[0]} / 4096))) AS INT) AS x,
              CAST(GREATEST(0, LEAST(63, FLOOR({_merc_xy(6)[1]} / 4096))) AS INT) AS y
              FROM pts),
            f AS (SELECT * FROM t
                  WHERE x BETWEEN 24 AND 39 AND y BETWEEN 24 AND 39),
            -- Morton spread chain, same masks as sources/clustered.py
            s0 AS (SELECT event_id, x, y,
                     CAST(x AS BIGINT) & 65535 AS sx,
                     CAST(y AS BIGINT) & 65535 AS sy FROM f),
            s1 AS (SELECT event_id, x, y,
                     (sx | (sx << 8)) & 16711935 AS sx,
                     (sy | (sy << 8)) & 16711935 AS sy FROM s0),
            s2 AS (SELECT event_id, x, y,
                     (sx | (sx << 4)) & 252645135 AS sx,
                     (sy | (sy << 4)) & 252645135 AS sy FROM s1),
            s3 AS (SELECT event_id, x, y,
                     (sx | (sx << 2)) & 858993459 AS sx,
                     (sy | (sy << 2)) & 858993459 AS sy FROM s2),
            s4 AS (SELECT event_id, x, y,
                     (sx | (sx << 1)) & 1431655765 AS sx,
                     (sy | (sy << 1)) & 1431655765 AS sy FROM s3)
            SELECT x, y, CAST(sx | (sy << 1) AS BIGINT) AS z,
                   COUNT(*) AS n_points,
                   CAST(SUM(event_id) AS BIGINT) AS sum_ids
            FROM s4 GROUP BY x, y, 3
        """,
        "geohash_cells": f"""
            WITH pts AS ({_EVENT_PTS}),
            q AS (SELECT event_id,
              CAST(GREATEST(LEAST(FLOOR((lng + 180.0) / 360.0 * 32768.0), 32767), 0) AS BIGINT) AS bx,
              CAST(GREATEST(LEAST(FLOOR((lat + 90.0) / 180.0 * 32768.0), 32767), 0) AS BIGINT) AS by
              FROM pts),
            -- 64-bit Morton spread chain (functions/geodesy.py masks)
            g1 AS (SELECT event_id,
                (bx | (bx << 16)) & 281470681808895 AS bx,
                (by | (by << 16)) & 281470681808895 AS by FROM q),
            g2 AS (SELECT event_id,
                (bx | (bx << 8)) & 71777214294589695 AS bx,
                (by | (by << 8)) & 71777214294589695 AS by FROM g1),
            g3 AS (SELECT event_id,
                (bx | (bx << 4)) & 1085102592571150095 AS bx,
                (by | (by << 4)) & 1085102592571150095 AS by FROM g2),
            g4 AS (SELECT event_id,
                (bx | (bx << 2)) & 3689348814741910323 AS bx,
                (by | (by << 2)) & 3689348814741910323 AS by FROM g3),
            g5 AS (SELECT event_id,
                (bx | (bx << 1)) & 6148914691236517205 AS bx,
                (by | (by << 1)) & 6148914691236517205 AS by FROM g4),
            z AS (SELECT event_id, by | (bx << 1) AS z FROM g5),
            h AS (SELECT event_id,
              substr('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST((z >> 25) & 31 AS INT) + 1, 1) ||
              substr('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST((z >> 20) & 31 AS INT) + 1, 1) ||
              substr('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST((z >> 15) & 31 AS INT) + 1, 1) ||
              substr('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST((z >> 10) & 31 AS INT) + 1, 1) ||
              substr('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST((z >> 5) & 31 AS INT) + 1, 1) ||
              substr('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST(z & 31 AS INT) + 1, 1) AS gh
              FROM z)
            SELECT gh, COUNT(*) AS n_points,
                   CAST(SUM(event_id) AS BIGINT) AS sum_ids
            FROM h GROUP BY gh
        """,
        "haversine_nearest_site": f"""
            WITH pts AS ({_EVENT_PTS}),
            sites AS (SELECT n_nationkey AS site_id,
                        CAST((n_nationkey*37 % 160) - 79.5 AS DOUBLE) AS slat,
                        CAST((n_nationkey*73 % 360) - 179.5 AS DOUBLE) AS slng
                      FROM nation),
            d AS (SELECT event_id, site_id,
                    {2.0 * 6371.0088!r} * asin(sqrt(
                      sin(radians(slat - lat) / 2) * sin(radians(slat - lat) / 2)
                      + cos(radians(lat)) * cos(radians(slat))
                        * sin(radians(slng - lng) / 2)
                        * sin(radians(slng - lng) / 2))) AS km
                  FROM pts, sites)
            -- round BEFORE the argmin (mirrors the Spark side): tie
            -- breaks happen on identical 4-decimal operands, immune to
            -- last-ulp libm differences between engines
            SELECT event_id, site_id, km FROM (
              SELECT event_id, site_id, ROUND(km, 4) AS km,
                ROW_NUMBER() OVER (PARTITION BY event_id
                                   ORDER BY ROUND(km, 4), site_id) AS rn
              FROM d) WHERE rn = 1
        """,
        "bbox_overlap_pairs": """
            WITH a AS (SELECT event_id AS a_id,
                (event_id * 48271) % 100000 AS a_xmin,
                (event_id * 144814) % 100000 AS a_ymin,
                (event_id * 48271) % 100000 + event_id % 900 + 100 AS a_xmax,
                (event_id * 144814) % 100000 + (event_id * 3) % 900 + 100 AS a_ymax
              FROM events WHERE event_id % 20 = 0),
            b AS (SELECT event_id AS b_id,
                (event_id * 16807) % 100000 AS b_xmin,
                (event_id * 50422) % 100000 AS b_ymin,
                (event_id * 16807) % 100000 + event_id % 900 + 100 AS b_xmax,
                (event_id * 50422) % 100000 + (event_id * 3) % 900 + 100 AS b_ymax
              FROM events WHERE event_id % 20 = 7)
            SELECT a_id, b_id,
              CAST(GREATEST(a_xmin, b_xmin) AS BIGINT) AS ixmin,
              CAST(GREATEST(a_ymin, b_ymin) AS BIGINT) AS iymin,
              CAST(LEAST(a_xmax, b_xmax) AS BIGINT) AS ixmax,
              CAST(LEAST(a_ymax, b_ymax) AS BIGINT) AS iymax
            FROM a, b
            WHERE a_xmin <= b_xmax AND b_xmin <= a_xmax
              AND a_ymin <= b_ymax AND b_ymin <= a_ymax
        """,
        "user_track_stats": f"""
            WITH pings AS (SELECT event_id, user_id, ts,
                (event_id % 3600) / 10.0 - 179.947 AS lng,
                ((event_id * 7) % 1600) / 10.0 - 79.947 AS lat
              FROM events),
            seg AS (SELECT user_id, ts,
                LAG(lat) OVER w AS plat, LAG(lng) OVER w AS plng,
                lat, lng
              FROM pings
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s2 AS (SELECT user_id, ts,
                CASE WHEN plat IS NOT NULL THEN CAST(ROUND(
                  {2.0 * 6371.0088!r} * asin(sqrt(
                    sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
                    + cos(radians(plat)) * cos(radians(lat))
                      * sin(radians(lng - plng) / 2)
                      * sin(radians(lng - plng) / 2))) * 10000.0, 0)
                  AS BIGINT) END AS seg_e4
              FROM seg),
            agg AS (SELECT user_id,
                COUNT(*) AS n_pings,
                COUNT(seg_e4) AS n_segments,
                CAST(COALESCE(SUM(seg_e4), 0) AS BIGINT) AS total_km_e4,
                CAST(COALESCE(MAX(seg_e4), 0) AS BIGINT) AS max_km_e4,
                (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0
                  AS duration_s
              FROM s2 GROUP BY user_id)
            SELECT user_id, n_pings, n_segments, total_km_e4, max_km_e4,
              duration_s,
              CASE WHEN duration_s > 0 THEN
                ROUND((total_km_e4 / 10000.0) / (duration_s / 3600.0), 4)
              ELSE 0.0 END AS avg_kmh
            FROM agg
        """,
        "grid_density_clusters": f"""
            WITH RECURSIVE pts AS ({_EVENT_PTS}),
            cells AS (SELECT CAST(FLOOR(lng / 2.0) AS BIGINT) AS cx,
                             CAST(FLOOR(lat / 2.0) AS BIGINT) AS cy,
                             COUNT(*) AS n_points
                      FROM pts GROUP BY 1, 2),
            dense AS (SELECT cx, cy, n_points,
                             (cx + 1048576) * 2097152 + (cy + 1048576) AS k
                      FROM cells WHERE n_points >= 3),
            e(a, b) AS (SELECT d1.k, d2.k FROM dense d1 JOIN dense d2
                          ON abs(d1.cx - d2.cx) <= 1
                         AND abs(d1.cy - d2.cy) <= 1),
            reach(a, b) AS (SELECT a, b FROM e
              UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
            lab AS (SELECT a AS k, MIN(b) AS cluster_id FROM reach GROUP BY a),
            sz AS (SELECT cluster_id, COUNT(*) AS cluster_cells
                   FROM lab GROUP BY 1)
            SELECT d.cx, d.cy, d.n_points, l.cluster_id,
                   CAST(s.cluster_cells AS BIGINT) AS cluster_cells
            FROM dense d JOIN lab l USING (k) JOIN sz s USING (cluster_id)
        """,
        "pq_ann_topk": """
            WITH cb AS (SELECT CAST(vec_id AS INT) AS cent_id,
                               embedding AS c_emb
                        FROM embeddings WHERE vec_id < 16),
            sj AS (SELECT e.vec_id, c.cent_id, t.range AS j,
                     list_sum(list_transform(range(1, 9), i ->
                       (CAST(e.embedding[t.range*8 + i] AS DOUBLE)
                          - CAST(c.c_emb[t.range*8 + i] AS DOUBLE))
                       * (CAST(e.embedding[t.range*8 + i] AS DOUBLE)
                          - CAST(c.c_emb[t.range*8 + i] AS DOUBLE))))
                       AS dist
                   FROM embeddings e, cb c, range(0, 8) t),
            codes AS (SELECT vec_id, list(cent_id ORDER BY j) AS codes
              FROM (SELECT vec_id, j, cent_id,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                         ORDER BY dist, cent_id) AS rn
                    FROM sj) WHERE rn = 1 GROUP BY vec_id),
            qtab AS (SELECT vec_id AS query_id,
                       list(dist ORDER BY j * 16 + cent_id) AS qtab
                     FROM sj WHERE vec_id < 5 GROUP BY vec_id),
            scored AS (SELECT q.query_id, cd.vec_id,
                list_sum(list_transform(range(0, 8), j ->
                  q.qtab[j*16 + cd.codes[j + 1] + 1])) AS adc
              FROM codes cd, qtab q WHERE cd.vec_id != q.query_id)
            SELECT query_id, vec_id, ROUND(adc, 6) AS adc, rank FROM (
              SELECT query_id, vec_id, adc,
                ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc ASC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "ivf_pq_ann_topk": """
            WITH e AS (
              SELECT vec_id, embedding,
                sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * x))) AS nrm
              FROM embeddings),
            cent AS (SELECT vec_id AS cent_id, embedding AS c_emb,
                            nrm AS cent_norm
                     FROM e WHERE vec_id < 16),
            asim AS (
              SELECT e.vec_id, c.cent_id,
                list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> CAST(e.embedding[i] AS DOUBLE) * c.c_emb[i]))
                  / c.cent_norm AS sim
              FROM e, cent c),
            bucket AS (
              SELECT vec_id, cent_id AS ivf_bucket FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, cent_id ASC) AS rk FROM asim)
              WHERE rk = 1),
            probes AS (
              SELECT vec_id AS query_id, cent_id AS ivf_bucket FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, cent_id ASC) AS rk FROM asim
                WHERE vec_id < 5)
              WHERE rk <= 4),
            cb AS (SELECT CAST(vec_id AS INT) AS cent_id,
                          embedding AS c_emb
                   FROM embeddings WHERE vec_id < 16),
            sj AS (SELECT emb.vec_id, c.cent_id, t.range AS j,
                     list_sum(list_transform(range(1, 9), i ->
                       (CAST(emb.embedding[t.range*8 + i] AS DOUBLE)
                          - CAST(c.c_emb[t.range*8 + i] AS DOUBLE))
                       * (CAST(emb.embedding[t.range*8 + i] AS DOUBLE)
                          - CAST(c.c_emb[t.range*8 + i] AS DOUBLE))))
                       AS dist
                   FROM embeddings emb, cb c, range(0, 8) t),
            codes AS (SELECT vec_id, list(cent_id ORDER BY j) AS codes
              FROM (SELECT vec_id, j, cent_id,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                         ORDER BY dist, cent_id) AS rn
                    FROM sj) WHERE rn = 1 GROUP BY vec_id),
            qtab AS (SELECT vec_id AS query_id,
                       list(dist ORDER BY j * 16 + cent_id) AS qtab
                     FROM sj WHERE vec_id < 5 GROUP BY vec_id),
            scored AS (SELECT p.query_id, cd.vec_id,
                list_sum(list_transform(range(0, 8), j ->
                  q.qtab[j*16 + cd.codes[j + 1] + 1])) AS adc
              FROM codes cd
              JOIN bucket b ON cd.vec_id = b.vec_id
              JOIN probes p ON b.ivf_bucket = p.ivf_bucket
              JOIN qtab q ON q.query_id = p.query_id
              WHERE cd.vec_id != p.query_id)
            SELECT query_id, vec_id, ROUND(adc, 6) AS adc, rank FROM (
              SELECT query_id, vec_id, adc,
                ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc ASC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "quadkey_cells": f"""
            WITH pts AS ({_EVENT_PTS}),
            t AS (SELECT event_id,
              CAST(GREATEST(0, LEAST(63, FLOOR({gx6} / 4096))) AS INT) AS x,
              CAST(GREATEST(0, LEAST(63, FLOOR({gy6} / 4096))) AS INT) AS y
              FROM pts)
            SELECT {_qk} AS qk, COUNT(*) AS n_points,
                   CAST(SUM(event_id) AS BIGINT) AS sum_ids
            FROM t GROUP BY qk
        """,
        "cms_heavy_hitters": f"""
            WITH toks AS (SELECT
                unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  AS tok
              FROM documents),
            t2 AS (SELECT tok FROM toks WHERE tok != ''),
            th AS (SELECT tok, COUNT(*) AS cnt,
                list_reduce(list_prepend(CAST({_TSEED} AS HUGEINT),
                  list_transform(split(tok, ''),
                                 c -> CAST(unicode(c) AS HUGEINT))),
                  (acc, c) -> (acc * {_TMUL} + c) % {u64}) AS h
              FROM t2 GROUP BY tok),
            a(d, mult) AS (VALUES (0, CAST('1181783497276652981' AS HUGEINT)), (1, CAST('7664345821815920749' AS HUGEINT)), (2, CAST('2862933555777941757' AS HUGEINT)), (3, CAST('3202034522624059733' AS HUGEINT))),
            cells AS (SELECT a.d,
                CAST(((th.h * a.mult) % {u64}) // 4503599627370496 AS INT)
                  AS bucket,
                th.tok, th.cnt
              FROM th, a),
            cms AS (SELECT d, bucket, CAST(SUM(cnt) AS BIGINT) AS c
                    FROM cells GROUP BY 1, 2),
            top AS (SELECT tok, cnt AS exact_n FROM th
                    ORDER BY cnt DESC, tok LIMIT 20),
            est AS (SELECT cells.tok,
                      MIN(coalesce(cms.c, 0)) AS cms_n
                    FROM cells LEFT JOIN cms USING (d, bucket)
                    WHERE cells.tok IN (SELECT tok FROM top)
                    GROUP BY cells.tok)
            SELECT top.tok AS token, CAST(top.exact_n AS BIGINT) AS exact_n,
                   CAST(est.cms_n AS BIGINT) AS cms_n
            FROM top JOIN est ON top.tok = est.tok
        """,
        "decontamination_overlap": f"""
            WITH tr AS (SELECT doc_id, {_SHINGLES} AS s
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS toks
                    FROM documents WHERE doc_id % 25 != 0)),
            bm AS (SELECT DISTINCT unnest(s) AS sh
              FROM (SELECT {_SHINGLES} AS s
                    FROM (SELECT string_split({_NORM}, ' ') AS toks
                          FROM documents WHERE doc_id % 25 = 0))),
            ex AS (SELECT doc_id, unnest(s) AS sh FROM tr),
            j AS (SELECT ex.doc_id,
                    CASE WHEN bm.sh IS NULL THEN 0 ELSE 1 END AS hit
                  FROM ex LEFT JOIN bm ON ex.sh = bm.sh)
            SELECT doc_id, COUNT(*) AS n_shingles,
              CAST(SUM(hit) AS BIGINT) AS n_contaminated,
              SUM(hit) * 10 >= COUNT(*) AS flagged
            FROM j GROUP BY doc_id
        """,
        "zonal_fence_stats": f"""
            WITH pts AS ({_EVENT_PTS}),
            cells AS (SELECT FLOOR(lng * 2) AS cx, FLOOR(lat * 2) AS cy,
                        COUNT(*) AS val
                      FROM pts GROUP BY 1, 2),
            ctr AS (SELECT (cx + 0.5) / 2.0 AS clng, (cy + 0.5) / 2.0 AS clat,
                      val FROM cells),
            edges(fence_id, x1, y1, x2, y2) AS (VALUES {_fence_rows}),
            pf AS (SELECT c.clng, c.clat, c.val, e.fence_id,
                     MIN((e.x2 - e.x1) * (c.clat - e.y1)
                         - (e.y2 - e.y1) * (c.clng - e.x1)) AS mc
                   FROM ctr c, edges e GROUP BY 1, 2, 3, 4)
            SELECT fence_id, COUNT(*) AS n_cells,
                   CAST(SUM(val) AS BIGINT) AS total,
                   CAST(MAX(val) AS BIGINT) AS max_cell
            FROM pf WHERE mc >= 0 GROUP BY fence_id
        """,
        "convex_geofence_pip": f"""
            WITH pts AS ({_EVENT_PTS}),
            edges(fence_id, x1, y1, x2, y2) AS (VALUES {_fence_rows}),
            pf AS (SELECT p.event_id, e.fence_id,
                     MIN((e.x2 - e.x1) * (p.lat - e.y1)
                         - (e.y2 - e.y1) * (p.lng - e.x1)) AS mc
                   FROM pts p, edges e GROUP BY 1, 2)
            SELECT fence_id, COUNT(*) AS n_inside,
                   CAST(SUM(event_id) AS BIGINT) AS sum_ids
            FROM pf WHERE mc >= 0 GROUP BY fence_id
        """,
        "tfidf_top_terms": """
            WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  AS term
              FROM documents),
            t2 AS (SELECT doc_id, term FROM toks WHERE term != ''),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf
                   FROM t2 GROUP BY 1, 2),
            df AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
            nd AS (SELECT COUNT(*) AS n FROM documents),
            sc AS (SELECT tf.doc_id, tf.term,
                     ROUND(tf.tf * (ln((nd.n + 1.0) / (df.dfc + 1.0))
                                    + 1.0), 6) AS score
                   FROM tf, df, nd WHERE tf.term = df.term)
            SELECT doc_id, term, score, rank FROM (
              SELECT doc_id, term, score,
                ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rank
              FROM sc) WHERE rank <= 3
        """,
        "streaming_session_windows": """
            WITH s AS (SELECT user_id, epoch_us(ts) AS us FROM events
                       WHERE event_id < 600),
            b AS (SELECT user_id, us,
                    CASE WHEN LAG(us) OVER w IS NULL
                           OR us - LAG(us) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS brk
                  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY us)),
            sid AS (SELECT user_id, us,
                      SUM(brk) OVER (PARTITION BY user_id ORDER BY us)
                        AS sid
                    FROM b)
            SELECT user_id,
              MIN(us) AS session_start_us,
              MAX(us) + 1800000000 AS session_end_us,
              COUNT(*) AS n_events
            FROM sid GROUP BY user_id, sid
        """,
        "session_window_agg": """
            WITH s AS (SELECT user_id, epoch_us(ts) AS us FROM events),
            b AS (SELECT user_id, us,
                    CASE WHEN LAG(us) OVER w IS NULL
                           OR us - LAG(us) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS brk
                  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY us)),
            -- default RANGE frame: timestamp-tied rows share one sid
            sid AS (SELECT user_id, us,
                      SUM(brk) OVER (PARTITION BY user_id ORDER BY us)
                        AS sid
                    FROM b)
            SELECT user_id,
              MIN(us) AS session_start_us,
              MAX(us) + 1800000000 AS session_end_us,
              COUNT(*) AS n_events
            FROM sid GROUP BY user_id, sid
        """,
        "event_type_pivot": """
            SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
              COUNT(*) FILTER (WHERE event_type = 'click') AS click,
              COUNT(*) FILTER (WHERE event_type = 'error') AS error,
              COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
              COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
              COUNT(*) FILTER (WHERE event_type = 'view') AS view
            FROM events GROUP BY 1
        """,
        "top_tokens_global": """
            WITH toks AS (SELECT
                unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  AS term
              FROM documents),
            c AS (SELECT term, COUNT(*) AS cnt FROM toks
                  WHERE term != '' GROUP BY 1)
            SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 50
        """,
        "value_moments": """
            WITH s AS (SELECT event_type, user_id,
                         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS cents
                       FROM events),
            a AS (SELECT event_type, COUNT(*) AS n,
                    CAST(SUM(cents) AS BIGINT) AS sx,
                    CAST(SUM(cents * cents) AS BIGINT) AS sxx,
                    CAST(SUM(user_id) AS BIGINT) AS sy,
                    CAST(SUM(user_id * user_id) AS BIGINT) AS syy,
                    CAST(SUM(cents * user_id) AS BIGINT) AS sxy
                  FROM s GROUP BY 1)
            SELECT event_type, n, sx,
              ROUND((sx / 100.0) / CAST(n AS DOUBLE), 6) AS mean_value,
              ROUND(sqrt((sxx / 10000.0) / CAST(n AS DOUBLE)
                - ((sx / 100.0) / CAST(n AS DOUBLE))
                  * ((sx / 100.0) / CAST(n AS DOUBLE))), 6) AS stddev_pop,
              ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                       * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
                AS corr_value_user
            FROM a
        """,
        "value_histogram": """
            SELECT CAST(LEAST(GREATEST(FLOOR(value / 2.0), 0), 12)
                        AS BIGINT) AS bucket,
              COUNT(*) AS n,
              CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT))
                   AS BIGINT) AS sum_cents
            FROM events GROUP BY 1
        """,
        "props_json_extract": """
            WITH s AS (SELECT
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events)
            SELECT k % 10 AS k_mod, COUNT(*) AS n,
              CAST(SUM(k) AS BIGINT) AS sum_k,
              CAST(MAX(k) AS BIGINT) AS max_k
            FROM s GROUP BY 1
        """,
        "value_percentiles": """
            SELECT event_type,
              ROUND(quantile_cont(value, 0.5), 6) AS p50,
              ROUND(quantile_cont(value, 0.9), 6) AS p90,
              ROUND(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY 1
        """,
        "user_rank_functions": """
            SELECT o_custkey, o_orderkey,
              RANK() OVER w AS rnk,
              DENSE_RANK() OVER w AS drnk,
              NTILE(4) OVER wt AS quartile,
              ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
              ROUND(CUME_DIST() OVER w, 6) AS cume
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC),
                   wt AS (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey)
        """,
        "salted_skew_join": """
            WITH fact AS (SELECT event_id,
                CASE WHEN event_id % 10 < 9 THEN 0
                     ELSE CAST(FLOOR(event_id / 10) AS BIGINT) % 5 END AS k
              FROM events),
            dim AS (SELECT CAST(r_regionkey AS BIGINT) AS k, r_name
                    FROM region)
            SELECT f.k, d.r_name, COUNT(*) AS n,
                   CAST(SUM(f.event_id) AS BIGINT) AS sum_ids
            FROM fact f JOIN dim d ON f.k = d.k
            GROUP BY f.k, d.r_name
        """,
        "image_channel_goldens": f"""
            SELECT image_id,
              CAST(n_px AS BIGINT) AS n_px,
              CAST(sum_r AS BIGINT) AS sum_r,
              CAST(sum_g AS BIGINT) AS sum_g,
              CAST(sum_b AS BIGINT) AS sum_b
            FROM (VALUES {_CHANNEL_GOLDENS})
              v(image_id, n_px, sum_r, sum_g, sum_b)
        """,
        "image_fliprot_invariants": f"""
            SELECT image_id,
              CAST(n_px AS BIGINT) AS n_px,
              CAST(sum_r AS BIGINT) AS sum_r,
              CAST(sum_g AS BIGINT) AS sum_g,
              CAST(sum_b AS BIGINT) AS sum_b,
              TRUE AS flip2_identity,
              TRUE AS rot4_identity,
              TRUE AS corner_moved
            FROM (VALUES {_CHANNEL_GOLDENS})
              v(image_id, n_px, sum_r, sum_g, sum_b)
        """,
        "cdc_upsert_snapshot": """
            WITH feed AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                event_type,
                CAST(ROUND(value * 100.0, 0) AS BIGINT) AS value_cents
              FROM events),
            ranked AS (SELECT *,
                ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id DESC)
                  AS rn
              FROM feed)
            SELECT user_id, event_id, ts_us, event_type, value_cents
            FROM ranked WHERE rn = 1 AND event_type != 'error'
        """,
        "scd2_user_history": """
            WITH feed AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                event_type FROM events)
            SELECT user_id, event_id, ts_us, event_type,
              ts_us AS valid_from,
              LEAD(ts_us) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS valid_to,
              LEAD(ts_us) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) IS NULL
                AS is_current
            FROM feed
        """,
        "streaming_geofence_alerts": f"""
            WITH pts AS (SELECT user_id, epoch_us(ts) AS ts_us,
                (event_id % 3600)/10.0 - 179.947 AS lng,
                ((event_id*7) % 1600)/10.0 - 79.947 AS lat
              FROM events),
            edges(fence_id, x1, y1, x2, y2) AS (VALUES {_fence_rows}),
            memb AS (SELECT p.user_id, p.ts_us, e.fence_id,
                       MIN((e.x2 - e.x1) * (p.lat - e.y1)
                           - (e.y2 - e.y1) * (p.lng - e.x1)) >= 0 AS inside
                     FROM pts p, edges e GROUP BY 1, 2, 3),
            tr AS (SELECT user_id, ts_us, fence_id, inside,
                     LAG(inside, 1, false) OVER (
                       PARTITION BY user_id, fence_id ORDER BY ts_us)
                       AS prev
                   FROM memb)
            SELECT user_id, ts_us, CAST(fence_id AS INT) AS fence_id,
                   inside AS entered
            FROM tr WHERE inside != prev
        """,
        "hex_polyfill_fences": f"""
            WITH {_polyfill_ctes}
            SELECT poly_id, cell, q, r FROM pcells
        """,
        "polyfill_cover_counts": f"""
            WITH {_polyfill_ctes},
            pts AS ({_EVENT_PTS}),
            w AS (SELECT event_id, {gx0} AS wx, {gy0} AS wy FROM pts),
            {_hex_sql('w', 'event_id', 7, 'e7')}
            SELECT pc.poly_id, COUNT(*) AS n_events,
                   CAST(SUM(e7.event_id) AS BIGINT) AS sum_ids
            FROM e7 JOIN pcells pc ON e7.cell = pc.cell
            GROUP BY pc.poly_id
        """,
        "mercator_roundtrip": f"""
            WITH pts AS ({_EVENT_PTS}),
            g AS (SELECT event_id, {gx4} AS gx, {gy4} AS gy FROM pts)
            SELECT event_id,
              ROUND(gx * 360.0 / 65536.0 - 180.0, 4) AS lng_rt,
              ROUND(360.0 / pi() * atan(exp((180.0 - gy * 360.0 / 65536.0)
                    * (pi() / 180.0))) - 90.0, 4) AS lat_rt
            FROM g
        """,
        "knn_sites": f"""
            WITH pts AS ({_EVENT_PTS}),
            sites AS (SELECT n_nationkey AS site_id,
                        CAST((n_nationkey*37 % 160) - 79.5 AS DOUBLE) AS slat,
                        CAST((n_nationkey*73 % 360) - 179.5 AS DOUBLE) AS slng
                      FROM nation),
            d AS (SELECT event_id, site_id,
                    (lat - slat) * (lat - slat) + (lng - slng) * (lng - slng) AS dist2
                  FROM pts, sites)
            SELECT event_id, site_id, ROUND(dist2, 6) AS dist2, knn_rank FROM (
              SELECT event_id, site_id, dist2,
                ROW_NUMBER() OVER (PARTITION BY event_id
                                   ORDER BY dist2, site_id) AS knn_rank
              FROM d) WHERE knn_rank <= 3
        """,
        "mvt_roundtrip": """
            SELECT 2 AS zoom,
              CAST(o_orderkey % 4 AS INT) AS x,
              CAST(CAST(FLOOR(o_orderkey / 4) AS BIGINT) % 4 AS INT) AS y,
              o_orderkey AS feature_id, 1 AS geom_type,
              o_orderkey * 7919 % 4096 AS px,
              o_orderkey * 104729 % 4096 AS py,
              o_orderstatus AS status
            FROM orders
        """,
        "mvt_roundtrip_lines": """
            WITH v AS (SELECT o_orderkey, o_orderpriority,
                unnest(range(0, 4)) AS i FROM orders)
            SELECT 3 AS zoom, CAST(o_orderkey % 8 AS INT) AS x,
              CAST(CAST(FLOOR(o_orderkey / 8) AS BIGINT) % 8 AS INT) AS y,
              o_orderkey AS feature_id, 2 AS geom_type,
              CAST(i AS INTEGER) AS vertex_idx,
              (o_orderkey * (i + 7) * 2654435761) % 4096 AS px,
              ((o_orderkey + i * 13) * 40503) % 4096 AS py,
              o_orderpriority AS prio
            FROM v
        """,
        "mvt_roundtrip_polys": """
            WITH v AS (SELECT o_orderkey, unnest(range(0, 5)) AS i
                       FROM orders),
            c AS (SELECT o_orderkey, i,
                CASE WHEN i = 4 THEN 0 ELSE i END AS j,
                (o_orderkey * 131) % 2048 AS x0,
                (o_orderkey * 223) % 2048 AS y0,
                64 + (o_orderkey % 512) AS wd,
                64 + ((o_orderkey * 7) % 512) AS ht
              FROM v)
            SELECT 3 AS zoom, CAST(o_orderkey % 8 AS INT) AS x,
              CAST(CAST(FLOOR(o_orderkey / 8) AS BIGINT) % 8 AS INT) AS y,
              o_orderkey AS feature_id,
              CAST(i AS INTEGER) AS vertex_idx,
              CASE WHEN j = 0 THEN x0 WHEN j = 3 THEN x0
                   ELSE x0 + wd END AS px,
              CASE WHEN j <= 1 THEN y0 ELSE y0 + ht END AS py
            FROM c
        """,
        "tile_parity_diff": """
            WITH t AS (SELECT CAST(o_orderkey % 4 AS INT) AS x,
                CAST(CAST(FLOOR(o_orderkey / 4) AS BIGINT) % 4 AS INT) AS y,
                COUNT(*) AS n
              FROM orders GROUP BY 1, 2)
            SELECT 2 AS zoom, x, y,
              CAST(CASE WHEN (x*4 + y) % 5 = 0 THEN n ELSE 0 END AS BIGINT)
                AS n_common,
              CAST(CASE WHEN (x*4 + y) % 5 = 0 THEN 0 ELSE n END AS BIGINT)
                AS n_only_a,
              CAST(0 AS BIGINT) AS n_only_b
            FROM t
        """,
        "tile_pyramid_rollup": f"""
            WITH pts AS ({_EVENT_PTS}),
            z4 AS (SELECT 4 AS zoom,
                CAST(GREATEST(0, LEAST(15, FLOOR({gx4} / 4096))) AS INT) AS x,
                CAST(GREATEST(0, LEAST(15, FLOOR({gy4} / 4096))) AS INT) AS y,
                COUNT(*) AS n_points
              FROM pts GROUP BY 2, 3),
            z3 AS (SELECT 3 AS zoom, x // 2 AS x, y // 2 AS y,
                CAST(SUM(n_points) AS BIGINT) AS n_points FROM z4 GROUP BY 2, 3),
            z2 AS (SELECT 2 AS zoom, x // 2 AS x, y // 2 AS y,
                CAST(SUM(n_points) AS BIGINT) AS n_points FROM z3 GROUP BY 2, 3)
            SELECT zoom, CAST(x AS INT) AS x, CAST(y AS INT) AS y, n_points FROM z4
            UNION ALL SELECT zoom, CAST(x AS INT), CAST(y AS INT), n_points FROM z3
            UNION ALL SELECT zoom, CAST(x AS INT), CAST(y AS INT), n_points FROM z2
        """,
        "xyz_cell_keys": f"""
            WITH pts AS ({_EVENT_PTS}),
            g AS (SELECT event_id, {gx4} AS gx, {gy4} AS gy FROM pts),
            t AS (SELECT event_id,
                CAST(GREATEST(0, LEAST(15, FLOOR(gx / 4096))) AS BIGINT) AS x,
                CAST(GREATEST(0, LEAST(15, FLOOR(gy / 4096))) AS BIGINT) AS y
              FROM g)
            SELECT event_id,
              CAST(1152921504606846976 + list_sum([
                ((x // (1 << k)) % 2) * (1 << (2*k))
                + ((y // (1 << k)) % 2) * (1 << (2*k + 1))
                for k in range(0, 4)]) AS BIGINT) AS cell
            FROM t
        """,
        "mvt_clip_roundtrip": """
            SELECT 2 AS zoom,
              CAST(o_orderkey % 4 AS INT) AS x,
              CAST(CAST(FLOOR(o_orderkey / 4) AS BIGINT) % 4 AS INT) AS y,
              o_orderkey AS feature_id, 1 AS geom_type,
              o_orderkey * 7919 % 4096 AS px,
              o_orderkey * 104729 % 4096 AS py,
              o_orderstatus AS status
            FROM orders
        """,
        "s2_cell_goldens": """
            SELECT k, s2_leaf, s2_l10 FROM (VALUES (0, -6530217716814202655, -6530218360175591424), (1, 533612247539395237, 533611684657364992), (2, 6685599141109008589, 6685599144389640192), (3, -6949644417791579693, -6949644662776791040), (4, 1361548410894122403, 1361548338419204096), (5, -6246673845106446693, -6246674102581460992), (6, -8143825506822153559, -8143826440727560192), (7, -5747265657937629541, -5747264926129324032), (8, 8151408079268411097, 8151408672912703488), (9, 5273677105790570301, 5273676680743878656), (10, 2991795453196518767, 2991796427945934848), (11, -9172370982984712129, -9172371190000386048), (12, -5266921728856872967, -5266921281302822912), (13, 7222510485251156103, 7222510463441960960), (14, -4988131341766553307, -4988131311987195904), (15, 2663434460873805847, 2663433877380399104), (16, 6254228096190597643, 6254227747464282112), (17, 264216452818570135, 264215942689456128), (18, 6905720743888876561, 6905721372270395392), (19, -6691437721358988419, -6691437551133130752), (20, 1590510732891559109, 1590510639787278336), (21, -5798446910019916023, -5798447192402296832), (22, -7841781257897840001, -7841781800484470784), (23, 6679509653889358565, 6679510048995016704), (24, -6923977213528216507, -6923977663337988096), (25, 1351099947327421921, 1351100778932076544), (26, -6242315945686824795, -6242315638488956928), (27, -8133697092965771385, -8133697739612487680), (28, -5744350663651308479, -5744351220315717632), (29, 8141029114987338445, 8141029283146498048), (30, 5679876672010759567, 5679875858462932992), (31, 2986871515976712539, 2986870615853498368), (32, -9176609869979380193, -9176610906837090304), (33, -5264598093255738587, -5264599112744960000), (34, 7213700777677495733, 7213701176280219648), (35, -4982060485444173409, -4982059808778616832), (36, 2635229042992517581, 2635229205104689152), (37, 5849052630817395077, 5849053314582315008), (38, 268711763648847989, 268710746223804416), (39, 6783890973890031973, 6783891085866303488), (40, -6709681379305095411, -6709680648061190144), (41, 1619075076709583803, 1619075951876898816), (42, -5800857678997980731, -5800857321890381824), (43, -7864223031227683107, -7864222832807378944), (44, 4851953939596884765, 4851954597863882752), (45, -6926745378735578283, -6926746233616728064), (46, 1346520137360998565, 1346520213490761728), (47, -6062602282918696047, -6062602661952225280), (48, -8126197383423153641, -8126196871287799808), (49, -5742752573848038901, -5742752530408931328), (50, 8097598812641695927, 8097598573849346048), (51, 5682364233220314481, 5682365152788217856), (52, 2960867188590798505, 2960867165856595968), (53, 6105464551054721127, 6105463824226189312), (54, -5307697503481236667, -5307697769530523648), (55, 7398563404317542083, 7398564265281454080), (56, -4962395849856700733, -4962396142827470848), (57, 2640165807300925477, 2640166012313403392), (58, 5825865260951969409, 5825864614352519168), (59, 270235452510665451, 270234669339901952), (60, 6778944839041085089, 6778945482564567040), (61, -6703755813521814725, -6703756479410733056), (62, 1453858404766236041, 1453858936640765952), (63, -5808117747301503843, -5808118496680214528), (64, -7885408548103049803, -7885408222851366912), (65, 4948946908084665917, 4948946916596514816), (66, 8475032960940848961, 8475032328362524672), (67, 5188479355387740939, 5188479922754027520), (68, -6072859125990395041, -6072858906416119808), (69, -8120863024654904517, -8120862040869830656), (70, -5644196090897085307, -5644196706141601792), (71, 8102071841940121877, 8102071387151138816), (72, 5684007644578220483, 5684007823160115200), (73, 2965530917906622161, 2965531294181621760), (74, 6093534348040001851, 6093534123064819712), (75, -5311694166132345917, -5311693394785861632), (76, 7009341879656247887, 7009341547095261184), (77, -4965847887224277315, -4965848609338687488), (78, 2545728113060675089, 2545728958603722752), (79, 5829954188211535485, 5829954797607845888), (80, 280741955909924395, 280741602454929408), (81, 6762355758983198751, 6762356051124682752), (82, -6744150245452634365, -6744150337591967744), (83, 1457399030871383531, 1457399364082204672), (84, -5818058692734024167, -5818058081795309568), (85, -8251101927147000667, -8251101392203153408), (86, 4951690779312879105, 4951691297619443712), (87, 8484487643127021529, 8484488128361398272), (88, 5193688402276846597, 5193689408846430208), (89, -6077428386619608161, -6077428476741156864), (90, -8599560010089127131, -8599560816301178880), (91, -5690990680420171993, -5690989721996492800), (92, 8836479583060833741, 8836479183807840256), (93, 5693190107805745247, 5693190944275300352), (94, 2941669904365590797, 2941669692835627008), (95, 6088119222691412533, 6088120127809650688), (96, -5318043008774518079, -5318041974924640256), (97, 6996032389552065905, 6996033058352660480), (98, -4942252092044211867, -4942253089806614528), (99, 4373163280862862261, 4373163463455801344), (100, 5831380392466072545, 5831379764677443584), (101, 96129969769259243, 96129202104827904), (102, 6759558641543420541, 6759558893543620608), (103, -6769613460873291093, -6769612827868004352), (104, 1470858899742426737, 1470859585429438464), (105, -5820868928036913663, -5820868433515905024), (106, -8243230599357016581, -8243231087971532800), (107, 4955452775341111673, 4955453826409693184), (108, 8489824709899569463, 8489825157802622976), (109, 5206893258313329247, 5206892344472764416), (110, -6117196684501463051, -6117195613294559232), (111, -8784385759103108691, -8784386521907068928), (112, -5686884032972408599, -5686884145578377216), (113, 8842429050631259011, 8842429740737363968), (114, 5740148328110350517, 5740148886874357760), (115, 3402402034559262743, 3402402448269115392), (116, 6084662533651041575, 6084663263251922944), (117, 2125280331115880399, 2125280110188691456), (118, 6989866228019453119, 6989866997144092672), (119, -4944789761835888861, -4944790762643521536), (120, 4389804054001451483, 4389803472430563328), (121, 5803301465287284847, 5803300436727300096), (122, 482414341926227639, 482414025221603328), (123, 6650851947928715777, 6650852377928663040), (124, -7446006334517426999, -7446005992996732928), (125, 1475796460264649531, 1475796392638152704), (126, -5822331185203742853, -5822330783980847104), (127, -8234557092206498633, -8234558140251635712))
            t(k, s2_leaf, s2_l10)
        """,
        "invalid_tile_suite": """
            SELECT cls, error_detected, CAST(n_features AS BIGINT) AS n_features,
                   error
            FROM (VALUES (0, false, 1, CAST(NULL AS VARCHAR)), (1, true, 0, 'tile data is empty'), (2, true, 0, 'tile data is gzipped'), (3, true, 0, 'truncated varint'), (4, true, 0, 'unsupported wire type 3'), (5, true, 0, 'tag out of range: 0'), (6, true, 0, 'unknown tile tag 1'), (7, true, 0, 'unsupported layer version 1'), (8, true, 0, 'layer missing name'), (9, true, 0, 'layer has no features'), (10, true, 0, 'layer has invalid extent 0'), (11, true, 0, 'duplicate layer name layer_name'), (12, true, 0, 'layer values are not distinct'), (13, true, 0, 'feature has no geometry type'), (14, true, 0, 'feature has no geometry'), (15, true, 0, 'uneven number of feature tags'), (16, true, 0, 'tag key index out of range'), (17, true, 0, 'tag value index out of range'), (18, true, 0, 'layer length overruns tile')) t(cls, error_detected, n_features, error)
        """,
        "streaming_stateful_totals": f"""
            WITH ids AS (SELECT unnest(range(0, 1500)) AS i),
            m0 AS (SELECT i, {_sm0} FROM ids),
            m1 AS (SELECT i, {_sm1} FROM m0),
            m2 AS (SELECT i, {_sm2} FROM m1),
            m3 AS (SELECT i, {_sm3} FROM m2),
            geo AS (SELECT i,
              LEAST(len(list_filter({_cdf_l}, c -> c < u2)), 15) + 1 AS city1,
              u3 + u4 + u5 - 1.5 AS n1, u6 + u7 + u8 - 1.5 AS n2,
              u1, u9, u10 FROM m3),
            pts AS (SELECT i,
              CASE WHEN u1 < 0.8 THEN {_clat_l}[city1] + n1 * 0.05
                   ELSE u9 * 170.1 - 85.05 END AS lat,
              CASE WHEN u1 < 0.8 THEN {_clng_l}[city1] + n2 * 0.05
                   ELSE u10 * 360.0 - 180.0 END AS lng
              FROM geo),
            t AS (SELECT
                CAST(GREATEST(0, LEAST(63, FLOOR({gx6} / 4096))) AS INT) AS x,
                CAST(GREATEST(0, LEAST(63, FLOOR({gy6} / 4096))) AS INT) AS y
              FROM pts)
            SELECT 6 AS zoom, x, y, COUNT(*) AS total
            FROM t GROUP BY x, y
        """,
        "streaming_tile_counts": f"""
            WITH ids AS (SELECT unnest(range(0, 1000)) AS i),
            m0 AS (SELECT i, {_sm0} FROM ids),
            m1 AS (SELECT i, {_sm1} FROM m0),
            m2 AS (SELECT i, {_sm2} FROM m1),
            m3 AS (SELECT i, {_sm3} FROM m2),
            geo AS (SELECT i,
              LEAST(len(list_filter({_cdf_l}, c -> c < u2)), 15) + 1 AS city1,
              u3 + u4 + u5 - 1.5 AS n1, u6 + u7 + u8 - 1.5 AS n2,
              u1, u9, u10 FROM m3),
            pts AS (SELECT i,
              CASE WHEN u1 < 0.8 THEN {_clat_l}[city1] + n1 * 0.05
                   ELSE u9 * 170.1 - 85.05 END AS lat,
              CASE WHEN u1 < 0.8 THEN {_clng_l}[city1] + n2 * 0.05
                   ELSE u10 * 360.0 - 180.0 END AS lng
              FROM geo),
            t AS (SELECT
                CAST(GREATEST(0, LEAST(63, FLOOR({gx6} / 4096))) AS INT) AS x,
                CAST(GREATEST(0, LEAST(63, FLOOR({gy6} / 4096))) AS INT) AS y
              FROM pts)
            SELECT CAST(1699999800000000 AS BIGINT) AS window_start_us,
              CAST(1700000100000000 AS BIGINT) AS window_end_us,
              6 AS zoom, x, y, COUNT(*) AS image_count
            FROM t GROUP BY x, y
        """,
        "layers_index_scan": """
            WITH t AS (SELECT 2 AS zoom,
                CAST(o_orderkey % 4 AS INT) AS x,
                CAST(CAST(FLOOR(o_orderkey / 4) AS BIGINT) % 4 AS INT) AS y,
                o_orderkey FROM orders)
            SELECT zoom, x, y, 'alpha' AS layer, COUNT(*) AS feature_count
            FROM t GROUP BY zoom, x, y
            UNION ALL
            SELECT zoom, x, y, 'beta', COUNT(*)
            FROM t WHERE o_orderkey % 3 = 0 GROUP BY zoom, x, y
        """,
        "audio_window_features": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 32),
            s AS (SELECT doc_id, unnest(range(0, 4096)) AS t FROM d),
            pcm AS (SELECT doc_id, t,
                TRUNC(sin(2 * pi() * (0.01 + (doc_id % 17) * 0.005) * t)
                      * 12000.0) AS v
              FROM s),
            w AS (SELECT doc_id, t // 1024 AS win_idx, v,
                LAG(v) OVER (PARTITION BY doc_id, t // 1024 ORDER BY t) AS pv
              FROM pcm),
            agg AS (SELECT doc_id, win_idx,
                sqrt(SUM(v * v) / 1024.0) AS rms,
                SUM(CASE WHEN pv IS NOT NULL AND sign(v) != sign(pv)
                    THEN 1 ELSE 0 END) / 1023.0 AS zcr
              FROM w GROUP BY doc_id, win_idx)
            SELECT 'aud' || CAST(doc_id AS VARCHAR) AS audio_id,
              CAST(win_idx AS INT) AS win_idx,
              ROUND(rms, 4) AS rms, ROUND(zcr, 6) AS zcr
            FROM agg
        """,
        "flagship_mvt_pipeline": f"""
            WITH ids AS (SELECT unnest(range(0, 2000)) AS i),
            m0 AS (SELECT i, {_sm0} FROM ids),
            m1 AS (SELECT i, {_sm1} FROM m0),
            m2 AS (SELECT i, {_sm2} FROM m1),
            m3 AS (SELECT i, {_sm3} FROM m2),
            geo AS (SELECT i,
              LEAST(len(list_filter({_cdf_l}, c -> c < u2)), 15) + 1 AS city1,
              u3 + u4 + u5 - 1.5 AS n1, u6 + u7 + u8 - 1.5 AS n2,
              u1, u9, u10 FROM m3),
            pts AS (SELECT i,
              CASE WHEN u1 < 0.8 THEN {_clat_l}[city1] + n1 * 0.05
                   ELSE u9 * 170.1 - 85.05 END AS lat,
              CASE WHEN u1 < 0.8 THEN {_clng_l}[city1] + n2 * 0.05
                   ELSE u10 * 360.0 - 180.0 END AS lng
              FROM geo),
            t AS (SELECT
                CAST(GREATEST(0, LEAST(63, FLOOR({gx6} / 4096))) AS INT) AS x,
                CAST(GREATEST(0, LEAST(63, FLOOR({gy6} / 4096))) AS INT) AS y
              FROM pts)
            SELECT 6 AS zoom, x, y,
              COUNT(*) AS image_count,
              CAST(COUNT(*) AS INT) AS feature_count,
              COUNT(*) AS decoded_features,
              true AS parity_ok
            FROM t GROUP BY x, y
        """,
        "mvt_typed_props_roundtrip": """
            WITH o AS (SELECT o_orderkey AS fid, o_orderstatus AS st
                       FROM orders WHERE o_orderkey % 7 = 0),
            n AS (SELECT CAST(NULL AS VARCHAR) s, CAST(NULL AS FLOAT) f,
                         CAST(NULL AS DOUBLE) d, CAST(NULL AS BIGINT) i,
                         CAST(NULL AS BIGINT) u, CAST(NULL AS BIGINT) si,
                         CAST(NULL AS BOOLEAN) b)
            SELECT fid AS feature_id, 's' AS k, CAST(1 AS INT) AS tag,
              st AS s, n.f, n.d, n.i, n.u, n.si, n.b FROM o, n
            UNION ALL SELECT fid, 'f', CAST(2 AS INT), n.s,
              CAST((fid % 1000) * 0.25 AS FLOAT), n.d, n.i, n.u, n.si, n.b
              FROM o, n
            UNION ALL SELECT fid, 'd', CAST(3 AS INT), n.s, n.f,
              CAST(fid * 0.5 AS DOUBLE), n.i, n.u, n.si, n.b FROM o, n
            UNION ALL SELECT fid, 'i', CAST(4 AS INT), n.s, n.f, n.d,
              CAST(-(fid % 97) - 1 AS BIGINT), n.u, n.si, n.b FROM o, n
            UNION ALL SELECT fid, 'u', CAST(5 AS INT), n.s, n.f, n.d, n.i,
              CAST(fid AS BIGINT), n.si, n.b FROM o, n
            UNION ALL SELECT fid, 'si', CAST(6 AS INT), n.s, n.f, n.d, n.i,
              n.u, CAST((fid % 50) - 25 AS BIGINT), n.b FROM o, n
            UNION ALL SELECT fid, 'b', CAST(7 AS INT), n.s, n.f, n.d, n.i,
              n.u, n.si, fid % 2 = 0 FROM o, n
        """,
        "image_roundtrip_invariants": """
            SELECT printf('img%012d', i) AS image_id,
              CASE WHEN i % 3 = 0 THEN 'png' ELSE 'raw' END AS fmt,
              true AS decoded_ok, true AS psnr_ok,
              true AS caption_ok, true AS phash_ok
            FROM range(0, 300) t(i)
        """,
        "text_stats": f"""
            WITH t AS (
              SELECT doc_id, text, {_TOKS} AS toks,
                     regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks
              FROM documents),
            m AS (
              SELECT doc_id, text, len(toks) AS n_words,
                length(text) AS n_chars,
                length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                len(list_filter(ltoks, x -> list_contains({_STOP}, x))) AS stop_hits
              FROM t)
            SELECT doc_id,
              n_words AS n_tokens_ws,
              CAST(GREATEST(n_words, CAST(CEIL(n_chars / 4) AS INT)) AS INT) AS n_tokens_bpe,
              n_words,
              ROUND(n_punct / n_chars, 6) AS punct_ratio,
              ROUND(stop_hits / n_words, 6) AS stopword_ratio,
              ROUND((n_chars - n_words + 1) / n_words, 6) AS avg_word_len,
              ROUND(LEAST(1.0, n_words / 100.0) * 0.4
                + GREATEST(0.0, 0.3 - ROUND(n_punct / n_chars, 6)) / 0.3 * 0.3
                + LEAST(1.0, ROUND(stop_hits / n_words, 6) * 4) * 0.3, 6) AS quality,
              CASE WHEN stop_hits / n_words >= 0.05 THEN 'en' ELSE 'und' END AS lang_pred,
              md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
            FROM m
        """,
        "lang_id_counts": f"""
            WITH t AS (SELECT lang,
              CASE WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> list_contains({_STOP}, x)))
                   / len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 0.05
                   THEN 'en' ELSE 'und' END AS lang_pred
              FROM documents)
            SELECT lang, lang_pred, COUNT(*) AS n FROM t GROUP BY 1, 2
        """,
        "exact_dedup_prefix": f"""
            SELECT dup_key, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
            FROM (SELECT doc_id,
                    array_to_string((string_split({_NORM}, ' '))[1:5], ' ') AS dup_key
                  FROM documents)
            GROUP BY dup_key HAVING COUNT(*) > 1
        """,
        "ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id, {_SHINGLES} AS s
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              ROUND(len(list_intersect(a.s, b.s))
                    / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s, b.s))
                  / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
        """,
        "image_phash_pairs": """
            WITH ph(image_id, h) AS (VALUES ('img000000000000', 9016726982919528875), ('img000000000001', 5708472325057335647), ('img000000000002', -6779996151060514397), ('img000000000003', -3651212388781754085), ('img000000000004', 9016726982919528875), ('img000000000005', 8793726333409246419), ('img000000000006', 5223246024522775209), ('img000000000007', -694448163259312275), ('img000000000008', 4811434998882355183), ('img000000000009', 8793726333409246419), ('img000000000010', -8242773393010238623), ('img000000000011', 5712453501626230521), ('img000000000012', 5730095223234384623), ('img000000000013', 4655570624631070125), ('img000000000014', -8247241808265520287), ('img000000000015', 2629302682123514465), ('img000000000016', 4253140804959090619), ('img000000000017', 4122501534993909627), ('img000000000018', 1808854458802018729), ('img000000000019', 2629302682123514465), ('img000000000020', -8667458531352848645), ('img000000000021', 3158815803084112057), ('img000000000022', 4720814679370714593), ('img000000000023', 8803899961590941785), ('img000000000024', -8667317793931602181), ('img000000000025', 5997997671140337411), ('img000000000026', -633173502533377879), ('img000000000027', -2417264740711659661), ('img000000000028', 8171512435652349419), ('img000000000029', 5997997671140337411), ('img000000000030', 3926308543198283461), ('img000000000031', -2527442786030052687), ('img000000000032', -3074123044204260949), ('img000000000033', -4493124122522274889), ('img000000000034', 3926308543198283461), ('img000000000035', 6718002454383600081), ('img000000000036', -8526008186446964817), ('img000000000037', 4103249315517592639), ('img000000000038', 225980368816360403), ('img000000000039', 6718002454383600081), ('img000000000040', -3430944164001299265), ('img000000000041', -3105071359789187159), ('img000000000042', 7405776603464541715), ('img000000000043', -5270050258080621767), ('img000000000044', -3431014532745476865), ('img000000000045', -8405442749749337467), ('img000000000046', 5984006137394957227), ('img000000000047', 3729831942748319393), ('img000000000048', 5704536422530440171), ('img000000000049', -8405442749749337467), ('img000000000050', 9152646098427587015), ('img000000000051', 1008610075066335525), ('img000000000052', -6282129827632140049), ('img000000000053', -7952579496958717953), ('img000000000054', 9152646102688999879), ('img000000000055', -7260775488295132449), ('img000000000056', -5032608410142799633), ('img000000000057', -8843200515006861787), ('img000000000058', -4410765476072818071), ('img000000000059', -7260775488294542641), ('img000000000060', -1741141862786266897), ('img000000000061', -9199441203081951305), ('img000000000062', -1026206367062299943), ('img000000000063', -233338904286808221), ('img000000000064', -1741141862652051217), ('img000000000065', 1094851385721760219), ('img000000000066', 953964510816218407), ('img000000000067', -8543025917378939923), ('img000000000068', 1907023680681610411), ('img000000000069', 986764994664868315), ('img000000000070', -5423908855534496199), ('img000000000071', -8950656325304901135), ('img000000000072', 8390138232188200703), ('img000000000073', 3047455488833498243), ('img000000000074', -5423908855534496199), ('img000000000075', 6928780347113911379), ('img000000000076', -8930686498845424965), ('img000000000077', -3978781038675121999), ('img000000000078', -6115728573854016101), ('img000000000079', 6928780347113911379), ('img000000000080', 2566710604344300395), ('img000000000081', 4454142536004277565), ('img000000000082', -5668303836386191927), ('img000000000083', 6186329221236158769), ('img000000000084', 2566710621457060715), ('img000000000085', -9184693838201397411), ('img000000000086', -1113712123625227723), ('img000000000087', 7239139348537761515), ('img000000000088', 2984824470696514559), ('img000000000089', -9184623538174599331), ('img000000000090', -8566061129522188601), ('img000000000091', -6798384966122480597), ('img000000000092', 203683008017210283), ('img000000000093', -659537518702855159), ('img000000000094', -8566061129522188601), ('img000000000095', -6391032245587712985), ('img000000000096', 4976688022369833915), ('img000000000097', 4162537443798096863), ('img000000000098', 5468563923055429481), ('img000000000099', -6391032245587712985), ('img000000000100', -8005679655390776149), ('img000000000101', 7030252562152223605), ('img000000000102', -5096731247889260319), ('img000000000103', -6885865513393676749), ('img000000000104', -8005679655390776149), ('img000000000105', -971208043094746719), ('img000000000106', -5217191073562987189), ('img000000000107', 8411649208074967421), ('img000000000108', -4491094595792070913), ('img000000000109', -971208043094746719), ('img000000000110', -4428745299340616095), ('img000000000111', 7261720661584012437), ('img000000000112', 5128196651169640363), ('img000000000113', 5590402428113592821), ('img000000000114', -4428745299340616095), ('img000000000115', -2499407851109069963), ('img000000000116', 163252949838509243), ('img000000000117', 495808659759476015), ('img000000000118', -5163596812087967787), ('img000000000119', -2499372683916850315)),
            u AS (SELECT image_id, h,
                CASE WHEN h < 0 THEN CAST(h AS HUGEINT)
                     + CAST('18446744073709551616' AS HUGEINT)
                     ELSE CAST(h AS HUGEINT) END AS uh FROM ph),
            banded AS (SELECT image_id, h, d.band,
                CAST((uh // d.dv) % 256 AS BIGINT) AS band_val
              FROM u CROSS JOIN (SELECT unnest(range(0, 8)) AS band,
                unnest([CAST(1 AS HUGEINT), CAST(256 AS HUGEINT),
                  CAST(65536 AS HUGEINT), CAST(16777216 AS HUGEINT),
                  CAST(4294967296 AS HUGEINT), CAST(1099511627776 AS HUGEINT),
                  CAST(281474976710656 AS HUGEINT),
                  CAST(72057594037927936 AS HUGEINT)]) AS dv) d),
            pairs AS (SELECT DISTINCT l.image_id AS image_a,
                r.image_id AS image_b, l.h AS ha, r.h AS hb
              FROM banded l JOIN banded r
                ON l.band = r.band AND l.band_val = r.band_val
                   AND l.image_id < r.image_id)
            SELECT image_a, image_b,
              CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
            FROM pairs WHERE bit_count(xor(ha, hb)) <= 6
        """,
        "repetition_quality": """
            WITH base AS (SELECT doc_id, text,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
                string_split(text, chr(10)) AS lines
              FROM documents),
            g AS (SELECT doc_id,
                [array_to_string(toks[i:i+2], ' ')
                 for i in range(1, GREATEST(len(toks) - 2, 1) + 1)] AS grams
              FROM base),
            tw AS (SELECT doc_id, unnest(toks) AS w FROM base),
            tc AS (SELECT doc_id, w, COUNT(*) AS n FROM tw GROUP BY 1, 2),
            tm AS (SELECT doc_id, MAX(n) AS mx FROM tc GROUP BY 1)
            SELECT b.doc_id,
              ROUND((len(lines) - len(list_distinct(lines)))
                    / GREATEST(len(lines), 1), 6) AS dup_line_frac,
              ROUND((len(grams) - len(list_distinct(grams)))
                    / GREATEST(len(grams), 1), 6) AS dup_3gram_frac,
              ROUND(tm.mx / GREATEST(len(toks), 1), 6) AS top_token_frac
            FROM base b JOIN g USING (doc_id) JOIN tm USING (doc_id)
        """,
        "stratified_sample_split": """
            WITH b AS (SELECT doc_id, lang,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  AS bucket,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':split'),
                                   1, 8))::BIGINT AS sbucket
              FROM documents)
            SELECT doc_id, lang,
              CASE WHEN sbucket < CAST(0.2 * 4294967296 AS BIGINT)
                   THEN 'eval' ELSE 'train' END AS split
            FROM b
            WHERE bucket < CAST(
              CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.25
                        WHEN 'de' THEN 0.25 ELSE 0.1 END
              * 4294967296 AS BIGINT)
        """,
        "pyramid_thinned_counts": f"""
            WITH pts AS ({_EVENT_PTS}),
            f6 AS (SELECT 6 AS zoom,
              CAST(GREATEST(0, LEAST(63, FLOOR({gx6} / 4096))) AS INT) AS x,
              CAST(GREATEST(0, LEAST(63, FLOOR({gy6} / 4096))) AS INT) AS y,
              event_id AS fid, event_id * 37 % 1000 AS w,
              event_id * 131 % 4096 AS px, event_id * 223 % 4096 AS py
              FROM pts),
            {_pyramid_lvl('f6', 'f5')},
            {_pyramid_lvl('f5', 'f4')},
            {_pyramid_lvl('f4', 'f3')},
            a AS (SELECT * FROM f6 UNION ALL SELECT * FROM f5
                  UNION ALL SELECT * FROM f4 UNION ALL SELECT * FROM f3)
            SELECT zoom, x, y,
              COUNT(*) AS n_feats,
              CAST(SUM(w) AS BIGINT) AS sum_weight,
              MIN(fid) AS min_fid,
              CAST(SUM(px) AS BIGINT) AS sum_px,
              CAST(SUM(py) AS BIGINT) AS sum_py
            FROM a GROUP BY 1, 2, 3
        """,
        "dedup_groups_chain": """
            SELECT CAST(event_id AS BIGINT) AS doc_id,
              CAST((event_id // 60) * 60 AS BIGINT) AS group_id,
              CAST(60 AS BIGINT) AS group_size
            FROM events WHERE event_id < 1800
        """,
        "dedup_groups": f"""
            WITH RECURSIVE sh AS (
              SELECT doc_id, {_SHINGLES} AS s
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents)),
            pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.s, b.s))
                    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
            e(a, b) AS (SELECT doc_a, doc_b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs
              UNION SELECT doc_a, doc_a FROM pairs
              UNION SELECT doc_b, doc_b FROM pairs),
            reach(a, b) AS (SELECT a, b FROM e
              UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
            lab AS (SELECT a AS doc_id, MIN(b) AS gid FROM reach GROUP BY a)
            SELECT doc_id, CAST(gid AS BIGINT) AS group_id,
              CAST(cnt AS BIGINT) AS group_size
            FROM lab JOIN (SELECT gid, COUNT(*) AS cnt FROM lab GROUP BY gid)
              USING (gid)
        """,
        "embedding_rh_lsh": f"""
            WITH sb AS (
              SELECT vec_id, [{_rh_sign_exprs}] AS signs
              FROM embeddings),
            keys AS (
              SELECT vec_id, t.range AS band,
                signs[3*t.range+1]*4 + signs[3*t.range+2]*2
                  + signs[3*t.range+3] AS key
              FROM sb, range(0, 8) t),
            cand AS (
              SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM keys a JOIN keys b
                ON a.band = b.band AND a.key = b.key
                AND a.vec_id < b.vec_id),
            e AS (
              SELECT vec_id, embedding,
                sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * x))) AS nrm
              FROM embeddings)
            SELECT c.vec_a, c.vec_b,
              ROUND(list_sum(list_transform(range(1, 65),
                    i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))
                / (a.nrm * b.nrm), 6) AS cosine
            FROM cand c
            JOIN e a ON a.vec_id = c.vec_a
            JOIN e b ON b.vec_id = c.vec_b
            WHERE list_sum(list_transform(range(1, 65),
                    i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))
                / (a.nrm * b.nrm) >= 0.42
        """,
        "embedding_cosine_pairs": """
            WITH e AS (
              SELECT vec_id, embedding,
                sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * x))) AS nrm,
                list_sum(list_transform(range(1, 5),
                  i -> CAST(POWER(2, 4 - i) AS BIGINT)
                       * CAST(embedding[i] >= 0 AS BIGINT))) AS bucket
              FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
                    i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))
                / (a.nrm * b.nrm), 6) AS cosine
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
                    i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))
                / (a.nrm * b.nrm) >= 0.42
        """,
        "ann_topk": """
            WITH e AS (
              SELECT vec_id, embedding,
                sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * x))) AS nrm
              FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
                  FROM e WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id,
                list_sum(list_transform(range(1, len(q.q_emb) + 1),
                    i -> CAST(q.q_emb[i] AS DOUBLE) * e.embedding[i]))
                  / (q.q_nrm * e.nrm) AS cos
              FROM e, q WHERE e.vec_id != q.query_id)
            SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, rank FROM (
              SELECT query_id, vec_id, cos,
                ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "ann_topk_ivf": """
            WITH e AS (
              SELECT vec_id, embedding,
                sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * x))) AS nrm
              FROM embeddings),
            cent AS (SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS cent_norm
                     FROM e WHERE vec_id < 16),
            asim AS (
              SELECT e.vec_id, e.embedding, c.cent_id,
                list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> CAST(e.embedding[i] AS DOUBLE) * c.c_emb[i]))
                  / c.cent_norm AS sim
              FROM e, cent c),
            bucket AS (
              SELECT vec_id, embedding, cent_id AS ivf_bucket FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, cent_id ASC) AS rk FROM asim)
              WHERE rk = 1),
            qsim AS (
              SELECT e.vec_id AS query_id, e.embedding AS q_emb,
                     e.nrm AS q_nrm, c.cent_id,
                list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> CAST(e.embedding[i] AS DOUBLE) * c.c_emb[i]))
                  / c.cent_norm AS sim
              FROM e, cent c WHERE e.vec_id < 5),
            probes AS (
              SELECT query_id, q_emb, q_nrm, cent_id AS ivf_bucket FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, cent_id ASC) AS rk FROM qsim)
              WHERE rk <= 4),
            scored AS (
              SELECT p.query_id, b.vec_id,
                list_sum(list_transform(range(1, len(p.q_emb) + 1),
                    i -> CAST(p.q_emb[i] AS DOUBLE) * b.embedding[i]))
                  / (p.q_nrm * sqrt(list_sum(list_transform(b.embedding,
                       x -> CAST(x AS DOUBLE) * x)))) AS cos
              FROM bucket b JOIN probes p USING (ivf_bucket)
              WHERE b.vec_id != p.query_id)
            SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, rank FROM (
              SELECT query_id, vec_id, cos,
                ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "minhash_lsh": f"""
            WITH perms(k, a) AS (VALUES {perms_values}),
            toks AS (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS t
              FROM documents),
            th AS (SELECT doc_id, {tok_hash_sql} AS h FROM toks),
            hs AS (SELECT doc_id,
                CASE WHEN len(h) < 3 THEN
                  [list_reduce(list_prepend(CAST({_SSEED} AS HUGEINT), h),
                     (a, x) -> (a * {_SMUL} + x) % {u64})]
                ELSE
                  [list_reduce(list_prepend(CAST({_SSEED} AS HUGEINT), h[i:i+2]),
                     (a, x) -> (a * {_SMUL} + x) % {u64})
                   for i in range(1, len(h)-2+1)] END AS h
              FROM th),
            lanes AS (SELECT doc_id, k,
                list_min(list_transform(h, x ->
                  (CAST(a AS HUGEINT) * CAST(x AS HUGEINT)) % {u64})) AS lane
              FROM hs, perms),
            sigs AS (SELECT doc_id,
                list(CAST(CASE WHEN lane >= {i64max1} THEN lane - {u64}
                          ELSE lane END AS BIGINT) ORDER BY k) AS sig
              FROM lanes GROUP BY doc_id),
            banded AS (SELECT doc_id, sig, band,
                sig[band*4+1:band*4+4] AS bk
              FROM sigs CROSS JOIN (SELECT unnest(range(0,16)) AS band) r),
            pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                l.sig AS sa, r.sig AS sb
              FROM banded l JOIN banded r
                ON l.band = r.band AND l.bk = r.bk AND l.doc_id < r.doc_id),
            est AS (SELECT doc_a, doc_b,
                list_sum(list_transform(range(1,65),
                  i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) / 64.0 AS ej
              FROM pairs)
            SELECT doc_a, doc_b, ROUND(ej, 6) AS est_jaccard
            FROM est WHERE ej >= 0.7
        """,
        "simhash_pairs": f"""
            WITH toks0 AS (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS t
              FROM documents),
            th0 AS (SELECT doc_id, {tok_hash_sql} AS hl FROM toks0),
            th AS (SELECT doc_id, unnest(hl) AS h FROM th0),
            bits AS (SELECT doc_id, j,
                SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM th CROSS JOIN (SELECT unnest(range(0,64)) AS j) jj
              GROUP BY doc_id, j),
            usims AS (SELECT doc_id,
                SUM(CASE WHEN v > 0 THEN
                      CASE WHEN j = 63 THEN {i64max1}
                           ELSE CAST(CAST(1 AS BIGINT) << j AS HUGEINT) END
                    ELSE 0 END) AS usim
              FROM bits GROUP BY doc_id),
            sims AS (SELECT doc_id,
                CAST(CASE WHEN usim >= {i64max1} THEN usim - {u64}
                     ELSE usim END AS BIGINT) AS sim, usim
              FROM usims),
            banded AS (SELECT doc_id, sim, d.band,
                CAST((usim // d.dv) % 65536 AS BIGINT) AS band_val
              FROM sims CROSS JOIN (VALUES (0, CAST(1 AS HUGEINT)),
                (1, CAST(65536 AS HUGEINT)),
                (2, CAST(4294967296 AS HUGEINT)),
                (3, CAST(281474976710656 AS HUGEINT))) d(band, dv)),
            pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                l.sim AS sa, r.sim AS sb
              FROM banded l JOIN banded r
                ON l.band = r.band AND l.band_val = r.band_val
                   AND l.doc_id < r.doc_id)
            SELECT doc_a, doc_b,
              CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
            FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
        """,
        "geojson_points": f"""
            WITH pts AS ({_EVENT_PTS})
            SELECT e.event_id,
              printf('{{"type":"Feature","id":%d,"geometry":{{"type":"Point","coordinates":[%d,%d]}},"properties":{{"event_type":"%s"}}}}',
                e.event_id,
                CAST(ROUND(lng * 1000000.0) AS BIGINT),
                CAST(ROUND(lat * 1000000.0) AS BIGINT),
                e.event_type) AS geojson
            FROM pts JOIN events e USING (event_id)
        """,
        "polygon_area_orientation": """
            WITH r AS (SELECT o_orderkey,
                [(o_orderkey * (i+1) * 2654435761) % 8192 for i in range(0,4)] AS xs,
                [((o_orderkey + i) * 40503) % 8192 for i in range(0,4)] AS ys
              FROM orders),
            rr AS (SELECT o_orderkey, xs, ys,
                xs[2:4] || xs[1:1] AS xr, ys[2:4] || ys[1:1] AS yr FROM r),
            ar AS (SELECT o_orderkey,
                CAST(list_sum([xs[i]*yr[i] - xr[i]*ys[i]
                               for i in range(1,5)]) AS BIGINT) AS area2
              FROM rr)
            SELECT o_orderkey, area2, area2 >= 0 AS ccw FROM ar
        """,
        "range_join_px": f"""
            WITH pts AS ({_EVENT_PTS}),
            g AS (SELECT event_id, {gx4} AS gx FROM pts),
            pxs AS (SELECT event_id,
                CAST(ROUND(gx - GREATEST(0, LEAST(15, FLOOR(gx / 4096)))
                           * 4096.0) AS BIGINT) AS px FROM g),
            b AS (SELECT unnest(range(0,16)) AS bucket_id),
            j AS (SELECT bucket_id, event_id FROM pxs JOIN b
                  ON px >= bucket_id*256 AND px <= bucket_id*256 + 255)
            SELECT bucket_id, COUNT(*) AS n_events,
              CAST(SUM(event_id) AS BIGINT) AS sum_event_id
            FROM j GROUP BY 1
        """,
        "asof_join_clicks": """
            WITH e AS (SELECT event_id, user_id, event_type,
                epoch_us(ts) AS us FROM events),
            v AS (SELECT * FROM e WHERE event_type = 'view'),
            c AS (SELECT * FROM e WHERE event_type = 'click')
            SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
              v.us - c.us AS gap_us
            FROM v ASOF JOIN c
              ON v.user_id = c.user_id AND v.us >= c.us
        """,
        "zigzag_varint_sql": f"""
            WITH t AS (SELECT event_id, user_id,
                (event_id * 2654435761) - 4611686018427387904 AS n
              FROM events),
            z AS (SELECT event_id, n,
                CASE WHEN n >= 0 THEN 2 * CAST(n AS HUGEINT)
                     ELSE -2 * CAST(n AS HUGEINT) - 1 END AS uzz
              FROM t)
            SELECT event_id, n,
              CAST(CASE WHEN uzz >= {i64max1} THEN uzz - {u64}
                   ELSE uzz END AS BIGINT) AS zz,
              CAST(CASE WHEN uzz % 2 = 0 THEN uzz // 2
                   ELSE -((uzz + 1) // 2) END AS BIGINT) AS back,
              CAST(CASE
                WHEN uzz < 128 THEN 1
                WHEN uzz < 16384 THEN 2
                WHEN uzz < 2097152 THEN 3
                WHEN uzz < 268435456 THEN 4
                WHEN uzz < 34359738368 THEN 5
                WHEN uzz < 4398046511104 THEN 6
                WHEN uzz < 562949953421312 THEN 7
                WHEN uzz < 72057594037927936 THEN 8
                WHEN uzz < {i64max1} THEN 9
                ELSE 10 END AS INTEGER) AS varint_bytes,
              (CAST(CASE WHEN uzz % 2 = 0 THEN uzz // 2
                    ELSE -((uzz + 1) // 2) END AS BIGINT) = n) AS roundtrip_ok
            FROM z
        """,
        "frame_sample": f"""
            WITH v AS (SELECT i AS vid, 'vid' || CAST(i AS VARCHAR) AS video_id,
                50 + i % 200 AS n_frames, i % 251 AS seed
                FROM range(0, 64) t(i)),
            f AS (SELECT video_id, seed,
                unnest(range(0, n_frames, 30)) AS fi FROM v),
            px AS (SELECT video_id, fi, i,
                (((i % 24) // 3) * 3 + (i // 24) * 7 + (i % 3) * 11
                  + fi * 13 + seed) % 256 AS val
                FROM f, range(0, 144) t(i)),
            agg AS (SELECT video_id, fi,
                CAST(SUM(val) AS BIGINT) AS pixel_sum,
                string_agg(CAST(val AS VARCHAR), ',' ORDER BY i) AS csv
                FROM px GROUP BY 1, 2)
            SELECT video_id, CAST(fi AS INTEGER) AS frame_idx,
              CAST(md5_number_upper(csv) % {i64max1} AS BIGINT) AS frame_hash,
              pixel_sum, 144 AS n_px
            FROM agg
        """,
        "thumbnail_resize": """
            SELECT printf('img%012d', i) AS image_id,
              8 AS w, 8 AS h, 'raw' AS fmt,
              192 AS n_bytes, CAST(NULL AS VARCHAR) AS error
            FROM range(0, 64) t(i)
        """,
        "validate_tiles_corpus": """
            WITH t AS (SELECT CAST(o_orderkey % 4 AS INT) AS x,
                CAST(CAST(FLOOR(o_orderkey / 4) AS BIGINT) % 4 AS INT) AS y,
                COUNT(*) AS n
              FROM orders GROUP BY 1, 2)
            SELECT 2 AS zoom, x, y,
              CAST((x*4 + y) % 5 AS INT) AS cls,
              CAST(CASE WHEN (x*4 + y) % 5 = 0 THEN n ELSE 0 END AS BIGINT)
                AS n_features,
              (x*4 + y) % 5 != 0 AS error_detected
            FROM t
        """,
        "hex_cell_keys": f"""
            WITH pts AS ({_EVENT_PTS}),
            w AS (SELECT event_id, {gx0} AS wx, {gy0} AS wy FROM pts),
            {_hex_sql('w', 'event_id', 8, 'h8')},
            {_hex_sql('w', 'event_id', 6, 'h6')},
            ctr AS (SELECT event_id,
                           (q*CAST({_hd} AS DOUBLE)
                            + r*CAST({_he} AS DOUBLE))*4.0 AS wx,
                           (r*CAST(1.5 AS DOUBLE))*4.0 AS wy FROM h8),
            {_hex_sql('ctr', 'event_id', 7, 'h7')}
            SELECT h8.event_id, h8.cell AS h8, h6.cell AS h6, h7.cell AS h7p
            FROM h8 JOIN h6 USING(event_id) JOIN h7 USING(event_id)
        """,
        "hex_kring_counts": f"""
            WITH pts AS ({_EVENT_PTS}),
            w AS (SELECT event_id, {gx0} AS wx, {gy0} AS wy FROM pts),
            {_hex_sql('w', 'event_id', 5, 'e5')},
            s AS (SELECT CAST(n_nationkey AS BIGINT) AS site_id,
                         n_nationkey*14.0 - 170.0 AS lng,
                         n_nationkey*6.0 - 70.0 AS lat FROM nation),
            sw AS (SELECT site_id, {gx0} AS wx, {gy0} AS wy FROM s),
            {_hex_sql('sw', 'site_id', 5, 's5')}
            SELECT site_id, COUNT(*) AS n_events
            FROM e5 JOIN s5 ON abs(e5.q - s5.q) <= 2
                           AND abs(e5.r - s5.r) <= 2
                           AND abs((e5.q - s5.q) + (e5.r - s5.r)) <= 2
            GROUP BY site_id
        """,
        "rasterize_tile_grid": f"""
            WITH pts AS ({_EVENT_PTS}),
            g AS (SELECT {gx2} AS gx, {gy2} AS gy FROM pts),
            t AS (SELECT gx, gy,
                CAST(GREATEST(0, LEAST(3, FLOOR(gx/4096))) AS INT) AS x,
                CAST(GREATEST(0, LEAST(3, FLOOR(gy/4096))) AS INT) AS y
              FROM g),
            p AS (SELECT 2 AS zoom, x, y,
                CAST(GREATEST(0, LEAST(63, FLOOR((gy - y*4096)/64))) AS INT)
                  AS gy,
                CAST(GREATEST(0, LEAST(63, FLOOR((gx - x*4096)/64))) AS INT)
                  AS gx
              FROM t)
            SELECT zoom, x, y, gy, gx, CAST(COUNT(*) AS INT) AS cnt
            FROM p GROUP BY ALL
        """,
        "vectorize_grid_rects": f"""
            WITH pts AS ({_EVENT_PTS}),
            g AS (SELECT {gx2} AS gx, {gy2} AS gy FROM pts),
            t AS (SELECT gx, gy,
                CAST(GREATEST(0, LEAST(3, FLOOR(gx/4096))) AS INT) AS x,
                CAST(GREATEST(0, LEAST(3, FLOOR(gy/4096))) AS INT) AS y
              FROM g),
            p AS (SELECT 2 AS zoom, x, y,
                CAST(GREATEST(0, LEAST(63, FLOOR((gy - y*4096)/64))) AS INT)
                  AS gy,
                CAST(GREATEST(0, LEAST(63, FLOOR((gx - x*4096)/64))) AS INT)
                  AS gx
              FROM t),
            px AS (SELECT zoom, x, y, gy, gx, COUNT(*) AS cnt
              FROM p GROUP BY ALL),
            f AS (SELECT *, gx - ROW_NUMBER()
                  OVER (PARTITION BY zoom, x, y, gy ORDER BY gx) AS isl
              FROM px WHERE cnt >= 2)
            SELECT zoom, x, y, gy,
              CAST(MIN(gx) AS INT) AS gx0, CAST(MAX(gx) AS INT) AS gx1,
              CAST(MIN(gx)*64 AS INT) AS px_x0,
              CAST(gy*64 AS INT) AS px_y0,
              CAST((MAX(gx)+1)*64 AS INT) AS px_x1,
              CAST((gy+1)*64 AS INT) AS px_y1,
              CAST(SUM(cnt) AS BIGINT) AS run_sum
            FROM f GROUP BY zoom, x, y, gy, isl
        """,
        "simplify_lines_dp": """
            WITH RECURSIVE
            o AS (SELECT o_orderkey AS fid FROM orders
                  WHERE o_orderkey % 10 = 0),
            pts AS (
              SELECT fid, i,
                (fid*7919 + i*997 + i*i*13) % 4096 AS x,
                (fid*104729 + i*31 + i*i*7) % 4096 AS y
              FROM o, (SELECT unnest(range(17)) AS i)
            ),
            segs(fid, i0, i1) AS (
              SELECT fid, CAST(0 AS BIGINT), CAST(16 AS BIGINT) FROM o
              UNION ALL
              SELECT w.fid,
                     CASE WHEN h.h = 0 THEN w.i0 ELSE w.split_i END,
                     CASE WHEN h.h = 0 THEN w.split_i ELSE w.i1 END
              FROM (
                SELECT fid, i0, i1, i AS split_i FROM (
                  SELECT fid, i0, i1, i,
                    ROW_NUMBER() OVER (PARTITION BY fid, i0, i1
                                       ORDER BY cross2 DESC, i ASC) AS rn,
                    cross2, 250000 * ab2 AS lim
                  FROM (
                    SELECT s.fid AS fid, s.i0 AS i0, s.i1 AS i1, p.i AS i,
                      ((b.x - a.x)*(p.y - a.y) - (b.y - a.y)*(p.x - a.x))
                        * ((b.x - a.x)*(p.y - a.y) - (b.y - a.y)*(p.x - a.x))
                        AS cross2,
                      (b.x - a.x)*(b.x - a.x) + (b.y - a.y)*(b.y - a.y) AS ab2
                    FROM segs s
                    JOIN pts a ON a.fid = s.fid AND a.i = s.i0
                    JOIN pts b ON b.fid = s.fid AND b.i = s.i1
                    JOIN pts p ON p.fid = s.fid AND p.i > s.i0 AND p.i < s.i1
                    WHERE s.i1 - s.i0 > 1
                  )
                ) WHERE rn = 1 AND cross2 > lim
              ) w, (SELECT unnest([0, 1]) AS h) h
            ),
            -- NB: inside WITH RECURSIVE, DuckDB 1.0.0 treats a later
            -- CTE's top-level UNION as UNION ALL; dedup explicitly
            kept AS (SELECT DISTINCT fid, i FROM
                     (SELECT fid, i0 AS i FROM segs
                      UNION ALL SELECT fid, i1 FROM segs))
            SELECT k.fid AS feature_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY k.fid ORDER BY k.i) - 1
                   AS INT) AS seq,
              p.x AS px, p.y AS py
            FROM kept k JOIN pts p ON p.fid = k.fid AND p.i = k.i
        """,
        "offset_convex_polygons": """
            WITH o AS (SELECT o_orderkey AS fid FROM orders
                       WHERE o_orderkey % 10 = 3),
            base(i, bx, by) AS (SELECT * FROM (VALUES
              (0,2,0),(1,5,0),(2,7,2),(3,7,5),
              (4,5,7),(5,2,7),(6,0,5),(7,0,2))),
            pts AS (SELECT fid, i,
                CAST(bx * (100 + (fid % 7) * 50) + (fid*37) % 2000
                     AS DOUBLE) AS x,
                CAST(by * (100 + (fid % 7) * 50) + (fid*53) % 2000
                     AS DOUBLE) AS y
              FROM o, base),
            tri AS (SELECT p.fid, p.i, p.x, p.y,
                a.x AS px, a.y AS py, b.x AS nx, b.y AS ny
              FROM pts p
              JOIN pts a ON a.fid = p.fid AND a.i = (p.i + 7) % 8
              JOIN pts b ON b.fid = p.fid AND b.i = (p.i + 1) % 8),
            e AS (SELECT fid, i, x, y, px, py,
                x - px AS e1x, y - py AS e1y,
                nx - x AS e2x, ny - y AS e2y FROM tri),
            m AS (SELECT fid, i, x, y, px, py, e1x, e1y, e2x, e2y,
                sqrt(e1x*e1x + e1y*e1y) AS l1,
                sqrt(e2x*e2x + e2y*e2y) AS l2 FROM e),
            pp AS (SELECT fid, i, e1x, e1y, e2x, e2y,
                px + 25.0*(e1y/l1) AS p1x, py - 25.0*(e1x/l1) AS p1y,
                x + 25.0*(e2y/l2) AS p2x, y - 25.0*(e2x/l2) AS p2y,
                e1x*e2y - e1y*e2x AS den FROM m),
            tt AS (SELECT fid, i, p1x, p1y, e1x, e1y,
                ((p2x - p1x)*e2y - (p2y - p1y)*e2x)/den AS t FROM pp)
            SELECT fid AS feature_id, CAST(i AS INT) AS i,
              p1x + t*e1x AS ox, p1y + t*e1y AS oy
            FROM tt
        """,
    }

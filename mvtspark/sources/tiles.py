"""MVT tile sources/sinks (SURVEY §2.1 S1-S6).

- ``scan_mvt_dir``: binaryFile scan of ``{z}-{x}-{y}.mvt`` files with
  tile id parsed from the filename
  (ref: src/Bench/Program.cs:54-61, src/DemoConsoleApp/program.cs:109-148)
- ``tile_pyramid``: (zoom, col-range, row-range) grid generator
  (ref: src/Bench/Program.cs:41-63)
- ``tile_polygons``: rectangular tile-boundary rings in tile units
  (FIXTURES.md §2) — the spatial-join dimension table
- ``decode_tiles``: tiles DF → features DF via the batch MVT kernel
  (mapInArrow; one kernel call per Arrow BATCH, every mode)
- ``encode_tiles``: per-(zoom,x,y) feature groups → MVT binary
  (mapInArrow over the batch encoder; S9)
- ``to_geojson``: per-tile GeoJSON FeatureCollection strings
  (ref: src/ExtensionMethods/VectorTile.cs:33-207)
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.native import parse_zxy_filename

FEATURES_SCHEMA = (
    "zoom int, x int, y int, layer string, extent int, feature_id long, "
    "geom_type int, part_offsets array<int>, xs array<long>, ys array<long>, "
    "props string, decode_error string"
)

#: SURVEY §1.3 typed 7-way property union (ref: VectorTileReader.cs:166-214)
#: — one row per (key, tagged value); exactly one member non-null per tag.
PROPS_T_FIELD = (
    "props_t array<struct<k: string, tag: int, s: string, f: float, "
    "d: double, i: long, u: long, si: long, b: boolean>>"
)

TILE_SCHEMA = "zoom int, x int, y int, mvt binary"


def scan_mvt_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory of ``{z}-{x}-{y}.mvt`` → (zoom, x, y, mvt)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.mvt")
        .load(path)
    )
    z, x, y = parse_zxy_filename(F.col("path"))
    return df.select(
        z.alias("zoom"), x.alias("x"), y.alias("y"), F.col("content").alias("mvt")
    )


def tile_pyramid(
    spark: SparkSession, zoom: int, col_range: tuple[int, int], row_range: tuple[int, int]
) -> DataFrame:
    """Grid of tile keys (ref Bench/Program.cs:41-63) — pure SQL, no UDF."""
    cols = spark.range(col_range[0], col_range[1] + 1).select(F.col("id").alias("x"))
    rows = spark.range(row_range[0], row_range[1] + 1).select(F.col("id").alias("y"))
    return cols.crossJoin(rows).select(
        F.lit(zoom).alias("zoom"), F.col("x").cast("int"), F.col("y").cast("int")
    )


def tile_polygons(
    spark: SparkSession,
    zoom: int,
    col_range: tuple[int, int],
    row_range: tuple[int, int],
    extent: int = 4096,
    inset: int = 0,
) -> DataFrame:
    """Tile-boundary rings in tile units (closed, first==last — the
    decoded-ring convention, DecodeGeometry.cs:76-82). ``inset`` shrinks
    the ring for PIP-edge-case fixtures (FIXTURES.md §2)."""
    lo, hi = inset, extent - inset
    ring_x = F.array(*[F.lit(v).cast("long") for v in (lo, hi, hi, lo, lo)])
    ring_y = F.array(*[F.lit(v).cast("long") for v in (lo, lo, hi, hi, lo)])
    return tile_pyramid(spark, zoom, col_range, row_range).select(
        "zoom",
        "x",
        "y",
        F.lit(extent).alias("extent"),
        ring_x.alias("ring_x"),
        ring_y.alias("ring_y"),
    )


def layers_index(tiles: DataFrame) -> DataFrame:
    """Lazy layer index (SURVEY §3.1; ref VectorTileReader.cs:53-100):
    (zoom, x, y, layer, feature_count) from a name-only partial parse —
    feature bodies, dictionaries, geometry and props are never decoded.
    The cheap probe for wide multi-layer tiles; pair with
    ``decode_tiles(..., layers={...})`` to decode only what's needed."""

    def _index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mvtspark.kernels.mvt_batch import layers_index as kidx

        for pdf in batches:
            tix, names, counts, errs = kidx([bytes(b) for b in pdf["mvt"]])
            ti = np.asarray(tix, dtype=np.int64)
            zoom_a = pdf["zoom"].to_numpy()
            x_a = pdf["x"].to_numpy()
            y_a = pdf["y"].to_numpy()
            out = pd.DataFrame(
                {
                    "zoom": zoom_a[ti] if ti.size else np.empty(0, zoom_a.dtype),
                    "x": x_a[ti] if ti.size else np.empty(0, x_a.dtype),
                    "y": y_a[ti] if ti.size else np.empty(0, y_a.dtype),
                    "layer": names,
                    "feature_count": np.asarray(counts, dtype=np.int32),
                    "index_error": None,
                }
            )
            if errs:
                out = pd.concat(
                    [out, pd.DataFrame({
                        "zoom": zoom_a[list(errs)],
                        "x": x_a[list(errs)],
                        "y": y_a[list(errs)],
                        "layer": None,
                        "feature_count": None,
                        "index_error": list(errs.values()),
                    })],
                    ignore_index=True,
                )
            yield out

    return tiles.mapInPandas(
        _index,
        schema="zoom int, x int, y int, layer string, "
               "feature_count int, index_error string",
    )


def decode_tiles(
    tiles: DataFrame,
    validate: bool = False,
    typed_props: bool = False,
    layers: set | frozenset | None = None,
    raster: bool = False,
) -> DataFrame:
    """tiles (zoom,x,y,mvt) → one row per feature; an undecodable tile
    gives one row carrying ``decode_error`` instead of failing the job
    (engine-side replacement for the reference's throw-on-invalid,
    SURVEY §1.3).

    One ``mapInArrow`` for every mode (SURVEY §2.9): one
    kernels.mvt_batch.decode_tile_rows call per Arrow batch decodes the
    varints and geometry of ALL its features at once, and the ragged
    xs/ys/part_offsets columns are built directly as Arrow ListArrays
    from the kernel's flat arrays + offsets — no pandas conversion, no
    per-feature Python slicing.

    ``validate=True`` applies the reference validation suite to every
    layer; a rejected tile's ``decode_error`` is the message of the
    per-tile strict oracle (kernels.mvt.decode_tile). ``typed_props=True``
    appends a ``props_t`` column — the SURVEY §1.3 tagged 7-way union
    preserving Float/Double/UInt/SInt/Bool type identity
    (VectorTileReader.cs:166-214) that the JSON ``props`` string loses.
    ``raster=True`` appends the Feature.Raster (tag 5) payload as a
    nullable ``raster binary`` column — the field the reference declares
    but never decodes (Constants.cs:59-66). Both are opt-in so the hot
    path pays nothing.

    ``layers`` restricts decoding to the named layers via the kernel's
    lazy name-only peek (ref layers_index, VectorTileReader.cs:53-100) —
    unselected layers never decode their dictionaries, features or
    geometry (strict mode still checks them)."""
    lf = frozenset(layers) if layers is not None else None
    schema = FEATURES_SCHEMA + (", " + PROPS_T_FIELD if typed_props else "")
    if raster:
        schema += ", raster binary"

    def _decode(batches):
        import numpy as np
        import pyarrow as pa

        from mvtspark.kernels.mvt_batch import decode_tile_rows

        extra = []  # (name, arrow type) of the opt-in columns, as in schema
        if typed_props:
            extra.append(("props_t", pa.list_(pa.struct([
                ("k", pa.string()), ("tag", pa.int32()), ("s", pa.string()),
                ("f", pa.float32()), ("d", pa.float64()), ("i", pa.int64()),
                ("u", pa.int64()), ("si", pa.int64()), ("b", pa.bool_()),
            ]))))
        if raster:
            extra.append(("raster", pa.binary()))
        names = [c.split()[0] for c in FEATURES_SCHEMA.split(", ")]
        names += [n for n, _ in extra]
        for rb in batches:
            gi = rb.schema.get_field_index
            (tix, lnames, exts, fids, gts, xs, ys, vert_off, parts_flat,
             parts_cnt, props, *extra_cols, errs) = decode_tile_rows(
                rb.column(gi("mvt")).to_pylist(), layer_filter=lf,
                validate=validate, typed_props=typed_props, raster=raster,
            )
            zoom_a = rb.column(gi("zoom")).to_numpy(zero_copy_only=False)
            x_a = rb.column(gi("x")).to_numpy(zero_copy_only=False)
            y_a = rb.column(gi("y")).to_numpy(zero_copy_only=False)
            nfeat = len(lnames)
            pb = np.zeros(nfeat + 1, dtype=np.int64)
            np.cumsum(parts_cnt, out=pb[1:])
            vo = pa.array(vert_off, type=pa.int32())
            arrays = [
                pa.array(zoom_a[tix], type=pa.int32()),
                pa.array(x_a[tix], type=pa.int32()),
                pa.array(y_a[tix], type=pa.int32()),
                pa.array(lnames, type=pa.string()),
                pa.array(exts, type=pa.int32()),
                pa.array(fids, type=pa.int64()),
                pa.array(gts, type=pa.int32()),
                pa.ListArray.from_arrays(
                    pa.array(pb, type=pa.int32()),
                    pa.array(parts_flat, type=pa.int32()),
                ),
                pa.ListArray.from_arrays(vo, pa.array(xs, type=pa.int64())),
                pa.ListArray.from_arrays(vo, pa.array(ys, type=pa.int64())),
                pa.array(props, type=pa.string()),
                pa.nulls(nfeat, type=pa.string()),
            ] + [pa.array(c, type=t) for c, (_, t) in zip(extra_cols, extra)]
            yield pa.RecordBatch.from_arrays(arrays, names=names)
            if errs:  # one error row per undecodable tile
                eidx = np.fromiter(errs.keys(), dtype=np.int64, count=len(errs))
                err_arrays = [
                    pa.array(a[eidx], type=pa.int32()) for a in (zoom_a, x_a, y_a)
                ] + [pa.nulls(len(errs), type=a.type) for a in arrays[3:]]
                err_arrays[names.index("decode_error")] = pa.array(
                    list(errs.values()), type=pa.string())
                yield pa.RecordBatch.from_arrays(err_arrays, names=names)

    return tiles.mapInArrow(_decode, schema=schema)


def cogroup_tile_parity(a: DataFrame, b: DataFrame) -> DataFrame:
    """Per-tile parity diff via COGROUPED applyInPandas (SURVEY §2.9's
    cogrouped-map surface: ours-vs-oracle comparison per tile): decoded
    feature sets of two pipelines are matched within each (zoom, x, y)
    group on (feature_id, first vertex) and the per-tile counts of
    common / A-only / B-only features are emitted. One shuffle per side
    keyed by the tile address; groups never leave their executor."""

    def _sig(pdf: pd.DataFrame) -> set:
        out = set()
        for r in pdf.itertuples(index=False):
            if r.decode_error is not None:
                continue
            x0 = int(r.xs[0]) if r.xs is not None and len(r.xs) else -1
            y0 = int(r.ys[0]) if r.ys is not None and len(r.ys) else -1
            out.add((int(r.feature_id), x0, y0))
        return out

    def _diff(key: tuple, pa: pd.DataFrame, pb: pd.DataFrame) -> pd.DataFrame:
        sa, sb = _sig(pa), _sig(pb)
        return pd.DataFrame(
            {
                "zoom": [key[0]], "x": [key[1]], "y": [key[2]],
                "n_common": [len(sa & sb)],
                "n_only_a": [len(sa - sb)],
                "n_only_b": [len(sb - sa)],
            }
        )

    cols = ["zoom", "x", "y", "feature_id", "xs", "ys", "decode_error"]
    return (
        a.select(*cols)
        .groupBy("zoom", "x", "y")
        .cogroup(b.select(*cols).groupBy("zoom", "x", "y"))
        .applyInPandas(
            _diff,
            schema="zoom int, x int, y int, n_common long, "
                   "n_only_a long, n_only_b long",
        )
    )


def clip_features(features: DataFrame, buffer: int = 0) -> DataFrame:
    """Clip decoded feature geometries to the tile rect
    ``[-buffer, extent+buffer]^2`` — the engine form of the reference's
    ``feature.Geometry<T>(clipBuffer)`` path (VectorTileFeature.cs:
    82-116): points → bbox filter (Util.cs:42-68), linestrings →
    segment clip into sub-lines, polygon rings → rect intersection with
    a per-ring loop (the clip target is ALWAYS an axis-aligned rect —
    Util.cs:80-83 — so Sutherland–Hodgman replaces the full Vatti
    engine). Features whose geometry clips away entirely are dropped;
    error rows pass through unchanged.
    """

    def _clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mvtspark.kernels import geom as gk

        cols = [c.split()[0] for c in FEATURES_SCHEMA.split(", ")]
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if row.decode_error is not None:
                    out.append({c: getattr(row, c) for c in cols})
                    continue
                off = np.asarray(row.part_offsets, dtype=np.int64)
                xs = np.asarray(row.xs, dtype=np.int64)
                ys = np.asarray(row.ys, dtype=np.int64)
                extent = int(row.extent)
                new_parts: list[tuple[np.ndarray, np.ndarray]] = []
                for p in range(len(off) - 1):
                    px, py = xs[off[p]: off[p + 1]], ys[off[p]: off[p + 1]]
                    if row.geom_type == 1:  # POINT
                        cx, cy = gk.clip_points(px, py, extent, buffer)
                        if cx.size:
                            new_parts.append((cx, cy))
                    elif row.geom_type == 2:  # LINESTRING
                        new_parts.extend(gk.clip_line(px, py, extent, buffer))
                    else:  # POLYGON rings
                        cx, cy = gk.clip_ring(px, py, extent, buffer)
                        if cx.size:
                            new_parts.append((cx, cy))
                if not new_parts:
                    continue  # fully clipped away (ref: empty geometry)
                sizes = [p[0].size for p in new_parts]
                rec = {c: getattr(row, c) for c in cols}
                rec["part_offsets"] = np.r_[0, np.cumsum(sizes)].astype(np.int32)
                rec["xs"] = np.concatenate([p[0] for p in new_parts])
                rec["ys"] = np.concatenate([p[1] for p in new_parts])
                out.append(rec)
            yield pd.DataFrame(out, columns=cols)

    return features.mapInPandas(_clip, schema=FEATURES_SCHEMA)


def encode_tiles(
    features: DataFrame, layer_name: str = "features", partitions: int | None = None
) -> DataFrame:
    """Per-(zoom,x,y) feature groups → MVT binary (S9; inverse of decode).

    Plan shape (scale-critical): repartition on the tile key +
    sortWithinPartitions + mapInArrow with cross-batch group buffering —
    NOT a per-tile applyInPandas, whose per-group overhead dominates when
    tiles are small (sparse zoom levels produce millions of 1-feature
    tiles). Each Arrow batch encodes THOUSANDS of tiles in one
    kernels.mvt_batch.encode_tile_rows_flat call; ragged xs/ys/
    part_offsets stay in ListArray buffers end-to-end (no pandas
    conversion, no per-feature Python in the flatten). Features are
    ordered by feature_id for a deterministic byte stream (W2);
    dictionary encoding per tile (ref VectorTileLayer.cs:94-100), from
    the typed ``props_t`` union when the frame carries one, else from the
    JSON ``props``.
    """

    def _encode_tbl(tbl):
        import numpy as np
        import pyarrow as pa

        from mvtspark.kernels.mvt_batch import encode_tile_rows_flat

        z = tbl.column("zoom").to_numpy(zero_copy_only=False)
        x = tbl.column("x").to_numpy(zero_copy_only=False)
        y = tbl.column("y").to_numpy(zero_copy_only=False)
        n = len(z)
        change = np.ones(n, dtype=bool)
        change[1:] = (z[1:] != z[:-1]) | (x[1:] != x[:-1]) | (y[1:] != y[:-1])
        starts = np.flatnonzero(change)
        tile_bounds = np.append(starts, n).astype(np.int64)

        def _flat(name):
            arr = tbl.column(name).combine_chunks()
            lens = arr.value_lengths().to_numpy(zero_copy_only=False)
            off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=off[1:])
            return arr.flatten().to_numpy(zero_copy_only=False), off

        xs_f, vert_off = _flat("xs")
        ys_f, _ = _flat("ys")
        po_f, po_off = _flat("part_offsets")
        blobs = encode_tile_rows_flat(
            tile_bounds,
            tbl.column("feature_id").to_numpy(zero_copy_only=False).astype(np.int64),
            tbl.column("geom_type").to_numpy(zero_copy_only=False).astype(np.int64),
            xs_f, ys_f, vert_off, po_f, po_off,
            tbl.column("props").to_pylist()
            if "props" in tbl.schema.names else [None] * n,
            layer_name,
            tbl.column("extent").to_numpy(zero_copy_only=False)[starts].astype(np.int64),
            # typed union beats JSON when both are present: it carries
            # Float/Double/UInt/SInt/Bool identity losslessly
            props_typed=tbl.column("props_t").to_pylist()
            if "props_t" in tbl.schema.names else None,
        )
        return pa.RecordBatch.from_arrays(
            [
                pa.array(z[starts], type=pa.int32()),
                pa.array(x[starts], type=pa.int32()),
                pa.array(y[starts], type=pa.int32()),
                pa.array(blobs, type=pa.binary()),
                pa.array(np.diff(tile_bounds).astype(np.int32), type=pa.int32()),
            ],
            names=["zoom", "x", "y", "mvt", "feature_count"],
        )

    def _encode(batches):
        import pyarrow as pa

        held = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if held is not None and held.num_rows:
                tbl = pa.concat_tables([held, tbl]).combine_chunks()
            n = tbl.num_rows
            if n == 0:
                continue
            import numpy as np

            z = tbl.column("zoom").to_numpy(zero_copy_only=False)
            x = tbl.column("x").to_numpy(zero_copy_only=False)
            y = tbl.column("y").to_numpy(zero_copy_only=False)
            # rows NOT belonging to the (possibly incomplete) final tile
            mism = np.flatnonzero(
                (z != z[-1]) | (x != x[-1]) | (y != y[-1])
            )
            split = int(mism[-1]) + 1 if mism.size else 0
            held = tbl.slice(split)
            if split:
                yield _encode_tbl(tbl.slice(0, split).combine_chunks())
        if held is not None and held.num_rows:
            yield _encode_tbl(held.combine_chunks())

    out_schema = TILE_SCHEMA + ", feature_count int"
    part_cols = ["zoom", "x", "y"]
    shuffled = (
        features.repartition(partitions, *part_cols)
        if partitions
        else features.repartition(*part_cols)
    )
    sorted_df = shuffled.sortWithinPartitions("zoom", "x", "y", "feature_id")
    return sorted_df.mapInArrow(_encode, schema=out_schema)


def _fmt_invariant(arr) -> "pd.Series":
    """Doubles formatted the way the reference's invariant-culture
    ``string.Format("{0}", double)`` does on modern .NET: shortest
    round-trip decimal, no fractional part for integral values
    (1.0 -> "1", -0.0 -> "-0"). Python's float repr IS shortest
    round-trip; only the trailing ".0" differs.

    Exponent normalization: both formatters use shortest-round-trip
    digits and share the scientific-notation lower threshold (|v| <
    1e-4 → e-notation, with 2-digit-minimum exponents), but Python
    spells it '1.5e-05' where .NET spells '1.5E-05' — so the marker is
    uppercased here (near-zero longitudes at the prime meridian DO
    occur). Parity scope is |v| < 1e15: in the [1e15, 1e16) band .NET
    already switches to scientific while Python is still fixed; WGS84
    coordinates (|v| <= 180) never get near it."""
    s = pd.Series(arr).astype(str).str.replace(r"\.0$", "", regex=True)
    return s.str.replace("e", "E", regex=False)


def to_geojson(features: DataFrame) -> DataFrame:
    """Per-tile GeoJSON FeatureCollection (S5), exact-template parity
    with the reference serializer.

    ref: src/ExtensionMethods/VectorTile.cs:33-207 — the feature
    template ``{"type":"Feature","geometry":{"type":"T",
    "coordinates":[C]},"properties":{"id":ID,"lyr":"LYR","k":"v",...}}``
    (every property VALUE stringified in quotes, VectorTile.cs:68-81),
    geometry projected to WGS84 per vertex (Geometry.cs:71-103) with
    multipart type promotion (VectorTile.cs:87-151; a singlepart POINT
    serializes only its first vertex, :158-161).

    Vectorized: ALL vertices of the group are projected in one
    tile_to_lnglat call and formatted via pandas string ops; Python
    touches each FEATURE once (template fill + part joins), never each
    vertex (VERDICT r1 "What's wrong" #2)."""

    def _geo(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from mvtspark.kernels.proj import tile_to_lnglat

        zoom, tx, ty = int(key[0]), int(key[1]), int(key[2])
        if "decode_error" in pdf.columns:
            pdf = pdf[pdf["decode_error"].isna()]
        pdf = pdf[pdf["geom_type"].isin([1, 2, 3])]  # ref: UNKNOWN skipped
        feats: list[str] = []
        if len(pdf):
            xs_l = [np.asarray(a, dtype=np.float64) for a in pdf["xs"]]
            vlens = np.fromiter((a.size for a in xs_l), dtype=np.int64, count=len(xs_l))
            all_xs = np.concatenate(xs_l) if xs_l else np.empty(0)
            all_ys = np.concatenate(
                [np.asarray(a, dtype=np.float64) for a in pdf["ys"]]
            )
            ext = np.repeat(
                pdf["extent"].fillna(4096).to_numpy(np.int64), vlens
            )
            lng, lat = tile_to_lnglat(all_xs, all_ys, zoom, tx, ty, ext)
            lng_f = _fmt_invariant(lng)
            lat_f = _fmt_invariant(lat)
            coord = ("[" + lng_f + "," + lat_f + "]").to_numpy()
            lng_s = lng_f.to_numpy()
            lat_s = lat_f.to_numpy()
            vstart = np.zeros(len(xs_l) + 1, dtype=np.int64)
            np.cumsum(vlens, out=vstart[1:])
            for i, row in enumerate(pdf.itertuples(index=False)):
                off = np.asarray(row.part_offsets, dtype=np.int64) + vstart[i]
                nparts = len(off) - 1
                gt = int(row.geom_type)
                if gt == 1:
                    if nparts > 1:  # each MoveTo point is its own part
                        gjt = "MultiPoint"
                        coords = ",".join(coord[off[0] : off[-1]])
                    else:
                        gjt = "Point"  # ref serializes ONLY [0][0]
                        coords = f"{lng_s[off[0]]},{lat_s[off[0]]}"
                elif gt == 2:
                    if nparts > 1:
                        gjt = "MultiLineString"
                        coords = ",".join(
                            "[" + ",".join(coord[off[p] : off[p + 1]]) + "]"
                            for p in range(nparts)
                        )
                    else:
                        gjt = "LineString"
                        coords = ",".join(coord[off[0] : off[1]])
                else:
                    if nparts > 1:
                        gjt = "MultiPolygon"
                        coords = "[" + ",".join(
                            "[" + ",".join(coord[off[p] : off[p + 1]]) + "]"
                            for p in range(nparts)
                        ) + "]"
                    else:
                        gjt = "Polygon"
                        coords = "[" + ",".join(coord[off[0] : off[1]]) + "]"
                kv = ""
                if row.props:
                    pairs = json.loads(row.props)
                    if pairs:
                        # ref stringifies every value: True/False for
                        # bools (C# Object.ToString), invariant numbers.
                        # One divergence: the reference interpolates RAW
                        # strings (VectorTile.cs:68-72), which emits
                        # invalid JSON for values containing quotes /
                        # backslashes / control chars — we JSON-escape
                        # (identical bytes for clean strings, so the
                        # template-parity goldens still hold).
                        kv = "," + ",".join(
                            f"{json.dumps(k)}:{json.dumps(str(v))}"
                            for k, v in pairs.items()
                        )
                props = (
                    f'{{"id":{int(row.feature_id)},'
                    f'"lyr":{json.dumps(row.layer)}{kv}}}'
                )
                feats.append(
                    f'{{"type":"Feature","geometry":{{"type":"{gjt}",'
                    f'"coordinates":[{coords}]}},"properties":{props}}}'
                )
        doc = (
            '{"type":"FeatureCollection","features":[' + ",".join(feats) + "]}"
        )
        return pd.DataFrame(
            {"zoom": [zoom], "x": [tx], "y": [ty], "geojson": [doc]}
        )

    return features.groupBy("zoom", "x", "y").applyInPandas(
        _geo, schema="zoom int, x int, y int, geojson string"
    )


def simplify_features(features: DataFrame, eps: int) -> DataFrame:
    """Douglas–Peucker simplification of every geometry part (D16 —
    the reference vendors clipper's SimplifyPolygon, dead code per
    SURVEY §2.8; re-expressed Spark-first in kernels/simplify.py).

    Works on any frame carrying (part_offsets, xs, ys); all other
    columns pass through and the output schema equals the input schema.
    Whole-batch: every part of an Arrow batch goes through ONE
    dp_mask_batch call (flat worklist + reduceat — no per-feature DP
    recursion in Python); only output re-assembly walks rows.
    Integer-exact: split condition cross^2 > eps^2*|AB|^2, ties to the
    lowest index, so a DuckDB recursive-CTE oracle reproduces the kept
    set bit-for-bit.
    """
    schema = features.schema

    def _simp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mvtspark.kernels.simplify import dp_mask_batch

        for pdf in batches:
            if not len(pdf):
                continue
            def _arr(v):
                return (
                    np.empty(0, np.int64)
                    if v is None
                    else np.asarray(v, dtype=np.int64)
                )

            xs_l = [_arr(v) for v in pdf["xs"]]
            ys_l = [_arr(v) for v in pdf["ys"]]
            offs_l = [
                np.zeros(1, np.int64) if o is None or not len(o) else
                np.asarray(o, dtype=np.int64)
                for o in pdf["part_offsets"]
            ]
            nv = np.array([len(v) for v in xs_l], dtype=np.int64)
            base = np.concatenate([[0], np.cumsum(nv)])
            xs = np.concatenate(xs_l) if xs_l else np.empty(0, np.int64)
            ys = np.concatenate(ys_l) if ys_l else np.empty(0, np.int64)
            glob = np.concatenate(
                [o[:-1] + base[i] for i, o in enumerate(offs_l)] + [base[-1:]]
            )
            keep = dp_mask_batch(xs, ys, glob, eps)
            out = pdf.copy()
            new_xs, new_ys, new_off = [], [], []
            for i, o in enumerate(offs_l):
                k = keep[base[i]: base[i + 1]]
                new_xs.append(xs_l[i][k])
                new_ys.append(ys_l[i][k])
                kept_per_part = np.add.reduceat(k, o[:-1]) if len(o) > 1 else np.empty(0, np.int64)
                new_off.append(
                    np.concatenate([[0], np.cumsum(kept_per_part)]).astype(np.int32)
                )
            out["xs"] = new_xs
            out["ys"] = new_ys
            out["part_offsets"] = new_off
            yield out

    return features.mapInPandas(_simp, schema=schema)

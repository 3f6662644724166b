"""Spark-free kernel probes: each kernel named in the per-layer table,
called in this process on the workload's own generated input.

``probe(workload, seed)`` returns (rates, kernel_cpu): per-core rates of
every kernel, each on the input of the workload it serves, and the
kernel CPU seconds that one iteration of ``workload`` feeds each kernel
it uses.  Divided by the workload's ``cpu_s`` the latter gives the
kernel's share, which caps how far a faster kernel can move ``iter_s``.
"""

from __future__ import annotations

import json
import math
import time

import numpy as np

from . import gen

MIN_CPU_S = 0.2  # repeat a call until it has used this much CPU


def _cpu_per_call(fn, *args) -> float:
    n, t0 = 0, time.process_time()
    while True:
        fn(*args)
        n += 1
        dt = time.process_time() - t0
        if dt >= MIN_CPU_S:
            return dt / n


def _northstar_tiles(seed: int):
    """Points grouped into their tiles with numpy, in the flat layout the
    encoder takes."""
    pts = gen.points(seed)
    e, size = float(gen.NS_EXTENT), float(gen.NS_EXTENT) * 2.0 ** gen.NS_ZOOM
    lng = np.clip(pts["lng"].to_numpy(), -180.0, 180.0)
    lat = np.clip(pts["lat"].to_numpy(), -85.051128779806589, 85.051128779806589)
    s = np.sin(np.radians(lat))
    gx = (lng + 180.0) / 360.0 * size
    gy = (0.5 - np.log((1.0 + s) / (1.0 - s)) / (4.0 * math.pi)) * size
    n = (1 << gen.NS_ZOOM) - 1
    x = np.clip(np.floor(gx / e), 0, n).astype(np.int64)
    y = np.clip(np.floor(gy / e), 0, n).astype(np.int64)
    px = np.round(gx - x * e).astype(np.int64)
    py = np.round(gy - y * e).astype(np.int64)
    order = np.lexsort((y, x))
    x, y, px, py = x[order], y[order], px[order], py[order]
    captions = pts["caption"].to_numpy()[order]
    change = np.ones(x.size, dtype=bool)
    change[1:] = (x[1:] != x[:-1]) | (y[1:] != y[:-1])
    starts = np.flatnonzero(change)
    return x, y, px, py, captions, starts


def _encode_args(px, py, captions, starts, lo: int, hi: int):
    """encode_tile_rows_flat arguments for tiles lo..hi."""
    a, b = starts[lo], (starts[hi] if hi < starts.size else px.size)
    nf = b - a
    bounds = np.append(starts[lo:hi], b).astype(np.int64) - a
    return (bounds, np.arange(nf, dtype=np.int64), np.ones(nf, dtype=np.int64),
            px[a:b], py[a:b], np.arange(nf + 1, dtype=np.int64),
            np.tile(np.array([0, 1], dtype=np.int32), nf),
            np.arange(0, 2 * nf + 1, 2, dtype=np.int64),
            [json.dumps({"caption": c}) for c in captions[a:b]],
            "images", np.full(hi - lo, gen.NS_EXTENT, dtype=np.int64))


def _northstar(seed: int, rates: dict, cpu: dict | None) -> None:
    from mvtspark.kernels.geom import point_in_polygon_multi
    from mvtspark.kernels.mvt_batch import decode_tile_rows, encode_tile_rows_flat

    x, y, px, py, captions, starts = _northstar_tiles(seed)
    n_tiles = starts.size
    ring_idx = np.repeat(np.arange(n_tiles), np.diff(np.append(starts, px.size)))
    e = gen.NS_EXTENT
    offsets = np.arange(0, 5 * n_tiles + 1, 5, dtype=np.int64)
    rx = np.tile(np.array([0, e, e, 0, 0], dtype=np.int64), n_tiles)
    ry = np.tile(np.array([0, 0, e, e, 0], dtype=np.int64), n_tiles)
    t = _cpu_per_call(point_in_polygon_multi, px, py, ring_idx, offsets, rx, ry)
    rates["kernels.geom.point_in_polygon_multi.mpoints_per_core_s"] = px.size / t / 1e6
    k = min(n_tiles, 8000)  # a sample of tiles; cost is linear in tiles
    args = _encode_args(px, py, captions, starts, 0, k)
    t_enc = _cpu_per_call(encode_tile_rows_flat, *args)
    rates["kernels.mvt_batch.encode_tile_rows_flat.tiles_per_core_s"] = k / t_enc
    if cpu is not None:
        blobs = encode_tile_rows_flat(*args)
        t_dec = _cpu_per_call(lambda b: decode_tile_rows(b, flat=True), blobs)
        # the join is evaluated twice per iteration (see
        # operators.spatial_join_pip.rows_tested_per_point)
        cpu["kernels.geom.point_in_polygon_multi"] = 2 * t
        cpu["kernels.mvt_batch.encode_tile_rows_flat"] = t_enc * n_tiles / k
        cpu["kernels.mvt_batch.decode_tile_rows"] = t_dec * n_tiles / k


def _tile_decode(seed: int, rates: dict, cpu: dict | None) -> None:
    from mvtspark.kernels import mvt as mk
    from mvtspark.kernels.mvt_batch import decode_tile_rows

    rows, expect = gen.tiles(seed)
    blobs = [r[3] for r in rows]
    valid = [r[3] for r in rows if expect[(r[1], r[2])][0] < 0]
    t = _cpu_per_call(lambda b: decode_tile_rows(b, flat=True), valid)
    rates["kernels.mvt_batch.decode_tile_rows.tiles_per_core_s"] = len(valid) / t
    sample = valid[:24]
    t_strict = _cpu_per_call(lambda bs: [mk.decode_tile(b, validate=True) for b in bs], sample)
    rates["kernels.mvt.decode_tile.tiles_per_core_s"] = len(sample) / t_strict
    if cpu is not None:
        t_layers = _cpu_per_call(
            lambda b: decode_tile_rows(b, flat=True, layer_filter=gen.LAYER_FILTER), blobs)
        cpu["kernels.mvt_batch.decode_tile_rows"] = t * len(blobs) / len(valid) + t_layers
        cpu["kernels.mvt.decode_tile"] = t_strict * len(blobs) / len(sample)


def _images(seed: int, rates: dict, cpu: dict | None) -> None:
    from mvtspark.kernels.image import decode_image, mrj_roundtrip_batch
    from mvtspark.kernels.jpeg import decode_jpeg, encode_jpeg

    noise, smooth = gen.images(seed)
    stacks: dict = {}
    for _, b, w, h, fmt in noise:
        stacks.setdefault((w, h), []).append(decode_image(b, w, h, fmt))
    stacks = [np.stack(v) for v in stacks.values()]
    mb = sum(s.nbytes for s in stacks) / 1e6
    t = _cpu_per_call(lambda ss: [mrj_roundtrip_batch(s, 4) for s in ss], stacks)
    rates["kernels.image.mrj_roundtrip_batch.mb_per_core_s"] = mb / t
    imgs = [decode_image(b, w, h, fmt) for _, b, w, h, fmt in smooth]
    smb = sum(i.nbytes for i in imgs) / 1e6
    t_enc = _cpu_per_call(lambda ii: [encode_jpeg(i, 85, subsampling="420") for i in ii], imgs)
    encs = [encode_jpeg(i, 85, subsampling="420") for i in imgs]
    t_dec = _cpu_per_call(lambda ee: [decode_jpeg(e) for e in ee], encs)
    rates["kernels.jpeg.encode_jpeg.mb_per_core_s"] = smb / t_enc
    rates["kernels.jpeg.decode_jpeg.mb_per_core_s"] = smb / t_dec
    if cpu is not None:
        cpu["kernels.image.mrj_roundtrip_batch"] = t
        cpu["kernels.jpeg.encode_jpeg"] = t_enc
        cpu["kernels.jpeg.decode_jpeg"] = t_dec


def _pairs(seed: int, rates: dict, cpu: dict | None) -> None:
    from mvtspark.kernels.polysweep import boolean_pair_measures

    by_size: dict = {}
    for r in gen.polygon_pairs(seed):
        by_size.setdefault(len(r[1]), []).append(r[1:])
    total = 0.0
    for nv, group in by_size.items():
        t0 = time.process_time()
        for p in group:
            boolean_pair_measures(*p)
        dt = time.process_time() - t0
        total += dt
        if nv in (16, 64):
            rates[f"kernels.polysweep.boolean_pair_measures.pairs_per_core_s.v{nv}"] = len(group) / dt
    if cpu is not None:
        cpu["kernels.polysweep.boolean_pair_measures"] = total


#: probe -> the workload whose input it reads
_PROBES = ((_northstar, "northstar"), (_tile_decode, "maps"),
           (_images, "maps"), (_pairs, "maps"))
RATES = (
    "kernels.mvt_batch.decode_tile_rows.tiles_per_core_s",
    "kernels.mvt.decode_tile.tiles_per_core_s",
    "kernels.mvt_batch.encode_tile_rows_flat.tiles_per_core_s",
    "kernels.geom.point_in_polygon_multi.mpoints_per_core_s",
    "kernels.image.mrj_roundtrip_batch.mb_per_core_s",
    "kernels.jpeg.encode_jpeg.mb_per_core_s",
    "kernels.jpeg.decode_jpeg.mb_per_core_s",
    "kernels.polysweep.boolean_pair_measures.pairs_per_core_s.v16",
    "kernels.polysweep.boolean_pair_measures.pairs_per_core_s.v64",
)
KERNELS = (
    "kernels.mvt_batch.decode_tile_rows",
    "kernels.mvt.decode_tile",
    "kernels.mvt_batch.encode_tile_rows_flat",
    "kernels.geom.point_in_polygon_multi",
    "kernels.image.mrj_roundtrip_batch",
    "kernels.jpeg.encode_jpeg",
    "kernels.jpeg.decode_jpeg",
    "kernels.polysweep.boolean_pair_measures",
)


def probe(workload: str, seed: int) -> tuple[dict, dict]:
    rates: dict = {}
    cpu: dict = {}
    for fn, name in _PROBES:
        fn(seed, rates, cpu if name == workload else None)
    return rates, cpu

"""Seeded input generators and the expected values the output checks use.

Everything a workload feeds the program is built here from the run's
seed, with numpy, pandas and the standard library.  Nothing is imported
from the program: if a later change edits one of the program's own
synthetic sources, the benchmark's inputs stay the same.  The tile bytes
come from a small protobuf writer in this file, so the MVT decoder under
test never decodes its own encoder's output here.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

# --------------------------------------------------------------------------
# north-star points
# --------------------------------------------------------------------------

#: share of the points in city clusters; the rest are uniform.  This is
#: the program's own model of its production traffic: 80 % Zipf-clustered
#: on 16 cities, each offset 0.05 degrees times a sum of three uniforms
#: less 1.5 (standard deviation 0.025 degrees), and 20 % uniform.
NS_CLUSTERED = 0.8
NS_SCALE = 0.05
#: below this many distinct tiles ``broadcast_rings`` compiles the refine
#: step to a native rectangle predicate and the Python PIP UDF leaves the
#: plan; the workload must stay above it
RECT_NATIVE_MAX = 65_536
#: sized so that the uniform fifth alone, nearly one tile per point,
#: covers more than :data:`RECT_NATIVE_MAX` tiles (expected 68,800,
#: standard deviation about 235)
NS_POINTS = 344_000
NS_ZOOM = 14
NS_EXTENT = 4096
_CITIES = np.array(
    [(40.71, -74.01), (51.51, -0.13), (35.68, 139.65), (-23.55, -46.63),
     (19.08, 72.88), (31.23, 121.47), (48.86, 2.35), (30.04, 31.24),
     (-33.87, 151.21), (55.76, 37.62), (34.05, -118.24), (6.52, 3.38),
     (-34.60, -58.38), (28.61, 77.21), (39.90, 116.41), (1.35, 103.82)]
)
_NOUNS = ("harbour", "bridge", "market", "tower", "park", "station")


def points(seed: int, n: int = NS_POINTS):
    """Geotagged points: 80 % in clusters around sixteen cities with Zipf
    weights, 20 % uniform over the Web-Mercator latitudes.  The clusters
    give the salted aggregation its hot tiles; the uniform part keeps the
    distinct-tile count above :data:`RECT_NATIVE_MAX`."""
    import pandas as pd

    rng = np.random.default_rng([seed, 1])
    clustered = rng.random(n) < NS_CLUSTERED
    w = 1.0 / np.arange(1, len(_CITIES) + 1)
    city = rng.choice(len(_CITIES), size=n, p=w / w.sum())
    off = rng.random((2, 3, n)).sum(axis=1) - 1.5
    lat = np.where(
        clustered, _CITIES[city, 0] + NS_SCALE * off[0],
        rng.uniform(-85.05, 85.05, n))
    lng = np.where(
        clustered, _CITIES[city, 1] + NS_SCALE * off[1],
        rng.uniform(-180.0, 180.0, n))
    ids = [f"p{seed % 1000:03d}-{i:08d}" for i in range(n)]
    return pd.DataFrame({
        "image_id": ids,
        "caption": [f"{_NOUNS[i % len(_NOUNS)]} near city{c}"
                    for i, c in enumerate(city)],
        "lat": lat,
        "lng": lng,
    })


def tile_counts_sql(parquet_path: str) -> str:
    """DuckDB replay of the forward Web-Mercator tile math: one row per
    tile with its point count and the sums of the in-tile pixel
    coordinates.  Written from the formula, not from the program's code."""
    size = float(NS_EXTENT) * 2.0 ** NS_ZOOM
    n = (1 << NS_ZOOM) - 1
    e = float(NS_EXTENT)
    return f"""
    WITH c AS (
      SELECT greatest(-180.0, least(180.0, lng::DOUBLE)) AS lng,
             greatest(-85.051128779806589,
                      least(85.051128779806589, lat::DOUBLE)) AS lat
      FROM read_parquet('{parquet_path}')),
    g AS (
      SELECT (lng + 180.0) / 360.0 * {size!r} AS gx,
             (0.5 - ln((1.0 + sin(radians(lat))) / (1.0 - sin(radians(lat))))
                    / {4.0 * math.pi!r}) * {size!r} AS gy
      FROM c),
    t AS (
      SELECT gx, gy,
             greatest(0, least({n}, floor(gx / {e!r})))::INTEGER AS x,
             greatest(0, least({n}, floor(gy / {e!r})))::INTEGER AS y
      FROM g)
    SELECT x, y, count(*) AS n,
           sum(round(gx - x::DOUBLE * {e!r})::BIGINT) AS sx,
           sum(round(gy - y::DOUBLE * {e!r})::BIGINT) AS sy
    FROM t GROUP BY x, y
    """


# --------------------------------------------------------------------------
# MVT tiles (the reference Bench grid)
# --------------------------------------------------------------------------

#: src/Bench/Program.cs:23-63 - zoom 14, 14 columns x 15 rows = 210 tiles
GRID_ZOOM = 14
GRID_COLS = range(4680, 4694)
GRID_ROWS = range(6260, 6275)
#: (layer, features per tile, vertices per feature, geometry type).  The
#: layer mix of the reference-shape corpus at a fortieth of its feature
#: count (30 features per tile instead of 1,198), so that three decodes
#: of all 210 tiles, one of them strict, fit several times in a run.
TILE_LAYERS = (
    ("water", 1, 32, 3),
    ("landuse", 1, 8, 3),
    ("roads", 10, 14, 2),
    ("buildings", 15, 4, 3),
    ("poi", 3, 1, 1),
)
LAYER_FILTER = frozenset({"roads", "poi"})


def _varint(v: int) -> bytes:
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _field(tag: int, payload: bytes) -> bytes:
    return _varint(tag << 3 | 2) + _varint(len(payload)) + payload


def _packed(tag: int, vals) -> bytes:
    return _field(tag, b"".join(_varint(int(v)) for v in vals))


def _zig(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _geometry(xs, ys, gt: int) -> list[int]:
    """MVT command stream.  Polygons are written open (last vertex not
    repeated) and closed by ClosePath."""
    cmds = [1 | 1 << 3, _zig(int(xs[0])), _zig(int(ys[0]))]
    if len(xs) > 1:
        cmds.append(2 | (len(xs) - 1) << 3)
        for i in range(1, len(xs)):
            cmds += [_zig(int(xs[i] - xs[i - 1])), _zig(int(ys[i] - ys[i - 1]))]
    if gt == 3:
        cmds.append(7 | 1 << 3)
    return cmds


def _value(v) -> bytes:
    if isinstance(v, str):
        return _field(1, v.encode())  # string_value
    return _varint(4 << 3) + _varint(int(v))  # int_value


def _layer_bytes(rng, name: str, nfeat: int, nv: int, gt: int,
                 next_id: int) -> tuple[bytes, int]:
    """One layer with ``nfeat`` features of ``nv`` vertices; returns the
    bytes and the number of decoded vertices (closed rings repeat their
    first vertex)."""
    keys = ["class", "rank"]
    classes = [f"{name}-{k}" for k in range(6)]
    ranks = list(range(1, 9))
    values = [*classes, *ranks]  # distinct, as strict decode requires
    feats = []
    for i in range(nfeat):
        if gt == 3:  # simple convex ring, counter-clockwise in tile space
            cx, cy = rng.integers(200, 3896, 2)
            r = int(rng.integers(20, 180))
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            xs = np.round(cx + r * np.cos(ang)).astype(np.int64)
            ys = np.round(cy + r * np.sin(ang)).astype(np.int64)
        else:
            xs = rng.integers(0, 4096, nv)
            ys = rng.integers(0, 4096, nv)
        tags = [0, int(rng.integers(0, len(classes))),
                1, len(classes) + int(rng.integers(0, len(ranks)))]
        body = (_varint(1 << 3) + _varint(next_id + i) + _packed(2, tags)
                + _varint(3 << 3) + _varint(gt) + _packed(4, _geometry(xs, ys, gt)))
        feats.append(_field(2, body))
    out = (_varint(15 << 3) + _varint(2) + _field(1, name.encode())
           + b"".join(feats)
           + b"".join(_field(3, k.encode()) for k in keys)
           + b"".join(_field(4, _value(v)) for v in values)
           + _varint(5 << 3) + _varint(4096))
    return _field(3, out), nfeat * (nv + (1 if gt == 3 else 0))


# Invalid-tile templates, one per validation class of the strict decoder:
# raw wire bytes written here so that no encoder is in the loop.  Class 0
# is the intact control and decodes one feature.
_FEATURE = bytes([0x08, 0x7B, 0x12, 0x02, 0x00, 0x00, 0x18, 0x01,
                  0x22, 0x03, 0x09, 0x32, 0x22])
_NAME = bytes([0x0A, 0x0A]) + b"layer_name"
_KEY = bytes([0x1A, 0x05]) + b"hello"
_VAL = bytes([0x22, 0x07, 0x0A, 0x05]) + b"world"
_VERSION = bytes([0x78, 0x02])


def _t(body: bytes) -> bytes:
    return bytes([0x1A, len(body)]) + body


def _l(feature=_FEATURE, name=_NAME, version=_VERSION, key=_KEY, val=_VAL,
       extent=b"") -> bytes:
    feat = bytes([0x12, len(feature)]) + feature if feature else b""
    return version + name + feat + key + val + extent


_VALID = _t(_l())
INVALID_CLASSES: dict[int, bytes] = {
    0: _VALID,
    1: b"",
    2: b"\x1f\x8b" + _VALID,
    3: b"\x1a\xff",
    4: _t(_l(feature=_FEATURE + bytes([0x2B]))),
    5: b"\x00" + _VALID[1:],
    6: b"\x08\x01" + _VALID,
    7: _t(_l(version=bytes([0x78, 0x01]))),
    8: _t(_l(name=b"")),
    9: _t(_l(feature=b"")),
    10: _t(_l(extent=bytes([0x28, 0x00]))),
    11: _t(_l()) + _t(_l()),
    12: _t(_l(val=_VAL + _VAL)),
    13: _t(_l(feature=_FEATURE[:6] + _FEATURE[8:])),
    14: _t(_l(feature=_FEATURE[:-5])),
    15: _t(_l(feature=_FEATURE[:2] + bytes([0x12, 0x01, 0x00]) + _FEATURE[6:])),
    16: _t(_l(feature=_FEATURE[:2] + bytes([0x12, 0x02, 0x05, 0x00]) + _FEATURE[6:])),
    17: _t(_l(feature=_FEATURE[:2] + bytes([0x12, 0x02, 0x00, 0x05]) + _FEATURE[6:])),
    18: bytes([0x1A, 0x7F]) + _l()[:20],
}
#: classes each decode mode turns into one ``decode_error`` row.  The
#: strict decoder rejects every class but the control.  Without
#: validation only the faults the reader cannot read past are errors; the
#: semantic ones decode to features.  The layer filter skips the
#: template's only layer unread, so fewer faults surface there.
REJECTS = {
    "lenient": frozenset({1, 2, 3, 4, 5, 11, 16, 17, 18}),
    "validate": frozenset(range(1, 19)),
    "layers": frozenset({1, 2, 3, 5, 11, 18}),
}
#: features the lenient decoder yields for each class it reads past
_LENIENT_FEATURES = {0: 1, 9: 0}


def class_features(mode: str, cls: int) -> int:
    """Features a decode mode yields for an invalid-class template."""
    if cls in REJECTS[mode] or mode == "layers":
        return 0
    return _LENIENT_FEATURES.get(cls, 1)


MODES = ("lenient", "validate", "layers")


def tiles(seed: int):
    """The 210-tile grid.  Each grid position holds a five-layer tile,
    except 19 positions chosen by the seed, which hold one invalid-class
    template each.  Returns (rows, expect): rows are (zoom, x, y, mvt);
    ``expect[(x, y)]`` is (cls, {mode: (features, vertices, errors)})
    with cls -1 for generated tiles and vertices None where the check
    does not count them."""
    rng = np.random.default_rng([seed, 2])
    grid = [(GRID_ZOOM, x, y) for x in GRID_COLS for y in GRID_ROWS]
    special = rng.choice(len(grid), size=len(INVALID_CLASSES), replace=False)
    cls_at = {int(p): c for c, p in zip(INVALID_CLASSES, special)}
    rows, expect = [], {}
    for i, (z, x, y) in enumerate(grid):
        if i in cls_at:
            c = cls_at[i]
            rows.append((z, x, y, INVALID_CLASSES[c]))
            expect[(x, y)] = (c, {m: (class_features(m, c), None,
                                      int(c in REJECTS[m])) for m in MODES})
            continue
        parts = []
        nf = nv = lf = lv = 0
        for li, (name, k, v, gt) in enumerate(TILE_LAYERS):
            b, nvert = _layer_bytes(rng, name, k, v, gt, next_id=li * 1000)
            parts.append(b)
            nf, nv = nf + k, nv + nvert
            if name in LAYER_FILTER:
                lf, lv = lf + k, lv + nvert
        rows.append((z, x, y, b"".join(parts)))
        expect[(x, y)] = (-1, {"lenient": (nf, nv, 0), "validate": (nf, nv, 0),
                               "layers": (lf, lv, 0)})
    return rows, expect


# --------------------------------------------------------------------------
# images
# --------------------------------------------------------------------------

NOISE_IMAGES = 24
SMOOTH_IMAGES = 6
_NOISE_SHAPES = ((64, 64), (96, 64), (64, 96), (80, 80))
_SMOOTH_SHAPES = ((63, 65), (96, 81), (79, 79))


def _png(img: np.ndarray) -> bytes:
    """PNG (color type 2, 8 bit, filter 0 on every scanline) via zlib."""
    h, w, _ = img.shape

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))

    raw = np.zeros((h, 1 + 3 * w), dtype=np.uint8)
    raw[:, 1:] = img.reshape(h, 3 * w)
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
            + chunk(b"IEND", b""))


def images(seed: int):
    """(noise, smooth) image rows (image_id, bytes, w, h, fmt).  Noise
    images, a third of them PNG, go through the 4:4:4 lossy codec; the
    smooth ones (low-frequency sinusoids and a gradient) go through the
    4:2:0 JFIF codec, where 40 dB holds."""
    rng = np.random.default_rng([seed, 3])
    noise = []
    for i in range(NOISE_IMAGES):
        w, h = _NOISE_SHAPES[i % len(_NOISE_SHAPES)]
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        if i % 3 == 0:
            noise.append((f"n{i:04d}", _png(img), w, h, "png"))
        else:
            noise.append((f"n{i:04d}", img.tobytes(), w, h, "raw"))
    smooth = []
    for i in range(SMOOTH_IMAGES):
        w, h = _SMOOTH_SHAPES[i % len(_SMOOTH_SHAPES)]
        yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
        ph = rng.uniform(0, 6.0)
        r = 128 + 70 * np.sin(xx / w * 2.1 + ph) * np.cos(yy / h * 1.3)
        g = 128 + 60 * np.cos(xx / w * 1.7 - ph / 2)
        b = 40 + (xx + 2 * yy) * (160.0 / (w + 2 * h))
        img = np.clip(np.round(np.stack([r, g, b], -1)), 0, 255).astype(np.uint8)
        smooth.append((f"s{i:04d}", img.tobytes(), w, h, "raw"))
    return noise, smooth


# --------------------------------------------------------------------------
# polygon pairs
# --------------------------------------------------------------------------

#: vertices per ring and number of pairs of that size.  Cost grows about
#: as n^2.9, so the few large pairs set the slowest task.
PAIR_MIX = ((16, 12), (32, 5), (48, 2), (64, 1))


def _star(rng, cx: int, cy: int, nv: int) -> tuple[list[int], list[int]]:
    """Non-convex star: alternating outer and inner radii at increasing
    angles, so the ring is simple; integer vertices, not closed."""
    base = rng.uniform(0, 2 * np.pi)
    xs, ys = [], []
    for k in range(nv):
        a = base + 2 * np.pi * (k + rng.uniform(0.1, 0.9)) / nv
        r = rng.uniform(700, 1000) if k % 2 == 0 else rng.uniform(250, 450)
        xs.append(int(round(cx + r * math.cos(a))))
        ys.append(int(round(cy + r * math.sin(a))))
    return xs, ys


def polygon_pairs(seed: int):
    """Rows (pair_id, ax, ay, bx, by): overlapping star pairs in the
    fixed :data:`PAIR_MIX` of sizes, shuffled by the seed."""
    rng = np.random.default_rng([seed, 4])
    sizes = [nv for nv, k in PAIR_MIX for _ in range(k)]
    rng.shuffle(sizes)
    rows = []
    for pid, nv in enumerate(sizes):
        ax, ay = _star(rng, 0, 0, nv)
        bx, by = _star(rng, int(rng.integers(-600, 600)),
                       int(rng.integers(-600, 600)), nv)
        rows.append((pid, ax, ay, bx, by))
    return rows


def area2(xs, ys) -> int:
    """Twice the absolute area of a simple ring, by the shoelace formula
    in Python integers (exact)."""
    n = len(xs)
    s = sum(xs[i] * ys[(i + 1) % n] - xs[(i + 1) % n] * ys[i] for i in range(n))
    return abs(s)

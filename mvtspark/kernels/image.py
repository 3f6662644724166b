"""Image payload kernels (D20 in SURVEY §2.8) — pure numpy + stdlib zlib.

PIL/cv2 are absent from this environment, so codecs are from-scratch:

- ``fmt='raw'``: C-order RGB uint8 bytes (lossless, PSNR = inf)
- ``fmt='png'``: real PNG (RFC 2083): IHDR/IDAT/IEND chunks, zlib
  deflate, filter type 0 on encode; decode handles filter types 0-4
  (None/Sub/Up/Average/Paeth) so foreign encoders round-trip too
- PSNR = 10*log10(255^2 / MSE) — the BASELINE.json:15 invariant is
  PSNR >= 40 dB for lossy formats, exact equality for lossless
- pHash: 64-bit perceptual hash — 32x32 grayscale → 2D DCT-II →
  top-left 8x8 (skipping DC) sign-vs-median bits

The deterministic synthesis here is the `images` table generator of
FIXTURES.md §1 — every column derivable from image_id alone, so any
executor regenerates rows without shuffle or driver broadcast.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# raw codec
# ---------------------------------------------------------------------------

def encode_raw(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → C-order bytes."""
    assert img.dtype == np.uint8 and img.ndim == 3 and img.shape[2] == 3
    return np.ascontiguousarray(img).tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8, count=w * h * 3).reshape(h, w, 3)


# ---------------------------------------------------------------------------
# PNG codec (RFC 2083)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG bytes (color type 2, bit depth 8, filter 0)."""
    assert img.dtype == np.uint8 and img.ndim == 3 and img.shape[2] == 3
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = img.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)).astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """PNG → (h, w, 3) uint8. Supports 8-bit RGB/RGBA, filters 0-4."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    idat = bytearray()
    w = h = bpp = 0
    channels = 3
    while pos < len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or ctype not in (2, 6) or interlace:
                raise ValueError("unsupported PNG variant")
            channels = 3 if ctype == 2 else 4
            bpp = channels
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = 1 + w * channels
    raw = raw.reshape(h, stride)
    filters = raw[:, 0]
    out = np.zeros((h, w * channels), dtype=np.uint8)
    for row in range(h):
        f = filters[row]
        cur = raw[row, 1:].astype(np.uint8).copy()
        prev = out[row - 1] if row else np.zeros(w * channels, dtype=np.uint8)
        if f == 0:
            out[row] = cur
        elif f == 1:  # Sub — sequential in x, vectorize per byte-offset lane
            lane = cur.reshape(w, channels)
            acc = np.cumsum(lane.astype(np.int64), axis=0) % 256
            out[row] = acc.astype(np.uint8).reshape(-1)
        elif f == 2:  # Up
            out[row] = cur + prev
        elif f == 3:  # Average
            o = out[row]
            for x in range(w * channels):
                left = int(o[x - bpp]) if x >= bpp else 0
                o[x] = (int(cur[x]) + (left + int(prev[x])) // 2) % 256
        elif f == 4:  # Paeth
            o = out[row]
            for x in range(w * channels):
                a = int(o[x - bpp]) if x >= bpp else 0
                c = int(prev[x - bpp]) if x >= bpp else 0
                o[x] = (int(cur[x]) + int(_paeth(np.uint8(a), prev[x], np.uint8(c)))) % 256
        else:
            raise ValueError(f"bad filter {f}")
    img = out.reshape(h, w, channels)
    return img[:, :, :3].copy()


def decode_image(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    if fmt == "raw":
        return decode_raw(data, w, h)
    if fmt == "png":
        return decode_png(data)
    if fmt == "mrj":  # from-scratch lossy codec, below
        return decode_mrj(data)
    if fmt in ("jpeg", "jpg"):  # from-scratch baseline JFIF (kernels/jpeg.py)
        from .jpeg import decode_jpeg

        return decode_jpeg(data)
    raise NotImplementedError(f"image format {fmt!r} not available in this environment")


# ---------------------------------------------------------------------------
# MRJ — from-scratch LOSSY image codec (the image twin of kernels/video.py's
# MRV): BT.601 YCbCr → 8x8 orthonormal DCT-II per block → uniform
# quantization (qstep) → zlib, in two modes: 4:4:4 (magic MRJ1) and 4:2:0
# (MRJ2: full-resolution Y, 2x2 box-averaged Cb/Cr). Exists to make the
# BASELINE input_hint's "PSNR >= 40 dB for lossy" invariant REAL
# (raw/PNG are lossless, where it held vacuously): at the default qstep=4
# the synthetic corpus measures >= 41.7 dB worst-case. The synth images
# are uniform noise — the information-theoretic worst case, which barely
# compresses (~1.05x); smooth/natural content compresses 10x+ (pinned in
# tests). No external libs; pure numpy, deterministic.
#
# One stacked core computes both modes over (n, h, w, 3) stacks: the color
# pair (_ycbcr/_rgb8), the block DCT pair (block_dct/block_idct) and the
# chroma pair (chroma_down/_chroma_up); the JFIF codec in kernels/jpeg.py
# reuses block_dct, block_idct and chroma_down. The per-image entry points
# are its n = 1 calls. The bytes are pinned by payload digests
# (tests/test_mrj_frozen.py) and the frozen lossy_roundtrip_psnr and
# lossy_420_psnr goldens: the einsum summation order is part of the
# format (a reassociated DCT, e.g. flattened block axes or a BLAS matmul,
# moves coefficients across round() boundaries).
# ---------------------------------------------------------------------------

_MRJ_MAGIC = b"MRJ1"
_MRJ2_MAGIC = b"MRJ2"

_K8 = np.arange(8, dtype=np.float64)
DCT8 = np.cos(np.pi * (2 * _K8[None, :] + 1) * _K8[:, None] / 16.0)
DCT8[0] *= np.sqrt(1 / 8)
DCT8[1:] *= np.sqrt(2 / 8)  # orthonormal: inverse == transpose
DCT8.flags.writeable = False


def block_dct(planes: np.ndarray) -> np.ndarray:
    """(n, H, W) float planes, H and W multiples of 8 → (n, H/8, W/8, 8, 8)
    DCT-II coefficients of the level-shifted (-128) 8x8 blocks."""
    n, hh, ww = planes.shape
    blk = planes.reshape(n, hh // 8, 8, ww // 8, 8).transpose(0, 1, 3, 2, 4)
    return np.einsum("ij,nabjk,lk->nabil", DCT8, blk - 128.0, DCT8)


def block_idct(coef: np.ndarray) -> np.ndarray:
    """Inverse of block_dct: (n, by, bx, 8, 8) → (n, 8*by, 8*bx) planes."""
    n, by, bx = coef.shape[:3]
    blk = np.einsum("ji,nabjk,kl->nabil", DCT8, coef, DCT8) + 128.0
    return blk.transpose(0, 1, 3, 2, 4).reshape(n, by * 8, bx * 8)


def _ycbcr(rgb: np.ndarray):
    """BT.601 float RGB (..., 3) → Y, Cb, Cr planes."""
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    return y, 128.0 + (b - y) * 0.564, 128.0 + (r - y) * 0.713


def _rgb8(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """Inverse of _ycbcr, rounded and clipped to uint8 (..., 3)."""
    r = y + (cr - 128.0) / 0.713
    b = y + (cb - 128.0) / 0.564
    g = (y - 0.299 * r - 0.114 * b) / 0.587
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def chroma_down(c: np.ndarray) -> np.ndarray:
    """2x2 box average of (n, H, W) planes with even H and W."""
    n, hh, ww = c.shape
    return c.reshape(n, hh // 2, 2, ww // 2, 2).mean(axis=(2, 4))


def _chroma_up(c: np.ndarray, h: int, w: int) -> np.ndarray:
    """Inverse of chroma_down: repeat each sample 2x2, crop to (h, w)."""
    c = c[:, : (h + 1) // 2, : (w + 1) // 2]
    return c.repeat(2, axis=1).repeat(2, axis=2)[:, :h, :w]


def _mrj_grids(h: int, w: int, subsample: bool) -> list[tuple[int, int]]:
    """8x8 block grid (rows, cols) of the Y, Cb and Cr planes."""
    ch, cw = ((h + 1) // 2, (w + 1) // 2) if subsample else (h, w)
    return [(-(-ph // 8), -(-pw // 8)) for ph, pw in ((h, w), (ch, cw), (ch, cw))]


def _mrj_encode(
    stack: np.ndarray, qstep: int, subsample: bool
) -> tuple[list[bytes], list[np.ndarray]]:
    """(n, h, w, 3) uint8 stack → (payloads, quantized Y/Cb/Cr
    coefficients, each (n, by, bx, 8, 8) int16). zlib runs per image."""
    if not 1 <= qstep <= 255:
        raise ValueError(f"qstep {qstep} out of range 1..255")
    n, h, w, _ = stack.shape
    if w > 0xFFFF or h > 0xFFFF:  # header '<H' fields — fail up front
        raise ValueError(f"image {w}x{h} exceeds the 65535 MRJ dim limit")
    m = 2 if subsample else 8  # 4:2:0 pads to even dims, planes to 8 below
    p = np.pad(stack, ((0, 0), (0, (-h) % m), (0, (-w) % m), (0, 0)), mode="edge")
    y, cb, cr = _ycbcr(p.astype(np.float64))
    if subsample:
        cb, cr = chroma_down(cb), chroma_down(cr)
    quant = []
    for ch in (y, cb, cr):
        _, ph, pw = ch.shape
        if ph % 8 or pw % 8:
            ch = np.pad(ch, ((0, 0), (0, (-ph) % 8), (0, (-pw) % 8)), mode="edge")
        quant.append(np.round(block_dct(ch) / qstep).astype("<i2"))
    magic = _MRJ2_MAGIC if subsample else _MRJ_MAGIC
    header = struct.pack("<4sHHB", magic, w, h, qstep)
    payloads = [
        header + zlib.compress(b"".join(q[j].tobytes() for q in quant), 6)
        for j in range(n)
    ]
    return payloads, quant


def _mrj_decode(
    quant: list[np.ndarray], qstep: int, h: int, w: int, subsample: bool
) -> np.ndarray:
    """Quantized Y/Cb/Cr coefficients → (n, h, w, 3) uint8."""
    y, cb, cr = (block_idct(q.astype(np.float64) * qstep) for q in quant)
    if subsample:
        cb, cr = _chroma_up(cb, h, w), _chroma_up(cr, h, w)
    return _rgb8(y[:, :h, :w], cb[:, :h, :w], cr[:, :h, :w])


def encode_mrj(img: np.ndarray, qstep: int = 4) -> bytes:
    """Lossy-encode an (h, w, 3) uint8 image in 4:4:4 mode; qstep trades
    quality for size (qstep=4 ≈ 42 dB on noise, far higher on smooth
    content)."""
    return _mrj_encode(img[None], qstep, False)[0][0]


def encode_mrj420(img: np.ndarray, qstep: int = 4) -> bytes:
    """MRJ with 4:2:0 chroma subsampling (magic MRJ2) — real compression
    on smooth / natural content (chroma carries little detail there, so
    the PSNR >= 40 dB bound holds on the smooth corpus while the payload
    drops ~2x vs 4:4:4; pinned in tests). On uniform noise the chroma
    detail is irrecoverable by construction — that corpus stays on the
    4:4:4 mode."""
    return _mrj_encode(img[None], qstep, True)[0][0]


def decode_mrj(data: bytes) -> np.ndarray:
    """MRJ payload of either mode (dispatched by magic) → (h, w, 3) uint8."""
    magic = data[:4]
    if len(data) < 9 or magic not in (_MRJ_MAGIC, _MRJ2_MAGIC):
        raise ValueError("not an MRJ payload")
    _, w, h, qstep = struct.unpack_from("<4sHHB", data, 0)
    if qstep == 0:  # no encoder writes it: it would decode to flat gray
        raise ValueError("MRJ qstep 0 out of range 1..255")
    subsample = magic == _MRJ2_MAGIC
    try:
        raw = zlib.decompress(data[9:])
    except zlib.error as e:
        raise ValueError(f"corrupt MRJ payload: {e}") from None
    grids = _mrj_grids(h, w, subsample)
    ends = np.cumsum([by * bx * 64 for by, bx in grids])
    arr = np.frombuffer(raw, dtype="<i2")
    if arr.size != ends[-1]:
        raise ValueError("MRJ payload length mismatch")
    quant = [
        a.reshape(1, by, bx, 8, 8)
        for a, (by, bx) in zip(np.split(arr, ends[:-1]), grids)
    ]
    return _mrj_decode(quant, qstep, h, w, subsample)[0]


def decode_mrj420(data: bytes) -> np.ndarray:
    """decode_mrj restricted to 4:2:0 (MRJ2) payloads."""
    if data[:4] != _MRJ2_MAGIC:
        raise ValueError("not an MRJ2 payload")
    return decode_mrj(data)


_MRJ_CHUNK_BYTES = 8_000_000  # largest float64 temp per chunk (~8 MB):
# full-stack temps fall out of cache and measured slower (the
# phash64_batch lesson); per-shape chunks keep the DCT working set hot.


def mrj_roundtrip_batch(
    stack: np.ndarray, qstep: int = 4, subsample: bool = False
) -> tuple[list[bytes], np.ndarray, np.ndarray]:
    """Encode a same-shape (n, h, w, 3) uint8 stack and verify the round
    trip → (payloads, per-image sum(|err|) int64, per-image SSE float64).
    ``subsample`` selects the 4:2:0 mode. Payloads equal encode_mrj /
    encode_mrj420 per image (the same core at n = 1), and the
    verification decodes the already-quantized coefficients exactly as
    decode_mrj does, so the reported error is the true round-trip error."""
    n, h, w, _ = stack.shape
    hh, ww = h + (-h) % 8, w + (-w) % 8
    chunk = max(1, _MRJ_CHUNK_BYTES // (hh * ww * 3 * 8))
    payloads: list[bytes] = []
    abs_err = np.empty(n, dtype=np.int64)
    sse = np.empty(n, dtype=np.float64)
    for s in range(0, n, chunk):
        sub = stack[s : s + chunk]
        encs, quant = _mrj_encode(sub, qstep, subsample)
        payloads += encs
        dec = _mrj_decode(quant, qstep, h, w, subsample)
        diff = dec.astype(np.int64) - sub.astype(np.int64)
        abs_err[s : s + len(sub)] = np.abs(diff).sum(axis=(1, 2, 3))
        sse[s : s + len(sub)] = (diff.astype(np.float64) ** 2).sum(axis=(1, 2, 3))
    return payloads, abs_err, sse


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """10*log10(255^2/MSE); inf when identical (BASELINE.json:15 invariant)."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


_DCT32 = None


def _dct_matrix(n: int = 32) -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(n, dtype=np.float64)
        _DCT32 = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    return _DCT32


_PHASH_WEIGHTS = np.array([0.299, 0.587, 0.114])


def phash64(img: np.ndarray) -> int:
    """64-bit DCT perceptual hash (public pHash algorithm).

    Grayscale → resize to 32x32 (area mean) → 2D DCT-II → 8x8 low-freq
    block (skip DC) → bit = coef > median. Returns signed int64.
    """
    gray = img.astype(np.float64) @ _PHASH_WEIGHTS
    h, w = gray.shape
    # area-mean resize to 32x32 via index binning
    yi = (np.arange(h) * 32 // h).astype(np.int64)
    xi = (np.arange(w) * 32 // w).astype(np.int64)
    small = np.zeros((32, 32), dtype=np.float64)
    cnt = np.zeros((32, 32), dtype=np.float64)
    np.add.at(small, (yi[:, None], xi[None, :]), gray)
    np.add.at(cnt, (yi[:, None], xi[None, :]), 1.0)
    small /= np.maximum(cnt, 1.0)
    m = _dct_matrix(32)
    dct = m @ small @ m.T
    block = dct[:8, :8].copy()
    flat = np.concatenate([block.ravel()[1:]])  # skip DC
    med = np.median(flat)
    bits = (block.ravel() > med).astype(np.uint64)[:64]
    val = np.uint64(0)
    for i, b in enumerate(bits):
        val |= np.uint64(b) << np.uint64(i)
    return int(val.view(np.int64))


_PHASH_CHUNK = 128  # measured: full-stack float64 temps lose to the
# cache-resident per-image loop (74 MB temp ≈ 6x slower); 128-image
# chunks keep temporaries ~6 MB and run ~2x faster than per-image.


def phash64_batch(stack: np.ndarray) -> np.ndarray:
    """phash64 over a same-shape (n, h, w, 3) uint8 stack → (n,) int64.

    Same arithmetic as phash64 with the area-mean binning re-expressed
    as 0/1 selector matmuls (Sy @ gray @ Sx): each output cell's
    partial sums associate differently from np.add.at's flat
    sequential order, so bit-identity is EMPIRICAL, not structural —
    tests/test_kernels_image.py::test_phash_batch_identical pins it
    per-bit across the full synthetic shape universe (the frozen
    goldens in the image_phash_pairs oracle are the second net).
    The median is pure selection (63 odd) and the bit-pack is integer,
    so the only drift surface is gray/resize/DCT float association.
    """
    n, h, w, _ = stack.shape
    yi = np.arange(h) * 32 // h
    xi = np.arange(w) * 32 // w
    sy = np.zeros((32, h))
    sy[yi, np.arange(h)] = 1.0
    sx = np.zeros((w, 32))
    sx[np.arange(w), xi] = 1.0
    cnt = np.maximum(sy.sum(axis=1)[:, None] * sx.sum(axis=0)[None, :], 1.0)
    m = _dct_matrix(32)
    shifts = np.arange(64, dtype=np.uint64)
    out = np.empty(n, dtype=np.int64)
    for s in range(0, n, _PHASH_CHUNK):
        sub = stack[s : s + _PHASH_CHUNK]
        k = sub.shape[0]
        # reshape to 2-D before the length-3 contraction: the 4-D
        # gufunc matvec path measured ~10x slower than one dgemv
        gray = (sub.reshape(-1, 3).astype(np.float64) @ _PHASH_WEIGHTS
                ).reshape(k, h, w)
        block = (m @ ((sy @ gray @ sx) / cnt) @ m.T)[:, :8, :8].reshape(k, 64)
        med = np.median(block[:, 1:], axis=1)
        bits = (block > med[:, None]).astype(np.uint64)
        out[s : s + k] = np.bitwise_or.reduce(
            bits << shifts[None, :], axis=1
        ).view(np.int64)
    return out


# ---------------------------------------------------------------------------
# deterministic synthesis (FIXTURES.md §1 — derivable from image_id alone)
# ---------------------------------------------------------------------------

CITY_LATLNG = np.array(
    [
        (40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503),
        (-23.5505, -46.6333), (19.0760, 72.8777), (31.2304, 121.4737),
        (48.8566, 2.3522), (30.0444, 31.2357), (-33.8688, 151.2093),
        (55.7558, 37.6173), (34.0522, -118.2437), (6.5244, 3.3792),
        (-34.6037, -58.3816), (28.6139, 77.2090), (39.9042, 116.4074),
        (1.3521, 103.8198),
    ],
    dtype=np.float64,
)
_NOUNS = ["bridge", "park", "tower", "market", "museum", "harbor", "plaza", "street"]
_ZIPF_W = 1.0 / np.arange(1, len(CITY_LATLNG) + 1, dtype=np.float64)
_ZIPF_CDF = np.cumsum(_ZIPF_W / _ZIPF_W.sum())


def synth_row_seed(i: int) -> np.random.Generator:
    return np.random.default_rng(42_000_000 + int(i))


def synth_image(i: int) -> tuple[bytes, int, int, str]:
    """Deterministic image bytes for row i. Every third image is PNG so
    both lossless codecs (raw buffer view + RFC-2083 zlib chunks) are
    exercised by any pipeline over the synthetic table (PSNR = inf)."""
    w = 16 + (i % 4) * 16
    h = 16 + ((i // 4) % 4) * 16
    rng = synth_row_seed(i)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    # (the >= 40 dB lossy bound is exercised for real by the MRJ and
    # JFIF codecs over this corpus and the smooth one — see
    # synth_smooth_image; this table's formats stay lossless so exact
    # pixel/caption equality invariants hold on it)
    if i % 3 == 0:
        return encode_png(img), w, h, "png"
    return encode_raw(img), w, h, "raw"


def synth_smooth_image(i: int) -> tuple[bytes, int, int, str]:
    """Deterministic SMOOTH image for row i: low-frequency sinusoids +
    a linear gradient — the natural-content stand-in where chroma
    subsampling earns real compression (uniform noise, synth_image's
    corpus, is the codec's information-theoretic worst case and is
    deliberately NOT smooth). Raw format; odd sizes included so the
    4:2:0 even-padding path is exercised."""
    w = 31 + (i % 4) * 16
    h = 33 + ((i // 4) % 4) * 16
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    ph = (i % 7) * 0.9
    r = 128.0 + 70.0 * np.sin(xx / w * 2.1 + ph) * np.cos(yy / h * 1.3)
    g = 128.0 + 60.0 * np.cos(xx / w * 1.7 - ph / 2)
    b = 40.0 + (xx + 2.0 * yy) * (160.0 / (w + 2.0 * h))
    img = np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)
    return encode_raw(img), w, h, "raw"


def synth_latlng(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized geotag synthesis: 80% Zipf-clustered on 16 cities
    (the dense-tile skew the north rule targets), 20% uniform."""
    ids = np.asarray(ids, dtype=np.int64)
    # per-row deterministic uniforms via splitmix64-style hashing
    def h64(x, salt):
        z = (x.astype(np.uint64) + np.uint64(salt)) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
        return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)

    u_mode = h64(ids, 1)
    u_city = h64(ids, 2)
    n1 = h64(ids, 3) + h64(ids, 4) + h64(ids, 5) - 1.5  # approx normal (Irwin-Hall)
    n2 = h64(ids, 6) + h64(ids, 7) + h64(ids, 8) - 1.5
    city = np.searchsorted(_ZIPF_CDF, u_city).clip(0, len(CITY_LATLNG) - 1)
    lat_c = CITY_LATLNG[city, 0] + n1 * 0.05
    lng_c = CITY_LATLNG[city, 1] + n2 * 0.05
    lat_u = h64(ids, 9) * 170.1 - 85.05
    lng_u = h64(ids, 10) * 360.0 - 180.0
    clustered = u_mode < 0.8
    return np.where(clustered, lat_c, lat_u), np.where(clustered, lng_c, lng_u)


def synth_caption(i: int, lat: float, lng: float) -> str:
    # nearest city by euclidean degree distance (deterministic)
    d = (CITY_LATLNG[:, 0] - lat) ** 2 + (CITY_LATLNG[:, 1] - lng) ** 2
    c = int(np.argmin(d))
    return f"caption for img{i:012d}: {_NOUNS[i % len(_NOUNS)]} near city{c}"

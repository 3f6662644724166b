"""Baseline JFIF (ITU-T T.81) codec — pure numpy + stdlib, no PIL/cv2.

Un-stubs the one remaining codec branch (kernels/image.py previously
raised NotImplementedError for fmt='jpeg'): real-world image payloads
are overwhelmingly baseline JFIF, and a 10^12-image ingest pipeline
must decode them on executors without native image libraries.

Decoder (the interop surface — built for FOREIGN streams, not just our
own): full marker parse (SOI / APPn / COM skipped by length, DQT, DRI,
SOF0 baseline, DHT, SOS, EOI), quantization and Huffman tables read
FROM THE STREAM (not assumed), per-component sampling factors 1-2 in
each axis (covers 4:4:4, 4:2:2, 4:2:0), interleaved MCU scan with DC
prediction, 0xFF00 byte unstuffing and RSTn restart handling, IDCT by
the MRJ codec's block DCT pair (kernels/image.py block_dct/block_idct),
center-clipped to uint8 and cropped to the frame size. One matrix
serves both codecs because T.81's FDCT normalization
(1/4·C(u)·C(v)·ΣΣ) EQUALS the orthonormal transform: a(0)=√(1/8),
a(u>0)=√(2/8)=1/2, and 1/4·C(u)·C(v) reproduces a(u)·a(v) in every
(u, v) case. The JFIF color constants stay here: they are T.81's, not
MRJ's.

Encoder (for round-trip tests and as a real sink): quality-scaled
Annex K quantization tables, standard Annex K Huffman tables (written
as DHT so any decoder reads them), 4:4:4 single-MCU interleave,
zigzag + DC-difference + run-length/size coding with EOB/ZRL and byte
stuffing.

Scale shape: entropy decode is inherently bit-serial per scan, so the
parallel unit is the IMAGE (mapInPandas over rows, like the other
codecs); all block math (IDCT, dequant, upsample, color) is whole-image
vectorized numpy. Cited reference scope: the reference repo has no
image codec at all — this exists for the BASELINE input_hint's image
round-trip invariants.
"""

from __future__ import annotations

import struct

import numpy as np

from .image import block_dct, block_idct, chroma_down

# ---------------------------------------------------------------------------
# tables (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

_QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

_QT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K Huffman specs: (BITS counts per code length 1..16, HUFFVAL)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _huff_codes(bits, vals):
    """(value -> (code, length)) from a T.81 BITS/HUFFVAL spec —
    canonical code assignment (Annex C)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits, vals):
    """Decoder lookup: {(length, code) -> value}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex K tables scaled by the libjpeg quality convention
    (quality 1..100; 50 = the tables verbatim), clamped to 1..255
    (baseline precision)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality {quality} out of range 1..100")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    ql = np.clip((_QT_LUM * s + 50) // 100, 1, 255)
    qc = np.clip((_QT_CHROM * s + 50) // 100, 1, 255)
    return ql, qc


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-fill (T.81 F.1.2.3)
        return bytes(self.out)


class _BitReader:
    """Reads the entropy-coded segment: unstuffs 0xFF00, stops AT any
    other 0xFFxx marker (the caller handles RSTn/EOI)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG scan truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError("JPEG scan hit marker mid-symbol")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            v = table.get((length, code))
            if v is not None:
                return v
        raise ValueError("invalid JPEG Huffman code")

    def align_to_marker(self) -> None:
        """Drop partial bits and position at the next 0xFF marker."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d) and not (
            d[self.pos] == 0xFF and d[self.pos + 1] != 0x00
        ):
            self.pos += 1


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """(size, t-bit code) of a DC-diff / AC value (T.81 F.1.2.1.2)."""
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


# ---------------------------------------------------------------------------
# encoder (baseline, 4:4:4, standard tables)
# ---------------------------------------------------------------------------

def _encode_block(wtr, zz, pred, dc_tab, ac_tab):
    """Huffman-encode one zigzagged quantized block; returns new DC."""
    diff = int(zz[0]) - pred
    size, code = _magnitude(diff)
    hc, hl = dc_tab[size]
    wtr.put(hc, hl)
    if size:
        wtr.put(code, size)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            hc, hl = ac_tab[0xF0]  # ZRL
            wtr.put(hc, hl)
            run -= 16
        size, code = _magnitude(v)
        hc, hl = ac_tab[(run << 4) | size]
        wtr.put(hc, hl)
        wtr.put(code, size)
        run = 0
    if run:
        hc, hl = ac_tab[0x00]  # EOB
        wtr.put(hc, hl)
    return int(zz[0])


def encode_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF bytes for an (h, w, 3) uint8 image —
    quality-scaled Annex K quant tables, standard Huffman tables (all
    written to the stream, so ANY baseline decoder reads the output),
    4:4:4 or 4:2:0 sampling, optional DRI restart markers.
    Deterministic."""
    h, w, _ = img.shape
    if not (0 < w <= 0xFFFF and 0 < h <= 0xFFFF):
        raise ValueError(f"image {w}x{h} out of JPEG range")
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling {subsampling!r} not in 444/420")
    sub = subsampling == "420"
    hs = vs = 2 if sub else 1
    mcu = 8 * hs  # MCU pixel span
    ql, qc = quant_tables(quality)
    p = np.pad(
        img, ((0, (-h) % mcu), (0, (-w) % mcu), (0, 0)), mode="edge"
    ).astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    if sub:
        cb, cr = chroma_down(cb[None])[0], chroma_down(cr[None])[0]
    quant = []  # per component: (nby, nbx, 64) zigzagged
    for plane, qt in ((y, ql), (cb, qc), (cr, qc)):
        coef = block_dct(plane[None])[0]
        q = np.round(
            coef / qt.reshape(8, 8).astype(np.float64)
        ).astype(np.int64)
        quant.append(q.reshape(q.shape[0], q.shape[1], 64)[..., ZIGZAG])

    dc_tabs = [_huff_codes(*_DC_LUM), _huff_codes(*_DC_CHROM)]
    ac_tabs = [_huff_codes(*_AC_LUM), _huff_codes(*_AC_CHROM)]
    mcux = quant[1].shape[1]  # chroma blocks per row == MCU columns
    mcuy = quant[1].shape[0]
    pred = [0, 0, 0]
    parts = []
    wtr = _BitWriter()
    rst = 0
    for mi in range(mcux * mcuy):
        if restart_interval and mi and mi % restart_interval == 0:
            parts.append(wtr.flush())
            parts.append(bytes([0xFF, 0xD0 + (rst % 8)]))
            rst += 1
            wtr = _BitWriter()
            pred = [0, 0, 0]
        my, mx = divmod(mi, mcux)
        for ci, (hsi, vsi) in enumerate(((hs, vs), (1, 1), (1, 1))):
            t = 0 if ci == 0 else 1
            for by in range(vsi):
                for bx in range(hsi):
                    zz = quant[ci][my * vsi + by, mx * hsi + bx]
                    pred[ci] = _encode_block(
                        wtr, zz, pred[ci], dc_tabs[t], ac_tabs[t]
                    )
    parts.append(wtr.flush())
    scan = b"".join(parts)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dht(tc, th, spec):
        bits, vals = spec
        return seg(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(vals))

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(int(v) for v in ql[ZIGZAG]))
    out += seg(0xDB, bytes([1]) + bytes(int(v) for v in qc[ZIGZAG]))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, hv, qtab in ((1, hs << 4 | vs, 0), (2, 0x11, 1), (3, 0x11, 1)):
        sof += bytes([cid, hv, qtab])
    out += seg(0xC0, sof)
    out += dht(0, 0, _DC_LUM) + dht(1, 0, _AC_LUM)
    out += dht(0, 1, _DC_CHROM) + dht(1, 1, _AC_CHROM)
    sos = bytes([3])
    for cid, tabs in ((1, 0x00), (2, 0x11), (3, 0x11)):
        sos += bytes([cid, tabs])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder (baseline, generic tables/sampling from the stream)
# ---------------------------------------------------------------------------

_SEGMENTS = {0xC0: "SOF0", 0xC1: "SOF1", 0xC4: "DHT", 0xDA: "SOS",
             0xDB: "DQT", 0xDD: "DRI"}


def _seg_name(marker: int) -> str:
    return _SEGMENTS.get(marker, f"0xFF{marker:02X}")


def _need(body: bytes, n: int, marker: int) -> None:
    """Raise ValueError naming the segment when its body is short."""
    if len(body) < n:
        raise ValueError(
            f"JPEG {_seg_name(marker)} segment too short "
            f"({len(body)} of {n} bytes)"
        )


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline JFIF bytes to (h, w, 3) uint8. Reads quant +
    Huffman tables from the stream; supports per-component sampling
    factors 1-2 (4:4:4 / 4:2:2 / 4:2:0), DRI restart intervals, and
    skips APPn/COM segments — enough for real-world baseline files.
    Progressive (SOF2) and arithmetic coding are rejected loudly."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1  # fill bytes may precede any marker (T.81 B.1.1.2)
        if pos + 1 >= len(data):
            raise ValueError("JPEG marker truncated")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise ValueError("JPEG EOI before scan")
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        if pos + 2 > len(data):
            raise ValueError("JPEG segment truncated")
        ln = struct.unpack_from(">H", data, pos)[0]
        if ln < 2:
            raise ValueError(f"JPEG {_seg_name(marker)} segment length {ln} < 2")
        body = data[pos + 2 : pos + ln]
        if pos + ln > len(data):
            raise ValueError("JPEG segment overruns payload")
        if marker == 0xDB:  # DQT
            b = 0
            while b < len(body):
                _need(body, b + 65, marker)
                pq, tq = body[b] >> 4, body[b] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables not baseline")
                tab = np.zeros(64, dtype=np.int64)
                tab[ZIGZAG] = np.frombuffer(
                    body[b + 1 : b + 65], dtype=np.uint8
                ).astype(np.int64)
                qtabs[tq] = tab
                b += 65
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                _need(body, b + 17, marker)
                tc, th = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1 : b + 17])
                n = sum(bits)
                _need(body, b + 17 + n, marker)
                vals = list(body[b + 17 : b + 17 + n])
                htabs[(tc, th)] = _huff_decode_table(bits, vals)
                b += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            _need(body, 6, marker)
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit baseline JPEG supported")
            _need(body, 6 + 3 * nc, marker)
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (fh, fw, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG (progressive/arith)")
        elif marker == 0xDD:  # DRI
            _need(body, 2, marker)
            restart = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS — decode the scan, then finish
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            _need(body, 1, marker)
            _need(body, 4 + 2 * body[0], marker)  # Ns, 2*Ns, Ss/Se/AhAl
            return _decode_scan(
                data, pos + ln, body, frame, qtabs, htabs, restart
            )
        # APPn / COM / others: skipped by length
        pos += ln
    raise ValueError("JPEG has no scan")


def _decode_scan(data, pos, sos, frame, qtabs, htabs, restart):
    fh, fw, comps = frame
    ns = sos[0]
    if ns != len(comps):
        raise ValueError("JPEG partial scans unsupported (baseline)")
    sel = {}
    for c in range(ns):
        cid, tabs = sos[1 + 2 * c], sos[2 + 2 * c]
        sel[cid] = (tabs >> 4, tabs & 0xF)
    if not all(1 <= c[1] <= 2 and 1 <= c[2] <= 2 for c in comps):
        raise ValueError("sampling factors outside 1..2 unsupported")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    state = []
    for cid, hs, vs, tq in comps:
        nbx, nby = mcux * hs, mcuy * vs
        try:
            q, td, ta = qtabs[tq], *sel[cid]
            dc, ac = htabs[(0, td)], htabs[(1, ta)]
        except KeyError:
            raise ValueError(f"JPEG component {cid}: no scan entry or table") from None
        state.append({
            "cid": cid, "h": hs, "v": vs,
            "q": q.reshape(8, 8).astype(np.float64), "dc": dc, "ac": ac,
            "coef": np.zeros((nby, nbx, 8, 8), dtype=np.float64),
            "pred": 0,
        })
    rdr = _BitReader(data, pos)
    zz = np.zeros(64, dtype=np.int64)
    n_mcu = mcux * mcuy
    for mi in range(n_mcu):
        if restart and mi and mi % restart == 0:
            rdr.align_to_marker()
            if not (0xD0 <= data[rdr.pos + 1] <= 0xD7):
                raise ValueError("expected RST marker")
            rdr.pos += 2
            for st in state:
                st["pred"] = 0
        my, mx = divmod(mi, mcux)
        for st in state:
            for by in range(st["v"]):
                for bx in range(st["h"]):
                    zz[:] = 0
                    t = rdr.huff(st["dc"])
                    diff = _extend(rdr.bits(t), t) if t else 0
                    st["pred"] += diff
                    zz[0] = st["pred"]
                    k = 1
                    while k < 64:
                        rs = rdr.huff(st["ac"])
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC run overflow")
                        zz[k] = _extend(rdr.bits(s), s)
                        k += 1
                    blk = np.zeros(64, dtype=np.float64)
                    blk[ZIGZAG] = zz
                    st["coef"][my * st["v"] + by, mx * st["h"] + bx] = (
                        blk.reshape(8, 8) * st["q"]
                    )
    planes = []
    for st in state:
        plane = block_idct(st["coef"][None])[0]
        ry, rx = vmax // st["v"], hmax // st["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:fh, :fw])
    if len(planes) == 1:
        y = planes[0]
        rgb = np.stack([y, y, y], axis=-1)
    else:
        y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)

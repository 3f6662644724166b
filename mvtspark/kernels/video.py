"""Video payload kernels — a real from-scratch codec (numpy + zlib),
replacing the round-1/2 ``frame_sample_stub``.

No video library ships in this container (no ffmpeg/pyav/cv2), so the
container is defined here, same class as the from-scratch PNG in
``kernels/image.py``:

MRV ("mvtspark raw video") container layout, all integers big-endian:

    magic   b"MRV1"                      4 bytes
    header  >HHIB  w, h, n_frames, key_int   9 bytes
    index   n_frames x uint32 payload lengths
    frames  n_frames zlib payloads, concatenated in order

Frame ``f`` is a **keyframe** when ``f % key_int == 0``: its payload
inflates to the C-order (h, w, 3) uint8 RGB plane. Every other frame is
a **delta frame**: payload inflates to ``(frame - prev) mod 256`` uint8,
which deflates tightly for small motion. ``key_int=1`` is all-intra.

The length index is the point of the format at scale: a frame-stride
sampler (sample every Nth frame of a long clip) seeks straight to the
nearest keyframe at or before each target via prefix sums of the index
and inflates only ``<= key_int`` payloads per sampled frame — never the
whole clip. Decode cost is O(frames_sampled * key_int), independent of
clip length.

Codec is lossless (zlib), so round-trip equality is exact (PSNR = inf),
matching the BASELINE.json PSNR>=40dB invariant with margin.

``synth_frames`` is the deterministic corpus generator (FIXTURES.md
style): pixel(y, x, c) of frame f = (x*3 + y*7 + c*11 + f*13 + seed)
mod 256 — closed-form, so a SQL oracle can recompute per-frame pixel
sums and md5 frame hashes from first principles without this code.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MAGIC = b"MRV1"
_HDR = struct.Struct(">HHIB")


def synth_frames(seed: int, n_frames: int, w: int, h: int) -> np.ndarray:
    """Deterministic (n_frames, h, w, 3) uint8 clip derivable from
    ``seed`` alone — any executor regenerates it without shuffle."""
    f = np.arange(n_frames, dtype=np.int64)[:, None, None, None]
    y = np.arange(h, dtype=np.int64)[None, :, None, None]
    x = np.arange(w, dtype=np.int64)[None, None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, None, :]
    return ((x * 3 + y * 7 + c * 11 + f * 13 + seed) % 256).astype(np.uint8)


def encode_mrv(frames: np.ndarray, key_int: int = 1) -> bytes:
    """(n, h, w, 3) uint8 → MRV bytes. ``key_int`` = keyframe period."""
    assert frames.dtype == np.uint8 and frames.ndim == 4 and frames.shape[3] == 3
    if not 1 <= key_int <= 255:
        raise ValueError(f"key_int out of range: {key_int}")
    n, h, w, _ = frames.shape
    payloads = []
    for f in range(n):
        if f % key_int == 0:
            plane = frames[f]
        else:
            plane = frames[f].astype(np.int16) - frames[f - 1].astype(np.int16)
            plane = (plane % 256).astype(np.uint8)
        payloads.append(zlib.compress(np.ascontiguousarray(plane).tobytes(), 6))
    index = np.array([len(p) for p in payloads], dtype=">u4").tobytes()
    return _MAGIC + _HDR.pack(w, h, n, key_int) + index + b"".join(payloads)


def mrv_info(data: bytes) -> tuple[int, int, int, int]:
    """MRV bytes → (w, h, n_frames, key_int). Validates magic/bounds."""
    if data[:4] != _MAGIC:
        raise ValueError("not an MRV container")
    w, h, n, key_int = _HDR.unpack_from(data, 4)
    if key_int == 0 or len(data) < 4 + _HDR.size + 4 * n:
        raise ValueError("truncated MRV index")
    return w, h, n, key_int


def _frame_offsets(data: bytes, n: int) -> np.ndarray:
    """Byte offset of each frame payload (and the end sentinel)."""
    base = 4 + _HDR.size + 4 * n
    lens = np.frombuffer(data, dtype=">u4", count=n, offset=4 + _HDR.size)
    offs = np.empty(n + 1, dtype=np.int64)
    offs[0] = base
    np.cumsum(lens, out=offs[1:])
    offs[1:] += base
    if offs[-1] > len(data):
        raise ValueError("truncated MRV payloads")
    return offs


def decode_mrv_frames(data: bytes, indices) -> list[np.ndarray]:
    """Decode the requested frame indices, each as (h, w, 3) uint8.

    Seeks via the length index: for each target, inflate from its
    nearest keyframe forward, reusing the running reconstruction when
    consecutive targets share a keyframe group (sorted-unique order).
    """
    w, h, n, key_int = mrv_info(data)
    offs = _frame_offsets(data, n)
    want = sorted(set(int(i) for i in indices))
    if want and not 0 <= want[0] <= want[-1] < n:
        raise IndexError(f"frame index out of range 0..{n - 1}")

    def inflate(f: int) -> np.ndarray:
        raw = zlib.decompress(bytes(data[offs[f] : offs[f + 1]]))
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)

    out = {}
    cur_idx = -2  # index of the currently reconstructed frame
    cur = None
    for t in want:
        start = (t // key_int) * key_int
        if not (cur_idx >= start and cur_idx <= t):
            cur = inflate(start)  # keyframe: full plane
            cur_idx = start
        while cur_idx < t:
            cur_idx += 1
            cur = cur + inflate(cur_idx)  # delta plane, uint8 wraps mod 256
        out[t] = cur
    return [out[int(i)] for i in indices]

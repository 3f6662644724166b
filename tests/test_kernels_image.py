"""Image kernel tests (D20) — codec round-trip, PSNR, pHash, synthesis."""

import numpy as np
import pytest

from mvtspark.kernels import image


def _img(h=24, w=32, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_raw_roundtrip():
    img = _img()
    data = image.encode_raw(img)
    out = image.decode_raw(data, 32, 24)
    assert np.array_equal(out, img)
    assert image.psnr(img, out) == float("inf")


def test_png_roundtrip():
    img = _img(17, 23, 1)  # odd dims
    data = image.encode_png(img)
    out = image.decode_png(data)
    assert out.shape == img.shape
    assert np.array_equal(out, img)


def test_png_filters_decode():
    """Decode PNGs using Sub/Up filters (foreign-encoder robustness)."""
    import struct
    import zlib

    img = _img(6, 5, 2)
    h, w = img.shape[:2]
    rows = []
    for r in range(h):
        line = img[r].reshape(-1).astype(np.int64)
        if r % 2 == 0:  # filter 1: Sub
            prev_px = np.concatenate([np.zeros(3, np.int64), line[:-3]])
            rows.append(bytes([1]) + ((line - prev_px) % 256).astype(np.uint8).tobytes())
        else:  # filter 2: Up
            up = img[r - 1].reshape(-1).astype(np.int64)
            rows.append(bytes([2]) + ((line - up) % 256).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        image._PNG_SIG
        + image._chunk(b"IHDR", ihdr)
        + image._chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + image._chunk(b"IEND", b"")
    )
    out = image.decode_png(data)
    assert np.array_equal(out, img)


def test_decode_image_dispatch_and_stub():
    img = _img()
    assert np.array_equal(image.decode_image(image.encode_raw(img), 32, 24, "raw"), img)
    assert np.array_equal(image.decode_image(image.encode_png(img), 32, 24, "png"), img)
    # jpeg now dispatches to the real kernels/jpeg.py decoder (r5) —
    # a corrupt payload raises ITS ValueError, not a stub error
    with pytest.raises(ValueError):
        image.decode_image(b"\xff\xd8\xff", 32, 24, "jpeg")
    # only genuinely unknown formats remain NotImplementedError
    with pytest.raises(NotImplementedError):
        image.decode_image(b"....", 32, 24, "webp")


def test_psnr():
    img = _img()
    noisy = img.astype(np.int64).copy()
    noisy[0, 0, 0] = (noisy[0, 0, 0] + 4) % 256
    p = image.psnr(img, noisy.astype(np.uint8))
    assert 40.0 < p < 100.0  # one-pixel ±4 error on 24×32 is way above 40dB
    assert image.psnr(img, img) == float("inf")


def test_phash_properties():
    img = _img(64, 64, 5)
    h1 = image.phash64(img)
    assert h1 == image.phash64(img.copy())  # deterministic
    # small noise → small hamming distance; different image → large
    noisy = np.clip(img.astype(np.int16) + np.random.default_rng(0).integers(-5, 6, img.shape), 0, 255).astype(np.uint8)
    other = _img(64, 64, 99)
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(h1, image.phash64(noisy)) <= 10
    assert ham(h1, image.phash64(other)) > 10


def test_phash_batch_identical():
    """phash64_batch must be BIT-identical to the per-image phash64 —
    the frozen goldens in the image_phash_pairs oracle were minted by
    the per-image path. Pins every (w, h) in the synthetic shape
    universe (16/32/48/64 on both axes), on both codecs, plus a chunk
    boundary (>128 images in one group) so the chunked path's seams
    are covered."""
    from collections import defaultdict

    groups = defaultdict(list)
    for i in range(3000):  # 3000 ids: all 16 shapes, both fmts, >128/group
        data, w, h, fmt = image.synth_image(i)
        groups[(w, h)].append(image.decode_image(data, w, h, fmt))
    assert len(groups) == 16
    assert max(len(v) for v in groups.values()) > image._PHASH_CHUNK
    for (w, h), ims in sorted(groups.items()):
        stack = np.stack(ims)
        ref = np.array([image.phash64(im) for im in stack], dtype=np.int64)
        assert np.array_equal(image.phash64_batch(stack), ref), (w, h)


def test_compute_phash_error_isolation(spark):
    """A corrupt payload inside a (w, h, fmt) group must not poison the
    group: the stacked fast path falls back per-image, the bad row
    carries its error, every good row still hashes correctly."""
    from mvtspark.kernels.image import decode_image, phash64, synth_image
    from mvtspark.operators.multimodal import compute_phash
    from mvtspark.sources.images import synth_images

    base = synth_images(spark, 8).collect()
    rows = [
        (r.image_id, bytearray(r.bytes), r.w, r.h, r.fmt) for r in base
    ]
    # truncate one raw payload → group reshape fails → fallback path
    bad_id = next(r[0] for r in rows if r[4] == "raw")
    rows = [
        (i, bytes(b[: len(b) // 2]) if i == bad_id else bytes(b), w, h, f)
        for i, b, w, h, f in rows
    ]
    # a null-metadata row must surface as an error, not vanish from the
    # groupby (pandas drops NaN group keys by default)
    rows.append(("imgNULLMETA", b"\x00" * 12, None, 2, "raw"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r.image_id: r for r in compute_phash(df).collect()}
    assert len(got) == len(rows)
    assert got[bad_id].phash is None and got[bad_id].error
    assert got["imgNULLMETA"].phash is None and got["imgNULLMETA"].error
    for r in base:
        if r.image_id == bad_id:
            continue
        data, w, h, fmt = synth_image(int(r.image_id[3:]))
        want = phash64(decode_image(data, w, h, fmt))
        assert got[r.image_id].phash == want and got[r.image_id].error is None


def test_synth_deterministic():
    b1, w1, h1, f1 = image.synth_image(12345)  # 12345 % 3 == 0 -> png
    b2, w2, h2, f2 = image.synth_image(12345)
    assert b1 == b2 and (w1, h1, f1) == (w2, h2, f2)
    assert f1 == "png" and b1[:8] == b"\x89PNG\r\n\x1a\n"
    br, wr, hr, fr = image.synth_image(12346)  # not divisible by 3 -> raw
    assert fr == "raw" and len(br) == wr * hr * 3
    # both decode back losslessly
    assert image.decode_image(b1, w1, h1, f1).shape == (h1, w1, 3)
    assert image.decode_image(br, wr, hr, fr).shape == (hr, wr, 3)
    lat1, lng1 = image.synth_latlng(np.array([0, 1, 2, 10**9]))
    lat2, lng2 = image.synth_latlng(np.array([0, 1, 2, 10**9]))
    assert np.array_equal(lat1, lat2) and np.array_equal(lng1, lng2)
    assert np.all(np.abs(lat1) <= 85.06) and np.all(np.abs(lng1) <= 180.0)


def test_synth_skew():
    """80% of points cluster near the 16 Zipf-weighted cities — the
    dense-tile skew the north rule targets."""
    ids = np.arange(20000)
    lat, lng = image.synth_latlng(ids)
    d2 = (lat[:, None] - image.CITY_LATLNG[None, :, 0]) ** 2 + (
        lng[:, None] - image.CITY_LATLNG[None, :, 1]
    ) ** 2
    near_city = (d2.min(axis=1) < 1.0).mean()
    assert 0.75 < near_city < 0.9


def test_channel_sums_from_bytes_match_numpy(spark):
    import numpy as np

    from mvtspark.kernels.image import decode_image, synth_image
    from mvtspark.operators.multimodal import channel_sums
    from mvtspark.sources.images import synth_images

    out = {r.image_id: r for r in channel_sums(synth_images(spark, 9)).collect()}
    assert len(out) == 9
    fmts = set()
    for i in range(9):
        data, w, h, fmt = synth_image(i)
        fmts.add(fmt)
        a = decode_image(data, w, h, fmt).astype(np.int64)
        r = out[f"img{i:012d}"]
        assert (r.n_px, r.sum_r, r.sum_g, r.sum_b) == (
            w * h,
            int(a[:, :, 0].sum()),
            int(a[:, :, 1].sum()),
            int(a[:, :, 2].sum()),
        )
    assert fmts == {"raw", "png"}  # both codecs exercised


def test_resize_batch_byte_identical_and_error_isolated(spark):
    """Stacked resize must emit byte-identical thumbnails to the
    per-image gather, and a corrupt payload only fails its own row."""
    import numpy as np

    from mvtspark.kernels.image import decode_image, synth_image
    from mvtspark.operators.multimodal import resize_images
    from mvtspark.sources.images import synth_images

    base = synth_images(spark, 12).collect()
    rows = [(r.image_id, bytes(r.bytes), r.w, r.h, r.fmt) for r in base]
    bad_id = next(r[0] for r in rows if r[4] == "raw")
    rows = [
        (i, b[:7] if i == bad_id else b, w, h, f) for i, b, w, h, f in rows
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r.image_id: r for r in resize_images(df, 8, 8).collect()}
    assert got[bad_id].bytes is None and got[bad_id].error
    for r in base:
        if r.image_id == bad_id:
            continue
        data, w, h, fmt = synth_image(int(r.image_id[3:]))
        img = decode_image(data, w, h, fmt)
        yi = np.arange(8) * h // 8
        xi = np.arange(8) * w // 8
        want = np.ascontiguousarray(img[yi[:, None], xi[None, :]]).tobytes()
        assert bytes(got[r.image_id].bytes) == want
        assert got[r.image_id].error is None


def test_mrj_lossy_codec_psnr_and_compression():
    """From-scratch lossy codec (MRJ): >= 40 dB on the noise corpus
    (its information-theoretic worst case, ~1.05x size), 10x+ real
    compression on smooth content, deterministic bytes, odd sizes,
    quality knob monotone, and loud failures on bad payloads."""
    ps = []
    for i in range(32):
        data, w, h, fmt = image.synth_image(i)
        img = image.decode_image(data, w, h, fmt)
        enc = image.encode_mrj(img)
        assert enc == image.encode_mrj(img)  # deterministic
        dec = image.decode_mrj(enc)
        assert dec.shape == img.shape and dec.dtype == np.uint8
        assert np.array_equal(image.decode_image(enc, w, h, "mrj"), dec)
        ps.append(image.psnr(img, dec))
    assert min(ps) >= 40.0
    # smooth gradient: the codec must actually COMPRESS structure
    yy, xx = np.mgrid[0:48, 0:80]
    smooth = np.stack(
        [(xx * 3) % 256, (yy * 2) % 8 + 100, ((xx + yy)) % 4 + 50], axis=-1
    ).astype(np.uint8)
    enc = image.encode_mrj(smooth)
    assert len(enc) < smooth.size / 8
    assert image.psnr(smooth, image.decode_mrj(enc)) >= 40.0
    # odd, non-multiple-of-8 shape round-trips at full quality floor
    odd = np.random.default_rng(0).integers(0, 256, (13, 21, 3), np.uint8)
    assert image.psnr(odd, image.decode_mrj(image.encode_mrj(odd))) >= 40.0
    # quality knob: coarser quantization -> smaller or equal, lower PSNR
    img = image.decode_image(*image.synth_image(5))
    e1, e8 = image.encode_mrj(img, 1), image.encode_mrj(img, 8)
    assert image.psnr(img, image.decode_mrj(e1)) > image.psnr(
        img, image.decode_mrj(e8)
    )
    with pytest.raises(ValueError):
        image.decode_mrj(b"NOPE" + bytes(16))
    with pytest.raises(ValueError):
        image.decode_mrj(image.encode_mrj(img)[:40] + b"x")
    with pytest.raises(ValueError):
        image.encode_mrj(img, qstep=0)


def test_mrj_batch_byte_identical():
    """mrj_roundtrip_batch must emit BYTE-identical payloads to the
    per-image encode_mrj (the frozen lossy_roundtrip_psnr goldens were
    minted by the per-image path) and the exact decode_mrj round-trip
    error metrics. Like phash64_batch, the einsum identity is empirical
    — this pins every (w, h) in the synthetic shape universe on both
    codecs, a chunk seam, smooth + noise content, and several qsteps."""
    from collections import defaultdict

    groups = defaultdict(list)
    for i in range(600):
        data, w, h, fmt = image.synth_image(i)
        groups[(w, h)].append(image.decode_image(data, w, h, fmt))
    assert len(groups) == 16
    for (w, h), ims in sorted(groups.items()):
        # half smooth content: flat blocks reconstruct within 1 ulp of
        # x.5 pixel boundaries — the association danger zone
        for j in range(len(ims) // 2):
            ims[j] = (ims[j] // 64) * 64
        stack = np.stack(ims)
        for q in (1, 4, 9):
            encs, abs_err, sse = image.mrj_roundtrip_batch(stack, q)
            for j, img in enumerate(ims):
                ref = image.encode_mrj(img, q)
                assert encs[j] == ref, (w, h, q, j)
                dec = image.decode_mrj(ref)
                d = dec.astype(np.int64) - img.astype(np.int64)
                assert abs_err[j] == np.abs(d).sum(), (w, h, q, j)
                assert sse[j] == float((d.astype(np.float64) ** 2).sum())
    # chunk seam: force multiple chunks through one big flat-ish group
    big = np.stack([ims[0]] * 3 + ims[:5] * 40)
    encs, _, _ = image.mrj_roundtrip_batch(big, 4)
    refs = [image.encode_mrj(im, 4) for im in big]
    assert encs == refs


def test_transcode_batch_matches_per_image_and_isolates_errors(spark):
    """Shape-batched transcode_images_mrj: identical rows to what the
    per-image codec yields, and a corrupt payload only fails its own
    row (group falls back per-image)."""
    import numpy as np

    from mvtspark.kernels.image import (
        decode_image,
        decode_mrj,
        encode_mrj,
        synth_image,
    )
    from mvtspark.operators.multimodal import transcode_images_mrj
    from mvtspark.sources.images import synth_images

    base = synth_images(spark, 24).collect()
    rows = [(r.image_id, bytes(r.bytes), r.w, r.h, r.fmt) for r in base]
    bad_id = next(r[0] for r in rows if r[4] == "raw")
    rows = [
        (i, b[:9] if i == bad_id else b, w, h, f) for i, b, w, h, f in rows
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r.image_id: r for r in transcode_images_mrj(df, 4).collect()}
    assert got[bad_id].mrj is None and got[bad_id].error
    for r in base:
        if r.image_id == bad_id:
            continue
        data, w, h, fmt = synth_image(int(r.image_id[3:]))
        img = decode_image(data, w, h, fmt)
        enc = encode_mrj(img, 4)
        g = got[r.image_id]
        assert bytes(g.mrj) == enc and g.error is None
        dec = decode_mrj(enc)
        d = dec.astype(np.int64) - img.astype(np.int64)
        assert g.sum_abs_err == np.abs(d).sum()
        assert g.enc_len == len(enc) and g.n_px == w * h


def test_mrj420_smooth_psnr_compression_and_dispatch():
    """4:2:0 mode: >= 40 dB on the smooth corpus with >= 8x real
    compression (and smaller than 4:4:4 on the same pixels);
    deterministic bytes; decode_mrj dispatches by magic; odd dims
    (even-padding path) round-trip; the bound genuinely FAILS on the
    noise corpus (content-dependence is real, not vacuous); loud
    failures on bad payloads; the 4:4:4 path's bytes are untouched."""
    ps = []
    for i in range(64):
        data, w, h, fmt = image.synth_smooth_image(i)
        img = image.decode_image(data, w, h, fmt)
        assert (w % 2 == 1) or (h % 2 == 1) or True  # odd dims present
        e420 = image.encode_mrj420(img, 4)
        assert e420 == image.encode_mrj420(img, 4)  # deterministic
        dec = image.decode_mrj(e420)  # magic dispatch
        assert dec.shape == img.shape and dec.dtype == np.uint8
        assert np.array_equal(image.decode_mrj420(e420), dec)
        ps.append(image.psnr(img, dec))
        assert len(e420) * 8 <= img.size  # >= 8x vs raw
        assert len(e420) < len(image.encode_mrj(img, 4))  # beats 4:4:4
    assert min(ps) >= 40.0
    # corpus really exercises odd sizes
    assert any(image.synth_smooth_image(i)[1] % 2 == 1 for i in range(4))
    # noise: the 4:2:0 bound must FAIL (chroma detail irrecoverable)
    ndata, w, h, fmt = image.synth_image(7)
    nimg = image.decode_image(ndata, w, h, fmt)
    assert image.psnr(nimg, image.decode_mrj(image.encode_mrj420(nimg, 4))) < 40.0
    # 4:4:4 bytes unchanged by the new mode's existence (golden seam)
    assert image.encode_mrj(nimg, 4)[:4] == b"MRJ1"
    assert image.encode_mrj420(nimg, 4)[:4] == b"MRJ2"
    with pytest.raises(ValueError):
        image.decode_mrj420(b"MRJX" + bytes(16))
    with pytest.raises(ValueError):
        image.decode_mrj420(image.encode_mrj420(nimg, 4)[:40] + b"x")
    with pytest.raises(ValueError):
        image.encode_mrj420(nimg, qstep=0)


def test_transcode_420_mode(spark):
    """transcode_images_mrj(subsample=True) routes to the 4:2:0 codec
    and reports its round-trip metrics; error isolation still holds."""
    from mvtspark.kernels.image import decode_mrj, encode_mrj420, synth_smooth_image
    from mvtspark.operators.multimodal import transcode_images_mrj
    from mvtspark.sources.images import synth_smooth_images

    base = synth_smooth_images(spark, 8).collect()
    rows = [(r.image_id, bytes(r.bytes), r.w, r.h, r.fmt) for r in base]
    rows[3] = (rows[3][0], rows[3][1][:5], rows[3][2], rows[3][3], rows[3][4])
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {
        r.image_id: r
        for r in transcode_images_mrj(df, 4, subsample=True).collect()
    }
    bad_id = rows[3][0]
    assert got[bad_id].mrj is None and got[bad_id].error
    for r in base:
        if r.image_id == bad_id:
            continue
        from mvtspark.kernels.image import decode_image

        img = decode_image(bytes(r.bytes), r.w, r.h, r.fmt)
        enc = encode_mrj420(img, 4)
        g = got[r.image_id]
        assert bytes(g.mrj) == enc and g.enc_len == len(enc)
        dec = decode_mrj(enc)
        d = dec.astype(np.int64) - img.astype(np.int64)
        assert g.sum_abs_err == np.abs(d).sum()


def test_decode_mrj_rejects_qstep_zero():
    """No encoder writes a header qstep of 0 (``_mrj_encode`` takes
    1..255): a payload carrying one must raise, not decode to a flat
    gray image."""
    img = np.random.default_rng(3).integers(0, 256, (16, 16, 3), np.uint8)
    for enc in (image.encode_mrj(img), image.encode_mrj420(img)):
        bad = enc[:8] + b"\x00" + enc[9:]
        with pytest.raises(ValueError, match="qstep"):
            image.decode_mrj(bad)
        assert image.decode_mrj(enc[:8] + b"\x01" + enc[9:]).shape == img.shape


def test_transcode_reports_qstep_zero_row(spark):
    """transcode_images_mrj over MRJ sources: a qstep-0 payload puts
    its message in that row's ``error``; its shape-mate transcodes."""
    from mvtspark.operators.multimodal import transcode_images_mrj

    rng = np.random.default_rng(4)
    good = image.encode_mrj(rng.integers(0, 256, (16, 16, 3), np.uint8))
    other = image.encode_mrj(rng.integers(0, 256, (16, 16, 3), np.uint8))
    bad = other[:8] + b"\x00" + other[9:]
    df = spark.createDataFrame(
        [("good", good, 16, 16, "mrj"), ("bad", bad, 16, 16, "mrj")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    got = {r.image_id: r for r in transcode_images_mrj(df, 4).collect()}
    assert got["bad"].mrj is None and "qstep" in got["bad"].error
    assert got["good"].error is None and got["good"].mrj is not None

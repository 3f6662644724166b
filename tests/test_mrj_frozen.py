"""Frozen MRJ payload bytes.

The digests below were minted by the codec before its 4:4:4, 4:2:0 and
stacked paths were merged into one core, so they stand in for the second
implementation as the byte reference: one SHA-256 per (corpus, mode,
qstep) over every payload in corpus order, each prefixed by its
little-endian uint32 length. The einsum summation order is part of the
format, so any reassociation of the block DCT shows up here.
"""

import hashlib
import struct

import numpy as np
import pytest

from mvtspark.kernels import image

FROZEN = {
    ("noise", "444", 1): "ee4cc3e42d5c83c39b4d666f35a7133e25781787ab0891623f6882eb02cdb62e",
    ("noise", "444", 4): "2708215e6f7d304595524b19abd66d9248a80616712fa2057184e89c76e8bd3e",
    ("noise", "444", 9): "588179f66271c8a8c3377753d59591e4efcf4f88641ac9402ba2a383f630af87",
    ("noise", "420", 1): "208e5ba4c6a71265c2ef677afd0338ece0b470d25bf8b181ae3c7daf0201a2c6",
    ("noise", "420", 4): "433b16c591285d5230f680ecb0dacd12a9f058ce4290c7bfeba41cac1bc07cb4",
    ("noise", "420", 9): "4404240fed38c7ea97a939f5454cadd239eeb93600b77de2abe23e6b8f822166",
    ("smooth", "444", 1): "31b3a54939b6182013f05333658754c5e5c7f75efccc4ca171e79db94e7c305e",
    ("smooth", "444", 4): "a680f2705f31712021cefb3dfa9bf27dc7dd3fd314416abf384160acf5ff95ee",
    ("smooth", "444", 9): "a3e1bb1ad99fc0bf62fbd044806b641c20c2d7be1faacd290f8af1fb22b5fdc9",
    ("smooth", "420", 1): "54711fab07ce0f7ac182396dbc19e2e4a89fe18dcb640d9a767bfb82998c4995",
    ("smooth", "420", 4): "09bde74dd3a6aaa07140c5a28b89faf58ff336a98e74f3fdd3999bf7eb77c493",
    ("smooth", "420", 9): "58133659b0ecc2b5edcc8602c3067eeec7a5aa7fd810aad8fea55f6cf720cdce",
}

_CORPORA = {
    "noise": (image.synth_image, 600),  # the 16-shape noise universe
    "smooth": (image.synth_smooth_image, 64),  # odd sizes included
}
_ENCODERS = {"444": image.encode_mrj, "420": image.encode_mrj420}


@pytest.fixture(scope="module")
def corpora():
    return {
        name: [image.decode_image(*synth(i)) for i in range(n)]
        for name, (synth, n) in _CORPORA.items()
    }


def _digest(payloads) -> str:
    h = hashlib.sha256()
    for p in payloads:
        h.update(struct.pack("<I", len(p)) + p)
    return h.hexdigest()


@pytest.mark.parametrize("key", sorted(FROZEN))
def test_mrj_payload_digest(corpora, key):
    name, mode, qstep = key
    encode = _ENCODERS[mode]
    assert _digest(encode(im, qstep) for im in corpora[name]) == FROZEN[key]


def test_roundtrip_batch_420_matches_per_image(corpora):
    """The stacked 4:2:0 mode emits the per-image payloads and the exact
    decode_mrj round-trip error, across same-shape groups."""
    groups: dict = {}
    for im in corpora["smooth"] + corpora["noise"][:64]:
        groups.setdefault(im.shape, []).append(im)
    for ims in groups.values():
        stack = np.stack(ims)
        encs, abs_err, sse = image.mrj_roundtrip_batch(stack, 4, True)
        for j, im in enumerate(ims):
            assert encs[j] == image.encode_mrj420(im, 4)
            d = image.decode_mrj(encs[j]).astype(np.int64) - im
            assert abs_err[j] == np.abs(d).sum()
            assert sse[j] == float((d.astype(np.float64) ** 2).sum())

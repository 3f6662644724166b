"""Scalar reference of the token hash that
``mvtspark/kernels/strhash.py::token_hashes_batch`` vectorizes: the
base-1000003 polynomial fold over code points, mod 2^64."""

from __future__ import annotations

from mvtspark.kernels.strhash import TOKEN_MULT, TOKEN_SEED, U64


def token_hash_scalar(w: str) -> int:
    """Reference scalar form (tests + documentation of the contract)."""
    h = TOKEN_SEED
    for c in w:
        h = (h * TOKEN_MULT + ord(c)) % U64
    return h

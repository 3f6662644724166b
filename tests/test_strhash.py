"""kernels/strhash parity tests: the vectorized batch hashers must match
the scalar contract (tests/strhash_reference.py / explicit folds) on every edge
the tokenizer can hit — unicode whitespace classes, empty/whitespace-only
docs, astral-plane code points beyond the whitespace table, and short
docs below the shingle width. DuckDB reproducibility is covered by the
minhash_lsh / simhash_pairs oracle queries in the driver contract."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mvtspark.kernels.strhash import (
    SHINGLE_MULT,
    SHINGLE_SEED,
    TOKEN_SEED,
    U64,
    shingle_hashes_batch,
    simhash_batch,
    token_hashes_batch,
)
from strhash_reference import token_hash_scalar

EDGE_TEXTS = [
    "Hello World foo",
    "",
    "   ",
    "one",
    "a b",
    "x y z w v",
    "héllo wörld ünïcode tokens here",
    "tab\tsep\nnewline\r\nmix",
    "nbsp tok em",
    "　ideo　sp　",
    "🎉 emoji beyond the ws table 🚀🚀",
    "repeat repeat repeat repeat",
]


def _fold_shingle(hs):
    a = SHINGLE_SEED
    for h in hs:
        a = (a * SHINGLE_MULT + h) % U64
    return a


def test_token_hashes_match_scalar_and_split_semantics():
    th, cn = token_hashes_batch(EDGE_TEXTS)
    assert cn.tolist() == [len((t or "").lower().split()) for t in EDGE_TEXTS]
    exp = [
        token_hash_scalar(w) for t in EDGE_TEXTS for w in (t or "").lower().split()
    ]
    assert th.tolist() == exp


def test_shingle_hashes_match_scalar_fold():
    th, cn = token_hashes_batch(EDGE_TEXTS)
    sh, sc = shingle_hashes_batch(th, cn, 3)
    exp, i = [], 0
    for c in cn:
        hs = th[i : i + c].tolist()
        i += c
        if c == 0:
            exp.append(_fold_shingle([TOKEN_SEED]))  # virtual empty token
        elif c < 3:
            exp.append(_fold_shingle(hs))
        else:
            exp.extend(_fold_shingle(hs[j : j + 3]) for j in range(c - 2))
    assert sh.tolist() == exp
    assert sc.tolist() == [max(1, c - 2) if c >= 3 else 1 for c in cn.tolist()]


def test_simhash_matches_scalar_votes():
    th, cn = token_hashes_batch(EDGE_TEXTS)
    sims = simhash_batch(th, cn)
    i = 0
    for d, c in enumerate(cn.tolist()):
        hs = th[i : i + c].tolist()
        i += c
        if not hs:
            assert int(sims[d]) == TOKEN_SEED
            continue
        e = 0
        for b in range(64):
            v = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if v > 0:
                e |= 1 << b
        assert int(sims[d]) == e


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(max_codepoint=0x10FFFF, exclude_categories=["Cs"]),
            max_size=60,
        ),
        max_size=12,
    )
)
def test_token_hash_property_any_unicode(texts):
    th, cn = token_hashes_batch(texts)
    assert cn.tolist() == [len((t or "").lower().split()) for t in texts]
    exp = [token_hash_scalar(w) for t in texts for w in (t or "").lower().split()]
    assert th.tolist() == exp

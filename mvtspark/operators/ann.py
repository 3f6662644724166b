"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k for a query set — the
  correctness baseline. The query matrix ships to every corpus batch
  (it's small by definition); each batch emits its local top-k, and a
  window row_number picks the global top-k.
- ivf_topk: the scale path — coarse quantizer (IVF): vectors are
  bucketed to their nearest of C centroids (computed once, broadcast);
  queries probe ``nprobe`` nearest buckets only. At 10^12 vectors the
  probe join touches ~nprobe/C of the data instead of all of it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _norm(col):
    return F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda a, v: a + v.cast("double") * v)
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _seq_fold_dots(M, Q):
    """Per-pair dot products + norms with DIMENSION-SEQUENTIAL float64
    accumulation — the same operation order as a relational left fold,
    so results are bit-identical to F.aggregate / DuckDB list_sum
    (numpy's pairwise-summing ``dot`` is faster but not order-stable)."""
    import numpy as np

    n, d = M.shape
    dots = np.zeros((n, Q.shape[0]), dtype=np.float64)
    m_norm2 = np.zeros(n, dtype=np.float64)
    for j in range(d):
        col = M[:, j]
        m_norm2 += col * col
        dots += col[:, None] * Q[None, :, j]
    return dots, np.sqrt(m_norm2)


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k most similar
    corpus vectors (excluding itself when ids collide).

    The query matrix is collected (queries are small by definition) and
    shipped inside a ``mapInPandas`` closure; each corpus Arrow batch is
    scored against ALL queries with numpy and emits only its LOCAL top-k
    per query, so the final global window sees ≤ k × n_batches ×
    n_queries rows instead of |corpus| × |queries|. The per-pair
    arithmetic runs dimension-sequentially (acc += a_d·b_d), bit-identical
    to a relational left-fold (and the DuckDB oracle's list_sum). This is
    the 10^12-row shape: corpus scanned once, nothing but top-k crosses a
    shuffle.

    Output: (query_id, vec_id, cosine, rank).
    """
    import numpy as np

    q_rows = sorted(
        queries.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    _, q_norms = _seq_fold_dots(Q, Q[:0])

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            dots, c_norms = _seq_fold_dots(M, Q)
            cos = dots / (c_norms[:, None] * q_norms[None, :])
            out = []
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                c = cos[mask, qi]
                cand = ids[mask]
                if not c.size:
                    continue
                kk = min(k, c.size)
                # local top-k by (cos desc, vec_id asc) — ties broken the
                # same way the global window does
                order = np.lexsort((cand, -c))[:kk]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[qi],
                            "vec_id": cand[order],
                            "cosine": c[order],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = emb.select("vec_id", "embedding").mapInPandas(
        _score, schema="query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def _centroid_dim(emb: DataFrame, n_centroids: int):
    """Broadcast centroid dimension: embeddings of vec_id 0..C-1
    (deterministic seed set — a k-means step can replace this without
    changing the plan shape), with fold-order-stable norms."""
    return F.broadcast(
        emb.where(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").cast("int").alias("cent_id"),
            F.col("embedding").alias("c_emb"),
            _norm(F.col("embedding")).alias("cent_norm"),
        )
    )


def train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 10,
    sample_mod: int = 1,
) -> DataFrame:
    """Deterministic spherical k-means coarse centroids.

    Production shape (FAISS coarse quantizer training): runs
    driver-side on a BOUNDED deterministic sample (``vec_id %
    sample_mod == 0``), fixed init (first C sample rows, L2-normalized)
    and iteration count — no RNG. The result is the same tiny
    broadcast (cent_id, c_emb, cent_norm) dim as the seed-set default,
    so every downstream plan is unchanged; only bucket QUALITY improves
    (tighter buckets → higher recall at the same nprobe; BENCH.md
    "ANN recall"). Spherical (normalize → mean → renormalize) because
    assignment is by cosine."""
    import numpy as np

    rows = sorted(
        emb.where((F.col("vec_id") % sample_mod) == 0)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    if len(X) < n_centroids:
        raise ValueError(
            f"k-means sample has {len(X)} vectors < n_centroids="
            f"{n_centroids}; lower sample_mod"
        )
    norms = np.sqrt((X * X).sum(axis=1, keepdims=True))
    keep = norms[:, 0] > 0.0  # a zero vector has no direction: it would
    X, norms = X[keep], norms[keep]  # poison its centroid with NaNs
    if len(X) < n_centroids:
        raise ValueError(
            f"k-means sample has {len(X)} nonzero vectors < n_centroids="
            f"{n_centroids}"
        )
    Xn = X / norms
    C = Xn[:n_centroids].copy()
    for _ in range(iters):
        assign = (Xn @ C.T).argmax(axis=1)
        for c in range(n_centroids):
            pts = Xn[assign == c]
            if len(pts):
                mean = pts.mean(axis=0)
                nm = np.sqrt((mean * mean).sum())
                if nm > 0.0:  # perfectly-cancelling cluster: keep old
                    C[c] = mean / nm
    spark = emb.sparkSession
    return F.broadcast(
        spark.createDataFrame(
            [(int(c), [float(v) for v in C[c]]) for c in range(n_centroids)],
            "cent_id int, c_emb array<double>",
        ).select("cent_id", "c_emb", _norm(F.col("c_emb")).alias("cent_norm"))
    )


def ivf_assign(
    emb: DataFrame, n_centroids: int = 16, centroids: DataFrame | None = None
) -> DataFrame:
    """Assign each vector to its nearest centroid (coarse quantizer).

    Fully relational: cross join the broadcast centroid dim (C rows, no
    shuffle), native higher-order-fold similarity, then argmax via
    ``max_by`` aggregation — ONE shuffle with map-side partial reduction
    (each map task pre-collapses to one row per vec_id), never a window
    over the C-times-expanded fact. All float math is left-fold
    sequential, bit-identical to the DuckDB oracle's list_sum — which is
    what makes the IVF path oracle-checkable end-to-end.

    ``centroids`` defaults to the seed-set dim (oracle-reproducible);
    pass ``train_ivf_centroids(...)`` for the k-means variant."""
    cent = _centroid_dim(emb, n_centroids) if centroids is None else centroids
    sim = _dot(F.col("embedding"), F.col("c_emb")) / F.col("cent_norm")
    scored = emb.crossJoin(cent).withColumn("sim", sim)
    # argmax: highest sim, ties to the smallest cent_id
    best = scored.groupBy("vec_id").agg(
        F.first("embedding").alias("embedding"),
        F.max_by(
            F.col("cent_id"), F.struct(F.col("sim"), -F.col("cent_id"))
        ).alias("ivf_bucket"),
    )
    return best


def ivf_topk(
    emb: DataFrame, queries: DataFrame, k: int = 5,
    n_centroids: int = 16, nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k probing only ``nprobe`` IVF buckets.

    At 10^12 vectors the probe join touches ~nprobe/C of the corpus; the
    bucket assignment is one narrow pass + one partially-aggregated
    shuffle (see ivf_assign). Relational end-to-end → DuckDB-oracled.
    """
    corpus = ivf_assign(emb, n_centroids, centroids=centroids)
    cent = _centroid_dim(emb, n_centroids) if centroids is None else centroids

    # query probes: nprobe nearest centroids per query (queries are tiny
    # — a window over |Q| x C rows is free)
    qsim = _dot(F.col("embedding"), F.col("c_emb")) / F.col("cent_norm")
    wq = Window.partitionBy("vec_id").orderBy(F.desc("qsim"), F.asc("cent_id"))
    probes = (
        queries.select("vec_id", "embedding")
        .crossJoin(cent)
        .withColumn("qsim", qsim)
        .withColumn("probe_rank", F.row_number().over(wq))
        .where(F.col("probe_rank") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_norm"),
            F.col("cent_id").alias("ivf_bucket"),
        )
    )
    scored = (
        corpus.join(F.broadcast(probes), "ivf_bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_norm") * _norm(F.col("embedding"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )

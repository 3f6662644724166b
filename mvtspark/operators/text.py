"""Text-analysis operators over ``documents`` (training-data pipeline
components; all pure native Column expressions — zero Python in the hot
path, so they codegen and scale linearly).

- token_count: whitespace + BPE-ish subword estimate
- quality_score: length / punctuation / stopword-ratio features
- lang_id: stopword-hit n-gram heuristic
- fingerprint: normalized-text digest (exact-dup key / lineage id)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that "
    "with as for on at by from"
).split()


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def quality_cols(text: Column) -> dict[str, Column]:
    n_chars = F.length(text)
    n_words = F.size(tokens(text))
    punct = n_chars - F.length(F.regexp_replace(text, r"[.,!?;:]", ""))
    stop_hits = _stop_hits(text)
    avg_word_len = (n_chars - n_words + 1) / n_words
    return {
        "n_chars_q": n_chars,
        "n_words": n_words,
        "punct_ratio": F.round(punct / n_chars, 6),
        "stopword_ratio": F.round(stop_hits / n_words, 6),
        "avg_word_len": F.round(avg_word_len, 6),
    }


def _stop_hits(text: Column) -> Column:
    # count whitespace-delimited stopword tokens with ONE native regex
    # scan instead of a higher-order filter lambda: lambda-HOFs evaluate
    # interpreted per element (~10 us/element here), which made this the
    # slowest expression in the engine; regexp_count is a single JVM
    # regex pass per row. Token semantics match split-on-\s+ exactly:
    # leading anchor (^|\s) consumed, trailing boundary as lookahead so
    # consecutive stopwords all count.
    pat = r"(?:^|\s)(?:" + "|".join(_STOPWORDS) + r")(?=\s|$)"
    return F.regexp_count(F.lower(text), F.lit(pat))


def quality_score(text: Column) -> Column:
    q = quality_cols(text)
    return F.round(
        F.least(F.lit(1.0), q["n_words"] / 100.0) * 0.4
        + F.greatest(F.lit(0.0), F.lit(0.3) - q["punct_ratio"]) / 0.3 * 0.3
        + F.least(F.lit(1.0), q["stopword_ratio"] * 4) * 0.3,
        6,
    )


def lang_id(text: Column) -> Column:
    """Heuristic language id: English stopword hit-rate >= 5% → 'en',
    else 'und'. (n-gram table heuristic; deterministic + SQL-expressible)."""
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    return F.when(hits / F.size(toks) >= 0.05, F.lit("en")).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of normalized text (rolling-hash analog
    with exact SQL parity in DuckDB)."""
    return F.md5(F.regexp_replace(F.lower(text), r"\s+", " "))


def analyze(docs: DataFrame) -> DataFrame:
    """All text features in two narrow projections: the expensive string
    scans (split, stopword filter, regex strip) run ONCE each in stage 1;
    stage 2 is scalar arithmetic over those intermediates. Same values as
    composing the standalone helpers (the oracle contract pins them), but
    the codegen'd plan does one pass over each string instead of ~8 —
    at 10^12 rows the string scans dominate, so this is the difference
    between one and eight full-corpus scans."""
    t = F.col("text")
    base = docs.withColumns(
        {
            "_n_chars": F.length(t),
            "_n_words": F.size(tokens(t)),
            "_punct": F.length(t) - F.length(F.regexp_replace(t, r"[.,!?;:]", "")),
            "_stop_hits": _stop_hits(t),
            "fp": fingerprint(t),
        }
    )
    nc, nw = F.col("_n_chars"), F.col("_n_words")
    pu, sh = F.col("_punct"), F.col("_stop_hits")
    punct_ratio = F.round(pu / nc, 6)
    stop_ratio = F.round(sh / nw, 6)
    return base.withColumns(
        {
            "n_tokens_ws": nw,
            "n_tokens_bpe": F.greatest(nw, F.ceil(nc / F.lit(4)).cast("int")).cast("int"),
            "n_words": nw,
            "punct_ratio": punct_ratio,
            "stopword_ratio": stop_ratio,
            "avg_word_len": F.round((nc - nw + 1) / nw, 6),
            "quality": F.round(
                F.least(F.lit(1.0), nw / 100.0) * 0.4
                + F.greatest(F.lit(0.0), F.lit(0.3) - punct_ratio) / 0.3 * 0.3
                + F.least(F.lit(1.0), stop_ratio * 4) * 0.3,
                6,
            ),
            "lang_pred": F.when(sh / nw >= 0.05, F.lit("en")).otherwise(F.lit("und")),
        }
    ).drop("_n_chars", "_n_words", "_punct", "_stop_hits")


def repetition_cols(text: Column) -> dict[str, Column]:
    """Gopher-style repetition signals (boilerplate / degenerate-text
    filters), all native folds — no shuffle, no Python:

    - dup_line_frac:   fraction of non-unique lines
    - dup_3gram_frac:  fraction of non-unique 3-token shingles
    - top_token_frac:  share of the single most frequent token, computed
      as the longest equal-run over the SORTED token array via one
      `aggregate` fold (avoids the explode+groupBy shuffle a count-map
      would need)
    """
    toks = tokens(F.lower(text))
    n = F.size(toks)
    lines = F.split(text, "\n")
    nl = F.size(lines)
    dup_line = (nl - F.size(F.array_distinct(lines))) / F.greatest(nl, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(2), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
    )
    ng = F.size(grams)
    dup_gram = (ng - F.size(F.array_distinct(grams))) / F.greatest(ng, F.lit(1))
    sorted_toks = F.array_sort(toks)
    run = F.aggregate(
        sorted_toks,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(t == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    top_tok = run / F.greatest(n, F.lit(1))
    return {
        "dup_line_frac": F.round(dup_line, 6),
        "dup_3gram_frac": F.round(dup_gram, 6),
        "top_token_frac": F.round(top_tok, 6),
    }


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select(
        "doc_id", *[
            c.alias(k) for k, c in repetition_cols(F.col(text_col)).items()
        ]
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic relevance /
    keyword-extraction signal, fully native.

    Pipeline: explode tokens (split-on-\\s+, the module's token
    semantics) → per-(doc, term) counts → per-term document frequency
    → smooth idf ``ln((N+1)/(df+1)) + 1`` → score = tf·idf, ROUNDED to
    6 decimals BEFORE ranking so the (score desc, term asc) order is
    identical cross-engine despite libm ln ulps.

    Scale shape: three key-partitioned shuffles (doc+term agg, term
    agg, doc window) — the term dimension is Zipf-heavy but the df agg
    is a map-side-partial count, and N is a broadcast scalar, not a
    driver collect into the plan."""
    toks = (
        docs.select(
            "doc_id",
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .where(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + 1.0) / (F.col("dfc") + 1.0)
                    )
                    + 1.0
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "score", "rank")
    )


# count-min sketch: odd multipliers (public xorshift/splitmix constants)
# define the depth multiply-shift hash family
#   h_d(x) = ((hash(x)*A_d) mod 2^64) >> (64 - log2(width))
# — the HIGH bits of the product (Dietzfelbinger multiply-shift), NOT the
# low bits: an odd multiplier is a bijection mod any 2^k, so a low-bits
# `mod width` would make all depth rows collide identically and void the
# e^-depth CMS error bound. SQL-reproducible (HUGEINT product, then
# integer-divide by 2^(64-log2 width) in the oracle).
CMS_A = (
    1181783497276652981,
    7664345821815920749,
    2862933555777941757,
    3202034522624059733,
)


def _cms_buckets_udf(depth: int, width: int):
    """(token string) → array<long>[depth] of sketch buckets, whole-batch
    vectorized through kernels.strhash (the DuckDB-reproducible
    polynomial hash — NOT Spark's xxhash64, so the oracle can rebuild
    the identical sketch)."""
    from pyspark.sql.types import ArrayType, LongType

    assert width & (width - 1) == 0 and width > 1, "width must be a power of 2"
    shift = 64 - (width.bit_length() - 1)

    @F.pandas_udf(ArrayType(LongType()))
    def _f(tok: pd.Series) -> pd.Series:
        import numpy as np

        from mvtspark.kernels.strhash import token_hashes_batch

        th, cn = token_hashes_batch(tok.tolist())
        assert int(cn.sum()) == len(tok), "tokens must be single words"
        out = np.empty((len(tok), depth), dtype=np.uint64)
        for d in range(depth):
            out[:, d] = (th * np.uint64(CMS_A[d])) >> np.uint64(shift)
        s64 = out.view(np.int64)
        return pd.Series(list(s64))

    return _f


def cms_sketch(tokens: DataFrame, depth: int = 4, width: int = 4096) -> DataFrame:
    """Count-min sketch table over a token stream: (d, bucket, c).

    The mergeable bounded-memory heavy-hitter structure: the table is
    depth×width counters REGARDLESS of corpus size (here ≤ 16,384 rows
    for a 10^12-token stream), built with ONE partially-aggregated
    shuffle. Sketches from different corpus shards merge by cell-wise
    addition (a groupBy over their union)."""
    return (
        tokens.withColumn("_b", _cms_buckets_udf(depth, width)(F.col("tok")))
        .select(F.posexplode("_b").alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    query_tokens: DataFrame, sketch: DataFrame, depth: int = 4, width: int = 4096
) -> DataFrame:
    """Point-estimate counts for query tokens from a sketch: the MIN of
    the token's depth counters (over-estimates only, never under). The
    sketch is tiny → broadcast; one hash equi-join on (d, bucket).

    The sketch table is SPARSE (zero cells have no row), so the join is
    a LEFT join with ``coalesce(c, 0)`` — a query token whose cell was
    never touched correctly estimates 0 instead of losing the row from
    the MIN (or vanishing from the output entirely)."""
    qb = query_tokens.withColumn(
        "_b", _cms_buckets_udf(depth, width)(F.col("tok"))
    ).select("tok", F.posexplode("_b").alias("d", "bucket"))
    return (
        qb.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cms_n"))
    )

"""Text relevance scoring: TF-IDF term weights and BM25 ranking.

These are the classic retrieval primitives a training-data pipeline uses
for corpus exploration (top terms per document) and query-driven
filtering (keep documents relevant to a seed query).  They complement the
quality/dedup family in ``operators/textstats.py`` / ``operators/dedup.py``.

Scale design (100 TB):
- ``term_frequencies`` is one explode + one hash-shuffle on
  ``(doc_id, term)`` with map-side combine; document length rides the
  aggregate as ``max`` (constant per doc) so no second pass over the text.
- document frequencies aggregate the *already reduced* per-doc term table
  (vocabulary-sized output, tiny), and corpus-level scalars (N, avgdl)
  are lazy scalar subqueries — no collect, no single-partition exchange.
- the df side of the TF-IDF join is vocabulary-sized, so it is
  broadcast; nothing quadratic anywhere, and BM25 filters the term table
  to the query's terms *before* any join (predicate pushdown to the
  scan's child).

Float determinism (mirrors the query-inventory policy in queries.py):
``ln`` may differ by 1 ulp across engines, so every log-derived weight is
rounded half-up to 8 decimals at the per-term level; cross-term sums
(the BM25 score) accumulate those rounded values as exact DECIMAL so the
result is independent of Spark's aggregation order.
"""

from __future__ import annotations

import typing as _ty

from pyspark.sql import DataFrame as SDF
from pyspark.sql import functions as F

from torcharrow_spark.operators.textstats import _words

__all__ = ["term_frequencies", "tf_idf", "top_terms", "bm25_scores",
           "collocations", "bigram_lm_scores"]


def _round8(col: F.Column) -> F.Column:
    """Engine-independent half-up rounding to 8 decimals (floor trick —
    builtin round() disagrees across engines on double half-way points)."""
    return F.floor(col * 100000000.0 + 0.5) / 100000000.0


def _round6(col: F.Column) -> F.Column:
    return F.floor(col * 1000000.0 + 0.5) / 1000000.0


def term_frequencies(
    docs: SDF, text_col: str = "text", id_col: str = "doc_id"
) -> SDF:
    """Per-document term counts: ``(doc_id, term, tf, dl)`` where ``dl``
    is the document length in tokens.

    One explode + one shuffle on ``(doc_id, term)``; ``dl`` is computed
    before the explode and reduced with ``max`` (constant per document),
    so the text is scanned exactly once.
    """
    words = _words(F.col(text_col))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(words).cast("long").alias("dl"),
            F.explode(words).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )


def _corpus_scalars(
    docs: SDF, text_col: str, id_col: str
) -> _ty.Tuple[F.Column, F.Column]:
    """(N, avgdl) as lazy scalar subqueries over a single narrow
    projection of the corpus — one ``size(split(...))`` per document, no
    explode, no shuffle beyond the final 1-row aggregate.  Exact integer
    arithmetic until the final division keeps avgdl bit-stable."""
    per_doc = docs.select(
        F.size(_words(F.col(text_col))).cast("long").alias("dl")
    )
    n_docs = per_doc.agg(F.count(F.lit(1)).cast("double").alias("v")).scalar()
    avgdl = per_doc.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("v")
    ).scalar()
    return n_docs, avgdl


def tf_idf(docs: SDF, text_col: str = "text", id_col: str = "doc_id") -> SDF:
    """Smoothed TF-IDF weights per ``(doc_id, term)``.

    ``idf = ln((1 + N) / (1 + df)) + 1`` (the sklearn ``smooth_idf``
    formulation — never negative, never divides by zero) and
    ``tfidf = tf * idf``.  Output: ``doc_id, term, tf, df, idf, tfidf``
    with the log-derived columns rounded to 8 decimals (see module note).

    The document-frequency table is vocabulary-sized and broadcast into
    the join against the per-doc term table.
    """
    tf = term_frequencies(docs, text_col, id_col)
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs, _ = _corpus_scalars(docs, text_col, id_col)
    idf = F.log((F.lit(1.0) + n_docs) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    return (
        tf.join(F.broadcast(df_tbl), "term")
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            _round8(idf).alias("idf"),
            _round8(F.col("tf").cast("double") * idf).alias("tfidf"),
        )
    )


def top_terms(
    docs: SDF, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> SDF:
    """Top-``k`` TF-IDF terms per document (rank ties broken by term, so
    the result is deterministic).  Adds one window shuffle on ``doc_id``
    over the already-reduced term table — never over raw text."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf_idf(docs, text_col, id_col)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def bm25_scores(
    docs: SDF,
    query_terms: _ty.Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> SDF:
    """Okapi BM25 score of every document against ``query_terms``.

    ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))`` and the per-term
    contribution is ``idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl /
    avgdl))``.  Documents containing none of the query terms are absent
    from the result (score would be 0).

    Scale: the term table is filtered to ``query_terms`` *first* — the
    per-doc rows surviving are at most ``|query| × N_docs`` — and the
    (tiny) per-term df/idf side is broadcast.  Contributions are rounded
    to 8 decimals then summed as exact DECIMAL(28,8) so the score is
    independent of aggregation order; the final score is rounded to 6.

    Output: ``doc_id, n_hit_terms, score``.
    """
    terms = [t.lower() for t in query_terms]
    tf = term_frequencies(docs, text_col, id_col).where(F.col("term").isin(terms))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n_docs, avgdl = _corpus_scalars(docs, text_col, id_col)
    idf = F.log(
        F.lit(1.0) + (n_docs - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    )
    contrib = _round8(idf * F.col("tf").cast("double") * F.lit(k1 + 1.0) / denom)
    return (
        tf.join(F.broadcast(df_tbl), "term")
        .select("doc_id", contrib.cast("decimal(28,8)").alias("contrib"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            _round6(F.sum("contrib").cast("double")).alias("score"),
        )
    )


def build_vocab(
    docs: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_freq: int = 1,
    max_size: int | None = None,
    specials: _ty.Sequence[str] = (),
) -> SDF:
    """Corpus vocabulary: (token, freq, token_id) with ids assigned in
    (freq DESC, token ASC) order after any ``specials`` (which take ids
    0..len-1 regardless of frequency, torchtext-style).

    The counting pass is fully distributed (explode + HashAggregate,
    map-side partial combine).  The id-assignment window is a total
    order, so it runs on ONE partition — of the aggregated table, whose
    size is the vocabulary (bounded by min_freq/max_size, ~100k rows),
    not the corpus; that stays cheap at any corpus scale.  Feed the
    result straight to ``functional.lookup_indices`` or broadcast-join
    it onto a token table."""
    from pyspark.sql import Window

    tok = docs.select(F.explode(_words(F.col(text_col))).alias("token")).where(
        F.col("token") != ""
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    specials = list(specials)
    if specials:
        counts = counts.where(~F.col("token").isin(specials))
    counts = counts.where(F.col("freq") >= F.lit(int(min_freq)))
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    ranked = counts.withColumn(
        "token_id", F.row_number().over(w) - 1 + len(specials)
    )
    if max_size is not None:
        ranked = ranked.where(F.col("token_id") < int(max_size))
    if specials:
        sp = docs.sparkSession.createDataFrame(
            [(t, None, i) for i, t in enumerate(specials)],
            "token string, freq long, token_id int",
        )
        ranked = sp.unionByName(ranked.select("token", "freq", "token_id"))
    return ranked.select("token", "freq", F.col("token_id").cast("int").alias("token_id"))


def collocations(
    df: SDF,
    min_count: int = 5,
    delta: float = 0.0,
    k: int = 50,
    text_col: str = "text",
) -> SDF:
    """Top-k collocated bigrams by the word2vec phrase score
    (Mikolov et al. 2013, public): ``(count(ab) - delta) * N /
    (count(a) * count(b))`` — a log-free lift, so the ranking is exact
    IEEE division over exact integer counts on any engine (a PMI
    formulation would inherit the 1-ulp ``ln`` divergence).

    Plan: one narrow explode to adjacent-pair rows (linear in corpus
    tokens), one hash-shuffle for bigram counts, a vocabulary-sized
    unigram aggregate joined in twice (broadcast — the vocabulary is
    tiny relative to the corpus at any scale), TakeOrderedAndProject
    for the top-k (no global sort).  ``min_count`` prunes the long tail
    BEFORE the joins.  Output: ``w1``, ``w2``, ``n_bigram``, ``score``
    (ties broken by words for determinism)."""
    if min_count < 1 or k < 1:
        raise ValueError("min_count and k must be >= 1")
    words = _words(F.col(text_col))
    toks = df.select(words.alias("__w__"))
    uni = (
        toks.select(F.explode("__w__").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n_uni"))
    )
    pairs = F.when(
        F.size("__w__") >= 2,
        F.zip_with(
            F.slice(F.col("__w__"), 1, F.size("__w__") - 1),
            F.slice(F.col("__w__"), 2, F.size("__w__") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = (
        toks.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bigram"))
        .where(F.col("n_bigram") >= min_count)
    )
    n_tokens = uni.agg(F.sum("n_uni").cast("double")).toDF("t")
    score = (
        (F.col("n_bigram").cast("double") - F.lit(float(delta)))
        * F.col("t")
        / (F.col("n1").cast("double") * F.col("n2").cast("double"))
    )
    u1 = F.broadcast(uni.select(F.col("w").alias("w1"), F.col("n_uni").alias("n1")))
    u2 = F.broadcast(uni.select(F.col("w").alias("w2"), F.col("n_uni").alias("n2")))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tokens))
        .select("w1", "w2", "n_bigram", score.alias("score"))
        .orderBy(F.col("score").desc(), "w1", "w2")
        .limit(k)
    )


def bigram_lm_scores(
    docs: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> SDF:
    """Per-document bigram language-model log-probability — the
    CCNet-style perplexity quality filter (Wenzek et al. 2020, public):
    score every document by the average add-alpha-smoothed bigram
    log-probability under a model trained on the corpus itself, so
    boilerplate-like documents (high probability, low "surprise") and
    gibberish (very low probability) both stand out from the bulk.

    P(w2|w1) = (c(w1,w2) + alpha) / (c(w1) + alpha * V), V = vocabulary
    size. Returns ``(id, n_bigrams, avg_logp)``; documents with < 2
    words get ``n_bigrams = 0`` and null ``avg_logp``.

    Scale design: two linear count aggregates (bigram + unigram), the
    vocabulary-sized unigram table joined onto the bigram-count table
    (broadcast — vocab << corpus at any scale), then ONE hash join of
    doc-bigram rows to the stats table on the bigram key and a per-doc
    aggregate. No collect, no windows; everything shuffles on
    high-cardinality keys. Determinism: per-bigram contributions are
    rounded to 8 decimals and summed as exact DECIMAL(28,8) (order-
    independent — the q69/BM25 pattern), final average rounded to 6."""
    words = _words(F.col(text_col))
    toks = docs.select(F.col(id_col), words.alias("__w__"))
    uni = (
        toks.select(F.explode("__w__").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).cast("long").alias("n1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
    pairs = F.when(
        F.size("__w__") >= 2,
        F.zip_with(
            F.slice(F.col("__w__"), 1, F.size("__w__") - 1),
            F.slice(F.col("__w__"), 2, F.size("__w__") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    doc_big = toks.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, "p.w1", "p.w2"
    )
    big = doc_big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n12")
    )
    stats = big.join(F.broadcast(uni), "w1")
    a = F.lit(float(alpha))
    logp = F.log(
        (F.col("n12").cast("double") + a)
        / (F.col("n1").cast("double") + a * F.col("v"))
    )
    contrib = _round8(logp).cast("decimal(28,8)")
    scored = (
        doc_big.join(stats, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(contrib).alias("__s__"),
        )
        .select(
            id_col,
            "n_bigrams",
            _round6(F.col("__s__").cast("double") / F.col("n_bigrams")).alias(
                "avg_logp"
            ),
        )
    )
    ids = docs.select(id_col).distinct()
    return (
        ids.join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            "avg_logp",
        )
    )

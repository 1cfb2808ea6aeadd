"""r13 (guide §5.4): the textstats expression builders and the gopher
gate are constructed as generated SQL text (one F.expr per output
column) instead of dozens of Column-API py4j round trips. These tests
keep the replaced Column-API constructions VERBATIM as references and
pin that the SQL-text forms are bit-identical — schema AND rows — on
adversarial inputs (null text, empty, whitespace-only, astral-plane
codepoints, backtick-hostile column names, every gate reason)."""

from __future__ import annotations

from pyspark.sql import functions as F

from torcharrow_spark.operators.textstats import (
    STOPWORDS,
    _language_exprs,
    _quality_exprs,
    _token_count_exprs,
    _with_words,
    gopher_filter,
    repetition_stats,
)


def _ngrams(words: F.Column, n: int) -> F.Column:
    """Space-joined token n-grams as a zip_with chain over n shifted
    slices. CRITICAL shape: ``words`` appears only as an HOF *input*
    (each slice evaluates it once per row); the earlier
    transform-over-indices form referenced ``words`` INSIDE its lambda,
    and an outer computed expression in an interpreted lambda re-evaluates
    per element — O(len²) splits per document, measured 120x slower on
    the quality gate once the projection was actually materialized
    (count() benchmarks prune projections and had hidden it)."""
    cnt = F.greatest(F.size(words) - (n - 1), F.lit(0))
    acc = F.slice(words, 1, cnt)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(words, j + 1, cnt),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return acc


def _repetition_stats_ref(df, text_col="text", id_col="doc_id"):
    # pre-SQL-text Column-API construction, verbatim
    df = _with_words(df, text_col, id_col)
    words = F.col("__w__")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(words).cast("long").alias("nw"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(words)).cast("double")
            / F.size(words).cast("double")
        ).alias("dup_word_frac"),
        (
            F.when(
                F.size(_ngrams(words, 5)) > 0,
                F.lit(1.0)
                - F.size(F.array_distinct(_ngrams(words, 5))).cast("double")
                / F.size(_ngrams(words, 5)).cast("double"),
            ).otherwise(F.lit(0.0))
        ).alias("dup5_frac"),
        _ngrams(words, 2).alias("g2"),
        _ngrams(words, 3).alias("g3"),
    )
    tagged = base.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(F.col("g2"), lambda g: F.concat(F.lit("2\x01"), g)),
                F.transform(F.col("g3"), lambda g: F.concat(F.lit("3\x01"), g)),
            )
        ).alias("g"),
    )
    mx = (
        tagged.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.substring("g", 1, 1) == "2", F.col("c"))).alias("mx2"),
            F.max(F.when(F.substring("g", 1, 1) == "3", F.col("c"))).alias("mx3"),
        )
    )
    out = base.drop("g2", "g3").join(mx, "doc_id", "left")
    # a gram occurring once is not repetition: coverage counts only when
    # the most frequent gram actually repeats (otherwise every short doc
    # would trip the 0.2 threshold at 2/n_tokens)
    top2 = F.coalesce(
        F.when(
            F.col("mx2") >= 2,
            F.least(F.lit(1.0), F.col("mx2").cast("double") * 2 / F.col("nw")),
        ),
        F.lit(0.0),
    )
    top3 = F.coalesce(
        F.when(
            F.col("mx3") >= 2,
            F.least(F.lit(1.0), F.col("mx3").cast("double") * 3 / F.col("nw")),
        ),
        F.lit(0.0),
    )
    return out.select(
        "doc_id",
        "dup_word_frac",
        top2.alias("top2_frac"),
        top3.alias("top3_frac"),
        "dup5_frac",
        (
            (F.col("dup_word_frac") > 0.95)
            | (top2 > 0.20)
            | (top3 > 0.18)
            | (F.col("dup5_frac") > 0.15)
        ).alias("is_repetitive"),
    )


def _round4_ref(col):
    return F.floor(col * 10000.0 + 0.5) / 10000.0


def _token_count_exprs_ref(text_col, words):
    # pre-r13 Column-API construction, verbatim
    n_words = F.size(words).cast("long")
    bpe_units = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(F.floor((F.length(w) + 3) / 4), F.lit(1).cast("long")),
    )
    return [
        n_words.alias("n_tokens"),
        bpe_units.alias("n_bpe_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
    ]


def _quality_exprs_ref(text_col, words):
    # pre-r13 Column-API construction, verbatim
    text = F.col(text_col)
    n_words = F.size(words).cast("double")
    n_chars = F.length(text).cast("double")
    mean_wlen = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(sw, w))).cast(
        "double"
    )
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    len_ok = F.when((n_words >= 5) & (n_words <= 100000), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    wlen_ok = F.when(
        (mean_wlen >= 2.0) & (mean_wlen <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    score = (
        F.lit(0.3) * len_ok
        + F.lit(0.2) * wlen_ok
        + F.lit(0.2) * punct_ok
        + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
    )
    return [
        _round4_ref(mean_wlen).alias("mean_word_len"),
        _round4_ref(punct_ratio).alias("punct_ratio"),
        _round4_ref(stop_ratio).alias("stopword_ratio"),
        _round4_ref(score).alias("quality"),
    ]


def _language_exprs_ref(text_col, words):
    # pre-r13 Column-API construction, verbatim
    hits = {}
    for lang in sorted(STOPWORDS):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits[lang] = F.size(
            F.filter(words, lambda w: F.array_contains(sw, w))
        ).cast("long")
    mx = F.greatest(*hits.values())
    pred = F.lit(None).cast("string")
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when(hits[lang] == mx, F.lit(lang)).otherwise(pred)
    return [pred.alias("pred_lang"), mx.alias("stopword_hits")]


def _gopher_ref(
    df,
    text_col="text",
    id_col="doc_id",
    min_words=50,
    max_words=100_000,
    min_mean_wlen=3.0,
    max_mean_wlen=10.0,
    min_alpha_frac=0.8,
    max_symbol_ratio=0.1,
    min_stopword_hits=2,
    max_dup_word_frac=0.3,
    max_dup5_frac=0.15,
):
    # pre-r13 Column-API construction, verbatim (verdict shape only)
    df = _with_words(df, text_col, id_col)
    text = F.col(text_col)
    words = F.col("__w__")
    nw = F.size(words).cast("long")
    n_chars = F.length(text).cast("double")
    mwl = F.when(nw > 0, n_chars / nw.cast("double")).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        nw > 0,
        F.size(F.filter(words, lambda w: w.rlike("[a-z]"))).cast("double")
        / nw.cast("double"),
    ).otherwise(F.lit(0.0))
    n_sym = (
        F.length(F.regexp_replace(text, r"[^#]", "")).cast("double")
        + F.lit(3.0) * F.size(F.split(text, r"\.\.\.", -1)).cast("double")
        - F.lit(3.0)
    )
    symbol_ratio = F.when(nw > 0, n_sym / nw.cast("double")).otherwise(
        F.lit(0.0)
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(
        F.filter(words, lambda w: F.array_contains(sw, w))
    ).cast("long")
    dup_word = F.when(
        nw > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(words)).cast("double") / nw.cast("double"),
    ).otherwise(F.lit(0.0))
    g5 = _ngrams(words, 5)
    dup5 = F.when(
        F.size(g5) > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(g5)).cast("double")
        / F.size(g5).cast("double"),
    ).otherwise(F.lit(0.0))
    reason = (
        F.when(text.isNull(), F.lit("null_text"))
        .when(nw < min_words, F.lit("too_few_words"))
        .when(nw > max_words, F.lit("too_many_words"))
        .when(
            (mwl < min_mean_wlen) | (mwl > max_mean_wlen),
            F.lit("bad_mean_word_len"),
        )
        .when(alpha_frac < min_alpha_frac, F.lit("low_alpha_frac"))
        .when(symbol_ratio > max_symbol_ratio, F.lit("high_symbol_ratio"))
        .when(stop_hits < min_stopword_hits, F.lit("too_few_stopwords"))
        .when(dup_word > max_dup_word_frac, F.lit("repetitive_words"))
        .when(dup5 > max_dup5_frac, F.lit("repetitive_5grams"))
    )
    return df.select(
        F.col(id_col),
        reason.isNull().alias("keep"),
        reason.alias("reason"),
    )


_GATE_DOCS = [
    # one document per gate reason, plus clean keeps and edge shapes
    (0, None),  # null_text
    (1, ""),  # too_few_words (empty -> split gives [""])
    (2, "   \t  \n "),  # whitespace-only
    (3, "short doc only"),  # too_few_words
    (4, " ".join(f"w{i}" for i in range(60))),  # low_alpha? digits in words
    (5, "the " * 60),  # repetitive_words
    (
        6,
        " ".join(
            "the quick brown fox jumps".split() * 20
        ),  # repetitive_5grams candidate
    ),
    (7, ("the of and to in is it a " * 10) + "extra unique words here now"),
    (8, "#### " * 60),  # symbol ratio / low alpha
    (9, "... and the rest ... " * 15),  # ellipsis counting
    (
        10,
        "supercalifragilisticexpialidocious " * 55,
    ),  # bad_mean_word_len (long words)
    (11, "a b c d e " * 12),  # short words -> mean_wlen < 3
    (12, "\U0001f600 \U0001d11e astral " * 25),  # astral-plane codepoints
    (13, "Le chat est sur la table et le chien est la " * 6),  # fr-ish
    (14, "der die das und von ein ist in " * 8),  # de stopwords
    (
        15,
        " ".join(
            f"the quality of word{i} is it to in and a" for i in range(12)
        ),
    ),  # a clean keep
    (16, "word " + "x" * 4000),  # one huge token
    (17, "de shi le zai he you wo ta " * 9),  # zh-pinyin vs fr tie shapes
]


def test_stats_exprs_sqltext_matches_column_api(spark):
    df = spark.createDataFrame(_GATE_DOCS, "doc_id long, text string")
    base = _with_words(df, "text", "doc_id")
    old = base.select(
        F.col("doc_id"),
        *_token_count_exprs_ref("text", F.col("__w__")),
        *_quality_exprs_ref("text", F.col("__w__")),
        *_language_exprs_ref("text", F.col("__w__")),
    )
    new = base.select(
        F.col("doc_id"),
        *_token_count_exprs("text", words_sql="__w__"),
        *_quality_exprs("text", words_sql="__w__"),
        *_language_exprs("text", words_sql="__w__"),
    )
    assert old.schema.json() == new.schema.json()
    assert sorted(map(tuple, old.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_stats_exprs_sqltext_inline_words_path(spark):
    """The words_sql=None default (inline split) must also match."""
    df = spark.createDataFrame(_GATE_DOCS, "doc_id long, text string")
    from torcharrow_spark.operators.textstats import _words

    old = df.select(
        F.col("doc_id"), *_token_count_exprs_ref("text", _words(F.col("text")))
    )
    new = df.select(F.col("doc_id"), *_token_count_exprs("text"))
    assert old.schema.json() == new.schema.json()
    assert sorted(map(tuple, old.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_gopher_filter_sqltext_matches_column_api(spark):
    df = spark.createDataFrame(_GATE_DOCS, "doc_id long, text string")
    old = _gopher_ref(df)
    new = gopher_filter(df)
    assert old.schema.json() == new.schema.json()
    a = sorted(map(tuple, old.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b
    # the fixture must actually exercise a spread of reasons, not all-keep
    reasons = {r for (_, _, r) in a}
    assert len(reasons) >= 5, reasons


def test_gopher_filter_sqltext_nondefault_params(spark):
    """Float/int thresholds are interpolated as SQL literals — pin the
    D-suffix discipline with awkward float reprs and int-passed
    thresholds."""
    df = spark.createDataFrame(_GATE_DOCS, "doc_id long, text string")
    kw = dict(
        min_words=3,
        max_words=70,
        min_mean_wlen=2.1000000000000001,
        max_mean_wlen=9.9,
        min_alpha_frac=0.75,
        max_symbol_ratio=0.05,
        min_stopword_hits=1,
        max_dup_word_frac=0.25,
        max_dup5_frac=0.1,
    )
    old = _gopher_ref(df, **kw)
    new = gopher_filter(df, **kw)
    assert old.schema.json() == new.schema.json()
    assert sorted(map(tuple, old.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_repetition_stats_sqltext_matches_column_api(spark):
    df = spark.createDataFrame(_GATE_DOCS, "doc_id long, text string")
    old = _repetition_stats_ref(df)
    new = repetition_stats(df)
    assert old.schema.json() == new.schema.json()
    a = sorted(map(tuple, old.collect()))
    assert a == sorted(map(tuple, new.collect()))
    # the fixture must exercise both verdicts and nonzero 5-gram repeats
    assert {True, False} <= {r[-1] for r in a}
    assert any(r[4] and r[4] > 0 for r in a)


def test_gopher_filter_keep_columns_shape(spark):
    text = "the of " + " ".join(f"alpha{chr(97 + i % 26)}{i}" for i in range(58))
    df = spark.createDataFrame(
        [(1, text, "x")],
        "doc_id long, text string, extra string",
    )
    out = gopher_filter(df, keep_columns=True)
    assert out.columns == ["doc_id", "text", "extra", "keep", "reason"]
    row = out.collect()[0]
    assert row["keep"] is True and row["reason"] is None


def test_scan_handle_cache_is_metadata_only(spark):
    """_load resolves each bench table once per session and file
    identity: repeat loads reuse one lazy scan handle (plan + schema),
    and the memo holds plans, never rows."""
    from torcharrow_spark import memo as M
    from torcharrow_spark import queries as Q

    sf_dir = "/root/testdata/sf0.001"
    M.clear()
    a = Q._load(spark, sf_dir, "documents").to_spark()
    b = Q._load(spark, sf_dir, "documents").to_spark()
    # same underlying handle object — no second listing/footer pass
    assert a is b
    assert len(M._STORE) == 1
    assert all(hasattr(v, "_jdf") for v in M._STORE.values())


def test_spread_decision_cache_skips_repeat_probe(spark, monkeypatch):
    """r13: spread_narrow_source memoizes its split-count decision per
    normalized plan and file identity — the df.rdd probe (~0.45 s of
    driver-side physical planning) must run at most once per plan shape
    per session."""
    from pyspark.sql.classic import dataframe as _cdf

    from torcharrow_spark import memo as M
    from torcharrow_spark.operators import preprocess as P

    M.clear()
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    calls = {"n": 0}
    real_rdd = _cdf.DataFrame.rdd  # a functools.cached_property
    real_fn = getattr(real_rdd, "func", None) or real_rdd.fget

    @property
    def counting_rdd(self):
        calls["n"] += 1
        return real_fn(self)

    monkeypatch.setattr(_cdf.DataFrame, "rdd", counting_rdd)
    r1 = P.spread_narrow_source(df)
    n_after_first = calls["n"]
    r2 = P.spread_narrow_source(df)
    assert calls["n"] == n_after_first  # no second probe
    # identical decision both times
    assert (
        ("Repartition" in r1._jdf.queryExecution().logical().toString())
        == ("Repartition" in r2._jdf.queryExecution().logical().toString())
    )


def _margin(feature_cols, w):
    """w·x as a left-associated chain — the same addition order an
    external SQL replay writes, so the double result is bit-identical."""
    z = F.col(feature_cols[0]).cast("double") * F.lit(float(w[0]))
    for c, wi in zip(feature_cols[1:], list(w)[1:]):
        z = z + F.col(c).cast("double") * F.lit(float(wi))
    return z


def _logreg_train_ref(df, feature_cols, label_col, lr=1.0, iters=3):
    """pre-r13 Column-API training loop, verbatim."""
    from torcharrow_spark.operators.relevance import _round8

    cols = list(feature_cols)
    feat = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols],
        F.col(label_col).cast("double").alias("__y__"),
    ).na.drop()
    w = [0.0] * len(cols)
    for _ in range(iters):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(cols, w)))
        err = p - F.col("__y__")
        row = feat.agg(
            F.count(F.lit(1)).alias("__n__"),
            *[
                F.sum(_round8(err * F.col(c)).cast("decimal(28,8)")).alias(
                    f"__g{i}__"
                )
                for i, c in enumerate(cols)
            ],
        ).collect()[0]
        n = float(row["__n__"])
        w = [
            wi - lr * (float(row[f"__g{i}__"]) / n) for i, wi in enumerate(w)
        ]
    return w


def test_logreg_sqltext_fit_matches_column_api(spark):
    """r13: the per-iteration gradient aggregate is ONE F.expr per
    column instead of ~40 Column-API calls rebuilt every iteration.
    Pin: bit-identical weights (exact float equality) across iterations,
    including awkward intermediate weight reprs."""
    from torcharrow_spark.operators import logreg_train

    rows = [
        (1.0, 0.3333333333333333, 7.25, 1.0),
        (1.0, 2.1, -1.5, 0.0),
        (1.0, 1e-9, 3.0, 1.0),
        (1.0, -4.75, 0.1, 0.0),
        (1.0, 123.456, -0.0, 1.0),
        (1.0, 0.1, 0.2, 0.0),
        (1.0, None, 1.0, 1.0),  # null row must be excluded identically
    ]
    df = spark.createDataFrame(
        rows, "x0 double, x1 double, x2 double, y double"
    )
    ref = _logreg_train_ref(df, ["x0", "x1", "x2"], "y", lr=0.7, iters=4)
    new = logreg_train(df, ["x0", "x1", "x2"], "y", lr=0.7, iters=4)
    assert ref == new  # exact float equality, not approx


def test_logreg_sqltext_score_matches_column_api(spark):
    from torcharrow_spark.operators.classifier import logreg_score
    from torcharrow_spark.operators.relevance import _round6

    df = spark.createDataFrame(
        [(1.0, 0.5), (1.0, -3.25), (1.0, 1e300), (1.0, None)],
        "x0 double, x1 double",
    )
    w = [0.1, -0.6999999999999998]
    old = df.withColumn(
        "score",
        _round6(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(["x0", "x1"], w)))
        ),
    )
    new = logreg_score(df, ["x0", "x1"], w)
    assert old.schema.json() == new.schema.json()
    assert old.collect() == new.collect()
    # non-finite weights ride as CAST('NaN'/'Infinity' AS DOUBLE)
    # literals and still match the Column-API construction
    for wbad in ([float("inf"), 0.0], [0.5, float("-inf")],
                 [float("nan"), 1.0]):
        a = df.withColumn(
            "score",
            _round6(
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-_margin(["x0", "x1"], wbad)))
            ),
        )
        b = logreg_score(df, ["x0", "x1"], wbad)
        assert a.schema.json() == b.schema.json()
        assert repr(a.collect()) == repr(b.collect()), wbad

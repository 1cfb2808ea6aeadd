"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

Everything is a narrow projection over built-in string/regex functions —
no shuffle at all, so these scale linearly with input bytes and pipeline
with any downstream op. All formulas are SQL-reproducible for the oracle.
Each op family exposes an expression-builder (`_*_exprs`) so `text_stats`
can fuse all of them into ONE projection over one scan instead of joining
per-op frames (which would shuffle the corpus per op).
"""

from __future__ import annotations

import typing as _ty
from functools import reduce

from pyspark.sql import DataFrame as SDF
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and oracle-reproducible; for real corpora users
# supply their own lists.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "fr": ["le", "la", "et", "de", "un", "une", "est", "en"],
    "es": ["el", "la", "y", "de", "un", "una", "es", "en"],
    "de": ["der", "die", "das", "und", "von", "ein", "ist", "in"],
    "zh": ["de", "shi", "le", "zai", "he", "you", "wo", "ta"],
}


def _words(col):
    return F.split(F.regexp_replace(F.trim(F.lower(col)), r"\s+", " "), " ")


# --- SQL-text fragment generators (r13, guide §5.4) -------------------
#
# Every builder below constructs its expression tree as ONE generated
# SQL string handed to a single F.expr call, instead of composing it
# from dozens of Column-API calls. The trees are the SAME (literal
# types pinned: bare fractional literals parse as DECIMAL in Spark SQL,
# so every float literal carries the D suffix to stay a double exactly
# like F.lit(<python float>)); what changes is the DRIVER cost of
# building them — each Column operator is a py4j round trip (~1-4 ms
# on this host) and these families spent 120-310 ms per construction,
# timed inside every bench run and paid again for every query that
# composes them (q24/q45/q128 and the q129/q145/q158/q166 pipelines).
# Equality with the replaced Column-API forms is pinned test-side by
# tests/test_textstats_sqltext.py, which keeps the old constructions
# verbatim as references (schema + rows on adversarial inputs).


def _qid(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _words_sqltext(text_sql: str) -> str:
    return f"split(regexp_replace(trim(lower({text_sql})), '\\\\s+', ' '), ' ')"


def _round4_sqltext(x: str) -> str:
    """floor(x*1e4 + 0.5)/1e4 — engine-independent half-up rounding (the
    builtin round() of different engines disagrees on double half-way
    representations)."""
    return f"(floor(({x}) * 10000.0D + 0.5D) / 10000.0D)"


def _sw_array_sqltext(lang: str) -> str:
    return "array(" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + ")"


def _numlit_sqltext(v) -> str:
    """SQL literal matching F.lit(<python value>) exactly: floats carry
    the D suffix (a bare fractional literal parses as DECIMAL), ints
    stay bare. repr() is shortest-roundtrip, so the parsed double is
    bit-identical to the Python float."""
    return f"{v!r}D" if isinstance(v, float) else repr(v)


def _ngrams_sqltext(words_sql: str, n: int) -> str:
    """Space-joined token n-grams as a zip_with chain over n shifted
    slices. CRITICAL shape: ``words_sql`` appears only as an HOF *input*
    (each slice evaluates it once per row); the earlier
    transform-over-indices form referenced the words INSIDE its lambda,
    and an outer computed expression in an interpreted lambda re-evaluates
    per element — O(len²) splits per document, measured 120x slower on
    the quality gate once the projection was actually materialized
    (count() benchmarks prune projections and had hidden it)."""
    cnt = f"greatest(size({words_sql}) - {n - 1}, 0)"
    acc = f"slice({words_sql}, 1, {cnt})"
    for j in range(1, n):
        acc = (
            f"zip_with({acc}, slice({words_sql}, {j + 1}, {cnt}), "
            "(a, b) -> concat(a, ' ', b))"
        )
    return acc


def _dup_frac_sqltext(arr_sql: str) -> str:
    """1 - distinct/total elements of an array, 0.0 when it is empty."""
    return (
        f"CASE WHEN size({arr_sql}) > 0 THEN 1.0D - "
        f"cast(size(array_distinct({arr_sql})) as double) / "
        f"cast(size({arr_sql}) as double) ELSE 0.0D END"
    )


def _token_count_exprs(text_col: str, words_sql: str | None = None) -> _ty.List[F.Column]:
    """Whitespace tokens + a BPE-ish subword estimate: words plus one
    extra unit per 4 chars beyond the first 4 of each word (a stand-in
    for byte-pair merges; deterministic, no tokenizer asset needed).

    ``words_sql``: SQL fragment for a MATERIALIZED array column (see
    ``_with_words``) — an inline split is re-planned into every
    consuming expression."""
    text = _qid(text_col)
    w = words_sql if words_sql is not None else _words_sqltext(text)
    return [
        F.expr(f"cast(size({w}) as bigint) AS n_tokens"),
        F.expr(
            f"aggregate({w}, cast(0 as bigint), (acc, w) -> acc + "
            "greatest(floor((length(w) + 3) / 4), cast(1 as bigint)))"
            " AS n_bpe_tokens"
        ),
        F.expr(f"cast(length({text}) as bigint) AS n_chars"),
    ]


def _quality_exprs(text_col: str, words_sql: str | None = None) -> _ty.List[F.Column]:
    """Heuristic document quality in [0,1]: mean word length sanity,
    punctuation density, stopword (English) hit rate, length band."""
    text = _qid(text_col)
    w = words_sql if words_sql is not None else _words_sqltext(text)
    nw = f"cast(size({w}) as double)"
    nc = f"cast(length({text}) as double)"
    mean_wlen = f"CASE WHEN {nw} > 0 THEN {nc} / {nw} ELSE 0.0D END"
    npunct = f"cast(length(regexp_replace({text}, '[^.,;:!?]', '')) as double)"
    punct_ratio = f"CASE WHEN {nc} > 0 THEN {npunct} / {nc} ELSE 0.0D END"
    nstop = (
        f"cast(size(filter({w}, w -> array_contains("
        f"{_sw_array_sqltext('en')}, w))) as double)"
    )
    stop_ratio = f"CASE WHEN {nw} > 0 THEN {nstop} / {nw} ELSE 0.0D END"
    len_ok = f"CASE WHEN {nw} >= 5 AND {nw} <= 100000 THEN 1.0D ELSE 0.0D END"
    wlen_ok = (
        f"CASE WHEN ({mean_wlen}) >= 2.0D AND ({mean_wlen}) <= 12.0D "
        "THEN 1.0D ELSE 0.0D END"
    )
    punct_ok = f"CASE WHEN ({punct_ratio}) <= 0.2D THEN 1.0D ELSE 0.0D END"
    score = (
        f"0.3D * ({len_ok}) + 0.2D * ({wlen_ok}) + 0.2D * ({punct_ok})"
        f" + 0.3D * least(({stop_ratio}) * 4, 1.0D)"
    )
    return [
        F.expr(f"{_round4_sqltext(mean_wlen)} AS mean_word_len"),
        F.expr(f"{_round4_sqltext(punct_ratio)} AS punct_ratio"),
        F.expr(f"{_round4_sqltext(stop_ratio)} AS stopword_ratio"),
        F.expr(f"{_round4_sqltext(score)} AS quality"),
    ]


def _language_exprs(text_col: str, words_sql: str | None = None) -> _ty.List[F.Column]:
    """Stopword-vote language ID: the language whose stopword list hits
    the most tokens wins (ties broken by language code order)."""
    text = _qid(text_col)
    w = words_sql if words_sql is not None else _words_sqltext(text)
    hits = {
        lang: (
            f"cast(size(filter({w}, w -> array_contains("
            f"{_sw_array_sqltext(lang)}, w))) as bigint)"
        )
        for lang in sorted(STOPWORDS)
    }
    mx = "greatest(" + ", ".join(hits[lang] for lang in sorted(STOPWORDS)) + ")"
    # first alphabetical language reaching the max wins — the same CASE
    # ladder is expressible verbatim in any SQL oracle
    pred = "cast(null as string)"
    for lang in sorted(STOPWORDS, reverse=True):
        pred = f"CASE WHEN ({hits[lang]}) = ({mx}) THEN '{lang}' ELSE {pred} END"
    return [
        F.expr(f"{pred} AS pred_lang"),
        F.expr(f"{mx} AS stopword_hits"),
    ]


def _with_words(
    df: SDF, text_col: str, id_col: str, keep_cols: _ty.Sequence[str] = ()
) -> SDF:
    """Materialize the token array ONCE per row (own projection). Spark
    does not collapse a non-cheap multiply-referenced alias into its
    consumers, so downstream signal expressions read the array instead
    of each re-running split(regexp_replace(...)) — the same rule as
    dedup._shingles (measured 6.5x there, ~2x across the fused stats
    here).

    When the spread FIRED, the result is wrapped in a
    ``pushdown_barrier`` (r13): a caller's ``.where(keep)`` over the
    fused stats otherwise sinks below the spread exchange into the
    narrow scan and the whole signal battery runs in ONE task
    (measured 5.4x on the q129 gate; see pushdown_barrier's doc). On
    healthy layouts the spread is a no-op and no barrier is added, so
    organic-scale plans — and their scan-level predicate pushdown —
    are untouched."""
    from torcharrow_spark.operators.preprocess import (
        pushdown_barrier,
        spread_narrow_source,
    )

    src = spread_narrow_source(df)
    out = src.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.col(text_col),
        _words(F.col(text_col)).alias("__w__"),
    )
    return pushdown_barrier(out) if src is not df else out


def token_count(df: SDF, text_col: str = "text", id_col: str = "doc_id") -> SDF:
    base = _with_words(df, text_col, id_col)
    return base.select(
        F.col(id_col), *_token_count_exprs(text_col, words_sql="__w__")
    )


def quality_score(df: SDF, text_col: str = "text", id_col: str = "doc_id") -> SDF:
    base = _with_words(df, text_col, id_col)
    return base.select(
        F.col(id_col), *_quality_exprs(text_col, words_sql="__w__")
    )


def language_id(df: SDF, text_col: str = "text", id_col: str = "doc_id") -> SDF:
    base = _with_words(df, text_col, id_col)
    return base.select(
        F.col(id_col), *_language_exprs(text_col, words_sql="__w__")
    )


def doc_fingerprint(df: SDF, text_col: str = "text", id_col: str = "doc_id") -> SDF:
    """Content fingerprint: 48-bit hash of normalized text + a coarser
    'shape' fingerprint (word-count band × leading words) for clustering
    boilerplate."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    h = F.conv(F.substring(F.md5(norm), 1, 12), 16, 10).cast("long")
    words = F.split(norm, " ")
    shape = F.md5(
        F.concat(
            (F.size(words) / F.lit(10)).cast("long").cast("string"),
            F.lit("|"),
            F.array_join(F.slice(words, 1, 4), " "),
        )
    )
    return df.select(
        F.col(id_col),
        h.alias("fingerprint"),
        shape.alias("shape_fingerprint"),
    )


def repetition_stats(
    df: SDF, text_col: str = "text", id_col: str = "doc_id"
) -> SDF:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", Table A1 — the repetition family of
    quality filters, re-expressed over whitespace tokens):

    - ``dup_word_frac``   1 - distinct/total tokens (zero-shuffle HOF)
    - ``top2_frac``/``top3_frac``  fraction of tokens covered by the most
      frequent 2-/3-gram, ``min(1, max_count * n / n_tokens)``
    - ``dup5_frac``       fraction of 5-grams that are repeats,
      1 - distinct/total (zero-shuffle HOF)
    - ``is_repetitive``   any signal above its threshold

    Every value is a ratio of exact integer counts (single IEEE division,
    no rounding needed for engine parity).

    Scale: the top-n-gram counts need a per-(doc, gram) reduce, done with
    ONE tagged explode for both n — two hash exchanges on (doc_id, gram)
    then doc_id, map-side combined — joined back to the zero-shuffle
    per-doc projection.  Nothing is quadratic; gram cardinality per doc
    is bounded by doc length.
    """
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
        F.expr(f"{_dup_frac_sqltext(_ngrams_sqltext('__w__', 5))} AS dup5_frac"),
        F.expr(f"{_ngrams_sqltext('__w__', 2)} AS g2"),
        F.expr(f"{_ngrams_sqltext('__w__', 3)} AS g3"),
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


def text_stats(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: _ty.Sequence[str] = (),
) -> SDF:
    """One-pass combined stats: a SINGLE projection over one scan —
    joining the three per-op frames on doc_id would shuffle the corpus
    twice for columns that are all computable side by side in the same
    codegen stage.

    ``keep_cols``: passthrough columns carried in the same projection,
    placed right after ``id_col``. A caller that needs a source column
    next to the stats (q45's per-language budget needs ``lang``) would
    otherwise have to JOIN the stats frame back to its own input on
    ``id_col`` — one whole extra shuffle plus a re-execution of the
    input plan for columns that ride along for free (r13, guide §2.2
    "shuffle fewer bytes" / §5.1: measured 1.29 -> 0.75 s on q45)."""
    base = _with_words(df, text_col, id_col, keep_cols=keep_cols)
    return base.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *_token_count_exprs(text_col, words_sql="__w__"),
        *_quality_exprs(text_col, words_sql="__w__"),
        *_language_exprs(text_col, words_sql="__w__"),
    )


# (name, regex, replacement) — applied in order; URL first so its digits
# and @s can't be half-matched by the later patterns.  The regex subset
# used here (char classes, bounded repeats, \b ASCII word boundaries)
# behaves identically under Java regex (Spark) and RE2 (DuckDB/Go).
PII_PATTERNS: _ty.List[_ty.Tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b[0-9]{2,3}[- .][0-9]{3}[- .][0-9]{3,4}[- .][0-9]{4}\b", "<PHONE>"),
    ("long_id", r"\b[0-9]{9,}\b", "<ID>"),
]


def redact_pii(
    df: SDF,
    text_col: str = "text",
    patterns: _ty.Sequence[_ty.Tuple[str, str, str]] | None = None,
    counts: bool = True,
) -> SDF:
    """Scrub URL / email / phone / long-number spans from a text column
    (the privacy pass every training-data pipeline runs before tokenizing).

    Chained ``regexp_replace`` — a single zero-shuffle JVM projection,
    whole-stage-codegen'd, linear in bytes at any scale.  With
    ``counts=True`` each pattern also emits an ``n_{name}`` column
    (``regexp_count`` BEFORE redaction) so downstream filters can drop
    documents that are mostly PII.
    """
    pats = list(patterns if patterns is not None else PII_PATTERNS)
    out_cols = [c for c in df.columns if c != text_col]
    text = F.col(text_col)
    if counts:
        out_cols += [
            F.regexp_count(text, F.lit(regex)).cast("long").alias(f"n_{name}")
            for name, regex, _ in pats
        ]
    red = text
    for _name, regex, repl in pats:
        red = F.regexp_replace(red, regex, repl)
    return df.select(*out_cols, red.alias(text_col))


def chunk_documents(
    df: SDF,
    chunk_size: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> SDF:
    """Split each document into fixed-size token windows with
    ``overlap`` tokens shared between consecutive chunks — the context-
    window packing step before tokenization in a training pipeline.

    Chunk k covers tokens [k*stride, k*stride + chunk_size) with
    stride = chunk_size - overlap; the last chunk may be shorter, and an
    empty/short document still yields one chunk.  Pure Spark HOFs
    (split -> explode(sequence) -> slice -> array_join): one narrow
    explode whose fan-out is ceil(n_tokens/stride) per doc — output
    rows are proportional to corpus tokens, never quadratic, and no
    shuffle is introduced at all."""
    if chunk_size <= 0 or overlap < 0 or overlap >= chunk_size:
        raise ValueError("need chunk_size > 0 and 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    words = F.split(
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " "
    )
    n = F.size(words)
    # integer ceil((n - overlap) / stride), at least one chunk
    n_chunks = F.greatest(
        F.lit(1), F.expr(f"(size({'__w__'}) - {overlap} + {stride - 1}) div {stride}")
    )
    out_cols = [c for c in df.columns if c not in (text_col,)]
    chunk_tokens = F.slice(F.col("__w__"), F.col("__k__") * stride + 1, chunk_size)
    from torcharrow_spark.operators.preprocess import spread_narrow_source

    return (
        spread_narrow_source(df).withColumn("__w__", words)
        .withColumn("__k__", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            *out_cols,
            F.col("__k__").cast("int").alias("chunk_id"),
            F.array_join(chunk_tokens, " ").alias(text_col),
            F.size(chunk_tokens).cast("long").alias("n_tokens"),
        )
    )


def dedup_lines(
    df: SDF,
    max_copies: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> SDF:
    """C4/CCNet-style boilerplate removal: drop every LINE that occurs
    more than ``max_copies`` times across the whole corpus
    (navigation chrome, cookie banners, license headers), keeping the
    remaining lines of each document in their original order.

    Plan: posexplode lines (narrow) -> global line-frequency count
    grouped on the two 60-bit md5 halves of the line, so only 16 bytes
    of key ride the shuffle, never the line text (the exact-dedup
    device) -> join the counts back on the halves -> reassemble with
    array_sort(collect_list(struct(pos, line))).  Three linear
    shuffles on uniformly-distributed keys; no step is quadratic and
    no line text is ever a shuffle key.  A fully-boilerplate document
    survives as an empty string (filter on length afterwards if
    unwanted)."""
    if max_copies < 1:
        raise ValueError("max_copies must be >= 1")
    from torcharrow_spark.operators.preprocess import spread_narrow_source

    lines = spread_narrow_source(df).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos__", "__line__"),
    )
    h = F.md5(F.col("__line__"))
    hashed = lines.select(
        "*",
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("__h1__"),
        F.conv(F.substring(h, 16, 15), 16, 10).cast("long").alias("__h2__"),
    )
    counts = hashed.groupBy("__h1__", "__h2__").agg(
        F.count(F.lit(1)).alias("__cnt__")
    )
    kept = (
        hashed.join(counts, ["__h1__", "__h2__"], "inner")
        .where(F.col("__cnt__") <= max_copies)
        .select(id_col, "__pos__", "__line__")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos__", "__line__"))),
                lambda s: s["__line__"],
            ),
            sep,
        ).alias(text_col)
    )
    # documents whose every line was boilerplate come back as ''
    ids = df.select(id_col).distinct()
    return ids.join(rebuilt, id_col, "left").select(
        id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )


def gopher_filter(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_wlen: float = 3.0,
    max_mean_wlen: float = 10.0,
    min_alpha_frac: float = 0.8,
    max_symbol_ratio: float = 0.1,
    min_stopword_hits: int = 2,
    max_dup_word_frac: float = 0.3,
    max_dup5_frac: float = 0.15,
    keep_columns: bool = False,
) -> SDF:
    """Gopher-style composite quality GATE (Rae et al. 2021 Table A1,
    public rule family): every rule is evaluated per document and the
    verdict is ``(id, keep, reason)`` with ``reason`` the FIRST failing
    rule in a fixed order (null when kept) — the curation decision plus
    its audit trail in one pass.

    Rule order: too_few_words, too_many_words, bad_mean_word_len,
    low_alpha_frac, high_symbol_ratio, too_few_stopwords (English),
    repetitive_words (1 - distinct/total), repetitive_5grams.

    Scale design: zero-shuffle narrow projections — every signal,
    including both repetition fractions, is a higher-order array
    function over the doc's MATERIALIZED token array (no explode, no
    aggregate, no join; see ``_with_words`` for why the array is bound
    once instead of splitting inline per signal). Filtering 100 TB
    costs exactly one scan; the same CASE ladder is expressible
    verbatim in any SQL engine.

    ``keep_columns=True`` returns ALL original columns + keep/reason
    instead of the (id, keep, reason) verdict — the streaming shape:
    a stream can't semi-join its own verdict back (stream-stream self
    join), so gate-at-ingest pipelines filter on ``keep`` directly."""
    orig_cols = None
    if keep_columns:
        # same materialize-words-in-own-projection rule as _with_words,
        # but carrying every original column through
        orig_cols = df.columns
        df = df.select("*", _words(F.col(text_col)).alias("__w__"))
    else:
        df = _with_words(df, text_col, id_col)
    # r13 (guide §5.4): the whole signal block + CASE ladder is built as
    # ONE generated SQL string per output column — the Column-API form
    # cost ~60 py4j round trips (~200+ ms) per construction, paid by
    # q128 and again inside every curation pipeline that composes the
    # gate (q129/q145/q158/q166). Same tree, same literals (D-suffixed
    # doubles); equality pinned by tests/test_textstats_sqltext.py.
    text = _qid(text_col)
    w = "__w__"
    _d = _numlit_sqltext
    nw = f"cast(size({w}) as bigint)"
    nwd = f"cast({nw} as double)"
    nc = f"cast(length({text}) as double)"
    mwl = f"CASE WHEN {nw} > 0 THEN {nc} / {nwd} ELSE 0.0D END"
    alpha_frac = (
        f"CASE WHEN {nw} > 0 THEN "
        f"cast(size(filter({w}, w -> w RLIKE '[a-z]')) as double) / {nwd} "
        "ELSE 0.0D END"
    )
    n_sym = (
        f"cast(length(regexp_replace({text}, '[^#]', '')) as double)"
        f" + 3.0D * cast(size(split({text}, '\\\\.\\\\.\\\\.', -1)) as double)"
        " - 3.0D"
    )
    symbol_ratio = f"CASE WHEN {nw} > 0 THEN ({n_sym}) / {nwd} ELSE 0.0D END"
    stop_hits = (
        f"cast(size(filter({w}, w -> array_contains("
        f"{_sw_array_sqltext('en')}, w))) as bigint)"
    )
    dup_word = (
        f"CASE WHEN {nw} > 0 THEN 1.0D - "
        f"cast(size(array_distinct({w})) as double) / {nwd} ELSE 0.0D END"
    )
    dup5 = _dup_frac_sqltext(_ngrams_sqltext(w, 5))
    reason = (
        # NULL text must fail the gate explicitly: every metric below
        # evaluates to NULL on NULL input, so without this leading rule
        # the CASE ladder falls through and keep = reason IS NULL would
        # silently RETAIN unreadable documents (advisor finding, r3).
        "CASE "
        f"WHEN {text} IS NULL THEN 'null_text' "
        f"WHEN {nw} < {_d(min_words)} THEN 'too_few_words' "
        f"WHEN {nw} > {_d(max_words)} THEN 'too_many_words' "
        f"WHEN ({mwl}) < {_d(min_mean_wlen)} OR ({mwl}) > {_d(max_mean_wlen)}"
        " THEN 'bad_mean_word_len' "
        f"WHEN ({alpha_frac}) < {_d(min_alpha_frac)} THEN 'low_alpha_frac' "
        f"WHEN ({symbol_ratio}) > {_d(max_symbol_ratio)}"
        " THEN 'high_symbol_ratio' "
        f"WHEN {stop_hits} < {_d(min_stopword_hits)} THEN 'too_few_stopwords' "
        f"WHEN ({dup_word}) > {_d(max_dup_word_frac)} THEN 'repetitive_words' "
        f"WHEN ({dup5}) > {_d(max_dup5_frac)} THEN 'repetitive_5grams' "
        "END"
    )
    if keep_columns:
        return df.select(
            *orig_cols,
            F.expr(f"({reason}) IS NULL AS keep"),
            F.expr(f"{reason} AS reason"),
        )
    return df.select(
        F.col(id_col),
        F.expr(f"({reason}) IS NULL AS keep"),
        F.expr(f"{reason} AS reason"),
    )


#: default tracking parameters stripped by `normalize_url` — only the
#: UNAMBIGUOUS ad/analytics trackers. `ref` is deliberately absent (r5
#: advisor): it is a functional parameter on many sites (?ref=branch),
#: and stripping it under keep-min-id dedup silently drops distinct
#: pages. Entries are regex alternatives matched case-INsensitively.
DEFAULT_URL_TRACKERS = ("utm_[A-Za-z0-9_]+", "fbclid", "gclid", "msclkid")


def normalize_url(col, trackers=DEFAULT_URL_TRACKERS) -> F.Column:
    """Canonical URL form for dedup/grouping (the CommonCrawl-pipeline
    convention): scheme stripped, leading ``www.`` stripped, HOST
    lowercased (paths are case-sensitive and preserved), ``#fragment``
    dropped, tracking parameters removed (``trackers`` regex
    alternatives, case-insensitive — default `DEFAULT_URL_TRACKERS`;
    pass your own tuple to widen/narrow), empty ``?``/dangling ``&``
    cleaned, one trailing ``/`` stripped. A pure chained-regexp
    projection (zero-shuffle, whole-stage codegen, RE2-compatible
    patterns) whose exact chain any SQL engine replays — two crawls of
    the same page through different trackers canonicalize to one key.

    Deliberately NOT full RFC 3986 normalization (percent-decoding /
    port elision / path dot-segments): those need a URL parser; this is
    the high-yield 99% that a regexp chain gets exactly."""
    c = F.col(col) if isinstance(col, str) else col
    # www. stripped case-INsensitively (the regex runs before the
    # lowercasing, so a literal www\. would miss WWW. hosts); shares
    # _HOST_RX with url_host, which additionally strips userinfo/port
    host = F.lower(F.regexp_extract(c, _HOST_RX, 1))
    rest = F.regexp_extract(c, r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*([^#]*)", 1)
    u = F.concat(host, rest)
    # tracking params, preserving the delimiter of the FOLLOWING param
    # ("?utm=x&id=5" -> "?id=5", "a=1&ref=z&b=2" -> "a=1&b=2"). One
    # regex pass can't match two ADJACENT tracking params (the second's
    # delimiter was consumed), so the replace is applied three times —
    # runs of up to three adjacent trackers (the realistic ceiling)
    # canonicalize fully, and the chain is deterministic either way.
    track = r"(?i)([?&])(?:" + "|".join(trackers) + r")=[^&#]*&?"
    for _ in range(3):
        u = F.regexp_replace(u, track, r"$1")
    u = F.regexp_replace(u, r"\?&", "?")         # "?&id=5" -> "?id=5"
    u = F.regexp_replace(u, r"[?&]+$", "")       # dangling ? or &
    u = F.regexp_replace(u, r"/$", "")           # one trailing slash
    return u


def url_dedup_ids(df: SDF, url_col: str = "url", id_col: str = "doc_id") -> SDF:
    """One surviving id per canonical URL (keep min id) — URL-keyed
    exact dedup, the cheapest dedup pass a web corpus runs before any
    content hashing. Returns ``(id, canonical_url)`` for survivors.
    Rows with a NULL url PASS THROUGH untouched (canonical_url NULL,
    every id kept) — keying them together would silently collapse all
    url-less documents into one survivor. One hash shuffle on the
    canonical string; at 100 TB swap the key for its md5 halves like
    `dedup.exact_dedup_ids` if URLs are long."""
    canon = normalize_url(F.col(url_col))
    keyed = df.select(F.col(id_col), canon.alias("canonical_url"))
    deduped = (
        keyed.where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "canonical_url")
    )
    return deduped.unionByName(
        keyed.where(F.col("canonical_url").isNull()).select(
            id_col, "canonical_url"
        )
    )


#: authority-extraction regex shared by `normalize_url` (which keeps
#: userinfo/port — they are part of the canonical URL) and `url_host`
#: (which strips them — they must not bypass a domain gate)
_HOST_RX = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[wW][wW][wW]\.)?([^/?#]*)"

#: raw authority (userinfo/www./port intact) — url_host strips those
#: itself, in bypass-safe order: userinfo FIRST, then www., then port
_AUTHORITY_RX = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*)"


def url_host(col) -> F.Column:
    """Lowercased registrable host of a URL: scheme, userinfo
    (``user@``), one leading ``www.``, and ``:port`` all stripped — the
    GATING key for domain-level curation decisions. Stricter than
    `normalize_url`'s host handling on purpose: a canonical URL keeps
    ``user@`` / ``:8080`` (they address different resources), but a
    blocklist or per-domain report keyed on them would be trivially
    bypassed by ``https://spam.com:443/``. The strip ORDER is part of
    the contract: userinfo comes off before the ``www.`` prefix, so
    ``https://user@www.spam.com/x`` gates as ``spam.com`` — stripping
    ``www.`` first would leave ``www.spam.com`` and re-open the exact
    userinfo bypass this function exists to close. Pure regexp
    projection, SQL-replayable."""
    c = F.col(col) if isinstance(col, str) else col
    host = F.lower(F.regexp_extract(c, _AUTHORITY_RX, 1))
    host = F.regexp_replace(host, r"^[^@]*@", "")
    host = F.regexp_replace(host, r"^www\.", "")
    return F.regexp_replace(host, r":\d*$", "")


def filter_domains(
    df: SDF, domains: _ty.Sequence[str], url_col: str = "url",
    mode: str = "block",
) -> SDF:
    """Gate a corpus by domain list: ``mode='block'`` drops rows whose
    URL host is listed (the blocklist pass every web pipeline runs
    first), ``mode='allow'`` keeps only listed hosts.

    A list entry covers the domain AND its subdomains (the standard
    web-blocklist contract): ``spam.com`` gates ``spam.com``,
    ``a.spam.com``, and ``a.b.spam.com`` — exact-host matching would be
    trivially bypassed by prefixing a throwaway label. The list ships
    as BROADCAST single-column frames and the gate stays pure
    broadcast-HASH equi-joins (never a nested-loop ``endswith``
    condition): entries are grouped by label count k, the host's last-k
    labels form the join key for each k, and one broadcast LEFT join
    per k (at most ~5 distinct k in real lists) marks matches — the
    corpus side is shuffle-free at any scale and each row joins at most
    one list row per k, so no duplicate survivors. Real blocklists run
    to 10^5-10^6 domains, far past `isin` literal limits."""
    if mode not in ("block", "allow"):
        raise ValueError(f"unknown mode: {mode!r}")
    spark = df.sparkSession
    # normalize list entries the same way url_host normalizes the URL
    # side (lowercase, one leading www. stripped) — a list written as
    # 'WWW.Spam.com' must still gate 'https://spam.com/x'
    norm = sorted({d.lower().removeprefix("www.") for d in domains})
    by_k: _ty.Dict[int, _ty.List[str]] = {}
    for d in norm:
        by_k.setdefault(d.count(".") + 1, []).append(d)
    host = url_host(url_col)
    labels = F.split(host, r"\.")
    cur = df
    marks = []
    for k in sorted(by_k):
        doms = spark.createDataFrame(
            [(d,) for d in by_k[k]], f"__dom{k}__ string"
        )
        # last-k labels of the host; NULL (never matches) when the
        # host has fewer labels than the entry
        key = F.when(
            F.size(labels) >= k,
            F.array_join(F.slice(labels, F.size(labels) - k + 1, k), "."),
        )
        cur = cur.join(F.broadcast(doms), key == F.col(f"__dom{k}__"), "left")
        marks.append(F.col(f"__dom{k}__").isNotNull())
    matched = reduce(lambda a, b: a | b, marks) if marks else F.lit(False)
    keep = ~matched if mode == "block" else matched
    return cur.where(keep).select(*df.columns)


def domain_stats(
    df: SDF,
    url_col: str = "url",
    text_col: _ty.Optional[str] = None,
    lang_col: _ty.Optional[str] = None,
) -> SDF:
    """Per-domain corpus report — the table a curation team reads
    before writing domain rules: ``(domain, n_docs[, total_chars,
    mean_chars][, n_langs])``. One hash shuffle keyed on the host
    (domains are the natural unit of web skew; a hot domain is ONE
    group row here, which is exactly the signal that it needs a rule).
    ``mean_chars`` divides an exact integer sum, so the report is
    bit-identical under any partitioning."""
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if text_col is not None:
        total = F.sum(F.length(F.col(text_col)).cast("long"))
        aggs.append(total.alias("total_chars"))
        aggs.append(
            (total.cast("double") / F.count(F.lit(1))).alias("mean_chars")
        )
    if lang_col is not None:
        aggs.append(F.countDistinct(F.col(lang_col)).alias("n_langs"))
    return (
        df.select(url_host(url_col).alias("domain"), *df.columns)
        .groupBy("domain")
        .agg(*aggs)
    )

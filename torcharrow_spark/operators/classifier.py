"""Distributed trainable quality classifier: logistic regression by
full-batch gradient descent over feature columns — the LEARNED
complement to the heuristic Gopher gate (`textstats.gopher_filter`).
Production corpus curation trains exactly this shape of model
("quality = P(looks like the reference corpus)") on cheap per-document
features and scores every document with it.

100 TB design (same playbook as `operators/clustering.kmeans`):
- Scoring is a per-row projection over broadcast WEIGHT LITERALS —
  zero shuffle, whole-stage codegen, no UDF.
- Each training iteration is ONE scan + one (dim+1)-column aggregate
  with map-side partial combine: every executor contributes dim
  partial sums (bytes), so shuffle volume is independent of row count.
- Gradient contributions are rounded half-up to 8 decimals per row and
  summed as exact DECIMAL(28,8): `exp` differs by 1 ulp across
  engines/libms, so the rounding pins the per-row value and the exact
  decimal sum makes the TRAINED WEIGHTS bit-identical regardless of
  partitioning, AQE decisions, or engine — the float-determinism
  policy of queries.py applied to model fitting (an unrounded float
  sum would make the model depend on reduce order).
- Weights live on the driver as dim floats (bytes, never data);
  iterations are a Python loop like Lloyd's in `kmeans`.
"""

from __future__ import annotations

import math
import typing as _ty

from pyspark.sql import DataFrame as SDF
from pyspark.sql import functions as F

__all__ = [
    "char_ngram_features",
    "language_id_score",
    "language_id_train",
    "logreg_score",
    "logreg_train",
]

# the engine-determinism rounding primitives live in ONE place
from .relevance import _round8  # noqa: E402


def _double_sqltext(x: float) -> str:
    """A double as SQL text that parses back to the identical value:
    the D-suffixed shortest round-trip repr, or a CAST of 'NaN' /
    'Infinity' / '-Infinity', which have no numeric literal."""
    if math.isfinite(x):
        return f"{x!r}D"
    name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def _margin_sqltext(
    feature_cols: _ty.Sequence[str], w: _ty.Sequence[float]
) -> str:
    """w·x as SQL text (r13): a left-associated chain, the
    same addition order an external SQL replay writes, so the double
    result is bit-identical. The sigmoid + per-feature gradient
    expressions were rebuilt through ~40 Column-API py4j round trips on
    EVERY training iteration; one generated string per aggregate is a
    fraction of that driver cost. Equality with the Column-API
    construction is pinned by
    tests/test_textstats_sqltext.py::test_logreg_sqltext_*."""
    from .textstats import _qid

    parts = [
        f"cast({_qid(c)} as double) * {_double_sqltext(float(wi))}"
        for c, wi in zip(feature_cols, w)
    ]
    return "(" + " + ".join(parts) + ")"


def _round8_sqltext(x: str) -> str:
    return f"(floor(({x}) * 100000000.0D + 0.5D) / 100000000.0D)"


def logreg_train(
    df: SDF,
    feature_cols: _ty.Sequence[str],
    label_col: str,
    lr: float = 1.0,
    iters: int = 3,
    cache: bool = True,
) -> _ty.List[float]:
    """Fit logistic-regression weights (one per feature column; include
    a constant column for the bias) by ``iters`` full-batch gradient
    steps from w = 0:

        p   = sigmoid(w·x)
        g_i = mean over rows of round8((p - y) * x_i)
        w_i <- w_i - lr * g_i

    Full-batch (not SGD) is the deliberate scale choice: one scan per
    step, a dim-sized shuffle, and a bit-deterministic fit — corpus
    quality models are small (a handful of features), so a few exact
    batch steps beat a stochastic pass that would make the model depend
    on row order. Rows with a NULL feature or label are EXCLUDED
    up front (a NULL would drop out of the decimal gradient sums while
    still inflating the mean's denominator — silently shrinking every
    gradient); an empty or fully-null training frame raises.
    Returns plain Python floats."""
    from .textstats import _qid

    cols = list(feature_cols)
    feat = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols],
        F.col(label_col).cast("double").alias("__y__"),
    ).na.drop()
    if cache:
        feat = feat.persist()
    try:
        w = [0.0] * len(cols)
        for _ in range(iters):
            err = f"(1.0D / (1.0D + exp(-{_margin_sqltext(cols, w)})) - `__y__`)"
            aggs = [
                F.expr("count(1) AS __n__"),
                *[
                    F.expr(
                        "sum(cast("
                        + _round8_sqltext(f"{err} * {_qid(c)}")
                        + f" as decimal(28,8))) AS __g{i}__"
                    )
                    for i, c in enumerate(cols)
                ],
            ]
            row = feat.agg(*aggs).collect()[0]
            n = float(row["__n__"])
            if n == 0:
                raise ValueError(
                    "logreg_train: no trainable rows (empty input, or "
                    "every row has a NULL feature/label)"
                )
            w = [
                wi - lr * (float(row[f"__g{i}__"]) / n)
                for i, wi in enumerate(w)
            ]
        return w
    finally:
        if cache:
            feat.unpersist()


def logreg_score(
    df: SDF,
    feature_cols: _ty.Sequence[str],
    weights: _ty.Sequence[float],
    out_col: str = "score",
    round6: bool = True,
) -> SDF:
    """Score every row with a trained model: adds ``out_col`` =
    sigmoid(w·x), rounded half-up to 6 decimals by default (cross-engine
    `exp` ulp policy — same as BM25 scores). Zero-shuffle projection."""
    p = f"1.0D / (1.0D + exp(-{_margin_sqltext(feature_cols, weights)}))"
    if round6:
        p = f"(floor(({p}) * 1000000.0D + 0.5D) / 1000000.0D)"
    return df.withColumn(out_col, F.expr(p))


def char_ngram_features(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: _ty.Sequence[str] = (),
    n: int = 2,
    n_buckets: int = 16,
) -> SDF:
    """fastText-style hashed character-n-gram frequency features
    (Joulin et al. 2016 "Bag of Tricks", public): the text is
    lowercased and whitespace-collapsed, its overlapping char n-grams
    are md5-hashed into ``n_buckets`` buckets, and feature ``x{k}`` is
    the round8 fraction of grams landing in bucket k, plus a constant
    ``x{n_buckets}`` bias column. ONE zero-shuffle Catalyst projection
    — the gram array, the bucket filters, and the fractions are all
    JVM higher-order functions (no UDF, no explode: a 16-bucket
    histogram is 16 `filter` passes over a per-row array, not a
    corpus-wide shuffle), and every step (md5 bucketing, round8) is
    exactly replayable in SQL. Rows shorter than ``n`` after
    normalization are dropped (no grams, undefined fractions)."""
    t = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    src = df.select(
        F.col(id_col), *[F.col(c) for c in passthrough], t.alias("__t__")
    ).where(F.length("__t__") >= n)
    grams = F.expr(
        f"transform(sequence(1, length(__t__) - {n - 1}),"
        f" i -> substring(__t__, i, {n}))"
    )
    src = src.select(id_col, *passthrough, grams.alias("__g__"))
    total = F.size("__g__").cast("double")

    def bucket(g):
        return (
            F.conv(F.substring(F.md5(g), 1, 2), 16, 10).cast("int")
            % n_buckets
        )

    def _frac(k: int) -> F.Column:
        # NB: a (g, k=k) default-arg lambda would have arity 2 and
        # PySpark would bind k to the ELEMENT INDEX — the filter must
        # close over k through this factory instead
        return _round8(
            F.size(F.filter(F.col("__g__"), lambda g: bucket(g) == k))
            .cast("double") / total
        )

    cols = [_frac(k).alias(f"x{k}") for k in range(n_buckets)]
    return src.select(
        id_col, *passthrough, *cols,
        F.lit(1.0).alias(f"x{n_buckets}"),
    )


def language_id_train(
    df: SDF,
    langs: _ty.Sequence[str],
    text_col: str = "text",
    label_col: str = "lang",
    n: int = 2,
    n_buckets: int = 256,
) -> _ty.Dict[str, _ty.Dict[str, _ty.Any]]:
    """TRAINED language identification, fit half (r10): multinomial
    Naive Bayes over md5-hashed character-n-gram
    counts — the fastText-neighborhood model (Joulin et al. 2016 use
    the same hashed char-n-gram features; NB is the classic closed-form
    fit, McCallum & Nigam 1998) a real pipeline runs as its first
    gate. The ENTIRE fit is ONE corpus scan and ONE action: grams are
    bucketed JVM-side (transform + md5, no UDF), exploded as ints with
    a per-document sentinel bucket -1 prepended (so document counts
    for the priors ride the SAME map-side-combined groupBy on
    (label, bucket)) — shuffle volume is K x (n_buckets + 1) partial
    rows per executor, independent of corpus size. The
    driver turns the integer counts into add-1-smoothed log-prob
    weights scaled to round8 INTEGERS (floor(ln(p) * 1e8 + 0.5)), so
    downstream scoring is exact int64 arithmetic any SQL engine
    replays bit-for-bit. Returns {lang: {"prior": int,
    "logp": [n_buckets ints]}}."""
    import math

    t = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    src = df.select(F.col(label_col), t.alias("__t__")).where(
        F.length("__t__") >= n
    )
    buckets = F.expr(
        f"transform(sequence(1, length(__t__) - {n - 1}),"
        f" i -> (cast(conv(substring(md5(substring(__t__, i, {n})), 1, 2),"
        f" 16, 10) AS INT) % {n_buckets}))"
    )
    inst = src.select(
        label_col,
        F.explode(F.concat(F.array(F.lit(-1)), buckets)).alias("__b__"),
    )
    all_rows = inst.groupBy(label_col, "__b__").count().collect()
    cnt_rows = [r for r in all_rows if r["__b__"] >= 0]
    n_docs = {
        r[label_col]: r["count"] for r in all_rows if r["__b__"] == -1
    }
    total_docs = sum(n_docs.values())
    if total_docs == 0:
        raise ValueError("language_id_train: no trainable rows")
    counts: _ty.Dict[str, _ty.List[int]] = {
        c: [0] * n_buckets for c in langs
    }
    for r in cnt_rows:
        if r[label_col] in counts:
            counts[r[label_col]][r["__b__"]] += r["count"]

    def _r8int(x: float) -> int:
        return int(math.floor(x * 100000000.0 + 0.5))

    model: _ty.Dict[str, _ty.Dict[str, _ty.Any]] = {}
    for c in sorted(langs):
        tot = sum(counts[c])
        logp = [
            _r8int(math.log((counts[c][b] + 1.0) / (tot + n_buckets)))
            for b in range(n_buckets)
        ]
        nc = n_docs.get(c, 0)
        if nc == 0:
            raise ValueError(f"language_id_train: no rows labeled {c!r}")
        model[c] = {
            "prior": _r8int(math.log(nc / total_docs)),
            "logp": logp,
        }
    return model


def language_id_score(
    df: SDF,
    model: _ty.Mapping[str, _ty.Mapping[str, _ty.Any]],
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: _ty.Sequence[str] = (),
    n: int = 2,
    n_buckets: int = 256,
) -> SDF:
    """Score half of the trained language ID: per-language int64
    log-likelihood (prior + sum of per-gram-instance bucket weights,
    an exact integer fold over the gram array — `aggregate` HOF, no
    UDF, no shuffle), argmax as the predicted language with ties
    broken by language name ascending (the fixed CASE order an
    external SQL replay writes). The weight tables ride the plan as
    array literals (K x n_buckets ints — bytes, the kmeans-centroid
    pattern), so scoring is a pure zero-shuffle projection."""
    langs = sorted(model)
    t = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    src = df.select(
        F.col(id_col), *[F.col(c) for c in passthrough], t.alias("__t__")
    ).where(F.length("__t__") >= n)
    buckets = F.expr(
        f"transform(sequence(1, length(__t__) - {n - 1}),"
        f" i -> (cast(conv(substring(md5(substring(__t__, i, {n})), 1, 2),"
        f" 16, 10) AS INT) % {n_buckets}))"
    )
    src = src.select(id_col, *passthrough, buckets.alias("__b__"))
    def _fold(c: str) -> F.Column:
        # ONE F.expr over generated SQL text, not n_buckets x
        # F.lit().cast() Column-API calls: each lit+cast is a py4j
        # round trip, ~7.5 s of driver-side Python per score
        # construction at 5 x 256 (guide §5.4; the kmeans-centroid
        # r12 pattern). Int64 literals ride as `<v>L` — integers
        # render exactly, so the parsed tree computes the identical
        # int64 fold (pinned by
        # test_language_id_fold_sql_expr_matches_column_api).
        arr = "array(" + ",".join(f"{int(v)}L" for v in model[c]["logp"]) + ")"
        return F.expr(
            f"aggregate(`__b__`, {int(model[c]['prior'])}L, "
            f"(acc, b) -> acc + element_at({arr}, b + 1))"
        )

    score_cols = [_fold(c).alias(f"s_{c}") for c in langs]
    scored = src.select(id_col, *passthrough, *score_cols)
    mx = F.greatest(*[F.col(f"s_{c}") for c in langs])
    pred = F.when(F.col(f"s_{langs[0]}") == mx, F.lit(langs[0]))
    for c in langs[1:]:
        pred = pred.when(F.col(f"s_{c}") == mx, F.lit(c))
    return scored.select(
        id_col, *passthrough, pred.alias("pred_lang"),
        *[F.col(f"s_{c}") for c in langs],
    )

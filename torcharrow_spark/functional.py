"""Domain operators (reference torcharrow/functional.py:38-596 + C++
kernels under csrc/velox/functions/rec and /text).

Dispatch contract matches the reference: any name not defined here
resolves against the engine's scalar-function registry at call time
(reference velox_rt/functional.py:22-68 resolves through the Velox
registry; our registry is ``pyspark.sql.functions`` + Spark SQL builtins,
a near-superset of Presto's — SURVEY §2.8).

Every op lowers to JVM-side expressions; no Python UDFs in this module.
"""

from __future__ import annotations

import typing as _ty

from pyspark.sql import Column as SC
from pyspark.sql import functions as F

from . import dtypes as dt
from .columns import Column

__all__ = [
    "bucketize",
    "sigrid_hash",
    "firstx",
    "clamp_list",
    "has_id_overlap",
    "id_overlap_count",
    "get_max_count",
    "get_jaccard_similarity",
    "get_cosine_similarity",
    "get_score_sum",
    "get_score_min",
    "get_score_max",
    "add_tokens",
    "bpe_tokenize",
    "unigram_tokenize",
    "lookup_indices",
    "rand",
    "scale_to_0_1",
    "scale_to_z_score",
]


def _owner(*cols):
    for c in cols:
        if isinstance(c, Column) and c._owner is not None:
            return c._owner
    return None


def _wrap(resolve_fn, *src) -> Column:
    return Column(resolve_fn, owner=_owner(*src))


# ---------------------------------------------------------------------------
# rec ops


def bucketize(value: Column, borders: _ty.Sequence[float]) -> Column:
    """Dense value -> bucket index: ``sum(value >= b for b in borders)``
    (capability of reference rec/bucketize.h; scalar or per-list-element —
    list input lowers to F.transform)."""

    def bucket_expr(e: SC) -> SC:
        idx = F.lit(0)
        for b in borders:
            idx = idx + F.when(e >= F.lit(b), 1).otherwise(0)
        return idx.cast("int")

    def resolve(df):
        e, d = value._resolve(df)
        if dt.is_list(d):
            return F.transform(e, bucket_expr), dt.List(dt.int32, d.nullable)
        return bucket_expr(e), dt.int32.with_null(d.nullable)

    return _wrap(resolve, value)


_HASH128_KMUL = 0x9DDFEA08EB382D69 - (1 << 64)  # as signed two's-complement


def _twang_mix64(key: SC) -> SC:
    """Thomas Wang's 64-bit mixer (public domain; used by folly's integer
    hasher). Pure wrapping long arithmetic — Java semantics under
    spark.sql.ansi.enabled=false match C++ unsigned wraparound bit-for-bit;
    right shifts must be the UNSIGNED variant."""
    key = F.bitwise_not(key) + F.shiftleft(key, 21)
    key = key.bitwiseXOR(F.shiftrightunsigned(key, 24))
    key = key + F.shiftleft(key, 3) + F.shiftleft(key, 8)
    key = key.bitwiseXOR(F.shiftrightunsigned(key, 14))
    key = key + F.shiftleft(key, 2) + F.shiftleft(key, 4)
    key = key.bitwiseXOR(F.shiftrightunsigned(key, 28))
    return key + F.shiftleft(key, 31)


def _hash128_to_64(upper: SC, lower: SC) -> SC:
    """Murmur-inspired 128->64 bit fold (CityHash's Hash128to64, public;
    folly hash_combine's combiner)."""
    k = F.lit(_HASH128_KMUL)
    a = lower.bitwiseXOR(upper) * k
    a = a.bitwiseXOR(F.shiftrightunsigned(a, 47))
    b = upper.bitwiseXOR(a) * k
    b = b.bitwiseXOR(F.shiftrightunsigned(b, 47))
    return b * k


def sigrid_hash_expr(e: SC, salt: int, max_value: int) -> SC:
    """Exact port of the reference's sigrid_hash semantics
    (csrc/velox/functions/rec/sigrid_hash.h): hash = hash_combine(salt,
    twang_mix64(v)), result = hash mod max_value with the quotient rounded
    toward -inf (the kernel's magic-multiply division) == F.pmod.
    Validated against the reference's golden values
    (test/transformation/test_sigrid_hash.py). All JVM-side codegen."""
    if max_value <= 0:
        raise ValueError("max_value must be larger than 0")
    hashed = _hash128_to_64(F.lit(salt).cast("long"), _twang_mix64(e.cast("long")))
    return F.pmod(hashed, F.lit(max_value)).cast("long")


def sigrid_hash(value: Column, salt: int, max_value: int) -> Column:
    """Salted hash into [0, max_value), bit-exact with the reference
    (rec/sigrid_hash.h). Scalar int64 or list-of-int64 input (list lowers
    to F.transform, matching the kernel's list overload)."""

    def resolve(df):
        e, d = value._resolve(df)
        if dt.is_list(d):
            return (
                F.transform(e, lambda x: sigrid_hash_expr(x, salt, max_value)),
                dt.List(dt.int64, d.nullable),
            )
        return sigrid_hash_expr(e, salt, max_value), dt.int64.with_null(d.nullable)

    return _wrap(resolve, value)


def firstx(col: Column, x: int) -> Column:
    """First x list elements (reference functional.py:319-339)."""

    def resolve(df):
        e, d = col._resolve(df)
        return F.slice(e, 1, x), d

    return _wrap(resolve, col)


def clamp_list(col: Column, lo, hi) -> Column:
    """Clamp every list element (reference rec/clamp_list.h)."""

    def resolve(df):
        e, d = col._resolve(df)
        return F.transform(e, lambda x: F.greatest(F.lit(lo), F.least(F.lit(hi), x))), d

    return _wrap(resolve, col)


# id-list overlap scores (reference functional.py:342-438 / rec/compute_score.h)


def has_id_overlap(a: Column, b: Column) -> Column:
    def resolve(df):
        ae, ad = a._resolve(df)
        be, bd = b._resolve(df)
        return (
            F.arrays_overlap(ae, be).cast("float"),
            dt.float32.with_null(ad.nullable or bd.nullable),
        )

    return _wrap(resolve, a, b)


def id_overlap_count(a: Column, b: Column) -> Column:
    def resolve(df):
        ae, ad = a._resolve(df)
        be, bd = b._resolve(df)
        return (
            F.size(F.array_intersect(ae, be)).cast("float"),
            dt.float32.with_null(ad.nullable or bd.nullable),
        )

    return _wrap(resolve, a, b)


def get_max_count(a: Column, b: Column) -> Column:
    def resolve(df):
        ae, ad = a._resolve(df)
        be, bd = b._resolve(df)
        return (
            F.greatest(F.size(ae), F.size(be)).cast("float"),
            dt.float32.with_null(ad.nullable or bd.nullable),
        )

    return _wrap(resolve, a, b)


def get_jaccard_similarity(a: Column, b: Column) -> Column:
    def resolve(df):
        ae, ad = a._resolve(df)
        be, bd = b._resolve(df)
        inter = F.size(F.array_intersect(ae, be)).cast("double")
        union = F.size(F.array_union(ae, be)).cast("double")
        out = F.when(union > 0, inter / union).otherwise(F.lit(0.0)).cast("float")
        return out, dt.float32.with_null(ad.nullable or bd.nullable)

    return _wrap(resolve, a, b)


def _dot(ae: SC, be: SC) -> SC:
    return F.aggregate(
        F.zip_with(ae, be, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def get_cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over aligned numeric lists — pure higher-order functions,
    fully vectorized in codegen (reference rec/compute_score.h)."""

    def resolve(df):
        ae, ad = a._resolve(df)
        be, bd = b._resolve(df)
        dot = _dot(ae, be)
        na = F.sqrt(_dot(ae, ae))
        nb = F.sqrt(_dot(be, be))
        out = F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))
        return out.cast("float"), dt.float32.with_null(ad.nullable or bd.nullable)

    return _wrap(resolve, a, b)


def _score_agg(a: Column, agg_fn) -> Column:
    def resolve(df):
        ae, ad = a._resolve(df)
        return agg_fn(ae).cast("float"), dt.float32.with_null(ad.nullable)

    return _wrap(resolve, a)


def get_score_sum(a: Column) -> Column:
    return _score_agg(a, lambda e: F.aggregate(e, F.lit(0.0), lambda acc, v: acc + v.cast("double")))


def get_score_min(a: Column) -> Column:
    return _score_agg(a, F.array_min)


def get_score_max(a: Column) -> Column:
    return _score_agg(a, F.array_max)


# text ops (reference functional.py:117-208)


def add_tokens(col: Column, tokens: _ty.Sequence, begin: bool = True) -> Column:
    """Prepend/append BOS/EOS-style tokens (reference text/add_tokens.h)."""

    def resolve(df):
        e, d = col._resolve(df)
        toks = F.array(*[F.lit(t) for t in tokens])
        out = F.concat(toks, e) if begin else F.concat(e, toks)
        return out, d

    return _wrap(resolve, col)


def lookup_indices(vocab: _ty.Dict[str, int], col: Column, default: int = -1) -> Column:
    """Vocab lookup over a list<string> column (reference text/vocab.cpp):
    a Catalyst map literal + F.transform — the map ships with the plan, the
    JVM-side lookup is O(1) per token, no Python."""

    items: _ty.List = []
    for k, v in vocab.items():
        items.extend([F.lit(k), F.lit(v)])
    m = F.create_map(*items)

    def resolve(df):
        e, d = col._resolve(df)
        out = F.transform(e, lambda t: F.coalesce(F.element_at(m, t), F.lit(default)))
        return out, dt.List(dt.int32, d.nullable)

    return _wrap(resolve, col)


# scaling (reference functional.py:568-596). Frame statistics come from a
# lazy scalar subquery (DataFrame.scalar): Catalyst plans it as a separate
# partial-agg job whose 1-row result feeds the main plan as a literal —
# the data path stays embarrassingly parallel, no whole-frame window, no
# single-partition Exchange of the rows. `scaled_frame` in
# operators/preprocess.py is the multi-column agg+broadcast-join variant
# with exact-decimal determinism.


def _frame_stats_scalar(sdf, aggs: _ty.Dict[str, _ty.Any]):
    """One scalar subquery carrying all requested whole-frame aggregates
    as a struct; returns {name: scalar-subquery Column}."""
    stats = sdf.agg(*[v.alias(k) for k, v in aggs.items()])
    s = stats.select(F.struct(*aggs.keys()).alias("s")).scalar()
    return {k: s.getField(k) for k in aggs}


def scale_to_0_1(col: Column) -> Column:
    def resolve(df):
        e, d = col._resolve(df)
        st = _frame_stats_scalar(df.to_spark(), {"mn": F.min(e), "mx": F.max(e)})
        mn, mx = st["mn"], st["mx"]
        x = e.cast("double")
        out = F.when(mx > mn, (x - mn) / (mx - mn)).otherwise(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-x))
        )
        return out.cast("float"), dt.float32.with_null(d.nullable)

    return _wrap(resolve, col)


def scale_to_z_score(col: Column) -> Column:
    # biased (population) std, matching reference functional.py:582-596
    def resolve(df):
        e, d = col._resolve(df)
        st = _frame_stats_scalar(
            df.to_spark(), {"mu": F.avg(e), "sd": F.stddev_pop(e)}
        )
        mu, sd = st["mu"], st["sd"]
        out = F.when(sd > 0, (e.cast("double") - mu) / sd).otherwise(F.lit(0.0))
        return out.cast("float"), dt.float32.with_null(d.nullable)

    return _wrap(resolve, col)


# ---------------------------------------------------------------------------
# Generic registry fallthrough (reference velox_rt/functional.py:22-68):
# unknown names dispatch to pyspark.sql.functions / Spark SQL builtins.


def bpe_tokenize(tokenizer, col: Column) -> Column:
    """GPT-2-style byte-level BPE over a string column (reference
    functional.py:145-175; kernel text/gpt2_bpe_tokenizer.cpp). The
    tokenizer object (functions/bpe.BPETokenizer) rides the pandas_udf
    closure to executors once; per-batch Arrow transfer, no per-row py4j."""
    from .functions.bpe import encode_udf

    _encode = encode_udf(tokenizer)

    def resolve(df):
        e, d = col._resolve(df)
        return _encode(e), dt.List(dt.int32, True)

    return _wrap(resolve, col)


def unigram_tokenize(tokenizer, col: Column) -> Column:
    """Unigram-LM (SentencePiece-style) Viterbi subword segmentation
    over a string column (functions/unigram.py; Kudo 2018 — the
    tokenizer family T5/LLaMA-lineage pipelines run where GPT-2
    lineage runs BPE; reference capability: functional.py:145-175).
    The piece table rides the pandas_udf closure to executors once;
    per-batch Arrow transfer, no per-row py4j. Returns the piece
    strings; use functions/unigram.segment_stats_udf for the
    (n_tokens, total_cost, tokens_delim) audit projection."""
    from .functions.unigram import encode_udf

    _encode = encode_udf(tokenizer)

    def resolve(df):
        e, d = col._resolve(df)
        return _encode(e), dt.List(dt.string, True)

    return _wrap(resolve, col)


def rand(
    seed: _ty.Optional[int] = None,
    size: _ty.Optional[int] = None,
    device: str = "",
) -> Column:
    """Uniform [0,1) column (reference factory fn `rand`,
    functional.py:61-76 + velox_rt/functional.py:85). Two spellings:

    * reference-shaped: ``fn.rand(size=n)`` — a free-standing column of
      n rows (the reference REQUIRES size; device as in the factory
      dispatcher).
    * frame-expression (this engine's native form): ``fn.rand(seed)``
      with no size — an unbound expression sized by whatever frame it
      is selected into (Spark columns are never free-standing, so this
      is the composable spelling; documented deviation, README)."""
    from .sources import _check_device

    _check_device(device)
    if size is not None:
        if not isinstance(size, int) or size < 0:
            raise ValueError(f"size must be a non-negative int, got {size!r}")
        from .frame import INDEX_COL, DataFrame, _active_session

        sdf = _active_session().range(size).select(
            F.col("id").alias(INDEX_COL),
            (F.rand(seed) if seed is not None else F.rand()).alias("value"),
        )
        return DataFrame(sdf)["value"]

    def resolve(df):
        return (F.rand(seed) if seed is not None else F.rand()), dt.float64.with_null(False)

    return Column(resolve)


def _generic(name: str):
    fn = getattr(F, name, None)

    def wrapper(*args, **kwargs):
        owner = _owner(*args)

        def resolve(df):
            sargs = [
                a._resolve(df) [0] if isinstance(a, Column) else a
                for a in args
            ]
            if fn is not None:
                expr = fn(*sargs, **kwargs)
            else:
                expr = F.call_function(name, *[
                    s if isinstance(s, SC) else F.lit(s) for s in sargs
                ])
            # infer the result dtype by analyzing (not executing) a plan;
            # inside a higher-order lambda the expression references lambda
            # variables that only resolve in the enclosing transform — the
            # probe fails there, and the dtype stays opaque (the enclosing
            # accessor re-derives it from the full expression)
            if df is not None:
                try:
                    st = df._sdf.select(expr.alias("__t__")).schema[0]
                    return expr, dt.from_spark(st.dataType, st.nullable)
                except Exception:
                    pass
            return expr, dt.float64.with_null(True)

        return Column(resolve, owner=owner)

    wrapper.__name__ = name
    return wrapper


def __getattr__(name: str):
    if name.startswith("_"):
        raise AttributeError(name)
    return _generic(name)

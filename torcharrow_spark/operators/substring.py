"""Cross-document EXACT substring dedup (r12) — the suffix-array dedup
family of Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better",
ExactSubstr): find every maximal ARBITRARY-LENGTH exact substring that
a document shares with at least one OTHER document at >= k-token
granularity, and remove-or-flag it with audit columns.

How this differs from the two neighbours already in the engine:

* `dedup.duplicate_spans` (q86) is WITHIN-corpus k-window voting — it
  counts every occurrence including repeats inside one document, and
  reports fixed-k windows, never merged maximal spans;
* `cdc.py` catches chunk-level reuse at content-defined boundaries —
  granularity is the chunker's, not "any substring >= k tokens".

The classic single-node algorithm builds one suffix array over the
concatenated corpus — inherently sequential and memory-bound at
100 TB.  The distributed equivalence this module exploits instead: a
maximal cross-document duplicated region is EXACTLY a maximal run of
token positions whose k-token anchor grams each occur in >= 2 distinct
documents.  Every substring of length L >= k that appears in two
documents contributes all of its L-k+1 anchor grams to both, so the
run reconstruction loses nothing at >= k granularity — and anchor
grams are groupable by hash, which makes the whole computation
bucketed-by-construction: NO pair emission, no suffix sorting, four
linear shuffles of fixed-width rows (per-doc-distinct, per-gram doc
count, join-back — typically a broadcast — and the per-doc run
merge).

Plan shape (and why it survives 1000 executors x 100 TB):

1. fan out to (doc, pos, gram-hash) — text is hashed to two 60-bit
   md5 halves IMMEDIATELY, so 16 bytes per gram ride every exchange,
   never tokens (`plans.shuffle_payloads` discipline).  The explode
   amplifies rows before the first exchange, so the scan rides
   `cap_amplified_scan` like every shingle producer in `dedup`;
2. distinct (hash, doc) -> count docs per hash -> keep hashes with
   >= 2 distinct docs.  This is the cross-document restriction; a
   boilerplate gram repeated 10^7x collapses map-side to one row per
   (hash, doc) before the count, so hot grams cost their doc count,
   not their occurrence count;
3. join the marked hashes back to (doc, pos) rows — build side is
   fixed-width (hash, n_docs), each gram row matches at most once (no
   amplification), AQE handles residual skew;
4. per-doc run merge: consecutive shared positions collapse to one
   maximal span via the pos - row_number() grouping trick — one
   doc-keyed shuffle of (doc, pos, n_docs) rows, then arithmetic.

Hashing note: md5's 120 usable bits make a false gram collision
(~2^-60 per pair) vastly rarer than a cosmic-ray bit flip; the DuckDB
oracle for q175/q176 groups by the gram STRING itself, so the hash
ride is verified faithful end-to-end on every driver run.

Reference parity note: torcharrow (reference repo) has no substring
dedup surface at all; this is part of the beyond-reference
LLM-curation story next to MinHash/SimHash/CDC (facebookresearch/
torcharrow has no counterpart file).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SDF
from pyspark.sql import Window
from pyspark.sql import functions as F

from .dedup import _norm_text


def _anchor_grams(df: SDF, k: int, text_col: str, id_col: str) -> SDF:
    """(id, pos, __h1__, __h2__) for every k-token window, hashed
    before any exchange.  Same normalization as the whole dedup family
    (lowercase + whitespace collapse) so q86/CDC/this compose."""
    from .preprocess import cap_amplified_scan, spread_narrow_source

    df = cap_amplified_scan(df)
    df = spread_narrow_source(df)
    words = F.split(_norm_text(F.col(text_col)), " ")
    n = F.size(F.col("__w__"))
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.array_join(F.slice(F.col("__w__"), F.col("__s__") + 1, k), " ")
    hex_ = F.md5(gram)
    return (
        df.select(F.col(id_col), words.alias("__w__"))
        .select(F.col(id_col), "__w__", F.explode(idx).alias("__s__"))
        .select(
            F.col(id_col),
            F.col("__s__").alias("pos"),
            F.conv(F.substring(hex_, 1, 15), 16, 10)
            .cast("long")
            .alias("__h1__"),
            F.conv(F.substring(hex_, 16, 15), 16, 10)
            .cast("long")
            .alias("__h2__"),
        )
    )


def _strip_spans(df: SDF, spans: SDF, text_col: str, id_col: str) -> SDF:
    """The removal tail both strip operators share: a per-doc
    collect_list of (start, len) pairs (doc-keyed, spans are few and
    fixed-width), left-joined to every document's normalized tokens,
    then a zero-shuffle per-doc mask — token i survives iff no span
    covers it (two-arg filter HOF, cost O(tokens x spans_in_doc)) —
    and reassembly with the audit columns (id, text, n_tokens,
    n_removed, n_spans)."""
    from .preprocess import spread_narrow_source

    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_len").alias("l")
            )
        ).alias("__spans__")
    )
    words = F.split(_norm_text(F.col(text_col)), " ")
    base = (
        spread_narrow_source(df)
        .select(F.col(id_col), words.alias("__w__"))
        .join(per_doc, id_col, "left")
    )
    sp = F.coalesce(
        F.col("__spans__"),
        F.array().cast("array<struct<s:bigint,l:bigint>>"),
    )
    kept = F.filter(
        F.col("__w__"),
        lambda x, i: ~F.exists(
            sp, lambda s: (s["s"] <= i) & (i < s["s"] + s["l"])
        ),
    )
    return base.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        F.size("__w__").cast("long").alias("n_tokens"),
        (F.size("__w__") - F.size(kept)).cast("long").alias("n_removed"),
        F.size(sp).cast("long").alias("n_spans"),
    )


def _merge_runs(marked: SDF, id_col: str, k: int, *extra) -> SDF:
    """Per-doc run merge of marked anchor positions: consecutive
    positions collapse to one maximal span via the pos - row_number()
    grouping trick (one doc-keyed shuffle). Returns (id, span_start,
    span_len, n_grams, *extra) — ``extra`` are further aggregates."""
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = marked.withColumn(
        "__grp__", F.col("pos") - F.row_number().over(w)
    )
    return (
        runs.groupBy(id_col, "__grp__")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            *extra,
        )
        .drop("__grp__")
    )


def cross_doc_duplicate_grams(
    df: SDF, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> SDF:
    """Every k-token window whose exact (normalized) token sequence
    occurs in at least TWO DISTINCT documents.  Returns (id, ``pos``
    token index, ``n_docs`` = how many documents contain the gram).

    A window repeated a million times inside ONE document does not
    qualify — this is the cross-document family; `duplicate_spans`
    covers the within-corpus count."""
    grams = _anchor_grams(df, k, text_col, id_col)
    shared = (
        grams.select("__h1__", "__h2__", F.col(id_col))
        .distinct()
        .groupBy("__h1__", "__h2__")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    return grams.join(shared, ["__h1__", "__h2__"]).select(
        F.col(id_col), "pos", "n_docs"
    )


def cross_doc_spans(
    df: SDF, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> SDF:
    """MAXIMAL cross-document duplicated spans: merge each document's
    runs of consecutive shared anchor positions into one span per run —
    the arbitrary-length output the suffix-array family produces,
    reconstructed from fixed-k anchors.  Returns one row per span:

    * ``span_start`` — first token index of the span;
    * ``span_len``   — tokens covered (= run length + k - 1, always
      >= k; unbounded above — a fully duplicated document is ONE span);
    * ``n_grams``    — anchor windows supporting the span;
    * ``max_docs``   — the widest sharing any anchor in the span has
      (how many documents the most-copied part appears in).
    """
    marked = cross_doc_duplicate_grams(df, k, text_col, id_col)
    return _merge_runs(
        marked, id_col, k, F.max("n_docs").cast("long").alias("max_docs")
    )


def strip_cross_doc_spans(
    df: SDF, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> SDF:
    """Remove every token covered by any cross-document duplicated
    span and reassemble the remaining (normalized) tokens in order —
    ExactSubstr's removal step, with audit columns.  All occurrences
    are removed in every sharing document (the conservative variant
    Lee et al. ship; electing one canonical keeper would need a global
    occurrence tie-break).  Output: id, cleaned ``text``,
    ``n_tokens`` (original), ``n_removed``, ``n_spans``.

    Plan: `cross_doc_spans`' linear shuffles, a per-doc
    collect_list of (start, len) pairs (doc-keyed, spans are few and
    fixed-width), then a zero-shuffle per-doc mask — token i survives
    iff no span s covers it (two-arg filter HOF, cost
    O(tokens x spans_in_doc))."""
    spans = cross_doc_spans(df, k, text_col, id_col)
    return _strip_spans(df, spans, text_col, id_col)


def cross_corpus_spans(
    df: SDF,
    reference: SDF,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str | None = None,
    ref_id_col: str | None = None,
) -> SDF:
    """Maximal spans of ``df`` documents that appear VERBATIM anywhere
    in the ``reference`` corpus at >= k-token granularity — the
    exact-substring DECONTAMINATION direction of this family (strip
    benchmark/eval text from training data, Lee et al. 2022 §5 /
    GPT-3-style overlap removal, but exact and arbitrary-length where
    `contamination` is whole-document shingle-fraction scoring).

    Same anchor-gram machinery as `cross_doc_spans` with the sharing
    test swapped: a corpus anchor is marked iff its hash exists in the
    reference's DISTINCT gram-hash set (one left-semi join against
    fixed-width hashes — the reference text never rides an exchange,
    and the build side is |distinct reference grams| x 16 bytes).
    Returns (id, span_start, span_len, n_grams) for ``df`` rows only;
    reference documents are never scored."""
    grams = _anchor_grams(df, k, text_col, id_col)
    ref = (
        _anchor_grams(
            reference, k, ref_text_col or text_col, ref_id_col or id_col
        )
        .select("__h1__", "__h2__")
        .distinct()
    )
    marked = grams.join(ref, ["__h1__", "__h2__"], "left_semi")
    return _merge_runs(marked, id_col, k)


def strip_cross_corpus_spans(
    df: SDF,
    reference: SDF,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str | None = None,
    ref_id_col: str | None = None,
) -> SDF:
    """Remove every ``df`` token covered by a reference-shared span
    and reassemble (normalized) — the decontamination REMOVAL step,
    same audit contract as `strip_cross_doc_spans`: (id, text,
    n_tokens, n_removed, n_spans). Spans come from
    `cross_corpus_spans`; the reference corpus is read-only."""
    spans = cross_corpus_spans(
        df, reference, k, text_col, id_col, ref_text_col, ref_id_col
    )
    return _strip_spans(df, spans, text_col, id_col)


__all__ = [
    "cross_doc_duplicate_grams",
    "cross_doc_spans",
    "strip_cross_doc_spans",
    "cross_corpus_spans",
    "strip_cross_corpus_spans",
]

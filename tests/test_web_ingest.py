"""web_ingest stream/batch twins (streaming.web_ingest_*): stateless
chain, exactly-once sink, stream == batch bit-exactness; plus the
normalize_text passthrough plumbing the chain relies on."""

from __future__ import annotations

from pyspark.sql import functions as F


def _pages(spark, sf_dir, n=120):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(n)
    )
    page = F.concat(
        F.lit("<body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</h1><nav><a href="/">Home</a></nav><p>'),
        F.col("text"),
        F.lit(" café</p></body>"),
    )
    # corrupt half the pages with one latin-1 layer
    from torcharrow_spark.operators.textnorm import corrupt_as_latin1

    synth = F.when(F.col("doc_id") % 2 == 0, corrupt_as_latin1(page)).otherwise(page)
    return docs.select("doc_id", synth.alias("html"))


def test_normalize_text_passthrough(spark):
    from torcharrow_spark.operators.textnorm import normalize_text

    df = spark.createDataFrame(
        [(0, "x\x07y", "t0", 7), (1, None, "t1", 9)],
        "doc_id long, text string, title string, extra int",
    )
    out = {
        r.doc_id: r
        for r in normalize_text(df, passthrough=("title", "extra")).collect()
    }
    assert out[0].text == "xy" and out[0].title == "t0" and out[0].extra == 7
    assert out[1].text is None and out[1].title == "t1" and out[1].extra == 9


def test_web_ingest_batch_shape(spark, sf_dir):
    from torcharrow_spark.streaming import web_ingest_batch

    out = web_ingest_batch(_pages(spark, sf_dir))
    rows = out.collect()
    assert rows, "quality gate dropped everything"
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "title", "was_mojibake", "n_chars", "text_md5",
        "quality", "pred_lang",
    ]
    by_id = {r.doc_id: r for r in rows}
    for i, r in by_id.items():
        assert r.title == ""  # the test page has no <title> element
        assert r.was_mojibake == (i % 2 == 0)  # repair fired on corrupted half
        assert r.quality >= 0.3


def test_web_ingest_stream_matches_batch(spark, sf_dir, tmp_path):
    """Single-batch stream must be bit-identical to web_ingest_batch
    (the chain is stateless), and the overwrite-by-batch_id sink must
    be exactly-once under batch replay."""
    from torcharrow_spark.streaming import web_ingest_batch, web_ingest_stream

    pages = _pages(spark, sf_dir)
    want = {
        r.doc_id: (r.title, r.was_mojibake, r.n_chars, r.text_md5,
                   r.quality, r.pred_lang)
        for r in web_ingest_batch(pages).collect()
    }
    assert len(want) > 50

    src = str(tmp_path / "pages")
    pages.repartition(4).write.mode("overwrite").parquet(src)
    dest = str(tmp_path / "curated")
    schema = spark.read.parquet(src).schema
    q = web_ingest_stream(
        spark, src, schema, dest, str(tmp_path / "ckpt"),
        query_name="t_web_ingest",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    landed = spark.read.parquet(dest)
    got = {
        r.doc_id: (r.title, r.was_mojibake, r.n_chars, r.text_md5,
                   r.quality, r.pred_lang)
        for r in landed.collect()
    }
    assert got == want
    assert landed.select("batch_id").distinct().count() == 1

    # exactly-once: fresh checkpoint replays batch 0 into the same dest
    q2 = web_ingest_stream(
        spark, src, schema, dest, str(tmp_path / "ckpt2"),
        query_name="t_web_ingest2",
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(dest).count() == len(want)


def test_web_ingest_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """Stateless chain: ANY micro-batch split of the source lands the
    same global result as one batch pass."""
    from torcharrow_spark.streaming import web_ingest_batch, web_ingest_stream

    pages = _pages(spark, sf_dir, n=80)
    want = {r.doc_id: r.text_md5 for r in web_ingest_batch(pages).collect()}

    src = str(tmp_path / "pages_mb")
    pages.repartition(6).write.mode("overwrite").parquet(src)
    dest = str(tmp_path / "curated_mb")
    schema = spark.read.parquet(src).schema
    q = web_ingest_stream(
        spark, src, schema, dest, str(tmp_path / "ckpt_mb"),
        query_name="t_web_ingest_mb", max_files_per_trigger=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    landed = spark.read.parquet(dest)
    assert landed.select("batch_id").distinct().count() >= 2
    got = {r.doc_id: r.text_md5 for r in landed.collect()}
    assert got == want


def _warc_blobs(spark, sf_dir, n=90):
    """Per-doc WARC blobs in the q166 shape: a 200 text/html response
    (charset varied by doc_id % 4, incl. whole-page mojibake on the
    bare-UTF-8 quarter), plus a request and a 404 the chain must drop."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(n)
    )

    def _synth(batches):
        import html as _html

        import pandas as pd

        from torcharrow_spark.operators.warc import build_warc

        for pdf in batches:
            ids, blobs = [], []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                meta = '<meta charset="iso-8859-1">' if d % 4 == 2 else ""
                page = (
                    f"<html><head><title>Doc {d}</title>{meta}</head>"
                    f'<body><nav><a href="/">Home</a></nav><h1>Doc {d}</h1>'
                    f"<p>{_html.escape(text)} café naïve</p></body></html>"
                )
                br = d % 4
                if br == 0:
                    payload = page.encode("utf-8-sig")
                elif br == 1:
                    payload = page.encode("utf-16")
                elif br == 2:
                    payload = page.encode("latin-1")
                else:
                    payload = page.encode("utf-8").decode("latin-1").encode("utf-8")
                blob = build_warc(
                    [
                        {"type": "response", "uri": f"https://ex.org/{d}",
                         "payload": payload, "content_type": "text/html"},
                        {"type": "request", "uri": f"https://ex.org/{d}",
                         "payload": b"GET / HTTP/1.1\r\n"},
                        {"type": "response", "uri": f"https://ex.org/gone/{d}",
                         "payload": b"gone", "status": 404,
                         "content_type": "text/plain"},
                    ],
                    gzip_members=True,
                )
                ids.append(d)
                blobs.append(bytearray(blob))
            yield pd.DataFrame({"doc_id": ids, "warc": blobs})

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False),
         T.StructField("warc", T.BinaryType(), True)]
    )
    return docs.mapInPandas(_synth, schema)


def test_warc_ingest_batch_from_raw_bytes(spark, sf_dir):
    """r10: the bytes-first front door — charset sniffing must label
    each quarter correctly, mojibake repair must fire on exactly the
    corrupted quarter, and the 404/request records must die."""
    from torcharrow_spark.streaming import warc_ingest_batch

    out = warc_ingest_batch(_warc_blobs(spark, sf_dir), min_quality=0.0)
    rows = out.collect()
    assert len(rows) > 60
    enc = {0: "utf-8-sig", 1: "utf-16", 2: "iso-8859-1", 3: "utf-8"}
    for r in rows:
        assert r.encoding == enc[r.doc_id % 4], r.doc_id
        assert r.was_mojibake == (r.doc_id % 4 == 3), r.doc_id
        assert r.target_uri == f"https://ex.org/{r.doc_id}"
        assert r.title == f"Doc {r.doc_id}"


def test_warc_ingest_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stateless bytes->curated chain: stream == batch exactly, under
    a multi-micro-batch split, with the exactly-once sink."""
    from torcharrow_spark.streaming import warc_ingest_batch, warc_ingest_stream

    blobs = _warc_blobs(spark, sf_dir)
    want = {
        r.doc_id: (r.target_uri, r.encoding, r.title, r.was_mojibake,
                   r.n_chars, r.text_md5, r.quality, r.pred_lang)
        for r in warc_ingest_batch(blobs, min_quality=0.0).collect()
    }
    assert len(want) > 60

    src = str(tmp_path / "warcs")
    blobs.repartition(6).write.mode("overwrite").parquet(src)
    dest = str(tmp_path / "curated_warc")
    schema = spark.read.parquet(src).schema
    q = warc_ingest_stream(
        spark, src, schema, dest, str(tmp_path / "ckpt_warc"),
        min_quality=0.0, query_name="t_warc_ingest",
        max_files_per_trigger=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    landed = spark.read.parquet(dest)
    got = {
        r.doc_id: (r.target_uri, r.encoding, r.title, r.was_mojibake,
                   r.n_chars, r.text_md5, r.quality, r.pred_lang)
        for r in landed.collect()
    }
    assert got == want
    assert landed.select("batch_id").distinct().count() >= 2


def test_q166_fixture_path_identical(spark, sf_dir, tmp_path):
    """r12: bench.py's fixture-backed q166 row
    (materialized warc_frame parquet -> q166_chain) must be
    bit-identical to the registered per-run-synth query — the fixture
    changes WHERE the bytes come from, never what the chain computes."""
    from torcharrow_spark.queries import (
        QUERIES,
        q166_chain,
        q166_warc_frame,
    )

    fix = str(tmp_path / "q166fix")
    q166_warc_frame(spark, sf_dir).write.parquet(fix)
    via_fixture = q166_chain(spark, sf_dir, spark.read.parquet(fix))
    direct = QUERIES["q166_commoncrawl_capstone"](spark, sf_dir)
    a = sorted(map(tuple, via_fixture.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert via_fixture.columns == direct.columns
    assert a == b and len(a) > 0

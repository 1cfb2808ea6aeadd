

def test_compact_parquet_size_tiered(spark, tmp_path):
    """Size-tiered compaction invariants: a small-file storm (one file
    per row-group-sized write, two partition dirs) collapses into few
    ~target-sized files, big files are untouched, EVERY row survives
    exactly once, and a second run is a no-op (incremental contract)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.sources import compact_parquet

    root = str(tmp_path / "tbl")
    # storm: 12 tiny files per partition dir
    for p in ("a", "b"):
        for i in range(12):
            spark.range(i * 100, i * 100 + 100).select(
                F.col("id"), F.lit(p).alias("tag")
            ).coalesce(1).write.mode("append").parquet(f"{root}/part={p}")

    import glob
    before = glob.glob(f"{root}/part=*/*.parquet")
    assert len(before) >= 24
    rows_before = sorted(
        (r["part"], r["id"]) for r in spark.read.parquet(root).collect()
    )

    rep = compact_parquet(root, target_file_bytes=1 << 20, spark=spark)
    assert rep["dirs_compacted"] == 2
    after = glob.glob(f"{root}/part=*/*.parquet")
    assert len(after) < len(before)
    rows_after = sorted(
        (r["part"], r["id"]) for r in spark.read.parquet(root).collect()
    )
    assert rows_after == rows_before

    # second run: nothing small enough in pairs remains -> no-op
    rep2 = compact_parquet(root, target_file_bytes=1 << 20, spark=spark)
    assert rep2["dirs_compacted"] == 0 and rep2["outputs"] == 0
    assert sorted(
        (r["part"], r["id"]) for r in spark.read.parquet(root).collect()
    ) == rows_before


def test_compact_parquet_crash_recovery(spark, tmp_path):
    """Exactly-once under crash/re-run: (a) roll FORWARD — manifest
    present and all outputs in place means only source deletion was
    interrupted, so recovery deletes the leftover sources (no
    duplicates); (b) roll BACK — outputs incomplete means sources are
    intact, so recovery drops the partial outputs (no loss)."""
    import json
    import os

    from torcharrow_spark.sources import compact_parquet

    root = str(tmp_path / "tbl2")
    for i in range(6):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).parquet(root)
    rows = sorted(r["id"] for r in spark.read.parquet(root).collect())

    # run a real compaction to produce a compacted file we can abuse
    rep = compact_parquet(root, target_file_bytes=1 << 20, spark=spark)
    assert rep["outputs"] >= 1
    compacted = [f for f in os.listdir(root) if f.startswith("compact-")]
    assert compacted

    # (a) roll forward: fake a crash after the swap, before source
    # deletion — a duplicate source next to the compacted output
    dup = os.path.join(root, "dup-source.parquet")
    spark.range(990, 1000).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "dupsrc")
    )
    src_part = next(
        f for f in os.listdir(str(tmp_path / "dupsrc")) if f.endswith(".parquet")
    )
    os.replace(str(tmp_path / "dupsrc" / src_part), dup)
    manifest = os.path.join(root, ".compact_manifest_fake1")
    with open(manifest, "w") as fh:
        json.dump({"sources": ["dup-source.parquet"],
                   "outputs": [compacted[0]], "tmp": ".compact_tmp_fake1"}, fh)
    compact_parquet(root, target_file_bytes=1 << 20, spark=spark)
    assert not os.path.exists(dup) and not os.path.exists(manifest)
    assert sorted(r["id"] for r in spark.read.parquet(root).collect()) == rows

    # (b) roll back: manifest names an output that never landed ->
    # recovery must remove partial outputs and keep sources
    partial = os.path.join(root, "compact-fake2-0.parquet")
    os.replace(os.path.join(root, compacted[0]), partial)
    manifest2 = os.path.join(root, ".compact_manifest_fake2")
    with open(manifest2, "w") as fh:
        json.dump({"sources": [], "outputs":
                   ["compact-fake2-0.parquet", "compact-fake2-MISSING.parquet"],
                   "tmp": ".compact_tmp_fake2"}, fh)
    compact_parquet(root, target_file_bytes=1 << 20, spark=spark)
    assert not os.path.exists(partial) and not os.path.exists(manifest2)


def test_write_webdataset_roundtrip(spark, sf_dir, tmp_path):
    """WebDataset sink invariants: every sample's members land exactly
    once across tar shards ({key}.txt UTF-8, {key}.json for non-string,
    binary raw), shards roll at samples_per_shard, names are unique per
    task (no committer needed), and the manifest matches what is on
    disk."""
    import glob
    import json
    import os
    import tarfile

    from pyspark.sql import functions as F

    from torcharrow_spark.sources import write_webdataset

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id", "text", "n_chars",
            F.encode(F.col("lang"), "utf-8").alias("blob"),
        )
        .repartition(3)
    )
    want = {str(r["doc_id"]): (r["text"], r["n_chars"], r["lang"])
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}

    out = str(tmp_path / "wds")
    manifest = write_webdataset(
        docs, out, "doc_id",
        {"text": "txt", "n_chars": "json", "blob": "bin"},
        samples_per_shard=100,
    ).collect()

    shards = sorted(glob.glob(f"{out}/shard-*.tar"))
    assert len(shards) >= 5  # 500 docs / 100 per shard over >=3 tasks
    man = {r["shard"]: (r["n_samples"], r["n_bytes"]) for r in manifest}
    assert set(man) == {os.path.basename(s) for s in shards}

    got = {}
    for s in shards:
        n_in_shard = 0
        seen_keys = set()
        with tarfile.open(s) as tf:
            members = {m.name: tf.extractfile(m).read() for m in tf.getmembers()}
        for name, payload in members.items():
            key, ext = name.rsplit(".", 1)
            if key not in seen_keys:
                seen_keys.add(key)
                n_in_shard += 1
            e = got.setdefault(key, {})
            assert ext not in e  # no duplicate member anywhere
            e[ext] = payload
        assert n_in_shard == man[os.path.basename(s)][0]
        assert man[os.path.basename(s)][1] == os.path.getsize(s)
        assert n_in_shard <= 100
    assert set(got) == set(want)
    for key, (text, n_chars, lang) in want.items():
        assert got[key]["txt"].decode("utf-8") == text
        assert json.loads(got[key]["json"]) == n_chars
        assert got[key]["bin"].decode("utf-8") == lang


def test_read_webdataset_roundtrip(spark, sf_dir, tmp_path):
    """write_webdataset -> read_webdataset round-trips every sample:
    one row per key, members come back as binary columns, missing
    members are NULL, and parallelism is per-shard (binaryFile)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.sources import read_webdataset, write_webdataset

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "wds2")
    write_webdataset(
        docs.repartition(2), out, "doc_id", {"text": "txt", "lang": "cls"},
        samples_per_shard=150,
    )

    back = read_webdataset(f"{out}/shard-*.tar", {"text": "txt", "lang": "cls"})
    got = {
        r["key"]: (r["text"], r["lang"])
        for r in back.to_spark().select(
            "key",
            F.decode("text", "utf-8").alias("text"),
            F.decode("lang", "utf-8").alias("lang"),
        ).collect()
    }
    want = {str(r["doc_id"]): (r["text"], r["lang"]) for r in docs.collect()}
    assert got == want


def test_read_webdataset_duplicate_extension_rejected(spark):
    """Two columns mapped to one extension would silently leave one
    column always-NULL after the ext->column inversion — rejected."""
    import pytest

    from torcharrow_spark.sources import read_webdataset

    with pytest.raises(ValueError, match="duplicate extensions"):
        read_webdataset("/nonexistent/*.tar", {"a": "txt", "b": "txt"})


def test_compact_parquet_merges_drifted_schemas(spark, tmp_path):
    """Small files with drifted schemas in one directory: the bin
    rewrite must UNION the schemas (missing columns NULL), never drop
    columns present in only some source files."""
    import os

    from torcharrow_spark.sources import compact_parquet

    root = str(tmp_path / "drift")
    os.makedirs(root)
    spark.range(0, 50).selectExpr("id", "id * 2 AS a") \
        .coalesce(1).write.mode("append").parquet(root)
    spark.range(50, 100).selectExpr("id", "id * 3 AS b") \
        .coalesce(1).write.mode("append").parquet(root)
    rep = compact_parquet(root, target_file_bytes=1 << 20, spark=spark)
    assert rep["dirs_compacted"] == 1
    back = spark.read.option("mergeSchema", "true").parquet(root)
    assert {"id", "a", "b"} <= set(back.columns)
    rows = {r["id"]: (r["a"], r["b"]) for r in back.collect()}
    assert len(rows) == 100
    assert rows[10] == (20, None) and rows[60] == (None, 180)


def test_write_webdataset_exact_uniform_shards(spark, sf_dir, tmp_path):
    """exact=True: shard sizes are uniform regardless of adversarial
    upstream partitioning — every shard exactly samples_per_shard
    except one global tail, keys in global order across shard ids, and
    the read_webdataset round-trip is lossless."""
    import glob
    import os
    import tarfile

    from pyspark.sql import functions as F

    from torcharrow_spark.sources import read_webdataset, write_webdataset

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    n = docs.count()
    # adversarial layout: skewed hash partitioning + a near-empty task
    lumpy = docs.repartition(9, F.col("doc_id") % 2)
    out = str(tmp_path / "wds_exact")
    manifest = write_webdataset(
        lumpy, out, "doc_id", {"text": "txt", "lang": "cls"},
        samples_per_shard=64, exact=True,
    ).collect()

    shards = sorted(glob.glob(f"{out}/shard-*.tar"))
    assert len(shards) == -(-n // 64)
    sizes = []
    keys_by_shard = []
    for s in shards:
        with tarfile.open(s) as tf:
            keys = sorted({m.name.rsplit(".", 1)[0] for m in tf.getmembers()})
        sizes.append(len(keys))
        keys_by_shard.append(keys)
    # uniform: every shard full except the single tail
    assert sizes[:-1] == [64] * (len(shards) - 1)
    assert sizes[-1] == n - 64 * (len(shards) - 1)
    # global key order across shard ids (native order of the long
    # doc_id column, compared numerically — tar names are strings)
    flat = [int(k) for ks in keys_by_shard for k in sorted(ks, key=int)]
    assert flat == sorted(flat)
    man = {r["shard"]: r["n_samples"] for r in manifest}
    assert man == {os.path.basename(s): sz for s, sz in zip(shards, sizes)}

    back = read_webdataset(f"{out}/shard-*.tar", {"text": "txt", "lang": "cls"})
    got = {r["key"]: (bytes(r["text"]).decode(), bytes(r["lang"]).decode())
           for r in back.to_spark().collect()}
    want = {str(r["doc_id"]): (r["text"], r["lang"]) for r in docs.collect()}
    assert got == want


def test_read_write_warc_roundtrip(spark, sf_dir, tmp_path):
    """r11: write_warc materializes per-row per-record-gzip WARC
    streams as concatenated-member .warc.gz files (the Common Crawl
    layout) and read_warc explodes them back — one task per file via
    binaryFile, records and payloads byte-exact, non-response records
    filtered parser-side by default."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from torcharrow_spark.sources import read_warc, write_warc

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )

    def _synth(batches):
        import pandas as pd

        from torcharrow_spark.operators.warc import build_warc

        for pdf in batches:
            ids, blobs = [], []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                ids.append(d)
                blobs.append(bytearray(build_warc(
                    [
                        {"type": "warcinfo", "payload": b"s: x\r\n"},
                        {"type": "response",
                         "uri": f"https://h{d % 7}.example.com/p/{d}",
                         "payload": t.encode("utf-8"),
                         "content_type": "text/plain"},
                        {"type": "request",
                         "uri": f"https://h{d % 7}.example.com/p/{d}",
                         "payload": b"GET / HTTP/1.1\r\n"},
                    ],
                    gzip_members=True,
                )))
            yield pd.DataFrame({"doc_id": ids, "warc": blobs})

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False),
         T.StructField("warc", T.BinaryType(), True)]
    )
    out = str(tmp_path / "crawl")
    n = write_warc(
        docs.mapInPandas(_synth, schema), out, order_col="doc_id", files=4
    )
    assert n == 60
    import os

    parts = [f for f in os.listdir(out) if f.endswith(".warc.gz")]
    assert 1 <= len(parts) <= 4

    back = read_warc(out, spark).to_spark()
    got = {
        r["target_uri"]: bytes(r["payload"]).decode("utf-8")
        for r in back.collect()
    }
    want = {
        f"https://h{r['doc_id'] % 7}.example.com/p/{r['doc_id']}": r["text"]
        for r in docs.collect()
    }
    assert got == want  # responses only, payloads byte-exact
    # types=None surfaces warcinfo + request records too
    all_recs = read_warc(out, spark, types=None).to_spark()
    by_type = {
        r["warc_type"]: r["cnt"]
        for r in all_recs.groupBy("warc_type").agg(
            F.count("*").alias("cnt")
        ).collect()
    }
    assert by_type == {"warcinfo": 60, "response": 60, "request": 60}


def test_write_warc_failed_rewrite_keeps_prior_generation(spark, tmp_path):
    """r12: a re-write whose Spark job FAILS must
    leave the previous generation's part files intact and readable —
    the pre-r12 code deleted them on the driver before the job ran.
    Also: a successful re-write with fewer partitions still removes
    the extra old parts (no mixed-generation directory)."""
    import os

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from torcharrow_spark.operators.warc import build_warc
    from torcharrow_spark.sources import read_warc, write_warc

    def _frame(n, boom=False):
        def _synth(batches):
            import pandas as pd

            for pdf in batches:
                ids, blobs = [], []
                for d in pdf["doc_id"]:
                    d = int(d)
                    if boom:
                        raise RuntimeError("synthetic task failure")
                    ids.append(d)
                    blobs.append(bytearray(build_warc(
                        [{"type": "response",
                          "uri": f"https://example.com/{d}",
                          "payload": str(d).encode(),
                          "content_type": "text/plain"}],
                        gzip_members=True,
                    )))
                yield pd.DataFrame({"doc_id": ids, "warc": blobs})

        schema = T.StructType(
            [T.StructField("doc_id", T.LongType(), False),
             T.StructField("warc", T.BinaryType(), True)]
        )
        return spark.range(n).select(
            F.col("id").alias("doc_id")
        ).mapInPandas(_synth, schema)

    out = str(tmp_path / "gencrawl")
    assert write_warc(_frame(20), out, order_col="doc_id", files=4) == 20
    before = sorted(
        f for f in os.listdir(out) if f.endswith(".warc.gz")
    )
    assert before

    with pytest.raises(Exception):
        write_warc(_frame(20, boom=True), out, order_col="doc_id", files=4)
    after = sorted(f for f in os.listdir(out) if f.endswith(".warc.gz"))
    assert after == before  # prior generation untouched
    assert read_warc(out, spark).to_spark().count() == 20
    # no staging junk visible to readers; next write cleans leftovers
    assert write_warc(_frame(6), out, order_col="doc_id", files=1) == 6
    final = [f for f in os.listdir(out) if f.endswith(".warc.gz")]
    assert len(final) == 1  # fewer partitions -> old extras removed
    assert not [d for d in os.listdir(out) if d.startswith(".gen-")]
    assert read_warc(out, spark).to_spark().count() == 6

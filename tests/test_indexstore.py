"""Crash-recovery matrix for the rename-free versioned index store
(r9).

The pre-r9 `compact_index` rmtree'd the old base then RENAMED a scratch
dir into place — a crash between the two left the only copy of the
index in a dir the next run deleted unconditionally (silent total
index loss), and the rename meant object stores were out
of reach entirely. These tests pin the replacement protocol
(`operators/indexstore.py`): every mutation is list / read / create-
only put / delete — NO rename anywhere in the protocol layer — and a
crash at any step either rolls forward (commit landed) or back (it
didn't) with zero data loss, zero duplicate re-merge, and zero
resurrection of retired rows.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from torcharrow_spark.operators import (
    compact_index,
    dedup_against_index,
    exact_index,
    minhash_index,
    publish_index,
    read_index,
    resolve_index_base,
)
from torcharrow_spark.operators import indexstore as ixs


@pytest.fixture
def corpus(spark):
    rows = [
        (0, "the cat sat on the mat tonight"),
        (2, "a completely different corpus document here"),
        (4, "yet another unrelated corpus text body"),
        (6, "the quick brown fox jumps over the lazy dog"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def delivery(spark):
    rows = [
        (1, "the cat sat on the mat tonight"),      # dup of corpus 0
        (3, "fresh delivery document nothing like the corpus"),
        (5, "fresh delivery document nothing like the corpus"),  # dup of 3
        (9, "a third genuinely novel delivery text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _forbid_renames(monkeypatch):
    def boom(*a, **k):
        raise AssertionError("the index protocol must never rename")

    monkeypatch.setattr(os, "rename", boom)
    monkeypatch.setattr(os, "replace", boom)
    monkeypatch.setattr(shutil, "move", boom)


def test_publish_read_roundtrip_rename_free(
    spark, corpus, tmp_path, monkeypatch
):
    """publish -> manifest-resolved read, with every Python-side rename
    primitive forbidden (Spark's JVM parquet committer is out of scope:
    on object stores that is the cloud committer's job, and the
    protocol never depends on the parquet write being atomic — an
    unreferenced snapshot dir is garbage by construction)."""
    _forbid_renames(monkeypatch)
    root = str(tmp_path / "idx")
    idx = exact_index(corpus)
    m = publish_index(idx, root, spark)
    assert m["version"] == 1 and m["rows"] == idx.count()
    got = read_index(spark, root)
    assert got.count() == idx.count()
    assert resolve_index_base(root).endswith(ixs.base_dir_name(1))
    # commits are immutable: re-publishing makes v2, never overwrites
    m2 = publish_index(idx, root, spark)
    assert m2["version"] == 2
    assert resolve_index_base(root).endswith(ixs.base_dir_name(2))


def test_compact_is_rename_free(spark, corpus, delivery, tmp_path, monkeypatch):
    _forbid_renames(monkeypatch)
    root = str(tmp_path / "idx")
    publish_index(minhash_index(corpus, shingle_k=2), root, spark)
    delta = minhash_index(delivery, shingle_k=2)
    delta.write.parquet(f"{root}/delta/batch_id=0")
    report = compact_index(root, spark)
    assert report["protocol"] == "manifest"
    assert report["merged_rows"] == read_index(spark, root).count()
    assert not os.path.exists(f"{root}/delta")


def test_torn_manifest_falls_back_and_never_reuses_version(
    spark, corpus, tmp_path
):
    """A crash mid-manifest-write (local FS; object PUTs are atomic)
    leaves a torn file: readers must skip it via the checksum and
    resolve the previous commit, and the version allocator must not
    hand its number out again."""
    root = str(tmp_path / "idx")
    publish_index(exact_index(corpus), root, spark)
    mdir = os.path.join(root, ixs.MANIFEST_DIR)
    with open(os.path.join(mdir, "v0000000002.json"), "w") as f:
        f.write('{"version": 2, "base": "base_v00000')  # torn
    good = json.load(open(os.path.join(mdir, "v0000000001.json")))
    bad = dict(good, version=3, base=ixs.base_dir_name(3))  # stale checksum
    with open(os.path.join(mdir, "v0000000003.json"), "w") as f:
        json.dump(bad, f)

    assert resolve_index_base(root).endswith(ixs.base_dir_name(1))
    assert read_index(spark, root).count() == exact_index(corpus).count()
    # the next commit skips past every attempted number
    m = publish_index(exact_index(corpus), root, spark)
    assert m["version"] == 4


def test_crash_before_commit_loses_nothing_and_rerun_succeeds(
    spark, corpus, delivery, tmp_path, monkeypatch
):
    """Snapshot written, commit never lands (the window where the OLD
    swap had already rmtree'd the base): the root still resolves to the
    old base, the deltas are untouched, and a plain re-run completes
    the compaction without reusing the orphan's version number."""
    root = str(tmp_path / "idx")
    base = minhash_index(corpus, shingle_k=2)
    publish_index(base, root, spark)
    delta = minhash_index(delivery, shingle_k=2)
    delta.write.parquet(f"{root}/delta/batch_id=0")

    def crash(*a, **k):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(ixs, "commit_manifest", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_index(root, spark)
    monkeypatch.undo()

    # rolled back: old pointer intact, delta intact, orphan present
    assert resolve_index_base(root).endswith(ixs.base_dir_name(1))
    assert read_index(spark, root).count() == base.count()
    assert os.path.isdir(f"{root}/delta/batch_id=0")
    assert os.path.isdir(os.path.join(root, ixs.base_dir_name(2)))

    report = compact_index(root, spark)  # re-run rolls forward
    assert report["version"] == 3  # orphan v2 never reused
    assert report["merged_rows"] == base.count() + delta.count()
    assert not os.path.exists(f"{root}/delta")
    # the superseded orphan is GC'd once a later commit exists
    compact_index(root, spark)
    assert not os.path.isdir(os.path.join(root, ixs.base_dir_name(2)))


def test_crash_after_commit_never_remerges_or_resurrects(
    spark, corpus, delivery, tmp_path, monkeypatch
):
    """The commit lands but cleanup is interrupted before the folded
    deltas are deleted. A re-run must NOT merge those deltas again —
    under a `retired=` pass a re-merge would RESURRECT rows the
    takedown just removed."""
    root = str(tmp_path / "idx")
    publish_index(minhash_index(corpus, shingle_k=2), root, spark)
    minhash_index(delivery, shingle_k=2).write.parquet(
        f"{root}/delta/batch_id=0"
    )
    retired = spark.createDataFrame([(1,)], "doc_id long")  # a delta doc

    real_delete = ixs._LocalFS.delete

    def crash_on_delta(self, path):
        if "/delta/batch_id=" in path:
            raise RuntimeError("simulated crash during cleanup")
        return real_delete(self, path)

    monkeypatch.setattr(ixs._LocalFS, "delete", crash_on_delta)
    with pytest.raises(RuntimeError, match="during cleanup"):
        compact_index(root, spark, retired=retired)
    monkeypatch.undo()

    # the commit IS the correctness point: doc 1 already gone
    committed = read_index(spark, root)
    assert committed.where("doc_id = 1").count() == 0
    rows_after_retire = committed.count()
    assert os.path.isdir(f"{root}/delta/batch_id=0")  # cleanup pending

    report = compact_index(root, spark)  # plain re-run, no retired arg
    assert report["new_batches"] == []  # merged_batches guard held
    final = read_index(spark, root)
    assert final.where("doc_id = 1").count() == 0  # NOT resurrected
    assert final.count() == rows_after_retire
    assert not os.path.exists(f"{root}/delta")


def test_legacy_base_layout_resolves_and_migrates(
    spark, corpus, delivery, tmp_path
):
    """Pre-r9 roots (bare `base` dir, no manifest) keep reading, and the
    first compaction migrates them into the versioned layout."""
    root = str(tmp_path / "idx")
    base = minhash_index(corpus, shingle_k=2)
    base.write.parquet(f"{root}/base")
    assert resolve_index_base(root) == f"{root}/base"
    assert read_index(spark, root).count() == base.count()

    report = compact_index(root, spark)
    assert report["version"] == 1
    assert not os.path.exists(f"{root}/base")
    got = read_index(spark, root)
    assert got.count() == base.count()
    # dedup answers are identical through the migrated snapshot
    want = {r["doc_id"]
            for r in dedup_against_index(delivery, base, shingle_k=2).collect()}
    assert {
        r["doc_id"]
        for r in dedup_against_index(delivery, got, shingle_k=2).collect()
    } == want


def test_index_status_reports_lifecycle(spark, corpus, delivery, tmp_path):
    """index_status answers the on-call questions: committed version,
    new vs merged-pending-cleanup deltas, snapshot dirs, owner."""
    from torcharrow_spark.operators import index_status

    root = str(tmp_path / "idx")
    publish_index(minhash_index(corpus, shingle_k=2), root, spark)
    minhash_index(delivery, shingle_k=2).write.parquet(
        f"{root}/delta/batch_id=0"
    )
    spark.createDataFrame([("ckpt-z",)], "value string").coalesce(1) \
        .write.text(f"{root}/_owner_checkpoint")
    st = index_status(root)
    assert st["version"] == 1 and st["rows"] > 0
    assert st["delta_batches_new"] == [0]
    assert st["delta_batches_merged_pending_cleanup"] == []
    assert st["owner_checkpoint"] == "ckpt-z"
    assert st["base_versions_on_disk"] == [1] and not st["legacy_base"]

    compact_index(root, spark)
    st2 = index_status(root)
    assert st2["version"] == 2
    assert st2["delta_batches_new"] == []
    assert st2["owner_checkpoint"] is None  # marker released


def test_gc_keeps_grace_window(spark, corpus, tmp_path):
    root = str(tmp_path / "idx")
    for _ in range(4):  # v1..v4
        publish_index(exact_index(corpus), root, spark)
    ixs.gc_index_versions(root, keep=1)
    names = sorted(n for n in os.listdir(root) if n.startswith("base_v"))
    assert names == [ixs.base_dir_name(3), ixs.base_dir_name(4)]
    # current + grace version both still readable
    assert read_index(spark, root).count() == exact_index(corpus).count()


def test_streaming_incremental_dedup_over_uri_root(
    spark, corpus, delivery, tmp_path
):
    """The STREAMING half of the object-store story: the ingest-time
    incremental dedup loop (publish -> stream against the manifest-
    resolved base -> compact) runs end-to-end with the index root,
    source, sink and checkpoint all behind file:// URIs — the same
    Hadoop-connector code path an s3a:// root takes."""
    from torcharrow_spark.operators import dedup_against_index
    from torcharrow_spark.streaming import incremental_dedup_stream

    root = "file://" + str(tmp_path / "idx")
    publish_index(minhash_index(corpus, shingle_k=2), root, spark)
    src = "file://" + str(tmp_path / "delivery")
    delivery.coalesce(1).write.parquet(src)
    dest = "file://" + str(tmp_path / "kept")
    q = incremental_dedup_stream(
        spark, src, delivery.schema, dest, root,
        "file://" + str(tmp_path / "ckpt"),
        shingle_k=2, query_name="t_uri_incdedup",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = {
        r["doc_id"]
        for r in dedup_against_index(
            delivery, read_index(spark, root), shingle_k=2
        ).collect()
    }
    got = {r["doc_id"] for r in spark.read.parquet(dest).collect()}
    assert got == want and len(got) > 0
    # the stream's delta landed under the URI root; compaction folds it
    fs = ixs.fs_for(root, spark)
    assert fs.exists(f"{root}/delta/batch_id=0")
    report = compact_index(root, spark)
    assert report["had_delta"] and not fs.exists(f"{root}/delta")
    assert read_index(spark, root).count() == report["merged_rows"]


def test_hadoop_fs_via_file_uri(spark, corpus, delivery, tmp_path):
    """The object-store code path (_HadoopFS: list/read/create-only
    put/delete through the session's Hadoop connectors) end-to-end via
    a file:// URI — the same code that runs against s3a://."""
    root = "file://" + str(tmp_path / "idx")
    fs = ixs.fs_for(root, spark)
    assert isinstance(fs, ixs._HadoopFS)

    publish_index(minhash_index(corpus, shingle_k=2), root, spark)
    minhash_index(delivery, shingle_k=2).write.parquet(
        f"{root}/delta/batch_id=0"
    )
    report = compact_index(root, spark)
    assert report["protocol"] == "manifest" and report["had_delta"]
    got = read_index(spark, root)
    assert got.count() == report["merged_rows"]
    assert not fs.exists(f"{root}/delta")
    # create-only put: a second write to the same manifest must fail
    with pytest.raises(Exception):
        fs.put_text(
            f"{root}/{ixs.MANIFEST_DIR}/" + ixs._manifest_name(report["version"]),
            "overwrite attempt",
        )


# ---------------------------------------------------------------------------
# r11: standing quantized ANN index (operators/annindex)


def _toy_vectors(spark, n=60, dim=8):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 7), d -> "
            "cast((id * 7 + d * 13) % 17 - 8 as double))"
        ).alias("embedding"),
    )


def _toy_cents(spark, vecs):
    from pyspark.sql import functions as F

    return vecs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid"),
    )


def test_ann_index_lifecycle_reproduces_one_shot(spark, tmp_path):
    """publish(even) -> append(odd) -> probe == the one-shot
    ivf_quantized_topk over the full corpus, bit for bit — the q174
    contract, here at a different (bits=6) code width so the stored
    `bits` column provably drives the append's quantization."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        ann_index_append,
        ann_index_publish,
        ann_index_topk,
        ivf_quantized_topk,
        read_ann_index,
    )

    vecs = _toy_vectors(spark)
    cents = _toy_cents(spark, vecs)
    root = str(tmp_path / "annix")
    ann_index_publish(
        vecs.where(F.col("vec_id") % 2 == 0), cents, root, bits=6
    )
    rep = ann_index_append(vecs.where(F.col("vec_id") % 2 == 1), root)
    assert rep["batch_id"] == 0 and rep["rows"] == 30
    q = vecs.where(F.col("vec_id") < 3)
    got = sorted(
        map(tuple, ann_index_topk(q, vecs, root, k=3, n_probe=2).collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_quantized_topk(
                vecs, q, cents, k=3, n_probe=2, bits=6
            ).collect(),
        )
    )
    assert got == want
    assert read_ann_index(spark, root).count() == 60
    # codes really are 6-bit: every element fits [0, 63]
    mx = read_ann_index(spark, root).select(
        F.max(F.array_max("qvec")).alias("m")
    ).head()["m"]
    assert mx <= 63


def test_ann_index_append_allocates_monotone_batches(spark, tmp_path):
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        ann_index_append,
        ann_index_publish,
        read_ann_index,
    )

    vecs = _toy_vectors(spark)
    root = str(tmp_path / "annix2")
    ann_index_publish(
        vecs.where(F.col("vec_id") < 20), _toy_cents(spark, vecs), root
    )
    r0 = ann_index_append(
        vecs.where((F.col("vec_id") >= 20) & (F.col("vec_id") < 40)), root
    )
    r1 = ann_index_append(vecs.where(F.col("vec_id") >= 40), root)
    assert (r0["batch_id"], r1["batch_id"]) == (0, 1)
    assert read_ann_index(spark, root).count() == 60


def test_ann_index_cold_start_errors_are_named(spark, tmp_path):
    import pytest

    from torcharrow_spark.operators import (
        ann_index_append,
        ann_index_topk,
        read_ann_index,
    )

    vecs = _toy_vectors(spark)
    root = str(tmp_path / "annix3")
    with pytest.raises(ValueError, match="no published centroids"):
        ann_index_append(vecs, root)
    with pytest.raises(ValueError, match="no published centroids"):
        ann_index_topk(vecs, vecs, root, spark=spark)
    with pytest.raises(ValueError, match="no published codes"):
        # cents exist but codes never published: simulate by publishing
        # then deleting the codes commit via a fresh root with only cents
        from torcharrow_spark.operators import indexstore as ixs
        from torcharrow_spark.operators.annindex import _cents_root

        from pyspark.sql import functions as F

        ixs.publish_index(
            _toy_cents(spark, vecs).select(
                "cell", "centroid", F.lit(8).alias("bits")
            ),
            _cents_root(root),
            spark,
        )
        read_ann_index(spark, root)


def test_ann_index_publish_rejects_out_of_range_bits(spark, tmp_path):
    """The standing index serves only code widths ivf_quantized_topk
    accepts: a publish at bits outside [2, 16] fails before anything is
    written under the root."""
    import pytest

    from torcharrow_spark.operators import ann_index_publish

    vecs = _toy_vectors(spark)
    cents = _toy_cents(spark, vecs)
    for bits in (1, 17):
        root = tmp_path / f"annix_bits{bits}"
        with pytest.raises(ValueError, match=r"bits must be in \[2, 16\]"):
            ann_index_publish(vecs, cents, str(root), bits=bits)
        assert not root.exists()


def test_ann_index_republish_supersedes(spark, tmp_path):
    """A wholesale re-publish bumps the manifest version; readers see
    ONLY the new snapshot (the old one stays on disk for GC grace)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        ann_index_publish,
        read_ann_index,
    )

    vecs = _toy_vectors(spark)
    cents = _toy_cents(spark, vecs)
    root = str(tmp_path / "annix4")
    ann_index_publish(vecs.where(F.col("vec_id") < 50), cents, root)
    assert read_ann_index(spark, root).count() == 50
    ann_index_publish(vecs.where(F.col("vec_id") < 10), cents, root)
    assert read_ann_index(spark, root).count() == 10


def test_ann_index_append_after_compact_keeps_data(spark, tmp_path):
    """r12: the documented append->compact->append->
    compact lifecycle must lose nothing. Pre-fix, the second append
    reused batch_id=0 (allocator only scanned on-disk deltas), the
    second compaction excluded it as already-merged, and its cleanup
    deleted the delta — the appended vectors vanished silently."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        ann_index_append,
        ann_index_compact,
        ann_index_publish,
        read_ann_index,
    )

    vecs = _toy_vectors(spark)
    root = str(tmp_path / "annix5")
    ann_index_publish(
        vecs.where(F.col("vec_id") < 20), _toy_cents(spark, vecs), root
    )
    r0 = ann_index_append(
        vecs.where((F.col("vec_id") >= 20) & (F.col("vec_id") < 40)), root
    )
    assert r0["batch_id"] == 0
    rep1 = ann_index_compact(root, spark)
    assert rep1["merged_rows"] == 40
    r1 = ann_index_append(vecs.where(F.col("vec_id") >= 40), root)
    assert r1["batch_id"] == 1  # never reuses a folded id
    assert read_ann_index(spark, root).count() == 60
    rep2 = ann_index_compact(root, spark)
    assert rep2["merged_rows"] == 60
    assert read_ann_index(spark, root).count() == 60
    got = sorted(
        r["vec_id"]
        for r in read_ann_index(spark, root).select("vec_id").collect()
    )
    assert got == list(range(60))


def test_ann_index_crash_window_does_not_duplicate(spark, tmp_path):
    """r12: crash between a compaction's manifest
    commit and its delta cleanup leaves the folded delta on disk; the
    reader must skip it (manifest merged_batches guard) or the folded
    rows appear twice and corrupt the top-k."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        ann_index_append,
        ann_index_publish,
        ann_index_topk,
        ivf_quantized_topk,
        read_ann_index,
    )
    from torcharrow_spark.operators import indexstore as ixs
    from torcharrow_spark.operators.annindex import _codes_root

    vecs = _toy_vectors(spark)
    cents = _toy_cents(spark, vecs)
    root = str(tmp_path / "annix6")
    ann_index_publish(vecs.where(F.col("vec_id") < 40), cents, root)
    ann_index_append(vecs.where(F.col("vec_id") >= 40), root)

    # simulate the crash: fold base+delta into a new committed base but
    # leave the delta dir behind (compaction died before cleanup)
    codes_root = _codes_root(root)
    fs = ixs.fs_for(codes_root, spark)
    base = spark.read.parquet(ixs.resolve_index_base(codes_root, fs=fs))
    delta = spark.read.parquet(
        ixs._join(codes_root, "delta", "batch_id=0")
    )
    merged = base.unionByName(delta.select(*base.columns))
    v = ixs.next_version(codes_root, fs=fs)
    bname = ixs.base_dir_name(v)
    merged.write.parquet(ixs._join(codes_root, bname))
    ixs.commit_manifest(
        codes_root,
        {
            "version": v,
            "base": bname,
            "rows": merged.count(),
            "merged_batches": [0],
        },
        fs=fs,
    )
    assert fs.exists(ixs._join(codes_root, "delta", "batch_id=0"))

    idx = read_ann_index(spark, root)
    assert idx.count() == 60  # folded delta NOT double-counted
    assert idx.select("vec_id").distinct().count() == 60
    q = vecs.where(F.col("vec_id") < 3)
    got = sorted(
        map(tuple, ann_index_topk(q, vecs, root, k=3, n_probe=2).collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_quantized_topk(vecs, q, cents, k=3, n_probe=2).collect(),
        )
    )
    assert got == want


def test_ann_index_probe_identity_across_compaction(spark, sf_dir, tmp_path):
    """The standing index's row identity over its whole lifecycle on the
    sf0.01 embeddings: publish 80% of the corpus, append the rest as 4
    delta batches, probe; compact, probe again. Both probes must equal
    the one-shot ivf_quantized_topk over the full corpus with the same
    centroids, row for row (24 queries x k=10 = 240 rows)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        ann_index_append,
        ann_index_compact,
        ann_index_publish,
        ann_index_topk,
        ivf_quantized_topk,
    )
    from torcharrow_spark.operators.similarity import _centroids

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    cents = spark.createDataFrame(
        [(i, v) for i, (_cid, v) in
         enumerate(_centroids(emb, 16, "vec_id", "embedding"))],
        "cell int, centroid array<double>",
    )
    q = emb.where(F.pmod(F.col("vec_id"), F.lit(21)) == 0)
    root = str(tmp_path / "annix_life")

    def probe():
        return sorted(map(tuple, ann_index_topk(
            q, emb, root, k=10, n_probe=4, candidates=50).collect()))

    ann_index_publish(emb.where(F.col("vec_id") % 5 != 0), cents, root)
    for i in range(4):
        ann_index_append(
            emb.where((F.col("vec_id") % 5 == 0)
                      & (F.col("vec_id") % 20 == i * 5)),
            root,
        )
    appended = probe()
    ann_index_compact(root, spark)
    compacted = probe()
    one_shot = sorted(map(tuple, ivf_quantized_topk(
        emb, q, cents, k=10, n_probe=4, candidates=50).collect()))
    assert len(one_shot) == 240
    assert appended == one_shot
    assert compacted == one_shot

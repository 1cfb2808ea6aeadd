"""Structured Streaming wrappers: the streaming plan must agree with the
batch plan on the same data (availableNow + memory sink)."""

import os

import pytest

from torcharrow_spark.sources import read_parquet_ns
from torcharrow_spark.streaming import (
    sessionize,
    windowed_counts_batch,
    windowed_counts_stream,
)


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stream == batch in rows AND column types, for a `timestamp_ntz`
    source and for an instant (`timestamp`) one: the stream casts ts to
    an instant for its watermark, and window_start must still carry the
    source's type, as the batch plan's does."""
    from pyspark.sql import functions as F

    ev_ntz = read_parquet_ns(f"{sf_dir}/events.parquet", spark).to_spark()
    ev_ltz = ev_ntz.withColumn("ts", F.col("ts").cast("timestamp"))
    for name, ev in (("ntz", ev_ntz), ("ltz", ev_ltz)):
        batch_df = windowed_counts_batch(ev, "1 hour")
        batch = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in batch_df.collect()
        }

        # re-land with microsecond timestamps: streaming reads the raw
        # files, and Spark's parquet reader rejects the source's nanos
        # encoding
        stream_dir = str(tmp_path / f"events_{name}")
        ev.write.mode("overwrite").parquet(stream_dir)

        q = windowed_counts_stream(
            spark, stream_dir, ev.schema, window="1 hour",
            query_name=f"t_stream_{name}",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        streamed = spark.sql(f"SELECT * FROM t_stream_{name}")
        stream = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in streamed.collect()
        }
        assert stream == batch
        assert streamed.dtypes == batch_df.dtypes, name


def test_sessionize_gap(spark):
    import datetime as dtm

    base = dtm.datetime(2024, 1, 1)
    rows = [
        (1, base, 1.0),
        (1, base + dtm.timedelta(minutes=10), 2.0),
        (1, base + dtm.timedelta(minutes=60), 3.0),  # gap > 30min -> new session
        (2, base, 4.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")
    out = sessionize(ev, 30).orderBy("user_id", "session_seq").collect()
    assert [(r["user_id"], r["n_events"]) for r in out] == [(1, 2), (1, 1), (2, 1)]


def test_stateful_sessionize_stream_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionization == batch window sessionization
    on in-order data (state carries sessions across micro-batches)."""
    from torcharrow_spark.streaming import sessionize_stream, with_session_ids

    ev = read_parquet_ns(f"{sf_dir}/events.parquet", spark).to_spark()
    ev = ev.select("user_id", "ts", "value")
    batch = {
        (r["user_id"], r["ts"]): r["session_seq"]
        for r in with_session_ids(ev, 30).collect()
    }

    stream_dir = str(tmp_path / "events_us2")
    ev.write.mode("overwrite").parquet(stream_dir)
    q = sessionize_stream(spark, stream_dir, ev.schema, 30, query_name="t_sess")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["user_id"], r["ts"].replace(tzinfo=None)): r["session_seq"]
        for r in spark.sql("SELECT * FROM t_sess").collect()
    }
    assert len(got) == len(batch)
    mismatches = {k: (v, batch.get(k)) for k, v in got.items() if batch.get(k) != v}
    assert not mismatches, list(mismatches.items())[:5]


def test_watermark_drops_late_data_append_mode(spark, tmp_path):
    """Append-mode + watermark semantics across micro-batches: a window
    is emitted once its end falls behind the watermark, and events
    arriving later than the watermark allows are dropped from state."""
    import datetime as dtm

    from torcharrow_spark.streaming import windowed_counts_stream

    base = dtm.datetime(2024, 1, 1, 10, 0)
    d = str(tmp_path / "wm")
    schema = "user_id long, event_type string, ts timestamp_ntz, value double"

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/{name}"
        )

    # batch 1: two events in the 10:00 window
    write("f1", [(1, "view", base, 1.0), (2, "view", base + dtm.timedelta(minutes=5), 1.0)])
    # batch 2: an event far ahead (13:00) -> watermark advances to 12:30
    # after this batch
    write("f2", [(3, "view", base + dtm.timedelta(hours=3), 1.0)])
    # batch 3: runs WITH watermark 12:30 -> at its end the 10:00 window
    # (end 11:00 <= 12:30) is emitted and its state evicted
    write("f3", [(5, "view", base + dtm.timedelta(hours=3, minutes=5), 1.0)])
    # batch 4: a LATE event back in the 10:00 window, after eviction ->
    # dropped by the watermark (Spark guarantees drops only once the
    # window's state is gone; a late row in the eviction batch itself may
    # still be merged — the documented best-effort bound)
    write("f4", [(4, "view", base + dtm.timedelta(minutes=10), 1.0)])

    # one directory, one file per micro-batch (glob over subdirs)
    import glob
    import shutil

    flat = str(tmp_path / "flat")
    import os

    os.makedirs(flat, exist_ok=True)
    import time as _time

    now = _time.time()
    for i, name in enumerate(["f1", "f2", "f3", "f4"]):
        src = glob.glob(f"{d}/{name}/part-*.parquet")[0]
        dst = f"{flat}/{i:02d}.parquet"
        shutil.copy(src, dst)
        # FileStreamSource orders by modification time; make it unambiguous
        os.utime(dst, (now + i * 10, now + i * 10))

    q = windowed_counts_stream(
        spark,
        flat,
        spark.read.parquet(flat).schema,
        window="1 hour",
        watermark="30 minutes",
        query_name="t_wm",
        output_mode="append",
        max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM t_wm").collect()
    }
    # the 10:00 window was finalized with ONLY the two on-time events
    assert rows.get((base, "view")) == 2, rows
    # and the post-eviction late row was counted as dropped by the operator
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for o in p.get("stateOperators", [])
    )
    assert dropped >= 1, [p.get("stateOperators") for p in q.recentProgress]


def test_sliding_windows_double_count(spark, sf_dir):
    """With slide = window/2 every event lands in exactly two windows:
    total event-count across sliding windows = 2x the tumbling total."""
    from pyspark.sql import functions as F

    from torcharrow_spark.sources import read_parquet_ns
    from torcharrow_spark.streaming import windowed_counts_batch

    ev = read_parquet_ns(f"{sf_dir}/events.parquet", spark).to_spark()
    tumbling = windowed_counts_batch(ev, "1 hour")
    sliding = windowed_counts_batch(ev, "1 hour", slide="30 minutes")
    t = tumbling.agg(F.sum("n_events").alias("n")).collect()[0]["n"]
    s = sliding.agg(F.sum("n_events").alias("n")).collect()[0]["n"]
    assert s == 2 * t


def test_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    from torcharrow_spark.streaming import dedup_batch, dedup_stream

    ev = read_parquet_ns(f"{sf_dir}/events.parquet", spark).to_spark()
    keys = ["user_id", "event_type"]
    batch = {
        (r.user_id, r.event_type): r.ts for r in dedup_batch(ev, keys).collect()
    }

    # land a single file in event-time order so streaming arrival order ==
    # event order and "first arrival" is well-defined
    stream_dir = str(tmp_path / "events_sorted")
    ev.orderBy("ts", "event_id").coalesce(1).write.mode("overwrite").parquet(stream_dir)

    q = dedup_stream(
        spark, stream_dir, ev.schema, keys, query_name="t_dedup_stream"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream = {
        (r.user_id, r.event_type): r.ts
        for r in spark.sql("SELECT * FROM t_dedup_stream").collect()
    }
    assert set(stream) == set(batch)          # same surviving key set
    assert stream == batch                    # and same surviving (first) row
    # unbounded-state variant yields the same key set on a finite input
    q2 = dedup_stream(
        spark, stream_dir, ev.schema, keys,
        within_watermark=False, query_name="t_dedup_stream2",
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert {
        (r.user_id, r.event_type)
        for r in spark.sql("SELECT * FROM t_dedup_stream2").collect()
    } == set(batch)


def test_hll_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming sketch == batch sketch: the register state maintained
    by the streaming aggregation must equal a one-shot batch pass, and
    so must the resulting estimate (registers are the sufficient
    statistic — arrival order and micro-batch boundaries cannot move
    them)."""
    from torcharrow_spark.operators.sketch import hll_distinct, hll_estimate
    from torcharrow_spark.streaming import hll_stream

    ev = read_parquet_ns(f"{sf_dir}/events.parquet", spark).to_spark()

    stream_dir = str(tmp_path / "events_hll")
    # several files -> several micro-batches with maxFilesPerTrigger
    # default (all-at-once is fine too: complete mode re-emits state)
    ev.repartition(4).write.mode("overwrite").parquet(stream_dir)

    q = hll_stream(
        spark, stream_dir, ev.schema, "user_id", ["event_type"],
        query_name="t_hll_stream",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed_regs = spark.sql("SELECT * FROM t_hll_stream")
    got = {
        (r.event_type,): (r.est_distinct, r.registers_used)
        for r in hll_estimate(streamed_regs, ["event_type"]).collect()
    }
    want = {
        (r.event_type,): (r.est_distinct, r.registers_used)
        for r in hll_distinct(ev, "user_id", ["event_type"]).collect()
    }
    assert got == want and len(want) == 5


def test_enriched_stream_matches_batch(spark, sf_dir, tmp_path):
    from torcharrow_spark.streaming import (
        enriched_counts_batch,
        enriched_counts_stream,
    )

    ev = read_parquet_ns(f"{sf_dir}/events.parquet", spark).to_spark()
    # static reference data: user tier from the id (stand-in for a
    # slowly-changing dimension table)
    dim = (
        ev.select("user_id").distinct()
        .selectExpr("user_id", "concat('tier_', user_id % 3) AS tier")
    )
    batch = {
        (r["window_start"], r["tier"]): (r["n_events"], r["total_value"])
        for r in enriched_counts_batch(ev, dim, "user_id", "tier").collect()
    }
    assert len(batch) > 0

    stream_dir = str(tmp_path / "events_us")
    ev.write.mode("overwrite").parquet(stream_dir)
    q = enriched_counts_stream(
        spark, stream_dir, ev.schema, dim, "user_id", "tier",
        query_name="t_enriched",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.sql("SELECT * FROM t_enriched")
    stream = {
        (r["window_start"], r["tier"]): (r["n_events"], r["total_value"])
        for r in streamed.collect()
    }
    assert stream == batch
    assert streamed.dtypes == enriched_counts_batch(ev, dim, "user_id", "tier").dtypes


def test_cms_stream_matches_batch(spark, sf_dir, tmp_path):
    from torcharrow_spark.operators.sketch import cms_lookup, cms_sketch
    from torcharrow_spark.streaming import cms_stream

    ev = read_parquet_ns(f"{sf_dir}/events.parquet", spark).to_spark()
    batch_cells = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in cms_sketch(ev, "event_type", d=3, w=64).collect()
    }

    stream_dir = str(tmp_path / "events_us")
    ev.write.mode("overwrite").parquet(stream_dir)
    q = cms_stream(spark, stream_dir, ev.schema, "event_type",
                   d=3, w=64, query_name="t_cms")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_cells = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in spark.sql("SELECT * FROM t_cms").collect()
    }
    assert stream_cells == batch_cells          # state IS the sketch
    assert len(stream_cells) <= 3 * 64          # bounded however much data

    # lookups over the sink never underestimate the true frequency
    sink = spark.sql("SELECT * FROM t_cms")
    truth = {r["event_type"]: r["cnt"] for r in
             ev.groupBy("event_type").count()
               .withColumnRenamed("count", "cnt").collect()}
    queries = spark.createDataFrame(
        [(k,) for k in truth], "event_type string"
    )
    est = {r["event_type"]: r["est_count"] for r in
           cms_lookup(sink, queries, "event_type", d=3, w=64).collect()}
    for k, n in truth.items():
        assert est[k] >= n


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    from torcharrow_spark.streaming import (
        correlate_streams,
        correlate_streams_batch,
    )

    ev = read_parquet_ns(f"{sf_dir}/events.parquet", spark).to_spark()
    a = ev.where("event_id % 2 = 0")
    b = ev.where("event_id % 2 = 1")
    batch = {(r["user_id"], r["event_a"], r["event_b"], r["lag_s"])
             for r in correlate_streams_batch(a, b, "user_id", 600).collect()}
    assert len(batch) > 0

    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    a.write.mode("overwrite").parquet(da)
    b.write.mode("overwrite").parquet(db)
    q = correlate_streams(spark, da, db, a.schema, "user_id", 600,
                          query_name="t_ss_join")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream = {(r["user_id"], r["event_a"], r["event_b"], r["lag_s"])
              for r in spark.sql("SELECT * FROM t_ss_join").collect()}
    assert stream == batch


def test_stream_to_parquet_sink(spark, sf_dir, tmp_path):
    from torcharrow_spark.streaming import stream_to_parquet

    ev = read_parquet_ns(f"{sf_dir}/events.parquet", spark).to_spark()
    src = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")
    ev.write.mode("overwrite").parquet(src)

    q = stream_to_parquet(spark, src, ev.schema, dest, ckpt,
                          dedup_keys=["event_id"], query_name="t_sink")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    landed = spark.read.parquet(dest)
    assert landed.count() == ev.count()
    assert sorted(r["event_id"] for r in landed.select("event_id").collect()) \
        == sorted(r["event_id"] for r in ev.select("event_id").collect())

    # restart with the same checkpoint: no batches re-run, no dup rows
    q2 = stream_to_parquet(spark, src, ev.schema, dest, ckpt,
                           dedup_keys=["event_id"], query_name="t_sink2")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(dest).count() == ev.count()

    # failure replay: foreachBatch may re-invoke a batch id after a
    # partial write. Simulate by polluting batch 0's directory, then
    # replaying from a FRESH checkpoint (batch 0 re-runs): the
    # overwrite-by-batch_id landing must replace the partial state,
    # not append to it.
    ev.limit(7).write.mode("append").parquet(f"{dest}/batch_id=0")
    assert spark.read.parquet(dest).count() == ev.count() + 7  # polluted
    q3 = stream_to_parquet(spark, src, ev.schema, dest, str(tmp_path / "ckpt2"),
                           dedup_keys=["event_id"], query_name="t_sink3")
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    landed3 = spark.read.parquet(dest)
    assert landed3.count() == ev.count()
    assert landed3.drop("batch_id").schema == spark.read.parquet(src).schema


def test_gopher_filter_is_stream_safe(spark, sf_dir, tmp_path):
    """The quality gate is a stateless projection, so the same operator
    applies verbatim to a stream (curation-at-ingest) and must agree
    with the batch result row for row."""
    from torcharrow_spark.operators import gopher_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = {r["doc_id"]: (r["keep"], r["reason"])
             for r in gopher_filter(docs).collect()}

    src = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        gopher_filter(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_gopher")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {r["doc_id"]: (r["keep"], r["reason"])
                for r in spark.sql("SELECT * FROM t_gopher").collect()}
    assert streamed == batch and len(batch) > 0


def test_curate_pack_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming curation-at-ingest (gate -> per-shard stateful
    dedup+pack) == the batch twin, bit for bit: three doc_id-ordered
    files arrive as three micro-batches (maxFilesPerTrigger=1), so the
    per-shard state — cumulative token offset and the seen content
    hashes — must carry packing positions AND dedup decisions across
    batch boundaries to reproduce the one-shot batch result."""
    from torcharrow_spark.streaming import curate_pack_batch, curate_pack_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {
        r["doc_id"]: (r["n_tokens"], r["shard"], r["bin"], r["offset"])
        for r in curate_pack_batch(docs).collect()
    }

    # three files split by doc_id range, each internally doc_id-sorted:
    # arrival order == doc_id order, so batch keep-min-id dedup and
    # streaming keep-first-arrival dedup agree
    src = str(tmp_path / "docs_curate")
    n = docs.count()
    from pyspark.sql import functions as F
    cuts = [n // 3, 2 * n // 3]
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    bounds = [ids[cuts[0]], ids[cuts[1]]]
    parts = [
        docs.where(F.col("doc_id") < bounds[0]),
        docs.where((F.col("doc_id") >= bounds[0]) & (F.col("doc_id") < bounds[1])),
        docs.where(F.col("doc_id") >= bounds[1]),
    ]
    import os
    for i, p in enumerate(parts):
        p.orderBy("doc_id").coalesce(1).write.mode("overwrite").parquet(f"{src}/part{i}")
        # single dir of plain files, lexicographic name order == batch order
        for f in os.listdir(f"{src}/part{i}"):
            if f.endswith(".parquet"):
                os.rename(f"{src}/part{i}/{f}", f"{src}/file_{i}.parquet")
    import shutil
    for i in range(3):
        shutil.rmtree(f"{src}/part{i}")

    q = curate_pack_stream(
        spark, src, docs.schema,
        query_name="t_curate_pack", max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["n_tokens"], r["shard"], r["bin"], r["offset"])
        for r in spark.sql("SELECT * FROM t_curate_pack").collect()
    }
    assert len(q.recentProgress) >= 3  # really ran as multiple micro-batches
    assert got == want and len(want) > 0


def test_contamination_stream_matches_batch(spark, sf_dir, tmp_path):
    """Contamination-at-ingest == batch: every arriving train doc's
    benchmark-overlap fraction is a pure function of (doc, static
    benchmark set), so the foreachBatch form must reproduce the batch
    operator exactly under any micro-batch partitioning (three files,
    one per trigger)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.dedup import contamination
    from torcharrow_spark.streaming import contamination_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench_set = docs.where(F.col("doc_id") % 10 == 0)
    train = docs.where(F.col("doc_id") % 10 != 0)

    want = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"],
                      round(r["overlap_frac"], 9), r["contaminated"])
        for r in contamination(train=bench_set, test=train, k=8).collect()
    }

    src = str(tmp_path / "train_stream")
    train.repartition(3).write.mode("overwrite").parquet(src)
    dest = str(tmp_path / "scores")
    q = contamination_stream(
        spark, src, train.schema, bench_set, dest,
        k=8, query_name="t_contam", max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"],
                      round(r["overlap_frac"], 9), r["contaminated"])
        for r in spark.read.parquet(dest).collect()
    }
    assert got == want and len(want) > 0
    assert len(spark.read.parquet(dest).select("batch_id").distinct().collect()) >= 2


def test_curate_pack_stream_multichunk_group_matches_batch(spark, sf_dir, tmp_path):
    """A group's micro-batch arrives as MULTIPLE arrow chunks when it
    exceeds spark.sql.execution.arrow.maxRecordsPerBatch; the stateful
    pack must buffer+concat them and sort ONCE globally (per-chunk
    sorting would make bin/offset depend on arbitrary chunk order).
    Forcing 7-row chunks with n_shards=1 makes every micro-batch a
    many-chunk group; output must still be bit-identical to the batch
    twin."""
    from torcharrow_spark.streaming import curate_pack_batch, curate_pack_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {
        r["doc_id"]: (r["n_tokens"], r["shard"], r["bin"], r["offset"])
        for r in curate_pack_batch(docs, n_shards=1).collect()
    }

    src = str(tmp_path / "docs_multichunk")
    docs.orderBy("doc_id").coalesce(1).write.mode("overwrite").parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        q = curate_pack_stream(
            spark, src, docs.schema, n_shards=1,
            query_name="t_curate_multichunk",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = {
        r["doc_id"]: (r["n_tokens"], r["shard"], r["bin"], r["offset"])
        for r in spark.sql("SELECT * FROM t_curate_multichunk").collect()
    }
    assert len(want) > 7  # group really spanned several 7-row chunks
    assert got == want


def test_curate_pack_stream_ttl_state_aging(spark, tmp_path):
    """seen_ttl_batches bounds the dedup state: hashes idle for more
    than N of a shard's batches are pruned, so (a) a duplicate INSIDE
    the horizon is still suppressed, (b) a duplicate arriving past the
    horizon is re-admitted (the documented trade), and (c) the state
    plateaus instead of growing with the corpus. Timeline with ttl=1,
    one shard: T-texts land in batch0; batch1 carries a T0-dup
    (suppressed, stamp refreshed); after batch2 the idle T1..T9 stamps
    age out; batch3's T1-dup is re-admitted while its T0-dup (refreshed
    in batch1, so idle 1 at the batch2 prune) stays suppressed."""
    import os

    from torcharrow_spark.streaming import curate_pack_stream

    def text(tag: str) -> str:
        body = " ".join(f"{tag}{w}{j}" for j in range(32) for w in ("alpha",))
        return body + " the and with that from this"

    t = [text(f"t{i}") for i in range(10)]
    batches = [
        [(i, t[i]) for i in range(10)],                      # b0: T0..T9
        [(10 + i, text(f"u{i}")) for i in range(5)] + [(20, t[0])],   # b1
        [(30 + i, text(f"v{i}")) for i in range(5)],          # b2
        [(40, t[1]), (41, t[0])],                             # b3
    ]
    src = str(tmp_path / "ttl_stream")
    os.makedirs(src, exist_ok=True)
    schema = "doc_id long, text string"
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        part = f"{src}/part{i}"
        df.coalesce(1).write.mode("overwrite").parquet(part)
        for f in os.listdir(part):
            if f.endswith(".parquet"):
                os.rename(f"{part}/{f}", f"{src}/file_{i}.parquet")
                os.utime(f"{src}/file_{i}.parquet", (1_000_000 + i, 1_000_000 + i))
        import shutil
        shutil.rmtree(part)

    q = curate_pack_stream(
        spark, src, spark.createDataFrame([], schema).schema,
        n_shards=1, min_words=10, query_name="t_curate_ttl",
        max_files_per_trigger=1, seen_ttl_batches=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_ids = {r["doc_id"] for r in spark.sql("SELECT * FROM t_curate_ttl").collect()}
    assert len(q.recentProgress) >= 4  # one micro-batch per file
    assert set(range(10)) <= got_ids          # b0 all fresh
    assert {10, 11, 12, 13, 14} <= got_ids    # b1 fresh
    assert 20 not in got_ids                  # T0-dup inside horizon: deduped
    assert {30, 31, 32, 33, 34} <= got_ids    # b2 fresh
    assert 40 in got_ids                      # T1-dup past horizon: re-admitted
    assert 41 not in got_ids                  # T0 refreshed in b1: still deduped


def test_term_stats_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming vocab/document-frequency table == batch, bit for bit:
    the complete-mode stateful aggregate must fold three micro-batches
    into exactly the (term, df, tf_total) table `term_stats_batch`
    computes one-shot — the IDF side of windowed TF-IDF at ingest."""
    from torcharrow_spark.streaming import term_stats_batch, term_stats_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {
        r["term"]: (r["df"], r["tf_total"])
        for r in term_stats_batch(docs).collect()
    }

    src = str(tmp_path / "docs_terms")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    q = term_stats_stream(
        spark, src, docs.schema,
        query_name="t_term_stats", max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["term"]: (r["df"], r["tf_total"])
        for r in spark.sql("SELECT * FROM t_term_stats").collect()
    }
    assert len(q.recentProgress) >= 3
    assert got == want and len(want) > 20


def test_tf_stream_joined_tfidf_matches_batch(spark, sf_dir, tmp_path):
    """tf at ingest (landed per batch) joined with the streamed df
    table reproduces `relevance.tf_idf` exactly: tf is per-document
    (stream == batch under any partitioning), df/N come from the final
    streaming state, and the same smoothed-idf arithmetic over them is
    bit-identical to the one-shot batch computation."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.relevance import tf_idf, _round8
    from torcharrow_spark.streaming import term_stats_stream, tf_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["idf"], r["tfidf"])
        for r in tf_idf(docs).collect()
    }

    src = str(tmp_path / "docs_tf")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    dest = str(tmp_path / "tf_landed")
    q1 = tf_stream(
        spark, src, docs.schema, dest,
        query_name="t_tf_land", max_files_per_trigger=1,
    )
    q2 = term_stats_stream(
        spark, src, docs.schema,
        query_name="t_term_stats2", max_files_per_trigger=1,
    )
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
    finally:
        q1.stop()
        q2.stop()

    tf_landed = spark.read.parquet(dest)
    df_tbl = spark.sql("SELECT term, df FROM t_term_stats2")
    n_docs = float(tf_landed.select("doc_id").distinct().count())
    idf = F.log((F.lit(1.0) + n_docs) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    joined = tf_landed.join(F.broadcast(df_tbl), "term").select(
        "doc_id", "term", "tf", "df",
        _round8(idf).alias("idf"),
        _round8(F.col("tf").cast("double") * idf).alias("tfidf"),
    )
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["idf"], r["tfidf"])
        for r in joined.collect()
    }
    assert got == want and len(want) > 1000


def test_dedup_windowed_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    """CHAINED multi-stateful streaming: watermark ->
    dropDuplicatesWithinWatermark -> windowed aggregation in ONE query
    must equal the batch composition (dedup then window counts) on an
    at-least-once feed — every event is fed TWICE (identical redelivery,
    same event time and event_id), split into two files in event order,
    and the final windowed metrics must count each event exactly once."""
    from torcharrow_spark.sources import read_parquet_ns
    from torcharrow_spark.streaming import (
        dedup_windowed_counts_batch,
        dedup_windowed_counts_stream,
    )

    ev = read_parquet_ns(f"{sf_dir}/events.parquet", spark).to_spark()
    keys = ["event_id"]
    duplicated = ev.unionByName(ev)  # exact at-least-once redelivery
    # total_value is rounded: a streaming agg may sum doubles in a
    # different order than the batch plan (the engine's oracle-checked
    # money aggregates use exact decimals; this twin checks semantics)
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in dedup_windowed_counts_batch(duplicated, keys).collect()
    }

    # the redelivered copy lands in its OWN file (file_0 = the corpus,
    # file_1 = the corpus again; one file per trigger), so every
    # duplicate arrives in a LATER micro-batch than its original and
    # the dedup decision must come from CROSS-BATCH state; duplicates
    # older than the watermark horizon are dropped by the watermark
    # instead — same exactly-once metrics either way
    import os
    import shutil

    src = str(tmp_path / "events_dup")
    os.makedirs(src, exist_ok=True)
    for i in range(2):
        part = f"{src}/part{i}"
        ev.orderBy("ts", "event_id").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        f = next(x for x in os.listdir(part) if x.endswith(".parquet"))
        os.rename(f"{part}/{f}", f"{src}/file_{i}.parquet")
        os.utime(f"{src}/file_{i}.parquet", (2_000_000 + i, 2_000_000 + i))
        shutil.rmtree(part)
    q = dedup_windowed_counts_stream(
        spark, src, ev.schema, keys,
        query_name="t_dedup_window", max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(q.recentProgress) >= 2  # duplicates really spanned batches
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql("SELECT * FROM t_dedup_window").collect()
    }
    # append mode finalizes a window only when the watermark passes its
    # end: every emitted window must match the batch value exactly, and
    # most windows (all but the watermark tail) must have been emitted
    assert got and all(want[k] == v for k, v in got.items())
    assert len(got) >= len(want) * 0.5, (len(got), len(want))


def test_quality_scores_stream_matches_batch(spark, sf_dir, tmp_path):
    """Online classifier refresh (r6): single-batch stream must be
    BIT-identical to quality_scores_batch (decimal-exact training makes
    weights partitioning-independent), and the scored sink must be
    exactly-once under batch replay (overwrite-by-batch_id: re-running
    a batch id replaces, never appends)."""
    import os

    from torcharrow_spark.streaming import (
        quality_scores_batch,
        quality_scores_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {r["doc_id"]: (r["label"], r["score"])
            for r in quality_scores_batch(docs).collect()}
    assert len(want) > 100

    src = str(tmp_path / "docs_q")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    dest = str(tmp_path / "scored")
    ckpt = str(tmp_path / "ckpt_q")
    q = quality_scores_stream(spark, src, docs.schema, dest, ckpt,
                              query_name="t_quality_scores")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    landed = spark.read.parquet(dest)
    got = {r["doc_id"]: (r["label"], r["score"]) for r in landed.collect()}
    assert got == want  # bit-identical, scores included
    assert landed.select("batch_id").distinct().count() == 1

    # exactly-once: replay the same source into the same dest with a
    # FRESH checkpoint (forcing foreachBatch to re-run batch 0) — the
    # batch overwrites its own partition, so no duplicates appear
    q2 = quality_scores_stream(spark, src, docs.schema, dest,
                               str(tmp_path / "ckpt_q2"),
                               query_name="t_quality_scores2")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    re = spark.read.parquet(dest)
    assert re.count() == len(want)
    got2 = {r["doc_id"]: (r["label"], r["score"]) for r in re.collect()}
    assert got2 == want

    # multi-batch drift semantics: each batch scored by its OWN model
    # — every landed row's doc still gates+scores, count matches the
    # union of per-batch survivor sets
    dest3 = str(tmp_path / "scored3")
    q3 = quality_scores_stream(spark, src, docs.schema, dest3,
                               str(tmp_path / "ckpt_q3"),
                               query_name="t_quality_scores3",
                               max_files_per_trigger=1)
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    landed3 = spark.read.parquet(dest3)
    assert landed3.select("batch_id").distinct().count() >= 2
    assert sorted(r["doc_id"] for r in landed3.collect()) == sorted(want)


def test_incremental_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Ingest-time near-dedup twin (r7): single-batch stream against a
    standing base index must equal dedup_against_index exactly; later
    batches must dedup against earlier batches' survivors through the
    index deltas; and both the survivor sink and the index delta must
    be exactly-once under batch replay (including the replayed batch
    NOT colliding with its own previously-written delta)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import dedup_against_index, minhash_index
    from torcharrow_spark.streaming import incremental_dedup_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 3 == 0)           # already kept
    delivery = docs.where(F.col("doc_id") % 3 != 0)

    idx_root = str(tmp_path / "idx")
    minhash_index(corpus).write.mode("overwrite").parquet(f"{idx_root}/base")
    base_idx = spark.read.parquet(f"{idx_root}/base")
    want = {r["doc_id"]
            for r in dedup_against_index(delivery, base_idx).collect()}
    assert 0 < len(want) < delivery.count()

    src = str(tmp_path / "delivery")
    delivery.coalesce(1).write.mode("overwrite").parquet(src)
    dest = str(tmp_path / "kept")
    q = incremental_dedup_stream(
        spark, src, delivery.schema, dest, idx_root,
        str(tmp_path / "ckpt"), query_name="t_incdedup")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.read.parquet(dest).collect()}
    assert got == want  # single batch == the q149 batch shape

    # survivors' keys landed as the batch's own delta
    delta = spark.read.parquet(f"{idx_root}/delta")
    assert delta.select("doc_id").distinct().count() == len(want)

    # replay batch 0 (SAME checkpoint, commit removed — the crash
    # window between the delta landing and the commit): the batch must
    # not collide with its own delta, and neither output grows. r8:
    # this used to simulate replay with a FRESH checkpoint, which the
    # owner-marker guard now rejects (below) — a fresh checkpoint
    # restarting at batch 0 would silently ignore every prior delta
    # (ADVICE r7 medium), so the only legitimate replay is the same
    # checkpoint re-running its uncommitted batch.
    os.remove(str(tmp_path / "ckpt" / "commits" / "0"))
    crc = str(tmp_path / "ckpt" / "commits" / ".0.crc")
    if os.path.exists(crc):  # Hadoop local-FS checksum sidecar
        os.remove(crc)
    q2 = incremental_dedup_stream(
        spark, src, delivery.schema, dest, idx_root,
        str(tmp_path / "ckpt"), query_name="t_incdedup2")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got2 = {r["doc_id"] for r in spark.read.parquet(dest).collect()}
    assert got2 == want
    assert (spark.read.parquet(f"{idx_root}/delta")
            .select("doc_id").distinct().count() == len(want))

    # a FRESH checkpoint pointed at the claimed root must fail fast
    # with the compaction remediation, not silently dedup vs base only
    q_bad = incremental_dedup_stream(
        spark, src, delivery.schema, str(tmp_path / "kept_bad"), idx_root,
        str(tmp_path / "ckpt_fresh"), query_name="t_incdedup_bad")
    with pytest.raises(Exception, match="owned by checkpoint"):
        try:
            q_bad.processAllAvailable()
        finally:
            q_bad.stop()
    assert not os.path.exists(str(tmp_path / "kept_bad"))

    # cross-batch: APPEND the same delivery as new files to the same
    # source and RESUME the original checkpoint (one long-lived
    # checkpoint per index root is the operator's contract — batch ids
    # stay monotone, so the replay filter keys correctly). Every
    # SHINGLEABLE doc now collides with batch 0's survivors (or the
    # base); only sub-shingle_k docs (no band keys, documented
    # always-survive semantics) come through. Expectation computed by
    # the BATCH op against base + delta — the twin contract at batch 1.
    full_idx = base_idx.select("band", "band_key").unionByName(
        spark.read.parquet(f"{idx_root}/delta").select("band", "band_key")
    )
    want2 = {r["doc_id"]
             for r in dedup_against_index(delivery, full_idx).collect()}
    delivery.coalesce(1).write.mode("append").parquet(src)
    q3 = incremental_dedup_stream(
        spark, src, delivery.schema, dest, idx_root,
        str(tmp_path / "ckpt"), query_name="t_incdedup3")
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    kept = spark.read.parquet(dest)
    got2b = {r["doc_id"]
             for r in kept.where(F.col("batch_id") == 1).collect()}
    assert got2b == want2
    # every shingleable survivor of batch 0 collides with itself now
    assert want2.isdisjoint(
        {r["doc_id"]
         for r in spark.read.parquet(f"{idx_root}/delta")
         .where(F.col("batch_id") == 0)
         .select("doc_id").distinct().collect()}
    )
    # batch 0's landed survivors are untouched by the second batch
    assert {r["doc_id"]
            for r in kept.where(F.col("batch_id") == 0).collect()} == want

    # cold start: no base, fresh index root — intra-batch rule alone.
    # r8 (ADVICE r7): the source is a fresh SINGLE-COPY dir — `src` has
    # the delivery appended twice by now, and dedup_against_index
    # assumes unique ids within a delivery (keep-min-id lets equal-id
    # duplicates through), so the old set-based assertion could not see
    # doubled survivor ROWS; the count assertion below now would.
    src2 = str(tmp_path / "delivery_single")
    delivery.coalesce(1).write.mode("overwrite").parquet(src2)
    idx2 = str(tmp_path / "idx_cold")
    dest3 = str(tmp_path / "kept3")
    q4 = incremental_dedup_stream(
        spark, src2, delivery.schema, dest3, idx2,
        str(tmp_path / "ckpt4"), query_name="t_incdedup4")
    try:
        q4.processAllAvailable()
    finally:
        q4.stop()
    empty_idx = spark.createDataFrame([], "band int, band_key string")
    want_cold = {r["doc_id"]
                 for r in dedup_against_index(delivery, empty_idx).collect()}
    landed_cold = spark.read.parquet(dest3)
    got_cold = {r["doc_id"] for r in landed_cold.collect()}
    assert got_cold == want_cold
    assert landed_cold.count() == len(want_cold)  # no doubled rows

    # the documented remediation loop end-to-end (r8): compact_index
    # folds the deltas into base and releases the owner marker, after
    # which the previously-rejected FRESH checkpoint succeeds and
    # dedups against the full (compacted) history
    from torcharrow_spark.operators import compact_index

    report = compact_index(idx_root, spark)
    assert report["had_base"] and report["had_delta"]
    # r9: the compacted snapshot is manifest-resolved (indexstore)
    from torcharrow_spark.operators import read_index

    compacted = read_index(spark, idx_root)
    want_fresh = {r["doc_id"]
                  for r in dedup_against_index(delivery, compacted).collect()}
    q5 = incremental_dedup_stream(
        spark, src2, delivery.schema, str(tmp_path / "kept5"), idx_root,
        str(tmp_path / "ckpt5"), query_name="t_incdedup5")
    try:
        q5.processAllAvailable()
    finally:
        q5.stop()
    got_fresh = {r["doc_id"]
                 for r in spark.read.parquet(str(tmp_path / "kept5")).collect()}
    assert got_fresh == want_fresh
    # the compacted index is STRICTER than batch 0's base-only view
    # (it also holds batch 0/1 survivors' keys), so the fresh run's
    # survivors are a subset of the original batch-0 survivors
    assert want_fresh <= want


@pytest.mark.parametrize(
    "twin", ["incremental_dedup_stream", "cdc_incremental_stream"]
)
def test_index_root_claim_fails_fast(spark, tmp_path, twin):
    """Both standing-index twins run the same loop, so both refuse a
    root they cannot relate to their batch ids: a fresh checkpoint on a
    root another checkpoint owns fails naming the owner, and a root
    with delta partitions but no owner marker fails too — neither
    silently dedups against base only."""
    import shutil

    import torcharrow_spark.streaming as streaming

    run = getattr(streaming, twin)
    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon " * 4),
         (2, "one two three four five six " * 4)],
        schema,
    ).coalesce(1).write.parquet(src)
    idx = str(tmp_path / "idx")

    def go(ckpt: str):
        q = run(
            spark, src, spark.read.parquet(src).schema,
            str(tmp_path / f"kept_{ckpt}"), idx, str(tmp_path / ckpt),
            query_name=f"t_claim_{twin}_{ckpt}",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    go("ckpt_a")  # cold start claims the root and lands batch 0's delta
    assert os.path.exists(f"{idx}/delta/batch_id=0")
    with pytest.raises(Exception, match="owned by checkpoint"):
        go("ckpt_b")
    shutil.rmtree(f"{idx}/_owner_checkpoint")
    with pytest.raises(Exception, match="existing delta partitions"):
        go("ckpt_c")
    assert not os.path.exists(str(tmp_path / "kept_ckpt_c"))

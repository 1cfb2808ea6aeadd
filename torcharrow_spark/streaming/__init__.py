"""Structured Streaming surface.

The reference has no streaming at all (SURVEY §2.14) — this is a
beyond-parity extension: event-time windowed aggregation with watermarks
for late data, and a stateful sessionization operator. Batch equivalents
(`windowed_counts_batch`) share the same expression logic so results are
oracle-checkable; the streaming wrappers run the identical plan with
`readStream` + `availableNow` for tests, Kafka/files in production.

Every stream is read by `_source` and ends in one of two sinks:
`_to_memory` (an in-memory table, tests) or `_land` (a ``foreachBatch``
sink whose writes go through `_write_batch`).
"""

from __future__ import annotations

import typing as _ty

from pyspark.sql import DataFrame as SDF
from pyspark.sql import Window
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _source(
    spark: SparkSession, schema, path: str, max_files_per_trigger: int | None = None
) -> SDF:
    """The parquet directory at `path` as a stream. max_files_per_trigger
    splits a static directory into multiple micro-batches so tests can
    exercise cross-batch state."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def _instant_ts(stream: SDF) -> SDF:
    """Watermarks require an instant (ltz) timestamp; session tz is pinned
    to UTC so a `timestamp_ntz` wall-clock round-trips exactly."""
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _to_memory(df: SDF, mode: str, query_name: str):
    """Start `df` into the in-memory table `query_name` (tests);
    production would swap the sink for Kafka/Delta via writeStream."""
    return (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def _write_batch(df: SDF, dest: str, batch_id: int) -> None:
    """The exactly-once landing of one micro-batch: `df` is written to
    its own ``{dest}/batch_id=<n>`` partition directory with
    mode('overwrite'), so a batch re-invoked after a partial/failed
    write (foreachBatch's at-least-once contract) replaces its own
    directory instead of appending duplicates. foreachBatch replays a
    batch id with identical contents, so overwrite-by-batch-id makes the
    replay a no-op — a bare ``mode('append')`` sink would be
    at-least-once only. The overwrite is scoped to the batch's own
    directory, never the table; readers of `dest` see a ``batch_id``
    partition column (standard Hive-style layout; prune or drop it)."""
    df.write.mode("overwrite").parquet(f"{dest}/batch_id={batch_id}")


def _land(stream: SDF, query_name: str, on_batch, checkpoint_path: str | None = None):
    """Start `stream` with `on_batch(batch_df, batch_id)` run on every
    micro-batch (``foreachBatch``), checkpointed at `checkpoint_path`
    when one is given."""
    writer = stream.writeStream.foreachBatch(on_batch)
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.trigger(availableNow=True).queryName(query_name).start()


def _window_agg(
    events: SDF,
    seg_col: str,
    window: str,
    slide: str | None = None,
    exact: bool = False,
    ts_type: str | None = None,
) -> SDF:
    """(window_start, seg_col, n_events, total_value) per event-time
    window of ``ts``. `exact` sums ``value`` as a decimal, so the total
    is independent of accumulation order (and equal between batch,
    streaming, and an external SQL oracle). A stream twin passes its
    source's ``ts`` type as `ts_type`, so window_start has the type its
    batch twin gives even though the stream was cast to an instant for
    its watermark."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    total = (
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
        if exact
        else F.sum("value")
    )
    start = F.col("w.start")
    return (
        events.groupBy(w.alias("w"), F.col(seg_col))
        .agg(F.count(F.lit(1)).alias("n_events"), total.alias("total_value"))
        .select(
            (start if ts_type is None else start.cast(ts_type)).alias("window_start"),
            seg_col,
            "n_events",
            "total_value",
        )
    )


def windowed_counts_batch(
    events: SDF, window: str = "1 hour", slide: str | None = None
) -> SDF:
    """Tumbling (default) or sliding (`slide` < `window`) event-time
    window aggregation (batch plan). A sliding window emits one row per
    window the event falls in — window/slide overlapping copies — which
    is how Spark plans it too (explode before the hash aggregate)."""
    return _window_agg(events, "event_type", window, slide)


def windowed_counts_stream(
    spark: SparkSession,
    path: str,
    schema,
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "windowed_counts",
    output_mode: str = "complete",
    max_files_per_trigger: int | None = None,
):
    """Same aggregation as a streaming query over a parquet directory.
    Watermark bounds state: rows later than `watermark` behind the max
    event time are dropped and their windows finalized. Returns the
    started StreamingQuery writing to an in-memory sink (tests) —
    production would swap the sink for Kafka/Delta via writeStream.

    output_mode='append' emits each window exactly once, when the
    watermark passes its end (the production mode for an append-only
    sink); 'complete' re-emits the full result every batch.
    max_files_per_trigger splits a static directory into multiple
    micro-batches so tests can exercise cross-batch watermark
    advancement."""
    stream = _source(spark, schema, path, max_files_per_trigger)
    ts_type = dict(stream.dtypes).get("ts")
    agg = _window_agg(
        _instant_ts(stream).withWatermark("ts", watermark),
        "event_type", window, ts_type=ts_type,
    )
    return _to_memory(agg, output_mode, query_name)


def with_session_ids(events: SDF, gap_minutes: int = 30) -> SDF:
    """Assign a per-user session sequence number: a new session starts
    when the gap since the user's previous event exceeds `gap_minutes`.
    lag + running sum of session-start flags over a per-user window —
    one shuffle on user_id."""
    w = Window.partitionBy("user_id").orderBy("ts")
    # TIMESTAMP_NTZ has no direct long cast; go through ltz (session=UTC)
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn(
        "session_seq",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


def sessionize(events: SDF, gap_minutes: int = 30) -> SDF:
    """Session-level rollup of `with_session_ids`."""
    with_id = with_session_ids(events, gap_minutes)
    return with_id.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )


def sessionize_stream(
    spark: SparkSession,
    path: str,
    schema,
    gap_minutes: int = 30,
    query_name: str = "sessionize_stream",
):
    """Custom stateful streaming operator (applyInPandasWithState): assign
    per-user session sequence numbers continuously across micro-batches.
    Per-user state = (epoch seconds of last event, current session seq);
    a batch's events are processed in event-time order within the batch,
    and state carries the session across batch boundaries — the part a
    stateless window can't do. Emits (user_id, ts, value, session_seq)
    in append mode to an in-memory sink (tests); swap the sink for
    Kafka/Delta in production.

    State size is O(#users x 16 bytes), hash-partitioned on user_id by
    the streaming shuffle — no skew beyond user activity itself. Matches
    the batch `with_session_ids` when events arrive in order."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _instant_ts(_source(spark, schema, path)).select("user_id", "ts", "value")

    gap_secs = gap_minutes * 60

    def assign(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            last_ts, seq = state.get
        else:
            last_ts, seq = None, 0
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            secs = pdf["ts"].values.astype("datetime64[s]").astype("int64")
            seqs = []
            for s in secs:
                if last_ts is None or s - last_ts > gap_secs:
                    seq += 1
                last_ts = int(s)
                seqs.append(seq)
            out = pdf.assign(session_seq=pd.array(seqs, dtype="int64"))
            yield out[["user_id", "ts", "value", "session_seq"]]
        state.update((int(last_ts) if last_ts is not None else -1, int(seq)))

    out_schema = "user_id long, ts timestamp, value double, session_seq long"
    state_schema = "last_ts long, seq long"
    result = stream.groupBy("user_id").applyInPandasWithState(
        assign, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return _to_memory(result, "append", query_name)


def dedup_batch(df: SDF, keys: _ty.List[str]) -> SDF:
    """Batch reference semantics for dedup_stream: one surviving row per
    key tuple — the one with the smallest (ts, event_id), so the result
    is deterministic regardless of partitioning (streaming keeps the
    first ARRIVAL; arrival order is only well-defined when the source
    feeds micro-batches in event order, which the paired test does)."""
    order = [c for c in ("ts", "event_id") if c in df.columns]
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order])
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def dedup_stream(
    spark: SparkSession,
    path: str,
    schema,
    keys: _ty.List[str],
    watermark: str = "2 hours",
    within_watermark: bool = True,
    query_name: str = "dedup_stream",
    max_files_per_trigger: int | None = None,
):
    """Streaming exact deduplication over a parquet directory: emit the
    first row seen for each key tuple, holding per-key state only until
    the watermark passes (``dropDuplicatesWithinWatermark``) so state
    is bounded by the watermark horizon instead of growing forever —
    the property that makes streaming dedup viable on an unbounded
    100 TB/day feed.  ``within_watermark=False`` uses plain
    ``dropDuplicates`` (unbounded state; only for finite backfills).

    Returns the started StreamingQuery on an in-memory sink (tests);
    production swaps the sink."""
    stream = _instant_ts(
        _source(spark, schema, path, max_files_per_trigger)
    ).withWatermark("ts", watermark)
    out = (
        stream.dropDuplicatesWithinWatermark(keys)
        if within_watermark
        else stream.dropDuplicates(keys)
    )
    return _to_memory(out, "append", query_name)


def hll_stream(
    spark: SparkSession,
    path: str,
    schema,
    value_col: str,
    group_cols: _ty.List[str] | None = None,
    p: int = 8,
    query_name: str = "hll_stream",
):
    """Streaming HyperLogLog: maintain per-group distinct-count
    registers over an unbounded parquet feed.  The register aggregate
    (groupBy bucket -> max rho) is a plain streaming aggregation, so
    Spark keeps at most ``groups x 2**p`` tiny state rows however much
    data flows through — the sketch IS the state bound, no watermark
    needed.  Read the running estimate at any time with
    ``operators.sketch.hll_estimate`` over the sink table.

    Returns the started StreamingQuery on an in-memory sink (tests);
    production swaps the sink for a compacted table."""
    from torcharrow_spark.operators.sketch import hll_registers

    regs = hll_registers(_source(spark, schema, path), value_col, group_cols or [], p)
    return _to_memory(regs, "complete", query_name)


def enriched_counts_batch(
    events: SDF,
    dim: SDF,
    key: str,
    seg_col: str,
    window: str = "1 hour",
) -> SDF:
    """Windowed per-segment counts after enriching each event with a
    dimension attribute (the batch plan; semantics shared with
    :func:`enriched_counts_stream`)."""
    return _window_agg(events.join(F.broadcast(dim), key), seg_col, window, exact=True)


def enriched_counts_stream(
    spark: SparkSession,
    path: str,
    schema,
    dim: SDF,
    key: str,
    seg_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "enriched_counts",
):
    """Stream-static enrichment join + windowed aggregation: the
    canonical Structured Streaming pattern for attaching slowly-
    changing reference data (user tier, content category, geo) to a
    live event feed.

    Scale design: the static side joins as a BROADCAST hash join
    inside every micro-batch — no stream-side shuffle for the join,
    no state for it either (stream-static inner joins are stateless
    by construction); only the downstream windowed aggregation keeps
    state, bounded by the watermark.  The dimension is re-broadcast
    per batch, so updating the static table between batches picks up
    new reference data without restarting the query."""
    stream = _source(spark, schema, path)
    ts_type = dict(stream.dtypes).get("ts")
    enriched = (
        _instant_ts(stream).withWatermark("ts", watermark).join(F.broadcast(dim), key)
    )
    agg = _window_agg(enriched, seg_col, window, exact=True, ts_type=ts_type)
    return _to_memory(agg, "complete", query_name)


def cms_stream(
    spark: SparkSession,
    path: str,
    schema,
    value_col: str,
    d: int = 4,
    w: int = 256,
    query_name: str = "cms_stream",
):
    """Streaming count-min sketch: maintain approximate frequencies
    for an unbounded feed in exactly ``d x w`` state rows.  Cell
    counts merge by SUM (associative), so the streaming aggregation's
    state IS the sketch — like :func:`hll_stream`, no watermark is
    needed and state never grows with cardinality.  Query the sink
    with ``operators.sketch.cms_lookup`` for point frequency
    estimates (overestimates only, standard CM guarantee)."""
    from torcharrow_spark.operators.sketch import cms_sketch

    cells = cms_sketch(_source(spark, schema, path), value_col, d=d, w=w)
    return _to_memory(cells, "complete", query_name)


def correlate_streams_batch(
    a: SDF, b: SDF, key: str, within_s: int
) -> SDF:
    """Batch semantics of :func:`correlate_streams`: pairs of events
    from two feeds with the same key whose timestamps lie within
    ``within_s`` seconds (b at or after a)."""
    us_a = F.expr("unix_micros(cast(a.ts as timestamp))")
    us_b = F.expr("unix_micros(cast(b.ts as timestamp))")
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (us_b >= us_a)
            & (us_b <= us_a + within_s * 1_000_000),
        )
        .select(
            F.col(f"a.{key}").alias(key),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            ((us_b - us_a) / F.lit(1_000_000.0)).alias("lag_s"),
        )
    )


def correlate_streams(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    schema,
    key: str = "user_id",
    within_s: int = 3600,
    watermark: str = "2 hours",
    query_name: str = "correlate_streams",
):
    """Watermarked STREAM-STREAM inner join: correlate two live feeds
    (impression/click, request/response, ...) on a key within a time
    bound — the hardest Structured Streaming join shape, exercised
    end-to-end.

    Scale/state design: both sides declare watermarks and the join
    condition bounds b's event time to [a.ts, a.ts + within_s], so
    Spark can evict buffered rows once the watermark passes — state
    is bounded by (watermark + within_s) worth of events per side,
    NOT the stream history.  Without the time-range conjunct the
    state would grow forever; this helper makes the bound part of
    the API."""
    a, b = (
        _instant_ts(_source(spark, schema, p)).withWatermark("ts", watermark).alias(n)
        for p, n in ((path_a, "a"), (path_b, "b"))
    )
    joined = a.join(
        b,
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr(f"INTERVAL {within_s} SECONDS")),
    ).select(
        F.col(f"a.{key}").alias(key),
        F.col("a.event_id").alias("event_a"),
        F.col("b.event_id").alias("event_b"),
        (
            (
                F.expr("unix_micros(b.ts)") - F.expr("unix_micros(a.ts)")
            )
            / F.lit(1_000_000.0)
        ).alias("lag_s"),
    )
    return _to_memory(joined, "append", query_name)


def stream_to_parquet(
    spark: SparkSession,
    src_path: str,
    schema,
    dest_path: str,
    checkpoint_path: str,
    dedup_keys: _ty.List[str] | None = None,
    query_name: str = "stream_to_parquet",
):
    """Production sink pattern: land a stream into a parquet table via
    ``foreachBatch`` — each micro-batch is a normal batch DataFrame,
    so arbitrary batch logic (dedup against keys, compaction, merges)
    runs inside the sink, and the landing is EXACTLY-ONCE: each batch
    is written to its own ``batch_id=<n>`` partition directory with
    mode('overwrite') (`_write_batch`), so a replayed batch replaces
    its own directory instead of appending duplicates. Readers of
    ``dest_path`` see a ``batch_id`` partition column.

    Scale notes: parquet writes are per-partition files (no driver
    bottleneck); per-batch ``dropDuplicates`` dedups WITHIN the batch
    (cheap, bounded by the trigger size) — cross-batch exact dedup
    belongs to ``dedup_stream`` (watermark-bounded state) or a
    downstream compaction over the landed table."""

    def _sink(batch_df, batch_id: int) -> None:
        out = batch_df.dropDuplicates(dedup_keys) if dedup_keys else batch_df
        _write_batch(out, dest_path, batch_id)

    return _land(_source(spark, schema, src_path), query_name, _sink, checkpoint_path)


def _curate_base(df: SDF, text_col: str, id_col: str, n_shards: int,
                 min_words: int, max_dup_word_frac: float) -> SDF:
    """Shared gate -> hash -> size -> shard prefix of the curation
    pipeline (stateless projections only, so it applies verbatim to a
    batch frame or a stream): Gopher quality gate, 60-bit md5 content
    hash of the normalized text (the oracle-reproducible arithmetic of
    `operators.dedup.exact_dedup_ids`), n_tokens ~ len/4, and the shard
    as content_hash mod n_shards — sharding by CONTENT puts every
    duplicate of a text into the same shard, which is what lets the
    streaming twin dedup and pack in a single per-shard stateful pass."""
    from torcharrow_spark.operators import gopher_filter
    from torcharrow_spark.operators.dedup import _norm_text

    gated = gopher_filter(
        df, text_col, id_col,
        min_words=min_words, max_dup_word_frac=max_dup_word_frac,
        keep_columns=True,
    ).where(F.col("keep"))
    h = F.conv(F.substring(F.md5(_norm_text(F.col(text_col))), 1, 15), 16, 10).cast("long")
    return gated.select(
        F.col(id_col).cast("long").alias("doc_id"),
        h.alias("h"),
        F.greatest(
            (F.length(F.col(text_col)) / F.lit(4)).cast("long"), F.lit(1).cast("long")
        ).alias("n_tokens"),
        F.pmod(h, F.lit(n_shards)).cast("long").alias("shard"),
    )


def curate_pack_batch(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 2048,
    n_shards: int = 8,
    min_words: int = 30,
    max_dup_word_frac: float = 0.6,
) -> SDF:
    """Batch reference semantics for `curate_pack_stream`: gate ->
    exact dedup (keep MIN doc_id per content hash) -> greedy sequential
    packing per shard in doc_id order. Returns
    (doc_id, n_tokens, shard, bin, offset) — cumulative-offset packing,
    bit-identical to the streaming twin when the stream's arrival order
    is doc_id order (the paired test feeds doc_id-sorted files).

    Scale: gate is zero-shuffle; dedup is one hash shuffle on the
    60-bit content key; packing is a per-shard window over the
    SURVIVORS (corpus/n_shards rows per partition)."""
    base = _curate_base(df, text_col, id_col, n_shards, min_words, max_dup_word_frac)
    surv = base.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    kept = base.join(surv, ["h", "doc_id"], "left_semi")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cb = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cb")
    return kept.select("doc_id", "n_tokens", "shard", cb).select(
        "doc_id",
        "n_tokens",
        "shard",
        (F.col("cb") / F.lit(budget)).cast("long").alias("bin"),
        F.pmod(F.col("cb"), F.lit(budget)).cast("long").alias("offset"),
    )


def curate_pack_stream(
    spark: SparkSession,
    path: str,
    schema,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 2048,
    n_shards: int = 8,
    min_words: int = 30,
    max_dup_word_frac: float = 0.6,
    query_name: str = "curate_pack_stream",
    max_files_per_trigger: int | None = None,
    seen_ttl_batches: int | None = None,
):
    """Streaming curation-at-ingest (stateful twin of the q129 family):
    Gopher gate (stateless projection) -> per-shard stateful
    [dedup + sequence-pack] via ``applyInPandasWithState``.

    Design: ONE stateful operator. Sharding by content hash sends every
    duplicate of a text to the same shard-group, so per-shard state =
    (cumulative token offset, seen content hashes) suffices for both
    global exact dedup and contiguous packing — chaining
    dropDuplicates + applyInPandasWithState would be two stateful
    operators in one query (unsupported combination). A group's
    micro-batch arrives as MULTIPLE ~10k-row pandas chunks in arbitrary
    post-shuffle order, so ALL chunks are buffered and concatenated
    before ONE global doc_id sort — sorting each chunk independently
    would let bin/offset assignment (and which duplicate survives)
    depend on the chunking, breaking the bit-identical contract with
    `curate_pack_batch`. Buffering is bounded by one shard's share of a
    micro-batch (cap it with ``max_files_per_trigger``), never by the
    corpus. Docs are packed in doc_id order WITHIN each micro-batch and
    state carries (offset, seen) across batches, so with doc_id-ordered
    arrival the output is bit-identical to `curate_pack_batch`.

    State size: 8 bytes offset + 16 bytes per distinct doc per shard.
    With ``seen_ttl_batches=None`` the seen-set grows with the corpus —
    exact global dedup, right for finite backfills (and the
    stream==batch tests). For an UNBOUNDED production feed pass
    ``seen_ttl_batches=N``: each seen-hash is stamped with the batch
    tick that last saw it and entries idle for more than N of this
    shard's batches are pruned, so state is bounded by ~(N+1) batches
    of distinct hashes. The trade is explicit and standard for
    streaming dedup: a duplicate arriving more than N batches after its
    original is re-admitted (dedup horizon = TTL); the packing offset
    (`cum`) is NEVER aged, so bin/offset continuity survives pruning.
    Emits (doc_id, n_tokens, shard, bin, offset) append to an
    in-memory sink (tests); swap for a real sink in production."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _source(spark, schema, path, max_files_per_trigger)
    base = _curate_base(stream, text_col, id_col, n_shards, min_words, max_dup_word_frac)

    cols = ["doc_id", "n_tokens", "shard", "bin", "offset"]

    def pack(key, pdf_iter, state: GroupState):
        (shard,) = key
        if state.exists:
            cum, tick, hashes, stamps = state.get
            seen = dict(zip(hashes, stamps))
        else:
            cum, tick, seen = 0, 0, {}
        tick += 1
        # buffer + concat EVERY chunk of this group's micro-batch, then
        # sort ONCE — per-chunk sorting diverges from the batch twin
        # whenever a group spans >1 Arrow chunk (chunk order is
        # arbitrary post-shuffle)
        chunks = [pdf for pdf in pdf_iter]
        pdf = (
            pd.concat(chunks, ignore_index=True).sort_values("doc_id")
            if chunks
            else pd.DataFrame()
        )
        rows = []
        if len(pdf):
            for did, hh, nt in zip(pdf["doc_id"], pdf["h"], pdf["n_tokens"]):
                hh = int(hh)
                if hh in seen:
                    seen[hh] = tick  # refresh idle clock on re-sight
                    continue
                seen[hh] = tick
                rows.append((int(did), int(nt), int(shard), cum // budget, cum % budget))
                cum += int(nt)
        if rows:
            yield pd.DataFrame(rows, columns=cols)
        else:
            yield pd.DataFrame({c: pd.Series(dtype="int64") for c in cols})
        if seen_ttl_batches is not None:
            seen = {h: t for h, t in seen.items() if tick - t <= seen_ttl_batches}
        ordered = sorted(seen.items())
        state.update(
            (int(cum), int(tick), [h for h, _ in ordered], [t for _, t in ordered])
        )

    out_schema = "doc_id long, n_tokens long, shard long, bin long, offset long"
    state_schema = "cum long, tick long, hashes array<long>, stamps array<long>"
    result = base.groupBy("shard").applyInPandasWithState(
        pack, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return _to_memory(result, "append", query_name)


def contamination_stream(
    spark: SparkSession,
    path: str,
    schema,
    test_df: SDF,
    dest_path: str,
    k: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_name: str = "contamination_stream",
    max_files_per_trigger: int | None = None,
):
    """Benchmark-contamination check AT INGEST: every arriving training
    document is scored against the static test/benchmark set — the
    fraction of its k-gram shingles that appear anywhere in the
    benchmark corpus (`operators.dedup.contamination` with the roles
    transposed: the STREAM is the train side being screened, the
    benchmark is static).

    Shape: ``foreachBatch`` running the batch operator per micro-batch,
    landing each batch's scores in its own ``batch_id=<n>`` parquet
    partition — the exactly-once sink of :func:`stream_to_parquet`.
    foreachBatch is exactly right here: the per-document metric depends
    only on the document itself and the STATIC benchmark set, so there
    is no cross-batch state to carry and stream == batch holds under
    ANY micro-batch partitioning (the paired test proves it across
    several files). Production pins the benchmark shingle table with
    ``persist()`` before starting the stream; readers of ``dest_path``
    see (doc_id, n_shingles, n_overlap, overlap_frac, contaminated)
    plus the batch_id partition column."""
    from torcharrow_spark.operators.dedup import contamination

    def _sink(batch_df, batch_id: int) -> None:
        scored = contamination(
            train=test_df, test=batch_df, k=k, threshold=threshold,
            text_col=text_col, id_col=id_col,
        )
        _write_batch(scored, dest_path, batch_id)

    stream = _source(spark, schema, path, max_files_per_trigger)
    return _land(stream, query_name, _sink)


def term_stats_batch(df: SDF, text_col: str = "text", id_col: str = "doc_id") -> SDF:
    """Batch reference semantics for `term_stats_stream`: the corpus
    document-frequency / total-term-frequency table
    ``(term, df, tf_total)`` — the IDF side of TF-IDF and the vocab
    table in one aggregate. One explode + one vocabulary-sized
    HashAggregate (map-side combine), the same plan `relevance.tf_idf`
    builds its df table with."""
    from torcharrow_spark.operators.textstats import _words

    words = _words(F.col(text_col))
    per_doc = df.select(
        F.col(id_col).alias("doc_id"), F.explode(words).alias("term")
    ).where(F.col("term") != "")
    return (
        per_doc.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("tf_total"),
        )
    )


def term_stats_stream(
    spark: SparkSession,
    path: str,
    schema,
    text_col: str = "text",
    query_name: str = "term_stats_stream",
    max_files_per_trigger: int | None = None,
):
    """Streaming document-frequency / vocab-drift twin of the relevance
    family (the last batch family without one, r4 verdict ask #7): a
    NATIVE Structured-Streaming stateful aggregation maintains the
    corpus (term, df, tf_total) table incrementally as documents arrive
    — df is the count of docs containing the term, tf_total the corpus
    term count. COMPLETE output mode re-emits the vocabulary-sized
    table each micro-batch (state and output are bounded by vocabulary
    size, NOT corpus size — the property that keeps this viable on an
    unbounded feed); reading the memory sink between batches shows
    vocabulary drift (new terms, moving df mass) at ingest.

    IDF at any instant derives from this table plus the doc count (a
    1-row streaming count, or distinct doc_ids of the landed tf table
    from :func:`tf_stream`); joining it against tf_stream's landed
    per-doc term table reproduces `relevance.tf_idf` exactly — the
    paired test proves final state == `term_stats_batch` == the batch
    df table, bit for bit.

    Plan note: a doc arrives WHOLE as one row, so its DISTINCT term
    set is a stateless projection (`array_distinct` before the explode)
    — no chained dropDuplicates state, which complete mode would
    reject. The single stateful operator is the vocab-sized groupBy:
    df sums the distinct-pair tag, tf_total counts the raw pair rows,
    both from one tagged union of the two stateless explodes. A doc
    REPLAYED by the source would double-count (exact-once doc delivery
    is the upstream `dedup_stream` / `curate_pack_stream` contract)."""
    from torcharrow_spark.operators.textstats import _words

    stream = _source(spark, schema, path, max_files_per_trigger)
    words = _words(F.col(text_col))
    raw = stream.select(F.explode(words).alias("term")).where(
        F.col("term") != ""
    ).select("term", F.lit(0).alias("__is_df__"))
    distinct_pairs = stream.select(
        F.explode(F.array_distinct(words)).alias("term")
    ).where(F.col("term") != "").select("term", F.lit(1).alias("__is_df__"))
    tagged = raw.unionByName(distinct_pairs)
    stats = tagged.groupBy("term").agg(
        F.sum("__is_df__").alias("df"),
        (F.count(F.lit(1)) - F.sum("__is_df__")).alias("tf_total"),
    )
    return _to_memory(stats, "complete", query_name)


def tf_stream(
    spark: SparkSession,
    path: str,
    schema,
    dest_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_name: str = "tf_stream",
    max_files_per_trigger: int | None = None,
):
    """Per-document term frequencies AT INGEST: lands
    `relevance.term_frequencies` of each micro-batch into its own
    ``batch_id=<n>`` parquet partition — the exactly-once sink of
    `contamination_stream`. tf is a pure per-document quantity, so
    stream == batch holds under any micro-batch partitioning; joining
    the landed table against `term_stats_stream`'s drifting df table
    gives windowed TF-IDF without ever rescanning old text."""
    from torcharrow_spark.operators.relevance import term_frequencies

    def _sink(batch_df, batch_id: int) -> None:
        _write_batch(term_frequencies(batch_df, text_col, id_col), dest_path, batch_id)

    stream = _source(spark, schema, path, max_files_per_trigger)
    return _land(stream, query_name, _sink)


def dedup_windowed_counts_batch(
    events: SDF, keys: _ty.List[str], window: str = "1 hour"
) -> SDF:
    """Batch twin of `dedup_windowed_counts_stream`: exact dedup (first
    row per key tuple) THEN tumbling event-time window counts — the
    composition an ingest pipeline wants when the upstream feed
    at-least-once-duplicates events and the metric must count each
    event once."""
    return windowed_counts_batch(dedup_batch(events, keys), window)


def dedup_windowed_counts_stream(
    spark: SparkSession,
    path: str,
    schema,
    keys: _ty.List[str],
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "dedup_windowed_counts",
    max_files_per_trigger: int | None = None,
):
    """CHAINED multi-stateful streaming (r5): watermark ->
    `dropDuplicatesWithinWatermark` -> windowed aggregation in ONE
    query — two stateful operators back to back, the append-mode chain
    Structured Streaming supports natively. This is the shape the
    single-stateful operators could not express (the
    `curate_pack_stream` docstring's "once multi-stateful queries
    land" — for watermarked event streams, they have): exactly-once
    metric counting over an at-least-once feed without landing an
    intermediate table.

    State: dedup keys held until the watermark passes (bounded by the
    horizon, like `dedup_stream`); window state finalized and emitted
    append-mode when the watermark passes each window's end. Stream ==
    batch twin whenever duplicates of an event share its event time
    (the at-least-once-redelivery case) and arrive in event order —
    the paired test proves it across micro-batches."""
    stream = _source(spark, schema, path, max_files_per_trigger)
    ts_type = dict(stream.dtypes).get("ts")
    deduped = _instant_ts(stream).withWatermark(
        "ts", watermark
    ).dropDuplicatesWithinWatermark(keys)
    agg = _window_agg(deduped, "event_type", window, ts_type=ts_type)
    return _to_memory(agg, "append", query_name)


def quality_scores_batch(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    lr: float = 1.0,
    iters: int = 3,
    min_words: int = 30,
    max_dup_word_frac: float = 0.6,
) -> SDF:
    """Batch reference semantics for `quality_scores_stream`: Gopher-
    gate the corpus, fit the q140-shape logistic quality model on the
    SURVIVORS (features: bias, log word count, mean word length; label:
    document is English), and score every survivor. Returns (doc_id,
    label, score). The decimal-exact training (`classifier.logreg_train`)
    makes the weights — hence every score — bit-identical under any
    partitioning, which is what lets the streaming twin prove
    stream == batch exactly for the single-batch case."""
    from torcharrow_spark.operators import (
        gopher_filter,
        logreg_score,
        logreg_train,
    )
    from torcharrow_spark.operators.relevance import _round8
    from torcharrow_spark.operators.textstats import _words

    gated = gopher_filter(
        df, text_col, id_col,
        min_words=min_words, max_dup_word_frac=max_dup_word_frac,
        keep_columns=True,
    ).where(F.col("keep"))
    nw = F.size(_words(F.col(text_col))).cast("double")
    feat = gated.where(nw > 0).select(
        F.col(id_col).alias("doc_id"),
        F.lit(1.0).alias("x0"),
        _round8(F.log(F.lit(1.0) + nw)).alias("x1"),
        _round8(F.length(F.col(text_col)).cast("double") / nw).alias("x2"),
        F.when(F.col(lang_col) == "en", F.lit(1.0))
        .otherwise(F.lit(0.0)).alias("y"),
    )
    w = logreg_train(feat, ["x0", "x1", "x2"], "y", lr=lr, iters=iters)
    return logreg_score(feat, ["x0", "x1", "x2"], w).select(
        "doc_id", F.col("y").cast("long").alias("label"), "score"
    )


def quality_scores_stream(
    spark: SparkSession,
    path: str,
    schema,
    dest_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    lr: float = 1.0,
    iters: int = 3,
    min_words: int = 30,
    max_dup_word_frac: float = 0.6,
    query_name: str = "quality_scores_stream",
    max_files_per_trigger: int | None = None,
):
    """ONLINE quality-classifier refresh (r6, r5 verdict ask #6): the
    learned filter was the one batch-bound link in the q145 curation
    shape; this closes it. Each micro-batch is Gopher-gated and the
    logistic quality model is RE-FIT on that batch's survivors
    (`foreachBatch` over `logreg_train`/`logreg_score` — training is
    iters scans of the bounded batch + a dim-sized exact-decimal
    aggregate each, so fit cost is bounded by the trigger size), then
    every survivor is scored with the fresh weights and landed in its
    own ``batch_id=<n>`` parquet partition — the exactly-once sink of
    `stream_to_parquet`.

    Semantics by design: weights drift WITH the stream — each batch is
    scored by the model of its own data, which is the production
    "refresh at ingest" behavior (catch quality drift as it lands),
    not a frozen global model. For the single-batch case this is
    bit-identical to `quality_scores_batch` (paired test); a pinned
    global model is `logreg_train` once + `logreg_score` inside any
    sink. Readers of ``dest_path`` see (doc_id, label, score) plus the
    batch_id partition column."""

    def _sink(batch_df, batch_id: int) -> None:
        scored = quality_scores_batch(
            batch_df, text_col, id_col, lang_col,
            lr=lr, iters=iters,
            min_words=min_words, max_dup_word_frac=max_dup_word_frac,
        )
        _write_batch(scored, dest_path, batch_id)

    stream = _source(spark, schema, path, max_files_per_trigger)
    return _land(stream, query_name, _sink, checkpoint_path)


def cdc_incremental_stream(
    spark: SparkSession,
    path: str,
    schema,
    dest_path: str,
    index_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shared_frac: float = 0.5,
    query_name: str = "cdc_incremental_stream",
    max_files_per_trigger: int | None = None,
):
    """INGEST-TIME incremental CDC dedup (r9): the chunk-level twin of
    `incremental_dedup_stream` — same standing-index loop ("gate
    tonight's delivery against everything we kept, then fold the
    survivors in"), but the index is the corpus's distinct CDC chunk
    hashes and the gate is BYTE-FRACTION overlap
    (`operators.cdc.cdc_dedup_against_index`), so a delivery page
    stitched mostly from already-kept passages is dropped even though
    no kept document resembles it as a whole. Each micro-batch:

    1. resolves the standing index: manifest-resolved base snapshot
       (`indexstore.read_index`, absent = cold start) plus every
       earlier batch's `{index_path}/delta/batch_id=N`, with a
       REPLAYED batch's own delta filtered out by batch id;
    2. scores every batch doc's shared-byte fraction against that
       index and keeps those under ``max_shared_frac``; intra-batch
       near-dup between two NEW docs is deliberately out of scope here
       (run `cdc_dedup_stats` downstream) — the index gate must not
       depend on intra-batch ordering;
    3. lands survivors in `{dest_path}/batch_id=N` and their distinct
       chunk hashes in `{index_path}/delta/batch_id=N`, both
       overwrite-by-batch-id (exactly-once under replay; the standing
       index is the UNION of base + deltas because chunk-hash rows are
       content-keyed, so union IS the merged index).

    Shares `_claim_index_root`'s one-checkpoint-per-root contract and
    the compact/publish lifecycle with the MinHash twin. Single-batch
    case is bit-identical to `cdc_dedup_against_index(batch, base)`
    (paired pytest), which makes the twin oracle-checkable through
    q161's batch side."""
    from torcharrow_spark.operators.cdc import cdc_chunks, cdc_dedup_against_index

    def gate(batch_df, index):
        scored = cdc_dedup_against_index(
            batch_df, index, text_col, id_col, max_shared_frac=max_shared_frac
        )
        return batch_df.join(scored.where(F.col("keep")).select(id_col), id_col)

    return _index_twin(
        spark, _source(spark, schema, path, max_files_per_trigger), query_name,
        dest_path, index_path, checkpoint_path, "h string", gate,
        lambda landed: cdc_chunks(landed, text_col, id_col).select("h").distinct(),
    )


def _score_and_gate(cleaned: SDF, id_col: str, keep: tuple, min_quality: float) -> SDF:
    """Shared tail of the web/WARC ingest chains: fused textstats
    quality + language-ID projection over normalized ``text``, its md5,
    and the ``min_quality`` gate. Returns (id_col, *keep, text_md5,
    quality, pred_lang)."""
    from torcharrow_spark.operators.textstats import (
        _language_exprs,
        _quality_exprs,
        _words,
    )

    base = cleaned.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.col("text"),
        _words(F.col("text")).alias("__w__"),
    )
    quality = _quality_exprs("text", words_sql="__w__")[-1]
    pred_lang = _language_exprs("text", words_sql="__w__")[0]
    scored = base.select(
        id_col, *keep, F.md5(F.col("text")).alias("text_md5"), quality, pred_lang
    )
    return scored.where(F.col("quality") >= min_quality)


def web_ingest_batch(
    df: SDF,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
) -> SDF:
    """Batch reference semantics for `web_ingest_stream`: the raw-web
    front door of a curation pipeline as ONE stateless chain —
    html_extract (block segmentation + link-density boilerplate drop)
    -> textnorm.normalize_text (mojibake repair, NFC, control strip,
    with the extracted title riding through as a passthrough column so
    nothing joins) -> fused textstats quality + language-ID projection
    -> quality gate. Returns (doc_id, title, was_mojibake, n_chars,
    text_md5, quality, pred_lang) for pages clearing ``min_quality``.

    Every stage is per-row (zero shuffle), so the stream twin needs no
    state store and stream == batch holds exactly, micro-batch by
    micro-batch."""
    from torcharrow_spark.operators import html_extract
    from torcharrow_spark.operators.textnorm import normalize_text

    pages = html_extract(df, html_col, id_col)
    cleaned = normalize_text(
        pages.select(id_col, "title", "text"),
        text_col="text",
        id_col=id_col,
        passthrough=("title",),
    )
    return _score_and_gate(
        cleaned, id_col, ("title", "was_mojibake", "n_chars"), min_quality
    )


def web_ingest_stream(
    spark: SparkSession,
    path: str,
    schema,
    dest_path: str,
    checkpoint_path: str,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    query_name: str = "web_ingest_stream",
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of `web_ingest_batch` (r9): raw HTML pages land
    continuously; each micro-batch is extracted, repaired, scored, and
    gated with the SAME stateless chain, then written to its own
    ``batch_id=<n>`` parquet partition — the exactly-once sink shared
    by the other foreachBatch twins. Because the chain holds no state,
    stream == batch is exact for any micro-batch split of the source."""

    def _sink(batch_df, batch_id: int) -> None:
        curated = web_ingest_batch(
            batch_df, html_col=html_col, id_col=id_col, min_quality=min_quality
        )
        _write_batch(curated, dest_path, batch_id)

    stream = _source(spark, schema, path, max_files_per_trigger)
    return _land(stream, query_name, _sink, checkpoint_path)


def warc_ingest_batch(
    df: SDF,
    warc_col: str = "warc",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
) -> SDF:
    """Batch reference semantics for `warc_ingest_stream`: the
    web-ingest front door from RAW WARC BYTES (r10 — `web_ingest_batch`
    starts from decoded HTML; real crawl deliveries land as WARC).
    One stateless chain: warc_records (gzip members, record framing)
    -> 200/text-html gate -> charset-sniffing decode_payloads (BOM >
    meta > strict UTF-8 > Latin-1, target URI rides passthrough) ->
    html_extract (boilerplate gate) -> normalize_text (mojibake
    repair) -> fused quality/language scoring -> quality gate. Returns
    (doc_id, target_uri, encoding, title, was_mojibake, n_chars,
    text_md5, quality, pred_lang). Every stage is per-row (zero
    shuffle), so the stream twin needs no state store and stream ==
    batch holds exactly under ANY micro-batch split. The q166 capstone
    oracle-checks this chain's semantics end-to-end; the pytest twin
    pins stream == batch."""
    from torcharrow_spark.operators import html_extract, warc_records
    from torcharrow_spark.operators.textnorm import (
        decode_payloads,
        normalize_text,
    )

    recs = warc_records(df, warc_col, id_col)
    pages = recs.where(
        (F.col("http_status") == 200)
        & F.col("content_type").startswith("text/html")
    ).select(id_col, "target_uri", "payload")
    decoded = decode_payloads(
        pages, "payload", id_col, passthrough=("target_uri",)
    )
    extracted = html_extract(
        decoded, html_col="text", id_col=id_col,
        passthrough=("encoding", "target_uri"),
    )
    cleaned = normalize_text(
        extracted.select(id_col, "title", "text", "encoding", "target_uri"),
        text_col="text",
        id_col=id_col,
        passthrough=("title", "encoding", "target_uri"),
    )
    return _score_and_gate(
        cleaned, id_col,
        ("target_uri", "encoding", "title", "was_mojibake", "n_chars"),
        min_quality,
    )


def warc_ingest_stream(
    spark: SparkSession,
    path: str,
    schema,
    dest_path: str,
    checkpoint_path: str,
    warc_col: str = "warc",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    query_name: str = "warc_ingest_stream",
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of `warc_ingest_batch` (r10): WARC captures land
    continuously (the Common Crawl delivery shape); each micro-batch
    runs the SAME stateless bytes->curated-text chain and writes to
    its own ``batch_id=<n>`` parquet partition — the exactly-once sink
    shared by every foreachBatch twin. Stateless chain => stream ==
    batch EXACT for any micro-batch split of the source."""

    def _sink(batch_df, batch_id: int) -> None:
        curated = warc_ingest_batch(
            batch_df, warc_col=warc_col, id_col=id_col,
            min_quality=min_quality,
        )
        _write_batch(curated, dest_path, batch_id)

    stream = _source(spark, schema, path, max_files_per_trigger)
    return _land(stream, query_name, _sink, checkpoint_path)


def _path_missing(e: Exception) -> bool:
    """True only for Spark's "path does not exist" analysis error."""
    from pyspark.errors import AnalysisException

    return isinstance(e, AnalysisException) and (
        getattr(e, "getCondition", lambda: None)() == "PATH_NOT_FOUND"
        or "PATH_NOT_FOUND" in str(e)
        or "Path does not exist" in str(e)
    )


def _claim_index_root(
    spark: SparkSession, index_path: str, checkpoint_path: str
) -> None:
    """Bind an incremental-dedup index root to ONE streaming checkpoint
    (r8): the delta replay guard
    (``batch_id < current``) is only correct while batch ids are
    monotone over the root's lifetime — i.e. under the SAME checkpoint.
    A fresh/recreated checkpoint restarts at batch 0, so the guard
    would silently exclude EVERY prior delta and dedup new deliveries
    against base only — duplicates admitted permanently, the exact
    failure `_try_read_parquet`'s error discipline exists to prevent.

    The contract is enforced with an owner marker
    (``{index_path}/_owner_checkpoint``, written when a checkpoint
    processes its batch 0): a later batch-0 run whose checkpoint path
    differs from the recorded owner FAILS FAST with the remediation —
    compact the deltas into ``{index_path}/base`` (see
    ``operators.dedup.compact_index``) before pointing a fresh
    checkpoint at the root. An unmarked root that already has delta
    partitions (assembled by hand, or by a pre-r8 run) also fails:
    there is no way to tell its deltas' batch ids relate to THIS
    checkpoint. A genuine same-checkpoint replay of batch 0 (crash
    after the delta landed, before the commit) re-reads its OWN marker
    and proceeds — replay idempotence is unchanged."""
    marker = f"{index_path}/_owner_checkpoint"
    owner = None
    try:
        rows = spark.read.text(marker).collect()
        owner = rows[0]["value"].strip() if rows else ""
    except Exception as e:
        if not _path_missing(e):
            raise
    if owner is not None:
        if owner != checkpoint_path:
            raise ValueError(
                f"index root {index_path!r} is owned by checkpoint "
                f"{owner!r}, but this stream runs with checkpoint "
                f"{checkpoint_path!r}. A fresh checkpoint restarts at "
                "batch 0 and would silently ignore every existing delta "
                "(deduping against base only — duplicates admitted). "
                "Either resume the original checkpoint, or compact the "
                "deltas into the base index first "
                "(operators.dedup.compact_index) and start clean."
            )
        return
    if _try_read_parquet(spark, f"{index_path}/delta") is not None:
        raise ValueError(
            f"index root {index_path!r} has existing delta partitions "
            "but no owner marker — its deltas' batch ids cannot be "
            "related to this (new) checkpoint's. Compact the deltas "
            "into the base index first (operators.dedup.compact_index), "
            "then start the fresh checkpoint."
        )
    spark.createDataFrame(
        [(checkpoint_path,)], "value string"
    ).coalesce(1).write.mode("overwrite").text(marker)


def _try_read_parquet(spark: SparkSession, path: str):
    """Parquet read that returns None ONLY when the path does not exist
    yet (cold start / no deltas). Any OTHER failure — permissions, a
    corrupt footer, a transient FS error — re-raises: silently treating
    a broken standing index as 'nothing kept yet' would dedup the batch
    against nothing and permanently pollute the corpus with duplicates
    (r7 review finding)."""
    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis so a missing path raises HERE
        return df
    except Exception as e:
        if _path_missing(e):
            return None
        raise


def _index_twin(
    spark: SparkSession,
    stream: SDF,
    query_name: str,
    dest_path: str,
    index_path: str,
    checkpoint_path: str,
    index_schema: str,
    gate,
    index_rows,
):
    """The standing-index loop of `incremental_dedup_stream` and
    `cdc_incremental_stream`. Each micro-batch claims the root at batch
    0 (`_claim_index_root`), unions the manifest-resolved base with
    every earlier batch's delta (an empty `index_schema` frame on a cold
    start), lands ``gate(batch_df, index)`` in `dest_path`, and writes
    ``index_rows(landed)`` as this batch's delta; both writes go through
    `_write_batch`."""
    from torcharrow_spark.operators.indexstore import read_index

    cols = [f.split()[0] for f in index_schema.split(",")]

    def _sink(batch_df, batch_id: int) -> None:
        if batch_id == 0:
            # fail fast if a FRESH checkpoint points at a root whose
            # deltas belong to another checkpoint's batch-id sequence
            _claim_index_root(spark, index_path, checkpoint_path)
        # r9: the standing base is MANIFEST-RESOLVED (the rename-free
        # versioned layout of operators.indexstore — compact_index
        # publishes base_v{N} snapshots; the legacy bare `base` dir
        # still resolves for pre-r9 roots)
        base = read_index(spark, index_path)
        delta = _try_read_parquet(spark, f"{index_path}/delta")
        if delta is not None:
            # a REPLAYED batch (crash after its delta landed but before
            # the checkpoint committed) must not see its own keys — it
            # would collide with itself and drop every doc; partition
            # pruning makes this a directory-level filter
            delta = delta.where(F.col("batch_id") < F.lit(int(batch_id)))
        parts = [d.select(*cols) for d in (base, delta) if d is not None]
        if parts:
            index = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        else:  # cold start: nothing kept yet
            index = spark.createDataFrame([], index_schema)
        _write_batch(gate(batch_df, index), dest_path, batch_id)
        # derive the index delta from the JUST-WRITTEN survivors file,
        # not the survivors plan: re-evaluating the uncached plan would
        # run the gate's index join a second time per batch (r7
        # review), and the read-back is also exactly what a replayed
        # batch must key on
        landed = spark.read.parquet(f"{dest_path}/batch_id={batch_id}")
        _write_batch(index_rows(landed), f"{index_path}/delta", batch_id)

    return _land(stream, query_name, _sink, checkpoint_path)


def incremental_dedup_stream(
    spark: SparkSession,
    path: str,
    schema,
    dest_path: str,
    index_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    query_name: str = "incremental_dedup_stream",
    max_files_per_trigger: int | None = None,
):
    """INGEST-TIME near-dedup (r7): the streaming twin of
    `operators.dedup_against_index` (q149's batch shape) — the
    production loop at 100 TB is "dedup tonight's delivery against
    everything we kept, then make what survived part of 'everything we
    kept'". Each micro-batch:

    1. reads the STANDING MinHash index: the manifest-resolved base
       snapshot (`operators.indexstore.read_index` — `base_v{N}`
       published by `publish_index`/`compact_index`, or a legacy bare
       `{index_path}/base` dir; absent is fine: cold start) plus every
       `{index_path}/delta/batch_id=N` written by earlier batches;
    2. drops batch docs that collide with the index or with a
       lower-id doc of the same batch (`dedup_against_index` verbatim —
       same no-pair-emission plan, immune to hot buckets by
       construction);
    3. lands survivors in `{dest_path}/batch_id=N` and the survivors'
       OWN band keys in `{index_path}/delta/batch_id=N`, both
       exactly-once by batch id like `stream_to_parquet`: a replayed
       batch id overwrites its own output and its own index delta,
       never appends a duplicate, and the standing index is the
       UNION of base + deltas (band keys are per-doc, so union IS the
       merged index — `minhash_index` scale notes).

    Later batches therefore dedup against earlier batches' survivors
    with no recomputation of anything already indexed. For the
    single-batch case this is bit-identical to
    `dedup_against_index(batch, base_index)` (paired pytest), which is
    what makes the twin oracle-checkable through its batch side.

    CONTRACT (r8): one long-lived checkpoint per index
    root. The replay guard keys deltas on the streaming batch id,
    which is only monotone within a single checkpoint — so batch 0
    CLAIMS the root with an owner marker, and a later run that points
    a DIFFERENT (fresh) checkpoint at the same root fails fast instead
    of silently deduping against base only (see `_claim_index_root`).
    To rotate checkpoints, compact the deltas into the base first
    (`operators.dedup.compact_index`), which clears both the deltas
    and the marker."""
    from torcharrow_spark.operators.dedup import (
        _banded_keys,
        dedup_against_index,
    )

    def gate(batch_df, index):
        return dedup_against_index(
            batch_df, index, text_col, id_col,
            shingle_k=shingle_k, num_hashes=num_hashes, bands=bands,
        )

    def index_rows(landed):
        return _banded_keys(
            landed, text_col, id_col, shingle_k, num_hashes, bands
        ).select("band", "band_key", id_col)

    return _index_twin(
        spark, _source(spark, schema, path, max_files_per_trigger), query_name,
        dest_path, index_path, checkpoint_path, "band int, band_key string",
        gate, index_rows,
    )

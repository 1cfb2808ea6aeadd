"""Physical-plan audits: the scale-sensitive properties SURVEY §4 commits
to — pushdown reaches the scan, read schemas are pruned, dimension joins
broadcast, aggregates stay hash-based — checked on the real plans via
plans.plan_stats/formatted_plan."""

import re

from contextlib import contextmanager

from torcharrow_spark.plans import formatted_plan, plan_stats
from torcharrow_spark.queries import QUERIES


@contextmanager
def _no_spread():
    """Pin the ORGANIC-SCALE plan: at a healthy (multi-file) layout
    spread_narrow_source never fires, so zero-exchange pins hold; the
    bench tables are single-row-group, so tests that assert those
    shapes build with the spread replaced by identity (every caller
    imports it from `preprocess` at call time, so all of them see the
    patch). The spread exchange itself is pinned by
    test_spread_narrow_source_plan."""
    from torcharrow_spark.operators import preprocess

    spread = preprocess.spread_narrow_source
    preprocess.spread_narrow_source = lambda df: df
    try:
        yield
    finally:
        preprocess.spread_narrow_source = spread


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """q02's l_quantity predicate must appear in PushedFilters."""
    sdf = QUERIES["q02_select_where"](spark, sf_dir)
    text = formatted_plan(sdf)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", text)
    assert m and "l_quantity" in m.group(1), text[:2000]


def test_column_pruning_reaches_scan(spark, sf_dir):
    """q01 touches 7 of lineitem's 16 columns; the scan must not read
    the rest."""
    sdf = QUERIES["q01_pricing_summary"](spark, sf_dir)
    text = formatted_plan(sdf)
    m = re.search(r"ReadSchema: struct<([^>]*)>", text)
    assert m, text[:2000]
    read_cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert "l_comment" not in read_cols and "l_shipinstruct" not in read_cols
    assert len(read_cols) <= 8, read_cols


def test_dim_join_broadcasts(spark, sf_dir):
    """q03's customer side is a broadcast hash join, not a shuffle join."""
    stats = plan_stats(QUERIES["q03_join_topk"](spark, sf_dir))
    assert stats["broadcast_joins"] >= 1, stats


def test_groupby_is_hash_aggregate(spark, sf_dir):
    """q01 and the minhash signature aggregate must plan as HashAggregate
    (SortAggregate would per-partition-sort the whole input)."""
    for q in ("q01_pricing_summary", "q03_join_topk", "q19_minhash_pairs"):
        text = formatted_plan(QUERIES[q](spark, sf_dir))
        assert "HashAggregate" in text, q
        assert "SortAggregate" not in text, f"{q} fell back to SortAggregate"


def test_narrow_ops_have_no_shuffle(spark, sf_dir):
    """Pure projections (text stats, fingerprints) must be scan->project,
    zero exchanges."""
    with _no_spread():
        for q in ("q24_text_stats", "q25_fingerprint"):
            stats = plan_stats(QUERIES[q](spark, sf_dir))
            assert stats["exchanges"] == 0, (q, stats)


def test_whole_stage_codegen_present(spark, sf_dir):
    """Relational queries should execute in whole-stage codegen spans.
    AQE wraps the plan before execution, hiding codegen subtrees from
    explain — probe with AQE off (planning-only toggle; the production
    sessions keep AQE on)."""
    try:
        for q in ("q01_pricing_summary", "q03_join_topk", "q05_dedup_keep_first"):
            # build first: query loaders call tune() which re-enables AQE;
            # planning is lazy, so flip the conf just before explain
            sdf = QUERIES[q](spark, sf_dir)
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            text = sdf._sc._jvm.PythonSQLUtils.explainString(
                sdf._jdf.queryExecution(), "codegen"
            )
            m = re.search(r"Found (\d+) WholeStageCodegen subtrees", text)
            assert m and int(m.group(1)) >= 1, (q, text[:200])
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key with equal bucket counts ->
    the sort-merge join consumes bucket layout directly: zero Exchange
    in the plan (the write-once/join-many pattern for 100 TB facts)."""
    import torcharrow_spark as ts

    o = ts.read_parquet(f"{sf_dir}/orders.parquet", spark)
    c = ts.read_parquet(f"{sf_dir}/customer.parquet", spark)
    ts.write_bucketed(o, "t_orders_b", ["o_custkey"], 8, sort_cols=["o_custkey"])
    ts.write_bucketed(c, "t_customer_b", ["c_custkey"], 8, sort_cols=["c_custkey"])
    try:
        ob = ts.read_table("t_orders_b", spark).to_spark()
        cb = ts.read_table("t_customer_b", spark).to_spark()
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = ob.join(cb, ob.o_custkey == cb.c_custkey).select("o_orderkey", "c_name")
            stats = plan_stats(j)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert stats["exchanges"] == 0, stats
        # formatted plans name the operator in the tree and the detail
        # section, so the count is per-mention, not per-join
        assert stats["sort_merge_joins"] >= 1, stats
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_text_stats_is_single_projection(spark, sf_dir):
    """Fused text_stats must plan with zero exchanges (was: two joins)."""
    with _no_spread():
        stats = plan_stats(QUERIES["q24_text_stats"](spark, sf_dir))
    assert stats["exchanges"] == 0, stats


def test_surgery_filter_pushdown_through_rename(spark, sf_dir):
    """q48's where must reach the parquet scan THROUGH the
    rename/drop/reorder chain, with the read schema pruned to the three
    surviving source columns."""
    from torcharrow_spark.plans import formatted_plan

    import re

    p = formatted_plan(QUERIES["q48_column_surgery"](spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "GreaterThan(c_acctbal,0.0)" in m.group(1)
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert rs and sorted(c.split(":")[0] for c in rs.group(1).split(",")) == [
        "c_acctbal", "c_custkey", "c_name",
    ]


def test_column_scalers_reuse_subqueries_no_window(spark, sf_dir):
    """q57: frame stats ride scalar subqueries — after execution the
    duplicate references must collapse to ReusedSubquery (each distinct
    aggregate runs once) and the data path must contain no Window."""
    from torcharrow_spark.plans import formatted_plan

    df = QUERIES["q57_scale_columns"](spark, sf_dir)
    df.collect()  # AQE finalizes THIS plan instance (count() would plan anew)
    p = formatted_plan(df)
    assert "Window" not in p
    assert p.count("ReusedSubquery") >= 1


def test_q81_q85_join_shapes(spark, sf_dir):
    """q81 (Q5 shape): dims and supplier sides broadcast, shipdate-less
    order filter pushed to the scan. q85 (Q18 shape): the lineitem
    aggregate is a HashAggregate and the qualifying set broadcasts into
    customer — no full fact-fact sort-merge anywhere."""
    s81 = plan_stats(QUERIES["q81_local_supplier_volume"](spark, sf_dir))
    assert s81["broadcast_joins"] >= 3, s81          # nation/region x2 + supplier
    assert s81["pushed_filters"], s81                # o_orderdate range at the scan

    q85 = QUERIES["q85_large_volume_orders"](spark, sf_dir)
    text = formatted_plan(q85)
    assert "HashAggregate" in text
    assert "SortAggregate" not in text


def test_hll_partial_aggregation_bounds_shuffle(spark, sf_dir):
    """The HLL register aggregate must plan as HashAggregate (partial
    max map-side caps shuffle rows at 2^p per partition per group)."""
    text = formatted_plan(QUERIES["q80_hll_distinct"](spark, sf_dir))
    assert "HashAggregate" in text
    assert "SortAggregate" not in text


def test_partitioned_write_prunes_at_scan(spark, sf_dir, tmp_path):
    """write_parquet(partition_by=...) + a filter on the partition
    column must plan with a PartitionFilters entry (directory pruning:
    non-matching partitions are never opened) — the layout/scan contract
    that makes date- or source-partitioned 100 TB tables queryable."""
    import torcharrow_spark as ts
    from torcharrow_spark.sources import write_parquet

    docs = ts.read_parquet(f"{sf_dir}/documents.parquet", spark)
    out = str(tmp_path / "docs_by_lang")
    write_parquet(docs, out, partition_by=["lang"])

    back = spark.read.parquet(out).where("lang = 'en'")
    text = formatted_plan(back)
    assert "PartitionFilters" in text
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "lang" in m.group(1), text[:2000]
    # and the non-partition read path still prunes columns
    assert back.count() == spark.read.parquet(out).where("lang = 'en'").count()


def test_tpch_wave2_join_shapes(spark, sf_dir):
    """q92 plans the EXISTS as a semi join (no row-multiplying inner
    join + distinct); q94/q96 broadcast the part dim (no fact
    shuffle beyond their single aggregate); q98's seven-table DAG
    broadcasts every dim so only the two fact-fact joins exchange."""
    text92 = formatted_plan(QUERIES["q92_order_priority_exists"](spark, sf_dir))
    assert re.search(r"LeftSemi", text92), text92[:3000]

    for q in ("q94_promo_revenue", "q96_disjunctive_join"):
        stats = plan_stats(QUERIES[q](spark, sf_dir))
        assert stats["broadcast_joins"] >= 1, (q, stats)
        # the only shuffle is the single-partition final aggregate
        # (formatted_plan lists each node twice: tree + detail section)
        assert stats["exchanges"] <= 2, (q, stats)

    stats98 = plan_stats(QUERIES["q98_market_share"](spark, sf_dir))
    assert stats98["broadcast_joins"] >= 3, stats98


def test_heavy_hitters_verify_side_broadcasts(spark, sf_dir):
    """q105's exact-verify pass must semi-join the candidates as a
    broadcast (the candidate set is bounded by 1/t per partition) —
    never shuffle the exploded token table by value."""
    text = formatted_plan(QUERIES["q105_heavy_hitters"](spark, sf_dir))
    assert re.search(r"BroadcastHashJoin.*LeftSemi|LeftSemi.*Broadcast",
                     text, re.S), text[:3000]


def test_binned_quantile_is_bounded_aggregate(spark, sf_dir):
    """q106's histogram is a HashAggregate over <= n_bins groups; the
    only window runs over the bin table (bounded), never the facts."""
    text = formatted_plan(QUERIES["q106_winsorize_binned"](spark, sf_dir))
    assert "HashAggregate" in text


def test_q113_full_pushdown(spark, sf_dir):
    """TPC-H-Q6 shape: all three predicates in PushedFilters, read
    schema pruned to the 4 referenced columns, zero joins."""
    text = formatted_plan(QUERIES["q113_forecast_revenue"](spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", text)
    assert m, text[:2000]
    pf = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, pf
    rs = re.search(r"ReadSchema: struct<([^>]*)>", text)
    cols = sorted(c.split(":")[0] for c in rs.group(1).split(","))
    assert cols == ["l_discount", "l_extendedprice", "l_quantity",
                    "l_shipdate"], cols


def test_wave3_plan_shapes(spark, sf_dir):
    """q114/q117/q119: nested aggregations stay HashAggregate; q119's
    dim joins broadcast; q118's bloom probe is a broadcast (one map
    row) with the orders scan untouched by any pre-join shuffle."""
    for q in ("q114_important_parts", "q117_top_shippers",
              "q119_min_cost_supplier"):
        text = formatted_plan(QUERIES[q](spark, sf_dir))
        assert "HashAggregate" in text, q
        assert "SortAggregate" not in text, q
    s119 = plan_stats(QUERIES["q119_min_cost_supplier"](spark, sf_dir))
    assert s119["broadcast_joins"] >= 2, s119
    s118 = plan_stats(QUERIES["q118_bloom_prefilter"](spark, sf_dir))
    assert s118["broadcast_joins"] >= 1, s118


def test_packing_and_dashboard_windows_are_partitioned(spark, sf_dir):
    """q121's cumulative-sum window must partition by shard and q124's
    quantile windows by source — a window spec missing its partition
    keys would silently plan a single-partition global sort."""
    t121 = formatted_plan(QUERIES["q121_pack_documents"](spark, sf_dir))
    m = re.search(r"Window.*partition", t121, re.I | re.S)
    assert m, t121[:2000]
    assert re.search(r"windowspecdefinition\(shard", t121), \
        "packing window lost its shard partitioning"
    t124 = formatted_plan(QUERIES["q124_source_quality_dashboard"](spark, sf_dir))
    assert re.search(r"windowspecdefinition\(source", t124), \
        "dashboard quantile window lost its source partitioning"


def test_gopher_filter_is_zero_shuffle(spark, sf_dir):
    """q128's composite quality gate must plan as scan->project — every
    signal (incl. both repetition fractions) is a per-row HOF, so the
    100 TB filter pass costs exactly one scan."""
    with _no_spread():
        stats = plan_stats(QUERIES["q128_gopher_filter"](spark, sf_dir))
    assert stats["exchanges"] == 0, stats


def test_lm_quality_plan_shape(spark, sf_dir):
    """q127's bigram LM: hash aggregates only (no SortAggregate), and
    the vocabulary-sized unigram join broadcasts."""
    text = formatted_plan(QUERIES["q127_lm_quality"](spark, sf_dir))
    assert "HashAggregate" in text
    assert "SortAggregate" not in text
    stats = plan_stats(QUERIES["q127_lm_quality"](spark, sf_dir))
    assert stats["broadcast_joins"] >= 1, stats


def test_prefix_jaccard_pruning_in_plan(spark, sf_dir):
    """q43: the PPJoin positional/length bounds must appear as a Filter
    BEFORE the candidate-dedup exchange (pruning pre-shuffle), and the
    verify step must be the array_intersect projection, not a join back
    onto the shingle table."""
    text = formatted_plan(QUERIES["q43_jaccard_prefix"](spark, sf_dir))
    assert "array_intersect" in text, text[:3000]
    # shingle document-frequency must be a partial-aggregating
    # groupBy + join-back, NOT a window: WindowExec buffers each
    # partition-key group, so a boilerplate shingle in 10^9 docs becomes
    # one straggler task — and AQE cannot split a window partition the
    # way it splits a skewed join partition (r3 judge finding)
    assert "Window" not in text, text[:3000]


def test_ngrams_lambda_reads_bound_array(spark):
    """SURVEY §4.3 guard: HOF lambdas are interpreted, so an outer
    expression referenced INSIDE a lambda re-evaluates per element —
    the r3 O(len²) bug split the document once per n-gram position.
    The n-gram builder must read a BOUND array column (one `split` in
    the whole optimized plan, sitting in a projection) and build
    n-grams as a zip_with chain over shifted slices of it."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.textstats import _ngrams_sqltext

    df = (
        spark.createDataFrame([("a b c d e",)], "text string")
        .withColumn("__w__", F.split("text", " "))
        .select(F.expr(f"{_ngrams_sqltext('__w__', 3)} AS g3"))
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "zip_with" in plan, plan
    assert plan.count("split(") == 1, plan  # only the bound projection


def test_curation_pipeline_plan(spark, sf_dir):
    """q129 composes gate (0 exchanges) + exact dedup (1 hashed-key
    shuffle) + packing (per-shard windows): hash aggregates only, and
    the whole pipeline stays within a handful of exchanges — no stage
    re-reads or re-shuffles the corpus."""
    with _no_spread():
        text = formatted_plan(QUERIES["q129_curation_pipeline"](spark, sf_dir))
        assert "SortAggregate" not in text
        stats = plan_stats(QUERIES["q129_curation_pipeline"](spark, sf_dir))
    assert stats["exchanges"] <= 6, stats


def test_pair_sites_use_bounded_emission(spark, sf_dir):
    """Every group-and-pair operator must emit pairs via the
    posexplode + tail-slice pattern (rows carry O(group) elements) —
    a flatten(transform(...)) pair array materializes C(m, 2) structs
    in one value and OOMed the executor on hot simhash buckets at 10x
    scale (sf1 stress finding)."""
    for q in ("q19_minhash_pairs", "q46_simhash_pairs"):
        text = formatted_plan(QUERIES[q](spark, sf_dir))
        assert "posexplode" in text, q
    # q42 (cosine pairs) sweeps pairs inside an Arrow kernel (no
    # explosion at all — the memory bound is the kernel's tiling)
    text = formatted_plan(QUERIES["q42_cosine_dedup"](spark, sf_dir))
    assert "MapInArrow" in text, "q42_cosine_dedup (kernel node)"
    # q43 (prefix jaccard): the r8 survivor localCheckpoint truncates
    # the final DF's plan text at the checkpoint boundary, hiding the
    # emission subplan — inspect the un-checkpointed form instead
    from torcharrow_spark.operators.dedup import ngram_jaccard_pairs_prefix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text = formatted_plan(
        ngram_jaccard_pairs_prefix(
            docs, threshold=0.3, checkpoint_survivors=False
        )
    )
    assert "posexplode" in text, "q43_jaccard_prefix"


def test_shuffle_payloads_are_narrow(spark, sf_dir):
    """The 100-TB question, checkable: what actually RIDES each
    shuffle. Dedup/pair operators must never put the document text (or
    any wide string) on an exchange — keys are hashed longs, payloads
    are ids/counts. A regression that, e.g., groups exact-dedup by raw
    text instead of its md5 halves would shuffle hundreds of bytes per
    row where 16 do."""
    from torcharrow_spark.plans import shuffle_payloads

    with _no_spread():
        # exact dedup: every exchange payload is hash halves + bounded
        # aggs
        ex = shuffle_payloads(QUERIES["q18_exact_dedup"](spark, sf_dir))
        assert len(ex) >= 1
        for e in ex:
            assert "text" not in e["columns"], e
        # minhash LSH banding: band-key exchanges carry signatures/ids
        for e in shuffle_payloads(QUERIES["q19_minhash_pairs"](spark, sf_dir)):
            assert "text" not in e["columns"], e
        # prefix jaccard: the shingle table shuffles 64-bit hashes,
        # never shingle STRINGS or document text
        for e in shuffle_payloads(QUERIES["q43_jaccard_prefix"](spark, sf_dir)):
            assert "text" not in e["columns"], e
            assert "shingle" not in e["columns"], e


def test_curation_pipeline_shuffles_hashes_not_text(spark, sf_dir):
    """q129 end-to-end: after the zero-shuffle gate, the dedup and
    packing exchanges carry ids, hashes and token counts — the corpus
    text stays in the scan stage and never crosses the network.

    Pinned under ``_no_spread`` like test_shuffle_payloads_are_narrow:
    on the bench's single-split table the narrow-source spread fires
    and its ROUND-ROBIN exchange moves the source's bytes by design
    (r13: the gate evaluates ABOVE that exchange behind a
    pushdown_barrier, so the spread actually parallelizes it) — the
    organic-scale guarantee this test pins is that no KEYED exchange
    ever carries text."""
    from torcharrow_spark.plans import shuffle_payloads

    with _no_spread():
        payloads = shuffle_payloads(
            QUERIES["q129_curation_pipeline"](spark, sf_dir)
        )
        assert len(payloads) >= 2
        for e in payloads:
            assert "text" not in e["columns"], e


def test_r5_operator_plan_shapes(spark, sf_dir):
    """Plan pins for the r5 operators: (a) term_stats_batch is exactly
    the two-level aggregate — two exchanges (doc,term then term), no
    window, no join; (b) logreg_score is a ZERO-exchange projection
    (broadcast-literal sigmoid); (c) semantic_dedup with trained
    centroids plans no CartesianProduct and no non-broadcast crossJoin
    (assignment is a per-row literal argmax, the only join is the
    dropped-id left join)."""
    import re

    from pyspark.sql import functions as F

    from torcharrow_spark.operators import logreg_score, semantic_dedup
    from torcharrow_spark.streaming import term_stats_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    p1 = term_stats_batch(docs)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange ", p1)) == 2, p1
    assert "Window" not in p1 and "Join" not in p1

    feat = docs.select(
        "doc_id",
        F.lit(1.0).alias("x0"),
        F.col("n_chars").cast("double").alias("x1"),
    )
    p2 = (
        logreg_score(feat, ["x0", "x1"], [0.1, -0.2])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in p2, p2

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [[0.1] * 64, [-0.1] * 64]
    p3 = (
        semantic_dedup(emb, threshold=0.9, centroids=cents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in p3, p3


def test_spread_narrow_source_plan(spark, sf_dir):
    """The r7 narrow-source spread, pinned at the plan level: when it
    fires (single-row-group bench table), the ONLY exchange it adds is
    a ROUND-ROBIN repartition — never a key-ed shuffle, so no skew and
    no text ever rides a partitioning KEY — and without the spread the
    zero-exchange organic shape returns."""
    stats = plan_stats(QUERIES["q24_text_stats"](spark, sf_dir))
    assert stats["exchanges"] >= 1, stats  # fires on the 1-row-group table
    text = formatted_plan(QUERIES["q24_text_stats"](spark, sf_dir))
    assert "RoundRobinPartitioning" in text
    assert "hashpartitioning(text" not in text.lower()
    with _no_spread():
        stats_off = plan_stats(QUERIES["q24_text_stats"](spark, sf_dir))
    assert stats_off["exchanges"] == 0, stats_off


def test_pushdown_barrier_keeps_gate_above_spread(spark, sf_dir):
    """r13-s2: a consumer's ``.where(keep)`` over gopher_filter must
    NOT sink below the narrow-source spread into the single-split scan
    (measured 1.86 s single-threaded vs 0.35 s parallel at sf0.1).
    Pins: (a) the fired spread wraps the stats in a CollectMetrics
    barrier and the scan's DataFilters stay empty — the signal CASE
    evaluates above the round-robin exchange; (b) rows are identical
    with the spread (and therefore the barrier) disabled; (c) with the
    spread off no barrier node appears, preserving organic-scale
    scan-level pushdown."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import gopher_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def gate():  # q129's corpus-tuned params: non-empty at every SF
        return (
            gopher_filter(docs, min_words=30, max_dup_word_frac=0.6)
            .where(F.col("keep"))
            .select("doc_id")
        )

    gated = gate()
    text = formatted_plan(gated)
    assert "CollectMetrics" in text, text[:2000]
    assert "RoundRobinPartitioning" in text
    # the giant keep-CASE must not ride the scan: its DataFilters may
    # hold at most trivial predicates, never a CASE ladder
    m = re.search(r"DataFilters: \[([^\n]*)\]", text)
    assert m is None or "CASE WHEN" not in m.group(1), m.group(0)[:500]
    rows = sorted(r.doc_id for r in gated.collect())
    with _no_spread():
        plain = gate()
        assert "CollectMetrics" not in formatted_plan(plain)
        rows_off = sorted(r.doc_id for r in plain.collect())
    assert rows == rows_off and len(rows) > 0

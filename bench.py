"""Plan-pin gate: run the headline queries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test data) and check each plan's output rows, shuffle bytes,
spill and exchange count against pins that hold at any core count;
print ONE JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {...}, "sf": ...}.

The pins are the gate. Shuffle bytes, rows and exchanges are a property
of (plan, data, partitioning), and `gate_session` fixes the partitioning
from one constant, PLAN_WIDTH, whatever the host's core count. Walls are
reported, never gated: each query is executed against the NOOP sink
(`df.write.format("noop")` forces every output column; a count() sink
lets Catalyst prune projection-only queries to a row count) once cold
and once steady, and both walls go into the JSON. Wall statistics
(seeded closed-loop runs, medians, per-layer splits) come from
`perfbench/` (BENCHMARK.json), not from here.

Options: SPARK_GRAFT_BENCH_STRICT=1 exits 1 on any pin violation;
SPARK_GRAFT_NO_STRESS=1 skips the sf1+ stress and extra tiers;
SPARK_GRAFT_NO_SF10=1 skips only the sf10/sf100 tiers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q03_join_topk",
    "q05_dedup_keep_first",
    "q11_window_rank",
    "q12_cumsum",
    "q16_event_windows",
    "q17_sessionize",
    "q18_exact_dedup",
    "q19_minhash_pairs",
    "q21_ngram_jaccard",
    "q22_ann_brute_force",
    "q23_ann_lsh",
    "q24_text_stats",
    "q27_rec_ops",
    "q37_asof_join",
    "q41_bpe_tokenize",
    "q42_cosine_dedup",
    "q45_llm_pipeline",
    "q80_hll_distinct",
    "q81_local_supplier_volume",
    "q82_funnel",
    "q86_strip_duplicate_spans",
    "q92_order_priority_exists",
    "q98_market_share",
    "q100_returned_top_customers",
    "q102_waiting_suppliers",
    "q105_heavy_hitters",
    "q107_resample_ffill",
    "q110_grouped_quantiles",
    "q112_grouped_heavy_hitters",
    "q113_forecast_revenue",
    "q119_min_cost_supplier",
    "q43_jaccard_prefix",
    "q126_multimodal_decode",
    "q127_lm_quality",
    "q128_gopher_filter",
    "q129_curation_pipeline",
    "q130_grouped_cdf",
    "q138_kmeans_semantic_dedup",
    "q139_term_stats",
    "q140_logreg_quality",
    "q141_decontaminate",
    "q142_audio_decode",
    "q143_video_container",
    "q144_url_dedup",
    "q145_modern_curation",
    "q152_jpeg_decode",
    "q156_gif_decode",
    "q157_cdc_dedup",
    "q158_web_ingest_curation",
    "q166_commoncrawl_capstone",
    "q167_robots_multihost",
    "q170_ann_quantized_rerank",
    "q171_ann_ivf_int8",
    "q172_gif_animation",
    "q173_unigram_trained",
    "q175_cross_doc_spans",
    "q176_strip_cross_doc",
]

#: Scale factor the headline pins were measured at; other scales report
#: walls and pins without gating them.
PIN_SF = 0.1

#: The one width every plan-shaping setting of the gate's session derives
#: from. Core count reaches a plan in four places, and gate_session fixes
#: each of them from this constant instead of the host:
#:   * spark.sql.shuffle.partitions (tune() re-applies it from
#:     SPARK_GRAFT_CPUS on every queries._load);
#:   * AQE initialPartitionNum = 8 x SPARK_GRAFT_CPUS (read when
#:     torcharrow_spark.session is imported);
#:   * sparkContext.defaultParallelism (dedup's bucket widths,
#:     spread_narrow_source, file-split packing, spark.range) via
#:     spark.default.parallelism;
#:   * the master width, which stays local[nproc]: with the three above
#:     fixed it only decides how many tasks run at once.
#: 32 keeps the pins comparable with every earlier 32-core capture.
PLAN_WIDTH = 32


def gate_session(app: str = "bench", master_width: int | None = None):
    """The gate's Spark session: local[master_width] (default: the cores
    this process may use) with every plan-shaping width set from
    PLAN_WIDTH. Must run before anything in the process imports
    torcharrow_spark, because session.py reads SPARK_GRAFT_CPUS at
    import; a session built any other way fails loudly here."""
    os.environ["SPARK_GRAFT_CPUS"] = str(PLAN_WIDTH)
    from pyspark.sql import SparkSession

    import torcharrow_spark as ts

    width = master_width or len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{width}]")
        .appName(app)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.default.parallelism", str(PLAN_WIDTH))
        .getOrCreate()
    )
    ts.tune(spark)
    ipn = spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    par = spark.sparkContext.defaultParallelism
    if par != PLAN_WIDTH or ipn != str(PLAN_WIDTH * 8):
        raise RuntimeError(
            f"gate session is not pinned to PLAN_WIDTH={PLAN_WIDTH} "
            f"(defaultParallelism {par}, initialPartitionNum {ipn}): call "
            "gate_session before importing torcharrow_spark or creating "
            "another session"
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# Headline pins at sf0.1: (output rows, shuffle-write bytes of one steady
# run, Exchange count of the built plan as plans.plan_stats reports it —
# the formatted plan names each shuffle exchange twice, tree and detail).
# All measured at PLAN_WIDTH 32 on local[4]; the comment compares the bytes
# with the local[32] r13 run (BENCH_full_r13.json) and its pin. Rows and
# exchanges are first pins.
HEADLINE_PINS: dict[str, tuple[int, int, int | None]] = {
    "q01_pricing_summary": (6, 756, 2),  # = r13 pin
    "q03_join_topk": (10, 616294, 2),  # = r13 pin
    "q05_dedup_keep_first": (147236, 1625319, 2),  # = r13 pin
    "q11_window_rank": (44953, 761238, 2),  # = r13 pin
    "q12_cumsum": (600000, 6114217, 2),  # = r13 pin
    "q16_event_windows": (3600, 155475, 2),  # = r13 pin
    "q17_sessionize": (95465, 1973684, 2),  # = r13 pin
    "q18_exact_dedup": (4992, 177135, 2),  # = r13 pin
    "q19_minhash_pairs": (759, 2271686, 24),  # = r13 pin
    "q21_ngram_jaccard": (256, 17965944, 8),  # = r13 pin
    "q22_ann_brute_force": (15, 500, 2),  # = r13 pin
    "q23_ann_lsh": (15, 496, 2),  # = r13 pin
    "q24_text_stats": (5000, 851481, 2),  # = r13 pin
    "q27_rec_ops": (85672, 263, 2),  # = r13 pin
    "q37_asof_join": (20084, 850008, 2),  # = r13 pin
    "q41_bpe_tokenize": (5000, 0, 0),  # = r13 pin
    "q42_cosine_dedup": (12053, 557978, 2),  # r13 pin 577897; the bucket struct no longer carries an xxhash64 class key
    "q45_llm_pipeline": (5, 1003094, 6),  # = r13 pin
    "q80_hll_distinct": (5, 146270, 8),  # = r13 pin
    "q81_local_supplier_volume": (5, 531, 2),  # = r13 pin
    "q82_funnel": (4, 1885026, 4),  # = r13 pin
    "q86_strip_duplicate_spans": (5000, 8353868, 8),  # = r13 pin
    "q92_order_priority_exists": (5, 373, 2),  # = r13 pin
    "q98_market_share": (7, 2286715, 6),  # = r13 capture; r13 pin was 2257007
    "q100_returned_top_customers": (20, 247667, 2),  # = r13 pin
    "q102_waiting_suppliers": (10, 9675194, 4),  # = r13 pin
    "q105_heavy_hitters": (30, 4153, 6),  # = r13 pin
    "q107_resample_ffill": (43145, 2578017, 4),  # = r13 capture; r13 pin was 2464959
    "q110_grouped_quantiles": (10, 810, 4),  # = r13 pin
    "q112_grouped_heavy_hitters": (150, 20356, 6),  # = r13 pin
    "q113_forecast_revenue": (1, 222, 2),  # = r13 pin
    "q119_min_cost_supplier": (25, 19323297, 10),  # = r13 capture; r13 pin was 18812039
    "q43_jaccard_prefix": (256, 30148224, 12),  # = r13 capture; r13 pin was 30174718
    "q126_multimodal_decode": (5000, 457928, 2),  # = r13 pin
    "q127_lm_quality": (5000, 240651, 12),  # = r13 pin
    "q128_gopher_filter": (5000, 851481, 2),  # = r13 pin
    "q129_curation_pipeline": (1749, 988224, 8),  # = r13 pin
    "q130_grouped_cdf": (5000, 915, 4),  # = r13 pin
    "q138_kmeans_semantic_dedup": (2000, 605751, 4),  # = r13 pin
    "q139_term_stats": (31, 1702472, 4),  # = r13 pin
    "q140_logreg_quality": (5000, 380, 0),  # = r13 pin
    "q141_decontaminate": (4454, 1776788, 14),  # = r13 pin
    "q142_audio_decode": (5000, 0, 0),  # = r13 pin
    "q143_video_container": (5000, 0, 0),  # = r13 pin
    "q144_url_dedup": (100, 7372, 2),  # = r13 pin
    "q145_modern_curation": (142, 113283, 8),  # = r13 pin
    "q152_jpeg_decode": (5000, 210188, 2),  # = r13 pin
    "q156_gif_decode": (5000, 1019132, 2),  # = r13 pin
    "q157_cdc_dedup": (5000, 7535289, 6),  # = r13 pin
    "q158_web_ingest_curation": (3414, 958462, 2),  # = r13 pin
    "q166_commoncrawl_capstone": (443, 9561054, 8),  # = r13 pin
    "q167_robots_multihost": (5000, 3315, 4),  # = r13 pin
    "q170_ann_quantized_rerank": (15, 1739, 2),  # = r13 pin
    "q171_ann_ivf_int8": (15, 472506, 6),  # = r13 pin
    "q172_gif_animation": (14999, 31545, 2),  # = r13 pin
    "q173_unigram_trained": (2500, 16187, 0),  # = r13 pin
    "q175_cross_doc_spans": (355, 7599726, 10),  # = r13 pin
    "q176_strip_cross_doc": (5000, 8465882, 12),  # = r13 pin
}


def _sink(df) -> None:
    """Benchmark sink: force FULL evaluation of every output column.
    count() is not a benchmark sink — Catalyst prunes unused columns, so
    a projection-only query 'benches' as a bare row-count scan."""
    df.write.format("noop").mode("overwrite").save()


class StageMetrics:
    """Per-query shuffle/spill bytes from the live AppStatusStore (the
    same numbers the Spark UI's stage table shows). Reads stages by id
    watermark (sum over stageId > snapshot), so eviction of OLD stages
    from the store between snapshots cannot skew a diff."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._empty = spark.sparkContext._jvm.java.util.ArrayList()
        self._defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in range(2, 6)
        ]

    def _stages(self):
        lst = self._store.stageList(self._empty, *self._defaults)
        it = lst.iterator()
        while it.hasNext():
            yield it.next()

    def snapshot(self) -> int:
        """Watermark: the max stage id seen so far (-1 if none)."""
        mx = -1
        for s in self._stages():
            mx = max(mx, s.stageId())
        return mx

    def since(self, watermark: int) -> dict:
        """Shuffle write/read + spill bytes over stages newer than the
        watermark."""
        w = r = sp = dsp = 0
        for s in self._stages():
            if s.stageId() > watermark:
                w += s.shuffleWriteBytes()
                r += s.shuffleReadBytes()
                sp += s.memoryBytesSpilled() + s.diskBytesSpilled()
                dsp += s.diskBytesSpilled()
        return {"shuffle_write": int(w), "shuffle_read": int(r),
                "spill": int(sp), "disk_spill": int(dsp)}


def measure(build, metrics: StageMetrics, best_of: int = 1) -> dict:
    """One cold run and `best_of` steady runs (walls, reported only: the
    cold one and the best steady one), then the pinned quantities:
    shuffle and spill bytes of the first steady run, output rows, and
    the built plan's Exchange count."""
    from torcharrow_spark.plans import plan_stats

    t0 = time.perf_counter()
    _sink(build())
    cold = round(time.perf_counter() - t0, 3)
    sec, b = float("inf"), None
    for _ in range(best_of):
        wm = metrics.snapshot()
        t0 = time.perf_counter()
        _sink(build())
        sec = min(sec, round(time.perf_counter() - t0, 3))
        if b is None:
            b = metrics.since(wm)
    df = build()
    return {
        "sec": sec,
        "cold_sec": cold,
        "rows": df.count(),
        "shuffle_bytes": b["shuffle_write"],
        "spill_bytes": b["spill"],
        "exchanges": plan_stats(df)["exchanges"],
    }


def pin_violations(got: dict, pin: tuple) -> dict:
    """The pins `got` breaks, as {field: pinned value}: rows differ,
    exchanges differ (None = not pinned), shuffle bytes grew more than
    25% (past a zero pin: a new shuffle over 1 MB), or anything spilled."""
    rows, shuffle, exchanges = pin
    bad: dict = {}
    if got["rows"] != rows:
        bad["rows"] = rows
    if exchanges is not None and got.get("exchanges") != exchanges:
        bad["exchanges"] = exchanges
    if got["shuffle_bytes"] > (shuffle * 1.25 if shuffle else 1 << 20):
        bad["shuffle_bytes"] = shuffle
    if got["spill_bytes"]:
        bad["spill_bytes"] = 0
    return bad


REPO = os.path.dirname(os.path.abspath(__file__))
STRESS_DIR = os.path.join(REPO, ".stress_sf1")
STRESS10_DIR = os.path.join(REPO, ".stress_sf10")
SF100_DIR = os.path.join(REPO, ".stress_sf100")


def _build_tagged(spark, src: str, dest: str, marker: str, tag: str,
                  stride: int, files: int, emb_salt: str | None) -> None:
    """Materialize a 10x corpus from `src` once (marker-guarded,
    gitignored). Every word in copy i>0 gets the tag f"{tag}{i}", so each
    copy reproduces the source's intra-copy near-dup structure verbatim
    while sharing ZERO shingles across copies — true near-dup structure
    grows exactly linearly (a partial mutation was rejected: an unchanged
    rare shingle's document frequency grows 10x and prefix candidates
    quadratically). Embeddings (when `emb_salt` is given) get a per-copy
    Rademacher sign pattern: within-copy cosines exact, cross-copy ~0.
    Written as `files` hash-partitioned files (a one-file corpus
    scan-gated every stress query on one straggler task)."""
    from pyspark.sql import functions as F

    done = os.path.join(dest, marker)
    if os.path.exists(done):
        return
    docs = spark.read.parquet(f"{src}/documents.parquet")
    copies = spark.range(10).select(F.col("id").cast("int").alias("copy"))
    docs.crossJoin(copies).select(
        (F.col("doc_id") + F.col("copy") * F.lit(stride)).alias("doc_id"),
        F.when(F.col("copy") == 0, F.col("text"))
        .otherwise(
            F.array_join(
                F.expr(
                    "transform(split(text, ' '), "
                    f"w -> concat(w, '{tag}', copy))"
                ),
                " ",
            )
        )
        .alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    ).repartition(files, "doc_id").write.mode("overwrite").parquet(
        f"{dest}/documents.parquet"
    )
    if emb_salt is not None:
        emb = spark.read.parquet(f"{src}/embeddings.parquet")
        emb.crossJoin(copies).select(
            (F.col("vec_id") + F.col("copy") * F.lit(stride)).alias("vec_id"),
            F.when(F.col("copy") == 0, F.col("embedding"))
            .otherwise(
                F.expr(
                    "transform(embedding, (x, d) -> CAST(x * "
                    f"(CASE WHEN pmod(xxhash64(concat({emb_salt}copy, ',', d)), 2) = 0 "
                    "THEN 1.0 ELSE -1.0 END) AS FLOAT))"
                )
            )
            .alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        ).repartition(files, "vec_id").write.mode("overwrite").parquet(
            f"{dest}/embeddings.parquet"
        )
    with open(done, "w") as fh:
        fh.write("ok\n")


def _build_stress_sf1(spark, sf01_dir: str) -> None:
    """The 10x 'sf1' stress corpus (50k docs / 20k vectors) from sf0.1."""
    _build_tagged(spark, sf01_dir, STRESS_DIR, "_BUILT_v3", "x",
                  10_000_000, 32, "")


def _build_stress_sf10(spark) -> None:
    """The 100x 'sf10' corpus (500k docs / 200k vectors) from sf1; tag
    'y{copy}' composes with sf1's 'x{copy}', and a second independent
    sign pattern keeps cross-copy cosines ~0."""
    _build_tagged(spark, STRESS_DIR, STRESS10_DIR, "_BUILT_v2", "y",
                  1_000_000_000, 64, "'t2:', ")


def _stress_cases(spark, sdir: str) -> dict:
    """The pair-machinery operators whose cost could creep quadratically
    with corpus size, as builders over the stress corpus at `sdir`."""
    from torcharrow_spark.operators import (
        cdc_dedup_stats,
        cosine_pairs,
        cross_doc_spans,
        exact_dedup_ids,
        minhash_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
        strip_duplicate_spans,
    )
    from torcharrow_spark.queries import QUERIES

    def docs():
        return spark.read.parquet(f"{sdir}/documents.parquet")

    def emb():
        return spark.read.parquet(f"{sdir}/embeddings.parquet")

    return {
        # same params as q19 (banded pair growth tracks true dups)
        "q19_minhash_pairs": lambda: minhash_pairs(
            docs(), shingle_k=3, num_hashes=8, bands=4
        ),
        # one 120-bit-key shuffle; scales with rows
        "q18_exact_dedup": lambda: exact_dedup_ids(docs()),
        # bits='auto' sizes (k+1) * log2(corpus/256), clamped to [16, 64],
        # keeping (block, value) bucket occupancy constant as rows grow
        "q46_simhash_pairs": lambda: simhash_pairs(
            docs(), bits="auto", max_hamming=3
        ),
        # single span-frequency shuffle (Lee et al. 2022)
        "q86_strip_spans": lambda: strip_duplicate_spans(docs(), k=8),
        # auto mode == PPJoin prefix — THE scale path under test
        "q21_ngram_jaccard_auto": lambda: ngram_jaccard_pairs(
            docs(), shingle_k=3, threshold=0.3, mode="auto"
        ),
        # n_planes='auto' = ceil(log2(n/128)) planes
        "q42_cosine_dedup": lambda: cosine_pairs(
            emb(), threshold=0.2, n_planes="auto"
        ),
        "q105_heavy_hitters": lambda: QUERIES["q105_heavy_hitters"](
            spark, sdir
        ),
        # byte-driven: bytes track corpus CHARS, not doc count
        "q157_cdc_dedup": lambda: cdc_dedup_stats(docs()),
        # anchor-gram fanout is linear in corpus tokens; every exchange
        # is fixed-width hash rows
        "q175_cross_doc_spans": lambda: cross_doc_spans(docs(), k=30),
    }


# sf1 stress pins (rows, shuffle-write bytes, exchanges), one steady run
# on the sf1 corpus; any spill is a regression on its own. Measured at
# PLAN_WIDTH 32 on local[4] (corpus built there too); the comment compares
# the bytes with the local[32] r13 run and its pin.
STRESS_PINS: dict[str, tuple[int, int, int | None]] = {
    "q19_minhash_pairs": (7177, 11349750, 18),  # = r13 pin
    "q18_exact_dedup": (49920, 2196089, 2),  # = r13 pin
    "q46_simhash_pairs": (3119839, 67760383, 12),  # = r13 pin
    "q86_strip_spans": (50000, 71474498, 4),  # = r13 pin
    "q21_ngram_jaccard_auto": (2560, 215444450, 8),  # = r13 capture; r13 pin was 215683097
    "q42_cosine_dedup": (144985, 6137348, 2),  # r13 pin 6331168; the bucket struct no longer carries an xxhash64 class key
    "q105_heavy_hitters": (300, 871654, 6),  # = r13 pin
    "q157_cdc_dedup": (50000, 74892916, 6),  # = r13 pin
    "q175_cross_doc_spans": (3550, 60489744, 6),  # = r13 pin
}

# sf10 pins (rows, shuffle-write bytes, exchanges), not re-measured at
# PLAN_WIDTH on local[4] (the tier needs the 500k-doc corpus): rows from
# the local[32] BENCH_full_r13 run, bytes the earlier local[32] pins,
# which that run matched within 4%. PLAN_WIDTH 32 keeps their partitioning.
STRESS_SF10_PINS: dict[str, tuple[int, int, int | None]] = {
    "q19_minhash_pairs": (72529, 116_348_489, None),
    "q46_simhash_pairs": (2325687, 95_475_855, None),
    "q86_strip_spans": (500000, 943_221_883, None),
    "q21_ngram_jaccard_auto": (25600, 10_911_099_791, None),
    "q42_cosine_dedup": (2939128, 59_918_395, None),
    "q157_cdc_dedup": (500000, 1_019_480_207, None),
}


def run_stress_tier(spark, sdir: str, pins: dict, best_of: int,
                    metrics: StageMetrics, label: str,
                    lower: dict | None = None) -> dict:
    """Measure the pinned stress cases on the corpus at `sdir`. Each row
    reports best-of steady seconds, its ratio to the same case one
    decade down (`lower`, sec by name; ~10 = linear), and the pins; a
    moved pin puts its violations under "regression"."""
    cases = _stress_cases(spark, sdir)
    out: dict[str, dict] = {}
    for name, pin in pins.items():
        m = measure(cases[name], metrics, best_of)
        m["best_of"] = best_of
        b = (lower or {}).get(name)
        m["vs_lower_tier_ratio"] = round(m["sec"] / b, 2) if b else None
        bad = pin_violations(m, pin)
        if bad:
            m["regression"] = bad
            print(f"# STRESS {label} REGRESSION {name}: {m} vs pin {pin}",
                  file=sys.stderr)
        out[name] = m
        print(
            f"# stress {label} {name}: {m['sec']:.3f}s best-of-{best_of} "
            f"({m['rows']} rows, shuffle {m['shuffle_bytes']}B, "
            f"{m['exchanges']} exchanges)",
            file=sys.stderr,
        )
    return out


def pair_skew_q42(spark) -> dict:
    """Pair-stage skew evidence for the q42 cosine family on the sf1
    corpus (measurement only). The pair kernel evaluates each bucket in
    one task, in bounded-memory tiles, and elects a bucket above
    `_elect_onset(dim)` members — so the largest bucket's C(m, 2) pairs are the longest
    task. The histogram shows where organic sf1 buckets sit relative to
    the election cap."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.similarity import (
        _elect_onset,
        _infer_dim,
        _resolve_n_planes,
        lsh_bucket,
    )

    e = spark.read.parquet(f"{STRESS_DIR}/embeddings.parquet")
    n_planes = _resolve_n_planes(e, "auto", "cosine_pairs")
    dim = _infer_dim(e, "embedding")
    sizes = (
        e.select(lsh_bucket(F.col("embedding"), n_planes, dim).alias("b"))
        .groupBy("b")
        .count()
    )
    h = sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("count").alias("max_members"),
        F.expr("percentile(count, 0.5)").alias("p50_members"),
        F.expr("percentile(count, 0.99)").alias("p99_members"),
    ).collect()[0]
    elect_cap = _elect_onset(dim)
    m_max = int(h["max_members"])
    out = {
        "n_planes": n_planes,
        "n_buckets": int(h["n_buckets"]),
        "max_members": m_max,
        "p50_members": float(h["p50_members"]),
        "p99_members": float(h["p99_members"]),
        "elect_cap_members": int(elect_cap),
        "max_bucket_pairs": m_max * (m_max - 1) // 2,
        "max_bucket_under_elect_cap": m_max <= elect_cap,
    }
    print(f"# stress sf1 pair-skew q42: {out}", file=sys.stderr)
    return out


def run_recall_curves(spark, sf01_dir: str, n_queries: int = 24) -> dict:
    """Recall@10 vs probe depth for BOTH ANN scale paths on the sf1
    stress corpus (20k vectors, dim 64): multi-probe LSH (n_planes=5,
    32 buckets, perturbation-set probing) and IVF (n_cells=64). The
    corpus is a WEAK-neighbor regime — true top-10 cosines sit at
    0.40-0.49, so no single-table partition concentrates them; the r4
    measured curve (lsh 0.08/0.22/0.44/0.68 at 1/2/4/8 probes, ivf
    0.04/0.22/0.69 at 1/4/16 cells) is ~2.7x the random-scan baseline
    at 25% coverage, and the pytest twin pins monotonicity + the >=
    0.55-at-25% / >= 2x-baseline floors. On a near-dup-rich corpus
    (cos >= 0.9 neighbors) the same probe budgets sit near 1.0 —
    operators should read THIS curve to size probe budgets before
    burning a full scan. Ground truth is exact brute force over the
    same corpus/queries."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
        lsh_topk_multitable,
    )

    _build_stress_sf1(spark, sf01_dir)
    emb = spark.read.parquet(f"{STRESS_DIR}/embeddings.parquet")
    # deterministic query sample spread across the id space
    q = emb.where(F.pmod(F.col("vec_id"), F.lit(2003)) == 0).limit(n_queries)
    k = 10
    exact = {
        (r["query_id"], r["match_id"])
        for r in brute_force_topk(emb, q, k=k).collect()
    }

    def _recall(got) -> float:
        hits = {(r["query_id"], r["match_id"]) for r in got.collect()}
        return round(len(exact & hits) / len(exact), 4)

    out: dict = {"k": k, "n_queries": n_queries, "lsh": {}, "ivf": {}}
    for n_probe in (1, 2, 4, 8):  # 8/32 buckets = 25% of cells
        out["lsh"][n_probe] = _recall(
            lsh_topk(emb, q, k=k, n_planes=5, n_probe=n_probe)
        )
    # r8 (VERDICT r7 ask #3): the AUTO-sized table at the SAME 25%
    # scanned-fraction budget as lsh@8/32 — auto picks 8 planes at the
    # 20k-vector corpus (256 buckets), so equal coverage = 64 probes;
    # finer buckets + deeper perturbation probing at identical scan
    # budget is the trade auto sizing makes as the corpus grows
    from torcharrow_spark.operators.similarity import auto_n_planes

    auto_planes = auto_n_planes(emb.count())
    auto_probes = max(1, (1 << auto_planes) // 4)  # 25% of buckets
    out["lsh_auto"] = {
        "planes": auto_planes,
        f"{auto_probes}probe_25pct": _recall(
            lsh_topk(
                emb, q, k=k, n_planes="auto", n_probe=auto_probes
            )
        ),
    }
    for n_probe in (1, 4, 16):  # 16/64 cells = 25%
        out["ivf"][n_probe] = _recall(
            ivf_topk(emb, q, k=k, n_cells=64, n_probe=n_probe)
        )
    # same 8-scans-per-query budget as lsh@8, allocated across
    # independent TABLES instead of probes of one table — the
    # multi-table lever (corpus-side cost: shuffle x n_tables)
    out["lsh_multitable"] = {
        "2tables_x4probe": _recall(
            lsh_topk_multitable(emb, q, k=k, n_planes=5, n_tables=2, n_probe=4)
        ),
        "4tables_x2probe": _recall(
            lsh_topk_multitable(emb, q, k=k, n_planes=5, n_tables=4, n_probe=2)
        ),
    }
    # r5: TRAINED cells at the SAME probe budget as ivf@16/64 — kmeans
    # centroids follow the embedding density, so cells concentrate true
    # neighbors; this is the standard uplift lever the weak-neighbor
    # curve above calls for (r4 verdict ask #6). Fit cost: 3 Lloyd
    # scans + one k x dim HashAggregate per scan.
    from torcharrow_spark.operators.clustering import kmeans
    from torcharrow_spark.operators.similarity import ivf_topk_df

    _asg, cents = kmeans(emb, k=64, max_iter=3)
    spark_ = emb.sparkSession
    centdf = spark_.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    out["ivf_trained"] = {
        16: _recall(ivf_topk_df(emb, q, centdf, k=k, n_probe=16))
    }
    # r6: kmeans++-seeded cells at the SAME 16-probe budget (r5 verdict
    # ask #5) — D^2 seeding spreads the 64 seeds across the embedding
    # density instead of md5-luck, the standard next recall increment
    # over r5's md5-init 0.77.
    _asg2, cents_pp = kmeans(emb, k=64, max_iter=3, init="kmeans++")
    centdf_pp = spark_.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(cents_pp)],
        "cell int, centroid array<double>",
    )
    out["ivf_trained_pp"] = {
        16: _recall(ivf_topk_df(emb, q, centdf_pp, k=k, n_probe=16))
    }
    # r9 (VERDICT r8 ask #8): the three-round 0.70-0.77 plateau was
    # CELL GRANULARITY, not the weak-neighbor regime — every trained
    # row above hand-pins 64 cells (312 vectors/cell), which smears
    # the weak neighbors across cell boundaries. Measured in the numpy
    # design space first (same corpus/queries/k, TRUE scanned-vector
    # fractions): trained 64 cells @ 16 probes = 0.72 @ 25.0%;
    # 141 @ 35 = 0.68-0.85 across seeds (too seed-noisy to ship);
    # 512 @ 128 = 0.87-0.89 across EVERY seed @ 25.1-25.3% — ~40
    # vectors/cell (~4k) localizes them at the same scanned fraction.
    # Rejected at equal budget (measured): soft/multi-assignment
    # (0.67-0.71), spherical training (no change), untrained sampled
    # centroids (0.77-0.92, seed-noisy). Engine run, its own
    # kmeans|| D^2 seeding + 3 Lloyd steps at 512 cells, 128-probe =
    # 25% budget: **0.890** (md5-seeded: 0.83 — seeding matters at
    # this granularity). Fit is ~3 min of the bench wall — the price
    # of the only recall row past the verdict's 0.85 bar.
    n_fine, probes_fine = 512, 128
    _asg3, cents_fine = kmeans(emb, k=n_fine, max_iter=3, init="kmeans++")
    centdf_fine = spark_.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(cents_fine)],
        "cell int, centroid array<double>",
    )
    out["ivf_trained_fine"] = {
        "cells": n_fine,
        f"{probes_fine}probe_25pct": _recall(
            ivf_topk_df(emb, q, centdf_fine, k=k, n_probe=probes_fine)
        ),
    }
    # r11 (VERDICT r10 ask #2): the IVF x int8 COMPOSITION — probe
    # trained cells, int8-scan ONLY the probed cells' codes, exact
    # re-rank the survivors (similarity.ivf_quantized_topk, q171's
    # operator; SAME 512 trained centroids as the row above, no
    # second fit). Byte accounting: n_probe/512 cells x 8/32 bits —
    # deeper probing than any float row at a FRACTION of its bytes,
    # which is the point: 204/512 probes = 39.8% of vectors seen at
    # 9.96% of full-scan float32 bytes, and the int8 stage no longer
    # loses in-cell neighbors (r10's 1.00 fidelity measurement), so
    # recall == cell-containment recall at 40% coverage. This is the
    # sublinear path `quantized_rerank_topk`'s tuning ceiling points
    # to at 10^9 vectors.
    from torcharrow_spark.operators.similarity import ivf_quantized_topk

    bits_frac = 8.0 / 32.0
    probes_comp = 204
    out["ivf_int8"] = {
        "cells": n_fine,
        "n_probe": probes_comp,
        "candidates": 50,
        "effective_bytes_pct": round(
            probes_comp / n_fine * bits_frac * 100, 2
        ),
        "recall": _recall(
            ivf_quantized_topk(
                emb, q, centdf_fine, k=k, n_probe=probes_comp,
                candidates=50,
            )
        ),
    }
    # r10 (VERDICT r9 ask #8): int8 coarse scan + full-precision
    # re-rank — the q123 quantization machinery promoted to a
    # retrieval path. Byte-budget accounting: an 8-bit full-corpus
    # scan reads the SAME bytes as float32-probing 25% of cells (the
    # r9 trained-IVF operating point) but sees EVERY vector, so
    # recall is bounded by int8 ranking fidelity, not cell luck.
    # Measured here: 1.00 at candidates=50 (and already at 20 in the
    # numpy design space) vs the 0.89 trained-IVF ceiling — the
    # ceiling was the probe paradigm, not the weak-neighbor corpus.
    # No training, no seed noise; the re-rank join is |q| x cand rows.
    from torcharrow_spark.operators.similarity import quantized_rerank_topk

    out["int8_rerank"] = {
        "candidates": 50,
        "fullscan_int8_25pct_bytes": _recall(
            quantized_rerank_topk(emb, q, k=k, candidates=50)
        ),
    }
    print(
        f"# recall_sf1: lsh {out['lsh']} lsh_auto {out['lsh_auto']} "
        f"ivf {out['ivf']} int8_rerank {out['int8_rerank']} "
        f"multitable {out['lsh_multitable']} ivf_trained {out['ivf_trained']} "
        f"ivf_trained_pp {out['ivf_trained_pp']} "
        f"ivf_trained_fine {out['ivf_trained_fine']} "
        f"ivf_int8 {out['ivf_int8']}",
        file=sys.stderr,
    )
    return out


def run_tensor_export(spark, sf_dir: str) -> dict:
    """Throughput of `interop_torch.batched_tensors` (rows/s, MB/s) over
    ALL sf lineitem rows x 7 numeric columns: executor-side Arrow IPC
    serialize (mapInArrow), driver-side re-chunk to exact 65536-row
    tensor dicts, numpy conversion of every yielded batch — the whole
    bridge, nothing skipped. Best-of-3 steady (a driver-side loop)."""
    import numpy as np

    from torcharrow_spark.interop_torch import batched_tensors

    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax",
    ]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(*cols)
    batch = 65536

    def consume() -> tuple:
        rows = 0
        nbytes = 0
        for tensors in batched_tensors(li, batch_size=batch):
            n = len(next(iter(tensors.values())))
            rows += n
            for v in tensors.values():
                a = np.asarray(v)
                nbytes += a.nbytes
        return rows, nbytes

    consume()  # cold: codegen + Arrow path warm-up
    sec = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        rows, nbytes = consume()
        sec = min(sec, round(time.perf_counter() - t0, 3))
    out = {
        "sec": sec,
        "best_of": 3,
        "rows": rows,
        "mb": round(nbytes / 1e6, 1),
        "rows_per_sec": int(rows / sec),
        "mb_per_sec": round(nbytes / 1e6 / sec, 1),
        "batch_size": batch,
    }
    print(f"# tensor_export: {out}", file=sys.stderr)
    return out


GPT2_ENCODER = "/root/reference/torcharrow/test/asset/gpt2_bpe_encoder.json"
GPT2_VOCAB = "/root/reference/torcharrow/test/asset/gpt2_bpe_vocab.bpe"


# The real-file WARC tier: the sf0.1 synthetic crawl materialized ONCE
# as .warc.gz files (q166's page/encoding shape, 32 files of per-record
# gzip members — the Common Crawl layout), timing the PARSE PATH alone:
# binaryFile scan -> warc_records -> charset decode -> html_extract.
WARC_FIXTURE_DIR = os.path.join(REPO, ".warc_fixture_sf01")
# (rows, shuffle-write bytes, exchanges): the whole chain is
# shuffle-free and 32 files give full width, so the narrow-source spread
# never fires. Measured at PLAN_WIDTH 32 on local[4]; r13 (local[32])
# recorded the same rows and bytes.
WARC_INGEST_PIN = (5000, 0, 0)


def _build_warc_fixture(spark, sf_dir: str) -> None:
    """Materialize the crawl fixture once (marker-guarded): per
    document, q166's exact WARC shape — warcinfo + 200 text/html
    response (payload encoded per doc_id%4: UTF-8-BOM / UTF-16 /
    Latin-1-behind-meta / mojibake'd bare UTF-8) + request + 404 —
    written via sources.write_warc (doc_id-ranged, 32 files)."""
    marker = os.path.join(WARC_FIXTURE_DIR, "_SUCCESS")
    if os.path.exists(marker):
        return
    from pyspark.sql import types as T

    from torcharrow_spark.sources import write_warc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )

    def _synth(batches):
        import html as _html

        import pandas as pd

        from torcharrow_spark.operators.warc import build_warc

        for pdf in batches:
            ids, blobs = [], []
            for d, srcname, body in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                d = int(d)
                uri = f"https://WWW.{srcname}.example.com/p/{d}"
                meta = (
                    '<meta charset="iso-8859-1">' if d % 4 == 2 else ""
                )
                page = (
                    f"<html><head><title>Doc {d}</title>{meta}"
                    f"<script>var x=1;</script></head><body>"
                    f'<nav><a href="/">Home</a></nav>'
                    f"<h1>Report</h1><p>{_html.escape(body)} café "
                    f"naïve</p>"
                    f'<footer><a href="/tos">Terms</a></footer>'
                    f"</body></html>"
                )
                br = d % 4
                if br == 0:
                    payload = page.encode("utf-8-sig")
                elif br == 1:
                    payload = page.encode("utf-16")
                elif br == 2:
                    payload = page.encode("latin-1")
                else:
                    payload = (
                        page.encode("utf-8")
                        .decode("latin-1")
                        .encode("utf-8")
                    )
                blob = build_warc(
                    [
                        {"type": "warcinfo",
                         "payload": b"software: synth\r\n"},
                        {"type": "response", "uri": uri,
                         "payload": payload,
                         "content_type": "text/html"},
                        {"type": "request", "uri": uri,
                         "payload": b"GET / HTTP/1.1\r\n"},
                        {"type": "response",
                         "uri": uri + "/missing",
                         "payload": b"gone", "status": 404,
                         "content_type": "text/plain"},
                    ],
                    gzip_members=True,
                )
                ids.append(d)
                blobs.append(bytearray(blob))
            yield pd.DataFrame({"doc_id": ids, "warc": blobs})

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False),
         T.StructField("warc", T.BinaryType(), True)]
    )
    n = write_warc(
        docs.mapInPandas(_synth, schema),
        WARC_FIXTURE_DIR,
        order_col="doc_id",
        files=32,
    )
    with open(marker, "w") as fh:
        fh.write(str(n))


# q166's headline row times the ENGINE: the synthesized crawl is
# materialized ONCE per sf_dir as a (doc_id, warc<binary>) parquet
# fixture (the exact q166_warc_frame output) and the timed region runs
# q166_chain off those bytes, so per-run Python WARC synthesis and gzip
# compression are fixture-build cost, paid once and marker-guarded. A
# parquet blob column (not .warc.gz files) because the chain is keyed by
# doc_id, which the /exact dup-bait path class makes unrecoverable from
# a record's URI; the warc_file_ingest tier prices the .warc.gz front
# door separately.
Q166_FIXTURE_DIR = os.path.join(REPO, ".q166_fixture")


def _build_q166_fixture(spark, sf_dir: str) -> str:
    """Materialize q166's synthesized crawl once per sf_dir
    (marker-guarded, keyed by the sf tag so sf0.1 and test SFs don't
    collide). Returns the parquet path."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = os.path.join(Q166_FIXTURE_DIR, tag)
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out
    from torcharrow_spark.queries import q166_warc_frame

    q166_warc_frame(spark, sf_dir).write.mode("overwrite").parquet(out)
    return out


def _q166_from_fixture(spark, sf_dir: str):
    """The headline-timed q166 variant: identical 12-stage chain, raw
    WARC bytes read from the materialized fixture (output pinned
    identical to the per-run-synth query in tests/test_web_ingest.py)."""
    from torcharrow_spark.queries import q166_chain

    fix = _build_q166_fixture(spark, sf_dir)
    return q166_chain(spark, sf_dir, spark.read.parquet(fix))


#: headline rows whose timed callable differs from the registered
#: query (fixture-backed front doors); the registered query and its
#: oracle are untouched — the driver still runs those.
HEADLINE_OVERRIDES = {
    "q166_commoncrawl_capstone": _q166_from_fixture,
}


def run_warc_file_ingest(spark, sf_dir: str, metrics: StageMetrics) -> dict:
    """Parse-path-only WARC tier: read the materialized .warc.gz fixture
    from disk (one task per file), explode records, decode charsets,
    extract text. Best-of-2 steady seconds and the pins."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import html_extract
    from torcharrow_spark.operators.textnorm import decode_payloads
    from torcharrow_spark.sources import read_warc

    _build_warc_fixture(spark, sf_dir)

    def build():
        recs = read_warc(WARC_FIXTURE_DIR, spark).to_spark()
        pages = recs.where(
            (F.col("http_status") == 200)
            & F.col("content_type").startswith("text/html")
        ).select("file", "target_uri", "payload")
        decoded = decode_payloads(
            pages, "payload", "file", passthrough=("target_uri",)
        )
        return html_extract(
            decoded, html_col="text", id_col="file",
            passthrough=("encoding", "target_uri"),
        )

    out = measure(build, metrics, best_of=2)
    bad = pin_violations(out, WARC_INGEST_PIN)
    if bad:
        out["regression"] = bad
    print(f"# warc_file_ingest: {out}", file=sys.stderr)
    return out


#: (rows, shuffle-write bytes, exchanges) of one count-sink execution
#: of q19's minhash_pairs on the 5M-doc corpus (128 files): the r12
#: capture on local[32], not re-measured since.
SF100_Q19_PIN = (727097, 1_168_758_597, None)


def run_stress_sf100_bytes(spark, metrics: StageMetrics) -> dict:
    """One byte-only assertion for one pair family at the third decade,
    so 50k -> 5M docs shuffle linearity cannot silently rot between
    one-off evidence runs. The 5M-doc corpus is built ONCE per machine
    from the sf10 corpus by the SCALE_SF100.md copy-tagging scheme
    ('z{copy}' word tags); the measurement is a SINGLE count-sink
    execution of q19's minhash_pairs — no steady re-run, no wall claim.
    The gate: rows equal, bytes within 25% of the pin, zero spill."""
    from torcharrow_spark.operators import minhash_pairs

    _build_stress_sf10(spark)
    _build_tagged(spark, STRESS10_DIR, SF100_DIR, "_BUILT_v1", "z",
                  10_000_000_000, 128, None)
    docs100 = spark.read.parquet(f"{SF100_DIR}/documents.parquet")
    wm = metrics.snapshot()
    t0 = time.perf_counter()
    rows = minhash_pairs(docs100, shingle_k=3, num_hashes=8, bands=4).count()
    b = metrics.since(wm)
    out: dict = {
        "rows": rows,
        "oneshot_wall_sec": round(time.perf_counter() - t0, 1),
        "shuffle_bytes": b["shuffle_write"],
        "spill_bytes": b["spill"],
    }
    bad = pin_violations(out, SF100_Q19_PIN)
    if bad:
        out["regression"] = bad
    print(f"# stress_sf100 q19 bytes: {out}", file=sys.stderr)
    return out


def run_recall_sf10(spark) -> dict:
    """r12 (VERDICT r11 ask #6): the ivf_int8 composition's recall at
    the SECOND measured decade — the 200k-vector sf10 stress corpus.
    The 512-cell table is trained ONCE per machine and cached as a
    parquet fixture next to the corpus (md5-init, 2 Lloyd steps —
    assignment scans cost ~4 min each at 200k x 512 cells, so the
    kmeans++ seeding the sf1 ladder buys is traded away here; at 390
    vectors/cell the granularity is COARSE, the regime where sf1
    measured seeding to be worth little). Reports recall@10 and
    effective scan bytes for a probe ladder around the sf1 operating
    point (204/512 at 8/32 bits = 9.96% of full-scan bytes).

    Cost-model note this row exists to publish: at constant cell
    count, corpus growth packs more vectors per cell, so the SAME
    probe count scans the same byte FRACTION but concentrates less of
    the true neighborhood per cell — holding recall across decades
    ultimately needs cells ~ N (constant occupancy), which raises
    assignment cost per scan; that is the trained-fit price the
    standing index (`annindex`) amortizes by persisting codes."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.clustering import kmeans
    from torcharrow_spark.operators.similarity import (
        brute_force_topk,
        ivf_quantized_topk,
    )

    _build_stress_sf10(spark)
    emb = spark.read.parquet(f"{STRESS10_DIR}/embeddings.parquet")
    cent_path = os.path.join(STRESS10_DIR, "centroids_512_md5x2")
    if not os.path.exists(os.path.join(cent_path, "_SUCCESS")):
        _t0 = time.perf_counter()
        _asg, cents = kmeans(emb, k=512, max_iter=2, init="md5")
        spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(cents)],
            "cell int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(cent_path)
        print(
            f"# recall_sf10: trained+cached 512 cells in "
            f"{time.perf_counter() - _t0:.0f}s",
            file=sys.stderr,
        )
    centdf = spark.read.parquet(cent_path)
    q = emb.where(F.pmod(F.col("vec_id"), F.lit(9001)) == 0).limit(24)
    k = 10
    exact = {
        (r["query_id"], r["match_id"])
        for r in brute_force_topk(emb, q, k=k).collect()
    }
    out: dict = {"k": k, "n_queries": 24, "cells": 512, "ladder": {}}
    bits_frac = 8.0 / 32.0
    for n_probe in (154, 204, 256):
        got = {
            (r["query_id"], r["match_id"])
            for r in ivf_quantized_topk(
                emb, q, centdf, k=k, n_probe=n_probe, candidates=50
            ).collect()
        }
        out["ladder"][n_probe] = {
            "recall": round(len(exact & got) / len(exact), 4),
            "effective_bytes_pct": round(
                n_probe / 512 * bits_frac * 100, 2
            ),
        }
    print(f"# recall_sf10: {out['ladder']}", file=sys.stderr)
    return out


def run_ann_index_lifecycle(spark, sf01_dir: str) -> dict:
    """r12 (VERDICT r11 ask #5): price the standing ANN index's
    lifecycle on the sf1 stress corpus (20k vectors, dim 64, 64
    md5-pick cells). Probe wall is measured at 0, 4, and 16 live
    delta batches (each delta adds one parquet scan + union branch to
    every `ann_index_topk`), then after `ann_index_compact` folds the
    deltas into a fresh base snapshot. Reports the compaction wall
    and the BREAK-EVEN probe count: compact_sec / (probe@16 - probe@0)
    — run the fold when the root will be probed more times than that
    before the next append wave. Row counts are sanity-pinned
    (probes must return identical k x queries rows at every delta
    state); walls are report-only (the lifecycle has no plan to
    regress — the probe plan is pinned by q174's oracle)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        ann_index_append,
        ann_index_compact,
        ann_index_publish,
        ann_index_topk,
    )
    from torcharrow_spark.operators.similarity import _centroids

    _build_stress_sf1(spark, sf01_dir)
    emb = spark.read.parquet(f"{STRESS_DIR}/embeddings.parquet")
    cent_rows = _centroids(emb, 64, "vec_id", "embedding")
    cents = spark.createDataFrame(
        [(i, v) for i, (_cid, v) in enumerate(cent_rows)],
        "cell int, centroid array<double>",
    )
    q = emb.where(F.pmod(F.col("vec_id"), F.lit(2003)) == 0).limit(24)
    root = tempfile.mkdtemp(prefix="bench_annix_") + "/idx"

    def _probe() -> tuple[float, int]:
        best, rows = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            got = ann_index_topk(
                q, emb, root, k=10, n_probe=8, candidates=50
            ).collect()
            best = min(best, round(time.perf_counter() - t0, 3))
            rows = len(got)
        return best, rows

    out: dict = {}
    try:
        # base = 80% of the corpus; 16 delta batches from the rest
        base = emb.where(F.col("vec_id") % 5 != 0)
        ann_index_publish(base, cents, root)
        out["probe_at_0_deltas_sec"], r0 = _probe()
        for i in range(16):
            ann_index_append(
                emb.where(
                    (F.col("vec_id") % 5 == 0)
                    & (F.col("vec_id") % 80 == i * 5)
                ),
                root,
            )
            if i == 3:
                out["probe_at_4_deltas_sec"], r4 = _probe()
        out["probe_at_16_deltas_sec"], r16 = _probe()
        t0 = time.perf_counter()
        compact_report = ann_index_compact(root, spark)
        out["compact_sec"] = round(time.perf_counter() - t0, 3)
        out["compact_rows"] = compact_report["merged_rows"]
        out["probe_after_compact_sec"], rc = _probe()
        out["rows_consistent"] = len({r0, r4, r16, rc}) == 1
        drift = out["probe_at_16_deltas_sec"] - min(
            out["probe_at_0_deltas_sec"], out["probe_after_compact_sec"]
        )
        out["break_even_probes"] = (
            round(out["compact_sec"] / drift, 1) if drift > 0.05 else None
        )
        print(
            f"# ann lifecycle: probe 0/4/16 deltas "
            f"{out['probe_at_0_deltas_sec']}/"
            f"{out['probe_at_4_deltas_sec']}/"
            f"{out['probe_at_16_deltas_sec']}s, compact "
            f"{out['compact_sec']}s -> {out['probe_after_compact_sec']}s, "
            f"break-even {out['break_even_probes']} probes, rows "
            f"consistent {out['rows_consistent']}",
            file=sys.stderr,
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)
    return out


def run_bpe_real_vocab(spark, sf_dir: str) -> dict:
    """Tokenize every sf document with the full GPT-2 vocabulary
    (50,257 tokens / 50,000 merges, the PUBLIC asset shipped in the
    reference repo) through the production path — Arrow-batched
    pandas_udf, tokenizer in the task closure — and report steady
    seconds + tokens/sec. Skipped (empty dict) when the asset isn't
    mounted."""
    if not (os.path.exists(GPT2_ENCODER) and os.path.exists(GPT2_VOCAB)):
        return {}
    from pyspark.sql import functions as F

    from torcharrow_spark.functions import BPETokenizer
    from torcharrow_spark.functions.bpe import bpe_tokenize

    with open(GPT2_ENCODER, encoding="utf-8") as f:
        encoder = json.load(f)
    with open(GPT2_VOCAB, encoding="utf-8") as f:
        merges = [tuple(l.split()) for l in f.read().split("\n")[1:-1]]
    tok = BPETokenizer(encoder, merges)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def build():
        return bpe_tokenize(tok, docs, "text")

    _sink(build())  # cold: closure broadcast + codegen
    t0 = time.perf_counter()
    _sink(build())
    sec = round(time.perf_counter() - t0, 3)
    row = build().agg(
        F.sum(F.size("tokens")).alias("toks"), F.count(F.lit(1)).alias("docs")
    ).collect()[0]
    out = {
        "sec": sec,
        "docs": int(row["docs"]),
        "tokens": int(row["toks"]),
        "tokens_per_sec": int(row["toks"] / sec),
        "n_merges": len(merges),
    }
    print(f"# bpe_real_vocab: {out}", file=sys.stderr)
    return out


def compact_line(payload: dict, full_name: str | None) -> str:
    """The ONE-line stdout summary the driver records: required fields
    (metric/value/unit/queries/sf) + one-number rollups of everything
    else, with the detail living in BENCH_full_r{N}.json. The driver
    keeps only the LAST 2000 chars of stdout and json-parses the final
    line, so the line is kept <= 1900 chars by dropping the optional
    byte_regressions list, then compressing `queries` (never the
    required five)."""
    stress = payload.get("stress_sf1") or {}
    stress10 = payload.get("stress_sf10") or {}
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "queries": {k: round(v, 2) for k, v in payload["queries"].items()},
        "sf": payload["sf"],
        "spill_bytes_total": sum(payload.get("spill_bytes", {}).values()),
        "byte_regressions": sorted(payload.get("byte_regressions", {})),
        "stress_sf1_sec": round(
            sum(v.get("sec", 0) for v in stress.values()), 1
        ),
        "stress_sf10_sec": round(
            sum(v.get("sec", 0) for v in stress10.values()), 1
        ),
        "stress_spill_bytes": sum(
            v.get("spill_bytes", 0)
            for v in (*stress.values(), *stress10.values())
        ),
        # per-tier names: five queries exist in BOTH tiers, and a
        # {**a, **b} merge would let a clean sf10 entry mask its sf1
        # twin's flag
        "stress_regressions": stress_regressions(payload),
        "cpus": payload.get("cpus"),
        "plan_width": payload.get("plan_width"),
        "full": full_name,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        compact.pop("byte_regressions")
        line = json.dumps(compact, separators=(",", ":"))
    # `queries` is driver-required — never dropped; if the line still
    # overflows, compress it (1-decimal, then slowest-N) instead
    if len(line) > 1900:
        compact["queries"] = {
            k: round(v, 1) for k, v in compact["queries"].items()
        }
        line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1900 and len(compact["queries"]) > 5:
        keep = sorted(
            compact["queries"].items(), key=lambda kv: -kv[1]
        )[: max(5, len(compact["queries"]) - 8)]
        compact["queries"] = dict(sorted(keep))
        line = json.dumps(compact, separators=(",", ":"))
    return line


def stress_regressions(payload: dict) -> list:
    """Names of every stress-tier row whose pins moved, tier-suffixed."""
    sf1 = payload.get("stress_sf1") or {}
    sf10 = payload.get("stress_sf10") or {}
    out = [k for k, v in sf1.items() if v.get("regression")]
    out += [f"{k}@sf10" for k, v in sf10.items() if v.get("regression")]
    out += [k for k in ("warc_file_ingest", "stress_sf100_bytes")
            if (payload.get(k) or {}).get("regression")]
    return sorted(out)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = gate_session("bench")
    from torcharrow_spark.queries import QUERIES

    metrics = StageMetrics(spark)
    # warm the JVM + parquet footers once so timings measure the queries
    _sink(QUERIES["q01_pricing_summary"](spark, sf_dir))
    # materialize fixture-backed front doors OUTSIDE any timed region
    _build_q166_fixture(spark, sf_dir)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    results: dict[str, dict] = {}
    byte_regressions: dict[str, dict] = {}
    for name in HEADLINE:
        qfn = HEADLINE_OVERRIDES.get(name, QUERIES[name])
        m = results[name] = measure(lambda: qfn(spark, sf_dir), metrics)
        print(
            f"# {name}: cold {m['cold_sec']:.3f}s / steady {m['sec']:.3f}s "
            f"({m['rows']} rows, shuffle {m['shuffle_bytes']}B, "
            f"{m['exchanges']} exchanges)",
            file=sys.stderr,
        )
        bad = pin_violations(m, HEADLINE_PINS[name]) if sf_val == PIN_SF else {}
        if bad:
            byte_regressions[name] = {
                k: {"got": m[k], "pin": v} for k, v in bad.items()
            }
            print(f"# PIN REGRESSION {name}: {byte_regressions[name]}",
                  file=sys.stderr)

    tiers: dict = {}
    if sf_val == PIN_SF and not os.environ.get("SPARK_GRAFT_NO_STRESS"):
        _build_stress_sf1(spark, sf_dir)
        lower = {
            "q21_ngram_jaccard_auto": results["q21_ngram_jaccard"]["sec"],
            "q86_strip_spans": results["q86_strip_duplicate_spans"]["sec"],
            **{n: results[n]["sec"] for n in STRESS_PINS if n in results},
        }
        tiers["stress_sf1"] = run_stress_tier(
            spark, STRESS_DIR, STRESS_PINS, 3, metrics, "sf1", lower
        )
        tiers["stress_sf1"]["pair_skew_q42"] = pair_skew_q42(spark)
        if not os.environ.get("SPARK_GRAFT_NO_SF10"):
            _build_stress_sf10(spark)
            tiers["stress_sf10"] = run_stress_tier(
                spark, STRESS10_DIR, STRESS_SF10_PINS, 2, metrics, "sf10",
                {n: v["sec"] for n, v in tiers["stress_sf1"].items()
                 if "sec" in v},
            )
        tiers["bpe_real_vocab"] = run_bpe_real_vocab(spark, sf_dir)
        tiers["recall_sf1"] = run_recall_curves(spark, sf_dir)
        tiers["ann_index_lifecycle"] = run_ann_index_lifecycle(spark, sf_dir)
        if not os.environ.get("SPARK_GRAFT_NO_SF10"):
            tiers["recall_sf10"] = run_recall_sf10(spark)
            tiers["stress_sf100_bytes"] = run_stress_sf100_bytes(spark, metrics)
        tiers["tensor_export"] = run_tensor_export(spark, sf_dir)
        tiers["warc_file_ingest"] = run_warc_file_ingest(spark, sf_dir, metrics)

    warm = {n: m["sec"] for n, m in results.items()}
    cold = {n: m["cold_sec"] for n, m in results.items()}
    payload = {
        "metric": "headline_queries_total_steady_state",
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "queries": warm,
        "cold_queries": cold,
        "cold_total": round(sum(cold.values()), 3),
        "rows": {n: m["rows"] for n, m in results.items()},
        "shuffle_bytes": {n: m["shuffle_bytes"] for n, m in results.items()},
        "spill_bytes": {n: m["spill_bytes"] for n, m in results.items()},
        "exchanges": {n: m["exchanges"] for n, m in results.items()},
        "byte_regressions": byte_regressions,
        **tiers,
        "sf": sf_val,
        "cpus": len(os.sched_getaffinity(0)),
        "plan_width": PLAN_WIDTH,
    }
    # Only the LAST 2000 chars of stdout are kept by the recorder, so the
    # FULL payload goes to a repo file and stdout gets the compact line.
    full_name = None
    try:
        rounds = [
            int(f[7:-5].lstrip("0") or 0)
            for f in os.listdir(REPO)
            if f.startswith("BENCH_r") and f.endswith(".json") and f[7:-5].isdigit()
        ]
        n = (max(rounds) + 1) if rounds else 0
        full_name = f"BENCH_full_r{n:02d}.json"
        with open(os.path.join(REPO, full_name), "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    except OSError as e:  # read-only checkout: stderr note, no full copy
        full_name = None
        print(f"# BENCH_full write skipped: {e}", file=sys.stderr)

    print(compact_line(payload, full_name))
    if (byte_regressions or stress_regressions(payload)) and os.environ.get(
        "SPARK_GRAFT_BENCH_STRICT"
    ):
        sys.exit(1)


if __name__ == "__main__":
    main()

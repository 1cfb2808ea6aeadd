"""Plan-pin gate: run the headline queries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test data) and check each plan's output rows, shuffle bytes,
spill and exchange count against pins that hold at any core count;
print ONE JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {...}, "sf": ...} and write the full payload to
bench_full.json (gitignored). At the pin scale it then runs the sf1
stress pins (a 10x corpus built once from sf0.1) and the WARC ingest pin.

The pins are the gate. Shuffle bytes, rows and exchanges are a property
of (plan, data, partitioning), and `gate_session` fixes the partitioning
from one constant, PLAN_WIDTH, whatever the host's core count. Walls are
reported, never gated: each query is executed against the NOOP sink
(`df.write.format("noop")` forces every output column; a count() sink
lets Catalyst prune projection-only queries to a row count) once cold
and once steady, and both walls go into the JSON. Wall statistics
(seeded closed-loop runs, medians, per-layer splits) come from
`perfbench/` (BENCHMARK.json), not from here.

Options (environment variables):
  SPARK_GRAFT_SF_DIR        test data directory (default: the sf0.1 data);
  SPARK_GRAFT_NO_STRESS=1   skips the sf1 stress and WARC ingest pins;
  SPARK_GRAFT_BENCH_STRICT=1  exits 1 on any pin violation;
  SPARK_DRIVER_MEMORY       driver heap of the gate session (default: the
                            smaller of 16g and half of physical memory).
gate_session sets SPARK_GRAFT_CPUS to PLAN_WIDTH in this process.
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
    PLAN_WIDTH and get_session's Python worker confs, so reported walls
    measure the engine's own worker path. Must run before anything in the
    process imports torcharrow_spark, because session.py reads
    SPARK_GRAFT_CPUS at import; a session built any other way fails
    loudly here."""
    os.environ["SPARK_GRAFT_CPUS"] = str(PLAN_WIDTH)
    from pyspark.sql import SparkSession

    import torcharrow_spark as ts
    from torcharrow_spark.session import driver_memory, worker_confs

    width = master_width or len(os.sched_getaffinity(0))
    confs = worker_confs()  # the engine's Python worker path
    builder = (
        SparkSession.builder.master(f"local[{width}]")
        .appName(app)
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.default.parallelism", str(PLAN_WIDTH))
    )
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ts.tune(spark)
    ipn = spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    par = spark.sparkContext.defaultParallelism
    daemon = spark.sparkContext.getConf().get("spark.python.daemon.module", None)
    if (par != PLAN_WIDTH or ipn != str(PLAN_WIDTH * 8)
            or daemon != confs["spark.python.daemon.module"]):
        raise RuntimeError(
            f"gate session is not pinned to PLAN_WIDTH={PLAN_WIDTH} "
            f"(defaultParallelism {par}, initialPartitionNum {ipn}) or does "
            f"not run the engine's worker daemon ({daemon}): call "
            "gate_session before importing torcharrow_spark or creating "
            "another session"
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# Headline pins at sf0.1: (output rows, shuffle-write bytes of one steady
# run, Exchange count of the built plan as plans.plan_stats reports it —
# the formatted plan names each shuffle exchange twice, tree and detail).
# All measured at PLAN_WIDTH 32 on local[4]; the comment compares the bytes
# with the local[32] r13 run (`git show 5f1e4e3:BENCH_full_r13.json`) and
# its pin. Rows and exchanges are first pins.
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


def _build_stress_sf1(spark, sf01_dir: str) -> None:
    """Materialize the 10x 'sf1' stress corpus (50k docs / 20k vectors)
    from sf0.1 once (marker-guarded, gitignored). Every word in copy i>0
    gets the tag f"x{i}", so each copy reproduces the source's intra-copy
    near-dup structure verbatim while sharing ZERO shingles across copies
    — true near-dup structure grows exactly linearly (a partial mutation
    was rejected: an unchanged rare shingle's document frequency grows
    10x and prefix candidates quadratically). Embeddings get a per-copy
    Rademacher sign pattern: within-copy cosines exact, cross-copy ~0.
    Written as 32 hash-partitioned files (a one-file corpus scan-gated
    every stress query on one straggler task)."""
    from pyspark.sql import functions as F

    done = os.path.join(STRESS_DIR, "_BUILT_v3")
    if os.path.exists(done):
        return
    stride, files = 10_000_000, 32
    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    copies = spark.range(10).select(F.col("id").cast("int").alias("copy"))
    docs.crossJoin(copies).select(
        (F.col("doc_id") + F.col("copy") * F.lit(stride)).alias("doc_id"),
        F.when(F.col("copy") == 0, F.col("text"))
        .otherwise(
            F.array_join(
                F.expr("transform(split(text, ' '), w -> concat(w, 'x', copy))"),
                " ",
            )
        )
        .alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    ).repartition(files, "doc_id").write.mode("overwrite").parquet(
        f"{STRESS_DIR}/documents.parquet"
    )
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    emb.crossJoin(copies).select(
        (F.col("vec_id") + F.col("copy") * F.lit(stride)).alias("vec_id"),
        F.when(F.col("copy") == 0, F.col("embedding"))
        .otherwise(
            F.expr(
                "transform(embedding, (x, d) -> CAST(x * "
                "(CASE WHEN pmod(xxhash64(concat(copy, ',', d)), 2) = 0 "
                "THEN 1.0 ELSE -1.0 END) AS FLOAT))"
            )
        )
        .alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    ).repartition(files, "vec_id").write.mode("overwrite").parquet(
        f"{STRESS_DIR}/embeddings.parquet"
    )
    with open(done, "w") as fh:
        fh.write("ok\n")


def _stress_cases(spark) -> dict:
    """The pair-machinery operators whose cost could creep quadratically
    with corpus size, as builders over the sf1 stress corpus."""
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
        return spark.read.parquet(f"{STRESS_DIR}/documents.parquet")

    def emb():
        return spark.read.parquet(f"{STRESS_DIR}/embeddings.parquet")

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
            spark, STRESS_DIR
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


def run_stress_tier(spark, metrics: StageMetrics, lower: dict) -> dict:
    """Measure the pinned stress cases on the sf1 corpus. Each row
    reports best-of-3 steady seconds, its ratio to the same case at sf0.1
    (`lower`, sec by name; ~10 = linear), and the pins; a moved pin puts
    its violations under "regression"."""
    best_of = 3
    cases = _stress_cases(spark)
    out: dict[str, dict] = {}
    for name, pin in STRESS_PINS.items():
        m = measure(cases[name], metrics, best_of)
        m["best_of"] = best_of
        b = lower.get(name)
        m["vs_lower_tier_ratio"] = round(m["sec"] / b, 2) if b else None
        bad = pin_violations(m, pin)
        if bad:
            m["regression"] = bad
            print(f"# STRESS sf1 REGRESSION {name}: {m} vs pin {pin}",
                  file=sys.stderr)
        out[name] = m
        print(
            f"# stress sf1 {name}: {m['sec']:.3f}s best-of-{best_of} "
            f"({m['rows']} rows, shuffle {m['shuffle_bytes']}B, "
            f"{m['exchanges']} exchanges)",
            file=sys.stderr,
        )
    return out


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


def compact_line(payload: dict, full_name: str | None) -> str:
    """The ONE-line stdout summary the driver records: required fields
    (metric/value/unit/queries/sf) + one-number rollups of everything
    else, with the detail living in bench_full.json. The driver keeps only
    the LAST 2000 chars of stdout and json-parses the final line, so the
    line is kept <= 1900 chars by dropping the optional byte_regressions
    list, then compressing `queries` (never the required five)."""
    stress = payload.get("stress_sf1") or {}
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
        "stress_spill_bytes": sum(
            v.get("spill_bytes", 0) for v in stress.values()
        ),
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
    """Names of every stress-tier row whose pins moved."""
    out = [k for k, v in (payload.get("stress_sf1") or {}).items()
           if v.get("regression")]
    if (payload.get("warc_file_ingest") or {}).get("regression"):
        out.append("warc_file_ingest")
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
        tiers["stress_sf1"] = run_stress_tier(spark, metrics, lower)
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
    full_name = "bench_full.json"  # gitignored
    try:
        with open(os.path.join(REPO, full_name), "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    except OSError as e:  # read-only checkout: stderr note, no full copy
        print(f"# {full_name} write skipped: {e}", file=sys.stderr)
        full_name = None

    print(compact_line(payload, full_name))
    if (byte_regressions or stress_regressions(payload)) and os.environ.get(
        "SPARK_GRAFT_BENCH_STRICT"
    ):
        sys.exit(1)


if __name__ == "__main__":
    main()

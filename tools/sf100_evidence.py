"""One-off r8 evidence run (VERDICT r7 ask #7): extend SCALE_SF100.md to
the two biggest sf10 byte movers. Builds the sf100 docs corpus from the
sf10 stress corpus by the same copy-tagging scheme r7 used ('z{copy}'
word tags, so no shingle crosses any of the 1000 effective copies and
true near-dup structure stays exactly linear). Usage:
  python tools/sf100_evidence.py q46_sf10 | q46_sf100 | q21_sf40
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import torcharrow_spark as ts
from pyspark.sql import functions as F

from bench import (STRESS10_DIR, StageMetrics, _build_stress_sf1,
                   _build_stress_sf10, _sink)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF100_DIR = os.path.join(REPO, ".stress_sf100")
SF40_DIR = os.path.join(REPO, ".stress_sf40")


def _build_tagged(spark, src_dir, dest_dir, n_copies, id_stride, n_files):
    done = os.path.join(dest_dir, "_BUILT_v1")
    if os.path.exists(done):
        return
    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    copies = spark.range(n_copies).select(F.col("id").cast("int").alias("copy"))
    d = docs.crossJoin(copies).select(
        (F.col("doc_id") + F.col("copy") * F.lit(id_stride)).alias("doc_id"),
        F.when(F.col("copy") == 0, F.col("text")).otherwise(
            F.array_join(
                F.expr("transform(split(text, ' '), w -> concat(w, 'z', copy))"),
                " ",
            )
        ).alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    )
    d.repartition(n_files, "doc_id").write.mode("overwrite").parquet(
        f"{dest_dir}/documents.parquet"
    )
    with open(done, "w") as fh:
        fh.write("ok\n")


def measure(spark, name, build, reps=2):
    m = StageMetrics(spark)
    if os.environ.get("SF_EVIDENCE_ONESHOT"):
        # r9: disk-budget mode — the big tiers' shuffle files from
        # cold+steady+count runs ACCUMULATE faster than the async
        # ContextCleaner reclaims them (the r9 q21_sf40 re-run filled
        # 79 GB of /tmp this way and crashed). One measured execution
        # gives rows + bytes + spill (the machine-independent claims);
        # wall is cold-start and labeled as such.
        wm = m.snapshot()
        t0 = time.perf_counter()
        n = build().count()
        wall = time.perf_counter() - t0
        by = m.since(wm)
        print(
            f"RESULT {name}: COLD oneshot {wall:.3f}s, rows {n}, shuffle "
            f"{by['shuffle_write']}B, spill {by['spill']}B "
            f"(disk {by.get('disk_spill', 'n/a')}B)",
            flush=True,
        )
        return
    _sink(build())  # cold
    best = float("inf")
    by = None
    for _ in range(reps):
        wm = m.snapshot()
        t0 = time.perf_counter()
        _sink(build())
        best = min(best, time.perf_counter() - t0)
        if by is None:
            by = m.since(wm)
    n = build().count()
    print(
        f"RESULT {name}: steady {best:.3f}s, rows {n}, "
        f"shuffle {by['shuffle_write']}B, "
        f"spill {by['spill']}B",
        flush=True,
    )


def main():
    mode = sys.argv[1]
    spark = ts.get_session("sf100-evidence")
    spark.sparkContext.setLogLevel("ERROR")
    # scale-up knob under test (tuning.py "AQE initial shuffle width"):
    # the session default is 8x cores — right for the gated sf0.1-sf10
    # tiers on this box, but a fixed local width stops scaling past
    # them (sf40 first measured 28 GB of sort spill at 256 initial
    # partitions); on a real cluster this conf scales with the
    # executor count, which the override simulates
    ipn = os.environ.get("SF_EVIDENCE_INITIAL_PARTITIONS")
    if ipn:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", ipn
        )
        print(f"# initialPartitionNum override: {ipn}", flush=True)
    _build_stress_sf1(spark, "/root/testdata/sf0.1")
    _build_stress_sf10(spark)
    from torcharrow_spark.operators import ngram_jaccard_pairs, simhash_pairs

    if mode == "q46_sf10":
        docs = lambda: spark.read.parquet(f"{STRESS10_DIR}/documents.parquet")
        measure(spark, "q46_sf10_44bit",
                lambda: simhash_pairs(docs(), bits="auto", max_hamming=3))
    elif mode == "q46_sf100":
        _build_tagged(spark, STRESS10_DIR, SF100_DIR, 10, 10_000_000_000, 128)
        docs = lambda: spark.read.parquet(f"{SF100_DIR}/documents.parquet")
        measure(spark, "q46_sf100_60bit",
                lambda: simhash_pairs(docs(), bits="auto", max_hamming=3))
    elif mode == "q21_sf40":
        _build_tagged(spark, STRESS10_DIR, SF40_DIR, 4, 10_000_000_000, 128)
        docs = lambda: spark.read.parquet(f"{SF40_DIR}/documents.parquet")
        measure(spark, "q21_auto_sf40",
                lambda: ngram_jaccard_pairs(docs(), shingle_k=3,
                                            threshold=0.3, mode="auto"),
                reps=1)
    else:
        raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()

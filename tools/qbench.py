"""Single-query micro-bench on bench.py's gate session and methodology
(noop sink, cold + steady runs, per-query shuffle/spill bytes from the
status store, exchange count), so a change can be measured and checked
against bench.py's pins without the full bench run.

Usage: python tools/qbench.py q138_kmeans_semantic_dedup [q43_... ...]
       [--reps N] (default 3 steady reps; median and every wall reported)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 3
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import (
        HEADLINE_OVERRIDES,
        HEADLINE_PINS,
        StageMetrics,
        _sink,
        gate_session,
    )

    spark = gate_session("qbench")
    from torcharrow_spark.plans import plan_stats
    from torcharrow_spark.queries import QUERIES

    _sink(QUERIES["q01_pricing_summary"](spark, sf_dir))  # warm the JVM
    metrics = StageMetrics(spark)
    for name in args:
        qfn = HEADLINE_OVERRIDES.get(name, QUERIES[name])
        spark.sparkContext.setJobDescription(f"qbench:{name}:cold")
        t0 = time.perf_counter()
        _sink(qfn(spark, sf_dir))
        cold = time.perf_counter() - t0
        walls, bytes_ = [], None
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"qbench:{name}:steady{r}")
            wm = metrics.snapshot()
            t0 = time.perf_counter()
            _sink(qfn(spark, sf_dir))
            walls.append(time.perf_counter() - t0)
            if bytes_ is None:
                bytes_ = metrics.since(wm)
        df = qfn(spark, sf_dir)
        print(
            f"{name}: cold {cold:.3f}s steady median "
            f"{statistics.median(walls):.3f}s of "
            f"{sorted(round(w, 3) for w in walls)} "
            f"rows {df.count()} shuffle {bytes_['shuffle_write']}B "
            f"spill {bytes_['spill']}B "
            f"exchanges {plan_stats(df)['exchanges']} "
            f"(pin {HEADLINE_PINS.get(name)})"
        )


if __name__ == "__main__":
    main()

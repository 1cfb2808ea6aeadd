"""bench.py's plan-pin gate: the compact stdout line (pure) and the pins'
independence from the master width (two Spark subprocesses)."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_compact_line_fits_driver_tail_window():
    """Bench output is recorded as the LAST 2000 chars of stdout, whose
    last line is json-parsed. The compact line must always fit and
    always keep the five required fields."""
    from bench import compact_line

    payload = {
        "metric": "headline_queries_total_steady_state",
        "value": 71.5,
        "unit": "sec",
        "queries": {f"q{i:03d}_some_longish_query_name": i * 1.234
                    for i in range(46)},
        "sf": 0.1,
        "spill_bytes": {f"q{i:03d}": 0 for i in range(46)},
        "byte_regressions": {},
        "stress_sf1": {"q19": {"sec": 10.0, "spill_bytes": 0},
                       "pair_skew_q42": {"n_buckets": 256}},
        "stress_sf10": {"q19": {"sec": 100.0, "spill_bytes": 7,
                                "regression": {"spill_bytes": 0}}},
        "cpus": 4,
        "plan_width": 32,
    }
    line = compact_line(payload, "BENCH_full_r07.json")
    assert len(line) <= 1900
    d = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in d
    assert d["stress_regressions"] == ["q19@sf10"]
    assert d["stress_spill_bytes"] == 7
    assert d["stress_sf10_sec"] == 100.0
    assert d["plan_width"] == 32
    for gone in ("machine_factor", "probe_factors",
                 "regressions_drift_adjusted", "wall_watch"):
        assert gone not in d

    # adversarial: a huge byte_regressions dict is dropped before the
    # required fields ever are
    payload["byte_regressions"] = {f"q{i}_padpadpadpadpad": {}
                                   for i in range(200)}
    line = compact_line(payload, None)
    assert len(line) <= 1900
    d = json.loads(line)
    assert "queries" in d and "metric" in d


_PIN_PROBE = """
import json
import bench
spark = bench.gate_session("pin-probe", master_width={width})
from torcharrow_spark.queries import QUERIES
q, sf = QUERIES["q86_strip_duplicate_spans"], {sf!r}
metrics = bench.StageMetrics(spark)
print(json.dumps({{
    "pins": bench.measure(lambda: q(spark, sf), metrics),
    "wide": bench.measure(lambda: q(spark, sf).repartition(64), metrics),
}}))
"""


def test_pins_hold_across_master_widths(sf_dir):
    """The gate's pins are the same at local[4] and local[32], because
    gate_session derives every plan-shaping width from PLAN_WIDTH; and a
    deliberately added repartition exchange trips the gate at both
    widths against the pins measured at the other one. q86 reaches both
    core-count channels: its hash exchanges start at initialPartitionNum
    and its narrow-source spread repartitions to defaultParallelism."""
    procs = {
        w: subprocess.Popen(
            [sys.executable, "-c",
             _PIN_PROBE.format(width=w, sf=sf_dir)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, cwd=REPO,
            # as on a w-core host: the gate must override this
            env=dict(os.environ, SPARK_GRAFT_CPUS=str(w),
                     SPARK_DRIVER_MEMORY="1g"),
            text=True,
        )
        for w in (4, 32)
    }
    got = {}
    for w, p in procs.items():
        out, _ = p.communicate(timeout=600)
        assert p.returncode == 0, f"local[{w}] probe failed"
        got[w] = json.loads(out.strip().splitlines()[-1])

    pinned = ("rows", "shuffle_bytes", "spill_bytes", "exchanges")
    a, b = got[4]["pins"], got[32]["pins"]
    assert {k: a[k] for k in pinned} == {k: b[k] for k in pinned}
    assert a["shuffle_bytes"] > 0 and a["exchanges"] > 0

    from bench import pin_violations

    for w, other in ((4, 32), (32, 4)):
        p = got[other]["pins"]
        pin = (p["rows"], p["shuffle_bytes"], p["exchanges"])
        assert pin_violations(got[w]["pins"], pin) == {}
        assert "exchanges" in pin_violations(got[w]["wide"], pin)

"""bench.py's plan-pin gate: the compact stdout line and the documented
environment knobs (pure), and the pins' independence from the master width
(two Spark subprocesses)."""

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
        "stress_sf1": {"q18": {"sec": 4.0, "spill_bytes": 0},
                       "q19": {"sec": 10.0, "spill_bytes": 7,
                               "regression": {"spill_bytes": 0}}},
        "warc_file_ingest": {"sec": 1.0, "rows": 5000},
        "cpus": 4,
        "plan_width": 32,
    }
    line = compact_line(payload, "bench_full.json")
    assert len(line) <= 1900
    d = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in d
    assert d["stress_regressions"] == ["q19"]
    assert d["stress_spill_bytes"] == 7
    assert d["stress_sf1_sec"] == 14.0
    assert d["plan_width"] == 32
    assert d["full"] == "bench_full.json"
    for gone in ("machine_factor", "probe_factors",
                 "regressions_drift_adjusted", "wall_watch",
                 "stress_sf10_sec"):
        assert gone not in d

    # adversarial: a huge byte_regressions dict is dropped before the
    # required fields ever are
    payload["byte_regressions"] = {f"q{i}_padpadpadpadpad": {}
                                   for i in range(200)}
    line = compact_line(payload, None)
    assert len(line) <= 1900
    d = json.loads(line)
    assert "queries" in d and "metric" in d


def test_every_environment_knob_is_documented():
    """Each environment variable bench.py reads is named in its module
    docstring, so a knob cannot exist without its option line."""
    import ast

    src = open(os.path.join(REPO, "bench.py")).read()
    tree = ast.parse(src)
    doc = ast.get_docstring(tree)

    def is_environ(node):
        return (isinstance(node, ast.Attribute) and node.attr == "environ"
                and isinstance(node.value, ast.Name) and node.value.id == "os")

    read = set()
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "get" and is_environ(node.func.value)):
            read.add(node.args[0].value)
        elif (isinstance(node, ast.Subscript) and is_environ(node.value)
                and isinstance(node.ctx, ast.Load)):
            read.add(node.slice.value)
    assert {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_NO_STRESS"} <= read
    assert sorted(k for k in read if k not in doc) == []


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

"""bench.py's plan-pin gate: its exit decision and the documented
environment knobs (pure), a named single-query run, and the pins'
independence from the master width (Spark subprocesses)."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_exit_status_fails_on_any_broken_pin():
    """bench.py exits nonzero when a headline, stress or WARC row carries
    a pin violation, and zero when none does."""
    from bench import exit_status

    ok = {"sec": 1.0, "rows": 6, "shuffle_bytes": 756, "spill_bytes": 0,
          "exchanges": 2, "build_jobs": 0}
    bad = dict(ok, regression={"exchanges": 2})

    def payload(q=ok, stress=ok, warc=ok):
        return {"queries": {"q01": q}, "stress_sf1": {"q19": stress},
                "warc_file_ingest": warc}

    assert exit_status(payload()) == 0
    assert exit_status({"queries": {"q01": ok}}) == 0
    assert exit_status({"queries": {"q01": bad}}) == 1
    assert exit_status(payload(q=bad)) == 1
    assert exit_status(payload(stress=bad)) == 1
    assert exit_status(payload(warc=bad)) == 1


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
from perfbench.probes import StatusProbe
from torcharrow_spark.queries import QUERIES
q, sf = QUERIES["q86_strip_duplicate_spans"], {sf!r}
probe = StatusProbe(spark)
print(json.dumps({{
    "pins": bench.measure(lambda: q(spark, sf), probe),
    "wide": bench.measure(lambda: q(spark, sf).repartition(64), probe),
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


def test_named_run_measures_only_that_query(sf_dir):
    """`bench.py <query>` measures the named query alone, checks no pin
    off the pin scale and skips the stress and WARC tiers; it exits 0 and
    its last stdout line is the payload."""
    p = subprocess.run(
        [sys.executable, "bench.py", "q01_pricing_summary"],
        capture_output=True, cwd=REPO, text=True, timeout=600,
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
                 SPARK_DRIVER_MEMORY="1g"),
    )
    assert p.returncode == 0, p.stderr[-2000:]
    payload = json.loads(p.stdout.strip().splitlines()[-1])
    assert list(payload["queries"]) == ["q01_pricing_summary"]
    assert "stress_sf1" not in payload and "warc_file_ingest" not in payload
    row = payload["queries"]["q01_pricing_summary"]
    assert row["rows"] > 0 and row["shuffle_bytes"] > 0
    assert row["spill_bytes"] == 0 and row["exchanges"] == 2
    assert row["build_jobs"] == 0 and "regression" not in row
    assert payload["value"] == row["sec"]

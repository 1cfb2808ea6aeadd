"""Fast self-test of the benchmark on the sf0.001 tables.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at sf0.001 and checks
that

- every metric ``BENCHMARK.json`` names is printed with its unit, both on
  its own line and in the JSON result, and a workload with exports also
  prints ``tensor_rows_per_s`` and ``first_batch_s``;
- ``error_rate`` is 0;
- in the traced run, the build, plan and exec spans of every query (build
  and export for an export step) add up to within 5% of the query's span.

Prints each problem and exits 1 if any check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "sf0.001"
COVER = 0.95


def _run(workload: str, trace: int) -> list:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    return proc.stdout.splitlines()


def check_output(lines: list, units: dict, line_units: dict) -> list:
    """Problems with one run's output: ``units`` maps each metric its JSON
    result must hold to its unit; ``line_units`` adds metrics that are only
    printed on their own line."""
    problems = []
    result = json.loads(lines[-1])
    printed = {ln.split()[0]: ln.split() for ln in lines[:-1] if len(ln.split()) >= 3}
    for name, unit in units.items():
        got = result["metrics"].get(name)
        if not got or got["unit"] != unit or not isinstance(got["value"], (int, float)):
            problems.append(f"JSON metric {name}: {got}, want unit {unit}")
    extra = set(result["metrics"]) - set(units)
    if extra:
        problems.append(f"JSON metrics not in BENCHMARK.json: {sorted(extra)}")
    for name, unit in {**units, **line_units}.items():
        if name not in printed or printed[name][2] != unit:
            problems.append(f"line for {name} [{unit}] missing: {printed.get(name)}")
    err = printed.get("error_rate")
    if not err or float(err[1]) != 0 or result["failed"] or not result["correct"]:
        problems.append(f"error_rate not 0: {err}; findings: "
                        f"{[ln for ln in lines if ln.startswith('finding')]}")
    return problems


def check_cover(spans: list) -> list:
    """Queries whose layer spans cover less than COVER of their own span."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    problems = []
    for s in spans:
        if s["name"] != "query":
            continue
        wall = s["end_s"] - s["start_s"]
        layers = sum(c["end_s"] - c["start_s"] for c in children.get(s["id"], ()))
        if layers < COVER * wall:
            problems.append(f"{s['query']}: layers {layers:.4f} s of {wall:.4f} s")
    return problems


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import FEED_UNITS
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []
    for workload in sorted(WORKLOADS):
        _, exports = WORKLOADS[workload]
        feed_only = FEED_UNITS if exports else {}
        found = check_output(_run(workload, 0), e2e, feed_only)
        lines = _run(workload, 1)
        found += check_output(lines, layers, {})
        spans_file = next(ln.split(" ", 1)[1] for ln in lines if ln.startswith("spans "))
        with open(spans_file) as fh:
            found += check_cover(json.load(fh)["spans"])
        print(f"{workload}: {'ok' if not found else f'{len(found)} problem(s)'}")
        problems += [f"{workload}: {p}" for p in found]
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

"""Layered benchmark of the torcharrow_spark engine.

Runs one closed-loop workload (one client, one step at a time) on
``local[<cores>]`` from a single driver process, checks outputs against
the DuckDB oracle outside the timed spans, and prints the metrics, one per
line with its unit, then one JSON result as the last line of standard
output.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced steady passes, reports the per-layer metrics of the
traced ones and writes their spans to ``.perfbench/traces/``.
README.md beside this file says what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, "perfbench", "data")
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
SETUP_ROUNDS = 3
DEFAULT_SCALE = "sf0.01"

E2E_UNITS = {"wall_s": "s", "first_pass_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
FEED_UNITS = {"tensor_rows_per_s": "rows/s", "first_batch_s": "s"}
LAYER_UNITS = {
    "build.driver_s": "s", "build.eager_jobs": "count", "build.eager_s": "s",
    "plan.s": "s", "plan.exchanges": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_rows": "rows",
    "python.total_s": "s", "python.boot_s": "s", "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes", "python.rows_received": "rows",
    "export.s": "s", "export.wait_s": "s", "export.batches": "count",
    "export.bytes": "bytes", "export.rows_per_s": "rows/s",
    "export.first_batch_s": "s",
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--scale", default=DEFAULT_SCALE, choices=sorted(os.listdir(DATA)),
                   help="source tables under perfbench/data/; the self-test "
                        "uses the smallest (default %(default)s)")
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


class Runner:
    """Runs the steps of one workload against one session."""

    def __init__(self, spark, sf_dir: str, probe=None, tracer=None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.probe = probe
        self.tracer = tracer
        self._ids = itertools.count()

    def step(self, name: str, traced: bool, parent=None) -> dict:
        tag = f"perfbench:{name}#{next(self._ids)}"
        probe = self.probe if traced else None
        if probe:
            probe.settle()
            mark = probe.sql_mark()
        w0 = time.perf_counter()
        try:
            if name.startswith("export:"):
                rec = self._export(name, tag)
            else:
                rec = self._query(name, tag)
        except Exception as e:  # a failed step is counted, the pass goes on
            return {"name": name, "error": f"{type(e).__name__}: {e}"}
        rec["wall"] = (w0, time.perf_counter())
        if probe:
            self._trace(rec, tag, mark, parent)
        return rec

    def _query(self, name, tag):
        from perfbench.workloads import build_query

        sc = self.spark.sparkContext
        sc.setJobGroup(f"{tag}/build", f"{tag} build")
        t0 = time.perf_counter()
        sdf = build_query(name, self.spark, self.sf_dir)
        t1 = time.perf_counter()
        sdf._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(f"{tag}/exec", f"{tag} sink")
        sdf.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        return {"name": name, "kind": "query", "t": (t0, t1, t2, t3), "sdf": sdf}

    def _export(self, name, tag):
        from perfbench.workloads import EXPORT_BATCH_ROWS, build_export
        from torcharrow_spark.interop_torch import batched_tensors

        sc = self.spark.sparkContext
        sc.setJobGroup(f"{tag}/build", f"{tag} build")
        t0 = time.perf_counter()
        sdf = build_export(name, self.spark, self.sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{tag}/exec", f"{tag} export")
        batches = batched_tensors(sdf, batch_size=EXPORT_BATCH_ROWS)
        held, waits = [], []
        while True:
            a = time.perf_counter()
            batch = next(batches, None)
            b = time.perf_counter()
            waits.append((a, b))
            if batch is None:
                break
            held.append(batch)
        t3 = time.perf_counter()
        return {"name": name, "kind": "export", "t": (t0, t1, t3), "waits": waits,
                "batches": held, "first_batch_s": waits[0][1] - t1}

    def _trace(self, rec, tag, mark, parent):
        from torcharrow_spark.plans import plan_stats

        probe, tr = self.probe, self.tracer
        probe.settle()
        bjobs, ejobs = probe.jobs(f"{tag}/build"), probe.jobs(f"{tag}/exec")
        build = probe.job_stats(bjobs)
        build.update(probe.python_stats(mark, bjobs))
        sink = probe.job_stats(ejobs)
        sink.update(probe.python_stats(mark, ejobs))
        t = rec["t"]
        qid = tr.add("query", *rec["wall"], parent, query=rec["name"])
        tr.add("build", t[0], t[1], qid, **build)
        rec["build"], rec["sink"] = build, sink
        if rec["kind"] == "query":
            rec["exchanges"] = plan_stats(rec["sdf"])["exchanges"]
            tr.add("plan", t[1], t[2], qid, exchanges=rec["exchanges"])
            tr.add("exec", t[2], t[3], qid, **sink)
        else:
            eid = tr.add("export", t[1], t[2], qid, batches=len(rec["batches"]),
                         **sink)
            for a, b in rec["waits"]:
                tr.add("export.next", a, b, eid)


def _tally_export(rec: dict) -> None:
    """Row count, bytes and per-column sums of the batches an export
    delivered, computed after its timed span; the batches are dropped."""
    import numpy as np

    batches = rec.pop("batches")
    rows, nbytes, sums = 0, 0, {}
    for batch in batches:
        for col, values in batch.items():
            arr = np.asarray(values)
            sums[col] = sums.get(col, 0.0) + float(arr.sum())
            nbytes += arr.nbytes
        rows += len(arr)
    rec.update(rows=rows, bytes=nbytes, sums=sums, n_batches=len(batches))


def run_pass(runner: Runner, order, traced: bool = False) -> dict:
    pid = None
    t0 = time.perf_counter()
    if traced:
        pid = runner.tracer.add("pass", t0, t0)  # end fixed below
    steps = [runner.step(name, traced, pid) for name in order]
    t1 = time.perf_counter()
    if traced:
        runner.tracer.spans[pid]["end_s"] += t1 - t0
    for rec in steps:
        if rec.get("kind") == "export":
            _tally_export(rec)
    return {"wall_s": t1 - t0, "traced": traced, "steps": steps}


def release(p: dict) -> None:
    """Drop the query frames a pass kept for the oracle check."""
    for rec in p["steps"]:
        rec.pop("sdf", None)


def layer_totals(p: dict) -> dict:
    """Per-layer sums over the steps of one traced pass."""
    tot = dict.fromkeys(LAYER_UNITS, 0.0)
    export_rows = 0
    first_batches = []
    for rec in p["steps"]:
        if "error" in rec:
            continue
        t, b, s = rec["t"], rec["build"], rec["sink"]
        tot["build.driver_s"] += max(0.0, t[1] - t[0] - b["jobs_s"])
        tot["build.eager_jobs"] += b["jobs"]
        tot["build.eager_s"] += b["jobs_s"]
        for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "input_rows"):
            tot[f"exec.{k}"] += s[k]
        tot["exec.jobs"] += s["jobs"]
        for k in ("python.total_s", "python.boot_s", "python.bytes_sent",
                  "python.bytes_received", "python.rows_received"):
            tot[k] += b[k] + s[k]
        if rec["kind"] == "query":
            tot["plan.s"] += t[2] - t[1]
            tot["plan.exchanges"] += rec["exchanges"]
            tot["exec.s"] += t[3] - t[2]
        else:
            tot["export.s"] += t[2] - t[1]
            tot["export.wait_s"] += sum(b_ - a for a, b_ in rec["waits"])
            tot["export.batches"] += rec["n_batches"]
            tot["export.bytes"] += rec["bytes"]
            export_rows += rec["rows"]
            first_batches.append(rec["first_batch_s"])
    if tot["export.s"]:
        tot["export.rows_per_s"] = export_rows / tot["export.s"]
        tot["export.first_batch_s"] = statistics.median(first_batches)
    return tot


def steady_wall(passes) -> float:
    """Sum over the steps of a pass of each step's median wall time across
    ``passes``, so that one slow step in one pass does not move it."""
    times: dict = {}
    for p in passes:
        for rec in p["steps"]:
            if "wall" in rec:
                times.setdefault(rec["name"], []).append(rec["wall"][1] - rec["wall"][0])
    return sum(statistics.median(v) for v in times.values())


def feed_metrics(passes) -> dict:
    """tensor_rows_per_s and first_batch_s over the exports of ``passes``."""
    rates, firsts = [], []
    for p in passes:
        exports = [r for r in p["steps"] if r.get("kind") == "export"]
        if exports:
            rates.append(sum(r["rows"] for r in exports)
                         / sum(r["t"][2] - r["t"][1] for r in exports))
            firsts.extend(r["first_batch_s"] for r in exports)
    if not rates:
        return {}
    return {"tensor_rows_per_s": statistics.median(rates),
            "first_batch_s": statistics.median(firsts)}


def verify(passes, oracle, findings) -> tuple:
    """(attempted, failed) over the steps of ``passes`` whose outcome was
    checked; failures are appended to ``findings``.

    A step is checked when it raised, when it is an export (row count and
    column sums against the oracle), or when it is a query of the last
    pass: its frame, built in that pass, is collected here, untimed, and
    its canonical hash compared with the oracle's. Queries of the earlier
    passes ran to the noop sink and are checked only for raising."""
    attempted = failed = 0
    last = passes[-1]
    for p in passes:
        for rec in p["steps"]:
            if "error" in rec:
                why = rec["error"]
            elif rec["kind"] == "export":
                why = oracle.check_export(rec["name"], rec["rows"], rec["sums"])
            elif p is last:
                try:
                    pdf = rec["sdf"].toPandas()
                except Exception as e:  # counted as a failed step
                    why = f"collect: {type(e).__name__}: {e}"
                else:
                    why = oracle.check_query(rec["name"], pdf)
            else:
                continue
            attempted += 1
            if why:
                failed += 1
                findings.append(f"{rec['name']}: {why}")
    return attempted, failed


def setup(seed: int, src: str, sf_dir: str):
    """SETUP_ROUNDS full set-ups; returns the last session and per-round times.

    The first round also launches the JVM; later rounds restart the Spark
    session in it and write the seeded inputs again."""
    from perfbench import host, inputs

    spark, rounds = None, []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = host.start_session()
        t1 = time.perf_counter()
        inputs.generate(src, sf_dir, seed)
        t2 = time.perf_counter()
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        spark.range(0, 100_000, 1, cpus).selectExpr("sum(id)").collect()
        t3 = time.perf_counter()
        rounds.append({"setup.session_s": t1 - t0, "setup.inputs_s": t2 - t1,
                       "setup.warmup_s": t3 - t2, "total": t3 - t0})
    return spark, rounds


def main(argv=None) -> int:
    missing = [p for p in ("torcharrow_spark/queries.py", "tools/driver_sim.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)

    from perfbench import host, probes, workloads
    from perfbench.oracle import Oracle

    src = os.path.join(DATA, args.scale)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    host.fit(run_dir)
    order = workloads.pass_order(args.workload, args.seed)
    oracle = Oracle(src, CACHE)
    spark = None
    findings: list = []
    try:
        with host.RssSampler() as rss:
            sf_dir = os.path.join(run_dir, "inputs")
            spark, rounds = setup(args.seed, src, sf_dir)
            confs = host.effective_confs(spark)
            tracer = probes.Tracer() if args.trace else None
            probe = probes.StatusProbe(spark) if args.trace else None
            runner = Runner(spark, sf_dir, probe, tracer)
            first = run_pass(runner, order)
            release(first)
            steady = []
            t_end = time.perf_counter() + args.seconds
            while True:
                if steady:
                    release(steady[-1])
                traced = bool(args.trace) and len(steady) % 2 == 1
                steady.append(run_pass(runner, order, traced=traced))
                kinds = {p["traced"] for p in steady}
                if time.perf_counter() >= t_end and len(kinds) == 1 + args.trace:
                    break
        attempted, failed = verify([first] + steady, oracle, findings)
        release(steady[-1])
        host.shutdown(spark)
        spark = None
    finally:
        if spark is not None:
            host.shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    untraced = [p for p in steady if not p["traced"]]
    e2e = {
        "wall_s": steady_wall(untraced),
        "first_pass_s": first["wall_s"],
        "setup_s": statistics.median(r["total"] for r in rounds),
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    feed = feed_metrics(untraced)

    print(f"perfbench workload={args.workload} seed={args.seed} scale={args.scale} "
          f"trace={args.trace} steady_passes={len(steady)} steps_per_pass={len(order)}")
    print("conf " + " ".join(f"{k}={v}" for k, v in confs.items()))
    print("setup_rounds_s " + " ".join(f"{r['total']:.3f}" for r in rounds))
    for k, v in {**e2e, **feed}.items():
        print(f"{k} {v:.6g} {E2E_UNITS.get(k) or FEED_UNITS[k]}")
    print(f"error_rate {failed / attempted:.6g} ratio ({failed}/{attempted})")
    for f in findings:
        print(f"finding {f}")

    if args.trace:
        totals = [layer_totals(p) for p in steady if p["traced"]]
        metrics = {k: statistics.median(t[k] for t in totals) for k in LAYER_UNITS}
        for k in ("setup.session_s", "setup.inputs_s", "setup.warmup_s"):
            metrics[k] = statistics.median(r[k] for r in rounds)
        metrics["trace.overhead_s"] = (
            statistics.median(p["wall_s"] for p in steady if p["traced"])
            - statistics.median(p["wall_s"] for p in untraced)
        )
        for k, v in metrics.items():
            print(f"{k} {v:.6g} {LAYER_UNITS[k]}")
        out = os.path.join(WORK, "traces",
                           f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "conf": confs,
                       "self_s": tracer.self_times(), "spans": tracer.spans}, fh)
        print(f"spans {out}")
        units = LAYER_UNITS
    else:
        metrics, units = e2e, E2E_UNITS
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

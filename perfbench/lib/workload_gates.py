"""`gates`: a fixed sample of the operator library's gate roster at sf0.1.

Set-up: the ten input tables are generated from the seed at sf0.1, and a
session is built like `graft.Bench`'s (local[nproc], shuffle partitions =
nproc). The first pass writes every sampled gate's output for the check;
two untimed passes of the timed path warm it; timed passes follow. A
control gate is timed at the start, between passes once half the timed
phase has gone by, and at the end; the middle timing is kept out of the
timed window.

Check: `tools/local_verify.py` over the check pass's output directory:
each gate with oracle SQL must match DuckDB over the same tables (columns
by name, rows sorted, floats to 9 dp); every other gate must return rows,
the property `Verify` checks for it.
"""
import contextlib
import io
import json
import math
import os
import sys

import datagen
from common import ROOT, median, run_java

sys.path.insert(0, os.path.join(ROOT, "tools"))
import local_verify  # noqa: E402

SF = 0.1
CONTROL = "q1_pricing"
# gates whose bodies write table files: a bucketed table
STORAGE = ["events_bucketed_join"]
# cheap representatives of five more families; the sample is sized so
# that a timed pass takes about 2 s on 4 cores and a 10 s run gets four
# to six (README: "gates")
COMPUTE = ["ts_range", "q6_revenue_delta", "zestql_query", "user_spend",
           "dedup_exact"]
GATES = STORAGE + COMPUTE


def family(gate):
    head = gate.split("_")[0]
    return "tpch" if head[0] == "q" and head[1:].isdigit() else head


def check_outputs(sf_dir, out_dir):
    """[(gate, problem)] for every gate whose output `tools/local_verify.py`
    rejects: a gate with oracle SQL must match DuckDB over the same tables,
    any other gate must return rows."""
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        rc = local_verify.main(sf_dir, out_dir)
    bad = [line for line in report.getvalue().splitlines()
           if line.startswith(("FAIL", "ERR")) or line.endswith("(EMPTY!)")]
    if rc and not bad:
        bad = ["local_verify: failures without a gate line"]
    return [(line.split()[1].rstrip(":"), line) for line in bad]


def run(ctx):
    sc, procs = ctx.scratch, ctx.procs
    t_setup = ctx.clock()
    data = sc.sub("data")
    out = sc.sub("out")
    res_path = sc.file("gates.json")

    def generate():
        datagen.write_all(data, ctx.seed, SF)
        open(os.path.join(data, "_READY"), "w").close()
    run_java(procs, sc, "perfbench.Gates",
             [data, out, ctx.seconds, ctx.trace, CONTROL, ",".join(GATES), res_path],
             "gates", xmx="3g", meanwhile=generate)
    with open(res_path) as f:
        res = json.load(f)
    # set-up = data generation + session + the check pass + the two
    # untimed warm-up passes
    setup_s = res["timed_start_epoch_ms"] / 1000.0 - t_setup
    wrong = [(g, e) for g, e in res["errors"].items()]
    wrong += check_outputs(data, out)
    per_gate = {g: median(ts) for g, ts in res["times"].items()}
    all_runs = [t for ts in res["times"].values() for t in ts]
    ctl = res["control"]
    # the run's first stdout line, which tools/bench_diff.py reads unchanged
    ctx.lines.append(json.dumps({"queries": {g: round(v, 3) for g, v in
                                             sorted(per_gate.items())}}))
    out_m = {
        "correct": not wrong, "wrong": wrong,
        "attempted": len(all_runs), "failed": 0,
        "setup_s": setup_s,
        "ops_per_s": len(all_runs) / res["timed_s"],
        "p50_ms": 1000 * median(list(per_gate.values())),
        "mean_ms": 1000 * sum(per_gate.values()) / len(per_gate),
        "gates.max_ms": 1000 * max(per_gate.values()),
        "gates.storage_s": sum(per_gate[g] for g in STORAGE),
        "gates.compute_s": sum(per_gate[g] for g in COMPUTE),
        "gates.geomean_ms": 1000 * math.exp(
            sum(math.log(v) for v in per_gate.values()) / len(per_gate)),
        "gates.control_drift": (max(ctl) - min(ctl)) / median(ctl),
        "gates.pre_job_s": sum(res["pre_job_s"].values()),
    }
    for g, v in per_gate.items():
        k = f"gates.family.{family(g)}_s"
        out_m[k] = out_m.get(k, 0.0) + v
    if ctx.trace:
        n = res["passes"]
        tot = {}
        for cs in res["counters"].values():
            for k, v in cs.items():
                tot[k] = tot.get(k, 0) + v / n
        out_m.update({
            "spark.jobs": tot.get("jobs", 0), "spark.stages": tot.get("stages", 0),
            "spark.tasks": tot.get("tasks", 0),
            "spark.task_busy_s": tot.get("task_busy_ns", 0) / 1e9,
            "spark.shuffle_read_bytes": tot.get("shuffle_read", 0),
            "spark.shuffle_write_bytes": tot.get("shuffle_write", 0),
            "spark.spill_bytes": tot.get("spill", 0),
            "spark.input_bytes": tot.get("input_bytes", 0),
            "spark.output_files": tot.get("output_files", 0),
            "spark.output_bytes": tot.get("output_bytes", 0)})
    return out_m

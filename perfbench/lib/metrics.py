"""The metric roster: the names and units of what a run reports, read from
BENCHMARK.json so that the two cannot drift apart.

Every run reports every metric of its kind. The end-to-end metrics mean
the same thing on each workload, measured on that workload's headline
operation (README: "Metrics"). A per-layer metric that a workload does not
exercise reads 0.
"""
import json
import os

from common import ROOT


def roster(kind):
    """[(name, unit)] of the `end_to_end` or `per_layer` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def select(res, trace):
    """The metrics object of a run's result line."""
    if trace:
        return {n: {"value": float(res.get(n, 0.0)), "unit": u}
                for n, u in roster("per_layer")}
    end_to_end = roster("end_to_end")
    missing = [n for n, _ in end_to_end if not res.get(n)]
    if missing:
        raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    return {n: {"value": float(res[n]), "unit": u} for n, u in end_to_end}

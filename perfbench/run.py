#!/usr/bin/env python3
"""One benchmark for the store and the operator library.

Usage: python3 perfbench/run.py --workload ts_query|ingest|gates
                                --seed N --seconds S --trace 0|1

Builds the program and the harness from source on first use (sbt, into
`.bench_build/`), runs one workload in a private scratch directory that is
removed at the end, checks every output against a computation made apart
from the program, and prints one JSON line last:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (see perfbench/README.md).
"""
import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "lib"))

import common  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ts_query", "ingest", "gates")


class Context:
    def __init__(self, args):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.scratch = common.Scratch()
        self.procs = common.Procs()
        self.lines = []  # stdout lines printed before the result

    @staticmethod
    def clock():
        return time.time()

    def write_json(self, name, obj):
        with open(self.scratch.file(name), "w") as f:
            json.dump(obj, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    common.build()
    ctx = Context(args)
    try:
        if args.workload == "ts_query":
            import workload_ts as w
        elif args.workload == "ingest":
            import workload_ingest as w
        else:
            import workload_gates as w
        res = w.run(ctx)
    finally:
        ctx.procs.stop_all()
        ctx.scratch.close()
    for bad in res.get("wrong", [])[:20]:
        common.log(f"WRONG: {bad}")
    for line in ctx.lines:
        print(line)
    out = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
           "failed": int(res["failed"]),
           "metrics": metrics.select(res, args.trace)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()

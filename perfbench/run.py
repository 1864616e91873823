#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload holdings_refresh --seed 1 --seconds 35 --trace 0

Run from the repository root. Builds the workload's inputs from the
seed, sets up a local Spark session, runs the closed-loop timed
section (whole rounds or passes, as many as ``--seconds`` holds on the
reference host), checks the outputs, and prints one JSON object as the
last line of stdout: the end-to-end metrics with ``--trace 0``, or the
per-layer metrics of the traced run with ``--trace 1``, as
``BENCHMARK.json`` names them. Exits 1 when an output check fails.
Everything it writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

import harness as h
import tracing

WORKLOADS = ("holdings_refresh", "curation_iterative")
# the run must end well inside three minutes; a stuck run dies here
# without printing a result
DEADLINE_S = 170


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(h.ROOT, "ark_invest_api_rust_data_spark")):
        print("perfbench: run from a repository checkout (package not found)", file=sys.stderr)
        return 2
    signal.alarm(DEADLINE_S)

    out_dir = os.path.join(h.ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    h.environ(work)
    sys.path.insert(0, h.ROOT)
    ctx = h.Ctx(seed=args.seed, seconds=args.seconds, traced=bool(args.trace), work=work,
                tracer=tracing.Tracer() if args.trace else None)
    try:
        if args.workload == "holdings_refresh":
            import holdings as workload
        else:
            import curation as workload
        result = workload.run(ctx)
        if ctx.tracer:
            ctx.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        h.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    units = h.metric_units(traced=bool(args.trace))
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    h.log("done")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""COLD-session A/B (round-12 instrument, VERDICT r11 item 9): fork a
FRESH JVM per variant per rep, so kept-change evidence matches the
grading condition (the driver benches a cold session; round 11's warm
same-session interleaved A/Bs systematically favored resident Python
worker pools and amortized Arrow setup, and two of its kept changes
regressed under the driver).

Each rep runs ``bench.py --only`` (warm-up, settle, two timed passes,
min kept, noop sink) in its own subprocess with the variant's env vars
applied and reads its detail line's full-precision timings; variants
alternate A/B/A/B so ambient host drift cancels. Reports per-rep
numbers and the min.

Usage:
  python tools/ab_cold.py --reps 3 \
      --env SPARK_GRAFT_CPUS=4:8 \
      [--env K=VA:VB ...] -- QUERY [QUERY ...]

The first value of each --env is variant A, the second variant B.
With no --env, runs the same code twice (noise-floor calibration).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def run_subset(queries: list[str], env_over: dict[str, str]) -> dict[str, float]:
    env = dict(os.environ)
    env.update(env_over)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py"), "--only", ",".join(queries)],
        capture_output=True,
        text=True,
        env=env,
        timeout=3600,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"bench.py --only rc={proc.returncode}: {proc.stderr[-2000:]}"
        )
    # stdout ends with the detail line, then the summary line
    return json.loads(proc.stdout.strip().splitlines()[-2])["queries"]


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    env_a: dict[str, str] = {}
    env_b: dict[str, str] = {}
    queries: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif a == "--env":
            k, _, vals = args[i + 1].partition("=")
            va, _, vb = vals.partition(":")
            env_a[k] = va
            env_b[k] = vb
            i += 2
        elif a == "--":
            queries = args[i + 1 :]
            break
        else:
            queries = args[i:]
            break
    if not queries:
        raise SystemExit(__doc__)

    rows: dict[str, dict[str, list[float]]] = {
        q: {"A": [], "B": []} for q in queries
    }
    for rep in range(reps):
        for label, env in (("A", env_a), ("B", env_b)):
            t = run_subset(queries, env)
            for q in queries:
                rows[q][label].append(t[q])
            print(
                f"rep {rep} {label} {json.dumps(t)}",
                file=sys.stderr,
                flush=True,
            )
    out = {}
    for q in queries:
        a, b = min(rows[q]["A"]), min(rows[q]["B"])
        out[q] = {
            "A_min": a,
            "B_min": b,
            "B_over_A": round(b / a, 3) if a else None,
            "A": rows[q]["A"],
            "B": rows[q]["B"],
        }
    print(json.dumps({"env_a": env_a, "env_b": env_b, "reps": reps, "queries": out}, indent=1))


if __name__ == "__main__":
    main()

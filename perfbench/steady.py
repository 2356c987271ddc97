#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed, and
print every metric's median, quartiles and spread next to its bound.

    python3 perfbench/steady.py --workload node_history --runs 10
    python3 perfbench/steady.py --workload etl_update --runs 5 --first-seed 501

Spread is (Q3 - Q1) / median over the runs, quartiles as
``statistics.quantiles(values, n=4)`` gives them. Bounds come from
``BENCHMARK.json``; a metric without one (etl_update's) shows "-". The raw
per-run results are written to ``.perfbench_work/steady-<workload>-<first
seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    wall = time.monotonic() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"seed {seed}: exit {proc.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["seed"] = seed
    # run.py's stderr reports how much CPU time the machine lost to iowait
    # and hypervisor steal during the run: the usual cause of a slow run
    share = re.search(r"cpu steal/iowait share ([0-9.]+)", proc.stderr)
    res["wait_share"] = float(share.group(1)) if share else None
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results = []
    for k in range(args.runs):
        seed = args.first_seed + k
        res = run_once(args.workload, seed, seconds)
        results.append(res)
        print(f"seed {seed}: wall {res['wall_s']:.1f} s, correct "
              f"{res['correct']}, {res['failed']}/{res['attempted']} failed, "
              f"steal/iowait share {res['wait_share']}",
              file=sys.stderr, flush=True)

    names = list(results[0]["metrics"])
    print(f"{args.workload}: {len(results)} runs, seeds "
          f"{args.first_seed}..{args.first_seed + args.runs - 1}, "
          f"run_seconds {seconds}, nproc {os.cpu_count()}")
    print(f"{'metric':28} {'unit':>6} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6} {'spread/bound':>12}")
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results]
        unit = results[0]["metrics"][name]["unit"]
        med = statistics.median(vals)
        if len(vals) > 1:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = med
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        ratio = f"{spread / b:12.2f}" if b else f"{'-':>12}"
        print(f"{name:28} {unit:>6} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{spread:7.3f} {b if b else '-':>6} {ratio}")
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"failed share per run: {shares}; all correct: "
          f"{all(r['correct'] for r in results)}; wall per run: "
          f"{statistics.median(r['wall_s'] for r in results):.1f} s median, "
          f"{max(r['wall_s'] for r in results):.1f} s max")
    out = os.path.join(ROOT, ".perfbench_work",
                       f"steady-{args.workload}-{args.first_seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

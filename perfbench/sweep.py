"""Repeatability check: run the benchmark on several seeds per workload,
round-robin over workloads, and print each end-to-end metric's median,
quartiles and spread (interquartile distance over median) against its
bound, plus the host-speed probe over the same runs.

Usage (from the root of a checkout)::

    python3 perfbench/sweep.py --seeds 10 [--workloads a,b] [--first-seed 1]

A bound is met with margin when the spread is below a third of it.
Exits 1 if any run failed or any spread exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import measure

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    sys.stderr.write(proc.stderr)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def calib_samples(workload: str, seeds: set[int]) -> list[float]:
    path = os.path.join(ROOT, ".perfbench_work", f"{workload}-full", "runs.jsonl")
    with open(path) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    return [r["calib_s"] for r in recs if r["seed"] in seeds and not r["trace"]]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    names = args.workloads.split(",")
    seeds = range(args.first_seed, args.first_seed + args.seeds)
    values: dict[str, dict[str, list[float]]] = {w: {} for w in names}
    bad = 0
    for seed in seeds:
        for w in names:
            out = run_once(w, seed, spec["run_seconds"])
            bad += out["failed"] + (not out["correct"])
            for k, m in out["metrics"].items():
                values[w].setdefault(k, []).append(m["value"])
    for w in names:
        calib = calib_samples(w, set(seeds))
        q1, q2, q3 = measure.quartiles(calib)
        print(f"{w}: host.calib_s median {q2:.3f} quartiles {q1:.3f}-{q3:.3f}")
        for m in spec["end_to_end"]:
            v = values[w].get(m["name"], [])
            if not v:
                print(f"  {m['name']}: no values")
                bad += 1
                continue
            q1, q2, q3 = measure.quartiles(v)
            s = measure.spread(v)
            flag = "ok" if s < m["bound"] / 3 else "WIDE" if s > m["bound"] else "near"
            if s > m["bound"]:
                bad += 1
            print(f"  {m['name']:14s} n={len(v):2d} median {q2:10.3f} {m['unit']:5s} "
                  f"q1 {q1:10.3f} q3 {q3:10.3f} spread {s:.4f} bound {m['bound']} {flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

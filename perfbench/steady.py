"""Steadiness check: two sets of runs of one commit.

    python3 perfbench/steady.py

Run from the root of a source checkout. Every workload in BENCHMARK.json
gets two sets of ten runs of its command, each run with its own seed (set
s, run i uses seed 1000*s + i). For every end-to-end metric on every
workload it prints each set's median and quartiles, the interquartile
spread as a share of the median, and whether the spread is within the
metric's bound and the two sets' medians differ by no more than the bound.
It also prints the attempted and failed operation counts of every run.
Raw results go to ``.perfbench_work/steady.json``. Exits non-zero if a run
is incorrect or has a failed operation, or if a spread or a difference is
beyond its bound.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

SETS = 2
RUNS = 10


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    out["seed"] = seed
    out["log"] = [line for line in p.stderr.splitlines() if line.startswith("perfbench:")]
    return out


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    results = {}
    ok = True
    for name in (w["name"] for w in bench["workloads"]):
        sets = []
        for s in range(SETS):
            runs = []
            for i in range(RUNS):
                r = run_once(bench, name, 1000 * (s + 1) + i)
                print(f"{name} set{s + 1} seed={r['seed']} correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} wall={r['wall_s']:.1f}s",
                      flush=True)
                ok &= r["correct"] and r["failed"] == 0
                runs.append(r)
            sets.append(runs)
        results[name] = sets
        for m in bench["end_to_end"]:
            line = [f"  {name:14s} {m['name']:22s}"]
            meds = []
            for runs in sets:
                vals = [r["metrics"][m["name"]]["value"] for r in runs]
                q1, q2, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / q2
                meds.append(q2)
                good = spread <= m["bound"]
                ok &= good
                margin = "" if spread < m["bound"] / 3 else " (above bound/3)"
                line.append(f"median={q2:.6g} q1={q1:.6g} q3={q3:.6g} "
                            f"spread={spread:.3f}{'' if good else ' TOO WIDE'}{margin}")
            d = (meds[1] - meds[0]) / meds[0]
            agree = abs(d) <= m["bound"]
            ok &= agree
            line.append(f"second-vs-first={d:+.3f} bound={m['bound']} "
                        f"{'agree' if agree else 'DISAGREE'}")
            print(" | ".join(line), flush=True)
    os.makedirs(".perfbench_work", exist_ok=True)
    with open(os.path.join(".perfbench_work", "steady.json"), "w") as f:
        json.dump(results, f)
    print("steady:", "ok" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Steadiness self-check.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--out FILE]

Runs every workload as two separate sets of runs (set A on seeds 1..N, set
B on seeds N+1..2N), each run a fresh `run.py` at BENCHMARK.json's
run_seconds, and prints per set each end-to-end metric's median and
quartiles and its spread (quartile distance over median). The sets agree
when every metric's spread, in both sets, is within the metric's bound,
every metric's two medians differ by no more than the bound (either way),
and both sets fail the same share of ops. Exits 1 if they do not.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t0
    return out


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2}


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out")
    a = ap.parse_args()
    metrics = spec["end_to_end"]
    report, agree = {}, True
    for w in a.workloads.split(","):
        sets = []
        for base in (0, a.runs):
            runs = [run_once(w, base + i + 1, spec["run_seconds"]) for i in range(a.runs)]
            sets.append({
                "runs": runs,
                "correct": all(r["correct"] for r in runs),
                "failed_share": [r["failed"] / r["attempted"] for r in runs],
                "metrics": {m["name"]: summary([r["metrics"][m["name"]]["value"]
                                                for r in runs]) for m in metrics},
            })
        report[w] = sets
        print(f"\n{w}: wall per run {statistics.median(r['wall_s'] for s in sets for r in s['runs']):.1f} s, "
              f"correct {all(s['correct'] for s in sets)}")
        if not all(s["correct"] for s in sets) or \
                set(sets[0]["failed_share"]) != set(sets[1]["failed_share"]):
            agree = False
        for m in metrics:
            n, bound = m["name"], m["bound"]
            a_, b_ = sets[0]["metrics"][n], sets[1]["metrics"][n]
            worse = (b_["median"] - a_["median"]) / a_["median"]
            if m["better"] == "higher":
                worse = -worse
            ok = abs(worse) <= bound and max(a_["spread"], b_["spread"]) <= bound
            agree &= ok
            print(f"  {n:12s} bound {bound:.2f} | " + " | ".join(
                f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] spread {s['spread']:.3f}"
                for s in (a_, b_)) + f" | B worse by {worse:+.3f} {'ok' if ok else 'NO'}")
    print(f"\nsets agree within bounds: {agree}")
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1))
    sys.exit(0 if agree else 1)


if __name__ == "__main__":
    main()

"""Steadiness and tracing-overhead check for the benchmark.

    python3 perfbench/steady.py --workloads daily_wide bulk_narrow \
        --seeds 1 2 3 4 5 6 7 8 9 10 [--trace 0|1] [--seconds 10]

Runs perfbench/run.py once per (workload, seed), one after another, and
prints per metric the median and the quartile spread (Q3 - Q1) / median
over the seeds, as statistics.quantiles(values, n=4) gives the quartiles.
With both --trace 0 and --trace 1 results present in perfbench/results/
for the same seeds, it also prints the tracing overhead (median traced
run_s / median untraced run_s). Results go to perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tag", default="steady")
    args = ap.parse_args()
    os.makedirs(RESULTS, exist_ok=True)
    summary = {}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            r = run_one(w, seed, args.seconds, args.trace)
            runs.append(r)
            print(f"# {w} seed {seed}: correct={r['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                if not k.startswith(("pipeline.", "vault.", "ledger.",
                                     "housekeeping.", "report.", "queries.",
                                     "scan."))), flush=True)
        table = {}
        for k in runs[0]["metrics"]:
            vals = [r["metrics"][k]["value"] for r in runs]
            med, sp = spread(vals)
            table[k] = {"median": med, "iqr_share": sp, "values": vals}
        summary[w] = {"correct": all(r["correct"] for r in runs),
                      "metrics": table}
        for k, v in table.items():
            print(f"{w:12s} {k:36s} median {v['median']:12.4f} "
                  f"spread {v['iqr_share']:.4f}")
    path = os.path.join(RESULTS, f"{args.tag}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"seeds": args.seeds, "workloads": summary}, f, indent=1)
    other = os.path.join(RESULTS, f"{args.tag}-trace{1 - args.trace}.json")
    if os.path.exists(other):
        with open(other) as f:
            o = json.load(f)["workloads"]
        for w in summary:
            if w not in o:
                continue
            t = summary[w] if args.trace else o[w]
            u = o[w] if args.trace else summary[w]
            traced = t["metrics"]["trace.run_s"]["median"]
            untraced = u["metrics"]["run_s"]["median"]
            print(f"{w}: tracing overhead {traced / untraced:.4f} "
                  f"(traced run_s {traced:.2f} / untraced {untraced:.2f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())

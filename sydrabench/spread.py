#!/usr/bin/env python3
"""Run one workload once per seed and record how its end-to-end figures spread.

    python3 sydrabench/spread.py --workload dashboard --seeds 101-110 \\
        --seconds 20 --set first

Run from the repository root. Each seed is one `run.py` run with --trace 0.
The per-run metrics, their medians and their spreads (the distance between
the first and third quartile as a share of the median, as
`statistics.quantiles(values, n=4)` gives the quartiles) are stored under
`[workload][set]` in sydrabench/spread_runs.json, beside what the file holds
already. Exits nonzero if any run failed or was not correct.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(BENCH, "spread_runs.json")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, as 101-110")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--set", required=True, help="name the runs are stored under")
    args = ap.parse_args()
    runs, status = [], 0
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                            args.workload, "--seed", str(seed), "--seconds", str(args.seconds),
                            "--trace", "0"], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        ok = p.returncode == 0 and result.get("correct") is True
        status |= 0 if ok else 1
        metrics = {k: v["value"] for k, v in result.get("metrics", {}).items()}
        runs.append({"seed": seed, "correct": ok, "wall_s": round(wall, 1), "metrics": metrics})
        print(seed, "ok" if ok else "FAILED", round(wall, 1),
              {k: round(v, 3) for k, v in sorted(metrics.items())}, flush=True)
    summary = {}
    for name in sorted({k for r in runs for k in r["metrics"]}):
        values = [r["metrics"][name] for r in runs if name in r["metrics"]]
        if len(values) < 2:
            continue
        q = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        summary[name] = {"median": med, "spread": (q[2] - q[0]) / med}
        print(f"{name}: median {med:.6g} spread {summary[name]['spread']:.3f}")
    data = {}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            data = json.load(fh)
    data.setdefault(args.workload, {})[args.set] = {
        "seconds": args.seconds, "median_wall_s": statistics.median(r["wall_s"] for r in runs),
        "summary": summary, "runs": runs}
    with open(OUT, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    sys.exit(status)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness check: run every workload on several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median,
the same statistic the benchmark's bounds are judged against.

    python3 perfbench/steady.py --seeds 10 --out perfbench/results/set1.json
    python3 perfbench/steady.py --seeds 5 --workload scd_daily
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--out", help="write the runs and spreads here as JSON")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": round(time.time() - t0, 1),
                         "metrics": {k: v["value"] for k, v in r["metrics"].items()}})
            print(f"{w} seed {seed}: {runs[-1]['metrics']} ({runs[-1]['wall_s']} s)", flush=True)
        spreads = {}
        for m in bounds:
            vals = [r["metrics"][m] for r in runs]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spreads[m] = {"median": med, "spread": (q3 - q1) / med, "bound": bounds[m]}
            print(f"  {m}: median {med:.4g}, spread {spreads[m]['spread']:.3f} (bound {bounds[m]})")
        report["workloads"][w] = {"runs": runs, "spreads": spreads}
    if a.out:
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed on each workload and
reports, for every end-to-end metric, the median and the quartile spread
(third minus first quartile, as a share of the median) against the bound
BENCHMARK.json gives it. Spreads are reported for setup_s too, though only
its median is compared between commits.

Run from the repository root:

    python3 panelbench/steadiness.py --seeds 10 [--first-seed 1] [--workload panel_cv]

Each run's final JSON line is appended to `.bench_build/steadiness.jsonl`.
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
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    log = ROOT / ".bench_build" / "steadiness.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    for w in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.time()
            out = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed),
                                                    "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                                 cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{out.stderr[-2000:]}")
            line = json.loads(out.stdout.strip().splitlines()[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1], **line}) + "\n")
            if not line["correct"] or line["failed"]:
                sys.exit(f"{w} seed {seed}: checks failed: {line}")
            for name in values:
                values[name].append(line["metrics"][name]["value"])
        print(f"{w}: {args.seeds} runs, wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q3 - q1) / med
            print(f"  {m['name']:<18} median {med:<12.6g} spread {spread:6.3f}  "
                  f"bound {m['bound']:.2f}  bound/3 {m['bound'] / 3:.3f}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Spread report: runs one workload over several seeds and prints, per
end-to-end metric, the median, the quartiles and (q3 - q1) / median.

    python3 perfbench/spread.py --workload iterative --seeds 1-10

Run from the repository root. Each run measures `run_seconds` of
BENCHMARK.json with `--trace 0`, as the acceptance check does. Quartiles
are `statistics.quantiles(n=4)`. Each run's record and result are echoed
as it finishes; a run that fails or reports `correct: false` is listed
and left out of the table.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import estimators  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        seconds = str(json.load(fh)["run_seconds"])
    values, units, bad = {}, {}, []
    for seed in seeds(args.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            res = None
        if p.returncode != 0 or not res or not res["correct"]:
            bad.append(seed)
            print(f"seed {seed}: failed (exit {p.returncode})", flush=True)
            continue
        print(f"seed {seed}: {lines[-2]}\nseed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    print(f"\n{args.workload}: {len(seeds(args.seeds)) - len(bad)} runs, failed seeds {bad}")
    print(f"{'metric':34} {'unit':6} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        med, q1, q3, sp = estimators.spread(xs)
        print(f"{k:34} {units[k]:6} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:8.4f}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

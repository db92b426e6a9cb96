#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarise each metric.

    python3 perfbench/repeat.py --workload chips_2m --seeds 1-10 --seconds 20 \
        [--trace 0] [--out runs.jsonl]

For every metric it prints the median, the first and third quartile
(statistics.quantiles, n=4) and the spread (Q3 - Q1) / median, and, with
BENCHMARK.json beside it, the spread as a share of the metric's bound.
Each run's result line is appended to --out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {}
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as fh:
            bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}

    runs = []
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not line.startswith("{"):
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(line)
        res["seed"] = s
        runs.append(res)
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps(res) + "\n")
        print(f"seed {s}: " + ", ".join(f"{k}={v['value']:.4g}"
              for k, v in sorted(res["metrics"].items())), file=sys.stderr)

    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'/bound':>7s}")
    for name in sorted(runs[0]["metrics"]):
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        share = f"{spread / bounds[name]:7.2f}" if name in bounds else ""
        print(f"{name:40s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} {share}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

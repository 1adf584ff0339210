#!/usr/bin/env python3
"""Runs one workload once per seed and reports, per metric, the median
and the spread: the distance between the first and third quartile as a
share of the median, next to a third of the metric's bound.

    python3 perfbench/spread.py <workload> <first seed> <runs> [--trace 1]

Run from the repository root. Each run's result line is kept in
`.bench_build/spread-<workload>.jsonl`.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("first_seed", type=int)
    ap.add_argument("runs", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    log = Path(".bench_build") / f"spread-{a.workload}.jsonl"
    log.parent.mkdir(exist_ok=True)
    results = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        with log.open("a") as f:
            f.write(line + "\n")
        r = json.loads(line)
        if not r.get("correct"):
            print(f"seed {seed}: exit {out.returncode}, {line}")
        results.append(r)
    ok = [r for r in results if r.get("metrics")]
    for name in (ok[0]["metrics"] if ok else []):
        vals = [r["metrics"][name]["value"] for r in ok]
        b = bounds.get(name)
        s = spread(vals) if len(vals) >= 2 else float("nan")
        mark = "" if b is None else ("  ok" if s < b / 3 else "  WIDE")
        print(f"{name:28s} median {statistics.median(vals):12.4f}  spread {s:7.3f}"
              + ("" if b is None else f"  bound/3 {b / 3:.3f}{mark}"))


if __name__ == "__main__":
    main()

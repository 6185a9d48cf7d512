#!/usr/bin/env python3
"""Steadiness tool: run one workload N times (seeds 1..N, one fresh
process each) and print, per metric, the median, the
quartiles and the interquartile spread as a share of the median,
against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload cow_cdc_upsert --runs 10

A spread above a third of its bound is marked `noisy`, above the bound
`FAIL` (setup_s is exempt from the spread check: its bound applies to
the median between two sets of runs). With `--trace-overhead`, each
seed also runs traced and the e2e medians of both modes are compared:
the difference is the cost of tracing.

Quartiles are `statistics.quantiles(values, n=4)`, the same
computation the acceptance check uses.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(spec, workload, seed, trace, seconds) -> tuple[dict, dict]:
    """(last-line JSON, e2e values parsed from the report table)."""
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    names = {m["name"] for m in spec["end_to_end"]}
    table = {}
    for line in lines[:-1]:
        m = re.match(r"^(\S+)\s+(\S+)\s+\S+\s+\d+$", line)
        if m and m.group(1) in names:
            table[m.group(1)] = float(m.group(2))
    return json.loads(lines[-1]), table


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--trace-overhead", action="store_true")
    args = p.parse_args(argv)
    spec = load_spec()
    seconds = spec["run_seconds"]
    metrics = spec["end_to_end"]

    results, traced = [], []
    for seed in range(1, args.runs + 1):
        res, _ = run_once(spec, args.workload, seed, 0, seconds)
        results.append(res)
        vals = " ".join(
            f"{m['name']}={res['metrics'][m['name']]['value']:.4g}" for m in metrics[:6]
        )
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} {vals}",
              flush=True)
        if args.trace_overhead:
            traced.append(run_once(spec, args.workload, seed, 1, seconds)[1])

    print(f"\n{args.workload}: {args.runs} runs, {seconds:g} s each")
    print(f"{'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>8}{'bound':>7}")
    ok = all(r["correct"] for r in results)
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        if args.runs < 2:
            print(f"{m['name']:<22}{statistics.median(vals):>12.5g}")
            continue
        med, q1, q3, sp = spread(vals)
        bound = m["bound"]
        mark = ""
        if m["name"] == "setup_s":
            mark = "(exempt)"
        elif sp > bound:
            mark, ok = "FAIL", False
        elif sp > bound / 3:
            mark = "noisy"
        print(f"{m['name']:<22}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}"
              f"{sp:>8.3f}{bound:>7} {mark}")
    if traced:
        print("\ntracing overhead (traced median - untraced median):")
        for m in spec["end_to_end"]:
            a = statistics.median(r["metrics"][m["name"]]["value"] for r in results)
            b = statistics.median(t[m["name"]] for t in traced if m["name"] in t)
            print(f"  {m['name']:<22}{b - a:>+12.5g} {m['unit']}  ({(b - a) / a:+.1%})")
    print("\nall runs correct" if all(r["correct"] for r in results) else "\nINCORRECT RUNS")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

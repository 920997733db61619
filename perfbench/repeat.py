#!/usr/bin/env python3
"""Steadiness check: repeat the benchmark and report each metric's spread.

    python3 perfbench/repeat.py --workload etl --runs 10 [--trace 0] [--first-seed 1]

Runs `run.py` once per seed (first-seed, first-seed+1, ...) from the
current directory and prints, per metric, the median, the quartiles (as
statistics.quantiles(n=4) gives them), the spread (q3 - q1) / median, and
for end-to-end metrics the bound from BENCHMARK.json and spread / bound.
With --json PATH the raw values are saved too.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def bounds():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {m["name"]: m["bound"] for m in json.load(f).get("end_to_end", [])}


def run_once(root, workload, seed, seconds, trace):
    """One benchmark run in checkout `root`; returns its result object."""
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"run failed (exit {r.returncode}): {' '.join(cmd)}")
    return json.loads(lines[-1])


def summarize(values, bound=None):
    q1, med, q3 = stats.quartiles(values)
    spread = (q3 - q1) / med if med else float("nan")
    row = {"median": med, "q1": q1, "q3": q3, "spread": spread, "n": len(values)}
    if bound:
        row["bound"] = bound
        row["spread_per_bound"] = spread / bound
    return row


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json")
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    root = os.path.dirname(HERE)
    values, bad = {}, 0
    for i in range(a.runs):
        res = run_once(root, a.workload, a.first_seed + i, seconds, a.trace)
        bad += 0 if res["correct"] else 1
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"run {i + 1}/{a.runs} seed {a.first_seed + i}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    b = bounds()
    print(f"\n{a.workload}: {a.runs} runs, {bad} incorrect")
    print(f"{'metric':36} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6} {'spr/bnd':>7}")
    summary = {}
    for k, vs in values.items():
        row = summarize(vs, b.get(k) if a.trace == 0 else None)
        summary[k] = row
        print(f"{k:36} {row['median']:12.5g} {row['q1']:12.5g} {row['q3']:12.5g} "
              f"{row['spread']:8.4f} {row.get('bound', float('nan')):6.2f} "
              f"{row.get('spread_per_bound', float('nan')):7.3f}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "values": values, "summary": summary,
                       "incorrect_runs": bad}, f, indent=1)


if __name__ == "__main__":
    main()

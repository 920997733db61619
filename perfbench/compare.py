#!/usr/bin/env python3
"""Parent-vs-change comparison with the same benchmark code on both sides.

    python3 perfbench/compare.py --parent ../graft-parent --change . \
        --workload curation --pairs 10 [--first-seed 100]

Both arguments are checkouts. Their `perfbench/` directories must be
identical (the comparison measures the program, not the benchmark). Each
pair runs both sides on the same seed, alternating which side goes first.
Per end-to-end metric it prints each side's median and quartiles and a
verdict:

- `gain`: the change wins at least 9 of every 10 pairs (ties count for
  neither) and the medians differ by more than the parent's own spread
  (the distance between its quartiles);
- `worse`: the same rule with the sides swapped;
- `within bound`: the change's median is no worse than the parent's by more
  than the metric's bound from BENCHMARK.json;
- `unresolved`: neither, or the parent's spread exceeds the bound.
"""
import argparse
import filecmp
import json
import os
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import repeat  # noqa: E402
import stats  # noqa: E402


def same_tree(a, b):
    c = filecmp.dircmp(a, b, ignore=["__pycache__"])
    if c.left_only or c.right_only or c.diff_files or c.funny_files:
        return False
    return all(same_tree(os.path.join(a, d), os.path.join(b, d)) for d in c.common_dirs)


def verdict(parent, change, better, bound):
    """Apply the pair rule to per-pair values (lists of equal length)."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pq1, pmed, pq3 = stats.quartiles(parent)
    _, cmed, _ = stats.quartiles(change)
    gap = abs(cmed - pmed) > (pq3 - pq1)
    n = len(parent)
    if wins * 10 >= 9 * n and gap and sign * (pmed - cmed) > 0:
        return "gain", wins, losses
    if losses * 10 >= 9 * n and gap and sign * (cmed - pmed) > 0:
        return "worse", wins, losses
    if bound is not None and (pq3 - pq1) / pmed <= bound and sign * (cmed - pmed) <= bound * pmed:
        return "within bound", wins, losses
    return "unresolved", wins, losses


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--json")
    a = ap.parse_args()
    if a.pairs < 10:
        ap.error("at least 10 pairs are needed for the 9/10 rule")
    parent, change = os.path.abspath(a.parent), os.path.abspath(a.change)
    if not same_tree(os.path.join(parent, "perfbench"), os.path.join(change, "perfbench")):
        raise SystemExit("perfbench/ differs between the two checkouts; copy one over the other")
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    vals = {"parent": {}, "change": {}}
    for i in range(a.pairs):
        seed = a.first_seed + i
        sides = [("parent", parent), ("change", change)]
        if i % 2:
            sides.reverse()
        for side, root in sides:
            res = repeat.run_once(root, a.workload, seed, seconds, 0)
            if not res["correct"]:
                print(f"pair {i + 1}: {side} produced incorrect output")
            for k, m in res["metrics"].items():
                vals[side].setdefault(k, []).append(m["value"])
        print(f"pair {i + 1}/{a.pairs} (seed {seed}, {sides[0][0]} first) done", flush=True)
    print(f"\n{a.workload}: {a.pairs} pairs")
    print(f"{'metric':16} {'parent med [q1,q3]':>30} {'change med [q1,q3]':>30} {'wins':>5} {'loss':>5}  verdict")
    out = {}
    for k, m in metrics.items():
        p, c = vals["parent"][k], vals["change"][k]
        v, w, l = verdict(p, c, m["better"], m.get("bound"))
        pq, cq = stats.quartiles(p), stats.quartiles(c)
        out[k] = {"parent": p, "change": c, "verdict": v, "wins": w, "losses": l}
        print(f"{k:16} {pq[1]:10.4g} [{pq[0]:.4g},{pq[2]:.4g}]".ljust(48) +
              f"{cq[1]:10.4g} [{cq[0]:.4g},{cq[2]:.4g}]".ljust(32) + f"{w:5d} {l:5d}  {v}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, every metric by name and unit.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload etl --seed 1 --seconds 12 --trace 1
    python3 perfbench/run.py --record        # rewrite the reference digests

Run from the root of a graft checkout. The first run compiles the program
and the benchmark and generates the fixtures (cached under .bench_build).
The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics untraced, per-layer metrics traced).
"""
import argparse
import json
import os
import random
import signal
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

REFERENCE_DIR = os.path.join(bench.HERE, "reference")
SETUP_RUNS = 1      # extra set-up-only launches; the main run gives one more sample
# Timed passes per run, at least: a fixed count puts the median pass at the
# same point of the JIT warm-up curve in every run.
MIN_PASSES = 5
MAX_PASSES = 400


def reference(workload):
    path = os.path.join(REFERENCE_DIR, workload + ".tsv")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return dict(line.rstrip("\n").split("\t") for line in f if line.strip())


def pass_orders(queries, seed, n):
    """Pass i runs the workload's queries in a seed-determined order."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n):
        o = list(queries)
        rng.shuffle(o)
        orders.append(o)
    return orders


def run(workload, seed, seconds, trace):
    queries = WORKLOADS[workload]
    classes = bench.build()
    fixture = bench.fixture(classes)
    ref = reference(workload)
    if set(ref) != set(queries):
        raise bench.BenchError(f"reference digests for {workload} do not cover its queries; "
                               "run perfbench/run.py --record")
    run_id = f"{workload}-{seed}-{os.getpid()}"
    setup = []
    for i in range(0 if trace else SETUP_RUNS):
        t0, ready, _ = bench.launch(classes, dict(mode="setup", fixture=fixture),
                                    f"{run_id}-setup{i}")
        setup.append(ready - t0)
    plan = dict(mode="run", fixture=fixture, seconds=seconds, trace=int(trace),
                min_passes=MIN_PASSES, orders=pass_orders(queries, seed, MAX_PASSES))
    t0, ready, out = bench.launch(classes, plan, run_id)
    setup.append(ready - t0)

    attempted, failed, bad = stats.check_outputs(out["execs"], ref)
    failed_keys = {(q, p) for q, p, _ in bad}
    for q, p, why in bad[:20]:
        print(f"FAILED {q} pass {p}: {why}")
    e2e, notes = stats.end_to_end(out, setup, len(queries), MIN_PASSES, failed_keys)
    sizes = bench.manifest(fixture)
    print(f"workload {workload}: {len(queries)} queries, fixture "
          f"({sum(r for r, _ in sizes.values())} rows, "
          f"{sum(b for _, b in sizes.values()) / 1e6:.1f} MB); "
          + " ".join(f"{t}={r}/{b}B" for t, (r, b) in sizes.items()))
    print(f"samples: setup {notes['setup_samples']}, timed passes {notes['timed_passes']}, "
          f"query latencies {notes['query_samples']}; query_tail_s is "
          f"p{notes['tail_percentile']}")
    print(f"failed_frac {failed / attempted:.6f} ratio ({failed}/{attempted})")
    for name, unit in stats.END_TO_END:
        print(f"{name} {e2e[name]:.6f} {unit}")
    if trace:
        layer = stats.per_layer(out)
        print(f"tracing overhead: traced pass {layer['trace.pass_s']:.3f} s vs untraced "
              f"{layer['trace.untraced_pass_s']:.3f} s in the same run "
              f"({layer['trace.overhead_s']:+.3f} s); query spans cover "
              f"{100 * layer['trace.accounted_frac']:.1f}% of the traced pass")
        print("self time per layer per traced pass: " + ", ".join(
            f"{k[5:-2]} {layer[k]:.3f} s" for k, _, _ in stats.PER_LAYER if k.startswith("self.")))
        phases = ("operators.build_s", "plans.optimize_s", "exec.run_s", "storage.cleanup_s",
                  "self.harness_s")
        print("traced pass accounted for: " + " + ".join(f"{k} {layer[k]:.3f}" for k in phases)
              + f" = {sum(layer[k] for k in phases):.3f} s of trace.pass_s "
              f"{layer['trace.pass_s']:.3f} s")
        for name, unit, _ in stats.PER_LAYER:
            print(f"{name} {layer[name]:.6f} {unit}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u, _ in stats.PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in stats.END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def record():
    """Record each workload's reference digests: cold pass plus one pass
    under two seeds, all four executions of each query agreeing."""
    classes = bench.build()
    fixture = bench.fixture(classes)
    os.makedirs(REFERENCE_DIR, exist_ok=True)
    for name, queries in WORKLOADS.items():
        seen = {}
        for seed in (1, 2):
            plan = dict(mode="run", fixture=fixture, seconds=0, trace=0,
                        min_passes=1, orders=pass_orders(queries, seed, 2))
            _, _, out = bench.launch(classes, plan, f"record-{name}-{seed}", timeout=1800)
            for e in out["execs"]:
                if e["error"] is not None:
                    raise bench.BenchError(f"{e['q']} failed: {e['error']}")
                seen.setdefault(e["q"], set()).add(e["digest"])
        unstable = {q: d for q, d in seen.items() if len(d) != 1}
        if unstable:
            raise bench.BenchError(f"unstable digests in {name}: {unstable}")
        with open(os.path.join(REFERENCE_DIR, name + ".tsv"), "w") as f:
            for q in queries:
                f.write(f"{q}\t{seen[q].pop()}\n")
        print(f"recorded {len(queries)} reference digests for {name}")


def main():
    # a terminated run unwinds through bench.launch, which ends its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    try:
        if a.record:
            record()
        elif a.workload:
            run(a.workload, a.seed, a.seconds, a.trace == 1)
        else:
            ap.error("--workload or --record is required")
    except bench.BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()

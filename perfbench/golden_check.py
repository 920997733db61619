#!/usr/bin/env python3
"""Check every workload query that has a golden snapshot against it.

    python3 perfbench/golden_check.py /path/to/sf0.001

The snapshots (src/test/resources/golden_sf0001.txt) were taken on the
engine's sf0.001 test fixture, which is not part of the repository, so
this check takes its directory as an argument and is not part of a
benchmark run. Exits non-zero on any mismatch.
"""
import os
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main():
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        raise SystemExit(__doc__)
    classes = bench.build()
    queries = sorted({q for qs in WORKLOADS.values() for q in qs})
    golden = os.path.join(bench.ROOT, "src/test/resources/golden_sf0001.txt")
    tmp = os.path.join(bench.tmp_root(), "golden")
    try:
        bench.run_java(classes, "perfbench.GoldenCheck", os.path.abspath(sys.argv[1]), golden,
                       tmp, ",".join(queries), log_name="golden.log")
        ok = True
    except bench.BenchError:
        ok = False
    with open(os.path.join(bench.build_dir(), "logs", "golden.log")) as f:
        print("".join(line for line in f if line.startswith(("ok", "FAIL", "skip"))), end="")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

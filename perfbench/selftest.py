#!/usr/bin/env python3
"""Self-tests of the benchmark's own pieces.

    python3 perfbench/selftest.py          # Python reductions + JVM checks
    python3 perfbench/selftest.py --quick  # Python reductions only

The Python part tests the percentile and `query_tail_s` sample rule, span
self time, output checking, the traced-run aggregation and the pair rule.
The JVM part (perfbench.SelfTest) tests digest stability under row order,
listener aggregation by job group and generator determinism.
"""
import json
import math
import os
import shutil
import statistics
import sys
import unittest

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in range(20, 5000):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n - math.ceil(p / 100 * n), 10)
            self.assertLess(n - math.ceil((p + 1) / 100 * n), 10)

    def test_known_points(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(36), 72)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(list(reversed(xs)), 99), 99)
        self.assertEqual(stats.percentile([5.0], 99), 5.0)

    def test_quartiles_match_statistics(self):
        xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.9]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[1], q[2]))


class SelfTime(unittest.TestCase):
    def test_children_union_and_clipping(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(2, 4), (3, 6)]), 6)
        self.assertEqual(stats.self_time((0, 10), [(-5, 1), (9, 20)]), 8)
        self.assertEqual(stats.self_time((0, 10), [(2, 3), (5, 7)]), 7)


def fake_out():
    """Harness output of a traced run: passes 0 (cold), 1 traced, 2 untraced."""
    execs, spans, groups, sspans = [], [], [], []
    for p, traced in ((0, False), (1, True), (2, False)):
        t = 1000.0 * p * 100
        for q in ("qa", "qb"):
            execs.append(dict(pass_=p, q=q, traced=traced, build=0.1, optimize=0.05, exec=0.3,
                              cleanup=0.01, total=0.5, digest="10:aa:bb", error=None,
                              persisted=1, block_bytes=100))
            if traced:
                spans += [dict(name="query", q=q, start=t, end=t + 500),
                          dict(name="operators.build", q=q, start=t, end=t + 100),
                          dict(name="plans.optimize", q=q, start=t + 100, end=t + 150),
                          dict(name="exec.run", q=q, start=t + 150, end=t + 450),
                          dict(name="storage.cleanup", q=q, start=t + 480, end=t + 490)]
                groups.append(dict(group=f"{q}|{p}|exec", jobs=2, stages=3, tasks=8,
                                   failed_tasks=0, task_duration_ms=900, run_ms=800,
                                   cpu_ns=7e8, gc_ms=10, shuffle_read_bytes=50,
                                   shuffle_write_bytes=60, fetch_wait_ms=5, spill_bytes=0,
                                   peak_exec_mem=1000, input_rows=400, input_bytes=4000,
                                   output_bytes=0))
                jid = len(sspans)
                sspans += [dict(kind="job", id=jid, parent=f"{q}|{p}|exec", start=t + 200,
                                end=t + 400),
                           dict(kind="stage", id=jid, parent=str(jid), start=t + 210,
                                end=t + 390)]
                t += 500
    for e in execs:
        e["pass"] = e.pop("pass_")
    for s in spans:
        s["pass"] = 1
    return dict(execs=execs, spans=spans, groups=groups, spark_spans=sspans,
                passes=[{"pass": 0, "traced": False, "wall": 2.0},
                        {"pass": 1, "traced": True, "wall": 1.1},
                        {"pass": 2, "traced": False, "wall": 1.0}],
                probes={"expressions.minhash_rows_per_s": 1e5},
                jvm=dict(jit_end_ms=1500, code_cache_mb=40.0, heap_peak_mb=900.0,
                         vm_hwm_mb=1200.0))


class Aggregation(unittest.TestCase):
    def test_per_layer(self):
        m = stats.per_layer(fake_out())
        self.assertEqual(set(m), {k for k, _, _ in stats.PER_LAYER})
        self.assertAlmostEqual(m["operators.build_s"], 0.2)
        self.assertAlmostEqual(m["exec.run_s"], 0.6)
        self.assertEqual(m["exec.jobs"], 4)
        self.assertEqual(m["exec.tasks"], 16)
        self.assertAlmostEqual(m["exec.task_run_s"], 1.6)
        self.assertAlmostEqual(m["exec.task_overhead_s"], 0.2)
        self.assertAlmostEqual(m["exec.core_util"], 1.6 / (4 * 0.8))
        self.assertAlmostEqual(m["sources.rows_per_result_row"], 800 / 20)
        self.assertEqual(m["exec.peak_exec_mem_bytes"], 1000)
        self.assertAlmostEqual(m["self.exec.run_s"], 2 * 0.1)
        self.assertAlmostEqual(m["self.spark.job_s"], 2 * 0.02)
        self.assertAlmostEqual(m["self.spark.stage_s"], 2 * 0.18)
        self.assertAlmostEqual(m["self.harness_s"], 2 * 0.04)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.1)
        self.assertAlmostEqual(m["trace.accounted_frac"], 1.0 / 1.1)
        self.assertEqual(m["expressions.minhash_rows_per_s"], 1e5)

    def test_end_to_end_and_output_check(self):
        out = fake_out()
        out["execs"][3]["digest"] = "10:aa:cc"
        attempted, failed, bad = stats.check_outputs(out["execs"], {"qa": "10:aa:bb",
                                                                    "qb": "10:aa:bb"})
        self.assertEqual((attempted, failed), (6, 1))
        m, notes = stats.end_to_end(out, [1.0, 3.0, 2.0], 2, 1, {(q, p) for q, p, _ in bad})
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["cold_pass_s"], 2.0)
        self.assertEqual(m["pass_s"], 1.05)
        self.assertEqual(notes["query_samples"], 3)
        self.assertEqual(m["rss_peak_mb"], 1200.0)

    def test_thrown_query_is_failed(self):
        execs = [dict(q="qa", error="boom", digest="", **{"pass": 1})]
        self.assertEqual(stats.check_outputs(execs, {"qa": "x"})[:2], (1, 1))


class PairRule(unittest.TestCase):
    def test_gain_needs_nine_of_ten_and_gap(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [x - 1.0 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "gain")
        mixed = change[:8] + [11.0, 11.0]
        self.assertNotEqual(compare.verdict(parent, mixed, "lower", 0.1)[0], "gain")
        self.assertEqual(compare.verdict(parent, parent, "lower", 0.1)[0], "within bound")
        self.assertEqual(compare.verdict(parent, [x + 3 for x in parent], "lower", 0.1)[0],
                         "worse")


class BenchmarkSpec(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         stats.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual(max(m["bound"] for m in spec["end_to_end"]),
                         next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"))


class Orders(unittest.TestCase):
    def test_seed_permutes_deterministically(self):
        qs = [f"q{i}" for i in range(20)]
        a = run.pass_orders(qs, 5, 3)
        self.assertEqual(a, run.pass_orders(qs, 5, 3))
        self.assertNotEqual(a, run.pass_orders(qs, 6, 3))
        self.assertTrue(all(sorted(o) == sorted(qs) for o in a))


def jvm_tests():
    classes = bench.build()
    scratch = os.path.join(bench.build_dir(), "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        bench.run_java(classes, "perfbench.SelfTest", scratch, log_name="selftest.log")
    except bench.BenchError as e:
        print(e)
        return False
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(bench.build_dir(), "logs", "selftest.log")) as f:
        print("".join(line for line in f if line.startswith(("ok", "FAIL", "all "))))
    return True


if __name__ == "__main__":
    quick = "--quick" in sys.argv
    result = unittest.main(argv=[sys.argv[0]], exit=False, verbosity=1).result
    ok = result.wasSuccessful()
    if not quick:
        ok = jvm_tests() and ok
    sys.exit(0 if ok else 1)

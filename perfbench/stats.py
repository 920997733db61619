"""Reductions from the harness's raw samples to the benchmark's metrics."""
import math
import statistics

CORES = 4  # the harness runs Spark at local[4]

# per-layer metrics of a traced run, with their units and direction
PER_LAYER = [
    ("operators.build_s", "s", "lower"),
    ("operators.eager_jobs", "count", "lower"),
    ("plans.optimize_s", "s", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.core_util", "ratio", "higher"),
    ("exec.task_overhead_s", "s", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.fetch_wait_s", "s", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.peak_exec_mem_bytes", "bytes", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.failed_tasks", "count", "lower"),
    ("sources.input_rows", "count", "lower"),
    ("sources.input_bytes", "bytes", "lower"),
    ("sources.output_bytes", "bytes", "lower"),
    ("sources.rows_per_result_row", "ratio", "lower"),
    ("storage.persisted_rdds", "count", "lower"),
    ("storage.block_bytes", "bytes", "lower"),
    ("storage.cleanup_s", "s", "lower"),
    ("expressions.minhash_rows_per_s", "1/s", "higher"),
    ("expressions.shingles_rows_per_s", "1/s", "higher"),
    ("expressions.simhash_rows_per_s", "1/s", "higher"),
    ("expressions.cosine_pairs_per_s", "1/s", "higher"),
    ("functions.bpe_encode_rows_per_s", "1/s", "higher"),
    ("functions.kmeans_assign_rows_per_s", "1/s", "higher"),
    ("jvm.jit_s", "s", "lower"),
    ("jvm.code_cache_mb", "MB", "lower"),
    ("jvm.heap_peak_mb", "MB", "lower"),
    ("self.harness_s", "s", "lower"),
    ("self.operators.build_s", "s", "lower"),
    ("self.plans.optimize_s", "s", "lower"),
    ("self.exec.run_s", "s", "lower"),
    ("self.spark.job_s", "s", "lower"),
    ("self.spark.stage_s", "s", "lower"),
    ("self.storage.cleanup_s", "s", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.untraced_pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.accounted_frac", "ratio", "higher"),
]

END_TO_END = [
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("pass_s", "s"),
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("rss_peak_mb", "MB"),
]


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def tail_percentile(n):
    """Highest whole percentile with at least ten of `n` samples beyond it
    (None below 20 samples, where that would not be a tail)."""
    if n < 20:
        return None
    return math.floor(100.0 * (n - 10) / n)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with p% at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def self_time(span, children):
    """Span duration minus the part of it covered by its children."""
    ivs = sorted((max(c[0], span[0]), min(c[1], span[1])) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span[1] - span[0]) - covered


def check_outputs(execs, reference):
    """Mark each execution failed if it threw or its digest differs from the
    reference. Returns (attempted, failed, [(query, pass, reason)])."""
    bad = []
    for e in execs:
        if e["error"] is not None:
            bad.append((e["q"], e["pass"], e["error"]))
        elif reference.get(e["q"]) != e["digest"]:
            bad.append((e["q"], e["pass"],
                        f"digest {e['digest']} != reference {reference.get(e['q'])}"))
    return len(execs), len(bad), bad


def end_to_end(out, setup_samples, n_queries, min_passes, failed_keys):
    """The end-to-end metrics of an untraced run, plus sample notes."""
    passes = {p["pass"]: p["wall"] for p in out["passes"]}
    timed = [w for k, w in passes.items() if k > 0]
    lat = [e["total"] for e in out["execs"]
           if e["pass"] > 0 and (e["q"], e["pass"]) not in failed_keys]
    p_tail = tail_percentile(n_queries * min_passes)
    metrics = {
        "setup_s": median(setup_samples),
        "cold_pass_s": passes[0],
        "pass_s": median(timed),
        "query_p50_s": median(lat),
        "query_tail_s": percentile(lat, p_tail if p_tail else 50.0),
        "rss_peak_mb": out["jvm"]["vm_hwm_mb"],
    }
    notes = {"setup_samples": len(setup_samples), "timed_passes": len(timed),
             "query_samples": len(lat), "tail_percentile": p_tail}
    return metrics, notes


def _per_pass(values_by_pass, passes):
    return median([values_by_pass.get(p, 0.0) for p in passes])


def per_layer(out):
    """The per-layer metrics of a traced run: medians over traced passes of
    per-pass sums, kernel probe rates and JVM gauges; plus self times."""
    traced = sorted(p["pass"] for p in out["passes"] if p["traced"] and p["pass"] > 0)
    untraced = [p["wall"] for p in out["passes"] if not p["traced"] and p["pass"] > 0]
    wall = {p["pass"]: p["wall"] for p in out["passes"]}
    sums = {}

    def add(key, pss, v):
        sums.setdefault(key, {}).setdefault(pss, 0.0)
        sums[key][pss] += v

    for e in out["execs"]:
        if not e["traced"]:
            continue
        p = e["pass"]
        add("operators.build_s", p, e["build"])
        add("plans.optimize_s", p, e["optimize"])
        add("exec.run_s", p, e["exec"])
        add("storage.cleanup_s", p, e["cleanup"])
        add("storage.persisted_rdds", p, e["persisted"])
        add("storage.block_bytes", p, e["block_bytes"])
        if e["digest"]:
            add("result_rows", p, int(e["digest"].split(":")[0]))
    for g in out["groups"]:
        parts = g["group"].split("|")
        if len(parts) != 3:
            continue
        p = int(parts[1])
        if parts[2] == "build":
            add("operators.eager_jobs", p, g["jobs"])
        add("exec.jobs", p, g["jobs"])
        add("exec.stages", p, g["stages"])
        add("exec.tasks", p, g["tasks"])
        add("exec.failed_tasks", p, g["failed_tasks"])
        add("exec.task_run_s", p, g["run_ms"] / 1e3)
        add("exec.task_cpu_s", p, g["cpu_ns"] / 1e9)
        add("exec.task_overhead_s", p, (g["task_duration_ms"] - g["run_ms"]) / 1e3)
        add("exec.shuffle_read_bytes", p, g["shuffle_read_bytes"])
        add("exec.shuffle_write_bytes", p, g["shuffle_write_bytes"])
        add("exec.fetch_wait_s", p, g["fetch_wait_ms"] / 1e3)
        add("exec.spill_bytes", p, g["spill_bytes"])
        add("exec.gc_s", p, g["gc_ms"] / 1e3)
        add("sources.input_rows", p, g["input_rows"])
        add("sources.input_bytes", p, g["input_bytes"])
        add("sources.output_bytes", p, g["output_bytes"])
        sums.setdefault("exec.peak_exec_mem_bytes", {})
        sums["exec.peak_exec_mem_bytes"][p] = max(
            sums["exec.peak_exec_mem_bytes"].get(p, 0), g["peak_exec_mem"])

    for key, per in _self_times(out).items():
        for p, v in per.items():
            add(key, p, v)

    m = {}
    for key in sums:
        m[key] = _per_pass(sums[key], traced)
    busy = m.get("operators.build_s", 0.0) + m.get("exec.run_s", 0.0)
    m["exec.core_util"] = m.get("exec.task_run_s", 0.0) / (CORES * busy) if busy else 0.0
    rows = m.pop("result_rows", 0.0)
    m["sources.rows_per_result_row"] = m.get("sources.input_rows", 0.0) / rows if rows else 0.0
    m.update(out["probes"])
    jvm = out["jvm"]
    m["jvm.jit_s"] = jvm["jit_end_ms"] / 1e3
    m["jvm.code_cache_mb"] = jvm["code_cache_mb"]
    m["jvm.heap_peak_mb"] = jvm["heap_peak_mb"]
    m["trace.pass_s"] = median([wall[p] for p in traced])
    m["trace.untraced_pass_s"] = median(untraced)
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    q = _per_pass(sums.get("query_s", {}), traced)
    m["trace.accounted_frac"] = q / m["trace.pass_s"]
    return {k: m.get(k, 0.0) for k, _, _ in PER_LAYER}


PHASE_SPAN = {"build": "operators.build", "optimize": "plans.optimize", "exec": "exec.run"}


def _self_times(out):
    """Self time per layer per traced pass, from the span tree:
    query -> {operators.build, plans.optimize, exec.run, storage.cleanup}
    -> Spark jobs (by job group) -> Spark stages (by job id)."""
    by_key = {}
    for s in out["spans"]:
        by_key[(s["q"], s["pass"], s["name"])] = (s["start"], s["end"])
    jobs_of, stages_of = {}, {}
    for s in out["spark_spans"]:
        iv = (float(s["start"]), float(s["end"]))
        if s["kind"] == "job":
            parts = s["parent"].split("|")
            if len(parts) == 3 and parts[2] in PHASE_SPAN:
                key = (parts[0], int(parts[1]), PHASE_SPAN[parts[2]])
                jobs_of.setdefault(key, []).append((s["id"], iv))
        else:
            stages_of.setdefault(s["parent"], []).append(iv)
    res = {}

    def add(name, p, v):
        res.setdefault(name, {}).setdefault(p, 0.0)
        res[name][p] += v / 1e3

    for (q, p, name), iv in by_key.items():
        if name == "query":
            kids = [by_key[(q, p, c)] for c in
                    ("operators.build", "plans.optimize", "exec.run", "storage.cleanup")
                    if (q, p, c) in by_key]
            add("self.harness_s", p, self_time(iv, kids))
            add("query_s", p, iv[1] - iv[0])
            continue
        jobs = jobs_of.get((q, p, name), [])
        add("self." + name + "_s", p, self_time(iv, [j for _, j in jobs]))
        for jid, jiv in jobs:
            stages = stages_of.get(str(jid), [])
            add("self.spark.job_s", p, self_time(jiv, stages))
            for siv in stages:
                add("self.spark.stage_s", p, siv[1] - siv[0])
    return res

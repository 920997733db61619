"""Build, fixtures and JVM launching for the graft benchmark.

Everything the benchmark writes goes under the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build` in the checkout root):
compiled classes, generated fixtures, per-run temp dirs and logs. JVMs run
with `-XX:-UsePerfData` so HotSpot writes nothing to /tmp either.
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory the project's own build.sbt
    compiles against (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = _spark_jars()
# local mode binds the loopback address without resolving the host name
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
SCALA = "2.13.17"
FIXTURE_SEED = 42
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def program_sources():
    return sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))


def bench_sources():
    return sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def _digest_files(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compile the program's and the benchmark's Scala sources with the
    Scala compiler that ships with Spark; skipped when the sources are
    unchanged. Returns the classes directory."""
    prog = program_sources()
    if not prog or not os.path.isdir(SPARK_JARS):
        raise BenchError("no program sources under src/main/scala (or no Spark jars): "
                         "run from the root of a graft checkout")
    srcs = prog + bench_sources()
    stamp = _digest_files(srcs, SCALA)
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = ":".join(os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar")
                        for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} Scala files", file=log, flush=True)
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", os.path.join(SPARK_JARS, "*"),
                        "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled in {time.time() - t0:.0f} s", file=log, flush=True)
    return out


def java_cmd(classes, main, *args, tmpdir=None):
    # A fixed young generation keeps G1 from resizing it run by run, so the
    # resident set tracks retained data instead of adaptive eden sizing.
    return (["java", "-XX:-UsePerfData", *JAVA_OPENS, "-Xmx3g", "-Xmn1g",
             "-XX:ReservedCodeCacheSize=1g",
             "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmpdir or tmp_root()}",
             "-cp", classes + ":" + os.path.join(SPARK_JARS, "*"), main, *map(str, args)])


def tmp_root():
    d = os.path.join(build_dir(), "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def run_java(classes, main, *args, log_name, timeout=900):
    """Run a JVM main to completion; its output goes to a log file."""
    log = os.path.join(build_dir(), "logs", log_name)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as f:
        r = subprocess.run(java_cmd(classes, main, *args), stdout=f,
                           stderr=subprocess.STDOUT, timeout=timeout)
    if r.returncode != 0:
        raise BenchError(f"{main} failed (exit {r.returncode}); log tail:\n" +
                         open(log).read()[-3000:])


def fixture(classes):
    """The fixture directory, generated on first use and cached under a key
    hashing the generator's source and seed."""
    gen = os.path.join(HERE, "src/perfbench/Fixture.scala")
    key = _digest_files([gen], f"seed={FIXTURE_SEED};factor=1")
    d = os.path.join(build_dir(), "fixtures", f"x1-{key}")
    if os.path.exists(os.path.join(d, "manifest.tsv")):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    print("perfbench: generating the fixture", file=sys.stderr, flush=True)
    run_java(classes, "perfbench.Fixture", tmp, FIXTURE_SEED, 1, log_name="fixture.log")
    os.rename(tmp, d)
    return d


def manifest(fixture_dir):
    """table -> (rows, bytes) as recorded by the generator."""
    out = {}
    with open(os.path.join(fixture_dir, "manifest.tsv")) as f:
        for line in f:
            t, rows, size = line.split("\t")
            out[t] = (int(rows), int(size))
    return out


def launch(classes, plan, run_id, timeout=170):
    """Start the harness on a plan dict; return (launch epoch s, ready epoch
    s, parsed output). The process always ends before this returns."""
    tmp = os.path.join(tmp_root(), run_id)
    os.makedirs(tmp, exist_ok=True)
    plan_file = os.path.join(tmp, "plan.txt")
    out_file = os.path.join(tmp, "out.json")
    with open(plan_file, "w") as f:
        for k, v in plan.items():
            if k != "orders":
                f.write(f"{k}={v}\n")
        f.write(f"out={out_file}\ntmp={tmp}\n")
        for order in plan.get("orders", []):
            f.write("order=" + ",".join(order) + "\n")
    log = os.path.join(build_dir(), "logs", run_id + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    ready = None
    with open(log, "w") as logf:
        t0 = time.time()
        p = subprocess.Popen(java_cmd(classes, "perfbench.Harness", plan_file, tmpdir=tmp),
                             stdout=subprocess.PIPE, stderr=logf, text=True)
        watchdog = threading.Timer(timeout, p.kill)
        watchdog.start()
        try:
            for line in p.stdout:
                if line.startswith("PERFBENCH_READY ") and ready is None:
                    ready = int(line.split()[1]) / 1000.0
                else:
                    logf.write(line)
            p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    try:
        if p.returncode != 0 or ready is None or not os.path.exists(out_file):
            raise BenchError(f"harness failed (exit {p.returncode}); log tail:\n" +
                             open(log).read()[-3000:])
        with open(out_file) as f:
            return t0, ready, json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

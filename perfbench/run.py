#!/usr/bin/env python3
"""graft performance benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the root of a graft checkout. The first call compiles the engine
sources (src/main) together with the benchmark's main (perfbench/src) with
sbt, offline, against the Spark jars of $SPARK_HOME (or of the Spark whose
spark-submit is on PATH); later calls reuse the build while no source changes. The
driver runs in one JVM with a local[4] Spark session and prints one JSON
result line last. The exit code is non-zero when an output check fails or
the build or run does not complete. Scratch data, traces and logs go to
.bench_build/perfbench/ in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("tsdb_bulkload", "hfile_serve", "corpus_export")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def declared_metrics(trace):
    """(name, unit) pairs BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def spark_home():
    """The first spark-submit on PATH that belongs to a Spark install with
    its jars (a pip-installed pyspark wrapper may come earlier)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            jars = os.path.join(home, "jars")
            if os.path.isdir(jars) and any(
                    f.startswith("spark-sql_") for f in os.listdir(jars)):
                return home
    return None


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    when this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, "", ""
    return p.returncode, out, err


def build():
    """Compiles once per source digest; returns the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            cp = g.read().strip()
            # the classes dir is checked too: `sbt clean` leaves the stamp
            if f.read().strip() == digest and os.path.isdir(cp.split(":")[0]):
                return cp
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        home = spark_home()
        if home is None:
            log("no Spark install: set SPARK_HOME or put spark-submit on PATH")
            sys.exit(2)
        env["SPARK_HOME"] = home
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine + benchmark with sbt (first run only)")
    t = time.time()
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Compile/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(out[-4000:] if out else "")
        log(f"build failed (exit {code})")
        sys.exit(2)
    cp = [l for l in out.splitlines() if "scala-2.13/classes" in l
          and not l.startswith("[")]
    if not cp:
        log("build produced no classpath")
        sys.exit(2)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"build done in {time.time() - t:.0f} s")
    return cp[-1].strip()


def java_cmd(cp, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + opens +
            [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-cp", cp, main] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log(f"no engine sources under {ENGINE_SRC}; run from a graft checkout")
        sys.exit(2)
    cp = build()
    runs = os.path.join(WORK, "runs")
    if a.self_test:
        cmd = java_cmd(cp, "perfbench.SelfTest", ["--work", os.path.join(WORK, "selftest")])
    else:
        cmd = java_cmd(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", runs])
    os.makedirs(runs, exist_ok=True)
    log_path = os.path.join(WORK, f"jvm-{a.workload or 'selftest'}.log")
    with open(log_path, "w") as jvm_log:
        code, out, _ = run_group(cmd, RUN_TIMEOUT_S if not a.self_test else 900,
                                 cwd=WORK, text=True, stdout=subprocess.PIPE,
                                 stderr=jvm_log)
    if code is None:
        log(f"run exceeded its time limit; JVM log: {log_path}")
        sys.exit(3)
    prefix = "perfbench-result "
    result = None
    for line in out.splitlines():
        if line.startswith(prefix):
            result = json.loads(line[len(prefix):])
        else:
            print(line)
    if a.self_test:
        sys.exit(code)
    if result is None:
        log(f"no result line (exit {code}); JVM log: {log_path}")
        sys.exit(code or 4)
    units = declared_metrics(a.trace)
    values = result["metrics"]
    if set(values) != set(units) or not all(
            isinstance(v, (int, float)) for v in values.values()):
        log(f"metrics do not match BENCHMARK.json: {sorted(set(values) ^ set(units))} "
            f"or a value is not a number; JVM log: {log_path}")
        sys.exit(5)
    result["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in units}
    print(json.dumps(result, separators=(",", ":")), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Lambda benchmark: one run of one workload.

    python3 lambdabench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 lambdabench/run.py --workload W --seed N --seconds S --steady K

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline, against $SPARK_HOME/jars); later runs
reuse the build while the sources are unchanged. A run generates the
workload's inputs from the seed, runs the workload in one JVM, checks the
outputs against separately computed answers, and prints one JSON object as
the last line of stdout: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. --steady K runs the workload K times back to back
on seeds N..N+K-1 and prints each end-to-end metric's median, quartiles
and spread against its bound in BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK_ROOT = os.path.join(ROOT, ".bench_build", "lambdabench")
WORKLOADS = ("tweet_stream", "lambda_batch")
RUN_LIMIT_S = 170
JVM_OPTS = [
    "-Xmx4g", "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

sys.path.insert(0, BENCH)


def fail(msg, code=2):
    print(f"[lambdabench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose bin/ is on the PATH and holds jars/."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


def build():
    """Compile the program's sources with the harness; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala; run from the root of a checkout")
    target = os.path.join(BENCH, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    os.makedirs(WORK_ROOT, exist_ok=True)
    with open(os.path.join(WORK_ROOT, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                            cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        fail(f"build failed (rc={rc}); see {log.name}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(a):
    import checks
    import gen
    t_start = time.time()
    classpath = build()
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch", "out"):
        os.makedirs(os.path.join(work, d))
    data = os.path.join(work, "data")
    t0 = time.time()
    expected = gen.generate(a.workload, a.seed, data)
    generate_s = time.time() - t0

    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "lambdabench.Main",
           "--workload", a.workload, "--data", data, "--work", work, "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    env = dict(os.environ, SPARK_GRAFT_TMPDIR=os.path.join(work, "scratch"))
    budget = RUN_LIMIT_S - (time.time() - t_start)
    with open(os.path.join(work, "jvm.out"), "w") as out, open(os.path.join(work, "jvm.err"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM exceeded the run limit; logs in {work}", 4)
    # the JVM's result is the last line of its own stdout, unprefixed
    with open(os.path.join(work, "jvm.out")) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"JVM (rc={rc}) printed no result line; logs in {work}", 5)
    if rc != 0 or result.get("partial", True):
        print(json.dumps({"partial": True, "error": result.get("error"),
                          "attempted": result.get("attempted"), "failed": result.get("failed")}),
              file=sys.stderr)
        fail(f"run ended early (rc={rc}); logs in {work}", 3)

    t_jvm = time.time()
    results = checks.run_checks(a.workload, result, os.path.join(work, "out"), data, expected)
    bad = [r for r in results if not r[1]]
    for name, ok, detail in results:
        if not ok:
            print(f"[lambdabench] check failed: {name}: {detail}", file=sys.stderr)
    for f in result.get("failures", []):
        print(f"[lambdabench] operation failed: {f}", file=sys.stderr)
    print(f"[lambdabench] {a.workload} seed={a.seed} nproc={result['nproc']} passes={result['passes']} "
          f"pass_s={[round(x, 3) for x in result['pass_s_all']]} checks={len(results)} load_start=[{result['load_start']}] load_end=[{result['load_end']}]",
          file=sys.stderr)
    print("[lambdabench] per pass [alloc_mb, read_mb, write_mb]: " + json.dumps(
        [[round(x, 2) for x in c] for c in result["cost_all"]]), file=sys.stderr)
    print(f"[lambdabench] times: build+generate {t0 + generate_s - t_start:.1f}s, "
          f"jvm {t_jvm - t0 - generate_s:.1f}s, checks {time.time() - t_jvm:.1f}s", file=sys.stderr)
    print("[lambdabench] query medians (s): " + json.dumps(
        {q: round(v, 3) for q, v in sorted(result.get("query_s", {}).items())}), file=sys.stderr)

    # a layer that the workload does not run reads 0
    if a.trace:
        result["layers"]["bench.generate_s"] = generate_s
        metrics = {m["name"]: {"value": result["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec()["per_layer"]}
    else:
        metrics = {m["name"]: {"value": result[m["name"]], "unit": m["unit"]}
                   for m in spec()["end_to_end"]}
    line = {"correct": not bad, "attempted": result["attempted"] + len(results),
            "failed": result["failed"] + len(bad), "metrics": metrics}
    if not bad:
        shutil.rmtree(work, ignore_errors=True)
    return line


def steady(a):
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    values = {k: [] for k in bounds}
    shares = set()
    for i in range(a.steady):
        seed = a.seed + i
        p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            fail(f"steadiness run on seed {seed} failed (rc={p.returncode})", p.returncode)
        line = json.loads(p.stdout.strip().splitlines()[-1])
        shares.add(line["failed"] / line["attempted"])
        for k in values:
            values[k].append(line["metrics"][k]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              file=sys.stderr)
    summary = {}
    print(f"{'metric':<15}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bounds[k]}
        print(f"{k:<15}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}{bounds[k]:>7}")
    print(json.dumps({"workload": a.workload, "runs": a.steady, "failed_shares": sorted(shares),
                      "metrics": summary}))


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0, metavar="K")
    a = p.parse_args()
    if a.steady:
        steady(a)
    else:
        print(json.dumps(run_once(a)))


if __name__ == "__main__":
    main()

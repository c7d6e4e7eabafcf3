#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <serve|batch> --seed <n> \
        --seconds <n> --trace <0|1>

Run from the root of a graft checkout. The runner
  1. compiles the product sources together with the harness in
     perfbench/src (sbt, once per source state; outputs in .bench_build/);
  2. generates the seeded inputs (perfbench/gen.py; not part of any metric);
  3. runs the workload in a fresh JVM (graft.perfbench.Main), which times
     calls into graft's public entry points and checks their answers;
  4. compares the kept outputs with their DuckDB oracles (perfbench/oracle.py);
  5. prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
     `--trace 0` reports the end_to_end metrics of BENCHMARK.json and
     `--trace 1` its per_layer metrics.
The full report of the run, with the host calibration before and after it,
goes to .bench_build/results/.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 850.0
# Input size per workload: (base scale factor, copies, tables).
INPUTS = {
    "serve": (0.01, 5, ["documents", "embeddings"]),
    "batch": (0.005, 2, None),
}
# The traced run's layer probes read one input shape whatever the workload,
# so any two traced runs report comparable per-layer figures.
PROBE_INPUTS = (0.01, 5, ["documents", "embeddings"])
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    pats = ["src/main/scala/**/*.scala", "perfbench/src/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(root, p), recursive=True)
                  if os.path.isfile(f))


def build(root, build_dir):
    """Compile product + harness unless the same sources are already built."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp_path = os.path.join(build_dir, "build.stamp")
    classes = os.path.join(build_dir, "sbt-target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_path) and \
            open(stamp_path).read() == h.hexdigest():
        return classes
    log("building product and harness (sbt compile)")
    t0 = time.time()
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         os.path.join(root, "perfbench"), out, BUILD_LIMIT_S)
    if rc != 0 or not os.path.isdir(classes):
        die(f"build failed (rc {rc}); see {build_dir}/build.log", 1)
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())
    log(f"build done in {time.time() - t0:.0f} s")
    return classes


def run_bounded(cmd, cwd, out, limit, env=None):
    """Run cmd in its own process group; kill the group after `limit` s."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True, env=env)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def main():
    ap = argparse.ArgumentParser(description="graft benchmark runner")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("no graft sources under ./src/main/scala: run from the root of a graft checkout")
    bench_json = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        die("no BENCHMARK.json in the current directory")
    spec = json.load(open(bench_json))
    if a.workload not in INPUTS or a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload!r}")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must point at a Spark installation")
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")

    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir)
    t_start = time.time()

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    unit, copies, tables = INPUTS[a.workload]
    manifest = gen.generate(data, a.seed, unit, copies, 64, tables)
    log(f"inputs: {manifest['rows']} in {manifest['gen_s']:.2f} s")
    probe_args = []
    if a.trace:
        probe_data = os.path.join(run_dir, "probe-data")
        gen.generate(probe_data, a.seed, *PROBE_INPUTS[:2], 64, PROBE_INPUTS[2])
        probe_args = ["--probe-data", probe_data]

    report_path = os.path.join(run_dir, "report.json")
    cmd = [java] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{spark_home}/jars/*", "graft.perfbench.Main",
        "--workload", a.workload, "--data", data, "--work", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", report_path] + probe_args
    limit = RUN_LIMIT_S - (time.time() - t_start) - 10.0
    # Every JVM of the run, the calibration child included, keeps its perf
    # data and temporary files out of the shared /tmp.
    env = dict(os.environ, JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp")
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        rc = run_bounded(cmd, root, out, limit, env)
    if rc != 0 or not os.path.isfile(report_path):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        print(tail, file=sys.stderr)
        die(f"benchmark JVM failed (rc {rc}); log kept in {run_dir}", 1)
    rep = json.load(open(report_path))
    t_jvm = time.time()

    oracle_res = oracle.compare(data, rep["oracle"])
    log(f"jvm {t_jvm - t_start:.1f} s, oracle {time.time() - t_jvm:.1f} s")
    checks = [(c["name"], c["ok"], c["info"]) for c in rep["checks"]] + \
        [(f"oracle.{k}", ok, info) for k, ok, info in oracle_res]
    bad = [c for c in checks if not c[1]]
    for name, _, info in bad:
        log(f"CHECK FAILED {name}: {info}")
    attempted = int(rep["attempted"])
    failed = min(attempted, int(rep["failed"]) + sum(1 for _, ok, _ in oracle_res if not ok))

    section = "per_layer" if a.trace else "end_to_end"
    declared = [(m["name"], m["unit"]) for m in spec[section]]
    values = rep[section]
    missing = [n for n, _ in declared if values.get(n) is None]
    if missing:
        die(f"report lacks declared {section} metrics: {missing}", 1)
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in declared}

    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    full = dict(rep, inputs=manifest, oracle=[
        {"key": k, "ok": ok, "info": info} for k, ok, info in oracle_res],
        checks=[{"name": n, "ok": ok, "info": i} for n, ok, i in checks],
        seed=a.seed, seconds=a.seconds, trace=a.trace)
    with open(os.path.join(build_dir, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(full, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    cal = rep["calibration"]
    log(f"{a.workload}: {len(checks) - len(bad)}/{len(checks)} checks pass; "
        f"calibration {cal['before_s']:.3f} s -> {cal['after_s']:.3f} s")
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

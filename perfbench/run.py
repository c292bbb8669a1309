#!/usr/bin/env python3
"""Benchmark of the graft engine's VCF -> lake pipeline: repeated ingests,
and lake lookups beside manifest commits.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: ingest_cohort, lake_serve (see perfbench/README.md). The first
run in a checkout builds the engine and the harness with sbt into
.bench_build/. Each run starts one JVM (perfbench.Main) that generates its
inputs from the seed, sets up, measures for S seconds and checks every
output. Human-readable figures go to stdout first; the last line is one
JSON object with correct, attempted, failed and metrics: the end-to-end
metrics of BENCHMARK.json with --trace 0, the per-layer ones with
--trace 1. A traced run also leaves its spans and per-layer figures
under .bench_build/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main")
WORKLOADS = ("ingest_cohort", "lake_serve")
DEADLINE_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# root build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE, os.path.join(HERE, "src")):
        files += sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless the sources are unchanged; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE}")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found")
    props = [
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
        "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
    ]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):  # offline image: resolve from the local caches only
        props += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                  "-Dsbt.offline=true"]
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("set SPARK_HOME to a Spark 4 installation (the engine builds against its jars)")
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run([sbt] + props + ["--batch", "compile", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    trace = args.trace == "1"

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found at the checkout root")
    classpath = build()
    t_start = time.time()  # the deadline covers the run, not the build

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{args.workload}-{args.seed}-{args.trace}.log")
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--cpus", str(cpus),
            "--run-dir", run_dir]
    try:
        with open(log_path, "w") as log:
            budget = DEADLINE_S - (time.time() - t_start)
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=budget,
                                cwd=run_dir, env=env).returncode
        if rc != 0:
            fail(f"{args.workload} exited {rc}; see {log_path}")
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        if trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, f"{args.workload}-seed{args.seed}")
            shutil.copyfile(os.path.join(run_dir, "spans.jsonl"), stem + "-spans.jsonl")
            layers = {}
            for name, m in res["metrics"].items():
                layers.setdefault(name.split(".")[0], {})[name] = m
            with open(stem + "-layers.json", "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "layers": layers}, f, indent=1)
    except subprocess.TimeoutExpired:
        fail(f"{args.workload} did not finish within {DEADLINE_S} s; see {log_path}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer" if trace else "end_to_end"]
    metrics = res["metrics"]
    if sorted(metrics) != sorted(m["name"] for m in wanted) or any(
            metrics[m["name"]]["unit"] != m["unit"] for m in wanted):
        fail(f"metrics {sorted(metrics)} do not match BENCHMARK.json")
    if any(not isinstance(m["value"], (int, float)) for m in metrics.values()):
        fail(f"a metric has no value: {metrics}")

    res["report"]["failed_frac"] = {"value": res["failed"] / max(1, res["attempted"]), "unit": "frac"}
    print(f"workload {args.workload} seed {args.seed} cpus {cpus} trace {args.trace}")
    for name, m in list(res["report"].items()) + list(metrics.items()):
        print(f"  {name:32s} {m['value']:>14.6g} {m['unit']}")
    print(f"  output check: {'pass' if res['failed'] == 0 else 'FAIL'} "
          f"({res['failed']} of {res['attempted']} operations failed)")
    for f_ in res["failures"][:20]:
        print(f"    {f_}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

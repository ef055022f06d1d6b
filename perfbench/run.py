#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload serve_indexed --seed 1 --seconds 8 --trace 0

Builds the engine and the harness into .bench_build/ on first use (sbt,
offline), then starts one JVM for the run. Each run works in a private
directory under .bench_build/runs/ that is given to the JVM as
java.io.tmpdir, Spark's local dir and the index system path, and is removed
when the run ends. The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "target", "scala-2.13", "perfbench_2.13-0.1.0.jar")
# class-data-sharing archive of the classes a run loads, written by the
# build's training run
CDS = os.path.join(BUILD, "perfbench.jsa")
STAMP = os.path.join(BUILD, "build.stamp")
WORKLOADS = ["serve_indexed", "maintain_drift", "lake_dml", "corpus_dedup"]
RUN_LIMIT_S = 170  # one run must end within 180 s
BUILD_LIMIT_S = 400
TRAIN_LIMIT_S = 330

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
             os.path.join(ROOT, "BENCHMARK.json")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "target" not in d.split(os.sep))
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the engine compiles and runs
    against."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME must name a Spark installation with a jars/ directory")
    return home


def jvm(main_class, args, run_dir, cds_flag):
    """The JVM command line of a run (or of the training run)."""
    spark_jars = os.path.join(spark_home(), "jars")
    return ["java", "-Xmx3g", "-XX:+UseG1GC", cds_flag,
            *[a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")],
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", JAR + os.pathsep + os.path.join(spark_jars, "*"),
            main_class, *args]


def new_run_dir(name):
    run_dir = os.path.join(BUILD, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    return run_dir


def gated_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def train(src_dir, cpus):
    """Run one step of every gated workload in one JVM that writes the
    class-data-sharing archive at exit. Every run then maps the classes
    from the archive instead of loading and verifying them one by one,
    which is most of a cold Spark JVM's start-up on a small machine."""
    if os.path.exists(CDS):
        os.remove(CDS)
    # the classes a run loads do not depend on the input's size: train on
    # the smallest scale beside the source tables when there is one
    small = os.path.join(os.path.dirname(src_dir), "sf0.001")
    if os.path.exists(os.path.join(small, "lineitem.parquet")):
        src_dir = small
    run_dir = new_run_dir("train")
    cmd = jvm("perfbench.Train", [src_dir, run_dir, str(cpus), *gated_workloads()],
              run_dir, "-XX:ArchiveClassesAtExit=" + CDS)
    print("perfbench: training run for the class-data-sharing archive", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=run_dir, stdout=subprocess.DEVNULL,
                           stderr=sys.stderr, timeout=TRAIN_LIMIT_S)
    except subprocess.TimeoutExpired:
        die("training run timed out")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(CDS):
        die(f"training run failed (jvm exit {p.returncode})")


def build(src_dir, cpus):
    digest = source_digest()
    if os.path.exists(JAR) and os.path.exists(STAMP) and os.path.exists(CDS):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env["SPARK_HOME"] = spark_home()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "package"]
    print("perfbench: building engine and harness (sbt compile)", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0:
        die(f"build failed (sbt exit {p.returncode})")
    train(src_dir, cpus)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--src-dir", default=os.environ.get(
        "PERFBENCH_SRC_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")),
        help="read-only source tables the inputs are derived from")
    args = ap.parse_args()
    # a terminated launcher still stops its build, training run or JVM
    # (subprocess.run kills its child on the exit this raises) and removes
    # the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"engine sources not found under {ROOT}/src/main/scala/graft")
    if not os.path.exists(os.path.join(args.src_dir, "lineitem.parquet")):
        die(f"source tables not found in {args.src_dir}")
    src_dir = os.path.abspath(args.src_dir)
    cpus = len(os.sched_getaffinity(0))
    build(src_dir, cpus)

    run_dir = new_run_dir(f"{args.workload}-{args.seed}")
    trace_out = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    cmd = jvm("perfbench.Main",
              ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", args.trace,
               "--src-dir", src_dir, "--run-dir", run_dir,
               "--cpus", str(cpus), "--trace-out", trace_out],
              run_dir, "-XX:SharedArchiveFile=" + CDS)
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{") and '"metrics"' in line:
                result = line
            else:
                print(line, flush=True)
            if time.monotonic() - t0 > RUN_LIMIT_S:
                break
        proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            result = None
            print("perfbench: run exceeded its time limit", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None or proc.returncode != 0:
        die(f"run failed (jvm exit {proc.returncode})")
    if args.trace == "1":
        print(f"trace spans: {os.path.relpath(trace_out, ROOT)}")
    print(result, flush=True)


if __name__ == "__main__":
    main()

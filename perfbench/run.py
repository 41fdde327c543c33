#!/usr/bin/env python3
"""Tag-engine benchmark driver.

    python3 perfbench/run.py --workload auto_tick --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The command

  1. builds the engine (../src/main/scala) and the benchmark classes with sbt,
     at most once per source tree (a content hash marks the build),
  2. makes the run's inputs from the seed: a TPC-H-shaped parquet lake
     written by DuckDB into a fresh temp dir inside the checkout,
  3. starts one plain JVM (no sbt) on local[nproc] that sets up the
     workload, runs whole rounds of operations for --seconds, checks every
     output against values computed apart from the engine, and
  4. prints one JSON line: correct, attempted, failed and the metrics
     (end-to-end with --trace 0, per layer with --trace 1).

The temp dir is removed at exit. Traced runs also write their spans to
perfbench/target/traces/. See perfbench/README.md.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import lake

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("bulk_retag", "auto_tick", "tag_reads")
# tag_reads tags a synthetic catalog and never reads the lake
LAKE_WORKLOADS = ("bulk_retag", "auto_tick")
# A run must end within 180 s; the JVM gets what is left after the build.
RUN_DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 840.0
JVM_HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files(root):
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files.extend(os.path.join(base, n) for n in names)
    return sorted(files)


def source_hash(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    repo_cfg = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    wanted = ["-Dsbt.offline=true"]
    if os.path.exists(repo_cfg):
        wanted += ["-Dsbt.override.build.repos=true",
                   f"-Dsbt.repository.config={repo_cfg}"]
    for w in wanted:
        if not any(o.split("=")[0] == w.split("=")[0] for o in opts):
            opts.append(w)
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx3g")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Compile once per source tree; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    os.makedirs(target, exist_ok=True)
    marker = os.path.join(target, "perfbench-build.json")
    digest = source_hash(root)
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            with open(marker) as fh:
                built = json.load(fh)
            if built.get("hash") == digest:
                return built["classpath"]
        except (OSError, ValueError):
            pass
        log("building engine + benchmark classes with sbt (once per source tree)")
        t0 = time.monotonic()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
        lines = proc.stdout.splitlines()
        cp = [ln.strip() for ln in lines
              if "perfbench" in ln and "classes" in ln and ":" in ln
              and not ln.startswith("[")]
        if proc.returncode != 0 or not cp:
            sys.stderr.write("\n".join(lines[-60:]) + "\n")
            raise SystemExit("perfbench: build failed")
        log(f"build took {time.monotonic() - t0:.1f} s")
        with open(marker, "w") as fh:
            json.dump({"hash": digest, "classpath": cp[-1]}, fh)
        return cp[-1]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def run_jvm(args, classpath, tmp, lake_dir, trace_out, cores, deadline):
    jtmp = os.path.join(tmp, "jvm")
    os.makedirs(jtmp)
    cmd = [java_bin(), f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={jtmp}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--tmp", tmp, "--lake", lake_dir, "--cores", str(cores),
            "--trace-out", trace_out]
    t_launch = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    ready_s, result = None, None
    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    # a JVM that hangs silently must still die at the deadline
    watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_READY"):
                ready_s = time.monotonic() - t_launch
            elif line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                sys.stderr.write(line)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            kill()
            proc.wait()
    if proc.returncode != 0 or result is None or ready_s is None:
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
    return ready_s, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    deadline = t_start + RUN_DEADLINE_S
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a checkout of the "
                         "engine (src/main/scala/graft not found)")
    load_start = os.getloadavg()[0]
    classpath = build(root)
    # the first run in a checkout pays the build; its JVM still gets a
    # full run window
    deadline = max(deadline, time.monotonic() + RUN_DEADLINE_S)
    cores = len(os.sched_getaffinity(0))
    tmp_base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(tmp_base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_base)
    trace_dir = os.path.join(HERE, "target", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_out = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
    try:
        lake_dir = os.path.join(tmp, "lake")
        if args.workload in LAKE_WORKLOADS:
            lake.generate(lake_dir, args.seed)
        ready_s, res = run_jvm(args, classpath, tmp, lake_dir, trace_out,
                               cores, deadline)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_base)
        except OSError:
            pass
    load_end = os.getloadavg()[0]
    metrics = res["metrics"]
    if args.trace == 0:
        setup = ready_s + statistics.median(res["setup_reps_s"])
        metrics = {"setup_s": {"value": round(setup, 4), "unit": "s"}, **metrics}
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"trace={args.trace} cores={cores} rounds={res['rounds']} "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"jvm_ready_s={ready_s:.3f} setup_reps_s={res['setup_reps_s']} "
          f"{res['phases']} wall={time.monotonic() - t_start:.1f}s "
          f"load_avg_start={load_start:.2f} load_avg_end={load_end:.2f}")
    print(f"perfbench: samples {json.dumps(res['samples'])}")
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}")
    for c in res["check_failures"]:
        print(f"perfbench: CHECK FAILED {c}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()

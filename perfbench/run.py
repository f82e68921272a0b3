#!/usr/bin/env python3
"""Benchmark runner for the CDC pipeline and the batch query surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 6 --trace 0

Workloads: cdc_backlog, cdc_live, query_set (see perfbench/README.md).

The first run in a checkout builds the program and the harness from
source with sbt (perfbench/build.sbt depends on the root build) and runs
the harness self-tests; later runs reuse the build while no source file
changed. Each run then starts one JVM. Its stdout ends with a details
line (run context, checks, the named CDC and query figures) and, last,
the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones and writes the run's spans to perfbench/out/run/spans-*.json.
A run that cannot build or fails to finish exits non-zero without a
result line.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCHER = os.path.join(TARGET, "launcher.txt")
STAMP = os.path.join(TARGET, "source.digest")
WORKLOADS = ("cdc_backlog", "cdc_live", "query_set")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compile program and harness, run the harness self-tests, write the
    launcher file. Skipped while the source digest is unchanged."""
    if os.path.isfile(LAUNCHER) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return True
    log("building program and harness (sbt perfbench/compile, perfbench/test)")
    t0 = time.time()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "perfbench/compile", "perfbench/test", "launcher"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return False
    if p.returncode != 0 or not os.path.isfile(LAUNCHER):
        log(f"build failed (exit {p.returncode})")
        return False
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    log(f"build done in {time.time() - t0:.0f} s")
    return True


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources next to {HERE} (build.sbt, src/main/scala); nothing to measure")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java are required")
        return 2

    files = source_files()
    digest = source_digest(files)
    if not build(digest):
        return 3

    with open(LAUNCHER) as fh:
        lines = [l.rstrip("\n") for l in fh if l.strip()]
    classpath, jvm_opts = lines[0], lines[1:]
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(HERE, "out", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    context = {
        "nproc": cores, "loadavg_start": loadavg(), "git_commit": git_commit(),
        "source_digest": digest, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
    }
    log4j = os.path.relpath(os.path.join(HERE, "log4j2.properties"), ROOT)
    cmd = (["java", "-Xmx3g", "-Dlog4j2.configurationFile=" + log4j]
           + jvm_opts + ["-cp", classpath, "perfbench.Main",
                         "--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace),
                         "--cores", str(cores), "--work", work,
                         "--data", os.path.join(HERE, "data")])
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopped")
        return 4
    if proc.returncode != 0:
        log(f"harness exited with {proc.returncode}")
        return 5
    lines = [l for l in out.splitlines() if l.strip().startswith("{")]
    if len(lines) < 2:
        log("harness printed no result")
        return 6
    details, result = json.loads(lines[-2]), json.loads(lines[-1])
    context.update(loadavg_end=loadavg(), run_wall_s=round(time.time() - t0, 3))
    details = {"context": {**context, **details.pop("context", {})}, **details}
    os.makedirs(os.path.join(HERE, "out", "results"), exist_ok=True)
    record = os.path.join(HERE, "out", "results",
                          f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as fh:
        json.dump({"details": details, "result": result}, fh, indent=1)
    print(json.dumps(details, ensure_ascii=False))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

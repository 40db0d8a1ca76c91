#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the engine and the benchmark with sbt
(offline); later runs reuse the build while the sources are unchanged.
All scratch data of a run lives under .bench_build/perfbench/run-<pid>,
which is deleted before and after the run. The last stdout line is the
result JSON; the run report goes to stderr. See perfbench/README.md.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cdc_merge", "scd2_snapshot", "corpus_dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# The throughput collector runs no concurrent GC threads that compete with
# local[k] tasks for the cores. In an interleaved comparison on the
# 4-core host, corpus_dedup passes took 1.5-2.7 s under it against
# 2.6-3.4 s under G1.
JVM_GC = "-XX:+UseParallelGC"

# C1 only. With C2, corpus_dedup run medians on one seed differed by 1.6x
# from one JVM to the next, and ops kept getting faster for the whole
# window. C1 code is slower, but it reaches its speed within a few ops.
JVM_JIT = "-XX:TieredStopAtLevel=1"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH_DIR, "build.sbt"),
              os.path.join(BENCH_DIR, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"),
                 os.path.join(BENCH_DIR, "src", "main")):
        for dirpath, dirnames, filenames in os.walk(tree):
            dirnames.sort()
            inputs += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for path in inputs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build():
    """Compile engine and benchmark; return the runtime classpath."""
    stamp_file = os.path.join(STATE, "stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(STATE, exist_ok=True)
    print("perfbench: building engine and benchmark (sbt, offline)", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=sbt_env(), stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l for l in out.stdout.splitlines() if "scala-2.13" in l and ":" in l
             and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def commit_id():
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0 and out.stdout.strip():
                return out.stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    return os.environ.get("PERFBENCH_COMMIT", "unknown")


def clean_stale_runs():
    """Remove run roots left by runs whose process is gone."""
    if not os.path.isdir(STATE):
        return
    for name in os.listdir(STATE):
        if not name.startswith("run-"):
            continue
        try:
            pid = int(name[4:])
            os.kill(pid, 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", help="append the result, tagged, to this JSONL file")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft engine sources next to {BENCH_DIR}; "
             "run from a full checkout of the repository")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    classpath = build()
    t_start = time.monotonic()
    clean_stale_runs()
    run_root = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}", JVM_GC, JVM_JIT, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--root", os.path.join(run_root, "data"),
            "--commit", commit_id()]
    if args.trace == "1":
        cmd += ["--spans", os.path.join(
            STATE, "spans", f"{args.workload}-seed{args.seed}.jsonl")]

    proc = subprocess.Popen(cmd, cwd=run_root, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        fail("run timed out", 4)
    shutil.rmtree(run_root, ignore_errors=True)

    lines = out.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out[-2000:])
        fail(f"no result line (exit code {proc.returncode})", 5)
    if args.record:
        with open(args.record, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "trace": int(args.trace), "result": result}) + "\n")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    sys.exit(proc.returncode if proc.returncode != 0 or result["correct"] else 1)


if __name__ == "__main__":
    main()

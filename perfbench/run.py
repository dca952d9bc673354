#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. A run first builds the library from
`src/main/scala` together with the benchmark code in `perfbench/src` (sbt, offline)
if any source is newer than the last build, then starts one JVM directly
from the recorded class path, so no build-tool prefix ever lands on the
result line. All state, Spark scratch
and temporary files go under `.bench_build/perfbench/` and are removed when
the run ends; traced runs keep their spans in
`.bench_build/perfbench/traces/<workload>-seed<n>.jsonl`.

Exit status is 0 only for a run whose correctness checks passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("adt_live", "doc_curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def result_line(text):
    """The last line of `text` that parses as a result object. A build tool
    may prefix forked output with a tag such as `[info] `; strip it."""
    for line in reversed(text.splitlines()):
        line = line.strip()
        if line.startswith("["):
            line = line[line.find("]") + 1:].strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and {"correct", "attempted", "failed",
                                      "metrics"} <= set(obj):
            return obj
    return None


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        log(f"timed out after {timeout}s: {cmd[0]}")
        return None, out, err
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return proc.returncode, out, err


def newest_source(root):
    """Latest modification time over the sources and build files."""
    newest = 0.0
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(root):
    """Compile when the sources are newer than the last build; returns the
    runtime class path."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_source(root):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building")
    t0 = time.time()
    rc, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(out or "")
        log("build failed")
        sys.exit(3)
    log(f"built in {time.time() - t0:.0f}s")
    with open(cp_file) as f:
        return f.read().strip()


def java_cmd(classpath, heap):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap}", "-XX:+UseG1GC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="alter one expected digest; the run must then fail")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("run from the repository root: src/main/scala/graft is missing")
        sys.exit(2)
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    classpath = build(root)

    work = os.path.join(build_dir, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(build_dir, "traces",
                             f"{args.workload}-seed{args.seed}.jsonl")
    cmd = java_cmd(classpath, "3g") + [
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--trace-out", trace_out]
    if args.corrupt_expected:
        cmd.append("--corrupt-expected")
    try:
        rc, out, err = run_group(cmd, RUN_TIMEOUT_S, cwd=root,
                                 stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                 text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = result_line(out or "")
    if err:
        sys.stderr.write("".join(l + "\n" for l in err.splitlines()
                                 if "[perfbench]" in l))
    if res is None:
        sys.stderr.write((err or "")[-4000:])
        log(f"no result line (exit status {rc})")
        sys.exit(rc or 4)
    print(json.dumps(res))
    if rc != 0 or not res["correct"]:
        log(f"run failed (exit status {rc}, correct={res['correct']})")
        sys.exit(rc or 1)


if __name__ == "__main__":
    main()

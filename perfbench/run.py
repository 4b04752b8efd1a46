#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload lookup_selective --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source (`perfbench/build.py`); later runs reuse the build
while the sources are unchanged. Each run works in a private directory under
`perfbench/runs/`, removed when it ends; traced runs leave their spans in `perfbench/runs/spans-<workload>-<seed>.jsonl`.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "1536m"
WORKLOADS = ("lookup_selective", "dedup_pipeline")

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


CHILDREN = []


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, **kw):
    """Run a child to completion; it is killed on timeout and when this
    process is told to stop, so no child outlives the run."""
    proc = subprocess.Popen(cmd, **kw)
    CHILDREN.append(proc)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    finally:
        CHILDREN.remove(proc)
    return proc.returncode, out


def stop(signum, _frame):
    for proc in CHILDREN:
        proc.kill()
        proc.wait()
    sys.exit(128 + signum)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--holdout", action="store_true",
                    help="draw inputs from the held-out seed stream")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    def build_step(cmd, timeout):
        # the compilers' output goes to stderr: stdout carries only the result
        return run_child(cmd, timeout, stdout=sys.stderr, stderr=sys.stderr)[0]
    try:
        cp = build.build(build_step, BUILD_TIMEOUT_S)
        java = build.jdk_tool("java")
    except build.BuildError as e:
        fail(f"build failed: {e}", 3)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)

    runs = os.path.join(HERE, "runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the same heap ceiling on every box, whatever its memory
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Runner", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    if args.holdout:
        cmd.append("--holdout")

    try:
        rc, out = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 5)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [line for line in out.splitlines() if line.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {rc}", 6)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 7)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark entry point for graft (see perfbench/README.md).

    python3 perfbench/run.py --workload kg_span --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record kg_span --variants 0-15   # into checksums.json

Builds the program and the benchmark from source when needed (build.py),
then runs one workload in one JVM. The last line of stdout is the result
object {"correct", "attempted", "failed", "metrics"}; progress goes to stderr.
Everything the run writes stays under .bench_build/ in the checkout.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("kg_span", "kg_full_hub", "toolkit")
# per-run deadline for the JVM; the first run in a checkout also builds
RUN_TIMEOUT_S = 170
HEAP = "2g"

# JDK 17 module opens Spark needs outside spark-submit (the program's
# build.sbt passes the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(cp, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java"] + opens +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-cp", cp, main] + args)


def run_jvm(cmd, timeout):
    """Runs the JVM in its own process group; returns (code, stdout)."""
    env = dict(os.environ)
    # a SPARK_LOCAL_DIRS from the environment would override spark.local.dir
    # and send shuffle files outside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         env=env, cwd=build.ROOT, start_new_session=True,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"[perfbench] timed out after {timeout} s", file=sys.stderr)
        return 124, ""
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def merge_checksums(path, jsonl):
    """Merges `{"workload", "variant", "sums"}` lines into checksums.json."""
    with open(path) as fh:
        table = json.load(fh)
    for line in jsonl.splitlines():
        if line.startswith("{"):
            r = json.loads(line)
            table.setdefault(r["workload"], {})[str(r["variant"])] = r["sums"]
    with open(path, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", choices=WORKLOADS,
                    help="print the output checksums of --variants")
    ap.add_argument("--variants", default="0-15")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.record):
        ap.error("one of --workload, --selftest, --record is required")

    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    bench_json = os.path.join(build.ROOT, "BENCHMARK.json")
    if a.selftest:
        work = fresh_dir(os.path.join(build.OUT, "work", "selftest"))
        code, out = run_jvm(java_cmd(cp, work, "graft.perfbench.SelfTest",
                                     [work, bench_json]), 600)
        sys.stdout.write(out)
        return code

    checksums = os.path.join(HERE, "checksums.json")
    if a.record:
        work = fresh_dir(os.path.join(build.OUT, "work", "record-" + a.record))
        code, out = run_jvm(java_cmd(cp, work, "graft.perfbench.Main",
                                     ["--record", a.record, "--variants", a.variants,
                                      "--work", work]), 3600)
        if code == 0:
            merge_checksums(checksums, out)
        return code

    work = fresh_dir(os.path.join(build.OUT, "work", a.workload))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--checksums", checksums]
    code, out = run_jvm(java_cmd(cp, work, "graft.perfbench.Main", args),
                        RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        print(f"[perfbench] benchmark exited with code {code}", file=sys.stderr)
        return code or 1
    result = json.loads(lines[-1])
    for trace in sorted(f for f in os.listdir(work) if f.startswith("trace-")):
        print(f"[perfbench] trace: {os.path.join(work, trace)}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload binlog_drain --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The engine is compiled from source on the
first run (see build.py); each run then starts one JVM with one Spark session
at local[<cores>], sets up the workload from the seed, measures for the given
seconds, checks every output, and prints one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
All scratch files live under ``.bench_work`` in the checkout and are removed
when the run ends.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["binlog_drain", "replica_apply", "curation_batch"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(root, classes, work, args, extra):
    jars = os.path.join(build.spark_jars(root), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC",
        # no hsperfdata file in the system temp dir: a run writes only
        # inside its checkout
        "-XX:-UsePerfData",
        "-Djdk.lang.Process.launchMechanism=fork",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dperfbench.goldens=" + os.path.join(root, "perfbench", "goldens.txt"),
    ] + extra + ["-cp", classes + os.pathsep + jars, "perfbench.Main",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--work", work, "--cores", str(cores()),
                 "--shape", args.shape])


def run(args, extra=()):
    """Runs the JVM; returns (result dict or None, stdout lines)."""
    root = os.getcwd()
    classes = build.build(root)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(root, ".bench_work", f"{args.workload}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.run(jvm_command(root, classes, work, args, list(extra)),
                               cwd=root, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: run exceeded {JVM_TIMEOUT_S}s; see {log_path}\n")
        return None, []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        with open(log_path) as log:
            tail = [ln for ln in log.read().splitlines()
                    if "WARN ResolveWriteToStream" not in ln][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        sys.stderr.write(f"perfbench: JVM exited {p.returncode}; see {log_path}\n")
        return None, lines
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return None, lines
    return result, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--shape", default="full", choices=["full", "tiny"])
    args = ap.parse_args()
    result, lines = run(args)
    if result is None:
        sys.exit(1)
    for ln in lines[:-1]:
        if ln.startswith("{\"perfbench_session\""):
            print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/test.py          # determinism + smoke runs
    python3 perfbench/test.py --pin    # rewrite goldens.txt from this build

1. Generator determinism (perfbench.SelfTest): the same seed gives
   byte-identical DN logs, wave files, expected checksums and corpus; a
   different seed gives different ones.
2. A tiny-shape smoke run of every workload, untraced and traced: every
   correctness check passes and the metric names are the ones
   BENCHMARK.json lists.
3. In a directory holding only BENCHMARK.json and perfbench/, run.py exits
   non-zero without printing a result.
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
import run  # noqa: E402

ROOT = os.getcwd()
FAILS = []


def expect(ok, what):
    print(("ok " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILS.append(what)


def determinism(classes):
    work = os.path.join(ROOT, ".bench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(ROOT), "*")
    p = subprocess.run(["java", "-Xmx1g", "-cp", cp, "perfbench.SelfTest", work],
                       capture_output=True, text=True)
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(p.stdout)
    expect(p.returncode == 0, "generator determinism")


def smoke(spec):
    e2e = set(m["name"] for m in spec["end_to_end"])
    layers = set(m["name"] for m in spec["per_layer"])
    listed = [x["name"] for x in spec["workloads"]]
    expect(listed == run.WORKLOADS, "BENCHMARK.json lists every workload")
    for w in listed:
        for trace in (0, 1):
            args = argparse.Namespace(workload=w, seed=7, seconds=2, trace=trace,
                                      shape="tiny")
            result, _ = run.run(args)
            got = set(result["metrics"]) if result else set()
            names_ok = got == (e2e if trace == 0 else layers)
            ok = (result is not None and result["correct"] and result["failed"] == 0
                  and names_ok)
            expect(ok, f"smoke {w} trace={trace}: {result and result['attempted']} "
                       "checked ops, metric names match BENCHMARK.json")


def bare_dir_fails():
    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
    env = dict(os.environ, CARGO_TARGET_DIR=".bench_build")
    p = subprocess.run(["python3", "perfbench/run.py", "--workload", "binlog_drain",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180, env=env)
    shutil.rmtree(bare, ignore_errors=True)
    expect(p.returncode != 0 and '"correct"' not in p.stdout,
           "run.py fails without the engine sources")


def pin():
    """Rewrites goldens.txt: the curation fingerprints of seed 1."""
    args = argparse.Namespace(workload="curation_batch", seed=1, seconds=1, trace=0,
                              shape="full")
    result, lines = run.run(args, extra=["-Dperfbench.printGoldens=1",
                                         "-Dperfbench.goldens="])
    if result is None or not result["correct"]:
        raise SystemExit("pin: the curation run failed")
    path = os.path.join(ROOT, "perfbench", "goldens.txt")
    with open(path, "w") as fh:
        fh.write("# seed query rows hash: curation_batch fingerprints at full shape\n")
        for ln in lines:
            if ln.startswith("golden "):
                fh.write(ln[len("golden "):] + "\n")
    print(f"wrote {path}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pin", action="store_true")
    if ap.parse_args().pin:
        pin()
        return
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    determinism(build.build(ROOT))
    smoke(spec)
    bare_dir_fails()
    if FAILS:
        print(f"{len(FAILS)} failed")
        sys.exit(1)
    print("all passed")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test of the benchmark on the small sf0.001 data set.

Run from the root of a checkout:

    python3 perfbench/selftest.py

It checks that
  * every workload the runner knows runs once untraced and once traced, with
    no failed operation, and prints every metric BENCHMARK.json declares
    with its unit;
  * a deliberately wrong tree fingerprint fails every operation;
  * without the library next to it (only BENCHMARK.json and perfbench/),
    the runner exits non-zero and prints no result line.
Exits non-zero on the first failed check.
"""

import json
import os
import shutil
import subprocess
import sys

from run import BENCH, ROOT, WORKLOADS

RUN = os.path.join(BENCH, "run.py")


def run(workload, trace, *extra):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "3",
           "--trace", str(trace), "--dataset", "sf0.001", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return proc, result


def fail(msg, proc=None):
    print("selftest FAILED: " + msg)
    if proc is not None:
        print(proc.stdout[-2000:])
        print(proc.stderr[-2000:])
    sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)

    for w in WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            proc, result = run(w, trace)
            if result is None:
                fail("%s trace %d exited %d" % (w, trace, proc.returncode), proc)
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                fail("%s trace %d: result keys %s" % (w, trace, sorted(result)))
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 2:
                fail("%s trace %d: %d of %d operations failed"
                     % (w, trace, result["failed"], result["attempted"]), proc)
            want = {m["name"]: m["unit"] for m in declared[group]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                fail("%s trace %d: metrics %s, declared %s" % (w, trace, got, want))
            print("ok  %-17s trace %d  %d metrics, %d operations" % (w, trace, len(got), result["attempted"]))

    w = WORKLOADS[0]
    proc, result = run(w, 0, "--expect-fingerprint", "0000000000000000")
    if result is None:
        fail("wrong-fingerprint run exited %d" % proc.returncode, proc)
    if result["correct"] or result["failed"] != result["attempted"]:
        fail("a wrong fingerprint failed %d of %d operations" % (result["failed"], result["attempted"]))
    print("ok  wrong fingerprint fails all %d operations" % result["attempted"])

    bare = os.path.join(BENCH, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "target"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", "1",
                           "--seconds", "3", "--trace", "0"],
                          cwd=bare, capture_output=True, text=True, timeout=180)
    last = (proc.stdout.strip().splitlines() or [""])[-1]
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or last.startswith("{"):
        fail("without the library the runner exited %d with last line %r" % (proc.returncode, last))
    print("ok  without the library the runner exits %d and prints no result" % proc.returncode)
    print("selftest passed")


if __name__ == "__main__":
    main()

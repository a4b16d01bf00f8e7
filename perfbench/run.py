#!/usr/bin/env python3
"""Tree-core benchmark: `DecisionTreeClassifier.fit` then `Predict.predictMany`.

Run from the root of a checkout:

    python3 perfbench/run.py --workload binned_wide --seed 1 --seconds 22 --trace 0

Workloads: binned_wide and categorical_deep (the ones BENCHMARK.json lists)
and exact_narrow. The first run builds the library and the benchmark
(`perfbench/build.sbt`) with sbt and keeps a copy of the classes under
`perfbench/.work/build-<source digest>/`; later runs reuse that copy while
the sources are unchanged. A workload that reads a materialized input
(categorical_deep's join) writes it once per checkout, in a JVM of its own
before the measured one. Each run starts one JVM on `local[N]`, N = the CPUs
this process may use, sets up the workload, runs two untimed warm-up
operations (set-up time ends with the first), then a closed loop of
operations (fit, predict to the `noop` sink, correctness checks) for
`--seconds`. The last line of stdout is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Any failure to build or
run exits non-zero without printing that line; the JVM's stderr is kept in
`perfbench/.work/`.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("exact_narrow", "binned_wide", "categorical_deep")
# workloads that read an input file, written once per checkout before set-up
MATERIALIZED = ("categorical_deep",)

# dataset -> (directory under the data root, lineitem hash-slice modulus per
# workload). Each sf0.1 slice keeps one run within the benchmark's time
# budget; binned_wide keeps a quarter of lineitem so that its sketch and
# histogram passes keep the cores busy about two thirds of the time (a
# sixteenth leaves them idle more than half of it). 1 keeps every row.
DATASETS = {
    "sf0.1": ("sf0.1", {"exact_narrow": 16, "binned_wide": 4, "categorical_deep": 16}),
    "sf0.001": ("sf0.001", {"exact_narrow": 1, "binned_wide": 1, "categorical_deep": 1}),
}

XMX = "3g"
RUN_LIMIT_S = 170  # one run, build excluded, must end within 180 s
BUILD_LIMIT_S = 700

JVM_OPTS = [
    "-Xmx" + XMX,
    "-Xms" + XMX,
    "-XX:-UsePerfData",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:+UseG1GC",
] + [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


class BenchError(Exception):
    pass


def source_digest():
    """Digest of every file the build reads: the library's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    return env


def check_library():
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")):
        if not os.path.exists(f):
            raise BenchError("no library sources next to the benchmark: %s is missing" % f)


def build(digest):
    """Compiles library and benchmark; returns the runtime classpath.

    sbt writes its classes into the tree's `target/` directories, which any
    later build of other sources overwrites. So the class directories of each
    build are copied to `.work/build-<digest>/`, and the cached classpath
    names only those copies: a digest always runs the classes built from the
    sources it was computed over."""
    out_dir = os.path.join(WORK, "build-" + digest)
    cp_file = os.path.join(out_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log = os.path.join(WORK, "build.log")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             "-Djava.io.tmpdir=" + tmp, "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if proc.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        raise BenchError("build failed (exit %d), see %s:\n%s"
                         % (proc.returncode, log, "\n".join(lines[-30:])))
    staging = "%s.%d.tmp" % (out_dir, os.getpid())
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    classpath = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(staging, "classes%d" % i))
            entry = os.path.join(out_dir, "classes%d" % i)
        classpath.append(entry)
    with open(os.path.join(staging, "classpath.txt"), "w") as fh:
        fh.write(os.pathsep.join(classpath))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(staging, out_dir)
    return os.pathsep.join(classpath)


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


def java_cmd(classpath, run_dir, argv):
    return (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
                                   "-cp", classpath, "perfbench.TreeBench"] + argv)


def prepare_input(args, classpath, cpus, data_dir, subset, input_path, deadline):
    """Writes the workload's input file if it is missing, in a JVM of its own,
    so that the measured set-up time never includes it."""
    if os.path.exists(input_path):
        return
    run_dir = os.path.join(WORK, "prepare-%s" % args.workload)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(input_path), exist_ok=True)
    log = os.path.join(WORK, "%s-prepare.log" % args.workload)
    with open(log, "w") as out:
        proc = subprocess.run(
            java_cmd(classpath, run_dir, ["--prepare", input_path, "--workload", args.workload,
                                          "--cpus", str(cpus), "--data", data_dir,
                                          "--subset", str(subset), "--work", run_dir]),
            cwd=run_dir, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=max(1.0, deadline - time.monotonic()))
    if proc.returncode != 0 or not os.path.exists(input_path):
        with open(log) as fh:
            tail = fh.read().splitlines()[-40:]
        raise BenchError("preparing %s failed (exit %d), log kept in %s:\n%s"
                         % (input_path, proc.returncode, log, "\n".join(tail)))


def run_jvm(args, classpath, fingerprint, cpus, data_dir, subset, input_path, deadline):
    """Runs the benchmark JVM; returns (setup seconds, events)."""
    run_dir = os.path.join(WORK, "run-%s" % args.workload)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    stderr_log = os.path.join(WORK, "%s-seed%d-trace%d.stderr.log" % (args.workload, args.seed, args.trace))
    cmd = java_cmd(classpath, run_dir,
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--cpus", str(cpus), "--data", data_dir, "--subset", str(subset),
                    "--work", run_dir, "--fingerprint", fingerprint]
                   + (["--input", input_path] if input_path else []))
    events = []
    setup_s = None
    with open(stderr_log, "w") as err:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                if not line.startswith("PERFBENCH "):
                    continue
                ev = json.loads(line[len("PERFBENCH "):])
                if ev["event"] == "setup_done":
                    setup_s = time.monotonic() - t0
                events.append(ev)
            code = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not events or events[-1]["event"] != "done" or setup_s is None:
        with open(stderr_log) as fh:
            tail = fh.read().splitlines()[-40:]
        raise BenchError("benchmark JVM failed (exit %d%s), stderr kept in %s:\n%s"
                         % (code, ", killed at the time limit" if time.monotonic() >= deadline else "",
                            stderr_log, "\n".join(tail)))
    return setup_s, events


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--dataset", choices=sorted(DATASETS), default="sf0.1")
    p.add_argument("--expect-fingerprint",
                   help="tree fingerprint to check against instead of the recorded one")
    args = p.parse_args()

    started = time.monotonic()
    check_library()
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    classpath = build(digest)
    deadline = time.monotonic() + RUN_LIMIT_S - min(RUN_LIMIT_S / 2, time.monotonic() - started)

    subdir, slices = DATASETS[args.dataset]
    subset = slices[args.workload]
    data_dir = os.path.join(os.environ.get("PERFBENCH_DATA_ROOT", os.path.expanduser("~/testdata")), subdir)
    if not os.path.isdir(data_dir):
        raise BenchError("test data not found: %s" % data_dir)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    with open(os.path.join(BENCH, "fingerprints.json")) as fh:
        recorded = json.load(fh).get(args.dataset, {}).get(args.workload, "none recorded")
    fingerprint = args.expect_fingerprint or recorded
    cpus = len(os.sched_getaffinity(0))

    input_path = None
    if args.workload in MATERIALIZED:
        input_path = os.path.join(WORK, "inputs", "%s-%s-%d-%d.parquet" % (args.workload, subdir, subset, cpus))
        prepare_input(args, classpath, cpus, data_dir, subset, input_path, deadline)
    setup_s, events = run_jvm(args, classpath, fingerprint, cpus, data_dir, subset, input_path, deadline)
    env = next(e for e in events if e["event"] == "env")
    setup = next(e for e in events if e["event"] == "setup_done")
    ops = [e for e in events if e["event"] == "op"]
    failed_ops = [o for o in ops if not o["ok"]]
    attempted = len(ops)  # the warm-up operations count too
    # an operation whose fit or predict threw has no fingerprint
    completed = [o for o in ops if o["fingerprint"] and not o["warmup"]]
    timed = [o for o in completed if o["traced"] == bool(args.trace)]
    if not timed:
        raise BenchError("no timed operation completed its fit and predict")
    fit_s = statistics.median(o["fit_s"] for o in timed)

    if args.trace == 0:
        group = "end_to_end"
        values = {
            "setup_s": setup_s,
            "fit_s": fit_s,
            "predict_s": statistics.median(o["predict_s"] for o in timed),
        }
    else:
        group = "per_layer"
        layers = [e["metrics"] for e in events if e["event"] == "layers"]
        if not layers:
            raise BenchError("no traced operation completed")
        values = {k: statistics.median(l[k] for l in layers) for k in layers[0]}
        values["trace.overhead_s"] = fit_s - statistics.median(o["fit_s"] for o in completed if not o["traced"])
        values["spark.peak_live_gb"] = next(e for e in events if e["event"] == "heap")["peak_live_bytes"] / 1e9
    metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in declared[group]}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "dataset": args.dataset, "commit": git_commit(), "source_digest": digest,
        "env": env, "setup": setup, "setup_s": setup_s, "ops": ops,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    result_path = os.path.join(WORK, "result-%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace))
    if args.trace == 1:
        os.replace(os.path.join(WORK, "run-%s" % args.workload, "trace.json"),
                   os.path.join(WORK, "trace-%s-seed%d.json" % (args.workload, args.seed)))
    with open(result_path, "w") as fh:
        json.dump(record, fh, indent=1)

    print("# workload %s  seed %d  trace %d  dataset %s" % (args.workload, args.seed, args.trace, args.dataset))
    print("# env: N=%s defaultParallelism=%s shuffle.partitions=%s xmx=%s spark=%s java=%s commit=%s source=%s"
          % (env["cpus"], env["default_parallelism"], env["shuffle_partitions"], env["xmx"],
             env["spark_version"], env["java_version"], record["commit"], digest))
    print("# operations: %d attempted (2 warm-up, %d timed, %d of them traced), failed_frac=%.4f"
          % (attempted, attempted - 2, sum(o["traced"] for o in ops), len(failed_ops) / attempted))
    for o in failed_ops:
        print("# failed: operation %d: %s" % (o["index"], "; ".join(o["failures"])))
    for k, (v, unit) in metrics.items():
        print("# %-26s %14.6f %s" % (k, v, unit))
    if args.trace == 1:
        for e in events:
            if e["event"] != "layers":
                continue
            m = e["metrics"]
            parts = [m["split.level_s"], m["trainer.prep_s"], m["trainer.driver_s"], m["encode.fit_mappings_s"]]
            print("# fit span of operation %d: %.4f s = split.level %.4f + trainer.prep %.4f"
                  " + trainer.driver %.4f + encode.fit_mappings %.4f, residual %.4f"
                  % tuple([e["index"], e["fit_span_s"]] + parts + [e["fit_span_s"] - sum(parts)]))
    print("# record: %s" % os.path.relpath(result_path, os.getcwd()))
    print(json.dumps({
        "correct": not failed_ops,
        "attempted": attempted,
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, subprocess.TimeoutExpired, OSError, statistics.StatisticsError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(1)

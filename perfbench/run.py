#!/usr/bin/env python3
"""The repository's benchmark: seeded GAME and corpus workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the harness from
source (perfbench/build.py), runs one workload in one JVM on local[k]
(k = min(3, available cores)) as a closed loop with one client, checks
the outputs, and prints a detail line and then, as the last line, the
result: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Exits non-zero, printing no result, if the build or the run
fails. See BENCHMARK.json for the workloads and metrics.

Every run uses a fresh scratch directory under .bench_scratch/ for index
directories, models, Spark local dirs, checkpoints, the warehouse and the
JVM's temp dir, and deletes it at exit; a run whose scratch directory
survives fails.

The first run after a build also records a class-data-sharing archive of
the classes a tiny run loads (.bench_build/cds-*.jsa); later runs map it
instead of loading those classes from the jars, which takes seconds off
every JVM start.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("game_wide_fixed", "corpus_ingest_probe")
HEAP = "3g"
JVM_TIMEOUT_S = 165
SCRATCH = ".bench_scratch"
# Spark on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def cpu_jiffies():
    """(all, steal) CPU time of the host since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7] if len(v) > 7 else 0
    except (OSError, ValueError):
        return None


def commit():
    """The commit under test when the checkout is a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(3, n))


def jvm_command(classpath, root, args, k, cds):
    return ["java", cds, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:ParallelGCThreads=2", "-XX:-UsePerfData", "-Xss4m",
            f"-Djava.io.tmpdir={root}/tmp", "-Dspark.callstack.depth=100",
            ] + [x for p in ADD_OPENS for x in ("--add-opens",
                                                 f"{p}=ALL-UNNAMED")] + [
        "-cp", ":".join(classpath), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", os.path.join(root, "result.json"), "--root", root,
        "--cores", str(k), "--scale", str(args.scale),
        "--setup-reps", str(args.setup_reps)]


def scratch_root(tag):
    return os.path.abspath(os.path.join(
        SCRATCH, f"{tag}-{os.getpid()}-{int(time.time() * 1e3)}"))


def run_jvm(cmd, root, stderr=sys.stderr):
    """Run the harness with its scratch root; return its raw result.
    The root is deleted afterwards, whatever happened."""
    os.makedirs(os.path.join(root, "tmp"))
    proc = None
    try:
        proc = subprocess.Popen(cmd, stdout=stderr, stderr=stderr)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness exceeded {JVM_TIMEOUT_S}s")
        if code != 0:
            raise RuntimeError(f"harness exited with code {code}")
        with open(os.path.join(root, "result.json")) as f:
            return json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        if os.path.exists(root):
            raise RuntimeError(f"scratch root {root} survived the run")


def class_archive(classpath, k):
    """JVM flag that maps the class-data-sharing archive, recording it
    first (from a tiny untimed run) when this build has none."""
    jsa = os.path.join(build.BUILD_DIR, os.path.basename(
        classpath[0]).replace("bench-", "cds-").replace(".jar", ".jsa"))
    jsa = os.path.abspath(jsa)
    if not os.path.isfile(jsa):
        tiny = argparse.Namespace(workload=WORKLOADS[0], seed=1, seconds=1,
                                  trace=0, scale=0.1, setup_reps=1)
        root = scratch_root("cds")
        try:
            run_jvm(jvm_command(classpath, root, tiny, k,
                                f"-XX:ArchiveClassesAtExit={jsa}.tmp"),
                    root, stderr=subprocess.DEVNULL)
            os.rename(jsa + ".tmp", jsa)
        except (RuntimeError, OSError, ValueError) as e:
            print(f"perfbench: no class archive ({e})", file=sys.stderr)
            return "-Xshare:auto"
    return f"-XX:SharedArchiveFile={jsa}"


def main():
    # a terminated run still stops its JVM and deletes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny one)")
    ap.add_argument("--setup-reps", type=int, default=3)
    args = ap.parse_args()

    t0 = time.time()
    try:
        classpath, lib_digest = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    k = cores()
    cds = class_archive(classpath, k)
    build_s = time.time() - t0
    load_start, cpu_start = loadavg(), cpu_jiffies()
    root = scratch_root(args.workload)
    try:
        raw = run_jvm(jvm_command(classpath, root, args, k, cds), root)
    except (RuntimeError, OSError, ValueError) as e:
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 3
    finally:
        try:
            os.rmdir(SCRATCH)
        except OSError:
            pass
    load_end, cpu_end = loadavg(), cpu_jiffies()
    # share of CPU time the hypervisor gave to other guests during the run
    steal = (round((cpu_end[1] - cpu_start[1]) / (cpu_end[0] - cpu_start[0]), 4)
             if cpu_start and cpu_end and cpu_end[0] > cpu_start[0] else None)

    # failed checks are counted in raw["failed"] with failed operations
    correct = raw["failed"] == 0
    if args.trace:
        values = report.per_layer(raw)
        metrics = {n: {"value": v, "unit": report.per_layer_unit(n)}
                   for n, v in values.items()}
        samples = {"traced_cycles": raw["trace"]["cycles"]}
    else:
        e2e = report.end_to_end(raw)
        metrics = {n: {"value": v, "unit": u} for n, (v, u, _) in e2e.items()}
        samples = {n: c for n, (_, _, c) in e2e.items()}
        samples["values"] = {k: raw[k] for k in (
            "setup_s", "fit_s", "fit_cpu_s", "apply_s",
            "peak_storage_bytes")}
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "loop": "closed", "clients": 1, "local_cores": k, "heap": HEAP,
        "library_source_digest": lib_digest, "commit": commit(),
        "build_s": round(build_s, 3), "sizes": raw["sizes"],
        "input_hash": raw["input_hash"],
        "loadavg_start": load_start, "loadavg_end": load_end,
        "cpu_steal_share": steal,
        "samples": samples, "checks": raw["checks"],
        "metrics": {n: [m["value"], m["unit"]] for n, m in metrics.items()},
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

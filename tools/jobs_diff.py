#!/usr/bin/env python3
"""Compare the per-query Spark job counts of two `graft.Bench` summaries.

    python3 tools/jobs_diff.py BEFORE.json AFTER.json

Each file is a `BENCH_SUMMARY.json` line as `graft.Bench` writes it. The
script compares the two `jobs` maps query by query and prints one line per
query whose count differs or that only one side ran. Queries whose job
count varies run to run on unchanged code (the streaming and `inParallel`
queries in NOISY below) are reported on their own and never fail the
check. The exit status is 1 when any other query differs, is missing from
one side, or when either summary records an error; otherwise 0.

Subset-run recipe (one run per side, each from its own checkout):

    SPARK_GRAFT_ONLY=q211_knn_ivf_index,q213_knn_ivfpq_index \\
    SPARK_GRAFT_BENCH_OUT=/tmp/bench_after.json \\
    SPARK_GRAFT_MAX_LOAD=100 \\
    SPARK_GRAFT_SF_DIR=/path/to/sf0.01 \\
    sbt "runMain graft.Bench"

- `SPARK_GRAFT_ONLY` is the comma-separated list of full query names to
  run.
- `SPARK_GRAFT_BENCH_OUT` must point outside the checkout: by default the
  summary is written to `BENCH_SUMMARY.json` in the working directory,
  which overwrites the tracked file.
- `SPARK_GRAFT_MAX_LOAD` is the 1-minute loadavg ceiling `Bench` waits
  for before it starts (default 1.5, waiting up to
  `SPARK_GRAFT_LOAD_WAIT_SEC`, default 1,200 s). On a small shared host
  the default can hold a run for the whole budget; job counts do not
  depend on load, so a jobs check may raise it.
"""
import json
import sys

# Queries whose job count is not a stable fingerprint on unchanged code
# (streaming micro-batch timing and `inParallel` scheduling). q251 read
# 110, 111 or 119 at sf0.01, run alone or after the other index
# queries, with the bus drained around each query and no streaming query
# active when it began.
NOISY = ("q92", "q251", "q252", "q257")


def query_id(name):
    """`q251_streaming_admission` -> `q251`."""
    return name.split("_", 1)[0]


def load(path):
    with open(path) as f:
        return json.loads(f.read())


def diff(before, after):
    """Return (deltas, noisy, errors): lists of printable lines."""
    jb, ja = before.get("jobs", {}), after.get("jobs", {})
    deltas, noisy = [], []
    for name in sorted(set(jb) | set(ja), key=lambda n: (query_id(n), n)):
        b, a = jb.get(name), ja.get(name)
        if b == a:
            continue
        line = f"{name}: {'-' if b is None else b} -> {'-' if a is None else a}"
        (noisy if query_id(name) in NOISY else deltas).append(line)
    errors = [f"{side}: {q}: {msg}"
              for side, s in (("before", before), ("after", after))
              for q, msg in sorted(s.get("errors", {}).items())]
    return deltas, noisy, errors


def main(argv):
    if len(argv) != 3:
        print("usage: jobs_diff.py BEFORE.json AFTER.json", file=sys.stderr)
        return 2
    before, after = load(argv[1]), load(argv[2])
    deltas, noisy, errors = diff(before, after)
    shared = set(before.get("jobs", {})) & set(after.get("jobs", {}))
    total_b = sum(before["jobs"][q] for q in shared)
    total_a = sum(after["jobs"][q] for q in shared)
    print(f"{len(shared)} queries on both sides; jobs {total_b} -> {total_a}")
    for title, lines in (("DIFF", deltas), ("NOISY", noisy),
                         ("ERROR", errors)):
        for line in lines:
            print(f"{title:6} {line}")
    ok = not deltas and not errors
    print("OK: jobs maps equal apart from the noisy queries" if ok
          else f"FAIL: {len(deltas)} job deltas, {len(errors)} errors")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))

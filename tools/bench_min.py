#!/usr/bin/env python3
"""Min-of-N bench runner — the ambient-variance answer.

Single-JVM local[32] suite times swing up to +/-50% run-to-run
(SCALE.md "ambient variance"): GC pauses, page-cache state, and CPU
contention land on different queries each run. A single row therefore
cannot distinguish a real regression from noise. This runner executes
`graft.Bench` N times back-to-back and emits the PER-QUERY MINIMUM —
the best-observed time is the closest observable to the plan's true
cost, since noise only ever adds.

Usage:
    python3 tools/bench_min.py [N]
Env (forwarded to graft.Bench):
    SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS    local[...] threads (default 32)

Each underlying run appends its own full-precision line to
BENCH_FULL.jsonl (Bench does that itself); this script then appends ONE
aggregated line tagged {"agg":"min_of_N","runs":N} with the per-query
minima, total = sum of minima, and wall = sum of walls, and prints it.
A verdict reading BENCH_FULL.jsonl can trust any "agg" row as
variance-controlled and trace it to the N raw rows right above it.
"""
import json
import os
import subprocess
import sys

BENCH_FULL = "BENCH_FULL.jsonl"


def count_lines(path):
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return sum(1 for _ in f)


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    before = count_lines(BENCH_FULL)
    for i in range(n):
        print(f"[bench_min] run {i + 1}/{n} on {sf_dir}", file=sys.stderr)
        subprocess.run(
            ["sbt", "-batch", "runMain graft.Bench"],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(BENCH_FULL) as f:
        rows = [json.loads(line) for line in f][before:]
    # only this invocation's rows for this sf dir; Bench appends even on
    # partial failure, so guard the count
    rows = [r for r in rows if r.get("sf") == sf_dir]
    if len(rows) < n:
        sys.exit(f"[bench_min] expected {n} new rows for {sf_dir}, found {len(rows)}")
    # a throwing query has no timing (graft.Bench lists it under
    # "failed"); a minimum over the remaining samples would hide it
    failed = sorted({k for r in rows for k in r.get("failed", [])})
    if failed:
        sys.exit(f"[bench_min] queries failed, no minimum taken: {', '.join(failed)}")
    keys = set(rows[0]["queries"])
    for r in rows[1:]:
        if set(r["queries"]) != keys:
            sys.exit("[bench_min] query sets differ across runs — suite changed mid-measurement")
    # Since round 9 graft.Bench samples each query twice per JVM and
    # reports the WARM (second) sample in "queries" with the cold first
    # sample in "cold" (round-8 verdict #1: one-shot codegen/model costs
    # kept masquerading as regressions). The aggregated row therefore
    # carries {queries: warm_min, cold: cold_min}; regression sweeps key
    # off warm_min, cold_min is the one-shot model/codegen cost.
    mins = {k: min(r["queries"][k] for r in rows) for k in sorted(keys)}
    out = {
        "queries": mins,
        "metric": "total",
        "value": round(sum(mins.values()), 3),
        "unit": "sec",
        "n_queries": len(mins),
        "wall": round(sum(r.get("wall", 0.0) for r in rows), 3),
        "sf": sf_dir,
        "agg": f"min_of_{n}",
        "runs": n,
    }
    if all("cold" in r for r in rows):
        out["timing"] = "warm"
        out["cold"] = {k: min(r["cold"][k] for r in rows) for k in sorted(keys)}
    line = json.dumps(out, separators=(",", ":"))
    with open(BENCH_FULL, "a") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()

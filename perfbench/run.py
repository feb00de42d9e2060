#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per call, one JSON line out.

    python3 perfbench/run.py --workload survey_wave|operator_mix
        [--seed N] [--seconds S] [--trace 0|1]
    python3 perfbench/run.py --workload operator_mix --record
    python3 perfbench/selftest.py

Run from the repository root. The first call builds the engine and the
harness (perfbench/harness) with sbt; later calls reuse that build while
the sources are unchanged. Each call makes the workload's inputs from the
seed, starts one JVM straight from the built classpath (so sbt is in no
metric), which sets up, warms up and times whole passes as a closed loop
with one client, then checks every output and prints the metrics, one
per line on stderr and all of them as the last line of stdout.

--trace 0 reports the end-to-end metrics; --trace 1 reports the
per-layer metrics of a traced run, in which untraced and traced passes
alternate so that the difference of their medians is the tracing
overhead. perfbench/design.json holds each workload's design, inputs,
key sample and recorded output digests; --record samples the keys
again from its sample seed and records their digests from this tree.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import checks
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
DESIGN_PATH = os.path.join(HERE, "design.json")
HEAP = "3g"
# A run has room for a cold pass and two timed ones, and at the default
# thresholds the JIT still compiles through both timed passes (a pass's
# CPU time halves from the first to the fifth), so that they differ by
# the JIT's progress more than by the engine. Compiling after a third of
# the default invocation counts settles passes two passes sooner.
JIT_SCALE = "0.3"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 840
START = time.monotonic()
build_s = 0.0  # time this call spent building, which the run deadline excludes


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def wait(cmd, cwd, log_path, timeout):
    """Run `cmd` with its output in `log_path`; at the deadline kill it
    and everything it started."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout:.0f} s, see {log_path}")
        except BaseException:
            # interrupted or terminated: take the child's process group along
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


# ---------------------------------------------------------------- build

def build_dir():
    return os.path.join(ROOT, ".bench_build")


def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"), os.path.join(HARNESS, "src")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build(design):
    """Build once per source state; returns the JVM options and classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise BenchError("engine sources not found: run from the root of a checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    stamp = os.path.join(build_dir(), f"launch-{digest}.txt")
    if not built(stamp):
        global build_s
        t0 = time.monotonic()
        tmp = os.path.join(build_dir(), "tmp")
        os.makedirs(tmp, exist_ok=True)
        log("building the engine and the harness with sbt")
        build_log = os.path.join(build_dir(), "build.log")
        code = wait(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
                     "writeLaunch"], HARNESS, build_log, BUILD_DEADLINE_S)
        if code != 0:
            raise BenchError(f"build failed (exit {code}), see {build_log}")
        with open(os.path.join(HARNESS, "target", "launch.txt")) as fh:
            launch = [line for line in fh.read().splitlines() if line and not line.startswith("-Xmx")]
        # Class-data sharing: a short traced survey run records the classes
        # a run loads into an archive that every later benchmark JVM maps at
        # start, which takes several seconds off each cold start.
        archive = os.path.join(build_dir(), f"classes-{digest}.jsa")
        work = os.path.join(build_dir(), "work", "train")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        survey = os.path.join(ROOT, design["workloads"]["survey_wave"]["source"])
        make_wave(os.path.join(survey, "wave1.csv"), os.path.join(work, "wave.csv"), 1, 0)
        train_log = os.path.join(build_dir(), "train.log")
        code = jvm([f"-XX:ArchiveClassesAtExit={archive}"] + launch, work,
                   ["--seconds", "0", "--trace", "1", "--work", work, "--result", os.path.join(work, "result.json"),
                    "--workload", "survey_wave", "--wave", os.path.join(work, "wave.csv"), "--survey", survey],
                   train_log, BUILD_DEADLINE_S)
        if code != 0:
            raise BenchError(f"class-data sharing training run failed (exit {code}), see {train_log}")
        shutil.rmtree(work, ignore_errors=True)
        with open(stamp, "w") as fh:
            fh.write("\n".join([f"-XX:SharedArchiveFile={archive}"] + launch) + "\n")
        build_s = time.monotonic() - t0
    return built(stamp)


def built(stamp):
    """The JVM options and classpath a build recorded in `stamp`, or None
    when it or a file it names (the harness jar lives outside the build
    directory) is gone."""
    if not os.path.exists(stamp):
        return None
    with open(stamp) as fh:
        launch = fh.read().splitlines()
    files = launch[launch.index("-cp") + 1].split(os.pathsep) + [launch[0].split("=", 1)[1]]
    return launch if all(os.path.exists(f) for f in files) else None


def jvm(launch, work, args, log_path, timeout):
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", f"-XX:CompileThresholdScaling={JIT_SCALE}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + \
        launch + ["perfbench.Main"] + args
    return wait(cmd, ROOT, log_path, timeout)


# --------------------------------------------------------------- inputs

def make_wave(src, dst, copies, seed):
    """`copies` copies of the fixture wave with fresh respondent ids, in a
    seeded row order. Returns the number of respondents."""
    with open(src) as fh:
        header, *rows = fh.read().splitlines()
    if header.split(",")[0] != "resp_id":
        raise BenchError(f"{src}: first column is not resp_id")
    out = [f"R{c * len(rows) + i:08d},{r.split(',', 1)[1]}" for c in range(copies) for i, r in enumerate(rows)]
    random.Random(seed).shuffle(out)
    with open(dst, "w") as fh:
        fh.write("\n".join([header] + out) + "\n")
    return len(out)


def permute_tables(src, dst, seed):
    """The tables of `src` with their rows in a seeded order; schema, types
    and encoding stay as they are."""
    import numpy as np
    import pyarrow.parquet as pq
    os.makedirs(dst)
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, name))
        pq.write_table(t.take(rng.permutation(t.num_rows)), os.path.join(dst, name), compression="snappy")


# ------------------------------------------------------------------ run

def run(args, design, launch):
    """Make the inputs, run the JVM, check its outputs; returns the raw
    result with each wrong output marked as a failed op."""
    wl = design["workloads"][args.workload]
    bd = build_dir()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(bd, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(bd, "results"), exist_ok=True)
    result = os.path.join(bd, "results", f"{tag}.json")
    if os.path.exists(result):
        os.remove(result)

    main_args = ["--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work, "--result", result]
    if args.workload == "survey_wave":
        survey = os.path.join(ROOT, wl["source"])
        wave = os.path.join(work, "wave.csv")
        respondents = make_wave(os.path.join(survey, "wave1.csv"), wave, wl["copies"], args.seed)
        main_args += ["--workload", "survey_wave", "--wave", wave, "--survey", survey]
    else:
        data = os.path.join(work, "data")
        permute_tables(os.path.join(ROOT, wl["data"]), data, args.seed)
        main_args += ["--workload", "keys", "--data", data, "--keys", ",".join(wl["keys"])]

    remaining = RUN_DEADLINE_S - (time.monotonic() - START - build_s)
    code = jvm(launch, work, main_args, os.path.join(bd, "results", f"{tag}.log"), remaining)
    if code != 0 or not os.path.exists(result):
        raise BenchError(f"benchmark JVM failed (exit {code}), see {bd}/results/{tag}.log")
    with open(result) as fh:
        res = json.load(fh)

    # outputs are checked after the JVM has ended, so no check is timed
    check = os.path.join(work, "check")
    wrong = {}
    if args.workload == "survey_wave":
        with open(os.path.join(survey, "golden.json")) as fh:
            golden = json.load(fh)
        with open(os.path.join(survey, "mapping_config.json")) as fh:
            id_column = json.load(fh)["respondent_id"]
        for p in res["passes"]:
            problem = checks.survey_pass_diff(os.path.join(check, f"pass-{p['pass']}"), golden, wl["copies"],
                                              id_column, respondents)
            if problem:
                wrong[(p["pass"], "survey_wave")] = problem
    else:
        res["digests"] = {}
        for k in wl["keys"]:
            path = os.path.join(check, k)
            got = list(checks.output_digest(path)) if os.path.isdir(path) else None
            res["digests"][k] = got
            if not args.record and got != wl["digests"].get(k):
                for p in res["passes"]:
                    wrong[(p["pass"], k)] = f"rows/digest {got}, recorded {wl['digests'].get(k)}"
    for o in res["ops"]:
        if not o["error"] and (o["pass"], o["name"]) in wrong:
            o["error"] = "wrong output: " + wrong[(o["pass"], o["name"])]
    shutil.rmtree(work, ignore_errors=True)
    return res


def report(args, design, res):
    failed_ops = [o for o in res["ops"] if o["error"]]
    for o in failed_ops:
        log(f"FAILED pass {o['pass']} {o['name']}: {o['error']}")
    e2e, op_times = metrics.end_to_end(res)
    kinds = [p["kind"] for p in res["passes"]]
    log(f"{args.workload} seed={args.seed}: {kinds.count('timed')} timed passes after the check pass; "
        f"set-up {res['setup_s']} s from JVM start, of which {res['open_s']} s to the inputs opened")
    log(f"ops = {len(res['ops'])} count, ops_failed = {len(failed_ops)} count")
    # per-op latency percentiles are reported, not gated: at this many
    # samples a run's median op moves more between runs than a bound allows
    log(f"query_p50_s = {metrics.median(op_times):.6f} s over {len(op_times)} ops")
    p90 = metrics.p90_supported(op_times)
    log(f"query_p90_s = {p90:.6f} s over {len(op_times)} ops" if p90 is not None else
        f"query_p90_s absent: {len(op_times)} op samples leave fewer than 10 beyond the 90th percentile")
    if args.trace == 0:
        out = e2e
    else:
        out = metrics.per_layer(res, design["survey_tables"], design["families"])
        for name, why in design["not_measured"].get(args.workload, {}).items():
            log(f"{name} reads 0 here: {why}")
    for k, (v, unit) in out.items():
        log(f"{k} = {v:.6f} {unit}")
    return {"correct": not failed_ops, "attempted": len(res["ops"]), "failed": len(failed_ops),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}


def record(args, design, launch):
    """Sample operator_mix's keys from the sample seed, the same number
    from every Queries* family, and record their digests from this tree."""
    wl = design["workloads"][args.workload]
    fam_log = os.path.join(build_dir(), "families.json")
    if jvm(launch, build_dir(), ["--mode", "families"], fam_log, RUN_DEADLINE_S) != 0:
        raise BenchError(f"listing the key families failed, see {fam_log}")
    with open(fam_log) as fh:
        families = json.loads(fh.read().strip().splitlines()[-1])
    rng = random.Random(wl["sample_seed"])
    wl["keys"] = sorted(k for f in sorted(families) for k in rng.sample(families[f], wl["keys_per_family"]))
    design["families"] = sorted(families)
    res = run(args, design, launch)
    wl["digests"] = res["digests"]
    errors = {o["name"]: o["error"] for o in res["ops"] if o["error"]}
    if errors or any(d is None for d in wl["digests"].values()):
        raise BenchError(f"not recorded, some keys failed: {errors}")
    with open(DESIGN_PATH, "w") as fh:
        json.dump(design, fh, indent=1)
        fh.write("\n")
    log(f"recorded {len(wl['keys'])} keys and their digests in {DESIGN_PATH}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    try:
        with open(DESIGN_PATH) as fh:
            design = json.load(fh)
        if args.workload not in design["workloads"]:
            raise BenchError(f"--workload must be one of {sorted(design['workloads'])}")
        if args.record and "sample_seed" not in design["workloads"][args.workload]:
            raise BenchError("--record applies to a workload of sampled keys")
        if args.seed is None:
            args.seed = design["default_seed"]
        launch = build(design)
        if args.record:
            record(args, design, launch)
            return 0
        print(json.dumps(report(args, design, run(args, design, launch))))
        return 0
    except BenchError as e:
        log(f"error: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())

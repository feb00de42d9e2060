"""Metric arithmetic over the raw measurements the benchmark JVM writes."""
import math
import statistics

CORES = 4
LAYERS = ("io.open", "io.sink", "pipeline.build", "query.build", "query.action")


def median(values):
    return statistics.median(values) if values else 0.0


def p90_supported(values):
    """The 90th percentile (nearest rank), or None when fewer than ten
    samples lie beyond it."""
    n = len(values)
    rank = math.ceil(0.9 * n)
    if n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def clean_timed(res, traced):
    """Timed passes of one kind in which no op failed."""
    bad = {o["pass"] for o in res["ops"] if o["error"]}
    return [p for p in res["passes"] if p["kind"] == "timed" and p["traced"] == traced and p["pass"] not in bad]


def best(values):
    return min(values) if values else 0.0


def end_to_end(res):
    """The end-to-end metrics, and the op latencies of the untraced timed
    passes. Set-up is one figure per run, from JVM start to the start of
    the first timed pass. A pass's time, CPU and heap are taken at their
    best over the timed passes, as the repo's min-of-N bench does: passes
    still speed up while the JIT settles, and other tenants of the machine
    only add time."""
    timed = clean_timed(res, traced=False)
    passes = {p["pass"] for p in timed}
    op_times = [o["seconds"] for o in res["ops"] if o["pass"] in passes]
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (best([p["seconds"] for p in timed]), "s"),
        "cpu_s": (best([p["cpu_s"] for p in timed]), "s"),
        "heap_peak_mb": (best([p["heap_peak_mb"] for p in timed]), "MB"),
    }, op_times


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name == "spark.core_util" else "count"


def busy_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total, last = 0.0, None
    for a, b in sorted(intervals):
        if last is None or a > last:
            total += b - a
            last = b
        elif b > last:
            total += b - last
            last = b
    return total


def per_layer(res, tables, families):
    """Per-layer metrics: for each traced pass the totals of its spans,
    jobs, stages and Catalyst phases, then the median over those passes.
    `tables` and `families` name the table.<t>_s and family.<f>_s metrics."""
    spans = {s[0]: dict(zip(("id", "parent", "name", "pass", "op", "start", "end"), s)) for s in res["spans"]}
    jobs = [dict(zip(("span", "pass", "site", "start", "end"), j)) for j in res["jobs"]]
    stages = [dict(zip(("span", "shuffle", "tasks", "run_ms", "cpu_ns", "gc_ms", "read_b", "write_b",
                        "spill_b", "out_b"), s)) for s in res["stages"]]
    traced = clean_timed(res, traced=True)
    untraced = clean_timed(res, traced=False)

    def layer(span_id):
        while span_id in spans:
            if spans[span_id]["name"] in LAYERS:
                return spans[span_id]["name"]
            span_id = spans[span_id]["parent"]
        return None

    per_pass = []
    # with no clean traced pass every metric reads 0 rather than going missing
    for p in traced or [{"pass": None, "seconds": 0.0}]:
        n = p["pass"]
        ps = [s for s in spans.values() if s["pass"] == n]
        js = [dict(j, layer=layer(j["span"])) for j in jobs if j["pass"] == n and j["end"] >= j["start"]]
        st = [dict(s, layer=layer(s["span"])) for s in stages if spans.get(s["span"], {}).get("pass") == n]
        ops = [o for o in res["ops"] if o["pass"] == n]

        def span_s(name):
            return sum(s["end"] - s["start"] for s in ps if s["name"] == name) / 1000

        # jobs the engine's table readers start inside a query's
        # construction (schema inference, file listing) belong to io.open
        opens = [j for j in js if j["layer"] == "io.open" or "at Sources.scala" in j["site"]]
        inner_open_s = sum(j["end"] - j["start"] for j in opens if j["layer"] != "io.open") / 1000
        task_s = sum(s["run_ms"] for s in st) / 1000
        m = {
            "io.open_s": span_s("io.open") + inner_open_s,
            "io.open_jobs": len(opens),
            "io.sink_s": span_s("io.sink"),
            "io.bytes_written_mb": sum(s["out_b"] for s in st if s["layer"] == "io.sink") / 2**20,
            "pipeline.build_s": span_s("pipeline.build"),
            "pipeline.build_jobs": sum(1 for j in js if j["layer"] == "pipeline.build"),
            "pipeline.cache_mb": res["info"].get("pipeline_cache_mb", 0.0),
            "query.build_s": span_s("query.build"),
            "query.build_jobs": sum(1 for j in js if j["layer"] == "query.build"),
            "query.action_s": span_s("query.action"),
            "catalyst.analysis_s": sum(x[1] for x in res["phases"] if x[0] == n) / 1000,
            "catalyst.optimization_s": sum(x[2] for x in res["phases"] if x[0] == n) / 1000,
            "catalyst.planning_s": sum(x[3] for x in res["phases"] if x[0] == n) / 1000,
            "spark.jobs": len(js),
            "spark.stages": len(st),
            "spark.shuffle_stages": sum(1 for s in st if s["shuffle"]),
            "spark.tasks": sum(s["tasks"] for s in st),
            "spark.outside_jobs_s": max(0.0, p["seconds"] - busy_ms([(j["start"], j["end"]) for j in js]) / 1000),
            "spark.task_s": task_s,
            "spark.task_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "spark.gc_s": sum(s["gc_ms"] for s in st) / 1000,
            "spark.shuffle_read_mb": sum(s["read_b"] for s in st) / 2**20,
            "spark.shuffle_write_mb": sum(s["write_b"] for s in st) / 2**20,
            "spark.spill_mb": sum(s["spill_b"] for s in st) / 2**20,
            "spark.core_util": task_s / (p["seconds"] * CORES) if p["seconds"] else 0.0,
        }
        m.update({f"table.{t}_s": span_s(f"table.{t}") for t in tables})
        m.update({f"family.{f}_s": sum(o["seconds"] for o in ops if o["family"] == f) for f in families})
        per_pass.append(m)
    out = {k: (median([m[k] for m in per_pass]), _unit(k)) for k in per_pass[0]}
    out["trace.overhead_s"] = (median([p["seconds"] for p in traced]) - median([p["seconds"] for p in untraced]), "s")
    return out

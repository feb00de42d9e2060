#!/usr/bin/env python3
"""Self-tests of the benchmark's arithmetic. No build or JVM needed:

    python3 perfbench/selftest.py
"""
import random
import sys

import checks
import metrics


def main():
    failures = []

    def expect(what, ok):
        print(f"[selftest] {'ok  ' if ok else 'FAIL'} {what}")
        if not ok:
            failures.append(what)

    # the percentile rule: a p90 needs at least ten samples beyond it
    expect("p90 absent at 99 samples (9 beyond)", metrics.p90_supported(list(range(99))) is None)
    expect("p90 present at 100 samples (10 beyond)", metrics.p90_supported(list(range(100))) == 89)
    expect("p90 at 200 samples is the 180th value", metrics.p90_supported(list(range(200))[::-1]) == 179)
    expect("p90 absent with no samples", metrics.p90_supported([]) is None)

    # the digest does not depend on row order, and sees every change
    cols = [("k", "string"), ("v", "double"), ("xs", "list<item: int64>")]
    rows = [{"k": f"k{i % 7}", "v": i * 0.1, "xs": [i, 2 * i]} for i in range(50)]
    shuffled = random.Random(3).sample(rows, len(rows))
    base = checks.digest(cols, rows)
    expect("digest does not depend on row order", base == checks.digest(cols, shuffled))
    changed = [dict(r) for r in rows]
    changed[5]["v"] = 0.5000000000000001
    expect("digest sees the last bit of a double", base != checks.digest(cols, changed))
    expect("digest sees a duplicated row", base != checks.digest(cols, rows + rows[:1]))
    expect("digest sees a null", base != checks.digest(cols, rows[:-1] + [dict(rows[-1], k=None)]))
    expect("digest sees the schema", base != checks.digest([("j", "string")] + cols[1:], [
        {"j": r["k"], "v": r["v"], "xs": r["xs"]} for r in rows]))

    # golden tables scaled to k copies of the wave
    k = 3
    g = {
        "awareness_tom": [{"brand": "A", "count": 4}],
        "nps_summary": [{"metric": "nps", "value": -11.5}, {"metric": "n", "value": 40.0}],
        "crosstab_row": [{"region": "East", "__type__": "count", "Male": 2.2, "Total": 4.4},
                         {"region": "East", "__type__": "%_row", "Male": 50.0, "Total": 100.0}],
        "multi_tab_total": [{"region": "East", "count": 1.2, "pct": 0.3}],
        "brand_dictionary": [{"group": "TOM", "brand": "A"}],
        "tabulation": [{"column": "id", "value": "R1", "count": 1}, {"column": "age", "value": "30", "count": 2}],
    }
    exp = {n: checks.scaled_golden(n, t, k, "id") for n, t in g.items()}
    expect("golden x k: counts scale", exp["awareness_tom"] == [{"brand": "A", "count": 12}])
    expect("golden x k: NPS stays, its n scales",
           exp["nps_summary"] == [{"metric": "nps", "value": -11.5}, {"metric": "n", "value": 120.0}])
    expect("golden x k: crosstab counts scale, percentages stay", exp["crosstab_row"] == [
        {"region": "East", "__type__": "count", "Male": 2.2 * k, "Total": 4.4 * k},
        {"region": "East", "__type__": "%_row", "Male": 50.0, "Total": 100.0}])
    expect("golden x k: multi-dim count scales, pct stays",
           exp["multi_tab_total"] == [{"region": "East", "count": 1.2 * k, "pct": 0.3}])
    expect("golden x k: brand dictionary stays", exp["brand_dictionary"] == g["brand_dictionary"])
    expect("golden x k: id rows leave the tabulation",
           exp["tabulation"] == [{"column": "age", "value": "30", "count": 6}])
    ids = [{"column": "id", "value": f"R{i}", "count": 1} for i in range(6)]
    expect("id rows: one per respondent", checks.id_rows_ok(ids, 6))
    expect("id rows: a respondent counted twice fails", not checks.id_rows_ok(ids[:5] + [dict(ids[5], count=2)], 6))
    expect("id rows: a repeated id fails", not checks.id_rows_ok(ids[:5] + [ids[0]], 6))
    expect("table diff: rows in any order",
           checks.table_diff("t", [{"a": "x", "c": 2}, {"a": "y", "c": 1}], [{"a": "y", "c": 1}, {"a": "x", "c": 2}]) is None)
    expect("table diff: last-bit sums match",
           checks.table_diff("t", [{"c": 13880.000000000002}], [{"c": 13880.0}]) is None)
    expect("table diff: a wrong count fails", checks.table_diff("t", [{"c": 13881.0}], [{"c": 13880.0}]) is not None)
    expect("table diff: a missing row fails", checks.table_diff("t", [{"c": 1}], [{"c": 1}, {"c": 2}]) is not None)

    expect("busy time is the union of job intervals", metrics.busy_ms([(0, 10), (5, 15), (20, 30), (22, 25)]) == 25)

    if failures:
        print(f"[selftest] {len(failures)} failed")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

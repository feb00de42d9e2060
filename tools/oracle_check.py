#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [--timeout=S]

For each query dir under verifyOutDir: load the Spark parquet result,
run the matching oracle SQL from oracle_sql.json in DuckDB (tables =
<sfDir>/*.parquet registered as views by name), sort columns by name,
sort rows canonically, compare cell-by-cell. Exact match required
(floats compared bitwise, like a hash would).

With --timeout=S each DuckDB replay gets S seconds; a key that runs out
is re-run once after the pass, on a fresh connection, at 10 x S, and is
reported ORACLE-TIMEOUT only if it runs out again. The "RE-RUN" line
names the keys re-run.
"""
import json
import os
import sys

import duckdb


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    return df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def connect(sf_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        # driver sf dirs hold one file per table; Spark-written scaled
        # dirs (tools/MakeScaled) hold a directory of part files
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


TIMEOUT = "ORACLE-TIMEOUT"
# a key that times out in the pass is re-run once at this many times the
# budget, so the gate reads every key whose replay can finish at all
RERUN_FACTOR = 10


def check(con, out_dir, name, sql, timeout_s):
    """Compare one key: (result string, whether the watchdog fired)."""
    import threading
    fired = threading.Event()
    try:
        spark_df = con.sql(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        # optional per-query budget: an oracle REPLAY that cannot
        # finish in budget is reported as its own class (the engine
        # result is still on disk) rather than stalling the gate
        timer = None
        if timeout_s:
            def watchdog(c=con, f=fired):
                f.set()  # set BEFORE interrupt so the race is visible
                c.interrupt()
            timer = threading.Timer(timeout_s, watchdog)
            timer.start()
        try:
            duck_df = con.sql(sql).df()
        finally:
            if timer:
                # cancel + join: after this the watchdog either ran
                # to completion (fired is set) or never will
                timer.cancel()
                timer.join()
        s, d = canon(spark_df), canon(duck_df)
        if list(s.columns) != list(d.columns):
            return f"SCHEMA spark={list(s.columns)} duck={list(d.columns)}", fired.is_set()
        if len(s) != len(d):
            return f"ROWS spark={len(s)} duck={len(d)}", fired.is_set()
        sv, dv = s.values, d.values
        bad = None
        for i in range(len(s)):
            for j in range(len(s.columns)):
                a, b = sv[i][j], dv[i][j]
                if a != b and not (a != a and b != b):  # NaN==NaN ok
                    bad = (i, s.columns[j], a, b)
                    break
            if bad:
                break
        result = "OK" if not bad else f"CELL row={bad[0]} col={bad[1]} spark={bad[2]!r} duck={bad[3]!r}"
    except KeyboardInterrupt:
        # duckdb surfaces con.interrupt() as KeyboardInterrupt
        result = f"{TIMEOUT} >{timeout_s}s (DuckDB replay, not the engine)"
    except Exception as e:
        if "INTERRUPT" in f"{type(e).__name__} {e}".upper():
            result = f"{TIMEOUT} >{timeout_s}s (DuckDB replay, not the engine)"
        else:
            result = f"ERROR {type(e).__name__}: {e}"
    return result, fired.is_set()


def main(sf_dir, out_dir, timeout_s=0):
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracle.items()):
        results[name], fired = check(con, out_dir, name, sql, timeout_s)
        if fired:
            # a fired interrupt (whether it aborted the query or landed
            # after completion) may leave stale state on the connection;
            # rebuild so the next query cannot be misreported as timeout
            con = connect(sf_dir)
        # progress line per query (stderr, unbuffered enough for tail -f;
        # the PASS/FAIL summary below stays the parseable contract)
        print(f"[check] {name}: {results[name][:80]}", file=sys.stderr, flush=True)
    timed_out = [n for n, v in sorted(results.items()) if v.startswith(TIMEOUT)]
    if timed_out:
        # one more try per key on a fresh connection at the larger
        # budget; a key stays ORACLE-TIMEOUT only if it times out again
        rerun_s = RERUN_FACTOR * timeout_s
        print(f"RE-RUN at {rerun_s}s: {' '.join(timed_out)}")
        for name in timed_out:
            results[name], _ = check(connect(sf_dir), out_dir, name, oracle[name], rerun_s)
            print(f"[check] re-run {name}: {results[name][:80]}", file=sys.stderr, flush=True)
    ok = sum(1 for v in results.values() if v == "OK")
    for name, v in results.items():
        print(("PASS " if v == "OK" else "FAIL ") + name + ("" if v == "OK" else "  " + v[:300]))
    print(f"\n{ok}/{len(results)} oracle queries match")
    # rows-only queries (no oracle): report row counts
    for d in sorted(os.listdir(out_dir)):
        if d not in oracle and os.path.isdir(f"{out_dir}/{d}"):
            n = con.sql(f"SELECT count(*) FROM '{out_dir}/{d}/*.parquet'").fetchone()[0]
            print(f"ROWS-ONLY {d}: {n} rows")


if __name__ == "__main__":
    tmo = 0
    args = [a for a in sys.argv[1:] if not a.startswith("--timeout=")]
    for a in sys.argv[1:]:
        if a.startswith("--timeout="):
            tmo = int(a.split("=")[1])
    main(args[0], args[1], tmo)

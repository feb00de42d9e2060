"""Output checks: the survey tables against the fixture's golden tables
scaled to k copies, and query outputs against recorded digests."""
import datetime
import decimal
import hashlib
import math
import os

# nps_summary / satisfaction_summary metrics that are counts
SCALED_METRICS = {"n", "promoters", "passives", "detractors"}


def _num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def scaled_golden(name, rows, k, id_column):
    """Golden rows of table `name` for a wave of k copies of the fixture
    with fresh respondent ids: counts and weighted counts scale by k;
    percentages, means, NPS and the brand dictionary do not. Tabulation
    rows of the id column are left out; `id_rows_ok` checks them."""
    out = []
    for r in rows:
        r = dict(r)
        if name == "tabulation" and r["column"] == id_column:
            continue
        if name.startswith("crosstab_"):
            if r["__type__"] == "count":
                r = {c: (v * k if _num(v) and c not in ("region", "__type__") else v) for c, v in r.items()}
        elif name in ("satisfaction_summary", "nps_summary"):
            if r["metric"] in SCALED_METRICS:
                r["value"] = r["value"] * k
        elif "count" in r:
            r["count"] = r["count"] * k
        out.append(r)
    return out


def id_rows_ok(rows, respondents):
    """One tabulation row per respondent id, each counted once."""
    return (len(rows) == respondents and all(r["count"] == 1 for r in rows)
            and len({r["value"] for r in rows}) == respondents)


def _canon(v):
    if v is None:
        return "\\N"
    if _num(v):
        return repr(float(round(v * 1e6) / 1e6))
    return str(v)


def _close(a, b):
    if _num(a) and _num(b):
        return abs(a - b) <= 1e-6 * max(1.0, abs(b))
    return _canon(a) == _canon(b)


def table_diff(name, got, exp):
    """None when `got` and `exp` hold the same rows in any order, else the
    first difference. Numbers match within 1e-6 relative: summing k copies
    in another order moves the last bits."""
    if len(got) != len(exp):
        return f"{name}: {len(got)} rows, expected {len(exp)}"
    key = lambda r: "|".join(f"{c}={_canon(v)}" for c, v in sorted(r.items()))
    for g, e in zip(sorted(got, key=key), sorted(exp, key=key)):
        if g.keys() != e.keys() or any(not _close(g[c], v) for c, v in e.items()):
            return f"{name}: got {key(g)}, expected {key(e)}"
    return None


def survey_pass_diff(out_dir, golden, k, id_column, respondents):
    """First problem with one pass's written survey tables, or None."""
    import pyarrow.parquet as pq
    for name in sorted(golden):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            return f"{name}: not written"
        got = pq.read_table(path).to_pylist()
        ids = [r for r in got if name == "tabulation" and r["column"] == id_column]
        rest = [r for r in got if not (name == "tabulation" and r["column"] == id_column)]
        problem = table_diff(name, rest, scaled_golden(name, golden[name], k, id_column))
        if problem is None and name == "tabulation" and not id_rows_ok(ids, respondents):
            problem = f"tabulation: {id_column} rows are not one per respondent"
        if problem:
            return problem
    return None


def _cell(v):
    """Canonical text of one value: exact for floats, recursive for lists
    and structs."""
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dict):
        return "{" + "\x01".join(f"{k}={_cell(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + "\x01".join(_cell(x) for x in v) + "]"
    return str(v)


def _hash64(s):
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")


def digest(columns, rows):
    """Order-insensitive digest of a query output: the schema's hash and
    the sum mod 2^64 of one 64-bit hash per row, so any order of the same
    rows gives the same digest and any changed bit a different one."""
    total = sum(_hash64("\x02".join(_cell(r[c]) for c, _ in columns)) for r in rows) % 2**64
    schema = ",".join(f"{c}:{t}" for c, t in columns)
    return f"{_hash64(schema):016x}-{total:016x}"


def output_digest(path):
    """(rows, digest) of a parquet output directory."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    return t.num_rows, digest([(f.name, str(f.type)) for f in t.schema], t.to_pylist())

"""Output checks: canonical result hashes, compared with expected.json.

`canon` is the canonicalization of tools/localverify.py (the repo's
DuckDB oracle gate), copied so the benchmark checks results exactly as
that gate does: columns sorted by name, cells rendered (floats rounded
to 4 places, NULL/NaN as "NULL"), rows sorted, SHA-256 over the lines.
"""
import glob
import hashlib

import duckdb


def canon(df):
    # pandas frame -> canonical text: columns sorted by name, rows sorted
    df = df[sorted(df.columns)]

    def cell(v):
        if v is None or v != v:
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 4))
        return str(v)
    rows = ["\t".join(cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest(), len(rows)


def schema(df):
    """Sorted (column, pandas dtype) pairs, as localverify compares them."""
    return sorted([c, str(t)] for c, t in zip(df.columns, df.dtypes))


def describe_parquet(con, path):
    """(hash, rows, schema) of a Spark-written parquet directory."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    df = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    h, n = canon(df)
    return h, n, schema(df)


def matches(got, want):
    """`got` = (hash, rows, schema). Queries with an oracle compare the
    hash; the oracle-less sketch queries compare the pinned row count."""
    h, n, s = got
    if s != want["schema"]:
        return False
    if "hash" in want:
        return h == want["hash"] and n == want["rows"]
    return n == want["rows"]


def check_ops(ops, expected):
    """Mark each batch op `failed` if it threw or its output differs
    from expected.json; returns the number failed."""
    con = duckdb.connect()
    failed = 0
    for o in ops:
        bad = "error" in o
        if not bad and "result" in o:
            want = expected.get(o["query"])
            bad = want is None or not matches(describe_parquet(con, o["result"]), want)
        o["failed"] = bad
        failed += bad
    con.close()
    return failed

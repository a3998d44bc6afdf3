"""Output check: compare each query's Spark output with the DuckDB result
of its oracle SQL over the same input directory.

A result's fingerprint is order-insensitive: its row count plus an md5 of
its canonical rows. Canonical rows put the columns in name order, format
every fractional value to 6 places (integral decimals stay exact
integers), and sort the rows.
"""
import decimal
import glob
import hashlib
import os

import duckdb

from gen import TABLES


def canon_value(v):
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        # a scale-0 decimal pairs with a BIGINT; any fractional scale pairs
        # with a DOUBLE, even when the value is integral
        return str(int(v)) if v.as_tuple().exponent >= 0 else f"{float(v):.6f}"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def canon(cols, rows):
    """(sorted lower-case column names, sorted canonical rows)."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return ([names[i] for i in order],
            sorted(tuple(canon_value(r[i]) for i in order) for r in rows))


def fingerprint(cols, rows):
    names, out = canon(cols, rows)
    return {"columns": names, "rows": len(out),
            "md5": hashlib.md5(repr(out).encode()).hexdigest()}


def _fetch(rel):
    return rel.columns, rel.fetchall()


def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, t + ".parquet")
        if os.path.isdir(path):  # an expanded table: one file per copy
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_fingerprints(data_dir, oracle_sql, queries):
    """{query: fingerprint of its oracle SQL over `data_dir`, or the
    reason there is none (a string)}."""
    con = _connect(data_dir)
    out = {}
    for q in queries:
        if q not in oracle_sql:
            out[q] = "no oracle SQL"
            continue
        try:
            out[q] = fingerprint(*_fetch(con.sql(oracle_sql[q])))
        except duckdb.Error as e:
            out[q] = f"oracle: {str(e)[:300]}"
    con.close()
    return out


def compare(result_dir, oracle, queries):
    """{query: None if its Spark output under `result_dir` matches the
    oracle fingerprint, else the reason}."""
    con = duckdb.connect()
    out = {}
    for q in queries:
        files = glob.glob(os.path.join(result_dir, q, "*.parquet"))
        if isinstance(oracle[q], str):
            out[q] = oracle[q]
        elif not files:
            out[q] = "no Spark output"
        else:
            spark = fingerprint(*_fetch(con.sql(
                f"SELECT * FROM read_parquet({files!r})")))
            out[q] = None if spark == oracle[q] else (
                f"spark {spark} != oracle {oracle[q]}")
    con.close()
    return out

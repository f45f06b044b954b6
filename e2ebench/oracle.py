"""Result hashing for the query_mix correctness check.

The normalization is the one tools/check_oracle.py applies to Spark and
DuckDB results: columns sorted by name, floats to 9 significant digits,
rows sorted, then md5 over the joined rows. `fingerprint` also records
the row count and each column's pandas dtype kind, which that tool
compares too.
"""
import hashlib

import duckdb


def canon(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c]
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return hashlib.md5("\n".join(out).encode()).hexdigest()


def fingerprint(df):
    cols = sorted(df.columns)
    kinds = {c: "i" if df[c].dtype.kind == "u" else df[c].dtype.kind for c in cols}
    return {"rows": len(df), "cols": cols, "kinds": kinds,
            "hash": canon(df.to_dict("records"), cols)}


def parquet_fingerprint(path):
    con = duckdb.connect()
    try:
        return fingerprint(con.sql(f"SELECT * FROM '{path}/*.parquet'").df())
    finally:
        con.close()

"""Order-independent comparison of stage outputs with their DuckDB oracles.

Each altimetry stage of a checked pass writes its output as parquet.
The oracle is the stage's `SparkEntry.oracleSql` query, run in DuckDB
over the same generated tables.  Both sides reduce to a row count and
a sum of per-row hashes over the columns in name order; numbers are
hashed as DOUBLE (with -0.0 folded into 0.0), everything else as text.
"""
import glob
import os


def _digest(con, relation):
    cols = con.sql(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    names = sorted(c[0] for c in cols)
    types = {c[0]: c[1] for c in cols}
    numeric = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT", "DOUBLE",
               "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")

    def norm(c):
        q = f'"{c}"'
        t = types[c]
        if t in numeric or t.startswith("DECIMAL"):
            return f"(CAST({q} AS DOUBLE) + 0.0)"
        return f"CAST({q} AS VARCHAR)"
    h = f"hash({', '.join(norm(c) for c in names)})" if names else "0"
    n, s = con.sql(f"SELECT count(*), coalesce(sum({h}::HUGEINT), 0) FROM {relation}").fetchone()
    return names, int(n), int(s)


def check(checks, data_dir, threads=2):
    """One result per check: {"name", "ok", "rows", "note"}."""
    if not checks:
        return []
    import duckdb
    con = duckdb.connect()
    con.sql(f"SET threads = {threads}")
    for table in ("events", "lineitem"):
        files = os.path.join(data_dir, f"{table}.parquet", "*.parquet")
        if glob.glob(files):
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{files}')")
    out = []
    for c in checks:
        try:
            got = _digest(con, f"read_parquet('{os.path.join(c['output'], '*.parquet')}')")
            want = _digest(con, f"({c['sql']})")
            ok = got == want
            note = "" if ok else f"spark cols/rows/hash {got[0]}/{got[1]}/{got[2]}, oracle {want[0]}/{want[1]}/{want[2]}"
            out.append({"name": c["name"], "ok": ok, "rows": got[1], "note": note})
        except Exception as e:  # a stage with no output or an oracle error fails the check
            out.append({"name": c["name"], "ok": False, "rows": 0, "note": str(e)[:300]})
    con.close()
    return out

"""Output check: each dump the harness wrote must equal its DuckDB oracle.

The rules are the engine's correctness gate's (tools/compare.py): the
column names must match as sets, the types must match exactly (DuckDB's
parquet reader names a FLOAT `REAL`), and the rows must be equal in order,
value for value, with NaN equal to NaN.
"""
import math

import duckdb

TABLES = ("customer", "part", "documents", "embeddings")
FLOAT_TYPES = {"FLOAT", "DOUBLE", "REAL"}


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _canon(t):
    t = str(t).upper()
    return "FLOAT" if t == "REAL" else t


def _sql_list(paths):
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def compare(con, check):
    """None when the check passes, else the reason it fails."""
    drop = check.get("drop") or []
    excl = f" EXCLUDE ({', '.join(drop)})" if drop else ""
    where = f" WHERE {check['where']}" if check.get("where") else ""
    spark_sql = f"SELECT *{excl} FROM read_parquet('{check['dump']}/*.parquet'){where}"
    try:
        srel = con.sql(spark_sql)
        snames = list(srel.columns)
        stypes = {c: _canon(t) for c, t in zip(srel.columns, srel.types)}
        srows = srel.fetchall()
    except Exception as e:
        return f"cannot read output: {str(e)[:200]}"
    try:
        orel = con.sql(check["oracle"])
        onames = list(orel.columns)
        otypes = {c: _canon(t) for c, t in zip(orel.columns, orel.types)}
        orows = orel.fetchall()
    except Exception as e:
        return f"oracle error: {str(e)[:200]}"
    if sorted(snames) != sorted(onames):
        return f"columns differ: spark={sorted(snames)} oracle={sorted(onames)}"
    bad = [(c, stypes[c], otypes[c]) for c in sorted(snames) if stypes[c] != otypes[c]]
    if bad:
        return "type mismatch: " + ", ".join(f"{c}: spark={s} oracle={o}" for c, s, o in bad)
    if len(srows) != len(orows):
        return f"rows spark={len(srows)} oracle={len(orows)}"
    cols = sorted(snames)
    sp = [snames.index(c) for c in cols]
    op = [onames.index(c) for c in cols]
    for i, (a, b) in enumerate(zip(srows, orows)):
        ga = tuple(_norm(a[j]) for j in sp)
        gb = tuple(_norm(b[j]) for j in op)
        if ga != gb:
            return f"row {i} differs: spark={ga} oracle={gb}"
    return None


def run_checks(checks, data_dir):
    """Runs every check; returns {name: (op, passed, reason)}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    out = {}
    for c in checks:
        docs = c.get("documents") or []
        if docs:
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                        f"read_parquet({_sql_list(docs)})")
        reason = compare(con, c)
        if docs:
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{data_dir}/documents.parquet/*.parquet')")
        out[c["name"]] = (c["op"], reason is None, reason)
    con.close()
    return out

"""Output check for the query workloads.

Each query's check-pass output (one parquet directory per query) is
compared with its DuckDB oracle SQL from `SparkEntry.oracleSql`, run over
the same generated tables: same columns, same value types up to integer
width, same number of rows, and the same rows once both sides are put in
a canonical form (columns by name, values as strings, rows sorted).
A query without an oracle is rows-only: its output must be non-empty.
"""
import glob
import math
import os

import duckdb


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(v))
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def _int_norm(t):
    return "INT" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT") else t


def compare(con, res_dir, sql):
    """None when the output at res_dir matches the oracle, else a reason."""
    files = glob.glob(os.path.join(res_dir, "*.parquet"))
    if not files:
        return "no output"
    got = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'")
    gcols, gtypes = list(got.columns), [str(t) for t in got.types]
    grows = got.fetchall()
    if sql is None:
        return None if grows else "rows-only query returned no rows"
    exp = con.sql(sql)
    ecols, etypes = list(exp.columns), [str(t) for t in exp.types]
    erows = exp.fetchall()
    if sorted(gcols) != sorted(ecols):
        return f"columns {sorted(gcols)} vs oracle {sorted(ecols)}"
    gt, et = dict(zip(gcols, gtypes)), dict(zip(ecols, etypes))
    bad = {c: (gt[c], et[c]) for c in gcols if _int_norm(gt[c]) != _int_norm(et[c])}
    if bad:
        return f"types differ {bad}"
    if len(grows) != len(erows):
        return f"{len(grows)} rows vs oracle {len(erows)}"
    g, e = canon(grows, gcols), canon(erows, ecols)
    if g != e:
        diff = next((a, b) for a, b in zip(g, e) if a != b)
        return f"value mismatch, e.g. {diff}"
    return None


def check(data_dir, out_dir, oracle, relocated):
    """{query: reason} for every query whose output is wrong. `relocated`
    maps input directories baked into the oracle SQL to the generated
    ones the harness pointed the queries at."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures = {}
    for name, sql in sorted(oracle.items()):
        if sql is not None:
            for old, new in relocated.items():
                sql = sql.replace(old, new)
        try:
            why = compare(con, os.path.join(out_dir, name), sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"check error: {str(e)[:200]}"
        if why:
            failures[name] = why
    con.close()
    return failures

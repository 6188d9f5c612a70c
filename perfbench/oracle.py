"""Compares query outputs against their DuckDB oracle SQL.

The comparison rules are those of the repository's tools/oracle_check.py:
the same column-name set, the same DuckDB-level column types, the same row
count, and equal values after sorting columns by name and rows by every
column.
"""
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check(out_dir, wrong_expectation=False):
    """Returns {query: None if it matches its oracle, else the reason}."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import TABLES, compare, type_key
    spec = json.load(open(os.path.join(out_dir, "oracle.json")))
    results = {}
    cons = {}
    for name, q in sorted(spec.items()):
        con = cons.get(q["dir"])
        if con is None:
            con = cons[q["dir"]] = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{q['dir']}/{t}.parquet'")
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            results[name] = "no output"
            continue
        src = f"read_parquet({files!r})"
        try:
            got = con.sql(f"SELECT * FROM {src}").df()
            exp = con.sql(q["sql"]).df()
            gt = {r[0]: r[1] for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()}
            et = {r[0]: r[1] for r in con.sql(f"DESCRIBE {q['sql']}").fetchall()}
        except Exception as e:  # an oracle or output that cannot be read
            results[name] = f"query error: {e}"
            continue
        if wrong_expectation and name == "q1_agg":
            exp = exp.iloc[1:]
        skew = [c for c in sorted(set(gt) | set(et)) if type_key(gt.get(c)) != type_key(et.get(c))]
        if skew:
            results[name] = "type skew: " + ", ".join(f"{c} {gt.get(c)} vs {et.get(c)}" for c in skew)
            continue
        ok, msg = compare(got, exp)
        results[name] = None if ok else msg
    return results

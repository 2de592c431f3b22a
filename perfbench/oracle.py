"""Output check for query workloads: each query's result, as the harness
wrote it during the warm pass, against the engine's DuckDB oracle SQL
(`graft.SparkEntry.oracleSql`) run over the same generated inputs.

The comparison is the engine's own oracle gate (`tools/check.py`):
columns sorted by name, rows normalised and sorted, then compared by
value. Each side also gets a row count and an order-insensitive digest
(sha256 over the canonical rows), which the run record keeps.
"""
import decimal
import glob
import hashlib
import math
import os

import duckdb


def _norm(v):
    # tools/check.py's normalisation: rows then compare with ==
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _canon(v):
    # digest form: values that compare equal under _norm hash alike
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return int(v) if v.is_integer() and abs(v) < 2**53 else v
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, int):
        return v
    return str(v)


def sorted_rows(con, rel):
    cols = sorted(rel.columns)
    select = ", ".join('"%s"' % c for c in cols)
    rows = [tuple(_norm(x) for x in r)
            for r in con.sql(f"SELECT {select} FROM rel").fetchall()]
    rows.sort(key=repr)
    return cols, rows


def digest(cols, rows):
    """Order-insensitive: sha256 over the sorted canonical rows."""
    h = hashlib.sha256(repr(cols).encode())
    for r in sorted(repr(tuple(_canon(x) for x in r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def check_queries(input_dir, check_dir, oracle_sql, names):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(input_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    out = []
    for name in names:
        c = {"name": name, "ok": False}
        out.append(c)
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            c["detail"] = "no output (the query failed in the warm pass)"
            continue
        rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        got_cols, got = sorted_rows(con, rel)
        c.update(rows=len(got), digest=digest(got_cols, got))
        if name not in oracle_sql:
            c["detail"] = "no oracle SQL for this query"
            continue
        try:
            exp_cols, exp = sorted_rows(con, con.sql(oracle_sql[name]))
        except duckdb.Error as e:
            c["detail"] = f"oracle error: {e}"
            continue
        c.update(expected_rows=len(exp), expected_digest=digest(exp_cols, exp))
        if got_cols != exp_cols:
            c["detail"] = f"columns {got_cols} != {exp_cols}"
        elif got != exp:
            diff = next(((g, e) for g, e in zip(got, exp) if g != e), None)
            c["detail"] = f"value mismatch, first differing rows {diff}"
        else:
            c["ok"] = True
    return out

"""Compares a Spark result, written as parquet, with its DuckDB oracle.

Rows are compared as multisets: both sides are sorted after rounding
floats for the sort key only; values then compare exactly, floats to a
relative 1e-9. Columns are matched by name, case-insensitively.
"""
import glob
import math
import os

import duckdb


def _key(v):
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1, 0.0 if math.isnan(v) else float(f"{v:.6g}"))
    if isinstance(v, (list, tuple)):
        return (2, tuple(_key(x) for x in v))
    if isinstance(v, dict):
        return (3, tuple(sorted((str(k), _key(x)) for k, x in v.items())))
    return (4, str(type(v)), v)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def compare(data_dir, name, sql, result_dir):
    """Problems found, as messages; empty when the result matches."""
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM '{f}'")
    got = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'")
    if not sql:
        n = got.aggregate("count(*)").fetchone()[0]
        return [] if n > 0 else [f"{name}: no oracle and no rows"]
    want = con.sql(sql)
    gcols = sorted(got.columns, key=str.lower)
    wcols = sorted(want.columns, key=str.lower)
    if [c.lower() for c in gcols] != [c.lower() for c in wcols]:
        return [f"{name}: columns differ: {gcols} vs oracle {wcols}"]
    sel = lambda rel, cols: rel.select(", ".join(f'"{c}"' for c in cols)).fetchall()
    grows = sorted(sel(got, gcols), key=lambda r: tuple(_key(v) for v in r))
    wrows = sorted(sel(want, wcols), key=lambda r: tuple(_key(v) for v in r))
    if len(grows) != len(wrows):
        return [f"{name}: {len(grows)} rows, oracle {len(wrows)}"]
    for i, (g, w) in enumerate(zip(grows, wrows)):
        for c, a, b in zip(gcols, g, w):
            if not _same(a, b):
                return [f"{name}: row {i} column {c}: {a!r}, oracle {b!r}"]
    return []

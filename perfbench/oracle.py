"""Compare the engine's result dumps against the DuckDB oracle.

Follows the rules of the repository's correctness gate (`tools/check.py`):
columns are compared sorted by name, column types must match, rows are
compared in result order and floats exactly. A query without an oracle
statement passes when it returns at least one row.
"""
import glob
import json
import math
import os

import duckdb


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _quoted(cols):
    return ", ".join('"' + c + '"' for c in cols)


def check(dump_dir, data_dir, queries):
    """Returns {query: (ok, rows, message)} for every query in `queries`."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        table = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name in queries:
        if os.path.exists(os.path.join(dump_dir, "_failed", name)):
            out[name] = (False, 0, "query failed in the dump")
            continue
        if not glob.glob(os.path.join(dump_dir, name, "*.parquet")):
            out[name] = (False, 0, "no parquet output")
            continue
        got = con.sql(f"SELECT * FROM '{os.path.join(dump_dir, name)}/*.parquet'")
        gcols = sorted(got.columns)
        gtypes = {c: str(t) for c, t in zip(got.columns, got.types)}
        grows = con.sql(f"SELECT {_quoted(gcols)} FROM got").fetchall()
        if name not in oracle:
            out[name] = (len(grows) > 0, len(grows), "rows-only")
            continue
        try:
            exp = con.sql(oracle[name])
            ecols = sorted(exp.columns)
            etypes = {c: str(t) for c, t in zip(exp.columns, exp.types)}
            erows = con.sql(f"SELECT {_quoted(ecols)} FROM exp").fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = (False, len(grows), f"oracle SQL error: {e}")
            continue
        if gcols != ecols:
            msg = f"columns: engine={gcols} oracle={ecols}"
        elif gtypes != etypes:
            msg = f"types: engine={gtypes} oracle={etypes}"
        elif len(grows) != len(erows):
            msg = f"row count: engine={len(grows)} oracle={len(erows)}"
        else:
            bad = next((i for i, (g, e) in enumerate(zip(grows, erows))
                        if tuple(map(_canon, g)) != tuple(map(_canon, e))), None)
            msg = None if bad is None else (
                f"row {bad}: engine={grows[bad]} oracle={erows[bad]}")
        out[name] = (msg is None, len(grows), msg or "match")
    con.close()
    return out

"""Compare registry-query answers with their DuckDB oracles.

The comparison rule is the repository's correctness gate
(tools/check_correctness.py): run the oracle SQL in DuckDB over the same
parquet tables, sort both results' columns by name, then require equal
shapes, equal dtype families and exactly equal values row by row.
"""
import glob
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _family(kind):
    return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(kind, kind)


def values_match(a, b):
    if a.shape != b.shape:
        return False, f"shape {a.shape} vs {b.shape}"
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        if _family(a[c].dtype.kind) != _family(b[c].dtype.kind):
            return False, f"col {c} dtype family {a[c].dtype} vs {b[c].dtype}"
    for c in a.columns:
        x, y = a[c], b[c]
        for i in range(len(x)):
            vx, vy = x.iloc[i], y.iloc[i]
            if pd.isna(vx) and pd.isna(vy):
                continue
            if isinstance(vx, float) or isinstance(vy, float):
                try:
                    fx, fy = float(vx), float(vy)
                except (TypeError, ValueError):
                    return False, f"col {c} row {i}: {vx!r} vs {vy!r}"
                if math.isnan(fx) and math.isnan(fy):
                    continue
                if fx != fy:
                    return False, f"col {c} row {i}: {vx!r} vs {vy!r}"
            elif str(vx) != str(vy):
                return False, f"col {c} row {i}: {vx!r} vs {vy!r}"
    return True, ""


def compare(data_dir, results_dir):
    """{query: {"ok": bool, "why": str}} for every query with an oracle."""
    path = os.path.join(results_dir, "oracles.json")
    if not os.path.exists(path):
        return {}
    oracles = json.load(open(path))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(results_dir, f"{name}.parquet", "*.parquet"))
        try:
            if not files:
                out[name] = {"ok": False, "why": "no answer written"}
                continue
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            want = con.execute(sql).df()
            ok, why = values_match(got[sorted(got.columns)], want[sorted(want.columns)])
            out[name] = {"ok": ok, "why": why}
        except Exception as e:  # an oracle or read error is a failed check
            out[name] = {"ok": False, "why": str(e)[:400]}
    con.close()
    return out

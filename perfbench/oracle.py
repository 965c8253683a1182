"""Result checks for the batch workloads, run after the timed window.

Each key's full result (written by the harness from the cold pass) is
compared with the engine's own DuckDB oracle SQL (`SparkEntry.oracleSql`)
over the same generated tables: same columns, same row count, equal
values in order, ints not silently turned into floats. A key with no
oracle SQL fails. Oracle answers are cached per input and SQL text
under the caller's cache directory.
"""
import hashlib
import os
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def kind(s):
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    return "other"


def compare(got, want):
    """(ok, message) for two frames with columns sorted by name."""
    if list(got.columns) != list(want.columns):
        return False, f"columns differ: {list(got.columns)} vs oracle {list(want.columns)}"
    if len(got) != len(want):
        return False, f"row count {len(got)} vs oracle {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if w.dtype == object and kind(g) in ("int", "float"):
            try:
                w = pd.to_numeric(w, errors="raise")
            except (ValueError, TypeError):
                pass
        kg, kw = kind(g), kind(w)
        if kg != kw and not (kg == "other" and kw == "other"):
            return False, f"column {c}: {g.dtype} vs oracle {w.dtype}"
        if kg == "float" or kw == "float":
            ga, wa = g.astype(float), w.astype(float)
            neq = ~((ga == wa) | (ga.isna() & wa.isna()))
        else:
            neq = g.astype(str) != w.astype(str)
        if neq.any():
            i = neq.idxmax()
            return False, f"column {c} row {i}: {g[i]!r} vs oracle {w[i]!r}"
    return True, ""


def norm(df):
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def answer(con, data_dir, sql, cache):
    """The oracle's answer, cached per (input, SQL): a workload's input
    is fixed, so its answers are computed once per checkout."""
    path = Path(cache) / (hashlib.sha256(f"{data_dir}\n{sql}".encode()).hexdigest()[:24] + ".pkl")
    if path.exists():
        return pd.read_pickle(path)
    want = norm(con.sql(sql).df())
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".tmp{os.getpid()}")
    want.to_pickle(tmp)
    tmp.replace(path)
    return want


def check(data_dir, results_dir, keys, oracle_sql, threads, cache):
    """{key: error message or ''} for every key in `keys`."""
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet/*.parquet'")
    out = {}
    for key in keys:
        res = Path(results_dir) / key
        if not res.exists():
            out[key] = "no result"
            continue
        got = norm(pd.read_parquet(res))
        if key not in oracle_sql:
            out[key] = "no oracle SQL"
            continue
        try:
            ok, msg = compare(got, answer(con, data_dir, oracle_sql[key], cache))
        except duckdb.Error as e:
            ok, msg = False, f"oracle error: {e}"
        out[key] = "" if ok else msg
    return out

#!/usr/bin/env python3
"""Dev-loop differential check (SURVEY.md §5.4).

Replicates the driver's t2 gate locally: for each query result parquet
written by `graft.Verify`, run the matching oracle SQL in DuckDB over
the same fixture parquet tables, sort columns by name, and compare
values exactly (with a tiny float tolerance report as diagnostics).

Usage:
  python3 tools/diff_oracle.py <sfDir> <verifyOutDir> [key ...]

Run Verify first:
  sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/v"

Each key's oracle runs on its own DuckDB connection, capped at half
the host's RAM and spilling under <verifyOutDir>/.duckdb_spill (removed
after the key); a `TIME <key> <s> s` line gives its wall time.
"""
import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    return df


def host_mem_bytes() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) * 1024
    return 8 << 30


def connect(sf_dir: str, spill_dir: Path) -> duckdb.DuckDBPyConnection:
    """One DuckDB connection over the fixture tables, sized to the host:
    a memory limit at half its RAM (a heavy oracle spills instead of
    exhausting memory) and spills under `spill_dir`, next to the dump
    on the large disk rather than in DuckDB's default temp location.
    """
    con = duckdb.connect()
    con.execute(f"SET threads={min(8, os.cpu_count() or 1)}")
    con.execute(f"SET memory_limit='{host_mem_bytes() // 2 >> 20}MB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.is_dir():
            # Spark-written table (a directory of part files) — e.g.
            # the ScaleProbeSf1 synthetic fixtures used by the 10x gate
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    spill_dir = Path(out_dir) / ".duckdb_spill"
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    keys = sorted(oracle) if not only else sorted(only)
    for key in keys:
        res_dir = Path(out_dir) / key
        if not res_dir.exists():
            print(f"FAIL {key}: no Verify output at {res_dir}")
            n_fail += 1
            continue
        got = norm(pd.read_parquet(res_dir))
        if key not in oracle:
            print(f"SKIP {key}: no oracle SQL (rows={len(got)})")
            continue
        # a fresh connection per key: one key's buffers and spill files
        # never carry over into the next key's budget
        t0 = time.monotonic()
        con = connect(sf_dir, spill_dir)
        try:
            want = norm(con.sql(oracle[key]).df())
        except Exception as e:
            print(f"FAIL {key}: oracle SQL error: {e}")
            n_fail += 1
            continue
        finally:
            con.close()
            shutil.rmtree(spill_dir, ignore_errors=True)
            print(f"TIME {key} {time.monotonic() - t0:.1f} s", flush=True)
        ok, msg = compare(got, want)
        if ok:
            print(f"PASS {key} ({len(got)} rows)", flush=True)
            n_pass += 1
        else:
            print(f"FAIL {key}: {msg}", flush=True)
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {len(keys)} total")
    sys.exit(1 if n_fail else 0)


def kind(s: pd.Series) -> str:
    """Coarse numeric class used for the strict dtype gate."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    return "other"


def compare(got: pd.DataFrame, want: pd.DataFrame):
    if list(got.columns) != list(want.columns):
        return False, f"columns differ: spark={list(got.columns)} oracle={list(want.columns)}"
    if len(got) != len(want):
        return False, f"row count differs: spark={len(got)} oracle={len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        # duckdb can hand back DECIMAL sums as object dtype; resolve the
        # ORACLE side only — a Spark column is object dtype iff it is
        # genuinely non-numeric (string/array/struct), and coercing it
        # would reopen the exact representation-drift hole this gate
        # exists to close (the driver hashes the raw string '1265', not 1265)
        if w.dtype == object and kind(g) in ("int", "float"):
            try:
                w = pd.to_numeric(w, errors="raise")
            except Exception:
                pass
        # strict: int-vs-float (or bool) drift fails — the driver hashes raw
        # values, so 1265 vs 1265.0 is a real t2 failure (VERDICT r1 items 1-2)
        kg, kw = kind(g), kind(w)
        if kg != kw and not (kg == "other" and kw == "other"):
            return False, (f"col {c} dtype mismatch: spark={got[c].dtype}"
                           f"({kg}) oracle={want[c].dtype}({kw})")
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ga, wa = g.astype(float), w.astype(float)
            neq = ~((ga == wa) | (ga.isna() & wa.isna()))
            if neq.any():
                i = neq.idxmax()
                d = abs(ga[i] - wa[i])
                return False, (f"col {c} differs at row {i}: "
                               f"spark={ga[i]!r} oracle={wa[i]!r} |d|={d:g}")
        else:
            gs, ws = g.astype(str), w.astype(str)
            neq = gs != ws
            if neq.any():
                i = neq.idxmax()
                return False, (f"col {c} differs at row {i}: "
                               f"spark={g[i]!r} oracle={w[i]!r}")
    return True, ""


if __name__ == "__main__":
    main()

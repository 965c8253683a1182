#!/usr/bin/env python3
"""Cross-BUILD dump equality: compare two graft.Verify dump dirs
key-by-key with the t2 comparator (canonical sort on all columns,
value-exact). Round-12 use: the r12 build's fresh 100x engine dump vs
the r9 dump that CORRECTNESS_100x's DuckDB diff ran against — if every
key is value-identical, the recorded oracle agreement transfers to
this build without re-paying the ~75-min 100x DuckDB pass.

Usage: python3 tools/dump_equal.py <dirA> <dirB> <out.json> [key ...]
(default keys: every key dir of either dump, dot-dirs such as
.duckdb_spill skipped; a key missing on one side is a FAIL)
"""
import json
import sys
from pathlib import Path

import pandas as pd

from diff_oracle import compare, norm


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = norm(df)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
        df = df.reset_index(drop=True)
    return df


def main():
    a, b, out = Path(sys.argv[1]), Path(sys.argv[2]), Path(sys.argv[3])
    keys = sys.argv[4:]
    if not keys:
        keys = sorted({d.name for side in (a, b) for d in side.iterdir()
                       if d.is_dir() and not d.name.startswith(".")})
    rows, n_fail, n_missing = {}, 0, 0
    for key in keys:
        pa, pb = a / key, b / key
        if not pa.is_dir() or not pb.is_dir():
            rows[key] = {"identical": False,
                         "why": f"missing: a={pa.is_dir()} b={pb.is_dir()}"}
            n_fail += 1
            n_missing += 1
            print(f"FAIL {key} (missing)", flush=True)
            continue
        try:
            da, db = canon(pd.read_parquet(pa)), canon(pd.read_parquet(pb))
            ok, msg = compare(da, db)
            rows[key] = {"rows": len(da), "identical": bool(ok)}
            if not ok:
                rows[key]["why"] = msg[:300]
                n_fail += 1
        except Exception as e:  # noqa: BLE001 - record, don't die
            rows[key] = {"identical": False, "why": repr(e)[:300]}
            n_fail += 1
        print(("PASS" if rows[key]["identical"] else "FAIL") + f" {key}",
              flush=True)
    doc = {"dir_a": str(a), "dir_b": str(b),
           "n_identical": len(rows) - n_fail, "n_fail": n_fail,
           "n_missing": n_missing, "keys": rows}
    out.write_text(json.dumps(doc, indent=1) + "\n")
    print(f"dump_equal: {len(rows) - n_fail} identical, {n_fail} fail "
          f"({n_missing} missing)")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

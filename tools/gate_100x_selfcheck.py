#!/usr/bin/env python3
"""Cross-JVM determinism evidence for the 100x-gate's oracle-infeasible
keys (VERDICT r8 task 1).

The five dedup keys excluded from the 100x DuckDB gate carry written
infeasibility reasons but (pre-r9) NO third-decade correctness evidence
at all. This gate runs the same frame-equality check the sf0.01
determinism sweep uses, promoted to 100x: each key is produced by TWO
INDEPENDENT JVMs (two `graft.Verify` invocations) on the clustered 100x
fixture, and the two result frames must match value-exactly, column by
column, row by row — same comparator as the t2 gate (tools/diff_oracle
.compare), after canonical sort on every column so file-order artifacts
cannot mask or fake a diff.

This is determinism evidence, not oracle agreement: it proves the
engine's answer at the third decade is a FUNCTION of the data (no
partition-order, timing, or accumulation nondeterminism), which is
exactly the failure class every previous decade extension caught.

Usage:
  python3 tools/gate_100x_selfcheck.py <runA_dir> <runB_dir> <round> key...

Merges a "selfcheck" section into CORRECTNESS_100x.json (which must
already exist — run tools/gate_100x.py first; its exclusion notes are
retained and cross-checked: every selfchecked key must be a documented
exclusion, so this gate cannot quietly substitute for the oracle).
Exits non-zero on any mismatch, any missing dump, or any selfchecked
key that is not in the artifact's excluded list.
"""
import json
import sys
from pathlib import Path

import pandas as pd

from diff_oracle import compare
from dump_equal import canon


def main():
    run_a, run_b, rnd = Path(sys.argv[1]), Path(sys.argv[2]), int(sys.argv[3])
    keys = sys.argv[4:]
    if not keys:
        sys.stderr.write("no keys given\n")
        sys.exit(2)
    art = Path("CORRECTNESS_100x.json")
    doc = json.loads(art.read_text())
    excluded = doc.get("excluded", {})
    missing_excl = [k for k in keys if k not in excluded]
    if missing_excl:
        sys.stderr.write(
            f"selfcheck keys not in the artifact's excluded list: "
            f"{missing_excl} — this gate is evidence FOR documented "
            f"exclusions, not a substitute for the oracle\n")
        sys.exit(2)
    rows, n_fail = {}, 0
    for key in keys:
        pa, pb = run_a / key, run_b / key
        if not pa.exists() or not pb.exists():
            rows[key] = {"identical": False,
                         "why": f"missing dump: a={pa.exists()} b={pb.exists()}"}
            n_fail += 1
            continue
        a, b = canon(pd.read_parquet(pa)), canon(pd.read_parquet(pb))
        ok, msg = compare(a, b)
        rows[key] = {"rows": len(a), "identical": bool(ok)}
        if not ok:
            rows[key]["why"] = msg[:300]
            n_fail += 1
    doc["selfcheck"] = {
        "round": rnd,
        "method": ("two independent graft.Verify JVMs on the 100x fixture; "
                   "frames canonically sorted on all columns and compared "
                   "value-exactly with the t2 comparator"),
        "why": ("VERDICT r8 task 1: engine-determinism evidence at the "
                "third decade for the oracle-infeasible exclusions"),
        "keys": dict(sorted(rows.items())),
    }
    art.write_text(json.dumps(doc, indent=1) + "\n")
    for k, v in rows.items():
        print(("PASS" if v["identical"] else "FAIL")
              + f" {k} (rows={v.get('rows')})"
              + ("" if v["identical"] else f": {v.get('why')}"))
    print(f"selfcheck: {len(rows) - n_fail} identical, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

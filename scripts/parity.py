#!/usr/bin/env python3
"""Row-for-row parity of two graft.Verify output directories.

Usage: python3 scripts/parity.py PARENT_OUT CHANGE_OUT [query ...]

For each query result present in PARENT_OUT (or each named query), loads
both parquet results and compares them with check.py's rules: same column
names, same row count, same values after sorting rows over all columns.
It also checks that the two runs registered the same oracle SQL for every
query (from each directory's oracle_sql.json), so a refactor that changes
a query's code but not its oracle is proven to give the parent's rows.
This is the check for queries whose DuckDB oracle is too slow or too large
to run (q220_zip64_central_dir). Failure lines come from check.py's
compare, which names the change's value `spark=` and the parent's
`duckdb=`.
"""
import json
import sys
from pathlib import Path

from check import compare, load_result


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    parent, change = Path(sys.argv[1]), Path(sys.argv[2])
    only = set(sys.argv[3:])
    names = sorted(only or (p.name for p in parent.iterdir() if p.is_dir()))
    ok = fail = 0
    for name in names:
        try:
            want = load_result(parent / name)
        except FileNotFoundError:
            print(f"FAIL {name}: parent result missing")
            fail += 1
            continue
        try:
            got = load_result(change / name)
        except FileNotFoundError:
            print(f"FAIL {name}: change result missing")
            fail += 1
            continue
        if compare(name, got, want):
            ok += 1
        else:
            fail += 1
    po, co = parent / "oracle_sql.json", change / "oracle_sql.json"
    if po.exists() and co.exists():
        p, c = json.loads(po.read_text()), json.loads(co.read_text())
        for name in names:
            if p.get(name) != c.get(name):
                print(f"FAIL {name}: oracle SQL differs")
                fail += 1
    print(f"\n{ok} same, {fail} fail")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories query by query: the
columns (names, order and DuckDB types) and the rows as a sorted multiset,
with tools/oracle_check.py's compare. Stronger than the oracle for the
rows-only and hash-bearing queries, whose values no oracle pins.

  python3 tools/verify_diff.py A B [QUERY_PREFIX ...]

Also compares two `Pipeline.run` workdirs (one parquet directory per
table, as here), e.g. `python3 tools/verify_diff.py A B edges nodes
canon_map`. Exits 1 when a query differs or is missing on one side.
"""
import os, sys, glob
import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oracle_check import compare


def queries(d):
    return {p.rstrip("/").split("/")[-1] for p in glob.glob(f"{d}/*/")}


def nested(duck_type):
    return duck_type.endswith("]") or duck_type.startswith(("STRUCT", "MAP"))


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b, prefixes = sys.argv[1], sys.argv[2], sys.argv[3:]
    con = duckdb.connect()
    names = sorted(n for n in queries(a) | queries(b)
                   if not prefixes or any(n.startswith(p) for p in prefixes))
    same, diff = [], []
    for name in names:
        try:
            cols, rows = [], []
            for d in (a, b):
                scan = f"SELECT * FROM parquet_scan('{d}/{name}/*.parquet')"
                cols.append([(c[0], c[1]) for c in con.execute(f"DESCRIBE {scan}").fetchall()])
                # nested values (a node's alias forms, stage_b's structs)
                # compare as DuckDB's text rendering: pandas cannot sort them
                proj = ", ".join(
                    f'CAST("{c}" AS VARCHAR) AS "{c}"' if nested(t) else f'"{c}"'
                    for c, t in cols[-1])
                rows.append(con.execute(f"SELECT {proj} FROM ({scan})").fetchdf())
        except Exception as e:
            diff.append((name, f"unreadable: {e}"))
            continue
        if cols[0] != cols[1]:
            diff.append((name, f"schema: A={cols[0]} B={cols[1]}"))
            continue
        m = compare(rows[1], rows[0], "B", "A")
        if m:
            diff.append((name, m))
        else:
            same.append((name, len(rows[0])))
    print(f"== SAME ({len(same)}) ==")
    for n, r in same:
        print(f"  {n}: {r} rows")
    print(f"== DIFFERENT ({len(diff)}) ==")
    for n, m in diff:
        print(f"  {n}: {m}")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare: run each oracle SQL
over the sf parquet tables and diff against the Spark output parquet
(columns sorted by name, rows as a sorted multiset).

  python3 tools/oracle_check.py SF_DIR VERIFY_OUT_DIR
"""
import sys, json, glob
import duckdb


def compare(got, exp, got_name="spark", exp_name="oracle"):
    """None when the two frames hold the same columns (by name) and the same
    rows as a sorted multiset (values compared as strings), else what
    differs."""
    ec = sorted(exp.columns); gc = sorted(got.columns)
    if ec != gc:
        return f"schema mismatch: {got_name}={gc} {exp_name}={ec}"
    e2 = exp[ec].sort_values(ec).reset_index(drop=True).astype(str)
    g2 = got[gc].sort_values(gc).reset_index(drop=True).astype(str)
    if len(e2) != len(g2):
        return f"row count: {got_name}={len(g2)} {exp_name}={len(e2)}"
    if not e2.equals(g2):
        diff_idx = (e2 != g2).any(axis=1)
        n = int(diff_idx.sum())
        sample = ""
        if n:
            i = diff_idx.idxmax()
            sample = (f" first diff row {i}: {got_name}={g2.loc[i].to_dict()}"
                      f" {exp_name}={e2.loc[i].to_dict()}")
        return f"{n} differing rows of {len(e2)}.{sample}"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sf_dir, out_dir = sys.argv[1], sys.argv[2]

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf_dir}/{t}.parquet')")

    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok, bad = [], []
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            bad.append((name, f"oracle SQL error: {e}"))
            continue
        try:
            got = con.execute(
                f"SELECT * FROM parquet_scan('{out_dir}/{name}/*.parquet')").fetchdf()
        except Exception as e:
            bad.append((name, f"spark output missing: {e}"))
            continue
        diff = compare(got, exp)
        if diff:
            bad.append((name, diff))
        else:
            ok.append((name, len(got)))

    print(f"== OK ({len(ok)}) ==")
    for n, r in ok:
        print(f"  {n}: {r} rows")
    print(f"== MISMATCH ({len(bad)}) ==")
    for n, m in bad:
        print(f"  {n}: {m}")
    rows_only = sorted(set(glob.glob(f"{out_dir}/*/")) -
                       {f"{out_dir}/{n}/" for n in oracle})
    print(f"== rows-only (no oracle) ==")
    for d in rows_only:
        name = d.rstrip('/').split('/')[-1]
        try:
            c = con.execute(f"SELECT count(*) FROM parquet_scan('{d}*.parquet')").fetchone()[0]
            print(f"  {name}: {c} rows")
        except Exception as e:
            print(f"  {name}: unreadable: {e}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

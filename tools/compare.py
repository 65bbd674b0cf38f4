#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tool, not library code).

Reads the Verify output dir (parquet per query + oracle_sql.json), runs each
oracle SQL in DuckDB against the same sf tables, canonicalizes both results
(sort columns by name, sort rows, round doubles to 1e-9, null-sentinel), and
compares hashes. Usage: tools/compare.py <sfDir> <verifyOutDir>

A subset dump (`runMain graft.Verify <sfDir> <outDir> q_hits,q_pagerank`)
is compared with the same names, so the queries it skipped are not
reported as MISS:

    tools/compare.py <sfDir> <verifyOutDir> --only q_hits,q_pagerank
"""
import sys, json, glob, os, argparse
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0: v = 0.0
            if isinstance(v, list):
                v = tuple(round(x, 9) if isinstance(x, float) else x for x in v)
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            vals.append((v is None, str(type(v).__name__) if not isinstance(v, (int, float, str, bool, tuple, type(None))) else "", v if v is not None else ""))
        out.append(tuple(vals))
    out.sort(key=lambda t: str(t))
    return out

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    if only is not None:
        for name in sorted(only - set(oracles)):
            print(f"ERR   {name}: no oracle"); n_fail += 1
        oracles = {k: v for k, v in oracles.items() if k in only}
    for name in sorted(oracles):
        sql = oracles[name]
        pq = f"{out_dir}/{name}"
        if not glob.glob(f"{pq}/*.parquet"):
            print(f"MISS  {name}: no spark output"); n_fail += 1; continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{pq}/*.parquet'")
            got = canon(got_rel.fetchall(), got_rel.columns)
        except Exception as e:
            print(f"ERR   {name}: reading spark output: {e}"); n_fail += 1; continue
        try:
            want_rel = con.sql(sql)
            want = canon(want_rel.fetchall(), want_rel.columns)
        except Exception as e:
            print(f"ERR   {name}: oracle failed: {e}"); n_fail += 1; continue
        if sorted(got_rel.columns) != sorted(want_rel.columns):
            print(f"FAIL  {name}: columns {sorted(got_rel.columns)} != {sorted(want_rel.columns)}")
            n_fail += 1
        elif got == want:
            print(f"OK    {name} ({len(got)} rows)"); n_pass += 1
        else:
            print(f"FAIL  {name}: {len(got)} spark rows vs {len(want)} oracle rows")
            diff_g = [r for r in got if r not in set(want)][:3]
            diff_w = [r for r in want if r not in set(got)][:3]
            for d in diff_g: print(f"      spark-only:  {d}")
            for d in diff_w: print(f"      oracle-only: {d}")
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Hash-compare a graft.Verify dump with its DuckDB oracles.")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--only", help="comma-separated query names: compare just these")
    a = ap.parse_args()
    sys.exit(main(a.sf_dir, a.out_dir,
                  None if a.only is None else set(a.only.split(","))))

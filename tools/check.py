#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <sfDir> <outDir>
Reads each <outDir>/<name>/ parquet (Spark result), runs
<outDir>/oracle_sql.json[name] in DuckDB against <sfDir>/*.parquet views,
sorts columns by name + rows, and compares values. When graft.Verify
wrote <outDir>/entries.json (the entries it ran), only the listed
entries are compared: each one with no result dir is reported MISSING
and counts as failed, and dirs of unlisted entries are ignored.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

def norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

# DuckDB spills a query that outgrows memory to disk; capping the spill
# makes a runaway oracle fail as its own ORACLE-ERROR instead of filling
# the disk under everything else running beside it
SPILL_LIMIT = "4GB"

def main(sf_dir, out_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(out_dir, '.duckdb_tmp')}'")
    con.execute(f"SET max_temp_directory_size = '{SPILL_LIMIT}'")
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    dirs = [d for d in sorted(os.listdir(out_dir))
            if os.path.isdir(os.path.join(out_dir, d)) and not d.startswith(".")]
    listed = os.path.join(out_dir, "entries.json")
    if os.path.exists(listed):
        # compare only this run's entries: a dir left by an earlier run
        # for an entry this run did not select is not a result of it
        selected = json.load(open(listed))
        names = [n for n in selected if n in dirs]
        missing = [n for n in selected if n not in dirs]
        stale = [d for d in dirs if d not in selected]
        if stale:
            print(f"ignoring {len(stale)} result dir(s) not in entries.json")
    else:
        names, missing = dirs, []
    for name in missing:
        print(f"{name:24s} MISSING (no result dir)")
    failed = list(missing)
    for name in names:
        # Read the Spark side with pandas (as the driver does): decimal
        # columns surface as Decimal objects ('493670.20'), NOT float64 —
        # reading via DuckDB would coerce both sides to float64 and mask
        # Decimal-vs-float mismatches the driver detects.
        got = pd.concat(
            [pd.read_parquet(p) for p in
             sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))],
            ignore_index=True)
        if name not in oracle:
            status = f"rows-only rows={len(got)}"
            if len(got) == 0:
                status += " (EMPTY!)"
                failed.append(name)
            print(f"{name:24s} {status}")
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"{name:24s} ORACLE-ERROR {e}")
            failed.append(name)
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"{name:24s} COLS got={list(g.columns)} exp={list(e.columns)}")
            failed.append(name)
            continue
        if len(g) != len(e):
            print(f"{name:24s} ROWS got={len(g)} exp={len(e)}")
            failed.append(name)
            continue
        gs = g.astype(str)
        es = e.astype(str)
        if not gs.equals(es):
            diff = (gs != es).any(axis=1)
            print(f"{name:24s} VALUES {int(diff.sum())}/{len(g)} rows differ")
            print("  got:", gs[diff].head(3).to_dict("records"))
            print("  exp:", es[diff].head(3).to_dict("records"))
            failed.append(name)
            continue
        print(f"{name:24s} OK rows={len(g)}")
    total = len(names) + len(missing)
    print(f"\n{total-len(failed)}/{total} pass")
    return 1 if failed else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

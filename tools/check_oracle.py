#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's dumped
oracle SQL in DuckDB over the sfDir parquet tables and compare against the
Spark parquet outputs (column-name-sorted, row-sorted value comparison).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
Driver-side tooling only (duckdb/pandas are not dependencies of the
library itself).
"""
import sys, os, json, glob
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize list/array cells to tuples for sortability
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or
                     str(type(v)).endswith("ndarray'>")).any():
            df[c] = df[c].map(lambda v: tuple(v) if v is not None else None)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: v.decode() if isinstance(v, bytes) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, '*.parquet')):
        name = os.path.basename(p)[:-len('.parquet')]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracles = json.load(open(os.path.join(out_dir, 'oracle_sql.json')))
    results = {}
    for qdir in sorted(glob.glob(os.path.join(out_dir, 'q_*'))):
        name = os.path.basename(qdir)
        spark_df = pd.concat([pd.read_parquet(f) for f in
                              glob.glob(os.path.join(qdir, '*.parquet'))] or
                             [pd.DataFrame()], ignore_index=True)
        if name not in oracles:
            results[name] = f"rows-only ({len(spark_df)} rows)"
            continue
        try:
            oracle_df = con.execute(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE-SQL-ERROR: {e}"
            continue
        s, o = canon(spark_df), canon(oracle_df)
        if list(s.columns) != list(o.columns):
            results[name] = f"SCHEMA-MISMATCH spark={list(s.columns)} oracle={list(o.columns)}"
        elif len(s) != len(o):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(s)} oracle={len(o)}"
        else:
            eq = s.reset_index(drop=True).astype(str).equals(o.reset_index(drop=True).astype(str))
            results[name] = f"OK ({len(s)} rows)" if eq else "VALUE-MISMATCH"
            if not eq:
                mask = (s.astype(str) != o.astype(str)).any(axis=1)
                print(f"--- {name} first diffs:")
                print(pd.concat([s[mask].head(3), o[mask].head(3)]))
    # Verify logs a query that throws and writes no directory for it: an
    # oracle-checked query without output has failed, not passed
    for name in oracles:
        if not os.path.isdir(os.path.join(out_dir, name)):
            results[name] = "MISSING (no output directory)"
    bad = 0
    for k in sorted(results):
        flag = "  " if results[k].startswith(("OK", "rows-only")) else "!!"
        if flag == "!!":
            bad += 1
        print(f"{flag} {k}: {results[k]}")
    print(f"\n{len(results)} queries, {bad} failing")
    sys.exit(1 if bad else 0)

if __name__ == '__main__':
    main()

#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare (dev tool only —
the Scala engine does not depend on this).

Usage: python3 tools/compare_oracle.py [sfDir] [verifyOutDir]
       python3 tools/compare_oracle.py --against otherVerifyDir verifyOutDir

Runs every SQL in <verifyOutDir>/oracle_sql.json against DuckDB views over
the sfDir parquet tables, loads the Spark result parquet the Verify main
dumped, sorts columns by name (the driver's convention), and compares
row count, column names, dtypes-ish, and values (floats with 1e-9 rel
tolerance to allow for repr noise after the round(…,4) guard).

--against compares two Verify dumps instead, query by query, as decoded
tables (the same compare(), with <otherVerifyDir> in the oracle's place):
the parquet files of one engine are not byte-stable between runs, their
tables are. Covers every query either dump holds, oracle or not; prints
one line per query and exits 1 on any mismatch or one-sided query.
"""
import os
import glob
import json
import math
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def compare(name, odf, sdf, tol=None):
    """tol: optional {column: rtol} map (the approx-family bounds mode):
    listed columns pass within the given RELATIVE error of the exact
    oracle value instead of the hash-style 1e-9 closeness; unlisted
    columns compare exactly as usual."""
    tol = tol or {}
    o = odf[sorted(odf.columns)].reset_index(drop=True)
    s = sdf[sorted(sdf.columns)].reset_index(drop=True)
    if list(o.columns) != list(s.columns):
        return f"SCHEMA: oracle={list(o.columns)} spark={list(s.columns)}"
    if len(o) != len(s):
        return f"ROWS: oracle={len(o)} spark={len(s)}"
    dt = [(c, str(o[c].dtype), str(s[c].dtype)) for c in o.columns
          if str(o[c].dtype) != str(s[c].dtype)]
    for c in o.columns:
        oc, sc = o[c], s[c]
        if c in tol:
            ov = oc.astype(float).to_numpy()
            sv = sc.astype(float).to_numpy()
            ok = (np.isclose(ov, sv, rtol=tol[c], atol=1e-9)
                  | (np.isnan(ov) & np.isnan(sv)))
            if not ok.all():
                i = int(np.argmin(ok))
                return (f"TOLERANCE col={c} rtol={tol[c]} row={i}: "
                        f"exact={ov[i]!r} approx={sv[i]!r}")
        elif np.issubdtype(oc.dtype, np.floating) or np.issubdtype(sc.dtype, np.floating):
            ov = oc.astype(float).to_numpy()
            sv = sc.astype(float).to_numpy()
            ok = (np.isclose(ov, sv, rtol=1e-9, atol=1e-9)
                  | (np.isnan(ov) & np.isnan(sv)))
            if not ok.all():
                i = int(np.argmin(ok))
                return f"VALUE col={c} row={i}: oracle={ov[i]!r} spark={sv[i]!r}"
        else:
            ov = oc.astype(str).to_numpy()
            sv = sc.astype(str).to_numpy()
            if not (ov == sv).all():
                i = int(np.argmin(ov == sv))
                return f"VALUE col={c} row={i}: oracle={ov[i]!r} spark={sv[i]!r}"
    if dt:
        return f"DTYPE: {dt}"
    return "OK"


def read_dump(out, name):
    """One query's dumped result as a frame, part files in name order
    (the row order Verify wrote); None when the dump lacks the query."""
    if not os.path.isdir(f"{out}/{name}"):
        return None
    files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files])


def main_against(ref, out):
    names = sorted({d for base in (ref, out) for d in os.listdir(base)
                    if os.path.isdir(f"{base}/{d}")})
    print(f"# oracle= is {ref}, spark= is {out}")
    n_ok = 0
    for name in names:
        rdf, sdf = read_dump(ref, name), read_dump(out, name)
        if rdf is None or sdf is None:
            r = f"MISSING in {ref if rdf is None else out}"
        else:
            r = compare(name, rdf, sdf)
        n_ok += r == "OK"
        print(f"{'PASS' if r == 'OK' else 'FAIL'} {name}: {r}")
    print(f"\n{n_ok}/{len(names)} queries match")
    sys.exit(0 if n_ok == len(names) else 1)


def main():
    if len(sys.argv) == 4 and sys.argv[1] == "--against":
        main_against(sys.argv[2], sys.argv[3])
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracles = json.load(open(f"{out}/oracle_sql.json"))
    # approx-family bounds mode: {name: {sql, tol: {col: rtol}}} — the
    # exact answer is checked within each column's relative bound
    try:
        bounds = json.load(open(f"{out}/oracle_bounds.json"))
    except FileNotFoundError:
        bounds = {}
    jobs = {name: (sql, None) for name, sql in oracles.items()}
    jobs.update({name: (b["sql"], b["tol"]) for name, b in bounds.items()})
    results, n_ok = {}, 0
    for name in sorted(jobs):
        sql, tol = jobs[name]
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
        if not files:
            results[name] = "NO_SPARK_OUTPUT"
            continue
        sdf = pd.concat([pd.read_parquet(f) for f in files])
        r = compare(name, odf, sdf, tol=tol)
        if r == "OK" and tol:
            r = f"OK (within tolerance {tol})"
        results[name] = r
        n_ok += results[name].startswith("OK")
    for name, r in results.items():
        print(f"{'PASS' if r.startswith('OK') else 'FAIL'} {name}: {r}")
    print(f"\n{n_ok}/{len(results)} oracle queries match"
          f" ({len(bounds)} within-tolerance)")
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()

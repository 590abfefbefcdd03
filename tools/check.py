#!/usr/bin/env python3
"""Local pre-validation of SparkEntry.queries vs the DuckDB oracle.

Mimics the driver's correctness gate: reads each query's parquet dump
(written by `graft.Verify <sfDir> <outDir>`), runs the matching oracle SQL
from oracle_sql.json in DuckDB against the same test tables, sorts columns
by name and rows by value, and compares cell-by-cell.

Usage: python3 tools/check.py <sfDir> <outDir>
Dev tool only — not part of the Scala deliverable.
"""
import json, math, sys, glob, os
import duckdb

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [c for _, c in sorted(zip(order, sorted(cols)))], out

def materialize(con, table, sql):
    """Runs `sql` once into the temp table `table` and returns a relation
    over it. A DuckDB relation re-runs its query on every fetch, and both
    the rows and the dtypes are read from each result."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE {table} AS {sql.strip().rstrip(';')}")
    return con.table(table)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        spark_dir = f"{out_dir}/{name}"
        if not os.path.isdir(spark_dir):
            print(f"FAIL {name}: no spark output dir"); n_fail += 1; continue
        try:
            got = materialize(con, "_got",
                              f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            gcols, grows = got.columns, got.fetchall()
            exp = materialize(con, "_exp", sql)
            ecols, erows = exp.columns, exp.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        _, g = canon(grows, gcols)
        _, e = canon(erows, ecols)
        # driver fidelity: the gate hashes pandas-canonical BYTES, so a
        # dtype split (e.g. DuckDB HUGEINT -> float64 vs Spark int64)
        # hash-fails even when every value matches (round-2 lesson)
        try:
            gdt = got.df().reindex(sorted(gcols), axis=1).dtypes
            edt = exp.df().reindex(sorted(ecols), axis=1).dtypes
            dtype_diff = [(c, str(gdt[c]), str(edt[c]))
                          for c in gdt.index
                          if c in edt.index and gdt[c] != edt[c]]
        except Exception:
            dtype_diff = []
        if sorted(c.lower() for c in gcols) != sorted(c.lower() for c in ecols):
            print(f"FAIL {name}: schema {sorted(gcols)} vs {sorted(ecols)}")
            n_fail += 1
        elif dtype_diff:
            print(f"FAIL {name}: dtype drift (spark,oracle): {dtype_diff}")
            n_fail += 1
        elif len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}"); n_fail += 1
        elif g != e:
            bad = [(a, b) for a, b in zip(g, e) if a != b][:3]
            print(f"FAIL {name}: values differ, first diffs: {bad}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)"); n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

#!/usr/bin/env python3
"""Local pre-flight of the driver's DuckDB oracle compare.

Usage: python3 scripts/oracle_check.py <sfDir> <verifyOutDir> [<parentVerifyOutDir>]

Mirrors the driver contract: for each query with an oracleSql entry, run the
SQL in DuckDB against the parquet tables of <sfDir>, load the Spark result
parquet from <verifyOutDir>/<name>, sort columns by name, sort rows, and
compare values cell-by-cell (floats to 9 significant digits).

With a third argument, the Verify output of another build (for example the
parent commit's), every entry of either dump, rows-only entries without an
oracle included, is then compared cell by cell against that dump the same
way. The exit status is non-zero if any oracle check fails or any entry
differs.
"""
import glob
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def mismatch(want, got):
    """First difference between two canonical frames, or None."""
    if list(want.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(want) != len(got):
        return f"rows {len(got)} != {len(want)}"
    for c in want.columns:
        wv = [cell(x) for x in want[c].tolist()]
        gv = [cell(x) for x in got[c].tolist()]
        if wv != gv:
            i = next(i for i in range(len(wv)) if wv[i] != gv[i])
            return f"col {c} row {i}: got {gv[i]} want {wv[i]}"
    return None


def dump(con, out_dir, name):
    return canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())


def entries(out_dir):
    return {e for e in os.listdir(out_dir)
            if glob.glob(os.path.join(out_dir, e, "*.parquet"))}


def main(sf_dir, out_dir, parent_dir=None):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        try:
            want = canon(con.sql(sql).df())
            bad = mismatch(want, dump(con, out_dir, name))
        except Exception as e:  # noqa: BLE001
            bad = f"exception {e}"
        if bad:
            print(f"FAIL {name}: {bad}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(want)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    if parent_dir is None:
        return 1 if n_bad else 0
    n_same = n_diff = 0
    for name in sorted(entries(out_dir) | entries(parent_dir)):
        try:
            got = dump(con, out_dir, name)
            bad = mismatch(dump(con, parent_dir, name), got)
        except Exception as e:  # noqa: BLE001
            bad = f"exception {e}"
        if bad:
            print(f"DIFF {name}: {bad}")
            n_diff += 1
        else:
            print(f"same {name} ({len(got)} rows)")
            n_same += 1
    print(f"\nparent diff: {n_same} identical, {n_diff} differ")
    return 1 if n_bad or n_diff else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))

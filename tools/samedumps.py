#!/usr/bin/env python3
"""Compare two Verify output directories dump by dump.

Usage:
    python3 tools/samedumps.py <parent_out> <change_out>

Both directories come from `sbt "runMain graft.Verify <sf_dir> <out>"`,
one per tree. For every query directory present in either one this
checks that both sides exist and carry the same column names, the same
DuckDB column types and the same rows in emitted order. Rows are read
the way tools/check.py reads them (all of a dump's parquet files, in
name order, stringified cell by cell). It also byte-compares the two
`oracle_sql.json` files, which shows that no oracle changed; when they
differ it names each query whose oracle text differs or is missing on
one side.

Prints one line per difference and a summary line; exits 1 on any
difference, 0 when every dump and the oracle file are identical.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import df_strs  # noqa: E402  (same cell rendering as the gate)


def query_dirs(out):
    return {d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))}


def read_dump(con, out, name):
    """(columns, types, rows) of one query's dump, or None if no parquet."""
    files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
    if not files:
        return None
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    return rel.columns, [str(t) for t in rel.types], df_strs(df)


def compare(con, a_out, b_out, name):
    """The differences between the two dumps of `name`, one line each."""
    a, b = read_dump(con, a_out, name), read_dump(con, b_out, name)
    if a is None or b is None:
        side = "parent" if a is None else "change"
        return [f"{name}: no parquet on the {side} side"]
    (a_cols, a_types, a_rows), (b_cols, b_types, b_rows) = a, b
    if a_cols != b_cols:
        return [f"{name}: columns parent={a_cols} change={b_cols}"]
    if a_types != b_types:
        return [f"{name}: types parent={a_types} change={b_types}"]
    if len(a_rows) != len(b_rows):
        return [f"{name}: rowcount parent={len(a_rows)} change={len(b_rows)}"]
    bad = [i for i, (x, y) in enumerate(zip(a_rows, b_rows)) if x != y]
    if bad:
        i = bad[0]
        return [f"{name}: {len(bad)}/{len(a_rows)} rows differ; first at "
                f"row {i}: parent={a_rows[i]} change={b_rows[i]}"]
    return []


def oracle_diffs(a_bytes, b_bytes):
    """One line per query key whose oracle text differs or that one
    side lacks, or one line if either file is not JSON."""
    try:
        a, b = json.loads(a_bytes), json.loads(b_bytes)
    except ValueError as e:
        return [f"oracle_sql.json: not JSON ({e})"]
    out = []
    for key in sorted(a.keys() | b.keys()):
        if key not in b:
            out.append(f"oracle {key}: missing on the change side")
        elif key not in a:
            out.append(f"oracle {key}: missing on the parent side")
        elif a[key] != b[key]:
            out.append(f"oracle {key}: text differs")
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a_out, b_out = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    diffs = []
    a_dirs, b_dirs = query_dirs(a_out), query_dirs(b_out)
    for name in sorted(a_dirs ^ b_dirs):
        side = "change" if name in a_dirs else "parent"
        diffs.append(f"{name}: no query directory on the {side} side")
    same = sorted(a_dirs & b_dirs)
    for name in same:
        diffs.extend(compare(con, a_out, b_out, name))

    oracle_files = [os.path.join(o, "oracle_sql.json") for o in (a_out, b_out)]
    if not all(os.path.isfile(f) for f in oracle_files):
        diffs.append("oracle_sql.json: missing on at least one side")
    else:
        with open(oracle_files[0], "rb") as fa, open(oracle_files[1], "rb") as fb:
            a_bytes, b_bytes = fa.read(), fb.read()
        if a_bytes != b_bytes:
            diffs.append("oracle_sql.json: bytes differ")
            diffs.extend(oracle_diffs(a_bytes, b_bytes))

    for d in diffs:
        print(f"DIFF  {d}")
    print(f"== {len(same)} dumps compared, {len(diffs)} differences ==")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()

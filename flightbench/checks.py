"""Correctness checks of the benchmark's results, run outside the timed
region. Each returns a list of problems; an empty list means the result
passed."""
import glob
import math
import os

import stats


def _same(a, b):
    return (math.isnan(a) and math.isnan(b)) or a == b


def check_delay(lines, expected):
    """`airport TAB arr,dep` lines against {airport: (arr, dep)}; values
    compared as parsed doubles (exact, NaN equal to NaN)."""
    got = {}
    for line in lines:
        key, _, val = line.rpartition("\t")
        arr, dep = val.split(",")
        got[key] = (float(arr), float(dep))
    problems = []
    if sorted(got) != sorted(expected):
        problems.append(f"Delay keys differ: got {len(got)}, expected {len(expected)}")
    for k in sorted(set(got) & set(expected)):
        if not (_same(got[k][0], expected[k][0]) and _same(got[k][1], expected[k][1])):
            problems.append(f"Delay {k}: got {got[k]}, expected {expected[k]}")
    if [line.rpartition("\t")[0] for line in lines] != sorted(got):
        problems.append("Delay output is not key-sorted")
    return problems


def check_late(lines, expected):
    """`airline,year TAB pct` lines against {"airline,year": pct}."""
    got = {}
    for line in lines:
        key, _, val = line.rpartition("\t")
        got[key] = float(val)
    problems = []
    if sorted(got) != sorted(expected):
        problems.append(f"Late keys differ: got {sorted(got)[:3]}..., "
                        f"expected {sorted(expected)[:3]}...")
    for k in sorted(set(got) & set(expected)):
        if not _same(got[k], expected[k]):
            problems.append(f"Late {k}: got {got[k]}, expected {expected[k]}")
    if not expected:
        problems.append("Late expected no rows: the generator lost its late airlines")
    return problems


def oracle_connection(tables_dir):
    """A DuckDB connection with one view per generated table."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, f)}'")
    return con


def check_oracle(con, result_dir, sql):
    """Spark's result (Parquet, emitted order) against the DuckDB oracle:
    same columns, same logical types, same cells row by row."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return ["no result written"]
    srel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    orel = con.sql(sql)
    if srel.columns != orel.columns:
        return [f"columns spark={srel.columns} oracle={orel.columns}"]
    s_types = [str(t) for t in srel.types]
    o_types = [str(t) for t in orel.types]
    if s_types != o_types:
        return [f"types spark={s_types} oracle={o_types}"]
    srows, orows = srel.fetchall(), orel.fetchall()
    if len(srows) != len(orows):
        return [f"rows spark={len(srows)} oracle={len(orows)}"]
    if stats.rows_digest(srows) != stats.rows_digest(orows):
        bad = next(i for i, (a, b) in enumerate(zip(srows, orows))
                   if [stats.cell_str(x) for x in a] != [stats.cell_str(x) for x in b])
        return [f"row {bad} differs: spark={srows[bad]} oracle={orows[bad]}"]
    return []

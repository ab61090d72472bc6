#!/usr/bin/env python3
"""The DuckDB oracle compare for a graft.Verify dump.

Runs every entry of <dumpDir>/oracle_sql.json against the scale-factor
tables in <sfDir> and compares the result with the dumped parquet rows
in <dumpDir>/<name>/:

  - column names and dtypes, columns sorted by name (the dump is read
    with pandas, the oracle fetched from DuckDB as pandas, so an int32
    column against an int64 one is a mismatch);
  - the rows, sorted NULL-safely (NULLs and NaNs compare equal to each
    other and sort first) and compared value for value.

DuckDB runs with a 4 GB memory limit and 2 threads, and spills to a
fresh temp directory capped at 20 GB and removed at exit.

Usage:
  python3 scripts/check_queries.py <sfDir> <dumpDir> [name ...]

Prints one line per entry (MATCH / MISMATCH / ERROR / MISSING) and a
summary, and exits 1 on any mismatch, any query error, or any oracle
entry with no dump directory.
"""
import argparse
import glob
import json
import math
import os
import shutil
import sys
import tempfile
import time

import duckdb
import pandas as pd

MEMORY_LIMIT = "4GB"
THREADS = 2
MAX_TEMP = "20GB"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value(v):
    """One cell as a comparable, hashable Python value (None for NULL)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, value(x)) for k, x in v.items()))
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def rows(df):
    """The frame's rows, columns by name, in a NULL-safe sorted order."""
    cols = sorted(df.columns)
    out = [tuple(value(v) for v in r)
           for r in df[cols].itertuples(index=False, name=None)]
    return sorted(out, key=lambda r: tuple((v is not None, repr(v))
                                           for v in r))


def schema(df):
    return [(c, str(df[c].dtype)) for c in sorted(df.columns)]


def compare(con, name, sql, dump_dir):
    """(status, detail) for one oracle entry."""
    path = os.path.join(dump_dir, name)
    if not os.path.isdir(path):
        return "MISSING", "no dump directory"
    try:
        got = pd.concat([pd.read_parquet(f) for f in
                         sorted(glob.glob(os.path.join(path, "*.parquet")))],
                        ignore_index=True)
    except Exception as e:  # no part file, or an unreadable one
        return "ERROR", f"dump: {type(e).__name__}: {e}".splitlines()[0]
    try:
        want = con.execute(sql).df()
    except Exception as e:  # the oracle itself failed
        return "ERROR", f"oracle: {type(e).__name__}: {e}".splitlines()[0]
    if schema(got) != schema(want):
        return "MISMATCH", f"schema: dump {schema(got)} oracle {schema(want)}"
    a, b = rows(got), rows(want)
    if len(a) != len(b):
        return "MISMATCH", f"rows: dump {len(a)} oracle {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return "MISMATCH", f"row {i}: dump {x} oracle {y}"
    return "MATCH", f"{len(a)} rows"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("dump_dir")
    ap.add_argument("names", nargs="*",
                    help="entries to check (default: every oracle entry)")
    args = ap.parse_args()

    oracle = json.load(open(os.path.join(args.dump_dir, "oracle_sql.json")))
    names = args.names or sorted(oracle)
    temp_dir = tempfile.mkdtemp(prefix="graft_duckdb_")
    con = duckdb.connect()
    start = time.time()
    bad = []
    try:
        con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
        con.execute(f"SET threads = {THREADS}")
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute(f"SET max_temp_directory_size = '{MAX_TEMP}'")
        for t in TABLES:
            path = os.path.join(args.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for name in names:
            if name not in oracle:
                status, detail = "ERROR", "no oracle SQL for this entry"
            else:
                t0 = time.time()
                status, detail = compare(con, name, oracle[name],
                                         args.dump_dir)
                detail += f" ({time.time() - t0:.1f} s)"
            print(f"{name}: {status} {detail}", flush=True)
            if status != "MATCH":
                bad.append(name)
    finally:
        con.close()
        shutil.rmtree(temp_dir, ignore_errors=True)
    n = len(names)
    print(f"{n - len(bad)}/{n} MATCH in {time.time() - start:.1f} s"
          + (f"; not matching: {', '.join(bad)}" if bad else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

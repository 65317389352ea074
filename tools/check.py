#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
       python3 tools/check.py --against <parentOut> <changeOut>

Reads each <verifyOutDir>/<name>/ (Spark parquet result), runs the matching
SQL from <verifyOutDir>/oracle_sql.json in DuckDB against views over the
sfDir parquet tables, and compares: columns sorted by name, rows sorted,
values exact. Exit code = number of mismatched queries.

--against compares two Verify dumps query by query with the same
canonical form instead of against DuckDB (the check for queries whose
oracle is too slow to run): a query missing or without output on either
side counts as a mismatch. Exit code = number of mismatched queries.
"""
import json
import sys
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def diff(got: pd.DataFrame, want: pd.DataFrame):
    """None when the canonical forms match, else a one-line reason
    (plus the first differing row for value mismatches)."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    # The driver's hash compare is dtype-sensitive across the
    # int/float divide (it normalizes int widths and datetime units,
    # not int-vs-float): a DuckDB HUGEINT column (sum of BIGINT)
    # reaching pandas as float64 hash-fails even when every value is
    # integral. Mirror that here so the local gate catches it.
    mixed = [c for c in g.columns
             if pd.api.types.is_integer_dtype(g[c]) != pd.api.types.is_integer_dtype(w[c])
             and pd.api.types.is_numeric_dtype(g[c]) and pd.api.types.is_numeric_dtype(w[c])]
    if mixed:
        return (f"int-vs-float dtype mismatch {[(c, str(g[c].dtype), str(w[c].dtype)) for c in mixed]}"
                " (driver hash would differ; CAST the oracle column)")
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
        return None
    except AssertionError as e:
        msg = str(e).splitlines()[-1] if str(e) else "value mismatch"
        neq = (g != w) & ~(g.isna() & w.isna())
        if neq.any().any():
            idx = neq.any(axis=1).idxmax()
            msg += f"\n     first diff row {idx}:\n  got  {g.loc[idx].to_dict()}\n  want {w.loc[idx].to_dict()}"
        return msg


def dumps(out_dir):
    return sorted(d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d)))


def read_dump(out_dir, name):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(p) for p in sorted(files)], ignore_index=True)


def against(parent_out, change_out):
    parent, change = set(dumps(parent_out)), set(dumps(change_out))
    names = sorted(parent | change)
    failures = 0
    for name in names:
        if name not in change or name not in parent:
            side = "change" if name not in change else "parent"
            print(f"FAIL {name}: missing in {side}")
            failures += 1
            continue
        got, want = read_dump(change_out, name), read_dump(parent_out, name)
        if got is None or want is None:
            side = "change" if got is None else "parent"
            print(f"FAIL {name}: no spark output in {side}")
            failures += 1
            continue
        reason = diff(got, want)
        if reason:
            print(f"FAIL {name}: {reason}")
            failures += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
    print(f"{len(names) - failures}/{len(names)} queries identical")
    sys.exit(failures)


def main():
    if sys.argv[1] == "--against":
        against(sys.argv[2], sys.argv[3])
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = 0
    names = dumps(out_dir)
    for name in names:
        got = read_dump(out_dir, name)
        if got is None:
            print(f"FAIL {name}: no spark output")
            failures += 1
            continue
        if name not in oracle:
            print(f"SKIP {name}: no oracle (rows={len(got)})")
            continue
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            failures += 1
            continue
        reason = diff(got, want)
        if reason:
            print(f"FAIL {name}: {reason}")
            failures += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
    print(f"{len(names) - failures}/{len(names)} queries match")
    sys.exit(failures)


if __name__ == "__main__":
    main()

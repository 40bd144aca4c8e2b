#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, registers each <sfDir>/<table>.parquet
as a DuckDB view, runs every oracle SQL, and compares against the Spark
result parquet at <verifyOutDir>/<name>/ — columns sorted by name, values
normalized (timestamps → ns ints, floats compared exactly after float64
cast, Decimal → float64). Exit code 1 if any query mismatches.

DuckDB spills to a fresh directory under the system temp dir, removed at
exit, and may use at most TEMP_LIMIT there: an oracle that would spill
past it prints DUCK-ERR and the run goes on with the next query.
"""
import json
import shutil
import sys
import tempfile
from pathlib import Path

import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
TEMP_LIMIT = "8GB"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            # Decimal / lists / dates / None-mix
            head = s.dropna()
            if len(head) and type(head.iloc[0]).__name__ == "date":
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
            elif len(head) and type(head.iloc[0]).__name__ == "Decimal":
                df[c] = s.astype("float64")
            elif len(head) and isinstance(head.iloc[0], (list, np.ndarray)):
                def conv(v):
                    if v is None:
                        return None
                    arr = np.asarray(v)
                    if arr.dtype.kind in "fiu":
                        return tuple(arr.astype("float64").round(6))
                    return tuple(str(x) for x in arr)
                df[c] = s.apply(conv)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("float64")  # int32 vs int64 parity
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("object")
    return df.reset_index(drop=True)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])  # optional: check just these query names
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    spill = tempfile.mkdtemp(prefix="check_oracle_duckdb_")
    try:
        failed = check(sf_dir, out_dir, oracle, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    print(f"\n{len(oracle) - len(failed)}/{len(oracle)} oracled queries OK")
    sys.exit(1 if failed else 0)


def check(sf_dir, out_dir, oracle, spill):
    """Run every oracle against its Spark output; returns the failed names."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute(f"SET max_temp_directory_size = '{TEMP_LIMIT}'")
    for t in TABLES:
        p = Path(sf_dir, f"{t}.parquet")
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    failed = []
    for name, sql in sorted(oracle.items()):
        spark_path = Path(out_dir, name)
        if not spark_path.exists():
            print(f"MISSING-SPARK {name}")
            failed.append(name)
            continue
        try:
            duck = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"DUCK-ERR {name}: {e}")
            failed.append(name)
            continue
        import glob
        parts = sorted(glob.glob(str(spark_path / "*.parquet")))
        spark = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        a, b = normalize(spark), normalize(duck)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns spark={list(a.columns)} duck={list(b.columns)}")
            failed.append(name)
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}")
            failed.append(name)
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            print(f"OK   {name} ({len(a)} rows)")
        except AssertionError as e:
            print(f"FAIL {name}: {str(e).splitlines()[-1][:300]}")
            # show first diff rows
            for c in a.columns:
                neq = ~((a[c] == b[c]) | (a[c].isna() & b[c].isna()))
                if neq.any():
                    i = int(np.argmax(neq.values))
                    print(f"  col={c} row={i} spark={a[c].iloc[i]!r} duck={b[c].iloc[i]!r}")
                    break
            failed.append(name)
    con.close()
    return failed


if __name__ == "__main__":
    main()

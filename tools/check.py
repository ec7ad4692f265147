#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, runs each SQL in DuckDB with the
sfDir parquet tables registered as views, loads the Spark result parquet
from <verifyOutDir>/<name>/, sorts columns by name + rows by all
columns, and compares cell-exactly (floats bitwise after float64 cast).
Each line whose query ran its oracle SQL ends with the SQL's DuckDB
seconds, and the summary is followed by the 5 slowest oracle queries.
"""
import sys, os, json, glob, time
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # bytes (e.g. binary cols) -> hex strings for comparability
            if df[c].map(lambda v: isinstance(v, (bytes, bytearray))).any():
                df[c] = df[c].map(
                    lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v)
            if df[c].map(lambda v: isinstance(v, (list, np.ndarray))).any():
                df[c] = df[c].map(
                    lambda v: json.dumps(list(v)) if isinstance(v, (list, np.ndarray)) else v)
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        na_position="first").reset_index(drop=True)
    return df


def took(s: float) -> str:
    """The suffix naming a query's DuckDB oracle time."""
    return f"  (oracle {s:.3f} s)"


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    n_pass = n_fail = 0
    oracle_s = {}
    result_dirs = sorted(
        d for d in os.listdir(out_dir)
        if os.path.isdir(os.path.join(out_dir, d)))
    for name in result_dirs:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output parquet"); n_fail += 1
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)],
                             ignore_index=True)
        if name not in oracles:
            ok = len(spark_df) > 0
            print(f"{'ok  ' if ok else 'FAIL'} {name}: rows-only check "
                  f"({len(spark_df)} rows)")
            n_pass += ok; n_fail += (not ok)
            continue
        t0 = time.perf_counter()
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            oracle_s[name] = time.perf_counter() - t0
            print(f"FAIL {name}: oracle SQL error: {e}{took(oracle_s[name])}")
            n_fail += 1
            continue
        oracle_s[name] = time.perf_counter() - t0
        secs = took(oracle_s[name])
        a, b = normalize(spark_df), normalize(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs "
                  f"{list(b.columns)}{secs}")
            n_fail += 1; continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}{secs}")
            n_fail += 1
            continue
        mismatch = None
        for c in a.columns:
            av, bv = a[c], b[c]
            if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                av = av.astype("float64"); bv = bv.astype("float64")
                neq = ~((av == bv) | (av.isna() & bv.isna()))
            elif pd.api.types.is_datetime64_any_dtype(av) or \
                    pd.api.types.is_datetime64_any_dtype(bv):
                av = pd.to_datetime(av); bv = pd.to_datetime(bv)
                neq = ~((av == bv) | (av.isna() & bv.isna()))
            else:
                av = av.astype(str); bv = bv.astype(str)
                neq = av != bv
            if neq.any():
                i = int(np.argmax(neq.values))
                mismatch = (c, i, a[c].iloc[i], b[c].iloc[i])
                break
        if mismatch:
            c, i, x, y = mismatch
            print(f"FAIL {name}: col {c} row {i}: spark={x!r} "
                  f"duck={y!r}{secs}")
            n_fail += 1
        else:
            # dtype parity warning (driver may compare schemas strictly;
            # ns-vs-us timestamps and date-as-object are pandas artifacts)
            warns = []
            for c in a.columns:
                x, y = str(spark_df[c].dtype), str(duck_df[c].dtype) \
                    if c in duck_df.columns else ("", "")
                if x != y and not (
                        x.startswith("datetime") and y.startswith("datetime")) \
                        and not (x == "object" and y.startswith("datetime")):
                    warns.append(f"{c}:{x}!={y}")
            tag = f"  [dtype warn: {', '.join(warns)}]" if warns else ""
            print(f"ok   {name}: {len(a)} rows hash-match{tag}{secs}")
            n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    if oracle_s:
        print("slowest oracle SQL:")
        for name, s in sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]:
            print(f"  {s:8.3f} s  {name}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

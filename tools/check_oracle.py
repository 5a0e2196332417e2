#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>

Reads each <out_dir>/<name> parquet (Spark result) and compares it against
the DuckDB result of oracle_sql.json[<name>] run over the sf_dir tables:
column names (sorted), row count, and exact values after sorting rows.
Each result line ends with the seconds DuckDB spent on that entry's
oracle query; a summary of the ten slowest follows the pass/fail count.
Entries whose oracle SQL text is identical (a streaming entry and the
batch entry it mirrors) run it once: later ones compare against a copy
of the first result and end with `[duckdb reused from <entry>]`.
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd
import numpy as np

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        # Date/datetime columns arrive as datetime64 from DuckDB but as
        # object(datetime.date) from Spark parquet — normalize BOTH to
        # ISO strings so the local tool agrees with the driver.
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            import datetime
            if df[c].map(lambda v: isinstance(v, datetime.date)).all() and len(df[c]):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]").astype(str)
            else:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)

def took(duck_s, name, reused):
    if name in reused:
        return f" [duckdb reused from {reused[name]}]"
    return f" [duckdb {duck_s[name]:.2f} s]" if name in duck_s else ""

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    n_pass = n_fail = 0
    duck_s = {}
    repeated = {q for q in oracle.values() if list(oracle.values()).count(q) > 1}
    by_sql = {}  # repeated oracle SQL text -> (first entry, its DuckDB result)
    reused = {}  # entry -> the entry whose result it reused
    for name, sql in sorted(oracle.items()):
        spark_files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not spark_files:
            print(f"FAIL {name}: no spark output");  n_fail += 1;  continue
        try:
            got = normalize(pd.concat([pd.read_parquet(f) for f in spark_files]))
            if sql in by_sql:
                reused[name], raw = by_sql[sql]
            else:
                t0 = time.perf_counter()
                raw = con.execute(sql).df()
                duck_s[name] = time.perf_counter() - t0
                if sql in repeated:
                    by_sql[sql] = (name, raw)
            want = normalize(raw.copy())
        except Exception as e:
            print(f"FAIL {name}: {e}{took(duck_s, name, reused)}");  n_fail += 1;  continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}{took(duck_s, name, reused)}")
            n_fail += 1;  continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}{took(duck_s, name, reused)}");  n_fail += 1;  continue
        mismatch = None
        for c in got.columns:
            a, b = got[c].to_numpy(), want[c].to_numpy()
            if a.dtype.kind == 'f' or b.dtype.kind == 'f':
                eq = (a == b) | (pd.isna(a) & pd.isna(b))
            else:
                eq = (a == b) | (pd.isna(pd.Series(a)) & pd.isna(pd.Series(b))).to_numpy()
            if not eq.all():
                i = int(np.argmin(eq))
                mismatch = f"col {c} row {i}: spark={a[i]!r} duckdb={b[i]!r} (dtypes {a.dtype}/{b.dtype})"
                break
        if mismatch:
            print(f"FAIL {name}: {mismatch}{took(duck_s, name, reused)}");  n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows){took(duck_s, name, reused)}");  n_pass += 1
    # queries without oracle: just report row existence
    print(f"== {n_pass} pass / {n_fail} fail ==")
    slowest = sorted(duck_s.items(), key=lambda kv: -kv[1])[:10]
    print(f"duckdb: {sum(duck_s.values()):.1f} s over {len(duck_s)} queries "
          f"({len(reused)} results reused); slowest 10:")
    for name, secs in slowest:
        print(f"  {secs:8.1f} s  {name}")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()

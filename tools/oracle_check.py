#!/usr/bin/env python3
"""Local proxy for the driver's correctness gate: run graft.Verify first
(sbt "runMain graft.Verify <sfdir> <outdir>"), then this script compares each
<outdir>/<name> parquet against the DuckDB oracle in oracle_sql.json —
rows / schema (column names) / value-hash with columns sorted by name.
Usage: oracle_check.py <sfdir> <outdir> [name ...]
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import hashlib

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    t = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
# a misspelled key must not shrink the check silently into a green one
unknown = sorted(only - set(oracle))
if unknown:
    print(f"unknown keys (not in oracle_sql.json): {', '.join(unknown)}",
          file=sys.stderr)
    sys.exit(2)

def canon(df):
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(f"{v:.6f}")
            elif v is None or v != v:
                vals.append("NULL")
            elif hasattr(v, "strftime"):
                # normalize date/datetime representations: Spark DATE
                # columns arrive as datetime.date objects while DuckDB
                # yields pandas Timestamps — str() of those differ
                # ('2024-01-01' vs '2024-01-01 00:00:00') even when the
                # values match; format both as a full timestamp
                try:
                    vals.append(v.strftime("%Y-%m-%d %H:%M:%S"))
                except Exception:
                    vals.append(v.strftime("%Y-%m-%d") + " 00:00:00")
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return hashlib.md5("\n".join(sorted(rows)).encode()).hexdigest(), df

fails = 0
for name in sorted(oracle):
    if only and name not in only:
        continue
    respath = f"{outdir}/{name}"
    if not os.path.isdir(respath):
        print(f"{name:25s} MISSING spark result"); fails += 1; continue
    spark_df = pd.read_parquet(respath)
    try:
        ora_df = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"{name:25s} ORACLE ERROR: {e}"); fails += 1; continue
    rows_ok = len(spark_df) == len(ora_df)
    schema_ok = sorted(spark_df.columns) == sorted(ora_df.columns)
    h1, c1 = canon(spark_df)
    h2, c2 = canon(ora_df)
    ok = rows_ok and schema_ok and h1 == h2
    dt = ""
    if not ok:
        dt = f" spark_dtypes={dict(c1.dtypes.astype(str))} oracle_dtypes={dict(c2.dtypes.astype(str))}"
        fails += 1
    print(f"{name:25s} rows={rows_ok}({len(spark_df)}/{len(ora_df)}) schema={schema_ok} hash={h1==h2}{dt}")
print(f"\n{'FAIL' if fails else 'ALL GREEN'} ({fails} failures)")
sys.exit(1 if fails else 0)

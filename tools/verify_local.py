"""Local stand-in for the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() twin on DuckDB
at the given sf, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by all
columns, values stringified with stable float formatting).

Usage: python tools/verify_local.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

from social_and_media_data_ingestion_spark import get_spark
from social_and_media_data_ingestion_spark.plans.tables import TABLES

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.map(lambda v: f"{v:.6f}" if pd.notna(v) else "NULL")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f").fillna("NULL")
        else:
            df[c] = s.map(lambda v: "NULL" if v is None or v is pd.NA else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    from social_and_media_data_ingestion_spark.plans.queries import registry

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    only = set(sys.argv[2:])
    n_pass = n_fail = 0
    for name, d in registry().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = d.spark(spark, SF_DIR).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            continue
        if d.oracle is None:
            print(f"ROWS {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            odf = con.execute(d.oracle).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle raised")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        if not problems:
            cs, co = canon(sdf), canon(odf)
            if not cs.equals(co):
                neq = (cs != co).any(axis=1)
                problems.append(
                    f"values differ in {int(neq.sum())} rows; first:\nspark:\n{cs[neq].head(3)}\noracle:\n{co[neq].head(3)}"
                )
        if problems:
            n_fail += 1
            print(f"FAIL {name}: " + " | ".join(problems))
        else:
            n_pass += 1
            print(f"PASS {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

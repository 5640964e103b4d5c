"""Local stand-in for the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() twin on DuckDB
at each sf, compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted by all columns, values
stringified with stable float formatting). Each run writes its
(query, sf, green) results into LOCAL_EVIDENCE.json under the query's
closure hash (tools/stale_rows.py), skipping a query whose hash changed
while it ran.

Usage: python tools/verify_local.py [sf_dir ...] [query_name ...]
Arguments naming a directory are sf dirs (default: sf0.001, sf0.01 and
sf0.1 of the testdata); the rest select queries (default: all).
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

import stale_rows as S
from social_and_media_data_ingestion_spark import get_spark
from social_and_media_data_ingestion_spark.plans.tables import TABLES


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


def check(spark, con, sf_dir: str, name: str, d) -> bool:
    t0 = time.time()
    try:
        sdf = d.spark(spark, sf_dir).toPandas()
    except Exception:
        print(f"FAIL {name}: spark raised")
        traceback.print_exc()
        return False
    if d.oracle is None:  # green only with rows, as in stale_rows._green
        print(f"ROWS {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
        return len(sdf) > 0
    try:
        odf = con.execute(d.oracle).fetchdf()
    except Exception:
        print(f"FAIL {name}: oracle raised")
        traceback.print_exc()
        return False
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
        print(f"FAIL {name}: " + " | ".join(problems))
        return False
    print(f"PASS {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
    return True


def main() -> int:
    from social_and_media_data_ingestion_spark.plans.queries import registry

    args = sys.argv[1:]
    sf_dirs = [a.rstrip("/") for a in args if os.path.isdir(a)]
    sf_dirs = sf_dirs or [os.path.join(S.TESTDATA, sf) for sf in S.LOCAL_SFS]
    only = {a for a in args if not os.path.isdir(a)}
    reg = registry()
    unknown = sorted(only - set(reg))
    if unknown:  # a typo'd query name or SF dir would otherwise run nothing
        print(f"neither a directory nor a registry query: {' '.join(unknown)}")
        return 2

    before = S.closure_hashes(S.Snapshot(S.WORKTREE))
    spark = get_spark()
    results: list[tuple[str, str, bool]] = []
    for sf_dir in sf_dirs:
        print(f"== {sf_dir}")
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name, d in reg.items():
            if not only or name in only:
                ok = check(spark, con, sf_dir, name, d)
                results.append((name, os.path.basename(sf_dir), ok))
    after = S.closure_hashes(S.Snapshot(S.WORKTREE))
    n_written = S.record_local(results, before, after)

    n_fail = sum(not ok for _, _, ok in results)
    print(f"\n{len(results) - n_fail} pass, {n_fail} fail")
    print(f"{n_written} of {len(results)} rows recorded in {S.LOCAL_EVIDENCE}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

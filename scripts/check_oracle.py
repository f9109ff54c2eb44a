"""Mirror of the driver's t2 correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, column
names, and order-insensitive values.

Usage: python scripts/check_oracle.py [-k substring] [--sf DIR]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns sorted by name, rows sorted
    by all columns, values normalized."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            # normalize bytes/lists for comparison
            df[c] = s.map(lambda v: str(v))
        elif str(s.dtype).startswith("float"):
            df[c] = s.round(9)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _family(dtype) -> str:
    """Coarse dtype family. The driver's value-hash is TYPE-sensitive:
    an int64 Spark column against a float64 oracle column hash-mismatches
    even when every value is numerically identical (the r5 t9 failure —
    DuckDB types a windowed SUM(BIGINT) as HUGEINT, which fetchdf()
    renders float64). Families must MATCH before values are compared."""
    s = str(dtype).lower()
    if s.startswith("bool"):
        return "bool"
    if "int" in s:
        return "int"
    if s.startswith("float") or s == "double":
        return "float"
    if s.startswith("datetime") or s.startswith("timestamp"):
        return "datetime"
    return "object"


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    scols, ocols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if scols != ocols:
        problems.append(f"columns spark={scols} oracle={ocols}")
        return problems
    a, b = canon(spark_pdf), canon(oracle_pdf)
    if len(a) == len(b):
        for c in a.columns:
            fa, fb = _family(a[c].dtype), _family(b[c].dtype)
            # flagged even for ZERO-row results: the driver's schema
            # check is row-count-independent, so an empty frame with
            # dtype drift must still go red locally (ADVICE r6)
            if fa != fb:
                problems.append(
                    f"col {c}: dtype mismatch spark={a[c].dtype} "
                    f"oracle={b[c].dtype} ({fa} vs {fb}) — numerically "
                    f"equal values would still fail the driver's "
                    f"type-sensitive hash"
                )
                continue
            if fa == "float" and fb == "float":
                av, bv = a[c].astype(float), b[c].astype(float)
                bad = ~(
                    (av.isna() & bv.isna())
                    | (abs(av - bv) <= 1e-9 + 1e-9 * abs(bv))
                )
                if bad.any():
                    i = bad.idxmax()
                    problems.append(f"col {c}: {bad.sum()} value diffs, e.g. row {i}: "
                                    f"{av[i]!r} vs {bv[i]!r}")
            else:
                eq = (a[c].astype(str) == b[c].astype(str)) | (a[c].isna() & b[c].isna())
                if not eq.all():
                    i = (~eq).idxmax()
                    problems.append(f"col {c}: {(~eq).sum()} value diffs, e.g. row {i}: "
                                    f"{a[c][i]!r} vs {b[c][i]!r}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-k", default="", help="only queries containing this substring")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--partitions", type=int, default=None,
                    help="spark.sql.shuffle.partitions (default: session "
                         "factory's 32) — rerun the sweep at e.g. 5 and 7 "
                         "to verify partition-count invariance")
    args = ap.parse_args()

    from configurable_etl_python_repo_spark import get_spark
    from configurable_etl_python_repo_spark.catalog import ORACLES, QUERIES

    spark = get_spark("check_oracle", shuffle_partitions=args.partitions)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    names = [n for n in QUERIES if args.k in n]
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, args.sf).toPandas()
            t_spark = time.time() - t0
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in ORACLES:
            print(f"ROWS {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        t1 = time.time()
        try:
            odf = con.execute(ORACLES[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        secs = f"[spark {t_spark:.1f}s, duckdb {time.time() - t1:.1f}s]"
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems) + f" {secs}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows {secs}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, "
          f"{len(names)} total")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet, compare row count, schema (column names), and
order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

# the checkout this tool lives in, not an installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"create or replace view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_df, oracle_df) -> list[str]:
    errs = []
    s, o = normalize(spark_df), normalize(oracle_df)
    if list(s.columns) != list(o.columns):
        errs.append(f"schema mismatch: spark={list(s.columns)} oracle={list(o.columns)}")
        return errs
    if len(s) != len(o):
        errs.append(f"row count mismatch: spark={len(s)} oracle={len(o)}")
    if not errs:
        neq = (s != o) & ~(s.isna() & o.isna())
        if neq.any().any():
            bad_cols = [c for c in s.columns if neq[c].any()]
            i = neq.any(axis=1).idxmax()
            errs.append(
                f"value mismatch in cols {bad_cols}; first diff row {i}: "
                f"spark={s.iloc[i].to_dict()} oracle={o.iloc[i].to_dict()}"
            )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"noracle {name}: rows={len(sdf)} (rows-only check)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        errs = compare(name, sdf, odf)
        if errs:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(errs))
        else:
            print(f"ok    {name}: rows={len(sdf)}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

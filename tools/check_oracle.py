#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at sf0.01, then compares row count, column
names, and values (column-name-sorted, row-sorted, exact where possible).

Usage: python tools/check_oracle.py [--virgin] [name_prefix ...]

``--virgin`` replicates the driver harness: a bare SparkSession on
``local[$SPARK_GRAFT_CPUS]`` (default 32) built without any of
session.py's confs, and with a deliberately non-UTC session
timezone — every gate entry must pass there too (load_table sets the
events-read confs and UTC at runtime; nothing may depend on the builder).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from gfw_data_api_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        series = df[col]
        if pd.api.types.is_datetime64_any_dtype(series):
            df[col] = series.astype("datetime64[us]").astype(str)
        elif series.dtype == object:
            df[col] = series.map(lambda v: str(v) if v is not None else None)
        elif pd.api.types.is_float_dtype(series):
            df[col] = series.astype("float64")
        elif pd.api.types.is_integer_dtype(series):
            df[col] = series.astype("int64")
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count {len(spark_df)} != {len(oracle_df)}")
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(f"columns {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}")
        return problems
    a, b = canonicalize(spark_df), canonicalize(oracle_df)
    if len(a) != len(b):
        return problems
    for col in a.columns:
        sa, sb = a[col], b[col]
        if pd.api.types.is_float_dtype(sa) and pd.api.types.is_float_dtype(sb):
            mism = ~((sa.isna() & sb.isna()) | (sa == sb))
            if mism.any():
                close = all(
                    math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)
                    for x, y in zip(sa[mism], sb[mism])
                    if not (pd.isna(x) or pd.isna(y))
                )
                idx = mism.idxmax()
                problems.append(
                    f"col {col}: {int(mism.sum())} mismatches"
                    f"{' (within 1e-9 — hash would still differ!)' if close else ''} "
                    f"e.g. {sa[idx]!r} vs {sb[idx]!r}"
                )
        else:
            eq = (sa == sb) | (sa.isna() & sb.isna())
            if not eq.all():
                idx = (~eq).idxmax()
                problems.append(
                    f"col {col}: {int((~eq).sum())} mismatches e.g. {sa[idx]!r} vs {sb[idx]!r}"
                )
    return problems


def main() -> int:
    argv = sys.argv[1:]
    virgin = "--virgin" in argv
    prefixes = [a for a in argv if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")
    if virgin:
        from pyspark.sql import SparkSession

        # local[N] with N shuffle partitions, N = SPARK_GRAFT_CPUS
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("oracle-check-virgin")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.sql.session.timeZone", "America/Chicago")
            .config("spark.driver.memory", "8g")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for table in TABLES:
        con.sql(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
        )

    qmap = entrymod.queries()
    omap = entrymod.oracle_sql()
    failures = 0
    for name, fn in qmap.items():
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(exc).__name__}: {exc}")
            failures += 1
            continue
        oracle = omap.get(name)
        if oracle is None:
            print(f"ok?   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.sql(oracle).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(exc).__name__}: {exc}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL  {name} ({len(sdf)} vs {len(odf)} rows):")
            for p in problems:
                print(f"      - {p}")
        else:
            print(f"PASS  {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    print("=" * 60)
    print("ALL PASS" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

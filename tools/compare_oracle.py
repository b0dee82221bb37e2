"""Local replica of the driver's correctness gate: run each QUERIES entry in
Spark and its ORACLES SQL in DuckDB over the same sf dir, compare row count,
column names, and order-insensitive values (columns sorted by name)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from coco_search_spark.entry_queries import ORACLES, QUERIES, TABLES
from coco_search_spark.session import get_spark


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(sf_dir: str, only: list[str] | None = None) -> int:
    # bound the driver heap like tests/conftest.py: the session default
    # (48g) lets a full run's JVM grow past a small host's memory
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "12g")
    spark = get_spark(8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            got = canon(fn(spark, sf_dir).toPandas())
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in ORACLES:
            print(f"ok   {name}: rows-only ({len(got)} rows)")
            continue
        try:
            want = canon(con.sql(ORACLES[name]).df())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            failures += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            failures += 1
            continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-9)
            print(f"PASS {name} ({len(got)} rows)")
        except AssertionError as e:
            print(f"FAIL {name}: values differ: {str(e)[:400]}")
            failures += 1
    spark.stop()
    return failures


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    sys.exit(1 if main(sf_dir, only) else 0)

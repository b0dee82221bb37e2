"""Strict replica of the driver's value-hash gate: columns sorted by name,
rows sorted, every value stringified, md5 over the whole frame — NO float
tolerance. A PASS here implies the driver's hash_match=true (up to its exact
stringification rules); a FAIL prints the first differing cell + dtypes.

Usage: python tools/strict_compare.py /root/testdata/sf0.01 [names...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from coco_search_spark.entry_queries import ORACLES, QUERIES, TABLES
from coco_search_spark.session import get_spark


def canon_str(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


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
        if name not in ORACLES:
            print(f"ok   {name}: rows-only")
            continue
        try:
            got_raw = fn(spark, sf_dir).toPandas()
            want_raw = con.sql(ORACLES[name]).df()
        except Exception as e:
            print(f"FAIL {name}: error: {e}")
            failures += 1
            continue
        got, want = canon_str(got_raw), canon_str(want_raw)
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            failures += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            failures += 1
            continue
        if frame_hash(got) == frame_hash(want):
            print(f"PASS {name} ({len(got)} rows, hash-exact)")
            continue
        failures += 1
        neq = (got != want)
        bad_cols = [c for c in got.columns if neq[c].any()]
        print(f"FAIL {name}: value mismatch in {bad_cols}")
        for c in bad_cols[:3]:
            i = int(neq[c].idxmax())
            print(
                f"  {c}[{i}]: spark={got[c][i]} ({got_raw[c.split('.')[0]].dtype if c in got_raw else '?'}) "
                f"vs oracle={want[c][i]} ({want_raw[c].dtype if c in want_raw else '?'})"
            )
    spark.stop()
    return failures


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    sys.exit(1 if main(sf_dir, only) else 0)

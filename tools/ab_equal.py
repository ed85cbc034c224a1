"""Result-equality gate for paired A/B variants (round 12): run two
``build(spark, sf_dir)`` files and compare their results as sorted row
multisets (column names + values).  The DuckDB oracle remains the
authoritative gate for REGISTERED queries; this is the fast in-session
pre-check while a variant is still a /tmp file.

Usage: python tools/ab_equal.py [--sf-dir DIR] old.py new.py
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multi_threaded_mapreduce_framework_spark.session import get_spark
from tools.ab_pair import load_build

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def rows_key(df):
    cols = df.columns
    rows = sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )
    return cols, rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("old")
    ap.add_argument("new")
    args = ap.parse_args()

    spark = get_spark("mtmrf-ab-equal")
    co, ro = rows_key(load_build(args.old)(spark, args.sf_dir))
    cn, rn = rows_key(load_build(args.new)(spark, args.sf_dir))
    if co != cn:
        print(f"COLUMNS DIFFER: {co} vs {cn}")
        sys.exit(1)
    if ro != rn:
        print(f"ROWS DIFFER: {len(ro)} vs {len(rn)} rows")
        for a, b in zip(ro, rn):
            if a != b:
                print(" old:", a)
                print(" new:", b)
                break
        sys.exit(1)
    print(f"EQUAL: {len(ro)} rows, columns {co}")


if __name__ == "__main__":
    main()

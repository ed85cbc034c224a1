"""Paired A/B harness (round 12): alternate two builders in ONE session
on one host, noop-sink timed, and report per-pair ratios plus medians.

Each variant file must define ``build(spark, sf_dir) -> DataFrame``.
Alternation (ABBA ABBA ...) cancels slow-host drift the way the r11
adjudications required — a one-sided burst inflates both sides of the
pairs it lands on.

Usage: python tools/ab_pair.py [--pairs N] [--sf-dir DIR] old.py new.py
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release_query_state, timed_run
from multi_threaded_mapreduce_framework_spark.session import get_spark

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_build(path: str):
    spec = importlib.util.spec_from_file_location(
        os.path.basename(path).removesuffix(".py"), path
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.build


def run_once(spark, build, sf_dir: str) -> float:
    dt = sum(timed_run(spark, build, sf_dir))
    release_query_state(spark)
    return dt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("old")
    ap.add_argument("new")
    args = ap.parse_args()

    spark = get_spark("mtmrf-ab")
    old, new = load_build(args.old), load_build(args.new)
    # untimed warm-up of both plans
    run_once(spark, old, args.sf_dir)
    run_once(spark, new, args.sf_dir)
    olds, news = [], []
    for i in range(args.pairs):
        # ABBA cancels linear drift within each pair of pairs
        first_old = i % 2 == 0
        a = run_once(spark, old if first_old else new, args.sf_dir)
        b = run_once(spark, new if first_old else old, args.sf_dir)
        o, n = (a, b) if first_old else (b, a)
        olds.append(o)
        news.append(n)
        print(f"pair {i}: old={o:.3f}s new={n:.3f}s ratio={n / o:.3f}")
    print(
        f"MEDIANS old={statistics.median(olds):.3f}s "
        f"new={statistics.median(news):.3f}s "
        f"ratio={statistics.median(news) / statistics.median(olds):.3f}"
    )


if __name__ == "__main__":
    main()

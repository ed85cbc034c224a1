"""Per-query optimization profiler (round 11).

For each named query: time builder construction vs the noop action
separately (median of --runs), count Exchange / BatchEvalPython /
ArrowEvalPython / WholeStageCodegen nodes in the formatted plan, and
optionally dump the plan to a file.

Usage: python tools/profile_query.py [--runs N] [--sf-dir DIR]
           [--plans-dir DIR] [--suffix before|after] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release_query_state, timed_run
from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.session import get_spark

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark("mtmrf-profile")
    qs = all_queries()
    for name in args.names:
        q = qs[name]
        # untimed warm-up (bench protocol)
        df = q.builder(spark, args.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = formatted(df)
        n_ex = len(re.findall(r"\bExchange\b", plan))
        n_py = len(re.findall(r"BatchEvalPython|ArrowEvalPython", plan))
        n_arrow = len(re.findall(r"MapInArrow|MapInPandas|FlatMapGroupsIn", plan))
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        b_times, a_times, t_times = [], [], []
        for _ in range(args.runs):
            builder_s, action_s = timed_run(spark, q.builder, args.sf_dir)
            b_times.append(builder_s)
            a_times.append(action_s)
            t_times.append(builder_s + action_s)
        del df
        release_query_state(spark)
        print(
            f"{name}  total={statistics.median(t_times):.3f}s "
            f"builder={statistics.median(b_times):.3f}s "
            f"action={statistics.median(a_times):.3f}s "
            f"exchanges={n_ex} pyeval={n_py} arrow={n_arrow}"
        )


if __name__ == "__main__":
    main()

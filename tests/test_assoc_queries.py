"""Tests for q142-q145: co-purchase pairs without a self-join, PMI
bigrams, incremental aggregate merge, and time-weighted averages."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from multi_threaded_mapreduce_framework_spark.plans import executed_plan
from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.sources import load_table

QUERIES = all_queries()


def test_q142_equals_self_join_but_scans_once(spark, sf_dir):
    df = QUERIES["q142_copurchase_pairs"].builder(spark, sf_dir)
    d = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = d.alias("a")
    b = d.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("p1"), F.asc("p2"))
        .limit(25)
    )
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in naive.collect()]
    # in-row expansion: exactly ONE lineitem scan, no join operator.
    # q142/q150 consume the pair counts through a shared localCheckpoint
    # (one materialization per session), so the shape is asserted on the
    # UNCACHED builder that produces that checkpoint.  (count inside the
    # AQE final plan only — the string repeats the initial plan below it)
    from multi_threaded_mapreduce_framework_spark.queries.t2_assoc import (
        build_copurchase_pair_counts,
    )

    plan = executed_plan(
        build_copurchase_pair_counts(spark, sf_dir)
    ).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_q143_marginal_joins_are_broadcast(spark, sf_dir):
    df = QUERIES["q143_pmi_bigrams"].builder(spark, sf_dir)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    rows = df.collect()
    assert rows, "threshold should keep some collocations"
    # reported PMI respects both declared filters
    assert all(r["cxy"] >= 5 and r["pmi"] >= 0.2 for r in rows)


def test_q144_merge_equals_full_recompute(spark, sf_dir):
    df = QUERIES["q144_incremental_agg_merge"].builder(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    micro = F.expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)")
    full = (
        ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(micro).cast("bigint").alias("sum_micro"),
        )
        .select(
            "event_type",
            "day",
            "cnt",
            "sum_micro",
            F.expr("sum_micro div cnt").cast("bigint").alias("avg_micro"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, full.collect()))


def test_q144_state_table_is_group_bounded(spark, sf_dir, build_dir):
    QUERIES["q144_incremental_agg_merge"].builder(spark, sf_dir).collect()
    state = spark.read.parquet(build_dir(sf_dir, "agg_state"))
    groups = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .distinct()
        .count()
    )
    assert state.count() <= groups  # state size bounded by the group domain


def test_q144_earlier_build_survives_a_rebuild(spark, sf_dir):
    """Each q144 build writes its partials to its own directory, so a
    second build leaves the first build's relation readable."""
    q = QUERIES["q144_incremental_agg_merge"]
    first = q.builder(spark, sf_dir)
    second = q.builder(spark, sf_dir)
    assert sorted(map(tuple, first.collect())) == sorted(
        map(tuple, second.collect())
    )


def test_q145_twap_crafted_values(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 1, t0, 10.0),
        (1, 2, t0 + dt.timedelta(seconds=10), 20.0),
        (1, 3, t0 + dt.timedelta(seconds=40), 99.0),  # last reading carries no weight
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    got = (
        o.groupBy("user_id")
        .agg(
            (
                F.sum(F.col("value") * (F.col("nxt") - F.col("us")))
                / F.sum(F.col("nxt") - F.col("us"))
            ).alias("tw")
        )
        .collect()[0]["tw"]
    )
    # (10*10s + 20*30s) / 40s
    assert abs(got - 17.5) < 1e-9


def test_q145_deterministic_under_equal_timestamps(spark, sf_dir):
    a = QUERIES["q145_time_weighted_avg"].builder(spark, sf_dir).collect()
    b = QUERIES["q145_time_weighted_avg"].builder(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_q150_orientation_counts_each_triangle_once(spark, sf_dir):
    """Degree-ordered counting equals the naive 3-way join, and the
    orientation keeps out-degrees far below raw degrees."""
    df = QUERIES["q150_triangle_count"].builder(spark, sf_dir)
    row = df.collect()[0]
    d = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = d.alias("a"), d.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c >= 2")
        .select("p1", "p2")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    naive = (
        e1.join(e2, F.col("e1.p2") == F.col("e2.p1"))
        .join(
            e3,
            (F.col("e3.p1") == F.col("e1.p1")) & (F.col("e3.p2") == F.col("e2.p2")),
        )
        .count()
    )
    assert row["n_triangles"] == naive
    assert row["n_edges"] == e.count()


def test_shared_pair_caches_return_same_materialization(spark, sf_dir):
    """The per-(SparkContext, sf_dir) materialized pair layers must be
    built once and shared: repeated calls return the SAME checkpointed
    DataFrame object, values equal the uncached builder, and distinct
    sf_dirs get distinct entries."""
    from multi_threaded_mapreduce_framework_spark.queries.t2_assoc import (
        build_copurchase_pair_counts,
        copurchase_pair_counts,
    )
    from multi_threaded_mapreduce_framework_spark.queries.t2_cluster import (
        minhash_pairs,
    )
    from multi_threaded_mapreduce_framework_spark.queries.t2_dedup import (
        q35_minhash_lsh,
    )

    a = copurchase_pair_counts(spark, sf_dir)
    assert copurchase_pair_counts(spark, sf_dir) is a  # cache hit
    want = {tuple(r) for r in build_copurchase_pair_counts(spark, sf_dir).collect()}
    assert {tuple(r) for r in a.collect()} == want

    p = minhash_pairs(spark, sf_dir)
    assert minhash_pairs(spark, sf_dir) is p
    want_pairs = {
        (r.d1, r.d2) for r in q35_minhash_lsh(spark, sf_dir).collect()
    }
    assert {(r.d1, r.d2) for r in p.collect()} == want_pairs
    # a different fixture dir is a different cache entry
    other = "/root/testdata/sf0.01"
    if other != sf_dir:
        assert minhash_pairs(spark, other) is not p

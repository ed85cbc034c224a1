"""Tests for the q135-q141 scale-pattern queries and their helpers
(portable Bloom filter, Misra-Gries heavy-hitter candidates, Z-order
file statistics, two-phase prefix sum)."""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F
import pytest

from multi_threaded_mapreduce_framework_spark.functions.bloom import (
    bloom_build,
    bloom_might_contain,
)
from multi_threaded_mapreduce_framework_spark.functions.heavy_hitters import mg_candidates
from multi_threaded_mapreduce_framework_spark.plans import executed_plan
from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.sources import load_table

QUERIES = all_queries()


# ---------------------------------------------------------------- bloom
def test_bloom_no_false_negatives_and_bounded_build(spark):
    keys = spark.range(0, 5000).select((F.col("id") * 7 + 3).alias("k"))
    bf = bloom_build(keys, "k", m_bits=1 << 16, k=3)
    rows = bf.collect()
    assert len(rows) == 1
    assert len(rows[0]["bloom"]) == (1 << 16) // 64  # fixed-size, zero-filled
    probe = keys.join(F.broadcast(bf)).filter(~bloom_might_contain("k"))
    assert probe.count() == 0  # every inserted key must pass


def test_bloom_false_positive_rate_sane(spark):
    build = spark.range(0, 4000).select(F.col("id").alias("k"))
    bf = bloom_build(build, "k", m_bits=1 << 16, k=3)
    # disjoint probe domain
    miss = spark.range(1_000_000, 1_020_000).select(F.col("id").alias("k"))
    fp = miss.join(F.broadcast(bf)).filter(bloom_might_contain("k")).count()
    # theoretical fpp at n=4000, m=65536, k=3 is ~0.7%; allow slack
    assert fp / 20_000 < 0.05, fp


def test_q136_equals_plain_join_and_prefilters_scan(spark, sf_dir):
    df = QUERIES["q136_bloom_prefilter_join"].builder(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))
    # the k-hash bit test must sit in a Filter on the probe side
    plan = executed_plan(df)
    assert "xxhash64" in plan and "element_at" in plan, plan


# ---------------------------------------------------------- misra-gries
def test_mg_candidates_superset_of_heavy_hitters(spark):
    # skewed synthetic stream: value v repeated (100 - v)^2 times, so
    # the head values exceed N/(k+1) for k=50 (N ~ 338k, head 10k)
    df = spark.range(0, 100).select(
        F.explode(
            F.expr("transform(sequence(1, cast((100 - id) * (100 - id) as int)), x -> id)")
        ).alias("v")
    ).select(F.col("v").cast("string").alias("v"))
    n = df.count()
    k = 50
    cand = set(r["v"] for r in mg_candidates(df, "v", k).collect())
    truth = (
        df.groupBy("v").count().filter(F.col("count") > n / (k + 1)).collect()
    )
    heavy = set(r["v"] for r in truth)
    assert heavy, "test needs at least one heavy hitter"
    assert heavy <= cand, heavy - cand


def test_mg_candidate_count_bounded(spark):
    df = (
        spark.range(0, 20000)
        .select(F.col("id").cast("string").alias("v"))
        .repartition(4)
    )
    k = 100
    n_parts = df.rdd.getNumPartitions()
    cand = mg_candidates(df, "v", k)
    assert cand.count() <= k * n_parts


def test_bigram_mg_candidates_superset_and_seams(spark):
    # r12 kernel: bigrams built inside the Python sketch must see the
    # exact explode multiset — per-doc adjacency only (no cross-doc
    # seam pairs), split-on-single-space law (empty tokens preserved)
    from multi_threaded_mapreduce_framework_spark.functions.heavy_hitters import (
        bigram_mg_candidates,
    )

    docs = spark.createDataFrame(
        [("a b c",), ("c a b",), ("a b",), ("x",), ("a  b",)] * 50,
        "text string",
    )
    truth = (
        docs.select(F.split("text", " ").alias("ws"))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
                    " (w, i) -> concat_ws(' ', slice(ws, i + 1, 2)))"
                )
            ).alias("shingle")
        )
    )
    n = truth.count()
    k = 3  # small k forces real MG pruning
    cand = set(
        r["shingle"] for r in bigram_mg_candidates(docs, "text", k).collect()
    )
    heavy = set(
        r["shingle"]
        for r in truth.groupBy("shingle")
        .count()
        .filter(F.col("count") > n / (k + 1))
        .collect()
    )
    assert heavy, "test needs at least one heavy hitter"
    assert heavy <= cand, heavy - cand
    # the seam pair ("c c" from doc1->doc2, "b a"... across docs) must
    # not be invented: every candidate is a REAL within-doc bigram
    real = set(r["shingle"] for r in truth.distinct().collect())
    assert cand <= real, cand - real


def test_q135_equals_exact_groupby(spark, sf_dir):
    df = QUERIES["q135_heavy_hitter_shingles"].builder(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(F.split("text", " ").alias("ws")).select(
        F.explode(
            F.expr(
                "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
                " (w, i) -> concat_ws(' ', slice(ws, i + 1, 2)))"
            )
        ).alias("shingle")
    )
    n = sh.count()
    thr = math.floor(n / 5000.0) + 1
    exact = sh.groupBy("shingle").count().filter(F.col("count") >= thr)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, exact.collect()))
    # the sketch runs inside the scan stage: mapInPandas shows up as an
    # ArrowEvalPython/MapInPandas node in the executed plan
    plan = executed_plan(df)
    assert "MapInPandas" in plan or "mapInPandas" in plan, plan


# -------------------------------------------------------------- z-order
def test_q137_zorder_files_have_tight_minmax(spark, sf_dir, build_dir):
    """After the z-order rewrite, each parquet file must cover a small
    box in (l_partkey, l_suppkey) space: per-file min/max span well
    below the global span on BOTH dimensions (a plain single-key sort
    would leave the second dimension's span ~global in every file)."""
    QUERIES["q137_zorder_skipping"].builder(spark, sf_dir).collect()
    import pyarrow.parquet as pq

    base = build_dir(sf_dir, "lineitem_zorder")
    files = [
        os.path.join(base, f) for f in os.listdir(base) if f.endswith(".parquet")
    ]
    assert len(files) >= 4, files
    spans = {"l_partkey": [], "l_suppkey": []}
    glo = {"l_partkey": [None, None], "l_suppkey": [None, None]}
    for path in files:
        md = pq.ParquetFile(path).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for col in spans:
            mn, mx = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names[col]).statistics
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            spans[col].append(mx - mn)
            glo[col][0] = mn if glo[col][0] is None else min(glo[col][0], mn)
            glo[col][1] = mx if glo[col][1] is None else max(glo[col][1], mx)
    for col in spans:
        gspan = glo[col][1] - glo[col][0]
        avg = sum(spans[col]) / len(spans[col])
        # interleaving 16 bits of two keys over 8 range partitions
        # should cut the per-file box to a fraction of the domain
        assert avg < 0.6 * gspan, (col, avg, gspan)


# ---------------------------------------------------- two-phase cumsum
def test_q139_two_phase_prefix_sum_matches_single_window(spark, sf_dir):
    from pyspark.sql import Window

    df = QUERIES["q139_pps_systematic_sample"].builder(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("w")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    total = docs.agg(F.sum("w")).collect()[0][0]
    step = max(total // 200, 1)
    single = (
        docs.withColumn("cum", F.sum("w").over(w))
        .filter(F.expr(f"cum div {step} > (cum - w) div {step}"))
        .select(
            "doc_id",
            "w",
            "cum",
            F.expr(f"cum div {step}").cast("bigint").alias("pick_idx"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, single.collect()))
    # sampling fraction lands near the 200 target
    n = df.count()
    assert 150 <= n <= 210, n


# -------------------------------------------------------------- entropy
def test_q140_entropy_known_values(spark, sf_dir):
    rows = (
        spark.createDataFrame(
            [(1, "aabb"), (2, "aaaa"), (3, "abcd")], "doc_id long, text string"
        )
        .select("doc_id", F.split("text", "").alias("cs"))
        .select(
            "doc_id",
            F.greatest(
                F.round(
                    -F.expr(
                        "aggregate(transform(array_distinct(cs),"
                        " c -> (cast(size(filter(cs, x -> x = c)) as double) / size(cs))"
                        "      * log2(cast(size(filter(cs, x -> x = c)) as double) / size(cs))),"
                        " cast(0 as double), (a, x) -> a + x)"
                    ),
                    4,
                ),
                F.lit(0.0),
            ).alias("entropy"),
        )
        .collect()
    )
    got = {r["doc_id"]: r["entropy"] for r in rows}
    assert got == {1: 1.0, 2: 0.0, 3: 2.0}
    # and the declared query emits one row per non-empty doc
    df = QUERIES["q140_char_entropy"].builder(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    assert df.count() == docs.count()


# ------------------------------------------------------------------ mad
def test_q141_median_mad_small_frame(spark):
    ev = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 4, 100]], "event_type string, value double"
    )
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    assert med.collect()[0]["med"] == 3.0
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    assert mad.collect()[0]["mad"] == 1.0  # devs: 2,1,0,1,97 -> median 1
    out = (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 3 * F.col("mad"))
        .count()
    )
    assert out == 1  # only the 100


def test_q141_groups_are_broadcast(spark, sf_dir):
    plan = executed_plan(QUERIES["q141_mad_outliers"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

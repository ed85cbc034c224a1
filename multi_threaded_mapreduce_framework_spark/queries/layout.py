"""Physical-layout queries: results that depend on a declared storage
layout (bucketing) being in place.

The reference pre-shards its input vector once and every worker thread
owns its shard for the whole job (``MapReduceFramework.cpp`` job setup);
the lake-scale equivalent is a BUCKETED table: the shuffle for a join or
aggregation on the bucket key is paid once at write time, and every
later query on that key reads pre-shuffled data with no exchange.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Window

from multi_threaded_mapreduce_framework_spark.queries.registry import register
from multi_threaded_mapreduce_framework_spark.sources import load_table
from multi_threaded_mapreduce_framework_spark.sources.memo import session_state
from multi_threaded_mapreduce_framework_spark.sources.sinks import (
    write_bucketed_table,
)


@register(
    "q112_bucketed_join",
    tier="T1",
    oracle="""
SELECT c_mktsegment,
       count(*) AS cnt,
       round(sum(o_totalprice), 2) AS total_price
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
""",
)
def q112_bucketed_join(spark, sf_dir):
    """Join over a BUCKETED layout (VERDICT r02 item 6): customer and
    orders are first persisted bucketed+sorted on the join key (8
    buckets, external location — the one-time shuffle), then the join
    reads the co-located layout back. With broadcast disabled,
    ``tests/test_plan_quality.py::test_q112_bucketed_join_no_exchange``
    pins that the join itself needs NO exchange and NO sort — at 100 TB
    this is the difference between re-shuffling two fact tables on
    every query and paying the layout cost once at ingest.

    The result (revenue per market segment) is layout-independent, so
    the DuckDB oracle checks the same values off the raw parquet.
    """

    def build(base):
        # one pair of catalog tables per build, named after its directory
        tag = os.path.basename(base)
        cust_t, ord_t = f"mtmrf_cust_b_{tag}", f"mtmrf_ord_b_{tag}"
        c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
        write_bucketed_table(
            c, cust_t, ["c_custkey"], 8,
            sort_cols=["c_custkey"], location=os.path.join(base, "customer"),
        )
        write_bucketed_table(
            o, ord_t, ["o_custkey"], 8,
            sort_cols=["o_custkey"], location=os.path.join(base, "orders"),
        )
        return cust_t, ord_t

    # the one-time layout shuffle is paid once per session and fixture
    cust_t, ord_t = session_state(spark, sf_dir, "bucketed_join", build)
    cb, ob = spark.table(cust_t), spark.table(ord_t)
    return (
        cb.join(ob, cb.c_custkey == ob.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "q114_salted_agg",
    tier="T1",
    oracle="""
SELECT event_type,
       count(*) AS cnt,
       round(sum(value), 2) AS sum_value,
       round(max(value), 2) AS max_value
FROM events
GROUP BY event_type
""",
)
def q114_salted_agg(spark, sf_dir):
    """Hot-key aggregation through the SALTED two-phase operator
    (``operators/skew.py::salted_agg``), declared so the skew path is
    oracle-checked, not just unit-tested. ``event_type`` has a handful
    of distinct values over the whole table — the exact shape where a
    naive groupBy lands each key on ONE reducer at 100 TB. The salt
    (partition-id ⊕ row-hash, mod 16) spreads each key over 16 sub-keys
    for the partial phase; the final phase re-aggregates 16 rows per
    key. Algebraic aggregates only, so the two-phase result is exact —
    identical to the oracle's single-phase GROUP BY."""
    from multi_threaded_mapreduce_framework_spark.operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    out = salted_agg(
        events,
        keys=["event_type"],
        aggs={
            "cnt": "count(*)",
            "sum_value": "sum(value)",
            "max_value": "max(value)",
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        "cnt",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("max_value", 2).alias("max_value"),
    )


@register(
    "q115_partition_pruned_scan",
    tier="T1",
    oracle="""
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       count(*) AS cnt,
       round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE year(l_shipdate) = 1997 AND l_discount BETWEEN 0.02 AND 0.09
GROUP BY 1
""",
)
def q115_partition_pruned_scan(spark, sf_dir):
    """Hive-partitioned layout + partition-pruned scan as a DECLARED
    query (the write-side complement of q112's bucketing): lineitem is
    persisted partitioned by ship year, then a Q6-style revenue filter
    for one year reads exactly one partition directory — at 100 TB the
    difference between scanning ~1/7 of the table and all of it.
    ``tests/test_plan_quality.py::test_q115_scan_is_partition_pruned``
    pins the PartitionFilters in the scan node. Values are
    layout-independent, so the oracle runs on the raw parquet."""

    def build(base):
        li = load_table(spark, sf_dir, "lineitem").withColumn(
            "ship_year", F.year("l_shipdate").cast("bigint")
        )
        li.write.mode("overwrite").partitionBy("ship_year").parquet(base)
        return base

    # the one-time OPTIMIZE cost is paid once per session and fixture (a
    # 100 TB layout is amortized across queries, the posture benched here)
    part = spark.read.parquet(
        session_state(spark, sf_dir, "lineitem_by_year", build)
    )
    return (
        part.filter(
            (F.col("ship_year") == 1997)
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.09)
        )
        .groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
        )
    )


@register(
    "q119_data_quality_audit",
    tier="T1",
    oracle="""
SELECT 'lineitem' AS tbl, check_name, CAST(violations AS BIGINT) AS violations
FROM (
  SELECT 'null_orderkey' AS check_name,
         count(*) FILTER (WHERE l_orderkey IS NULL) AS violations FROM lineitem
  UNION ALL SELECT 'nonpositive_quantity',
         count(*) FILTER (WHERE l_quantity <= 0) FROM lineitem
  UNION ALL SELECT 'negative_price',
         count(*) FILTER (WHERE l_extendedprice < 0) FROM lineitem
  UNION ALL SELECT 'discount_out_of_range',
         count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) FROM lineitem
  UNION ALL SELECT 'ship_before_order',
         count(*) FILTER (WHERE l_shipdate < o_orderdate)
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  UNION ALL SELECT 'orphan_orderkey',
         count(*) FILTER (WHERE o_orderkey IS NULL)
         FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
)
""",
)
def q119_data_quality_audit(spark, sf_dir):
    """Declarative data-quality audit — the validation gate an ingest
    pipeline runs before publishing a partition: per-check violation
    counts over lineitem (null keys, non-positive quantities, negative
    prices, out-of-range discounts, ship-before-order inversions,
    orphaned foreign keys). Each single-table check is one conditional
    count inside ONE shared scan+aggregate (no per-check passes); the
    referential checks share one orderkey join. Everything is
    map-side-combinable counting — at 100 TB the audit costs one scan
    plus one fact-fact join, not six jobs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    single = li.agg(
        cnt(F.col("l_orderkey").isNull()).alias("null_orderkey"),
        cnt(F.col("l_quantity") <= 0).alias("nonpositive_quantity"),
        cnt(F.col("l_extendedprice") < 0).alias("negative_price"),
        cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
            "discount_out_of_range"
        ),
    )
    joined = li.join(o, li.l_orderkey == o.o_orderkey, "left").agg(
        cnt(F.col("l_shipdate") < F.col("o_orderdate")).alias("ship_before_order"),
        cnt(F.col("o_orderkey").isNull()).alias("orphan_orderkey"),
    )
    wide = single.crossJoin(joined)  # two 1-row aggregates
    return wide.unpivot(
        ids=[],
        values=[
            "null_orderkey",
            "nonpositive_quantity",
            "negative_price",
            "discount_out_of_range",
            "ship_before_order",
            "orphan_orderkey",
        ],
        variableColumnName="check_name",
        valueColumnName="violations",
    ).select(F.lit("lineitem").alias("tbl"), "check_name", "violations")


@register(
    "q149_skew_audit",
    tier="T1",
    oracle="""
WITH l AS (
  SELECT 'lineitem' AS tbl, 'l_orderkey' AS key_col,
         CAST(l_orderkey AS VARCHAR) AS key_value,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_orderkey
),
o AS (
  SELECT 'orders' AS tbl, 'o_custkey' AS key_col,
         CAST(o_custkey AS VARCHAR) AS key_value,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_custkey
),
e AS (
  SELECT 'events' AS tbl, 'event_type' AS key_col,
         event_type AS key_value,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type
),
u AS (SELECT * FROM l UNION ALL SELECT * FROM o UNION ALL SELECT * FROM e),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY tbl ORDER BY cnt DESC, key_value) AS rk,
         sum(cnt) OVER (PARTITION BY tbl) AS total
  FROM u
)
SELECT tbl, key_col, key_value, cnt,
       CAST(cnt * 10000 // total AS BIGINT) AS share_bp
FROM r WHERE rk <= 5
""",
)
def q149_skew_audit(spark, sf_dir):
    """Pre-flight shuffle-skew audit: for each declared join/agg key
    (lineitem.l_orderkey, orders.o_custkey, events.event_type), the 5
    hottest values with their absolute count and basis-point share of
    the table — the report that tells an operator which keys need
    salting (q114) or AQE skew splitting BEFORE a 100 TB job runs.

    Scale shape: per key a partial-agg count (map-side combine), then
    rank/total windows over the AGGREGATED key-frequency table only —
    the same domain-bounded-window discipline as q111/q127.  Shares
    are integer basis points (``cnt * 10000 div total``), so the
    report is engine-exact.  Deterministic top-5: count desc,
    key_value asc."""
    specs = [
        ("lineitem", "l_orderkey"),
        ("orders", "o_custkey"),
        ("events", "event_type"),
    ]
    parts = []
    for tbl, key in specs:
        t = load_table(spark, sf_dir, tbl)
        parts.append(
            t.groupBy(F.col(key).cast("string").alias("key_value"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.lit(tbl).alias("tbl"),
                F.lit(key).alias("key_col"),
                "key_value",
                "cnt",
            )
        )
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    wr = Window.partitionBy("tbl").orderBy(F.desc("cnt"), F.asc("key_value"))
    wt = Window.partitionBy("tbl")
    return (
        u.select(
            "tbl",
            "key_col",
            "key_value",
            "cnt",
            F.row_number().over(wr).alias("rk"),
            F.sum("cnt").over(wt).alias("total"),
        )
        .filter(F.col("rk") <= 5)
        .select(
            "tbl",
            "key_col",
            "key_value",
            "cnt",
            F.expr("cnt * 10000 div total").cast("bigint").alias("share_bp"),
        )
    )


@register(
    "q183_quarantine_rows",
    tier="T1",
    oracle="""
WITH j AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice,
         l.l_discount, l.l_shipdate, o.o_orderkey AS ok, o.o_orderdate
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
r AS (
  SELECT l_orderkey, l_linenumber,
         list_sort(list_filter([
           CASE WHEN l_orderkey IS NULL THEN 'null_orderkey' END,
           CASE WHEN l_quantity <= 0 THEN 'nonpositive_quantity' END,
           CASE WHEN l_extendedprice < 0 THEN 'negative_price' END,
           CASE WHEN l_discount < 0 OR l_discount > 1
                THEN 'discount_out_of_range' END,
           CASE WHEN l_shipdate < o_orderdate THEN 'ship_before_order' END,
           CASE WHEN ok IS NULL THEN 'orphan_orderkey' END
         ], x -> x IS NOT NULL)) AS rl
  FROM j)
SELECT l_orderkey, l_linenumber,
       array_to_string(rl, ',') AS reasons,
       CAST(len(rl) AS BIGINT) AS n_violations
FROM r WHERE len(rl) > 0
""",
)
def q183_quarantine_rows(spark, sf_dir):
    """Row-level QUARANTINE split — the enforcement half of q119's
    audit: every lineitem row violating any declared quality check,
    with the sorted list of reasons it failed (the rows an ingest
    pipeline diverts to the quarantine sink while the clean remainder
    publishes).  Single-table checks are in-row CASE expressions; the
    two referential checks (ship-before-order, orphan key) ride ONE
    shared left join to orders.

    Scale shape: one fact scan + one fact-dim... fact-fact join (the
    same single orderkey join q119's counting form uses), reasons
    assembled in-row with array algebra — no per-check passes, no
    Python, and the quarantine output is proportional to the violation
    rate, not the table.  Deterministic: (l_orderkey, l_linenumber) is
    the table's unique key and reasons are sorted."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), "o_orderdate"
    )
    j = li.join(o, li.l_orderkey == F.col("ok"), "left")
    # the check literals are emitted in (their fixed) lexicographic
    # order, so the sorted-reasons contract needs no per-row array_sort
    # — filter(not-null) preserves order (r11, guide §1.2 per-task work)
    reasons = F.filter(
        F.array(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
                F.lit("discount_out_of_range"),
            ),
            F.when(F.col("l_extendedprice") < 0, F.lit("negative_price")),
            F.when(F.col("l_quantity") <= 0, F.lit("nonpositive_quantity")),
            F.when(F.col("l_orderkey").isNull(), F.lit("null_orderkey")),
            F.when(F.col("ok").isNull(), F.lit("orphan_orderkey")),
            F.when(
                F.col("l_shipdate") < F.col("o_orderdate"),
                F.lit("ship_before_order"),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        j.select("l_orderkey", "l_linenumber", reasons.alias("rl"))
        .filter(F.size("rl") > 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.array_join("rl", ",").alias("reasons"),
            F.size("rl").cast("bigint").alias("n_violations"),
        )
    )

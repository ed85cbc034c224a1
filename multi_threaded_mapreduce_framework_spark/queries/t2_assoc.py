"""Association statistics + incremental maintenance (q142-q145):
market-basket co-purchase pairs without a self-join, bigram PMI with
vocab-side marginal joins, algebraic incremental aggregate merge (the
no-rescan view-maintenance pattern), and time-weighted averaging over
irregular event streams.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from multi_threaded_mapreduce_framework_spark.queries.registry import register
from multi_threaded_mapreduce_framework_spark.sources import load_table
from multi_threaded_mapreduce_framework_spark.sources.memo import (
    fresh_state_dir,
    session_state,
)


def build_copurchase_pair_counts(spark, sf_dir: str):
    """The UNCACHED (p1, p2, cnt) plan: lineitem scan -> per-order
    sorted distinct part array (one partial-agg shuffle) -> in-row pair
    explode -> pair-count shuffle.  One fact scan, no join operator —
    the plan shape tests assert against THIS builder; the queries
    consume the checkpointed form below."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))"
            )
        ).alias("pr")
    )
    return (
        pairs.select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def copurchase_pair_counts(spark, sf_dir: str):
    """(p1, p2, cnt): co-purchased distinct part pairs per order with
    their order counts, localCheckpoint-ed once per session and fixture
    and shared by q142 (top-k affinity) and q150 (triangle census)."""
    return session_state(
        spark,
        sf_dir,
        "copurchase_pairs",
        lambda _base: build_copurchase_pair_counts(spark, sf_dir).localCheckpoint(),
    )


@register(
    "q142_copurchase_pairs",
    tier="T2",
    oracle="""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(count(*) AS BIGINT) AS cnt
FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY cnt DESC, p1, p2 LIMIT 25
""",
)
def q142_copurchase_pairs(spark, sf_dir):
    # (shared edge layer: see copurchase_pair_counts above)
    """Top-25 co-purchased part pairs (market-basket affinity, the seed
    statistic of recommenders and frequent-itemset miners).

    Scale shape: the textbook formulation — the oracle's DISTINCT
    self-join on l_orderkey — shuffles the fact table twice and
    explodes quadratically on large orders.  Here each order collapses
    ONCE to its sorted distinct part array (partial-agg shuffle), and
    pairs expand IN-ROW from that array, bounded by basket size
    squared, never by table size; pair counting is a second
    partial-agg shuffle over the (sparse) pair domain.  At 100 TB a
    per-basket size cap is one `filter(size(ps) <= B)` away — the
    expansion cost is visible and governable, unlike a join blowup.
    Deterministic top-k: cnt desc, then (p1, p2)."""
    return (
        copurchase_pair_counts(spark, sf_dir)
        .orderBy(F.desc("cnt"), F.asc("p1"), F.asc("p2"))
        .limit(25)
    )


@register(
    "q143_pmi_bigrams",
    tier="T2",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
m AS (SELECT t, CAST(count(*) AS BIGINT) AS cx FROM tok GROUP BY t),
nt AS (SELECT CAST(count(*) AS BIGINT) AS ntok FROM tok),
bg AS (
  SELECT ws[i] AS t1, ws[i + 1] AS t2
  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       LATERAL unnest(range(1, greatest(len(ws), 1))) AS u(i)
),
bc AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cxy FROM bg GROUP BY 1, 2),
nb AS (SELECT CAST(count(*) AS BIGINT) AS nbig FROM bg)
SELECT t1, t2, cxy,
       round(log2((CAST(cxy AS DOUBLE) / nbig)
             / ((CAST(a.cx AS DOUBLE) / ntok) * (CAST(b.cx AS DOUBLE) / ntok))), 4)
         AS pmi
FROM bc JOIN m a ON bc.t1 = a.t JOIN m b ON bc.t2 = b.t, nt, nb
WHERE cxy >= 5
  AND round(log2((CAST(cxy AS DOUBLE) / nbig)
        / ((CAST(a.cx AS DOUBLE) / ntok) * (CAST(b.cx AS DOUBLE) / ntok))), 4) >= 0.2
""",
)
def q143_pmi_bigrams(spark, sf_dir):
    """Pointwise mutual information for adjacent token bigrams
    (collocation mining: which word pairs co-occur far above chance) —
    all pairs with support >= 5 and rounded PMI >= 0.2.

    Scale shape: exactly two corpus-sized passes (token count, bigram
    count), both map-side-combining partial aggregates; the marginal
    joins run on the AGGREGATED vocab/pair tables, with the
    vocab-bounded marginals broadcast, the two scalars (token and
    bigram totals) as 1-row broadcasts.  Thresholding on the ROUNDED
    PMI keeps the boundary engine-exact; no top-k, so no ordering on a
    computed double."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("t"))
    marg = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cx"))
    # scalar totals re-aggregate the VOCAB/PAIR tables — no second or
    # third corpus scan
    ntok = marg.agg(F.sum("cx").alias("ntok"))
    bg = docs.select(F.split("text", " ").alias("ws")).select(
        F.explode(
            F.expr(
                "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
                " (w, i) -> struct(w AS t1, ws[i + 1] AS t2))"
            )
        ).alias("b")
    ).select("b.t1", "b.t2")
    bc = bg.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("cxy"))
    nbig = bc.agg(F.sum("cxy").alias("nbig"))
    m1 = marg.select(F.col("t").alias("t1"), F.col("cx").alias("cx1"))
    m2 = marg.select(F.col("t").alias("t2"), F.col("cx").alias("cx2"))
    pmi = F.round(
        F.log2(
            (F.col("cxy").cast("double") / F.col("nbig"))
            / (
                (F.col("cx1").cast("double") / F.col("ntok"))
                * (F.col("cx2").cast("double") / F.col("ntok"))
            )
        ),
        4,
    )
    return (
        bc.filter(F.col("cxy") >= 5)
        .join(F.broadcast(m1), "t1")
        .join(F.broadcast(m2), "t2")
        .join(F.broadcast(ntok))
        .join(F.broadcast(nbig))
        .select("t1", "t2", "cxy", pmi.alias("pmi"))
        .filter(F.col("pmi") >= 0.2)
    )


@register(
    "q144_incremental_agg_merge",
    tier="T1",
    oracle="""
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
         AS sum_micro,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
            // count(*) AS BIGINT) AS avg_micro
FROM events
GROUP BY 1, 2
""",
)
def q144_incremental_agg_merge(spark, sf_dir):
    """Incremental aggregate-view maintenance: 90% of events play the
    role of already-ingested history whose PARTIAL aggregate state
    (cnt, sum per (event_type, day)) is persisted to parquet; the
    other 10% arrive as a delta batch.  The refreshed view = stored
    partials UNION delta partials, re-aggregated — count-of-counts and
    sum-of-sums, never a rescan of history.

    Scale shape: this is THE pattern that keeps a 100 TB rollup cheap:
    the merge touches only the state table (bounded by the group
    domain — here 150 rows — not by history size) plus the delta.  It
    works because count/sum are algebraic (mergeable); avg is derived
    from the merged state, never averaged across batches.  The oracle
    recomputes from all events, proving merge == full recompute."""
    # a fresh directory per build: a relation built earlier in the
    # session still reads its own partials
    base = fresh_state_dir(spark, sf_dir, "agg_state")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )

    def partials(df):
        # integer micro-units (q131's DECIMAL trick taken to its
        # endpoint): partial sums are EXACT and associative, so
        # merged-state == one-pass regardless of summation order, and
        # the derived average (integer div) has no float rounding
        # boundary for the two engines to disagree on
        micro = F.expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)")
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(micro).cast("bigint").alias("sum_micro"),
        )

    hist = ev.filter(F.pmod("event_id", F.lit(10)) != 9)
    partials(hist).write.mode("overwrite").parquet(base)  # the stored view state
    delta = ev.filter(F.pmod("event_id", F.lit(10)) == 9)
    state = spark.read.parquet(base)
    merged = (
        state.unionByName(partials(delta))
        .groupBy("event_type", "day")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("sum_micro").cast("bigint").alias("sum_micro"),
        )
    )
    return merged.select(
        "event_type",
        "day",
        "cnt",
        "sum_micro",
        F.expr("sum_micro div cnt").cast("bigint").alias("avg_micro"),
    )


@register(
    "q145_time_weighted_avg",
    tier="T1",
    oracle="""
WITH o AS (
  SELECT user_id, value, epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value * (nxt - us)) / sum(nxt - us), 4) AS twap,
       round(sum(nxt - us) / 1000000.0, 4) AS span_seconds
FROM o
WHERE nxt IS NOT NULL
GROUP BY user_id
HAVING sum(nxt - us) > 0
""",
)
def q145_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value per user (TWAP): each reading is
    weighted by how long it remained current — the correct mean for
    irregularly sampled telemetry/pricing, where the arithmetic mean
    over-weights bursts.

    Scale shape: one window pass partitioned by user (ordered by
    (ts, event_id) — the unique-key tiebreak keeps the lead()
    deterministic under equal timestamps), then a partial-agg groupBy
    on the same key, which AQE can plan shuffle-free after the window
    exchange.  Durations are integer MICROSECONDS (`unix_micros` /
    `epoch_us`) so weights are engine-exact; only the final weighted
    mean is floating point, rounded on both sides."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    return (
        o.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.col("value") * (F.col("nxt") - F.col("us")))
                / F.sum(F.col("nxt") - F.col("us"))
            ).alias("tw"),
            F.sum(F.col("nxt") - F.col("us")).alias("dt"),
        )
        .filter(F.col("dt") > 0)
        .select(
            "user_id",
            "n_events",
            F.round("tw", 4).alias("twap"),
            F.round(F.col("dt") / 1000000.0, 4).alias("span_seconds"),
        )
    )


@register(
    "q150_triangle_count",
    tier="T2",
    oracle="""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT p1 AS v FROM e UNION SELECT p2 FROM e)) AS n_vertices,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT)
        FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2) AS n_triangles
""",
)
def q150_triangle_count(spark, sf_dir):
    """Triangle census of the co-purchase graph (edges = part pairs
    bought together in >= 2 orders, q142's edge law): vertex/edge
    counts plus the global triangle count — the clustering-structure
    statistic community detection and graph-quality audits start from.

    Scale shape: the oracle's 3-way self-join explodes on hub
    vertices.  Here every edge is first ORIENTED from its
    lower-(degree, id) endpoint to the higher one, which turns the
    graph into a DAG whose out-degrees are O(sqrt(m)) — the classic
    degree-ordering bound — so wedge generation (the only quadratic
    step) is join-on-source over bounded out-neighborhoods, and each
    triangle is counted EXACTLY once at its minimum-order vertex.  The
    closing-edge check is a semi-join back to the oriented edge list.
    Edges themselves come from q142's in-row basket expansion — one
    lineitem scan, no distinct self-join anywhere."""
    # edge law: co-purchased part pairs in >= 2 orders, from the SAME
    # materialized pair-count relation q142 ranks (edges feed four
    # consumers — degrees, orientation, closing set, edge count — and
    # the checkpoint underneath makes each a cheap re-read)
    edges = (
        copurchase_pair_counts(spark, sf_dir)
        .filter(F.col("cnt") >= 2)
        .select("p1", "p2")
    )
    deg = (
        edges.select(F.col("p1").alias("v"))
        .unionByName(edges.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d1 = deg.select(F.col("v").alias("p1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("v").alias("p2"), F.col("deg").alias("deg2"))
    oriented = (
        edges.join(d1, "p1")
        .join(d2, "p2")
        # a degree-1 endpoint cannot be in any triangle: drop its edges
        # BEFORE wedge generation (vertex/edge counts below still use
        # the unpruned graph).  Orientation still uses the ORIGINAL
        # degrees — any consistent total order counts each triangle
        # exactly once, and co-purchase graphs have a long degree-1
        # tail, so this shrinks the quadratic step's input for free.
        .filter((F.col("deg1") >= 2) & (F.col("deg2") >= 2))
        .select(
            F.when(
                (F.col("deg1") < F.col("deg2"))
                | ((F.col("deg1") == F.col("deg2")) & (F.col("p1") < F.col("p2"))),
                F.struct(F.col("p1").alias("src"), F.col("p2").alias("dst")),
            )
            .otherwise(F.struct(F.col("p2").alias("src"), F.col("p1").alias("dst")))
            .alias("o")
        )
        .select("o.src", "o.dst")
    )
    a, b = oriented.alias("a"), oriented.alias("b")
    wedges = a.join(
        b, (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") < F.col("b.dst"))
    ).select(F.col("a.dst").alias("x"), F.col("b.dst").alias("y"))
    # closing edge may be oriented either way between x and y
    closing = oriented.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nv = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nv.join(F.broadcast(ne))
        .join(F.broadcast(tri))
        .select(
            F.col("n_vertices").cast("bigint").alias("n_vertices"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
        )
    )


@register(
    "q151_session_attribution",
    tier="T2",
    oracle="""
WITH x AS (
  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_us
  FROM events),
s AS (
  SELECT *, sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM x),
c AS (
  SELECT *, first_value(event_type)
            OVER (PARTITION BY user_id, session_id
                  ORDER BY us, event_id) AS channel
  FROM s),
sess AS (
  SELECT user_id, session_id, channel,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                  ELSE 0 END) AS val_micro
  FROM c GROUP BY 1, 2, 3)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(val_micro) AS BIGINT) AS attributed_micro
FROM sess GROUP BY channel
""",
)
def q151_session_attribution(spark, sf_dir):
    """First-touch attribution: sessionize each user's events (q23's
    30-minute inactivity gap), credit every session's purchase value to
    the session's FIRST event type — the channel that "brought them in"
    — and report sessions + attributed value per channel.  The
    marketing-analytics workload that motivates sessionization in the
    first place.

    Scale shape: ONE shuffle on user_id serves all three windows (gap
    lag, running session counter, first-touch first_value — same
    partitioning, Spark chains them in one sort), and the session
    rollup re-uses the same key prefix; only the final tiny
    channel-level aggregate reshuffles.  Purchase value in integer
    micro-units (FIXTURES.md discipline), so attribution sums are
    engine-exact."""
    from multi_threaded_mapreduce_framework_spark.queries.t2_text import (
        SESSION_GAP_US,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(w)
    is_start = F.when(prev.isNull() | ((F.col("us") - prev) > SESSION_GAP_US), 1).otherwise(0)
    s = ev.withColumn(
        "session_id",
        F.sum(is_start).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    wc = Window.partitionBy("user_id", "session_id").orderBy("us", "event_id")
    c = s.withColumn("channel", F.first("event_type").over(wc))
    micro = F.expr(
        "CASE WHEN event_type = 'purchase'"
        " THEN cast(cast(value as decimal(18,6)) * 1000000 as bigint) ELSE 0 END"
    )
    sess = c.groupBy("user_id", "session_id", "channel").agg(
        F.sum(micro).alias("val_micro")
    )
    return sess.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("val_micro").cast("bigint").alias("attributed_micro"),
    )

"""Stream-stream join convergence: the converged streaming join must
equal the identical join run as a batch query on the same events.

Covers the two state-semantics regimes: inner (matches emitted eagerly,
state evicted by watermark + range bound) and left-outer (null-padded
rows emitted only after the watermark passes the join window — the test
drains the tail with ``drain_to_convergence``'s sentinel rows, the same
way a production backfill is flushed)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from multi_threaded_mapreduce_framework_spark.streaming import (
    drain_to_convergence,
    events_stream,
    replay_events,
    run_to_convergence,
    stream_stream_join,
)

SF = "/root/testdata/sf0.001"
LAG = "1 hour"
# the replay is hash-partitioned, not time-ordered: a tight watermark
# would drop legitimately-late input (stream-stream join state ops drop
# older-than-watermark rows on arrival). The fixture spans one month, so
# 45 days admits every row; production replays are roughly time-ordered
# and keep a tight watermark for bounded state.
WM = "45 days"


@pytest.fixture()
def replay_dir(spark, tmp_path):
    d = str(tmp_path / "events_replay")
    replay_events(spark, SF, d, n_chunks=4)
    return d


def _batch_join(spark, replay_dir, how):
    ev = spark.read.parquet(replay_dir).filter(F.col("user_id") >= 0)
    l = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event"),
    )
    r = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event"),
    )
    cond = (
        (l.l_user == r.r_user)
        & (r.r_ts >= l.l_ts)
        & (r.r_ts <= l.l_ts + F.expr(f"interval {LAG}"))
    )
    return {tuple(row) for row in l.join(r, cond, how).collect()}


def test_inner_join_converges_to_batch(spark, replay_dir):
    joined = stream_stream_join(
        events_stream(spark, replay_dir).filter(F.col("event_type") == "click"),
        events_stream(spark, replay_dir).filter(F.col("event_type") == "purchase"),
        "inner",
        max_lag=LAG,
        watermark=WM,
    )
    res = run_to_convergence(joined, "ss_inner", "append")
    got = {tuple(row) for row in res.collect()}
    assert got == _batch_join(spark, replay_dir, "inner")
    assert len(got) > 0


def test_left_outer_join_flushes_after_watermark(spark, replay_dir):
    joined = stream_stream_join(
        events_stream(spark, replay_dir).filter(F.col("event_type") == "click"),
        events_stream(spark, replay_dir).filter(F.col("event_type") == "purchase"),
        "left_outer",
        max_lag=LAG,
        watermark=WM,
    )
    res = drain_to_convergence(joined, replay_dir, "ss_left")
    got = {tuple(row) for row in res.filter(F.col("l_user") >= 0).collect()}
    batch = _batch_join(spark, replay_dir, "left_outer")
    assert got == batch
    # the outer rows (clicks with no purchase inside the lag) exist
    assert any(row[3] is None for row in got)


def test_chained_stateful_funnel_converges_to_batch(spark, replay_dir):
    from multi_threaded_mapreduce_framework_spark.streaming import funnel_daily_counts

    agg = funnel_daily_counts(
        events_stream(spark, replay_dir).filter(F.col("event_type") == "click"),
        events_stream(spark, replay_dir).filter(F.col("event_type") == "purchase"),
        max_lag=LAG,
        watermark=WM,
    )
    # append-mode windows only emit once the watermark passes them
    got = {
        tuple(row)
        for row in drain_to_convergence(agg, replay_dir, "ss_funnel").collect()
        if not row.day.startswith("2025")  # sentinel windows
    }
    batch = {
        (str(r.day), r.n)
        for r in spark.read.parquet(replay_dir)
        .filter(F.col("user_id") >= 0)
        .filter(F.col("event_type") == "click")
        .alias("c")
        .join(
            spark.read.parquet(replay_dir)
            .filter(F.col("user_id") >= 0)
            .filter(F.col("event_type") == "purchase")
            .alias("p"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr(f"interval {LAG}")),
        )
        .groupBy(F.to_date("c.ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch
    assert len(got) > 0


def test_full_outer_join_flushes_both_sides(spark, replay_dir):
    joined = stream_stream_join(
        events_stream(spark, replay_dir).filter(F.col("event_type") == "click"),
        events_stream(spark, replay_dir).filter(F.col("event_type") == "purchase"),
        "full_outer",
        max_lag=LAG,
        watermark=WM,
    )
    got = {
        tuple(row)
        for row in drain_to_convergence(joined, replay_dir, "ss_full")
        .filter(
            (F.coalesce(F.col("l_user"), F.lit(0)) >= 0)
            & (F.coalesce(F.col("r_user"), F.lit(0)) >= 0)
        )
        .collect()
    }
    batch = _batch_join(spark, replay_dir, "full_outer")
    assert got == batch
    # unmatched rows from BOTH sides are present
    assert any(row[3] is None for row in got)  # click, no purchase
    assert any(row[0] is None for row in got)  # purchase, no click


def test_semi_join_exactly_once_converges_to_batch(spark, replay_dir):
    """Left-semi: each converted click emitted exactly once with left
    columns only — compared as a counted multiset so a double emission
    fails even where set equality would hide it."""
    from collections import Counter

    joined = stream_stream_join(
        events_stream(spark, replay_dir).filter(F.col("event_type") == "click"),
        events_stream(spark, replay_dir).filter(F.col("event_type") == "purchase"),
        "left_semi",
        max_lag=LAG,
        watermark=WM,
    )
    res = run_to_convergence(joined, "ss_semi", "append")
    got = Counter(tuple(row) for row in res.collect())
    ev = spark.read.parquet(replay_dir).filter(F.col("user_id") >= 0)
    l = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event"),
    )
    r = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event"),
    )
    cond = (
        (l.l_user == r.r_user)
        & (r.r_ts >= l.l_ts)
        & (r.r_ts <= l.l_ts + F.expr(f"interval {LAG}"))
    )
    batch = Counter(tuple(row) for row in l.join(r, cond, "left_semi").collect())
    assert got == batch and len(got) > 0
    assert max(got.values()) == 1


def test_stream_static_join_stateless_and_immediate(spark, replay_dir):
    """Stream-static LEFT join: zero stateful operators reported, and
    unmatched stream rows emit without any sentinel drain (the batch
    LEFT join is reached by processAllAvailable alone)."""
    from multi_threaded_mapreduce_framework_spark.sources import load_table
    from multi_threaded_mapreduce_framework_spark.streaming import (
        stream_static_join,
    )

    dim = (
        load_table(spark, SF, "nation")
        .filter(F.col("n_nationkey") < 8)
        .select("n_nationkey", "n_name")
    )
    stream = events_stream(spark, replay_dir)
    enriched = stream_static_join(
        stream,
        dim,
        stream["user_id"] % 10 == dim["n_nationkey"],
        "left_outer",
    ).select("user_id", "event_id", "n_name")
    q = enriched.writeStream.outputMode("append").format("memory").queryName(
        "ss_static"
    ).start()
    try:
        q.processAllAvailable()
        progress = q.lastProgress
        got = {tuple(r) for r in spark.table("ss_static").collect()}
    finally:
        q.stop()
    assert progress is not None and progress["stateOperators"] == []
    ev = spark.read.parquet(replay_dir)
    batch = {
        tuple(r)
        for r in ev.join(
            F.broadcast(dim), ev["user_id"] % 10 == dim["n_nationkey"], "left_outer"
        )
        .select("user_id", "event_id", "n_name")
        .collect()
    }
    assert got == batch and len(got) > 0
    assert any(row[2] is None for row in got)

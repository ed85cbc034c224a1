"""Streaming correctness runner — check_oracle.py's report format for
the streaming surface (VERDICT r04 item 8).

Each scenario drives a Structured Streaming pipeline END TO END on the
events fixture (file-source replay or kafka-wire shim, memory/parquet
sinks, real checkpoints) and compares the CONVERGED streamed answer to
the batch equivalent computed on the same data — the batch result is
the oracle, exactly as the DuckDB SQL is for declared queries.  One
line per scenario:

    <scenario>  OK|FAIL|SKIP  rows=<n compared>  <sec>s  [detail]

Usage: python tools/check_streaming.py [sf_dir] [scenario ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from multi_threaded_mapreduce_framework_spark.session import get_spark
from multi_threaded_mapreduce_framework_spark.streaming.protoshim import ensure_protobuf

# Before the first SparkSession: the vendored protobuf runtime reaches
# Spark's Python workers via PYTHONPATH, snapshotted at JVM launch.
ensure_protobuf()
from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.streaming import (
    append_far_future_event,
    append_wave,
    drain_to_convergence,
    events_stream,
    kafka_wire_stream,
    parse_events,
    replay_events,
    run_to_convergence,
    session_counts,
    sliding_window_counts,
    stream_dedup,
    stream_dedup_within_watermark,
    stream_stream_join,
    tumbling_window_counts,
    write_kafka_replay,
)

SCENARIOS = {}


def scenario(fn):
    SCENARIOS[fn.__name__] = fn
    return fn


class Skip(Exception):
    pass


def _check(cond, detail=""):
    if not cond:
        raise AssertionError(detail)


# --------------------------------------------------------------- windowed
@scenario
def tumbling_vs_batch_q24(spark, sf_dir, replay_dir, work):
    agg = tumbling_window_counts(events_stream(spark, replay_dir))
    res = run_to_convergence(agg, "cs_q24")
    got = {tuple(r) for r in res.collect()}
    batch = {
        tuple(r)
        for r in all_queries()["q24_window_tumbling"].builder(spark, sf_dir).collect()
    }
    _check(got == batch, f"stream={len(got)} batch={len(batch)}")
    return len(got)


@scenario
def sliding_coverage_4x(spark, sf_dir, replay_dir, work):
    agg = sliding_window_counts(events_stream(spark, replay_dir))
    res = run_to_convergence(agg, "cs_sliding")
    total = res.agg(F.sum("cnt").alias("s")).first().s
    rows = res.count()
    n_events = spark.read.parquet(replay_dir).count()
    _check(total == 4 * n_events, f"total={total} != 4x{n_events}")
    return rows


@scenario
def session_vs_batch_q23(spark, sf_dir, replay_dir, work):
    # watermark off: the replay is hash-partitioned, not time-ordered
    agg = session_counts(events_stream(spark, replay_dir), watermark=None)
    res = run_to_convergence(agg, "cs_q23")
    got = {
        (r.user_id, r.num_sessions)
        for r in res.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("num_sessions"))
        .collect()
    }
    batch = {
        (r.user_id, r.num_sessions)
        for r in all_queries()["q23_sessionize"].builder(spark, sf_dir).collect()
    }
    _check(got == batch, f"stream={len(got)} batch={len(batch)}")
    return len(got)


# --------------------------------------------------------------- stateful
@scenario
def stateful_totals_vs_batch_q04(spark, sf_dir, replay_dir, work):
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        running_user_totals,
    )

    agg = running_user_totals(events_stream(spark, replay_dir))
    res = run_to_convergence(agg, "cs_q04", output_mode="update")
    rows = res.collect()
    latest = {}
    for r in rows:
        if r.user_id not in latest or r.cnt > latest[r.user_id].cnt:
            latest[r.user_id] = r
    batch = {
        r.user_id: r
        for r in all_queries()["q04_user_event_stats"].builder(spark, sf_dir).collect()
    }
    _check(set(latest) == set(batch), "user-id sets differ")
    for uid, r in latest.items():
        _check(r.cnt == batch[uid].cnt, f"cnt mismatch for user {uid}")
        # per-user float accumulation order differs batch-vs-stream
        _check(abs(r.sum_value - batch[uid].sum_value) < 0.05, f"sum user {uid}")
    return len(latest)


@scenario
def tws_totals_vs_batch_q04(spark, sf_dir, replay_dir, work):
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        running_user_totals_tws,
    )

    # state-v2 needs per-variable column families -> RocksDB provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    agg = running_user_totals_tws(events_stream(spark, replay_dir))
    res = run_to_convergence(agg, "cs_q04_tws", output_mode="update")
    rows = res.collect()
    latest = {}
    for r in rows:
        if r.user_id not in latest or r.cnt > latest[r.user_id].cnt:
            latest[r.user_id] = r
    batch = {
        r.user_id: r
        for r in all_queries()["q04_user_event_stats"].builder(spark, sf_dir).collect()
    }
    _check(set(latest) == set(batch), "user-id sets differ")
    for uid, r in latest.items():
        _check(r.cnt == batch[uid].cnt, f"cnt mismatch for user {uid}")
    return len(latest)


@scenario
def tws_mapstate_census_vs_batch(spark, sf_dir, replay_dir, work):
    """state-v2 MapState census: last emission per (user, event_type)
    == batch count — drives the GetValue/ContainsKey/UpdateValue/
    Iterator map-state message families end to end."""
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        event_type_census_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    agg = event_type_census_tws(
        events_stream(spark, replay_dir).select("user_id", "event_type")
    )
    res = run_to_convergence(agg, "cs_census_tws", output_mode="update")
    got = {
        (r.user_id, r.event_type): r.cnt
        for r in res.groupBy("user_id", "event_type")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }
    batch = {
        (r.user_id, r.event_type): r.cnt
        for r in spark.read.parquet(replay_dir)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    _check(got == batch, "census mismatch")
    return len(got)


@scenario
def tws_liststate_recent_vs_batch(spark, sf_dir, replay_dir, work):
    """state-v2 ListState last-3 buffer: converged buffer == global
    top-3 by (us, event_id) per user — drives the ListStateGet/
    ListStatePut message families; two state variables per processor."""
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        recent_values_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    micro = "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    stream = events_stream(spark, replay_dir).selectExpr(
        "user_id", "unix_micros(ts) AS us", "event_id", f"{micro} AS vm"
    )
    res = run_to_convergence(
        recent_values_tws(stream, k=3), "cs_recent_tws", output_mode="update"
    )
    rows = res.collect()
    latest_seen = {}
    for r in rows:
        latest_seen[r.user_id] = max(latest_seen.get(r.user_id, 0), r.seen)
    got = {}
    for r in rows:
        if r.seen == latest_seen[r.user_id]:
            got.setdefault(r.user_id, {})[r.pos] = r.vm
    ev = (
        spark.read.parquet(replay_dir)
        .selectExpr("user_id", "unix_micros(ts) AS us", "event_id", f"{micro} AS vm")
        .collect()
    )
    want = {}
    for r in ev:
        want.setdefault(r.user_id, []).append(
            (r.us, r.event_id, r.vm if r.vm is not None else 0)
        )
    _check(set(got) == set(want), "user sets differ")
    for uid, evs in want.items():
        evs.sort(key=lambda t: (-t[0], -t[1]))
        expect = {i: v for i, (_, _, v) in enumerate(evs[:3])}
        _check(got[uid] == expect, f"buffer mismatch for user {uid}")
    return len(got)


@scenario
def tws_timer_sessionization_vs_batch(spark, sf_dir, replay_dir, work):
    """state-v2 event-time TIMERS: idle-session finalization when the
    watermark passes last_event + gap; a time-ordered replay + one
    far-future sentinel event makes every real session finalize — the
    emitted set must equal batch sessionization exactly.  Drives
    RegisterTimer/DeleteTimer/ListTimers + handleExpiredTimer."""
    import time as _t

    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        session_finalizer_tws,
    )
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        replay_events_time_ordered,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    replay = os.path.join(work, "timer_replay")
    replay_events_time_ordered(spark, sf_dir, replay, n_chunks=4)
    ev = spark.read.parquet(replay)
    sent = (
        ev.orderBy(F.desc("ts"))
        .limit(1)
        .selectExpr(
            "CAST(999999 AS BIGINT) AS event_id",
            "CAST(999999 AS BIGINT) AS user_id",
            "'click' AS event_type",
            "ts + INTERVAL 30 DAYS AS ts",
            "CAST(0.0 AS DOUBLE) AS value",
            "'{}' AS props",
        )
        .select(*ev.columns)
    )
    _t.sleep(0.1)
    sent.coalesce(1).write.mode("append").parquet(replay)
    GAP = 1800
    stream = events_stream(spark, replay).selectExpr(
        "user_id", "ts", "unix_micros(ts) AS us", "event_id"
    )
    q = (
        session_finalizer_tws(stream, gap_s=GAP)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cs_sess_timer")
        .option("checkpointLocation", os.path.join(work, "timer_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.user_id, r.start_us, r.end_us, r.n)
        for r in spark.table("cs_sess_timer").collect()
        if r.user_id != 999999
    )
    evs = (
        spark.read.parquet(replay)
        .filter("user_id != 999999")
        .selectExpr("user_id", "unix_micros(ts) AS us")
        .collect()
    )
    per = {}
    for r in evs:
        per.setdefault(r.user_id, []).append(r.us)
    want = []
    for uid, uss in per.items():
        uss.sort()
        cur = [uss[0], uss[0], 1]
        for u in uss[1:]:
            if u - cur[1] <= GAP * 1_000_000:
                cur[1] = u
                cur[2] += 1
            else:
                want.append((uid, cur[0], cur[1], cur[2]))
                cur = [u, u, 1]
        want.append((uid, cur[0], cur[1], cur[2]))
    _check(got == sorted(want), f"sessions {len(got)} vs {len(want)}")
    return len(got)


@scenario
def tws_value_state_ttl_expiry(spark, sf_dir, replay_dir, work):
    """Per-variable TTL (state-v2): ~1 ms TTL => every batch counts
    from fresh state (sum of per-batch counts == batch total); 1 h TTL
    => running totals converge (max == batch total).  ProcessingTime
    streams never satisfy processAllAvailable (endless state-cleanup
    maintenance batches), so convergence is polled on the data
    invariant sum(batch_rows) == n_events."""
    import time

    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        ttl_user_counts_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    batch = {
        r.user_id: r.n
        for r in spark.read.parquet(replay_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_events = sum(batch.values())
    stream = events_stream(spark, replay_dir).select("user_id")

    def converge(name, ttl_ms):
        q = (
            ttl_user_counts_tws(stream, ttl_ms=ttl_ms)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            got = spark.table(name).agg(F.sum("batch_rows").alias("s")).collect()[0].s
            if got == n_events:
                return q
            time.sleep(0.5)
        q.stop()
        raise AssertionError(f"{name} never converged")

    q = converge("cs_ttl_long", 3_600_000)
    try:
        mx = {}
        for r in spark.table("cs_ttl_long").collect():
            mx[r.user_id] = max(mx.get(r.user_id, 0), r.cnt)
        _check(mx == batch, "long-TTL running totals diverge from batch")
    finally:
        q.stop()
    q = converge("cs_ttl_short", 1)
    try:
        sm = {}
        for r in spark.table("cs_ttl_short").collect():
            _check(r.cnt == r.batch_rows, "short-TTL state survived a batch gap")
            sm[r.user_id] = sm.get(r.user_id, 0) + r.batch_rows
        _check(sm == batch, "short-TTL per-batch counts do not partition events")
    finally:
        q.stop()
    return len(batch)


@scenario
def tws_initial_state_bootstrap(spark, sf_dir, replay_dir, work):
    """initialState bootstrap (q242's law on the shared replay): seed
    per-user totals from the even-event_id half batch-side, stream the
    odd half, converged totals == full-replay batch totals for every
    user that received an increment."""
    import os

    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        bootstrapped_user_totals_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    ev = spark.read.parquet(replay_dir)
    micro = "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    snapshot = (
        ev.filter("event_id % 2 = 0")
        .selectExpr("user_id", f"{micro} AS vm")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.coalesce(F.sum("vm"), F.lit(0)).cast("bigint").alias("sum_micro"),
        )
    )
    odd_dir = os.path.join(work, "bootstrap_odd")
    ev.filter("event_id % 2 = 1").repartition(3).write.mode("overwrite").parquet(
        odd_dir
    )
    stream = events_stream(spark, odd_dir).selectExpr(
        "user_id", f"{micro} AS vm"
    )
    res = run_to_convergence(
        bootstrapped_user_totals_tws(stream, snapshot.groupBy("user_id")),
        "cs_bootstrap",
        output_mode="update",
    )
    latest = {}
    for r in spark.table("cs_bootstrap").collect():
        if r.user_id not in latest or r.cnt > latest[r.user_id][0]:
            latest[r.user_id] = (r.cnt, r.sum_micro)
    full = {
        r.user_id: (r.cnt, r.sm)
        for r in ev.selectExpr("user_id", "event_id", f"{micro} AS vm")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.coalesce(F.sum("vm"), F.lit(0)).cast("bigint").alias("sm"),
        )
        .join(
            ev.filter("event_id % 2 = 1").select("user_id").distinct(),
            "user_id",
            "left_semi",
        )
        .collect()
    }
    _check(set(latest) == set(full), "emitted-user set != odd-half users")
    _check(latest == full, "bootstrap + increments != full recompute")
    return len(latest)


@scenario
def dedup_first_wins(spark, sf_dir, replay_dir, work):
    s = stream_dedup(events_stream(spark, replay_dir), ["user_id", "event_type"])
    res = run_to_convergence(s, "cs_dedup", output_mode="append")
    got_n = res.count()
    dupes = (
        res.groupBy("user_id", "event_type")
        .count()
        .filter("count > 1")
        .count()
    )
    want = spark.read.parquet(replay_dir).select("user_id", "event_type").distinct().count()
    _check(got_n == want and dupes == 0, f"got={got_n} want={want} dupes={dupes}")
    return got_n


@scenario
def dedup_within_watermark_absorbs_and_evicts(spark, sf_dir, replay_dir, work):
    """Both halves of dropDuplicatesWithinWatermark's contract (q248's
    operator).  ABSORB: a duplicate arriving within the delay of its
    first occurrence is dropped — with the delay spanning the fixture's
    whole event-time range, a doubled replay dedups exactly to the
    batch census.  EVICT: state really is bounded — with a 1-second
    delay, keys whose expiry (ts + delay) the watermark has passed are
    evicted, so their late duplicates RE-EMIT (the contract's declared
    weakening), while a key still inside the delay window stays
    absorbed.  The margins (2s vs the fixture's multi-day span) keep
    both assertions away from the eviction boundary."""
    import time as _t

    from multi_threaded_mapreduce_framework_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    n = ev.count()

    # --- absorb: doubled replay, wide delay -> exact batch census ---
    d = _own_replay(spark, sf_dir, work, "ddww_absorb")
    _t.sleep(0.05)
    ev.repartition(2).write.mode("append").parquet(d)
    s = stream_dedup_within_watermark(
        events_stream(spark, d), ["event_id"], watermark="3650 days"
    )
    res = run_to_convergence(s, "cs_ddww_a", output_mode="append")
    got = res.count()
    _check(got == n, f"absorb: got={got} want={n}")

    # --- evict: 1s delay, three single-file micro-batches.
    # Batch 0 = all events; the watermark then reads max_ts - 1s, and
    # every key first seen more than 2s before max_ts is EXPIRED
    # (expiry = first_ts + 1s < watermark).  But eviction runs at the
    # END of a batch, after that batch's dedup check, so expired keys
    # still absorb duplicates arriving in the same batch that evicts
    # them — batch 1 (the max-ts key redelivered: control, absorbed)
    # triggers the eviction pass; batch 2 then re-delivers the expired
    # keys stamped at max_ts (above the watermark — a same-ts
    # redelivery would be discarded as LATE DATA, indistinguishable
    # from dedup): their state is gone, so they RE-EMIT. ---
    import pyspark.sql.functions as F

    d2 = os.path.join(work, "ddww_evict")
    ev.coalesce(1).write.mode("overwrite").parquet(d2)
    _t.sleep(0.05)
    max_ts = ev.agg(F.max("ts")).first()[0]
    fresh = ev.orderBy(F.desc("ts"), F.asc("event_id")).limit(1)
    fresh.coalesce(1).write.mode("append").parquet(d2)
    _t.sleep(0.05)
    late = ev.filter(
        F.col("ts") < F.lit(max_ts) - F.expr("interval 2 seconds")
    ).withColumn("ts", F.lit(max_ts))
    n_late = late.count()
    late.coalesce(1).write.mode("append").parquet(d2)
    _check(0 < n_late < n, f"fixture span too small: n_late={n_late}")
    s2 = stream_dedup_within_watermark(
        events_stream(spark, d2), ["event_id"], watermark="1 second"
    )
    res2 = run_to_convergence(s2, "cs_ddww_e", output_mode="append")
    got2 = res2.count()
    _check(
        got2 == n + n_late,
        f"evict: got={got2} want={n + n_late} (n={n} late={n_late})",
    )
    return got2


@scenario
def checkpoint_recovery_exactly_once(spark, sf_dir, replay_dir, work):
    from multi_threaded_mapreduce_framework_spark.sources import load_table

    src, ckpt = os.path.join(work, "cr_events"), os.path.join(work, "cr_ckpt")
    full = load_table(spark, sf_dir, "events")
    first, second = full.filter("event_id % 2 = 0"), full.filter("event_id % 2 = 1")
    first.repartition(2).write.mode("overwrite").parquet(src)

    def run_once():
        agg = tumbling_window_counts(events_stream(spark, src))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("cs_ckpt")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    second.repartition(2).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint; picks up only the new files
    got = {tuple(r) for r in spark.table("cs_ckpt").collect()}
    batch = {
        tuple(r)
        for r in all_queries()["q24_window_tumbling"].builder(spark, sf_dir).collect()
    }
    _check(got == batch, f"stream={len(got)} batch={len(batch)}")
    return len(got)


# ---------------------------------------------------------------- matview
@scenario
def matview_vs_batch_agg(spark, sf_dir, replay_dir, work):
    from multi_threaded_mapreduce_framework_spark.sources import load_table
    from multi_threaded_mapreduce_framework_spark.streaming import (
        compact_matview,
        read_matview,
        start_incremental_matview,
    )

    wire = os.path.join(work, "mv_wire")
    write_kafka_replay(spark, sf_dir, wire, n_chunks=3)
    state = os.path.join(work, "mv_state")
    q = start_incremental_matview(
        parse_events(kafka_wire_stream(spark, wire)),
        ["event_type"],
        state,
        os.path.join(work, "mv_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    truth = sorted(
        map(
            tuple,
            load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum(
                    F.expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)")
                )
                .cast("bigint")
                .alias("sum_micro"),
            )
            .withColumn("avg_micro", F.expr("sum_micro div cnt").cast("bigint"))
            .collect(),
        )
    )
    got = sorted(map(tuple, read_matview(spark, state, ["event_type"]).collect()))
    _check(got == truth, "pre-compaction view != batch")
    compact_matview(spark, state, ["event_type"])
    got2 = sorted(map(tuple, read_matview(spark, state, ["event_type"]).collect()))
    _check(got2 == truth, "post-compaction view != batch")
    return len(got)


@scenario
def bitmap_matview_vs_batch_distinct(spark, sf_dir, replay_dir, work):
    from multi_threaded_mapreduce_framework_spark.sources import load_table
    from multi_threaded_mapreduce_framework_spark.streaming.matview import (
        compact_bitmap_matview,
        read_bitmap_matview,
        start_bitmap_matview,
    )

    wire = os.path.join(work, "bmv_wire")
    write_kafka_replay(spark, sf_dir, wire, n_chunks=3)
    state = os.path.join(work, "bmv_state")
    q = start_bitmap_matview(
        parse_events(kafka_wire_stream(spark, wire)),
        ["event_type"],
        "user_id",
        state,
        os.path.join(work, "bmv_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    truth = sorted(
        map(
            tuple,
            load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").cast("bigint").alias("distinct_ids"))
            .collect(),
        )
    )
    got = sorted(
        map(tuple, read_bitmap_matview(spark, state, ["event_type"]).collect())
    )
    _check(got == truth, "pre-compaction view != batch countDistinct")
    compact_bitmap_matview(spark, state, ["event_type"])
    got2 = sorted(
        map(tuple, read_bitmap_matview(spark, state, ["event_type"]).collect())
    )
    _check(got2 == truth, "post-compaction view != batch countDistinct")
    return len(got)


# ------------------------------------------------------------------ joins
def _own_replay(spark, sf_dir, work, name):
    """Private replay dir for scenarios that drain with sentinel rows
    (the shared replay_dir must stay pristine for later scenarios)."""
    d = os.path.join(work, name)
    replay_events(spark, sf_dir, d, n_chunks=4)
    return d


def _batch_range_join(spark, replay_dir, how, lag):
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
        & (r.r_ts <= l.l_ts + F.expr(f"interval {lag}"))
    )
    return {tuple(row) for row in l.join(r, cond, how).collect()}


@scenario
def ss_left_join_flushes_after_watermark(spark, sf_dir, replay_dir, work):
    lag, wm = "1 hour", "45 days"
    d = _own_replay(spark, sf_dir, work, "lj_replay")
    joined = stream_stream_join(
        events_stream(spark, d).filter(F.col("event_type") == "click"),
        events_stream(spark, d).filter(F.col("event_type") == "purchase"),
        "left_outer",
        max_lag=lag,
        watermark=wm,
    )
    res = drain_to_convergence(joined, d, "cs_ssl")
    got = {tuple(row) for row in res.filter(F.col("l_user") >= 0).collect()}
    batch = _batch_range_join(spark, d, "left_outer", lag)
    _check(got == batch, f"stream={len(got)} batch={len(batch)}")
    _check(any(row[3] is None for row in got), "no outer rows flushed")
    return len(got)


@scenario
def ss_funnel_chained_stateful_vs_batch(spark, sf_dir, replay_dir, work):
    from multi_threaded_mapreduce_framework_spark.streaming import funnel_daily_counts

    lag, wm = "1 hour", "45 days"
    d = _own_replay(spark, sf_dir, work, "fn_replay")
    agg = funnel_daily_counts(
        events_stream(spark, d).filter(F.col("event_type") == "click"),
        events_stream(spark, d).filter(F.col("event_type") == "purchase"),
        max_lag=lag,
        watermark=wm,
    )
    got = {
        tuple(row)
        for row in drain_to_convergence(agg, d, "cs_funnel").collect()
        if not row.day.startswith("2025")  # sentinel windows
    }
    ev = spark.read.parquet(d).filter(F.col("user_id") >= 0)
    batch = {
        (str(r.day), r.n)
        for r in ev.filter(F.col("event_type") == "click")
        .alias("c")
        .join(
            ev.filter(F.col("event_type") == "purchase").alias("p"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr(f"interval {lag}")),
        )
        .groupBy(F.to_date("c.ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    _check(got == batch and len(got) > 0, f"stream={len(got)} batch={len(batch)}")
    return len(got)


@scenario
def ss_inner_join_vs_batch(spark, sf_dir, replay_dir, work):
    lag, wm = "1 hour", "45 days"  # replay is hash-partitioned (see tests)
    joined = stream_stream_join(
        events_stream(spark, replay_dir).filter(F.col("event_type") == "click"),
        events_stream(spark, replay_dir).filter(F.col("event_type") == "purchase"),
        "inner",
        max_lag=lag,
        watermark=wm,
    )
    got = {
        tuple(r) for r in run_to_convergence(joined, "cs_ssj", "append").collect()
    }
    batch = _batch_range_join(spark, replay_dir, "inner", lag)
    _check(got == batch and len(got) > 0, f"stream={len(got)} batch={len(batch)}")
    return len(got)


@scenario
def ss_full_join_flushes_both_sides(spark, sf_dir, replay_dir, work):
    """q275's set-equality form: unmatched rows from BOTH sides must
    null-flush once the watermark clears their windows — the left form
    (ss_left_join_flushes_after_watermark) can only see click-side
    flushes."""
    lag, wm = "1 hour", "45 days"
    d = _own_replay(spark, sf_dir, work, "fj_replay")
    joined = stream_stream_join(
        events_stream(spark, d).filter(F.col("event_type") == "click"),
        events_stream(spark, d).filter(F.col("event_type") == "purchase"),
        "full_outer",
        max_lag=lag,
        watermark=wm,
    )
    got = {
        tuple(row)
        for row in drain_to_convergence(joined, d, "cs_ssf")
        .filter(F.coalesce(F.col("l_user"), F.col("r_user")) >= 0)
        .collect()
    }
    batch = _batch_range_join(spark, d, "full_outer", lag)
    _check(got == batch, f"stream={len(got)} batch={len(batch)}")
    _check(any(row[3] is None for row in got), "no left-side outer rows")
    _check(any(row[0] is None for row in got), "no right-side outer rows")
    return len(got)


@scenario
def ss_semi_join_exactly_once(spark, sf_dir, replay_dir, work):
    """q276's set-equality form: each converted click emitted exactly
    once with left columns only (batch left_semi equality doubles as
    the no-double-emission law because the stream output is compared
    as a COUNTED multiset)."""
    from collections import Counter

    lag, wm = "1 hour", "45 days"
    joined = stream_stream_join(
        events_stream(spark, replay_dir).filter(F.col("event_type") == "click"),
        events_stream(spark, replay_dir).filter(
            F.col("event_type") == "purchase"
        ),
        "left_semi",
        max_lag=lag,
        watermark=wm,
    )
    got = Counter(
        tuple(r) for r in run_to_convergence(joined, "cs_sss", "append").collect()
    )
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
        & (r.r_ts <= l.l_ts + F.expr(f"interval {lag}"))
    )
    batch = Counter(tuple(row) for row in l.join(r, cond, "left_semi").collect())
    _check(got == batch and len(got) > 0, f"stream={len(got)} batch={len(batch)}")
    _check(max(got.values()) == 1, "a click emitted more than once")
    return len(got)


@scenario
def stream_static_join_is_stateless(spark, sf_dir, replay_dir, work):
    """q274's operator law: a stream-static LEFT join buffers NO state
    (the running query must report zero stateful operators) and its
    unmatched stream rows emit immediately — converged output equals
    the batch LEFT join with no sentinel drain."""
    from multi_threaded_mapreduce_framework_spark.sources import load_table
    from multi_threaded_mapreduce_framework_spark.streaming import (
        stream_static_join,
    )

    dim = (
        load_table(spark, sf_dir, "nation")
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
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("cs_sst")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.lastProgress
        got = {tuple(r) for r in spark.table("cs_sst").collect()}
    finally:
        q.stop()
    _check(
        progress is not None and progress["stateOperators"] == [],
        f"stateful operators reported: {progress and progress['stateOperators']}",
    )
    ev = spark.read.parquet(replay_dir).filter(F.col("user_id") >= 0)
    batch = {
        tuple(r)
        for r in ev.join(
            F.broadcast(dim), ev["user_id"] % 10 == dim["n_nationkey"], "left_outer"
        )
        .select("user_id", "event_id", "n_name")
        .collect()
    }
    _check(got == batch and len(got) > 0, f"stream={len(got)} batch={len(batch)}")
    _check(any(row[2] is None for row in got), "no unmatched stream rows emitted")
    return len(got)


@scenario
def kafka_wire_tumbling_vs_batch_q24(spark, sf_dir, replay_dir, work):
    wire = os.path.join(work, "kw_wire")
    write_kafka_replay(spark, sf_dir, wire, n_chunks=3)
    agg = tumbling_window_counts(parse_events(kafka_wire_stream(spark, wire)))
    res = run_to_convergence(agg, "cs_kw_q24")
    got = {tuple(r) for r in res.collect()}
    batch = {
        tuple(r)
        for r in all_queries()["q24_window_tumbling"].builder(spark, sf_dir).collect()
    }
    _check(got == batch, f"stream={len(got)} batch={len(batch)}")
    return len(got)


@scenario
def update_changelog_emissions_per_batch(spark, sf_dir, replay_dir, work):
    """q265's update-mode contract scenario-pinned (VERDICT r9 item 6):
    a per-user running count over a DETERMINISTIC 4-chunk replay
    (event_id % 4, chunk order pinned with explicit mtimes) emits, per
    micro-batch, EXACTLY the keys that batch touched — each with its
    correct cumulative count — and nothing else (no stale re-emission,
    no skipped update).  foreachBatch + update mode exposes the
    per-batch change feed with its batch_id, so the check is exact."""
    from multi_threaded_mapreduce_framework_spark.sources import load_table

    rep = os.path.join(work, "upd_chlog_replay")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    chunk_counts = []
    for i in range(4):
        chunk = ev.filter(F.col("event_id") % 4 == i)
        chunk_counts.append(
            {
                r.user_id: r.c
                for r in chunk.groupBy("user_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
                .collect()
            }
        )
        append_wave(rep, chunk.coalesce(1))
    agg = (
        events_stream(spark, rep)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    captured: dict[int, dict] = {}

    def capture(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            captured[batch_id] = {r.user_id: r.cnt for r in rows}

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", os.path.join(work, "upd_chlog_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _check(len(captured) == 4, f"batches={len(captured)} (want 4)")
    cum: dict = {}
    for i, bid in enumerate(sorted(captured)):
        expected = {}
        for u, c in chunk_counts[i].items():
            cum[u] = cum.get(u, 0) + c
            expected[u] = cum[u]
        _check(
            captured[bid] == expected,
            f"batch {i}: emissions != keys touched "
            f"(got {len(captured[bid])}, want {len(expected)})",
        )
    return sum(len(v) for v in captured.values())


@scenario
def session_window_recovery_across_restart(spark, sf_dir, replay_dir, work):
    """q269's open-session MERGE state across a mid-replay RESTART —
    the scenario-pin discipline extended to the newest streaming row
    (q262 pins restart recovery for hash-agg state; session_window
    state is interval-MERGING, a different store layout): run the
    watermarked session census over the time-ordered FIRST half of
    the events, STOP the query (open sessions parked in the state
    store), deliver the second half plus a far-future sentinel during
    the downtime, restart from the same checkpoint into the same
    parquet FILE sink, and require the per-user census readback to
    equal q199's batch law.  A straddle assertion first proves that
    at least one true session spans the stop boundary — so the
    equality demonstrates recovered-state interval merging, not
    merely absorption of disjoint halves."""
    from multi_threaded_mapreduce_framework_spark.queries.t2_text import (
        SESSION_GAP_US,
    )
    from multi_threaded_mapreduce_framework_spark.sources import load_table

    src = os.path.join(work, "swr_events")
    ckpt = os.path.join(work, "swr_ckpt")
    sink = os.path.join(work, "swr_sink")
    ev = load_table(spark, sf_dir, "events")
    # adaptive boundary: the MEDIAN intra-session consecutive pair —
    # the stop lands strictly inside a true session by construction
    # (a fixed time split can fall between sessions and prove nothing)
    pairs = (
        ev.selectExpr("user_id", "event_id", "unix_micros(ts) AS us")
        .selectExpr(
            "user_id",
            "us",
            "lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)"
            " AS prev",
        )
        .filter((F.col("us") - F.col("prev")) <= F.lit(SESSION_GAP_US))
        .orderBy("prev", "user_id")
        .collect()
    )
    _check(pairs, "fixture has no intra-session pair to split")
    mid = pairs[len(pairs) // 2]
    boundary_us = (int(mid.prev) + int(mid.us)) // 2
    # two time-ordered chunks per wave, mtime-pinned replay order
    halves = (
        ev.filter(F.unix_micros("ts") <= boundary_us),
        ev.filter(F.unix_micros("ts") > boundary_us),
    )
    def write_wave(df):
        tiled = df.join(
            df.selectExpr(
                "ntile(2) OVER (ORDER BY ts, event_id) AS tile",
                "ts",
                "event_id",
            ),
            ["ts", "event_id"],
        )
        for i in (1, 2):
            chunk = tiled.filter(F.col("tile") == i).drop("tile")
            append_wave(src, chunk.coalesce(1))

    write_wave(halves[0])
    first_wave = spark.read.parquet(src).localCheckpoint()

    gap = f"{SESSION_GAP_US // 1_000_000} seconds"

    def run_once():
        per_session = (
            events_stream(spark, src)
            .withWatermark("ts", "2 hours")
            .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_ev"))
            .select(
                "user_id",
                "n_ev",
                (
                    F.unix_micros(F.col("sw.end"))
                    - F.unix_micros(F.col("sw.start"))
                ).alias("dur_us"),
            )
        )
        q = (
            per_session.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()  # open sessions at the boundary are parked in state
    # downtime: the second half + a far-future sentinel (advances the
    # final watermark past every real session; its own session never
    # finalizes, so it is provably absent from the sink)
    second_wave = halves[1]
    write_wave(second_wave)
    append_far_future_event(spark, src)
    # the boundary must split >=1 true session or the test proves nothing
    straddle = (
        first_wave.groupBy("user_id")
        .agg(F.max("ts").alias("last_before"))
        .join(
            second_wave.groupBy("user_id").agg(F.min("ts").alias("first_after")),
            "user_id",
        )
        .filter(
            F.unix_micros("first_after") - F.unix_micros("last_before")
            <= F.lit(SESSION_GAP_US)
        )
        .count()
    )
    _check(straddle >= 1, "no session straddles the restart boundary")
    run_once()  # restart: recovers open-session intervals, merges, drains
    got = {
        tuple(r)
        for r in spark.read.parquet(sink)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_ev").cast("bigint").alias("n_events"),
            F.sum("dur_us").cast("bigint").alias("sum_dur_us"),
            F.max("n_ev").cast("bigint").alias("max_session_events"),
        )
        .collect()
    }
    batch = {
        tuple(r)
        for r in all_queries()["q199_session_window_native"]
        .builder(spark, sf_dir)
        .collect()
    }
    _check(got == batch, f"stream={len(got)} batch={len(batch)}")
    return len(got)


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    run = {n: SCENARIOS[n] for n in names} if names else SCENARIOS
    spark = get_spark("check-streaming", shuffle_partitions=4)
    work = tempfile.mkdtemp(prefix="check_streaming_")
    replay_dir = os.path.join(work, "events_replay")
    replay_events(spark, sf_dir, replay_dir, n_chunks=4)
    failures = 0
    try:
        for name, fn in run.items():
            t0 = time.time()
            try:
                n = fn(spark, sf_dir, replay_dir, work)
                status, detail = "OK", ""
            except Skip as e:
                n, status, detail = 0, "SKIP", str(e)
            except Exception as e:  # noqa: BLE001 — report, keep going
                n, status, detail = 0, "FAIL", str(e)[:200]
                failures += 1
            print(
                f"{name:<32} {status:<5} rows={n:<8} {time.time()-t0:.2f}s  {detail}"
            )
            sys.stdout.flush()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print()
    print("ALL OK" if failures == 0 else f"{failures} FAILED")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

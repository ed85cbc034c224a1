"""Batch-stream convergence (SURVEY.md §5.2): the converged streaming
answers must equal the batch queries' results on the same events data."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.streaming import (  # noqa: F401
    events_stream,
    replay_events,
    run_to_convergence,
    session_counts,
    sliding_window_counts,
    tumbling_window_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_replay"))
    replay_events(spark, SF, d, n_chunks=4)
    return d


def test_tumbling_converges_to_batch_q24(spark, replay_dir):
    agg = tumbling_window_counts(events_stream(spark, replay_dir))
    res = run_to_convergence(agg, "stream_q24")
    got = {tuple(r) for r in res.collect()}
    batch = {
        tuple(r)
        for r in all_queries()["q24_window_tumbling"].builder(spark, SF).collect()
    }
    assert got == batch


def test_sliding_windows_cover_each_event_four_times(spark, replay_dir):
    agg = sliding_window_counts(events_stream(spark, replay_dir))
    res = run_to_convergence(agg, "stream_sliding")
    total = res.agg(F.sum("cnt").alias("s")).collect()[0].s
    n_events = spark.read.parquet(replay_dir).count()
    assert total == 4 * n_events  # 1h window / 15min slide = 4 windows/event


def test_session_window_converges_to_batch_q23(spark, replay_dir):
    # watermark off: the replay is hash-partitioned (not time-ordered),
    # and session-window state ops drop older-than-watermark input
    agg = session_counts(events_stream(spark, replay_dir), watermark=None)
    res = run_to_convergence(agg, "stream_q23")
    got = {
        (r.user_id, r.num_sessions)
        for r in res.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("num_sessions"))
        .collect()
    }
    batch = {
        (r.user_id, r.num_sessions)
        for r in all_queries()["q23_sessionize"].builder(spark, SF).collect()
    }
    assert got == batch


def test_stateful_running_totals_converges_to_batch_q04(spark, replay_dir):
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        running_user_totals,
    )

    agg = running_user_totals(events_stream(spark, replay_dir))
    res = run_to_convergence(agg, "stream_q04", output_mode="update")
    # update-mode memory sink appends one row per user per batch;
    # the last (max-cnt) row per user is the converged total
    rows = res.collect()
    latest = {}
    for r in rows:
        if r.user_id not in latest or r.cnt > latest[r.user_id].cnt:
            latest[r.user_id] = r
    batch = {
        r.user_id: r
        for r in all_queries()["q04_user_event_stats"].builder(spark, SF).collect()
    }
    assert set(latest) == set(batch)
    for uid, r in latest.items():
        assert r.cnt == batch[uid].cnt
        # per-user float accumulation order differs batch-vs-stream
        assert abs(r.sum_value - batch[uid].sum_value) < 0.05


def test_stream_dedup_first_wins_across_batches(spark, replay_dir):
    from multi_threaded_mapreduce_framework_spark.streaming import stream_dedup

    s = stream_dedup(events_stream(spark, replay_dir), ["user_id", "event_type"])
    res = run_to_convergence(s, "stream_dedup", output_mode="append")
    got = res
    batch = spark.read.parquet(replay_dir)
    # one row per (user_id, event_type), exactly the distinct set
    assert got.count() == batch.select("user_id", "event_type").distinct().count()
    assert got.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0


def test_checkpoint_recovery_no_duplicates(spark, tmp_path_factory):
    """Stop a checkpointed stream, add more input, restart from the same
    checkpoint: the converged result covers all data exactly once."""

    base = tmp_path_factory.mktemp("ckpt_replay")
    src = str(base / "events")
    ckpt = str(base / "checkpoint")
    from multi_threaded_mapreduce_framework_spark.sources import load_table

    full = load_table(spark, SF, "events")
    first, second = full.filter("event_id % 2 = 0"), full.filter("event_id % 2 = 1")
    first.repartition(2).write.mode("overwrite").parquet(src)

    def run_once():
        agg = tumbling_window_counts(events_stream(spark, src))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("ckpt_q24")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()  # processes the first half
    second.repartition(2).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint; picks up only the new files

    got = {tuple(r) for r in spark.table("ckpt_q24").collect()}
    batch = {
        tuple(r)
        for r in all_queries()["q24_window_tumbling"].builder(spark, SF).collect()
    }
    assert got == batch

def test_tws_running_totals_converges_to_batch_q04(spark, replay_dir):
    """transformWithStateInPandas (state-v2) operator converges to the
    same batch answer as the applyInPandasWithState form.

    The TWS driver worker requires protobuf
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE otherwise); this
    container has no protobuf wheel, so the vendored wire-format
    runtime (vendor/google/protobuf, installed by conftest's
    ensure_protobuf) carries the transport — every request/response on
    this path cross-validates it against the JVM's protobuf-java."""
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        running_user_totals_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    agg = running_user_totals_tws(events_stream(spark, replay_dir))
    res = run_to_convergence(agg, "stream_q04_tws", output_mode="update")
    rows = res.collect()
    latest = {}
    for r in rows:
        if r.user_id not in latest or r.cnt > latest[r.user_id].cnt:
            latest[r.user_id] = r
    batch = {
        r.user_id: r
        for r in all_queries()["q04_user_event_stats"].builder(spark, SF).collect()
    }
    assert set(latest) == set(batch)
    for uid, r in latest.items():
        assert r.cnt == batch[uid].cnt
        assert abs(r.sum_value - batch[uid].sum_value) < 0.05


def test_dedup_within_watermark_drops_redelivered_events(spark, replay_dir):
    """An at-least-once source redelivers events (simulated by unioning
    two independent streams over the same replay): the watermark-bounded
    dedup must converge to exactly the distinct event set."""
    from multi_threaded_mapreduce_framework_spark.streaming import (
        stream_dedup_within_watermark,
    )

    # two independent file streams over the same dir = every event twice
    doubled = events_stream(spark, replay_dir).union(
        events_stream(spark, replay_dir)
    )
    # 45 days >> the replay's disorder: no duplicate arrives after its
    # key's state was evicted, so the drop guarantee is total here
    s = stream_dedup_within_watermark(doubled, ["event_id"], watermark="45 days")
    res = run_to_convergence(s.select("event_id"), "stream_dedup_wm", "append")
    got = spark.table("stream_dedup_wm").count()
    distinct = spark.read.parquet(replay_dir).select("event_id").distinct().count()
    assert got == distinct


class _FakeValueState:
    """In-memory stand-in for a state-v2 ValueState (implicitly scoped
    to one key, like the real store scopes by grouping key)."""

    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema):
        return self.states.setdefault(name, _FakeValueState())


def test_tws_processor_logic_runs_in_container():
    """Executed (non-skipped) coverage for the state-v2 operator where
    the protobuf transport is unavailable: the processor's update logic
    runs against a fake handle with real pandas batches — accumulation
    across micro-batches, fresh state per key, output row shape."""
    import pandas as pd

    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        RunningTotalsProcessor,
    )

    p = RunningTotalsProcessor()
    p.init(_FakeHandle())
    (out1,) = p.handleInputRows(
        (7,), iter([pd.DataFrame({"value": [1.0, 2.0]}),
                    pd.DataFrame({"value": [3.0]})]), None
    )
    assert out1.iloc[0].tolist() == [7, 3, 6.0]
    # second micro-batch for the same key accumulates
    (out2,) = p.handleInputRows((7,), iter([pd.DataFrame({"value": [4.0]})]), None)
    assert out2.iloc[0].tolist() == [7, 4, 10.0]
    # a different key starts from empty state
    p2 = RunningTotalsProcessor()
    p2.init(_FakeHandle())
    (out3,) = p2.handleInputRows((9,), iter([pd.DataFrame({"value": [5.0]})]), None)
    assert out3.iloc[0].tolist() == [9, 1, 5.0]
    p.close()
    p2.close()


def test_tws_dataframe_builds_without_protobuf(spark, replay_dir):
    """Constructing + analyzing the transformWithStateInPandas plan
    needs no protobuf (only query EXECUTION does) — pin the declared
    output schema and streaming-ness in-container."""
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        running_user_totals_tws,
    )

    agg = running_user_totals_tws(events_stream(spark, replay_dir))
    assert agg.isStreaming
    assert [(f.name, f.dataType.simpleString()) for f in agg.schema.fields] == [
        ("user_id", "bigint"), ("cnt", "bigint"), ("sum_value", "double")
    ]


def test_watermark_drops_late_event_from_finalized_window(spark, tmp_path_factory):
    """Pin REAL watermark drop semantics (the behavior q158's batch
    replay models): after the watermark advances past a window's end,
    a late arrival into that window is DROPPED from the append-mode
    result; the same event arriving before the advance would have
    counted.  Batch order is forced via file mtimes (FileStreamSource
    orders by modification time), one file per trigger."""
    import os
    import time

    src = str(tmp_path_factory.mktemp("wm_src"))
    ck = str(tmp_path_factory.mktemp("wm_ck"))

    def write_chunk(name, rows, mtime):
        import glob as _glob
        import shutil as _sh

        df = spark.createDataFrame(rows, "ts timestamp, k string")
        tmp = os.path.join(src, f"._tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{name}.parquet")
        _sh.move(part, dst)
        _sh.rmtree(tmp)
        os.utime(dst, (mtime, mtime))

    from datetime import datetime

    t = datetime(2024, 1, 1, 10, 0, 0)

    def at(h, m):
        return t.replace(hour=h, minute=m)

    base = time.time() - 1000
    # batch 0: two rows in window [10:00,10:15) + one at 12:00 that
    # advances the watermark to 11:50 — far past the window's end
    write_chunk(
        "c1", [(at(10, 0), "a"), (at(10, 14), "a"), (at(12, 0), "a")], base
    )
    # batch 1: the 11:50 watermark takes effect, finalizes + EVICTS the
    # [10:00,10:15) window (watermark advancement lags one batch)
    write_chunk("c2", [(at(12, 1), "a")], base + 100)
    # batch 2: a LATE row for the already-evicted window and an on-time
    # row at 12:05 — the late row must be dropped, never resurrect the
    # window into a duplicate append emission
    write_chunk("c3", [(at(10, 5), "a"), (at(12, 5), "a")], base + 200)

    schema = spark.read.parquet(os.path.join(src, "c1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.date_format("w.start", "HH:mm").alias("start"), "cnt")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_drop")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [
        (r.start, r.cnt)
        for r in spark.sql("SELECT * FROM wm_drop WHERE start = '10:00'").collect()
    ]
    # finalized once, with exactly its two on-time rows: the late 10:05
    # arrival was dropped AND did not re-open the window (a resurrected
    # window would show as a second append row for the same start)
    assert rows == [("10:00", 2)], rows


def test_tws_mapstate_census_converges_to_batch(spark, replay_dir):
    """MapState (state-v2) per-user event-type census: the last
    emission per (user, event_type) — counts are monotone, so max() —
    must equal the batch groupBy count.  End-to-end this drives the
    GetValue/ContainsKey/UpdateValue/Iterator map-state message
    families through the vendored protobuf transport."""
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
    res = run_to_convergence(agg, "stream_census_tws", output_mode="update")
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
    assert got == batch


def test_tws_liststate_recent_values_converges(spark, replay_dir):
    """ListState (state-v2) last-K buffer: the converged buffer per
    user must be the global top-3 events by (us, event_id) descending
    — identical however the replay chunked the stream.  Drives the
    ListStateGet/ListStatePut message families; also exercises TWO
    state variables (list + value) in one processor."""
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
        recent_values_tws(stream, k=3), "stream_recent_tws", output_mode="update"
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
    want: dict = {}
    for r in ev:
        want.setdefault(r.user_id, []).append(
            (r.us, r.event_id, r.vm if r.vm is not None else 0)
        )
    for uid, evs in want.items():
        evs.sort(key=lambda t: (-t[0], -t[1]))
        expect = {i: v for i, (_, _, v) in enumerate(evs[:3])}
        assert got[uid] == expect, (uid, got[uid], expect)
    assert set(got) == set(want)
    # per-user event totals carried in the second state variable
    batch_n = {
        r.user_id: r.n
        for r in spark.read.parquet(replay_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert latest_seen == batch_n


def test_tws_event_time_timer_sessionization(spark, tmp_path_factory):
    """Event-time TIMERS (state-v2): idle sessions finalize when the
    WATERMARK passes last_event + gap — emission on QUIET, which no
    windowed aggregate can express.  A time-ordered replay plus one
    far-future sentinel event (advancing the watermark past every real
    timer) must yield EXACTLY the batch sessionization, each session
    emitted once.  Drives RegisterTimer/DeleteTimer/ListTimers and the
    handleExpiredTimer callback through the vendored transport."""
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
    base = tmp_path_factory.mktemp("tws_timer")
    replay = str(base / "replay")
    replay_events_time_ordered(spark, SF, replay, n_chunks=4)
    import time as _t

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
        .queryName("stream_sess_timer")
        .option("checkpointLocation", str(base / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.user_id, r.start_us, r.end_us, r.n)
        for r in spark.table("stream_sess_timer").collect()
        if r.user_id != 999999
    )
    evs = (
        spark.read.parquet(replay)
        .filter("user_id != 999999")
        .selectExpr("user_id", "unix_micros(ts) AS us")
        .collect()
    )
    per: dict = {}
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
    assert got == sorted(want)
    assert len(got) > len(per)  # multiple sessions per user exist


def test_tws_checkpoint_recovery_resumes_state(spark, tmp_path_factory):
    """state-v2 exactly-once across a RESTART: run a TWS query over the
    first half of the data, stop it, append the second half, restart
    from the same checkpoint — the converged per-user totals must equal
    the batch aggregate over everything (state reloaded from RocksDB,
    no double counting, no loss).  The restart also re-initializes the
    whole protobuf transport in a fresh run of the same query."""
    from multi_threaded_mapreduce_framework_spark.sources import load_table
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        running_user_totals_tws_micro,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    base = tmp_path_factory.mktemp("tws_ckpt")
    src = str(base / "events")
    ckpt = str(base / "ck")
    full = load_table(spark, SF, "events")
    first = full.filter("event_id % 2 = 0")
    second = full.filter("event_id % 2 = 1")
    first.repartition(2).write.mode("overwrite").parquet(src)

    micro = "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    out = str(base / "out")

    def run_once():
        stream = events_stream(spark, src).selectExpr(
            "user_id", f"{micro} AS vm"
        )

        # memory sink cannot recover an update-mode query from a
        # checkpoint; a foreachBatch parquet append can, and the
        # max-cnt-per-user analysis below is replay-tolerant
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            running_user_totals_tws_micro(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()  # first half
    second.repartition(2).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: picks up only the new files
    rows = spark.read.parquet(out).collect()
    latest = {}
    for r in rows:
        if r.user_id not in latest or r.cnt > latest[r.user_id][0]:
            latest[r.user_id] = (r.cnt, r.sum_micro)
    batch = {
        r.user_id: (r.cnt, r.sum_micro)
        for r in full.selectExpr("user_id", f"{micro} AS vm")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("vm").alias("sum_micro"),
        )
        .collect()
    }
    assert latest == batch


def _run_ttl_to_convergence(spark, stream, name, ttl_ms, n_events):
    """timeMode='ProcessingTime' streams never satisfy
    processAllAvailable(): once the input drains, Spark keeps
    scheduling 'no new data but cleaning up state' maintenance batches
    for TTL eviction indefinitely.  Converge by the DATA invariant
    instead: every arriving event is counted in exactly one emission's
    batch_rows (under any TTL), so the memory table is complete when
    sum(batch_rows) == n_events."""
    import time

    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        ttl_user_counts_tws,
    )

    q = (
        ttl_user_counts_tws(stream, ttl_ms=ttl_ms)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        got = (
            spark.table(name).agg(F.sum("batch_rows").alias("s")).collect()[0].s
        )
        if got == n_events:
            return q
        time.sleep(0.5)
    q.stop()
    raise AssertionError(f"{name}: stream never converged to {n_events} rows")


def test_tws_value_state_ttl_expiry_laws(spark, replay_dir):
    """State-v2 per-variable TTL, pinned WITHOUT wall-clock
    assertions: with a ~1 ms TTL every micro-batch finds the previous
    batch's ValueState expired, so each batch counts from zero and the
    SUM of emitted per-batch counts equals the batch total; with an
    hour-long TTL nothing expires and the MAX emitted running count
    equals the batch total.  Drives the TTL-config path of the
    state-server transport end to end (RocksDB lazy eviction)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    batch_totals = {
        r.user_id: r.n
        for r in spark.read.parquet(replay_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_events = sum(batch_totals.values())
    stream = events_stream(spark, replay_dir).select("user_id")

    q = _run_ttl_to_convergence(
        spark, stream, "stream_ttl_long", 3_600_000, n_events
    )
    try:
        rows = spark.table("stream_ttl_long").collect()
        got_max: dict = {}
        for r in rows:
            got_max[r.user_id] = max(got_max.get(r.user_id, 0), r.cnt)
            assert r.cnt >= r.batch_rows >= 1
        assert got_max == batch_totals  # no expiry: running totals converge
    finally:
        q.stop()

    q = _run_ttl_to_convergence(spark, stream, "stream_ttl_short", 1, n_events)
    try:
        rows = spark.table("stream_ttl_short").collect()
        got_sum: dict = {}
        emissions = 0
        for r in rows:
            # expired predecessor: every batch counts from fresh state
            assert r.cnt == r.batch_rows
            got_sum[r.user_id] = got_sum.get(r.user_id, 0) + r.batch_rows
            emissions += 1
        assert got_sum == batch_totals  # each row counted exactly once
        # the law is only interesting if some user really spanned batches
        assert emissions > len(batch_totals)
    finally:
        q.stop()

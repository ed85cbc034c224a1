"""Streaming-backed declared queries: the batch oracle gate applied to
state produced BY A REAL STREAM.

Every other declared query computes its answer from the fixtures in one
batch job; the queries here first run a Structured Streaming pipeline
over a wire-format replay of the same fixture (micro-batches, restarts,
replays — the production ingest path from streaming/), then return the
state READBACK as the query result.  The oracle is the corresponding
batch SQL, so the driver's hash gate proves stream-maintained state ==
batch answer — the invariant the whole streaming tier exists to keep.

Reference note: the reference engine (MapReduceFramework.cpp:1-377) is
batch-only; this tier is part of the beyond-reference streaming surface
(SURVEY §2.2) promoted to the oracle-declared inventory per the r5
verdict (item 7).
"""

from __future__ import annotations

import os

from multi_threaded_mapreduce_framework_spark.queries.registry import register
from multi_threaded_mapreduce_framework_spark.sources.memo import session_state


def _state_v2_session(spark):
    """Ready ``spark`` for ``transformWithStateInPandas``: the protobuf
    runtime on the workers (vanilla-session safe) and the RocksDB state
    store."""
    from multi_threaded_mapreduce_framework_spark.streaming.protoshim import (
        ensure_protobuf_on_workers,
    )

    ensure_protobuf_on_workers(spark)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )


def _converge(stream_df, base, output_mode):
    """Run ``stream_df`` to convergence into a memory sink named after
    the build directory ``base``, checkpointed under it; returns the
    sink table."""
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        run_to_convergence,
    )

    return run_to_convergence(
        stream_df,
        os.path.basename(base),
        output_mode,
        os.path.join(base, "ckpt"),
    )


@register(
    "q186_bitmap_matview_readback",
    tier="T2",
    oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events WHERE user_id IS NOT NULL
GROUP BY event_type
""",
)
def q186_bitmap_matview_readback(spark, sf_dir):
    """Exact distinct users per event type, maintained by a STATELESS
    STREAM over the Kafka wire replay of the events fixture and read
    back from the bitmap-word matview — the q153 answer (same oracle
    SQL), produced by streaming/matview.py instead of a batch scan.

    Pipeline under the readback: events -> Kafka wire bytes (JSON
    payload, epoch-micros) -> file-per-trigger readStream -> from_json
    parse -> per-micro-batch 64-bit bitmap-word partials written to
    ``batch_id=N`` dirs (OR-idempotent: replays cannot change the
    view) -> ``compact_bitmap_matview`` folds them into a versioned
    base snapshot behind the atomic ``_BASE`` pointer -> the readback
    OR-merges words and sums bit_counts.

    Scale shape: the stream itself is stateless (no state store, no
    watermark) — executor memory is bounded by one micro-batch, state
    on disk is keys x (ids/64) x 8 bytes of mergeable words, and the
    readback is one partial-aggregating merge.  The batch-dir layer
    partials re-aggregate exactly, so daily state folds into monthly
    state without re-reading raw events — the q153/q163 rollup law,
    here proven against state a real stream produced.
    """
    from multi_threaded_mapreduce_framework_spark.streaming import (
        kafka_wire_stream,
        parse_events,
        write_kafka_replay,
    )
    from multi_threaded_mapreduce_framework_spark.streaming.matview import (
        compact_bitmap_matview,
        read_bitmap_matview,
        start_bitmap_matview,
    )

    def build(base):
        wire = os.path.join(base, "wire")
        state_dir = os.path.join(base, "state")
        write_kafka_replay(spark, sf_dir, wire, n_chunks=3)
        q = start_bitmap_matview(
            parse_events(kafka_wire_stream(spark, wire)),
            ["event_type"],
            "user_id",
            state_dir,
            os.path.join(base, "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # fold the per-batch word partials into a base snapshot: the
        # readback below exercises the compacted path; pre-compaction
        # multi-batch merge equality is pinned in tests/test_matview.py
        compact_bitmap_matview(spark, state_dir, ["event_type"])
        return state_dir

    state_dir = session_state(spark, sf_dir, "bitmap_matview", build)
    return read_bitmap_matview(spark, state_dir, ["event_type"]).withColumnRenamed(
        "distinct_ids", "distinct_users"
    )


_MICRO_SQL = "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"


@register(
    "q188_incremental_matview_readback",
    tier="T2",
    oracle=f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum({_MICRO_SQL}) AS BIGINT) AS sum_micro,
       CAST(sum({_MICRO_SQL}) // count(*) AS BIGINT) AS avg_micro
FROM events GROUP BY event_type
""",
)
def q188_incremental_matview_readback(spark, sf_dir):
    """Per-event-type (count, exact integer micro-unit sum, derived
    avg) maintained by the STATELESS cnt/sum matview stream and
    returned as the UNCOMPACTED readback — the multi-batch-dir merge
    path, complementing q186 which reads the compacted-snapshot path.

    The stream writes only its own micro-batch's algebraic partials
    (count + integer sum per key) to ``batch_id=N`` dirs; the readback
    re-aggregates base + partials at read time.  Integer micro-units
    make merged-partial == one-pass bit-exact, so the driver hash gate
    applies to state a real stream produced across multiple
    micro-batches (3 file-per-trigger chunks here), under Spark's
    replay contract (a replayed batch overwrites its own dir).

    Scale shape: no state store, no watermark — the streaming
    aggregate's per-key state bill (the memory wall at billions of
    keys) is replaced by partials on disk that re-aggregate exactly;
    reads cost one merge over #batches x #keys-per-batch rows, bounded
    by periodic compaction (q186's path).
    """
    from multi_threaded_mapreduce_framework_spark.streaming import (
        kafka_wire_stream,
        parse_events,
        write_kafka_replay,
    )
    from multi_threaded_mapreduce_framework_spark.streaming.matview import (
        read_matview,
        start_incremental_matview,
    )

    def build(base):
        wire = os.path.join(base, "wire")
        state_dir = os.path.join(base, "state")
        write_kafka_replay(spark, sf_dir, wire, n_chunks=3)
        q = start_incremental_matview(
            parse_events(kafka_wire_stream(spark, wire)),
            ["event_type"],
            state_dir,
            os.path.join(base, "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return state_dir

    state_dir = session_state(spark, sf_dir, "cntsum_matview", build)
    return read_matview(spark, state_dir, ["event_type"])


@register(
    "q189_tws_state_readback",
    tier="T2",
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum({_MICRO_SQL}) AS BIGINT) AS sum_micro
FROM events GROUP BY user_id
""",
)
def q189_tws_state_readback(spark, sf_dir):
    """Per-user running totals computed by a REAL
    ``transformWithStateInPandas`` (state-v2) streaming run — named
    ``ValueState`` in the RocksDB state store, Arrow-batched Python
    update logic, protobuf state-server transport — hash-gated against
    the batch aggregate.  The first declared query in this repo whose
    answer passes through the state-v2 stack end to end (possible
    since round 6's vendored protobuf runtime; before that the whole
    surface was environment-gated).

    Integer micro-unit state makes the converged answer bit-identical
    to batch regardless of micro-batch boundaries or accumulation
    order, so the oracle is an exact hash match, not a tolerance
    check.  The readback takes each user's LAST update row
    (``max_by(sum_micro, cnt)`` — cnt strictly increases per emitted
    update).

    Scale shape: state is (16 bytes + key) per USER in a store
    partitioned by grouping key (RocksDB at production scale),
    update logic sees Arrow batches per key-group, and the update-mode
    stream emits one row per active user per micro-batch — the
    canonical custom-stateful-operator shape Spark is converging on
    (per-variable TTL, first-class timers) for operators that windowed
    aggregation cannot express.
    """
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        running_user_totals_tws_micro,
    )
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        replay_events,
    )

    def build(base):
        _state_v2_session(spark)
        replay = os.path.join(base, "replay")
        replay_events(spark, sf_dir, replay, n_chunks=3)
        stream = events_stream(spark, replay).select(
            "user_id", F.expr(_MICRO_SQL).alias("vm")
        )
        return _converge(
            running_user_totals_tws_micro(stream), base, "update"
        ).localCheckpoint()

    cached = session_state(spark, sf_dir, "tws_readback", build)
    return cached.groupBy("user_id").agg(
        F.max("cnt").cast("bigint").alias("cnt"),
        F.expr("max_by(sum_micro, cnt)").cast("bigint").alias("sum_micro"),
    )


@register(
    "q190_tws_timer_sessions",
    tier="T2",
    oracle="""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
o AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
s AS (
  SELECT user_id, us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id, min(us) AS start_us, max(us) AS end_us,
       CAST(count(*) AS BIGINT) AS n
FROM s GROUP BY user_id, sid
""",
)
def q190_tws_timer_sessions(spark, sf_dir):
    """Per-user sessions (30-min gap) computed by EVENT-TIME TIMERS in
    a real transformWithStateInPandas run — sessions close when the
    stream's WATERMARK passes last_event + gap and ``handleExpiredTimer``
    fires, not when a batch window says so — hash-gated against the
    batch gaps-and-islands oracle.

    Pipeline: time-ordered replay of the events fixture plus the
    far-future event (the replay law in ``streaming/windowed.py``),
    whose arrival advances the watermark past every real timer, so each
    real session is finalized and emitted EXACTLY once (append mode);
    the timer also emits the far-future user, which the readback drops.
    Gaps visible within arrived data close sessions inline; only each
    user's trailing session waits on its
    registered timer — RegisterTimer/DeleteTimer/ListTimers and the
    expiry callback all cross the state-server transport in this run.

    Scale shape: state per user is one (start, last, n) triple plus
    one registered timer in the key-partitioned store; emission is
    driven by watermark progress, so quiet keys cost nothing per
    micro-batch and state never outlives its session — the idle-
    finalization pattern (abandoned carts, dead sessions, SLA timeouts)
    that windowed aggregation cannot express.
    """
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        session_finalizer_tws,
    )
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        FAR_FUTURE_USER,
        append_far_future_event,
        replay_events_time_ordered,
    )

    def build(base):
        _state_v2_session(spark)
        replay = os.path.join(base, "replay")
        replay_events_time_ordered(spark, sf_dir, replay, n_chunks=4)
        append_far_future_event(spark, replay)
        stream = events_stream(spark, replay).selectExpr(
            "user_id", "ts", "unix_micros(ts) AS us", "event_id"
        )
        return _converge(
            session_finalizer_tws(stream, gap_s=1800), base, "append"
        ).localCheckpoint()

    cached = session_state(spark, sf_dir, "tws_timer", build)
    return cached.filter(F.col("user_id") != FAR_FUTURE_USER).select(
        "user_id", "start_us", "end_us", "n"
    )


@register(
    "q231_tws_liststate_lastk",
    tier="T2",
    oracle=f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                  coalesce({_MICRO_SQL}, 0) AS vm
           FROM events),
r AS (SELECT user_id, vm,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY us DESC, event_id DESC) AS rn
      FROM e)
SELECT user_id, CAST(rn - 1 AS INT) AS pos, CAST(vm AS BIGINT) AS vm
FROM r WHERE rn <= 3
""",
)
def q231_tws_liststate_lastk(spark, sf_dir):
    """Per-user LAST-3 event values maintained by state-v2 LIST STATE
    in a real ``transformWithStateInPandas`` run — the bounded-recency
    feature buffer ("last 3 transaction amounts") a feature store keeps
    per entity — hash-gated against the batch top-3-by-recency window.
    Fills the q231 numbering gap with the r6-verdict item-8 candidate
    (the declared ListState query); the ListStateGet/ListStatePut
    protobuf message families cross the state-server transport here,
    next to q189's ValueState and q190's timers.

    Convergence law the gate proves: recency is the GLOBAL (us,
    event_id) total order, not arrival order — the replay is
    hash-partitioned (chunks are NOT time-ordered), so equality with
    the batch window shows the buffer re-sorts on merge and late data
    displaces its juniors exactly.  Values ride as integer micro
    (nulls pinned to 0 on both sides), so the converged buffer is
    hash-exact.

    Readback: update-mode emissions append one buffer snapshot per
    (user, micro-batch); the monotone per-user ``seen`` counter (a
    second, independent ValueState in the same processor) selects each
    user's LAST snapshot via max_by — every (user, pos) slot present
    earlier is present in the final snapshot, so the group-max is the
    final buffer.

    Scale shape: state is at most k rows + one counter per USER in the
    key-partitioned RocksDB store; each micro-batch touches only keys
    with arrivals, and emission size is bounded by k — the
    constant-state-per-entity recency operator that windowed
    aggregation (unbounded ROWS BETWEEN) cannot express at stream
    scale."""
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        recent_values_tws,
    )
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        replay_events,
    )

    def build(base):
        _state_v2_session(spark)
        replay = os.path.join(base, "replay")
        replay_events(spark, sf_dir, replay, n_chunks=3)
        stream = events_stream(spark, replay).selectExpr(
            "user_id",
            "unix_micros(ts) AS us",
            "event_id",
            f"coalesce({_MICRO_SQL}, 0) AS vm",
        )
        return _converge(
            recent_values_tws(stream, k=3), base, "update"
        ).localCheckpoint()

    cached = session_state(spark, sf_dir, "tws_list", build)
    return cached.groupBy("user_id", "pos").agg(
        F.expr("max_by(vm, seen)").cast("bigint").alias("vm")
    )


@register(
    "q237_tws_mapstate_census",
    tier="T2",
    oracle="""
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY user_id, event_type
""",
)
def q237_tws_mapstate_census(spark, sf_dir):
    """Per-user per-event-type running counts maintained by state-v2
    MAP STATE (``MapState[event_type -> cnt]`` keyed by user) in a real
    ``transformWithStateInPandas`` run — the state shape for per-entity
    categorical censuses whose category domain a fixed-width ValueState
    cannot hold — hash-gated against the batch group-by.  Completes the
    oracle-declared state-variable QUARTET: ValueState (q189), timers
    (q190), ListState (q231), MapState (here); every MapState message
    family (GetValue, ContainsKey, UpdateValue, Iterator paging)
    crosses the state-server protobuf transport under the gate.

    Readback law: per-(user, type) counts are MONOTONE nondecreasing
    across update-mode snapshots, so max(cnt) over all emissions IS the
    converged census — no auxiliary sequence variable needed (contrast
    q231, whose buffer values are not monotone and need the ``seen``
    counter).

    Scale shape: state is |active types| map entries per user in the
    key-partitioned RocksDB store; each micro-batch touches only keys
    with arrivals and emits snapshot rows bounded by the per-user
    category domain — the per-entity census operator behind
    feature-store counters and rate limiters."""
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        event_type_census_tws,
    )
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        replay_events,
    )

    def build(base):
        _state_v2_session(spark)
        replay = os.path.join(base, "replay")
        replay_events(spark, sf_dir, replay, n_chunks=3)
        stream = events_stream(spark, replay).select("user_id", "event_type")
        return _converge(
            event_type_census_tws(stream), base, "update"
        ).localCheckpoint()

    cached = session_state(spark, sf_dir, "tws_map", build)
    return cached.groupBy("user_id", "event_type").agg(
        F.max("cnt").cast("bigint").alias("cnt")
    )


@register(
    "q242_tws_initial_state",
    tier="T2",
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(coalesce(sum({_MICRO_SQL}), 0) AS BIGINT) AS sum_micro
FROM events
WHERE user_id IN (SELECT user_id FROM events WHERE event_id % 2 = 1)
GROUP BY user_id
""",
)
def q242_tws_initial_state(spark, sf_dir):
    """State BOOTSTRAP for a stateful stream
    (``transformWithStateInPandas(initialState=...)``): per-user
    totals over the even-event_id HALF of the fixture are aggregated
    BATCH-side into a snapshot, the odd half replays as the live
    stream, and ``handleInitialState`` seeds each user's ValueState
    from the snapshot before the first micro-batch — the
    state-migration / backfill pattern every production cutover needs
    (start a new streaming job from a batch table, do NOT replay
    history).  Hash-gated against the FULL batch aggregate over all
    events: bootstrap + increments == full recompute, exactly.

    Contract detail the oracle encodes: update-mode emits only keys
    that received stream increments, so the declared result covers
    users with >= 1 odd event (snapshot-only users keep state
    server-side but never emit; the oracle's IN-filter states this).
    Integer micro units end to end — the converged answer is
    hash-exact regardless of micro-batch boundaries.

    Scale shape: the snapshot is a batch partial-agg (one shuffle)
    handed to the state store ALREADY KEYED by the grouping column —
    at production scale the bootstrap is a co-partitioned write into
    RocksDB, not a replay of history; per-key state stays 16 bytes +
    key."""
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
        bootstrapped_user_totals_tws,
    )

    def build(base):
        from multi_threaded_mapreduce_framework_spark.sources import load_table

        _state_v2_session(spark)
        ev = load_table(spark, sf_dir, "events")
        snapshot = (
            ev.filter(F.expr("event_id % 2 = 0"))
            .select("user_id", F.expr(_MICRO_SQL).alias("vm"))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.coalesce(F.sum("vm"), F.lit(0)).cast("bigint").alias("sum_micro"),
            )
        )
        replay = os.path.join(base, "replay")
        ev.filter(F.expr("event_id % 2 = 1")).repartition(3).write.mode(
            "overwrite"
        ).parquet(replay)
        stream = events_stream(spark, replay).select(
            "user_id", F.expr(_MICRO_SQL).alias("vm")
        )
        return _converge(
            bootstrapped_user_totals_tws(stream, snapshot.groupBy("user_id")),
            base,
            "update",
        ).localCheckpoint()

    cached = session_state(spark, sf_dir, "tws_init", build)
    return cached.groupBy("user_id").agg(
        F.max("cnt").cast("bigint").alias("cnt"),
        F.expr("max_by(sum_micro, cnt)").cast("bigint").alias("sum_micro"),
    )


@register(
    "q244_stream_dedup_readback",
    tier="T2",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY event_type
""",
)
def q244_stream_dedup_readback(spark, sf_dir):
    """Exactly-once ingest under AT-LEAST-ONCE delivery: the events
    fixture replays TWICE (every row delivered two times, in different
    micro-batches — the duplicated-delivery shape of a crashed
    producer or a replayed Kafka offset range), a streaming
    ``dropDuplicates`` on the natural key (event_id) keeps first
    occurrences in its state store, and the readback census per
    event_type is hash-gated against the batch census over the
    UN-duplicated fixture: the gate proves the dedup state absorbed
    exactly the duplicate half, no more, no less.  Promotes the
    dedup-within-stream family (check_streaming's dedup scenarios) to
    the oracle-declared inventory — the ingest-side sibling of q25's
    batch dedup and the ninth streaming-backed declared row.

    Scale shape: dedup state is one entry per distinct key in the
    key-partitioned store; this unbounded variant fits while distinct
    keys fit state (the fixture's shape), and
    ``dropDuplicatesWithinWatermark`` (same module) is the declared
    bounded-state production variant — state O(keys per watermark
    window), the documented swap-in when the key universe grows with
    time."""
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        append_wave,
        replay_events,
        stream_dedup,
    )

    def build(base):
        from multi_threaded_mapreduce_framework_spark.sources import load_table

        replay = os.path.join(base, "replay")
        replay_events(spark, sf_dir, replay, n_chunks=3)
        # the duplicate wave replays after the original
        append_wave(replay, load_table(spark, sf_dir, "events").repartition(3))
        stream = stream_dedup(
            events_stream(spark, replay).select("event_id", "event_type"),
            ["event_id"],
        )
        return _converge(stream, base, "append").localCheckpoint()

    cached = session_state(spark, sf_dir, "dedup_readback", build)
    return cached.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


@register(
    "q248_stream_dedup_watermark",
    tier="T2",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY event_type
""",
)
def q248_stream_dedup_watermark(spark, sf_dir):
    """``dropDuplicatesWithinWatermark`` — q244's documented BOUNDED-
    STATE production swap-in, promoted to its own oracle-declared row
    (r8 verdict item 7).  Same at-least-once shape as q244: the events
    fixture replays twice (the duplicate wave lands in later
    micro-batches, inside the watermark delay of every first
    occurrence — exactly the redelivery window the operator contracts
    to dedup), but the state store now evicts each key once the
    watermark passes its first-seen event time + delay, so state is
    O(keys-per-watermark-window), not O(all keys ever).  The readback
    census per event_type is hash-gated against the batch census over
    the UN-duplicated fixture: with the delay spanning the fixture's
    event-time range, eviction provably cannot fire before the
    duplicate wave, so the gate is deterministic — exactly-once
    ingest, proven end to end through the bounded-state operator.

    Scale shape: at 100 TB/day the delay is hours, the key universe
    per window is bounded by ingest rate x delay, and the state store
    stays flat as history grows — the property q244's unbounded
    variant (correct only while ALL keys fit state) cannot offer.
    Checked as a timing-free scenario in tools/check_streaming.py;
    this row adds the driver hash gate."""
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.sources import load_table
    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        append_wave,
        replay_events,
        stream_dedup_within_watermark,
    )

    def build(base):
        replay = os.path.join(base, "replay")
        replay_events(spark, sf_dir, replay, n_chunks=3)
        # the duplicate wave replays after the original
        append_wave(replay, load_table(spark, sf_dir, "events").repartition(3))
        # Delay >= the fixture's whole event-time span: the watermark
        # can never pass first_seen_ts + delay before the stream
        # drains, so no key's dedup state evicts mid-replay and the
        # census is exact (at production the delay is the redelivery
        # SLA — hours — and eviction is the point).
        stream = stream_dedup_within_watermark(
            events_stream(spark, replay).select("event_id", "event_type", "ts"),
            ["event_id"],
            watermark="3650 days",
        )
        return _converge(stream, base, "append").localCheckpoint()

    cached = session_state(spark, sf_dir, "dedup_wm_readback", build)
    return cached.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


@register(
    "q256_stream_window_census",
    tier="T2",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum({_MICRO_SQL}) AS BIGINT) AS sum_micro
FROM events GROUP BY 1, 2
""",
)
def q256_stream_window_census(spark, sf_dir):
    """The CANONICAL structured-streaming query — event-time tumbling
    windows with a watermark in APPEND mode — promoted to its own
    oracle-declared row: 1-hour windows x event_type (count + exact
    integer-micro value sum) computed by a real watermarked
    readStream/writeStream run, hash-gated against the batch
    date_trunc census.  q24 is the batch form; the streaming checker
    exercises complete-mode convergence; THIS row pins the append-mode
    contract end to end: a window row is emitted EXACTLY ONCE, only
    after the watermark passes its end — the form a production sink
    (files, Kafka, a warehouse table) actually consumes, since
    complete mode rewrites the world every batch.

    Determinism: the time-ordered replay keeps every event inside the
    2-hour watermark delay, so nothing is late-dropped, and the
    far-future event finalizes every real window without appearing in
    the append output (the replay law in ``streaming/windowed.py``) —
    the readback needs no filter.

    Scale shape: state is one (cnt, sum) pair per open (window, type)
    — bounded by windows-per-watermark-horizon x |types|, NOT by
    events; eviction is watermark-driven.  Integer micro-units make
    partial merges bit-exact (q188's law) so the gate survives any
    micro-batch boundary placement (file-per-trigger, 4 chunks here).
    """
    return _append_window_run(spark, sf_dir, "window_census", "1 hour", None)


def _append_window_run(spark, sf_dir, tag, duration, slide):
    """Shared q256/q258 machinery: time-ordered replay + far-future
    event + append-mode watermarked window aggregation (count +
    integer-micro value sum), readback held per session under ``tag``."""
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        append_far_future_event,
        replay_events_time_ordered,
    )

    def build(base):
        replay = os.path.join(base, "replay")
        replay_events_time_ordered(spark, sf_dir, replay, n_chunks=4)
        append_far_future_event(spark, replay)
        win = (
            F.window("ts", duration, slide) if slide else F.window("ts", duration)
        )
        agg = (
            events_stream(spark, replay)
            .withWatermark("ts", "2 hours")
            .groupBy(win.alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum(F.expr(_MICRO_SQL)).cast("bigint").alias("sum_micro"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
                "event_type",
                "cnt",
                "sum_micro",
            )
        )
        return _converge(agg, base, "append").localCheckpoint()

    return session_state(spark, sf_dir, tag, build)


@register(
    "q258_stream_sliding_census",
    tier="T2",
    oracle=f"""
WITH b AS (SELECT date_trunc('hour', ts)
                    + INTERVAL (15 * (CAST(minute(ts) AS INT) // 15)) MINUTE
                    AS b15,
                  event_type, {_MICRO_SQL} AS vm
           FROM events),
w AS (SELECT b15 - k.k * (INTERVAL 15 MINUTE) AS ws, event_type, vm
      FROM b CROSS JOIN unnest([0, 1, 2, 3]) AS k(k))
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(vm) AS BIGINT) AS sum_micro
FROM w GROUP BY 1, 2
""",
)
def q258_stream_sliding_census(spark, sf_dir):
    """SLIDING event-time windows through the same real append-mode
    watermarked stream as q256: 1-hour windows sliding every 15
    minutes (each event lands in exactly 4 overlapping windows —
    the dashboard form of windowed aggregation, where a reading
    refreshes 4x as often as it ages out), hash-gated against the
    batch law that UNROLLS the overlap: bucket each event to its
    15-minute cell, then each cell feeds the 4 window starts
    {cell, cell-15m, cell-30m, cell-45m}.

    The overlap is the point: a sliding aggregation writes each input
    into windowDuration/slide state rows, so state and output are 4x
    the tumbling form's — bounded by slides-per-watermark-horizon x
    |types|, still independent of event count.  Emission contract,
    far-future event and integer-micro exactness are exactly q256's
    (shared ``_append_window_run`` machinery).
    """
    return _append_window_run(
        spark, sf_dir, "sliding_census", "1 hour", "15 minutes"
    )


@register(
    "q262_stream_restart_readback",
    tier="T2",
    oracle=f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum({_MICRO_SQL}) AS BIGINT) AS sum_micro
FROM events GROUP BY event_type
""",
)
def q262_stream_restart_readback(spark, sf_dir):
    """CHECKPOINT RECOVERY under the driver's hash gate: a stateful
    streaming aggregation (cnt + integer-micro sum per event_type)
    processes HALF the replay, the query is STOPPED, the second half
    arrives while nothing is running, and a NEW query object restarts
    from the same checkpoint — the readback must equal the batch
    census exactly (every event counted once: the restart must neither
    REPLAY chunk 1 into live state nor SKIP the files that arrived
    during downtime).  This is the crash/deploy/upgrade contract every
    production stream relies on; the scenario exists in
    tests/test_streaming.py and tools/check_streaming.py — this row
    adds the oracle gate (the q248 promotion discipline).

    Mechanics: complete-mode aggregation over a file source; the file-
    source checkpoint records which input files each batch consumed,
    so the restarted query resumes from logged offsets and rebuilds
    its sink output from recovered state.  Integer micro-units make
    the recovered-state census bit-exact regardless of where the
    restart split the input (q188's law).

    Scale shape: state = one (cnt, sum) pair per event_type (domain-
    bounded); recovery cost = state-store load + offset-log read,
    independent of history length."""
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.sources import load_table
    from multi_threaded_mapreduce_framework_spark.streaming import (
        append_wave,
        events_stream,
    )

    def build(base):
        replay = os.path.join(base, "replay")
        full = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts", "value"
        )
        first = full.filter("event_id % 2 = 0")
        second = full.filter("event_id % 2 = 1")
        first.repartition(2).write.mode("overwrite").parquet(replay)

        def run_once():
            agg = (
                events_stream(spark, replay)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("cnt"),
                    F.sum(F.expr(_MICRO_SQL)).cast("bigint").alias("sum_micro"),
                )
            )
            return _converge(agg, base, "complete")

        run_once()  # first half only, then a clean stop
        append_wave(replay, second.repartition(2))  # arrives during downtime
        # NEW query object, same checkpoint: resumes state
        return run_once().localCheckpoint()

    return session_state(spark, sf_dir, "restart_readback", build)


@register(
    "q263_stream_file_sink_readback",
    tier="T2",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY event_type
""",
)
def q263_stream_file_sink_readback(spark, sf_dir):
    """Exactly-once PARQUET FILE SINK under the driver's hash gate —
    the lakehouse landing pattern (stream -> checkpointed parquet dir
    -> downstream batch readers): a streaming dedup writes append-mode
    parquet through the file sink's transaction log, is STOPPED
    BETWEEN fully-drained waves (the first run drains the original
    wave with ``processAllAvailable`` before stopping — torn mid-batch
    recovery is q262's axis, not this row's), a full DUPLICATE wave of
    every event arrives during the downtime, and a restarted query
    drains it; the batch READBACK
    of the sink directory (which honors ``_spark_metadata``, reading
    only committed files) must census exactly the un-duplicated
    events.  One gate proves three contracts at once: the file sink's
    commit log (no torn/uncommitted files visible), dedup-state
    recovery across the restart (the duplicate wave is absorbed by
    state built BEFORE the stop), and at-least-once absorption
    (q244's law, now through a durable sink instead of memory).

    Scale shape: the sink appends one committed file set per
    micro-batch (compaction is q240's job); dedup state = distinct
    event_ids (q248's watermarked variant is the bounded-state
    production form); readback is an ordinary parquet scan."""
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.sources import load_table
    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        append_wave,
        replay_events,
        stream_dedup,
    )

    def build(base):
        replay = os.path.join(base, "replay")
        ckpt = os.path.join(base, "ckpt")
        sink = os.path.join(base, "sink")
        replay_events(spark, sf_dir, replay, n_chunks=3)

        def run_once():
            stream = stream_dedup(
                events_stream(spark, replay).select(
                    "event_id", "event_type", "ts"
                ),
                ["event_id"],
            )
            q = (
                stream.writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_once()  # the original wave lands in the sink
        # the duplicate wave arrives during downtime
        append_wave(
            replay,
            load_table(spark, sf_dir, "events")
            .select("event_id", "event_type", "ts")
            .repartition(3),
        )
        run_once()  # restart: recovered dedup state absorbs the wave
        return (
            spark.read.parquet(sink)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .localCheckpoint()
        )

    return session_state(spark, sf_dir, "file_sink_readback", build)


@register(
    "q264_stream_upsert_readback",
    tier="T2",
    oracle=f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                  coalesce({_MICRO_SQL}, 0) AS vm
           FROM events),
r AS (SELECT user_id, vm,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY us DESC, event_id DESC) AS rn
      FROM e)
SELECT user_id, CAST(vm AS BIGINT) AS vm FROM r WHERE rn = 1
""",
)
def q264_stream_upsert_readback(spark, sf_dir):
    """Streaming UPSERT through ``foreachBatch`` — the lakehouse
    merge-sink pattern (stream -> foreachBatch(MERGE INTO keyed
    table)), the streaming form of q230's batch MERGE: each
    micro-batch folds its own last-write-per-user into the keyed state
    table under last-write-wins by (event time, event_id), and the
    final table is hash-gated against the batch argmax law.  The merge
    law is associative AND commutative (keep the (us, event_id)-max
    row), so the gate holds for ANY micro-batch partitioning of the
    input — nothing about the replay order is assumed, unlike the
    window rows' time-ordered discipline.

    foreachBatch exactly-once discipline: every state version is
    written to a ``batch_id``-keyed directory and the PREVIOUS state
    is resolved as the highest ``state_v{K < batch_id}`` on disk — a
    pure function of ``batch_id`` (r9 advisor fix: no mutable driver
    pointer), so a replayed batch (Spark's at-least-once foreachBatch
    contract after a failure) re-reads the same inputs and overwrites
    ITS OWN output instead of double-merging, and a query RESTART
    resumes from the persisted versions rather than resetting — the
    documented idempotent-sink pattern.

    Scale shape: per batch the merge costs one window over
    (state + batch) keyed rows; at 100 TB the state side is a
    partitioned lakehouse table and this exact fold is what Delta/
    Iceberg MERGE compiles to (join on key + latest-wins resolve) —
    q230's plan, fed incrementally."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window as W

    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        replay_events,
    )

    def build(base):
        replay = os.path.join(base, "replay")
        replay_events(spark, sf_dir, replay, n_chunks=4)
        stream = events_stream(spark, replay).selectExpr(
            "user_id",
            "unix_micros(ts) AS us",
            "event_id",
            f"coalesce({_MICRO_SQL}, 0) AS vm",
        )
        w = W.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))

        def _state_versions(below=None):
            import re as _re

            out = []
            if os.path.isdir(base):
                for f in os.listdir(base):
                    m = _re.fullmatch(r"state_v(\d+)", f)
                    if m and (below is None or int(m.group(1)) < below):
                        out.append(int(m.group(1)))
            return out

        def upsert(batch_df, batch_id):
            last = (
                batch_df.withColumn("rn", F.row_number().over(w))
                .filter("rn = 1")
                .drop("rn")
            )
            # previous state = highest persisted version STRICTLY below
            # this batch_id — a pure function of batch_id, so a replay
            # of batch K reads exactly what the first attempt read and
            # overwrites state_vK idempotently
            prev = _state_versions(below=batch_id)
            if prev:
                last = (
                    spark.read.parquet(
                        os.path.join(base, f"state_v{max(prev)}")
                    )
                    .unionByName(last)
                    .withColumn("rn", F.row_number().over(w))
                    .filter("rn = 1")
                    .drop("rn")
                )
            out = os.path.join(base, f"state_v{batch_id}")
            last.write.mode("overwrite").parquet(out)

        q = (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        final = _state_versions()
        return (
            spark.read.parquet(os.path.join(base, f"state_v{max(final)}"))
            .select("user_id", F.col("vm").cast("bigint").alias("vm"))
            .localCheckpoint()
        )

    return session_state(spark, sf_dir, "upsert_readback", build)


@register(
    "q265_stream_update_changelog",
    tier="T2",
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum({_MICRO_SQL}) AS BIGINT) AS sum_micro
FROM events GROUP BY user_id
""",
)
def q265_stream_update_changelog(spark, sf_dir):
    """UPDATE output mode under the hash gate — the CHANGELOG
    contract, completing the output-mode trio (q256/q258 append, q262
    complete, q265 update): a per-user (cnt, integer-micro sum)
    aggregation emits ONLY the keys updated by each micro-batch, the
    memory sink accumulates that change feed, and the FINAL state is
    recovered from the changelog alone by taking each user's
    highest-cnt emission (cnt is strictly monotone per key, so the
    changelog needs no ordering column — the q231 recency discipline
    applied to a change feed).  Hash-gated against the batch per-user
    census: a changelog that skips an update, emits a stale value, or
    re-emits an unchanged key breaks the recovery.

    This is what feeds an external KEYED store (Redis, Cassandra, a
    warehouse upsert): update mode ships deltas, the store keeps the
    latest per key — q264 is the same contract with the fold executed
    inside foreachBatch; here the SINK-side recovery law itself is
    what the gate proves.

    Scale shape: emission volume per batch = keys touched, not total
    state (the whole point vs complete mode at billions of keys);
    state store = one (cnt, sum) pair per user."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window as W

    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        replay_events,
    )

    def build(base):
        replay = os.path.join(base, "replay")
        replay_events(spark, sf_dir, replay, n_chunks=4)
        agg = (
            events_stream(spark, replay)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum(F.expr(_MICRO_SQL)).cast("bigint").alias("sum_micro"),
            )
        )
        changelog = _converge(agg, base, "update")
        w = W.partitionBy("user_id").orderBy(F.desc("cnt"))
        return (
            changelog.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("user_id", "cnt", "sum_micro")
            .localCheckpoint()
        )

    return session_state(spark, sf_dir, "update_changelog", build)


# ------------------------------------------------------------------ q269
# q199's oracle VERBATIM (one law, two engine paths) + its gap constant.
from multi_threaded_mapreduce_framework_spark.queries.t2_spark4 import (  # noqa: E402
    SESSION_CENSUS_SQL,
)
from multi_threaded_mapreduce_framework_spark.queries.t2_text import (  # noqa: E402
    SESSION_GAP_US,
)


def build_session_replay(spark, sf_dir, replay):
    """q269's stream input, factored so the bench's streaming lane runs
    the IDENTICAL scenario: the time-ordered events replay in 4 chunks,
    then the far-future event (the replay law in
    ``streaming/windowed.py``)."""
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        append_far_future_event,
        replay_events_time_ordered,
    )

    replay_events_time_ordered(spark, sf_dir, replay, n_chunks=4)
    append_far_future_event(spark, replay)


def run_session_stream(spark, replay, ckpt, table):
    """q269's stateful run, factored: one REAL watermarked append-mode
    ``session_window`` stream over ``replay`` into a memory sink named
    ``table``; returns the sink readback DataFrame.  Every call is a
    fresh state-store run when ``ckpt`` is fresh — the bench hot-path
    lane relies on that."""
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.streaming import events_stream
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        run_to_convergence,
    )

    gap = f"{SESSION_GAP_US // 1_000_000} seconds"
    per_session = (
        events_stream(spark, replay)
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
    return run_to_convergence(per_session, table, "append", ckpt)


@register(
    "q269_stream_session_census",
    tier="T2",
    oracle=SESSION_CENSUS_SQL,
)
def q269_stream_session_census(spark, sf_dir):
    """STREAMING ``session_window`` under the oracle gate — the §2.4
    session demo promoted (r9 verdict item 7's sanctioned class): the
    per-user session census computed by a REAL watermarked append-mode
    stream over the time-ordered replay, hash-gated against q199's
    gaps-and-islands oracle VERBATIM (``SESSION_CENSUS_SQL`` — one law,
    two engine paths: q199 is the batch merging aggregate, THIS is the
    stateful-streaming form whose per-(user, open-session) state merges
    windows across micro-batches and finalizes them only when the
    watermark passes session end = last_event + gap).  Eighteenth
    streaming-backed row; with q256/q258 (tumbling/sliding) the three
    event-time window SHAPES are all oracle-gated.

    Determinism (q256's discipline): time-ordered replay keeps every
    event inside the 2-hour watermark delay, and time-ordered chunks
    make mid-replay finalization safe — a session can finalize early
    only when the watermark passes last_event + gap, and every future
    event in a time-ordered replay is newer than the chunk max, hence
    > gap beyond that session's last event, so early finalization can
    never split a true session.  The far-future event finalizes every
    real session without appearing in the append output — no readback
    filter.

    Scale shape: state = one interval-set per user with an OPEN
    session — bounded by active users per watermark horizon, evicted
    on finalization; this is exactly how a 100 TB/day clickstream is
    sessionized (the batch q199 needs the full history per user;
    the streaming form's state is the live frontier only)."""
    import pyspark.sql.functions as F

    def build(base):
        replay = os.path.join(base, "replay")
        build_session_replay(spark, sf_dir, replay)
        return run_session_stream(
            spark, replay, os.path.join(base, "ckpt"), os.path.basename(base)
        ).localCheckpoint()

    cached = session_state(spark, sf_dir, "session_census", build)
    return cached.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.sum("dur_us").cast("bigint").alias("sum_dur_us"),
        F.max("n_ev").cast("bigint").alias("max_session_events"),
    )

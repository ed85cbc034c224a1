"""Structured Streaming surface (SURVEY.md §2.4).

The reference is strictly batch (one-shot job, ``MapReduceFramework.cpp``),
but its map -> group-by-key -> reduce loop is exactly the shape
Structured Streaming generalizes to unbounded input. This module replays
the ``events`` fixture as a file stream and runs the engine's windowed
aggregations incrementally; correctness is asserted *batch-vs-stream*
(the converged streaming answer must equal the batch q24/q23 results) —
see ``tests/test_streaming.py``.

At scale: the same code reads a real file/Kafka source; the watermark
bounds state (late events beyond 2 hours are dropped and their windows
finalized), and ``session_window`` state is evicted per the same
watermark — this is what makes the operator runnable on an unbounded
100 TB/day stream, unlike the batch q23 whose window-lag plan needs the
full history per user.

The replay law.  This is the only module that knows how a replay
directory grows; every other module appends through the functions
below.

- Order.  The file source lists a directory's files by modification
  time, so a replay's order is its files' mtimes.  ``append_wave``
  writes a wave, then stamps every new file strictly after every file
  already there (``bump_new_file_mtimes``): the listing order is the
  append order on any filesystem, with no wall-clock sleeps.
- Types.  A sentinel row is cast to the replay's own column types, so a
  replay whose ``value`` is DECIMAL never gains a DOUBLE file.
- The far-future event (``append_far_future_event``): one click by user
  ``FAR_FUTURE_USER`` (999_999_999), 30 days after the replay's last
  ``ts``.  Its arrival moves the final watermark past every real event,
  so append-mode windows, sessions and event-time timers finalize
  everything real.  Its own window never finalizes (nothing arrives
  after it), so it is absent from append output; a timer-driven
  operator may still emit it, and its reader drops that user.  One
  final watermark is all an append window or a session needs.
- The two-generation drain (``drain_to_convergence``): a click by user
  -1 and a purchase by user -2 six hours later, appended at 2025-01-01
  and again 30 days on, with a full drain after the first run and after
  each pair.  Outer stream-stream joins and windows chained after a join
  need it: the first pair moves the watermark past every real event, and
  the second triggers the batch in which the expired state emits.  The
  sentinel users never match each other, so inner and semi joins emit
  the same real rows with or without it; readers drop negative users.
"""

from __future__ import annotations

import datetime
import os
import time as _time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from multi_threaded_mapreduce_framework_spark.sources import load_table


def _data_files(out_dir: str) -> list[str]:
    return [f for f in os.listdir(out_dir) if not f.startswith(("_", "."))]


def bump_new_file_mtimes(out_dir: str, before: set[str], bump: float = 1.0) -> None:
    """Stamp every data file created since ``before`` with an explicit
    mtime strictly greater than all pre-existing files' (``os.utime``),
    so the file stream's mtime-based listing order is deterministic even
    on filesystems with coarse mtime granularity (r9 advisor fix — the
    previous sub-second ``sleep`` could tie there and replay chunks out
    of order, tripping watermark-driven late drops).

    The FIRST stamp anchors one hour in the PAST, so a chain stamped
    from an empty directory stays strictly below wall clock and a
    later append with a natural mtime (code outside this helper)
    still sorts after every stamped file.  When a wave is stamped ON
    TOP of files carrying natural (~now) mtimes — the q244/q248/q262/
    q263 flows — the stamp would land at natural-max + bump, i.e. up
    to ~bump seconds in the FUTURE; the r10 advisor noted that window
    left an unenforced contract (a naive append inside it could tie or
    sort before the stamp).  Mechanized here: a future-landing stamp is
    capped to a few ms past max(natural-max, now) and the helper BLOCKS
    until wall clock passes it before returning — so by the time any
    caller can write again, every possible mtime (helper-stamped or
    natural) sorts strictly after this wave.  A post-stamp readback
    asserts the filesystem stored a strict order (a coarse-granularity
    fs would truncate the ms increment into a tie)."""
    names = _data_files(out_dir)
    old = [
        os.path.getmtime(os.path.join(out_dir, f)) for f in names if f in before
    ]
    natural_max = max(old) if old else _time.time() - 3600.0
    t = natural_max + bump
    now = _time.time()
    if t > now:
        t = min(t, max(natural_max, now) + 0.005)
    stamped = []
    for f in names:
        if f not in before:
            p = os.path.join(out_dir, f)
            os.utime(p, (t, t))
            stamped.append(os.path.getmtime(p))
    if stamped and old:
        assert min(stamped) > natural_max, (
            f"filesystem mtime granularity too coarse for strict ordering: "
            f"stamped {min(stamped)} vs pre-existing max {natural_max}"
        )
    # never return while the stamp is in the future (see docstring)
    while _time.time() <= t:
        _time.sleep(max(t - _time.time(), 0.0) + 0.001)


def append_wave(replay: str, df: DataFrame) -> None:
    """Append ``df`` to ``replay`` and stamp its new files after every
    existing one, so the stream replays the wave last.  The caller
    chooses the wave's file count (``repartition``/``coalesce``)."""
    before = set(_data_files(replay)) if os.path.isdir(replay) else set()
    df.write.mode("append").parquet(replay)
    bump_new_file_mtimes(replay, before)


FAR_FUTURE_USER = 999_999_999

# Each events column of a sentinel row, from a relation with columns
# (uid, kind, at); cast to the replay's own type on append.
_SENTINEL_COLUMNS = {
    "event_id": "uid",
    "user_id": "uid",
    "event_type": "kind",
    "ts": "at",
    "value": "0.0",
    "props": "'{}'",
}


def _append_sentinels(replay: str, rows: DataFrame) -> None:
    schema = rows.sparkSession.read.parquet(replay).schema
    append_wave(
        replay,
        rows.selectExpr(
            *(
                f"CAST({_SENTINEL_COLUMNS[f.name]} AS {f.dataType.simpleString()})"
                f" AS {f.name}"
                for f in schema
            )
        ).coalesce(1),
    )


def append_far_future_event(spark: SparkSession, replay: str) -> None:
    """Append the far-future click (user ``FAR_FUTURE_USER``, 30 days
    after the replay's last ``ts``) as one file that replays last."""
    last = spark.read.parquet(replay).orderBy(F.desc("ts")).limit(1)
    _append_sentinels(
        replay,
        last.selectExpr(
            f"{FAR_FUTURE_USER} AS uid",
            "'click' AS kind",
            "ts + INTERVAL 30 DAYS AS at",
        ),
    )


def _append_sentinel_pair(spark: SparkSession, replay: str, days_ahead: int):
    t0 = datetime.datetime(2025, 1, 1) + datetime.timedelta(days=days_ahead)
    rows = [(-1, "click", t0), (-2, "purchase", t0 + datetime.timedelta(hours=6))]
    _append_sentinels(
        replay, spark.createDataFrame(rows, "uid bigint, kind string, at timestamp")
    )


def replay_events(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 4
) -> None:
    """Write the batch ``events`` table as ``n_chunks`` parquet files so a
    file-source stream consumes them incrementally (one per trigger)."""
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(n_chunks).write.mode("overwrite").parquet(out_dir)


def replay_events_time_ordered(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 4
) -> None:
    """Write the ``events`` table as ``n_chunks`` TIME-RANGE chunks,
    written sequentially so the file stream (which orders files by
    modification time) replays them in event-time order — the shape an
    event-time-timer pipeline needs (a hash-partitioned replay would
    race the watermark past data still in later chunks).  Chunk
    boundaries are ntile ranges of ``ts``; within a chunk rows stay
    unordered (micro-batch internal disorder is the operator's job).
    Each chunk is one ``append_wave``."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.selectExpr(
        f"ntile({n_chunks}) OVER (ORDER BY ts, event_id) AS tile",
        "ts",
        "event_id",
    )
    tiled = ev.join(bounds, ["ts", "event_id"])
    for i in range(1, n_chunks + 1):
        chunk = tiled.filter(F.col("tile") == i).drop("tile")
        append_wave(out_dir, chunk.coalesce(1))


def events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream over a replayed events directory, one file per
    trigger — simulates incremental arrival with out-of-order timestamps
    (chunks are hash-partitioned, not time-ordered)."""
    schema = spark.read.parquet(src_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def tumbling_window_counts(stream: DataFrame) -> DataFrame:
    """Streaming form of q24: 1-hour tumbling windows x event_type with a
    2-hour watermark for late data."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sliding_window_counts(stream: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4
    windows) — the overlapping-window variant of q24."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "cnt",
        )
    )


def session_counts(
    stream: DataFrame, gap: str = "30 minutes", watermark: str | None = "2 hours"
) -> DataFrame:
    """Streaming form of q23: ``session_window`` with a 30-minute gap per
    user; emits one row per (user, session). Session count per user =
    row count per user after convergence.

    ``watermark=None`` disables late-row dropping — required when the
    replay is not time-ordered (session-window state ops drop
    older-than-watermark input even in complete mode, unlike plain
    windowed aggregation). A real deployment keeps the watermark: its
    event source is roughly time-ordered, and unbounded state isn't an
    option at stream scale.
    """
    if watermark is not None:
        stream = stream.withWatermark("ts", watermark)
    return (
        stream.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )


def stream_dedup(stream: DataFrame, keys: list[str], watermark: str | None = None) -> DataFrame:
    """Streaming exact dedup: first occurrence per key wins, duplicates
    arriving in any later micro-batch are dropped (the streaming form of
    q25's batch dedup). With a watermark + an event-time column in
    ``keys`` the dedup state is evicted as time advances — the unbounded
    variant keeps all keys, which only works while distinct keys fit in
    the state store."""
    if watermark is not None:
        stream = stream.withWatermark("ts", watermark)
    return stream.dropDuplicates(keys)


def stream_dedup_within_watermark(
    stream: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Bounded-state streaming dedup WITHOUT event-time in the key:
    ``dropDuplicatesWithinWatermark`` evicts a key's state once the
    watermark passes its first-seen event time, so state is
    O(keys-per-watermark-window) instead of O(all keys ever) — the
    operator ``stream_dedup`` documents wanting. The contract weakens
    correspondingly: duplicates are only guaranteed dropped if they
    arrive within the watermark delay of the first occurrence, which is
    exactly the at-least-once-redelivery window a real ingest pipeline
    needs deduped."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_to_convergence(
    agg: DataFrame,
    name: str,
    output_mode: str = "complete",
    checkpoint: str | None = None,
) -> DataFrame:
    """Run ``agg`` into a memory sink named ``name`` until it has
    processed all available input, stop the query, and return the sink
    table ``spark.table(name)``.  ``checkpoint``, when given, is the
    query's checkpoint location."""
    q = _start_memory_sink(agg, name, output_mode, checkpoint)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return agg.sparkSession.table(name)


def drain_to_convergence(
    stream_df: DataFrame, replay: str, name: str, checkpoint: str | None = None
) -> DataFrame:
    """``run_to_convergence`` in append mode plus the two-generation
    sentinel drain (module docstring) over ``replay``, the directory the
    stream reads; returns the sink table, sentinel rows included."""
    spark = stream_df.sparkSession
    q = _start_memory_sink(stream_df, name, "append", checkpoint)
    try:
        q.processAllAvailable()
        for days_ahead in (0, 30):
            _append_sentinel_pair(spark, replay, days_ahead)
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _start_memory_sink(agg, name, output_mode, checkpoint):
    writer = agg.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()

"""Stream-stream joins (SURVEY.md §2.4): correlating two unbounded
event streams with bounded state.

The reference's model joins nothing — but two MapReduce jobs whose
outputs meet on a key is the batch ancestor of this operator. In
Structured Streaming a stream-stream join buffers both sides in the
state store; the *event-time range condition* plus per-side watermarks
are what let Spark evict state (a row can be dropped once the other
side's watermark passes its join window). Without the time bound the
state grows without limit — that is the difference between a demo and
an operator that survives an unbounded 100 TB/day stream.

Semantics verified batch-vs-stream in ``tests/test_streaming_joins.py``:
the converged streaming answer equals the same join run as a batch
DataFrame query on the same data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    how: str,
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Join two event streams on user_id where the right event lands
    within ``[l_ts, l_ts + max_lag]`` — "purchase within an hour of the
    click".  Each side's buffered state is evicted once the opposite
    watermark clears its join window (watermark + range bound = bounded
    state).  ``how`` is a Spark join type:

    - ``"inner"``: a match emits as soon as both rows arrive.
    - ``"left_outer"``: a left row with no match emits null-padded only
      after the watermark passes ``l_ts + max_lag`` (until then a match
      could still arrive).
    - ``"full_outer"``: unmatched rows from BOTH sides emit null-padded
      once the watermark clears their window — left rows after
      ``l_ts + max_lag``, right rows after their own ``r_ts`` (a right
      event can only match earlier-or-equal left events).
    - ``"left_semi"``: "which left events converted at all" — each left
      event emits AT MOST ONCE (left columns only) when its FIRST match
      arrives; unmatched left rows are dropped when the watermark clears
      their window.  Output is bounded by the LEFT stream, not the pair
      count, so a hot user's N×M pair explosion is never materialized.

    Inner and semi emit eagerly.  The outer forms converge on a bounded
    replay only after the two-generation sentinel drain
    (``streaming/windowed.py::drain_to_convergence``), which is how a
    production pipeline flushes a historical backfill too.
    """
    l = left.withWatermark("ts", watermark).select(
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event"),
    )
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"interval {max_lag}"))
    )
    return l.join(r, cond, how)


def stream_static_join(
    stream: DataFrame,
    dim: DataFrame,
    cond,
    how: str = "left_outer",
) -> DataFrame:
    """STREAM-STATIC join — the stateless enrichment pattern (event
    stream decorated with a slowly-changing dimension table): unlike
    the stream-stream forms above this buffers NO state, because the
    static side is fully known every micro-batch — each batch plans an
    ordinary batch join against the dimension, and in a LEFT join the
    unmatched stream rows emit their null-padded form IMMEDIATELY (no
    watermark gate; contrast a left ``stream_stream_join``, where a null
    flush must wait for the watermark to prove no match can arrive).

    The dimension is broadcast-hinted: at 100 TB/day the stream side
    never shuffles for this join — every executor holds the dim copy
    and the enrichment rides the scan tasks.  Spark re-resolves the
    static relation's FILES each micro-batch, which is what makes the
    slowly-changing-dimension refresh pattern work without restarting
    the query (a swapped-in dim snapshot is picked up on the next
    trigger).
    """
    return stream.join(F.broadcast(dim), cond, how)


def funnel_daily_counts(
    left: DataFrame,
    right: DataFrame,
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Chained stateful operators: the stream-stream inner join feeds a
    1-day tumbling-window aggregate — the streaming form of the q105
    funnel (clicks that converted, counted per click-day). Spark allows
    stateful-after-stateful in append mode because the join emits rows
    with an event-time column (l_ts) still governed by the watermark;
    the downstream window finalizes once the watermark passes the day
    boundary plus the join's lag allowance, so a bounded replay needs
    the two-generation sentinel drain to emit its last day.
    """
    joined = stream_stream_join(left, right, "inner", max_lag, watermark)
    return (
        joined.groupBy(F.window("l_ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_converted_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "n_converted_events",
        )
    )

"""Kafka-wire parse path and foreachBatch sink delivery semantics."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.sources import load_table
from multi_threaded_mapreduce_framework_spark.streaming import (
    KafkaConnectorUnavailable,
    foreach_batch_fanout,
    foreach_batch_parquet,
    kafka_wire_stream,
    parse_events,
    real_kafka_stream,
    tumbling_window_counts,
    write_kafka_replay,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def wire_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("kafka_wire"))
    write_kafka_replay(spark, SF, d, n_chunks=3)
    return d


def test_wire_rows_are_kafka_shaped(spark, wire_dir):
    wire = spark.read.parquet(wire_dir)
    assert {f.name for f in wire.schema.fields} == {
        "key",
        "value",
        "topic",
        "partition",
        "offset",
        "timestamp",
    }
    # offsets are dense per partition starting at 0, like a real log
    per_part = (
        wire.groupBy("partition")
        .agg(
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for r in per_part:
        assert r.lo == 0 and r.hi == r.n - 1


def test_parse_events_roundtrips_exactly(spark, wire_dir):
    """Batch check: wire -> parse_events == the original events table,
    byte-for-byte on every column (ts carried as epoch micros)."""
    parsed = parse_events(spark.read.parquet(wire_dir))
    orig = load_table(spark, SF, "events").select(*parsed.columns)
    assert parsed.exceptAll(orig).count() == 0
    assert orig.exceptAll(parsed).count() == 0


def test_parse_events_drops_poison_messages(spark):
    raw = spark.createDataFrame(
        [(b"k", b"{not json",), (b"k", b'{"event_id": null}',)],
        "key binary, value binary",
    )
    assert parse_events(raw).count() == 0


def test_streamed_wire_tumbling_matches_batch_q24(spark, wire_dir):
    """End-to-end: Kafka-shaped stream -> parse -> windowed agg
    converges to the batch q24 answer."""
    from multi_threaded_mapreduce_framework_spark.streaming import run_to_convergence

    agg = tumbling_window_counts(parse_events(kafka_wire_stream(spark, wire_dir)))
    res = run_to_convergence(agg, "stream_kafka_q24")
    got = {tuple(r) for r in res.collect()}
    batch = {
        tuple(r)
        for r in all_queries()["q24_window_tumbling"].builder(spark, SF).collect()
    }
    assert got == batch


def test_real_kafka_gate_raises_cleanly(spark):
    with pytest.raises(KafkaConnectorUnavailable):
        real_kafka_stream(spark, "localhost:9092", "events")


def test_foreach_batch_parquet_delivers_all_batches(spark, wire_dir, tmp_path):
    """Per-user totals streamed through foreachBatch; last-write-wins
    over the batch directories equals the batch aggregate."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = parse_events(kafka_wire_stream(spark, wire_dir))
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    q = foreach_batch_parquet(agg, out, ckpt, output_mode="update")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = (
        spark.read.option("basePath", out)
        .parquet(out + "/batch_id=*")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
            ),
        )
        .filter("rn = 1")
        .select("user_id", "cnt", "sum_value")
    )
    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    assert final.exceptAll(batch).count() == 0
    assert batch.exceptAll(final).count() == 0


def test_foreach_batch_replay_is_idempotent(spark, tmp_path):
    """Re-invoking the sink fn with the same batch_id (Spark's failure
    replay) must not duplicate rows."""
    out = str(tmp_path / "out")
    df = spark.range(5).withColumnRenamed("id", "k")

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

    write_batch(df, 7)
    write_batch(df, 7)  # replayed micro-batch
    assert spark.read.parquet(out + "/batch_id=*").count() == 5


def test_foreach_batch_fanout_hits_every_sink(spark, wire_dir, tmp_path):
    outs = [str(tmp_path / "a"), str(tmp_path / "b")]

    def mk(dest):
        def sink(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(f"{dest}/batch_id={batch_id}")

        return sink

    ev = parse_events(kafka_wire_stream(spark, wire_dir))
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    q = foreach_batch_fanout(
        agg, [mk(outs[0]), mk(outs[1])], str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    a = spark.read.parquet(outs[0] + "/batch_id=*")
    b = spark.read.parquet(outs[1] + "/batch_id=*")
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0

"""Parquet fixture loaders (TESTDATA.md / FIXTURES.md schemas).

The reference engine takes caller-provided in-memory vectors as input
(reference ``MapReduceClient.h:50,52``); the Spark engine's inputs are
columnar parquet scans, so Catalyst's column pruning and predicate
pushdown reach the file reader for free.

Special case: ``events.ts`` normalization, handling BOTH fixture
layouts the driver has generated across rounds:

- INT64 TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read as
  a raw long (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
  microseconds — the identical truncation DuckDB's ``epoch_us`` applies;
- TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as TIMESTAMP_NTZ;
  cast to TIMESTAMP under the engine's pinned UTC session timezone, an
  exact mapping that matches DuckDB's naive read.

Schema memo: ``load_table`` memoizes each table's INFERRED SCHEMA for
the session (``sources/memo.py::materialize``), never the DataFrame.
Every call still returns a fresh relation, ``spark.read.schema(known)
.parquet(path)`` on a hit, so two loads of one table carry disjoint
attribute ids and self-joins (q86's two ``nation`` scans) stay
unambiguous; a shared DataFrame would break exactly those.  What a hit
skips is schema inference, the one Spark job per call that reads
Parquet footers.  The key is the application (the memo is per
``applicationId``), the absolute path, the listing fingerprint
``(name, size, mtime_ns)`` of the file or of every file under a
directory table, and the session's Parquet inference confs
(``_INFERENCE_CONFS``).  Rewriting the file or flipping one of those
confs therefore re-infers.  A path ``os.stat`` cannot see (a non-local
filesystem) is never memoized and always infers.  For ``events`` the
memo holds the RAW inferred schema; the ``ts`` normalization below is
applied to every returned relation, hit or miss.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from multi_threaded_mapreduce_framework_spark.sources.memo import (
    listing_fingerprint,
    materialize,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that change the schema Spark infers from Parquet footers
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; normalizes ``events.ts`` to TimestampType."""
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = _read_parquet(spark, table_path(sf_dir, name))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns -> us truncation == DuckDB epoch_us(ts); session tz is UTC
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): wall-clock
            # equals the UTC instant under the engine's UTC session tz, so
            # the cast is exact and matches DuckDB's naive read
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, table_path(sf_dir, name))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A fresh Parquet relation over ``path``, inferring its schema only
    when the session memo has none for this listing and these confs."""
    listing = listing_fingerprint([path])
    if listing is None:
        return spark.read.parquet(path)
    key = (
        "parquet_schema",
        os.path.abspath(path),
        listing,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    inferred: list[DataFrame] = []

    def infer():
        inferred.append(spark.read.parquet(path))
        return inferred[0].schema

    schema = materialize(spark, key, infer)
    # a miss returns the inferring read itself rather than reading twice
    return inferred[0] if inferred else spark.read.schema(schema).parquet(path)


def spread_small_scan(
    df: DataFrame, min_factor: int = 2, target: int | None = None
) -> DataFrame:
    """Round-robin repartition a scan whose natural split count cannot
    feed the cluster's cores — the few-large-files / single-row-group /
    gzip case, where heavy per-row compute (sketching, shingling) would
    otherwise run on a handful of tasks.

    ``target`` (r12, ADVICE r11 item 3 — the one spread implementation
    both helpers share): when given, spread to exactly that many
    partitions instead of the core count; q267-class chained Python
    pipelines pass a rows-derived fan-out here.

    No-op whenever the scan already has ``cores / min_factor`` splits
    (or ``target`` splits), which is always true on a production-scale
    input (thousands of row groups), so the extra exchange exists only
    where it buys CPU parallelism worth far more than the small shuffle
    it costs.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if target is not None:
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    if df.rdd.getNumPartitions() * min_factor <= cores:
        return df.repartition(cores)
    return df


def layout_tag(spark: SparkSession, sf_dir: str) -> str:
    """Session-unique tag for DERIVED physical layouts (bucketed tables,
    partitioned dirs under the shared tempdir): sf tag + Spark
    applicationId, so two concurrent sessions over the same sf can
    never overwrite each other's layout mid-query — the tag is safe in
    both catalog identifiers and filesystem paths."""
    sf = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    app = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    return f"{sf}_{app}"


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each fixture as a temp view (for spark.sql-style access)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

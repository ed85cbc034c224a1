"""Tier T2 — round-6 corpus-curation extensions.

Operator families a production training-data pipeline runs that were
not yet oracle-declared: a Python-DataSource-backed census (the
custom-source surface promoted to the hash gate), SemDeDup-style
cluster-scoped semantic dedup, a time-hierarchy rollup whose coarse
tier is provably re-aggregated from fine partials, MOSS winnowing
fingerprints, a stream-stream-join-backed attribution readback, and
CCNet-style per-language quality terciles.

Reference note: all of these are beyond-reference capabilities (the
reference engine, MapReduceFramework.cpp:1-377, is a single-shape
map/sort/shuffle/reduce library); they are declared per the builder
brief's training-data-pipeline rubric and follow the same oracle
conventions as the rest of the registry (FIXTURES.md).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from multi_threaded_mapreduce_framework_spark.queries.registry import register
from multi_threaded_mapreduce_framework_spark.queries.t2_streamq import _converge
from multi_threaded_mapreduce_framework_spark.sources.memo import session_state
from multi_threaded_mapreduce_framework_spark.queries.t2_dedup import (
    COSINE_NEARDUP_THRESHOLD,
    IVF_CENTROIDS,
)
from multi_threaded_mapreduce_framework_spark.sources import load_table, spread_small_scan

# ------------------------------------------------------------------ q192
# The docgen law (sources/pydatasource.py:_doc_row) re-stated in SQL.
# Constants MUST stay in lockstep with pydatasource._lcg/_VOCAB/_LANGS —
# tests/test_pydatasource.py pins the Python side, the oracle below pins
# the SQL side, and the hash gate proves they are the same law.
_LCG_SQL = (
    "CAST(((CAST({x} AS HUGEINT) * 6364136223846793005"
    " + 1442695040888963407) % 9223372036854775808) AS BIGINT)"
)
_DOCGEN_VOCAB = (
    "the a spark table row scan hash join sort merge batch value key part "
    "window line fast slow agg data"
).split()
_DOCGEN_ROWS = 5000
_DOCGEN_LO, _DOCGEN_HI = 100, 4100


@register(
    "q192_docgen_census",
    tier="T2",
    oracle=f"""
WITH RECURSIVE base AS (
  SELECT i AS doc_id, {_LCG_SQL.format(x='i')} AS h
  FROM generate_series({_DOCGEN_LO}, {_DOCGEN_HI - 1}) t(i)),
chain AS (
  SELECT doc_id, h, CAST(10 + h % 40 AS BIGINT) AS n_words,
         0 AS k, h AS w, CAST(0 AS BIGINT) AS acc
  FROM base
  UNION ALL
  SELECT doc_id, h, n_words, k + 1,
         {_LCG_SQL.format(x='w')},
         acc + len(
           [{','.join(f"'{w}'" for w in _DOCGEN_VOCAB)}]
           [CAST({_LCG_SQL.format(x='w')} % 20 AS INT) + 1])
  FROM chain WHERE k < n_words),
per_doc AS (
  SELECT doc_id, h, n_words, acc + n_words - 1 AS n_chars
  FROM chain WHERE k = n_words)
SELECT ['en','de','fr'][CAST(h % 3 AS INT) + 1] AS lang,
       'gen' || CAST(h % 7 AS VARCHAR) AS source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS sum_words,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM per_doc GROUP BY 1, 2
""",
)
def q192_docgen_census(spark, sf_dir):
    """Per-(lang, source) census of a range-filtered scan of the
    ``docgen`` Python DataSource — the custom-source surface
    (sources/pydatasource.py) promoted to a hash-gated declared query.

    The Spark side reads REAL generated rows (word counts re-derived
    from the actual text, not trusted from metadata) through the
    DataSource's ``pushFilters`` path: the ``doc_id`` range predicate
    prunes generator partitions driver-side before any row exists. The
    oracle re-derives the entire generator law — LCG stream, lang/source
    mapping, per-word vocabulary chain, text length — from first
    principles in SQL (recursive CTE over the word chain), so a
    hash-match proves the source generates exactly its declared law AND
    that pruned reads lose no in-range rows.

    Scale shape: the source is the pattern for wrapping any shardable
    upstream (cursor-ranged API, keyspace scan) as a parallel source —
    partitions() carves splits, pushed ranges drop whole splits, and no
    row ever materializes on the driver.  sf-invariant by design (the
    generator is the workload; the fixtures are not involved).
    """
    from multi_threaded_mapreduce_framework_spark.sources import (
        register_python_sources,
    )

    register_python_sources(spark)
    docs = (
        spark.read.format("docgen")
        .option("rows", _DOCGEN_ROWS)
        .option("partitions", 8)
        .load()
        .filter(
            (F.col("doc_id") >= _DOCGEN_LO) & (F.col("doc_id") < _DOCGEN_HI)
        )
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("sum_words"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
    )


# ------------------------------------------------------------------ q266
@register(
    "q266_pydatasource_stream_census",
    tier="T2",
    oracle=f"""
WITH RECURSIVE base AS (
  SELECT i AS doc_id, {_LCG_SQL.format(x='i')} AS h
  FROM generate_series({_DOCGEN_LO}, {_DOCGEN_HI - 1}) t(i)),
chain AS (
  SELECT doc_id, h, CAST(10 + h % 40 AS BIGINT) AS n_words,
         0 AS k, h AS w, CAST(0 AS BIGINT) AS acc
  FROM base
  UNION ALL
  SELECT doc_id, h, n_words, k + 1,
         {_LCG_SQL.format(x='w')},
         acc + len(
           [{','.join(f"'{w}'" for w in _DOCGEN_VOCAB)}]
           [CAST({_LCG_SQL.format(x='w')} % 20 AS INT) + 1])
  FROM chain WHERE k < n_words),
per_doc AS (
  SELECT doc_id, h, n_words, acc + n_words - 1 AS n_chars
  FROM chain WHERE k = n_words)
SELECT ['en','de','fr'][CAST(h % 3 AS INT) + 1] AS lang,
       'gen' || CAST(h % 7 AS VARCHAR) AS source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS sum_words,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM per_doc GROUP BY 1, 2
""",
)
def q266_pydatasource_stream_census(spark, sf_dir):
    """The custom PYTHON STREAMING source under the oracle gate — q192's
    census produced by a real ``readStream.format("docgen")`` run
    (PySpark 4 ``DataSourceStreamReader``: executor-parallel partition
    planning per micro-batch, offset-ranged replay) instead of the
    batch reader: rows arrive in offset-paced micro-batches, a
    complete-mode streaming aggregation maintains the per-(lang,
    source) census in the state store, and the readback must hash-match
    the SAME first-principles SQL restatement of the generator law that
    gates q192.  One gate proves the streaming source's offset
    contract end to end: any skipped, duplicated, or mis-generated
    offset range anywhere in the micro-batch sequence breaks the
    census.

    Scale shape: this is the wrap-any-upstream ingest pattern
    (cursor-ranged API, keyspace scan, durable log) as a FIRST-CLASS
    parallel streaming source — ``partitions(start, end)`` carves each
    batch into executor splits, nothing materializes on the driver,
    and replay-from-checkpoint regenerates byte-identical rows (the
    property a real source gets from its log).  State = the census
    domain (|langs| x |sources| rows), independent of row volume."""
    from multi_threaded_mapreduce_framework_spark.sources import (
        register_python_sources,
    )

    def build(base):
        register_python_sources(spark)
        stream = (
            spark.readStream.format("docgen")
            .option("rowsPerBatch", 1024)
            .option("maxRows", _DOCGEN_HI)
            .option("streamPartitions", 8)
            .load()
            .filter(
                (F.col("doc_id") >= _DOCGEN_LO) & (F.col("doc_id") < _DOCGEN_HI)
            )
        )
        agg = (
            stream.select(
                "doc_id",
                "lang",
                "source",
                F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
                F.length("text").cast("bigint").alias("n_chars"),
            )
            .groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_words").cast("bigint").alias("sum_words"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
                F.min("doc_id").cast("bigint").alias("min_doc"),
                F.max("doc_id").cast("bigint").alias("max_doc"),
            )
        )
        return _converge(agg, base, "complete").localCheckpoint()

    return session_state(spark, sf_dir, "dgstream", build)


# ------------------------------------------------------------------ q193
@register(
    "q193_semantic_dedup",
    tier="T2",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {IVF_CENTROIDS}),
asg AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                      c.centroid_id) AS rn
    FROM e CROSS JOIN c) WHERE rn = 1),
rm AS (
  SELECT DISTINCT b.vec_id
  FROM asg a JOIN asg b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= {COSINE_NEARDUP_THRESHOLD})
SELECT asg.centroid_id,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN rm.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(sum(CASE WHEN rm.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM asg LEFT JOIN rm ON asg.vec_id = rm.vec_id
GROUP BY asg.centroid_id
""",
)
def q193_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal
    scoped to embedding-space clusters.  Vectors are assigned to their
    nearest centroid (q39's IVF law), then WITHIN each cell any vector
    whose cosine to a lower-``vec_id`` cellmate reaches the q37
    threshold is marked removed (keep-min representative, one pass).
    Output: per-cell total/removed/kept census.

    Plan shape: centroids broadcast for assignment (map-side), then ONE
    shuffle co-locates each cell and a grouped Arrow kernel runs a
    single numpy matmul per cell — pair similarities never materialize
    as rows and vectors cross the wire exactly once.  This is the whole
    point of SemDeDup: the quadratic term is bounded per-cell, and at
    100 TB you grow K (k-means centroids) with the corpus so cell size
    stays executor-bounded; the global brute-force q37 is the declared
    baseline this replaces.
    """
    import numpy as np
    import pandas as pd

    from multi_threaded_mapreduce_framework_spark.queries.t2_dedup import (
        ivf_assignments,
    )

    thr = COSINE_NEARDUP_THRESHOLD

    def kernel(key, pdf):
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.array(list(pdf["v"]), dtype=np.float64)[order]
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / np.outer(norms, norms)
        # removed[j]: some earlier (smaller vec_id) row i<j has sim>=thr
        iu = np.triu(sims >= thr, k=1)
        removed = iu.any(axis=0)
        return pd.DataFrame(
            {
                "centroid_id": [int(key[0])],
                "n_total": [len(ids)],
                "n_removed": [int(removed.sum())],
                "n_kept": [int(len(ids) - removed.sum())],
            }
        )

    asg = ivf_assignments(spark, sf_dir).select("vec_id", "v", "centroid_id")
    return asg.groupBy("centroid_id").applyInPandas(
        kernel,
        schema="centroid_id bigint, n_total bigint, n_removed bigint, n_kept bigint",
    )


# ------------------------------------------------------------------ q194
_MICRO = "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"


@register(
    "q194_rollup_hierarchy",
    tier="T2",
    oracle=f"""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum({_MICRO}) AS BIGINT) AS sum_micro
  FROM events GROUP BY 1, 2)
SELECT strftime(date_trunc('day', hr), '%Y-%m-%d') AS day, event_type,
       CAST(sum(cnt) AS BIGINT) AS cnt,
       CAST(sum(sum_micro) AS BIGINT) AS sum_micro,
       CAST(sum(sum_micro) // sum(cnt) AS BIGINT) AS avg_micro,
       CAST(count(*) AS BIGINT) AS n_active_hours
FROM h GROUP BY 1, 2
""",
)
def q194_rollup_hierarchy(spark, sf_dir):
    """Time-hierarchy rollup: the daily tier computed FROM hourly
    partials, not from raw events — the hypertable/matview rollup law.
    ``n_active_hours`` (count of non-empty hour cells per day) only
    exists on the hierarchy path, so the hash gate proves the coarse
    tier really was re-aggregated from the fine tier, and the integer
    micro-unit sums prove the re-aggregation is exact (no float drift
    between tiers).

    Scale shape: this is how 100 TB of raw events stays queryable —
    hour partials are ~|keys|x24 rows/day regardless of raw volume,
    daily/monthly tiers fold from them without re-reading raw data
    (same law the streaming matview uses, streaming/matview.py), and
    both aggregations partial-agg map-side.  The extra shuffle vs a
    direct daily group-by is the declared price of materializable
    intermediate state.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.expr(_MICRO)).cast("bigint").alias("sum_micro"),
        )
    )
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", "hr"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("sum_micro").cast("bigint").alias("sum_micro"),
            F.expr("sum(sum_micro) div sum(cnt)").cast("bigint").alias("avg_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_active_hours"),
        )
    )


# ------------------------------------------------------------------ q195
# Winnowing parameters (Schleimer, Wilkerson, Aiken — SIGMOD 2003).
# K-char grams hashed with the q34 polynomial law; windows of W
# consecutive gram hashes; guarantee: any shared substring of length
# >= K + W - 1 produces at least one shared fingerprint, and expected
# density is 2 / (W + 1).
_WIN_K = 5
_WIN_W = 4
_WIN_MOD = 1 << 20  # gram-hash modulus (q34's char-fold law)
# Position encoder: sel = h * _WIN_C + (_WIN_C - 1 - pos) makes ONE
# bigint whose min over a window is (min hash, rightmost position) —
# the MOSS tiebreak — and stays < 2^61 for any document shorter than
# _WIN_C = 2^40 chars (a 1 TiB single document; beyond any real row).
_WIN_C = 1 << 40


def winnow_fingerprints(docs):
    """Per-document winnowing fingerprint sets: adds ``m`` (gram count)
    and ``fps`` (array of selected gram-hash values, one per distinct
    winnowed position) to ``docs``; rows shorter than K+W-1 chars drop.
    Reusable as the candidate layer for fingerprint-postings joins
    (emit (fp, doc_id) by exploding fps).

    r12 (guide §4.2, VERDICT r11 item 6): the selection runs as ONE
    Arrow-batched numpy kernel instead of the nested interpreted
    higher-order-function chain (transform/aggregate/array_min are
    CodegenFallback — every gram hash and window min interpreted per
    row).  The integer law is IDENTICAL step for step, so the output
    is bit-equal by construction: char codes (``ord`` == the BMP
    codepoint ``ascii()``/``split('')`` law), the (a*31+b) % 2^20 gram
    fold (vectorized with the mod applied at each of the K steps —
    congruent and overflow-free in int64 since MOD*31+255 < 2^25),
    the h*2^40 + (2^40-1-pos) pack (< 2^61), sliding window-of-W min,
    first-occurrence distinct (np.unique indices re-sorted), div 2^40.
    Paired A/B at sf0.1: 1.72 -> 1.41 s for the kernel swap alone
    (q195's census rewrite takes the row further).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    K, W, MOD, C = _WIN_K, _WIN_W, _WIN_MOD, _WIN_C

    # no type hints: the module's `from __future__ import annotations`
    # would stringify them and break pandas_udf's signature inference
    @pandas_udf("array<bigint>")
    def winnow_fps_np(texts):
        import numpy as np
        import pandas as pd

        out = []
        for text in texts:
            codes = np.fromiter((ord(ch) for ch in text), dtype=np.int64)
            m = codes.size - (K - 1)
            h = np.zeros(m, dtype=np.int64)
            for j in range(K):
                h = (h * 31 + codes[j : j + m]) % MOD
            es = h * C + (C - 1 - np.arange(1, m + 1, dtype=np.int64))
            wins = np.lib.stride_tricks.sliding_window_view(es, W).min(axis=1)
            _, idx = np.unique(wins, return_index=True)
            out.append(wins[np.sort(idx)] // C)
        return pd.Series(out)

    return docs.filter(F.length("text") >= K + W - 1).withColumns(
        {
            "m": (F.length("text") - (K - 1)).cast("bigint"),
            "fps": winnow_fps_np("text"),
        }
    )


@register(
    "q195_winnowing_fingerprints",
    tier="T2",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, text, length(text) - {_WIN_K - 1} AS m
  FROM documents WHERE length(text) >= {_WIN_K + _WIN_W - 1}),
g AS (
  SELECT doc_id, lang, m,
    list_transform(generate_series(1, m), p ->
      list_reduce(list_transform(string_split(substr(text, p, {_WIN_K}), ''),
                                 c -> CAST(ascii(c) AS BIGINT)),
                  (a,b) -> (a*31 + b) % {_WIN_MOD}) * {_WIN_C}
        + ({_WIN_C} - 1 - p)) AS es
  FROM d),
s AS (
  SELECT doc_id, lang, m,
    list_distinct(list_transform(generate_series(1, m - {_WIN_W - 1}), w ->
      list_aggregate(es[w:w+{_WIN_W - 1}], 'min'))) AS sels
  FROM g),
perdoc AS (
  SELECT lang, doc_id, len(sels) AS n_sel,
         m - {_WIN_W - 1} AS n_windows, m AS n_grams,
         list_transform(sels, v -> v // {_WIN_C}) AS fps
  FROM s),
a AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_sel) AS BIGINT) AS n_fp,
         CAST(sum(n_windows) AS BIGINT) AS n_windows,
         CAST(sum(n_grams) AS BIGINT) AS n_grams
  FROM perdoc GROUP BY lang),
b AS (
  SELECT lang, CAST(count(DISTINCT fp) AS BIGINT) AS distinct_fp
  FROM (SELECT lang, unnest(fps) AS fp FROM perdoc) GROUP BY lang)
SELECT a.lang, n_docs, n_fp, n_windows, n_grams, distinct_fp,
       round(n_fp / n_windows, 4) AS density
FROM a JOIN b ON a.lang = b.lang
""",
)
def q195_winnowing_fingerprints(spark, sf_dir):
    """MOSS winnowing fingerprints (Schleimer et al. 2003): hash every
    5-char gram with the q34 polynomial law, slide a window of 4
    consecutive gram hashes, and select each window's minimum with
    the rightmost-position tiebreak — the local document fingerprinting
    scheme whose guarantee (any match of length >= K+W-1 shares a
    fingerprint; expected density 2/(W+1)) underlies plagiarism/
    near-dup detection at corpus scale.  Census per lang: docs, selected
    fingerprints, windows, grams, distinct fingerprint values, and the
    realized density (~0.40 = 2/(4+1) on this corpus, the theory value).

    Engine shape: the entire selection runs as nested higher-order
    array functions INSIDE the scan stage — the (min-hash, rightmost
    -pos) pair is packed into one bigint (h * 2^40 + (2^40-1-pos)) so a
    plain ``array_min`` over each length-W slice IS the MOSS argmin,
    and ``array_distinct`` collapses windows that picked the same gram.
    The expensive fps projection is executed exactly once: posexplode
    feeds a SINGLE per-lang aggregate whose doc-level sums are gated on
    pos == 0, so the census needs no second branch and no join — the
    only wide op is one partial-aggregated 5-key lang census.

    Scale shape: per-doc cost is O(chars x W) in-row compute with zero
    state, so 100 TB fingerprints embarrassingly parallel in one scan;
    the fingerprint->doc postings this census summarizes are the q35
    LSH-style candidate layer (emit (fp, doc_id), group by fp) when the
    goal is pair retrieval rather than the census.
    """
    W = _WIN_W
    # The per-row gram-hash + window-min compute dominates, and the sf
    # fixtures are single-row-group files: spread the scan so the
    # O(chars x W) work uses every core (no-op on real multi-split input).
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    # ONE pass over the expensive fps projection: posexplode the
    # fingerprints (every kept doc has >= 1, so no row is lost) and gate
    # the doc-level sums on pos == 0 — a second branch would re-execute
    # the whole gram-hash scan (exchange reuse stops at the repartition;
    # measured 2x the scan cost as two branches).
    per = winnow_fingerprints(docs).select(
        "lang",
        F.size("fps").cast("bigint").alias("n_sel"),
        (F.col("m") - (W - 1)).alias("n_windows"),
        F.col("m").alias("n_grams"),
        F.posexplode("fps").alias("pos", "fp"),
    )
    # r12: two-level aggregation instead of countDistinct-beside-sums.
    # A countDistinct mixed with plain sums compiles to an Expand that
    # DOUBLES every exploded row through the shuffle; aggregating by
    # (lang, fp) first (map-side combine collapses repeats), with the
    # doc-level sums gated on pos == 0 riding whichever fp group holds
    # each doc's first fingerprint, then folding |distinct fp| rows per
    # lang, shuffles each distinct fingerprint once.  Paired A/B at
    # sf0.1 (with the kernel swap): 1.72 -> 1.23 s.
    first = F.col("pos") == 0
    g1 = per.groupBy("lang", "fp").agg(
        F.sum(F.when(first, 1)).alias("d_docs"),
        F.sum(F.when(first, F.col("n_sel"))).alias("d_sel"),
        F.sum(F.when(first, F.col("n_windows"))).alias("d_win"),
        F.sum(F.when(first, F.col("n_grams"))).alias("d_grams"),
    )
    return (
        g1.groupBy("lang")
        .agg(
            F.coalesce(F.sum("d_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.sum("d_sel").cast("bigint").alias("n_fp"),
            F.sum("d_win").cast("bigint").alias("n_windows"),
            F.sum("d_grams").cast("bigint").alias("n_grams"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_fp"),
        )
        .select(
            "lang",
            "n_docs",
            "n_fp",
            "n_windows",
            "n_grams",
            "distinct_fp",
            F.round(F.col("n_fp") / F.col("n_windows"), 4).alias("density"),
        )
    )


# ------------------------------------------------------------------ q196
def _click_purchase_readback(spark, sf_dir, name, how):
    """q196/q273/q275/q276's stream, held per session under ``name``: a
    stream-stream ``how`` join of clicks to purchases within 1 hour
    over a time-ordered replay with a 2-day watermark, drained to
    convergence (``streaming/windowed.py``), sentinel rows dropped."""
    from multi_threaded_mapreduce_framework_spark.streaming import (
        drain_to_convergence,
        events_stream,
        stream_stream_join,
    )
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        replay_events_time_ordered,
    )

    def build(base):
        replay = os.path.join(base, "replay")
        replay_events_time_ordered(spark, sf_dir, replay, n_chunks=3)
        joined = stream_stream_join(
            events_stream(spark, replay).filter(F.col("event_type") == "click"),
            events_stream(spark, replay).filter(
                F.col("event_type") == "purchase"
            ),
            how,
            max_lag="1 hour",
            watermark="2 days",
        )
        out = drain_to_convergence(
            joined, replay, os.path.basename(base), os.path.join(base, "ckpt")
        )
        users = [F.col(c) for c in ("l_user", "r_user") if c in out.columns]
        return out.filter(F.coalesce(*users) >= 0).localCheckpoint()

    return session_state(spark, sf_dir, name, build)


@register(
    "q196_stream_stream_join_readback",
    tier="T2",
    oracle="""
WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT l.user_id, l.event_id AS l_event, r.event_id AS r_event,
         epoch_us(r.ts) - epoch_us(l.ts) AS lag_us
  FROM l JOIN r ON l.user_id = r.user_id
   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT l_event) AS BIGINT) AS n_clicks,
       CAST(count(DISTINCT r_event) AS BIGINT) AS n_purchases,
       CAST(sum(lag_us) AS BIGINT) AS sum_lag_us,
       CAST(min(lag_us) AS BIGINT) AS min_lag_us
FROM j GROUP BY user_id
""",
)
def q196_stream_stream_join_readback(spark, sf_dir):
    """Per-user click->purchase attribution (purchase within 1 hour of
    the click) computed by a REAL stream-stream inner join — both sides
    unbounded file-source streams over a time-ordered wire replay of
    the events fixture, matched in Spark's join state store — then the
    memory-sink readback is censused per user and hash-gated against
    the identical batch join.  The fifth streaming-backed declared
    query, covering the one stateful-operator family (two-sided join
    state with watermark eviction) q186-q190 do not.

    Convergence contract: the replay is TIME-ORDERED (ntile chunks,
    mtime-sequenced), so a 2-day watermark admits every row — a
    stream-stream join DROPS older-than-watermark input on arrival, so
    replay order and watermark slack are a correctness pair, not a
    tuning knob (tests/test_streaming_joins.py pins the hash-replay/
    wide-watermark variant).  Inner joins emit eagerly; the shared
    readback drains anyway, which cannot change an inner join's rows.

    Scale shape: state is bounded by watermark + the 1-hour range
    bound — each side buffers only rows whose join window the opposite
    watermark has not passed (hours of data, not the stream's history)
    — and the state store is hash-partitioned by user_id, so a 100
    TB/day event feed shards across executors; lag sums in integer
    micros keep the readback census bit-exact vs batch.
    """
    cached = _click_purchase_readback(spark, sf_dir, "ssjoin_readback", "inner")
    lag = F.expr("unix_micros(r_ts) - unix_micros(l_ts)")
    return (
        cached.select(
            F.col("l_user").alias("user_id"),
            "l_event",
            "r_event",
            lag.alias("lag_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("l_event").cast("bigint").alias("n_clicks"),
            F.countDistinct("r_event").cast("bigint").alias("n_purchases"),
            F.sum("lag_us").cast("bigint").alias("sum_lag_us"),
            F.min("lag_us").cast("bigint").alias("min_lag_us"),
        )
    )


# ------------------------------------------------------------------ q197
_Q_SCORE_DUCK = """
least(1.0, len(string_split(text, ' ')) / 40.0) * 0.6
+ least(1.0, (length(replace(text, ' ', ''))
              / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0) * 0.4
"""


@register(
    "q197_quality_terciles",
    tier="T2",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, n_chars, {_Q_SCORE_DUCK} AS q
  FROM documents),
b AS (
  SELECT lang, q, n_chars,
         ntile(3) OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS tercile
  FROM scored)
SELECT lang, CAST(tercile AS BIGINT) AS tercile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(q), 2) AS avg_quality,
       round(min(q), 4) AS min_quality,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM b GROUP BY lang, tercile
""",
)
def q197_quality_terciles(spark, sf_dir):
    """CCNet-style head/middle/tail split: rank every document within
    its language by the q31 quality score (deterministic tiebreak on
    doc_id) and cut each language into terciles — the standard shape
    for keeping the head, LM-filtering the middle, and dropping the
    tail of a crawl.  Census per (lang, tercile).

    Scale shape: the window partitions by ``lang`` — a domain-bounded
    key set — never by the corpus, so each language ranks independently
    (and a language too large for one task moves to the q111
    distributed-quantile-cut law, the documented scale sibling for
    unbounded partitions).  Score math is pure column arithmetic in the
    scan stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_tok = F.size(ws)
    awl = F.length(F.regexp_replace("text", " ", "")) / n_tok.cast("double")
    q = (
        F.least(F.lit(1.0), n_tok / F.lit(40.0)) * 0.6
        + F.least(F.lit(1.0), awl / F.lit(8.0)) * 0.4
    )
    w = Window.partitionBy("lang").orderBy(F.desc("q"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", "n_chars", q.alias("q"))
        .withColumn("tercile", F.ntile(3).over(w).cast("bigint"))
        .groupBy("lang", "tercile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("q"), 2).alias("avg_quality"),
            F.round(F.min("q"), 4).alias("min_quality"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


# ------------------------------------------------------------------ q268
@register(
    "q268_jsonl_write_readback",
    tier="T2",
    oracle="""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents GROUP BY lang, source
""",
)
def q268_jsonl_write_readback(spark, sf_dir):
    """The jsonl Python-DataSource WRITER under the oracle gate (r9
    verdict item 4 — closes the custom-source loop: q266 gates the
    read/stream paths, this row gates the BATCH WRITE path's two-phase
    commit, `sources/pydatasource.py::_JsonlWriter`): the ``documents``
    corpus is written through the committer TWICE — the even-``doc_id``
    half in ``overwrite`` mode (task-attempt temp files -> driver-side
    rename barrier -> atomic manifest), then the odd half in
    ``append`` mode (job-uuid shard names, manifest MERGE) — read back
    through the manifest-honoring jsonl reader, and censused per
    (lang, source).  Hash-gated against the same census over the
    parquet fixture: a lost shard, a double-committed attempt, a
    stale-manifest read, a shard the append collided over, or one
    JSON-mangled text/char field anywhere breaks counts, char sums,
    or the doc_id extrema.

    Scale shape: this IS the Hadoop FileOutputCommitter contract
    re-expressed for a wheel-less Python source — write parallelism =
    input partitions (4 overwrite + 3 append tasks here), commit cost
    = one driver-side rename pass + one manifest write, readback =
    one file-per-partition parallel scan; nothing but commit messages
    (file name + row count) ever reaches the driver.  Run-once per
    (app, sf) with a localCheckpoint readback — the streaming rows'
    cache discipline."""
    from multi_threaded_mapreduce_framework_spark.sources import (
        register_python_sources,
    )

    def build(base):
        register_python_sources(spark)
        out = os.path.join(base, "corpus")
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        (
            docs.filter("doc_id % 2 = 0")
            .repartition(4)
            .write.format("jsonl")
            .mode("overwrite")
            .option("path", out)
            .save()
        )
        (
            docs.filter("doc_id % 2 = 1")
            .repartition(3)
            .write.format("jsonl")
            .mode("append")
            .option("path", out)
            .save()
        )
        back = (
            spark.read.format("jsonl")
            .schema(
                "doc_id bigint, text string, lang string,"
                " source string, n_chars bigint"
            )
            .option("path", out)
            .load()
        )
        return (
            back.groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
                F.sum(F.length("text")).cast("bigint").alias("sum_text_chars"),
                F.min("doc_id").cast("bigint").alias("min_doc"),
                F.max("doc_id").cast("bigint").alias("max_doc"),
            )
            .localCheckpoint()
        )

    return session_state(spark, sf_dir, "jsonl_write", build)


# ------------------------------------------------------------------ q273
@register(
    "q273_stream_left_join_readback",
    tier="T2",
    oracle="""
WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT l.user_id, l.event_id AS l_event, r.event_id AS r_event,
         CASE WHEN r.event_id IS NULL THEN NULL
              ELSE epoch_us(r.ts) - epoch_us(l.ts) END AS lag_us
  FROM l LEFT JOIN r ON l.user_id = r.user_id
   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(r_event) AS BIGINT) AS n_matched,
       CAST(count(*) - count(r_event) AS BIGINT) AS n_unmatched_clicks,
       CAST(count(DISTINCT l_event) AS BIGINT) AS n_clicks,
       CAST(coalesce(sum(lag_us), 0) AS BIGINT) AS sum_lag_us
FROM j GROUP BY user_id
""",
)
def q273_stream_left_join_readback(spark, sf_dir):
    """Per-user click->purchase attribution INCLUDING the clicks that
    never converted — a REAL stream-stream LEFT-OUTER join (q196's
    inner-join sibling; VERDICT r10 item 5): both sides unbounded
    file-source streams over a time-ordered replay, matched in the
    two-sided join state store, with the unmatched clicks NULL-FLUSHED
    by watermark advance rather than simply never emitted.  The
    readback census is hash-gated against the identical batch LEFT
    join in DuckDB — so the gate covers the one stateful behavior the
    inner form cannot: a left row's state must survive until the
    right watermark provably clears its join window
    (``l_ts + max_lag``), THEN emit exactly one null-padded row.

    Drain contract: outer rows only flush when the watermark passes
    their window, so converging a bounded replay needs the
    two-generation sentinel drain (the replay law in
    ``streaming/windowed.py``) — the same flush a production backfill
    performs; ``tools/check_streaming.py::
    ss_left_join_flushes_after_watermark`` pins the set-equality form,
    this row pins the hash-gated census.

    Scale shape: state is bounded by watermark + the 1-hour range
    bound on BOTH sides (hours of events, not history), hash-
    partitioned by user_id across executors; null-flush makes the
    unmatched-click feed a stream too — the 100 TB/day funnel-drop
    table costs no second scan of the click stream.  Lag sums in
    integer micros keep the census bit-exact vs batch.
    """
    cached = _click_purchase_readback(
        spark, sf_dir, "ssljoin_readback", "left_outer"
    )
    lag = F.expr(
        "CASE WHEN r_event IS NULL THEN NULL"
        " ELSE unix_micros(r_ts) - unix_micros(l_ts) END"
    )
    return (
        cached.select(
            F.col("l_user").alias("user_id"),
            "l_event",
            "r_event",
            lag.alias("lag_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count("r_event").cast("bigint").alias("n_matched"),
            F.sum(F.when(F.col("r_event").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched_clicks"),
            F.countDistinct("l_event").cast("bigint").alias("n_clicks"),
            F.coalesce(F.sum("lag_us"), F.lit(0))
            .cast("bigint")
            .alias("sum_lag_us"),
        )
    )


# ------------------------------------------------------------------ q274
@register(
    "q274_stream_static_enrich_readback",
    tier="T2",
    oracle="""
WITH dim AS (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 8),
e AS (SELECT user_id, event_id, value, user_id % 10 AS nk FROM events)
SELECT coalesce(d.n_name, '<unmatched>') AS nation,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(CAST(e.value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
            AS BIGINT) AS sum_value_micro,
       CAST(min(e.event_id) AS BIGINT) AS min_event,
       CAST(max(e.event_id) AS BIGINT) AS max_event
FROM e LEFT JOIN dim d ON e.nk = d.n_nationkey
GROUP BY 1
""",
)
def q274_stream_static_enrich_readback(spark, sf_dir):
    """STREAM-STATIC enrichment under the oracle gate — the remaining
    streaming-join family after q196/q273 (stream-stream inner/left):
    the events stream LEFT-joins a static dimension snapshot (nation,
    keyed ``user_id % 10``, RESTRICTED to ``n_nationkey < 8`` so a
    fifth of the key domain — residues 8-9, present at every sf —
    is genuinely dimension-less), and the
    readback census per enriched nation (events, distinct users,
    integer-micro value sum, event-id extrema) is hash-gated against
    the identical batch LEFT join in DuckDB.

    The declared contract is STATELESSNESS: a stream-static join
    buffers nothing — every micro-batch plans an ordinary batch join
    against the (re-resolved) static files, and an unmatched stream
    row emits its null-padded form IMMEDIATELY, in the batch it
    arrived (q273's null flush must wait for the watermark; this one
    must not wait at all).  No watermark, no sentinel drain, no state
    store — the law test asserts the running query reports ZERO
    stateful operators, so the gate cannot pass on a quietly stateful
    plan.

    Scale shape: the dim is broadcast-hinted (streaming/joins.py::
    stream_static_join) — the 100 TB/day stream side never shuffles
    for the enrichment, every executor holds the dim copy and the
    join rides the scan tasks; Spark re-lists the static relation per
    trigger, which is exactly the slowly-changing-dimension refresh
    pattern (swap the snapshot dir, next trigger picks it up).
    Non-negative ``user_id`` is a declared fixture domain (Spark %
    and DuckDB % agree on it; q270's k >= 0 discipline).
    """
    from multi_threaded_mapreduce_framework_spark.streaming import (
        events_stream,
        stream_static_join,
    )
    from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
        replay_events_time_ordered,
    )

    def build(base):
        replay = os.path.join(base, "replay")
        replay_events_time_ordered(spark, sf_dir, replay, n_chunks=3)
        dim = (
            load_table(spark, sf_dir, "nation")
            .filter(F.col("n_nationkey") < 8)
            .select("n_nationkey", "n_name")
        )
        stream = events_stream(spark, replay)
        enriched = stream_static_join(
            stream,
            dim,
            stream["user_id"] % 10 == dim["n_nationkey"],
            "left_outer",
        ).select("user_id", "event_id", "value", "n_name")
        return _converge(enriched, base, "append").localCheckpoint()

    cached = session_state(spark, sf_dir, "ssenrich_readback", build)
    micro = F.expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
    return (
        cached.select(
            F.coalesce(F.col("n_name"), F.lit("<unmatched>")).alias("nation"),
            "user_id",
            "event_id",
            micro.alias("value_micro"),
        )
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("value_micro").cast("bigint").alias("sum_value_micro"),
            F.min("event_id").cast("bigint").alias("min_event"),
            F.max("event_id").cast("bigint").alias("max_event"),
        )
    )


# ------------------------------------------------------------------ q275
@register(
    "q275_stream_full_join_readback",
    tier="T2",
    oracle="""
WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT coalesce(l.user_id, r.user_id) AS user_id,
         l.event_id AS l_event, r.event_id AS r_event,
         CASE WHEN l.event_id IS NULL OR r.event_id IS NULL THEN NULL
              ELSE epoch_us(r.ts) - epoch_us(l.ts) END AS lag_us
  FROM l FULL JOIN r ON l.user_id = r.user_id
   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l_event IS NOT NULL AND r_event IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN r_event IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_click_only,
       CAST(sum(CASE WHEN l_event IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchase_only,
       CAST(count(DISTINCT l_event) AS BIGINT) AS n_clicks,
       CAST(count(DISTINCT r_event) AS BIGINT) AS n_purchases,
       CAST(coalesce(sum(lag_us), 0) AS BIGINT) AS sum_lag_us
FROM j GROUP BY user_id
""",
)
def q275_stream_full_join_readback(spark, sf_dir):
    """Stream-stream FULL-OUTER join under the oracle gate — with q196
    (inner) and q273 (left-outer) this completes the outer-join matrix:
    BOTH sides' unmatched rows must null-flush on watermark advance —
    a click with no purchase in its 1-hour window AND a purchase no
    click preceded — so the census additionally reconciles the
    purchase side (``n_purchase_only``), which q273 cannot see.

    The two-generation sentinel drain is q273's (here the expired state
    on BOTH sides emits).  The gate's strength over the left form: a
    full join that loses an unmatched RIGHT row (or emits it twice, or emits it before the left
    watermark proves no older click can arrive) breaks n_rows,
    n_purchase_only, or the distinct-purchase reconciliation.

    Scale shape: identical to q273 — state bounded by watermark + the
    1-hour range bound on both sides, hash-partitioned by user_id;
    the full form is the audit view of an attribution pipeline (every
    event accounted for exactly once: matched, click-only, or
    purchase-only — the three rows of a daily reconciliation report).
    """
    cached = _click_purchase_readback(
        spark, sf_dir, "ssfjoin_readback", "full_outer"
    )
    lag = F.expr(
        "CASE WHEN l_event IS NULL OR r_event IS NULL THEN NULL"
        " ELSE unix_micros(r_ts) - unix_micros(l_ts) END"
    )
    return (
        cached.select(
            F.coalesce(F.col("l_user"), F.col("r_user")).alias("user_id"),
            "l_event",
            "r_event",
            lag.alias("lag_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(
                    F.col("l_event").isNotNull() & F.col("r_event").isNotNull(),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_matched"),
            F.sum(F.when(F.col("r_event").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_click_only"),
            F.sum(F.when(F.col("l_event").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchase_only"),
            F.countDistinct("l_event").cast("bigint").alias("n_clicks"),
            F.countDistinct("r_event").cast("bigint").alias("n_purchases"),
            F.coalesce(F.sum("lag_us"), F.lit(0))
            .cast("bigint")
            .alias("sum_lag_us"),
        )
    )


# ------------------------------------------------------------------ q276
@register(
    "q276_stream_semi_join_readback",
    tier="T2",
    oracle="""
WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
s AS (
  SELECT user_id, ts, event_id FROM l
  WHERE EXISTS (SELECT 1 FROM r
                WHERE r.user_id = l.user_id
                  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR))
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_converted_clicks,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_clicks,
       CAST(sum(epoch_us(ts)) AS BIGINT) AS sum_click_ts_us,
       CAST(min(event_id) AS BIGINT) AS min_click_event,
       CAST(max(event_id) AS BIGINT) AS max_click_event
FROM s GROUP BY user_id
""",
)
def q276_stream_semi_join_readback(spark, sf_dir):
    """Stream-stream LEFT-SEMI join under the oracle gate — the
    existence form completing the join-mode matrix (inner q196,
    left-outer q273, full-outer q275, semi q276): "every click that
    converted AT LEAST once", each emitted EXACTLY once with the left
    columns only, the moment its first matching purchase arrives.

    The gate pins the two laws the other modes don't: (1) exactly-once
    left emission — a semi join that re-emits a click on its second
    matching purchase breaks ``n_converted_clicks`` against
    ``n_distinct_clicks`` (the census carries both so the hash is
    sensitive to double emission specifically); (2) output bounded by
    the LEFT stream — the inner join materializes every (click,
    purchase) pair, the semi join at most one row per click, which at
    100 TB/day is the difference between a feed sized by clicks and
    one sized by the hot users' N x M pair blow-up.  Emission is eager
    (first match), like the inner form; unmatched click state is
    silently evicted when the watermark clears its window — dropped,
    never emitted (the DuckDB EXISTS oracle sees exactly the converted
    set).

    Scale shape: q196's two-sided watermark + range-bound state
    discipline, hash-partitioned by user_id; integer-micro click
    timestamps make the census bit-exact vs batch.
    """
    cached = _click_purchase_readback(
        spark, sf_dir, "sssemi_readback", "left_semi"
    )
    return (
        cached.select(
            F.col("l_user").alias("user_id"),
            F.col("l_event").alias("click_event"),
            F.expr("unix_micros(l_ts)").alias("ts_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_converted_clicks"),
            F.countDistinct("click_event")
            .cast("bigint")
            .alias("n_distinct_clicks"),
            F.sum("ts_us").cast("bigint").alias("sum_click_ts_us"),
            F.min("click_event").cast("bigint").alias("min_click_event"),
            F.max("click_event").cast("bigint").alias("max_click_event"),
        )
    )

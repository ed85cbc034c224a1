"""Corpus-mining tier (q96-q105): the text-analysis operators a
training-data pipeline runs between raw scrape and tokenizer.

All are expressible as the reference's map -> shuffle -> reduce
model (MapReduceClient.h:55-65 capability: per-record emit + grouped
reduce); here each is a single declarative DataFrame plan so Catalyst
keeps the per-document work map-side and only shuffles the (small)
aggregate keyspace:

- q96: per-document repetition stats (boilerplate / spam signal),
- q97: corpus trigram language-model counts (top next-token contexts),
- q98: benchmark-contamination scan (shingle overlap vs a held-out set),
- q99: deterministic stratified sampling (per-language rates),
- q100: PII-style redaction + masked-cardinality over event payloads,
- q101: repeated-passage mining (cross-document duplicated shingles),
- q103: fixed-quota per-stratum sampling (hash-min top-k),
- q104: document-length histogram (integer bucket algebra),
- q105: click->purchase funnel (batch twin of the stream-stream join),
- q106: VARIANT-typed payload aggregation (parse once, extract many),
- q108: sqrt-weighted corpus mixture allocation (stratum shares).

Scale notes are per-query; the common rule: everything per-document is
array algebra inside the scan's project (no explode before the doc-level
result exists, no Python), so the shuffle carries only aggregate keys.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from multi_threaded_mapreduce_framework_spark.queries.registry import register
from multi_threaded_mapreduce_framework_spark.sources import load_table, spread_small_scan


@register(
    "q96_repetition_stats",
    tier="T2",
    oracle="""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
       CAST(list_max(list_transform(list_distinct(ws),
                t -> len(list_filter(ws, x -> x = t)))) AS BIGINT)
         AS max_tok_freq,
       CAST(floor((1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE))
                  * 100) AS BIGINT) AS rep_centi
FROM s WHERE len(ws) > 0
""",
)
def q96_repetition_stats(spark, sf_dir):
    """Per-document repetition statistics: token count, distinct-token
    count, the highest single-token frequency, and the repeated-mass
    ratio ``floor((1 - distinct/total) * 100)`` — the standard
    boilerplate/spam gate in corpus cleaning.

    The max-frequency is computed *inside the row* — for each distinct
    token, count its occurrences with a higher-order ``filter`` — so the
    whole query is one scan-project with zero shuffles and zero explode:
    O(tokens * distinct) per document (documents are bounded; corpus
    size is not), embarrassingly parallel at any scale. The ratio is
    emitted in floor-centi units, not round(), because both engines
    compute bit-identical doubles here and floor is IEEE-exact while
    their ROUND rules differ at x.xx5.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r11 (guide §1.2 per-task work): the old form counted each distinct
    # token with a higher-order filter — O(tokens x distinct) string
    # compares per row.  Sort the tokens once and read run lengths
    # instead (q140's run trick): run starts give the distinct count,
    # the max gap between consecutive starts gives the max frequency —
    # O(n log n), all-integer, value-identical by construction.
    stats = F.expr(
        "struct(size(ws) AS n, size(starts) AS nd,"
        " array_max(zip_with("
        "   starts,"
        "   concat(slice(starts, 2, greatest(size(starts) - 1, 0)),"
        "          array(size(ws))),"
        "   (a, b) -> b - a)) AS mf)"
    )
    starts = F.expr(
        "filter(transform("
        " zip_with(st, concat(array(cast(NULL as string)),"
        "                     slice(st, 1, greatest(size(st) - 1, 0))),"
        "          (c, p) -> IF(p IS NULL OR c <> p, 1, 0)),"
        " (f, i) -> IF(f = 1, i, -1)),"
        " v -> v >= 0)"
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") > 0)
        .withColumn("st", F.array_sort("ws"))
        .withColumn("starts", starts)
        .select("doc_id", stats.alias("st"))
        .select(
            "doc_id",
            F.col("st.n").cast("bigint").alias("n_tokens"),
            F.col("st.nd").cast("bigint").alias("n_distinct"),
            F.col("st.mf").cast("bigint").alias("max_tok_freq"),
            F.floor(
                (F.lit(1.0) - F.col("st.nd") / F.col("st.n").cast("double")) * 100
            ).cast("bigint").alias("rep_centi"),
        )
    )


@register(
    "q97_trigram_lm",
    tier="T2",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents),
tri AS (
  SELECT w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
         lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
  FROM words)
SELECT w1 || ' ' || w2 AS ctx, w3 AS nxt, count(*) AS cnt
FROM tri WHERE w3 IS NOT NULL
GROUP BY ctx, nxt
ORDER BY cnt DESC, ctx, nxt LIMIT 20
""",
)
def q97_trigram_lm(spark, sf_dir):
    """Trigram language-model counts: the 20 most frequent
    (bigram-context, next-token) pairs corpus-wide — the count table an
    n-gram LM (or a contamination 13-gram index) is built from.

    Trigrams are assembled inside each row with array ops (q26's
    slice+transform pattern, one position per element, no
    posexplode+window), so the only shuffle is the partially-aggregated
    trigram count; top-k carries a total order (cnt desc, ctx, nxt) for
    determinism. At 100 TB the trigram keyspace is Zipf-bounded and the
    map-side partial aggregate absorbs the bulk of the traffic.
    """
    # no spread_small_scan here: trigram assembly is cheap enough that
    # the round-robin exchange costs more than the parallelism buys
    # (measured 0.55s -> 0.92s at sf0.1); the partial agg is the work
    docs = load_table(spark, sf_dir, "documents")
    tri = F.expr(
        "transform(slice(ws, 1, greatest(size(ws) - 2, 0)),"
        " (w, i) -> struct(concat(w, ' ', ws[i + 1]) AS ctx, ws[i + 2] AS nxt))"
    )
    return (
        docs.select(F.split("text", " ").alias("ws"))
        .select(F.explode(tri).alias("t"))
        .groupBy(F.col("t.ctx").alias("ctx"), F.col("t.nxt").alias("nxt"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ctx"), F.asc("nxt"))
        .limit(20)
    )


@register(
    "q98_contamination",
    tier="T2",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(ws) - 3, 1)),
             i -> array_to_string(ws[i:i+4], ' '))) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
bench AS (SELECT DISTINCT unnest(sh) AS p FROM sh WHERE doc_id % 97 = 0),
ev AS (SELECT doc_id, unnest(sh) AS p FROM sh
       WHERE doc_id % 97 <> 0 AND len(sh) > 0)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN p IN (SELECT p FROM bench) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(floor(sum(CASE WHEN p IN (SELECT p FROM bench) THEN 1 ELSE 0 END)
                  / CAST(count(*) AS DOUBLE) * 100) AS BIGINT) AS overlap_centi
FROM ev GROUP BY doc_id
HAVING sum(CASE WHEN p IN (SELECT p FROM bench) THEN 1 ELSE 0 END) > 0
""",
)
def q98_contamination(spark, sf_dir, benchmark=None, bench_max_shingles=5_000_000):
    """Benchmark-contamination scan: for every training document, the
    fraction of its distinct 5-token shingles that appear anywhere in a
    held-out benchmark set; only contaminated docs (>= 1 hit) are
    emitted.

    Scale shape: the benchmark shingle set must be *fixed-size* (eval
    suites don't grow with the corpus), so it broadcasts at any corpus
    scale and the scan side never shuffles — explode distinct shingles,
    probe the broadcast set, re-aggregate per doc on the
    already-partitioned doc_id. This is exactly how 13-gram
    decontamination runs in production pipelines, minus the tokenizer.

    The production entry point is ``benchmark=`` — a DataFrame of
    benchmark documents ``(doc_id, text-derived shingles ...)`` columns
    ``(p: string)`` — which is INDEPENDENT of the corpus scan. When it
    is omitted (the fixture/oracle path) the stand-in eval suite is
    docs with ``doc_id % 97 == 0``, which would grow linearly with the
    corpus; ``bench_max_shingles`` guards that footgun with an eager
    size assert on the (small) bench side before it is broadcast, so a
    corpus-derived bench that outgrows broadcastability fails loudly
    instead of OOMing executors at 100 TB (see SCALE.md).
    """
    raw = load_table(spark, sf_dir, "documents")
    sh = F.expr(
        "array_distinct(transform(slice(ws, 1, greatest(size(ws) - 4, 0)),"
        " (w, i) -> concat_ws(' ', slice(ws, i + 1, 5))))"
    )

    def shingled(d):
        return d.select("doc_id", F.split("text", " ").alias("ws")).select(
            "doc_id", sh.alias("sh")
        )

    if benchmark is None:
        # separate scan with the bench filter applied BEFORE any
        # repartition: the checkpoint job below then shingles only the
        # 1% bench slice instead of re-shuffling the whole corpus (the
        # main scan can no longer share its exchange with a checkpoint)
        bench = (
            shingled(raw.filter(F.col("doc_id") % 97 == 0))
            .select(F.explode("sh").alias("p"))
            .distinct()
        )
    else:
        bench = benchmark.select("p").distinct()
    # bounded-broadcast guard: materialize the bench side once (tiny by
    # contract — the checkpoint is what the broadcast would build
    # anyway), then one count over the materialized copy; at scale this
    # is the assert that the eval suite stayed an eval suite
    bench = bench.localCheckpoint()
    n_bench = bench.count()
    if n_bench > bench_max_shingles:
        raise ValueError(
            f"benchmark shingle set has {n_bench} entries "
            f"(> bench_max_shingles={bench_max_shingles}); pass a bounded "
            "benchmark= DataFrame — a corpus-derived bench does not broadcast"
        )
    bench = bench.withColumn("hit", F.lit(1))
    # no size(sh) > 0 filter: explode of an empty array emits no rows
    # already, and referencing sh in a filter would inline the whole
    # shingle expression a second time (computed twice per row)
    with_sh = shingled(spread_small_scan(raw))
    ev = with_sh.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.explode("sh").alias("p")
    )
    return (
        ev.join(F.broadcast(bench), "p", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.floor(
                F.col("n_hits") / F.col("n_shingles").cast("double") * 100
            ).cast("bigint").alias("overlap_centi"),
        )
    )


@register(
    "q99_stratified_sample",
    tier="T2",
    oracle="""
WITH b AS (
  SELECT doc_id, lang, source,
         ((doc_id % 1000003) * 31 + 7) % 100 AS bucket
  FROM documents)
SELECT doc_id, lang, source, CAST(bucket AS BIGINT) AS bucket
FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 60 ELSE 35 END
""",
)
def q99_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-language keep-rates (en
    80%, de 60%, rest 35%) applied via an arithmetic hash of the
    primary key — the language-rebalancing step of corpus assembly.

    The bucket is pure key arithmetic (``(doc_id % 1000003) * 31 + 7
    mod 100``) — reproducible across engines and runs, unlike
    ``rand()``; the inner modulus keeps the product far from int64
    overflow at any conceivable key range. Map-side filter only: no
    shuffle, no sample() nondeterminism, and the predicate pushes into
    the scan. Re-running on a grown corpus keeps previously-selected
    docs selected (hash sampling is append-stable), which is what makes
    this the production pattern for dataset versioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = ((F.col("doc_id") % 1000003) * 31 + 7) % 100
    rate = (
        F.when(F.col("lang") == "en", 80)
        .when(F.col("lang") == "de", 60)
        .otherwise(35)
    )
    return (
        docs.select(
            "doc_id", "lang", "source", bucket.cast("bigint").alias("bucket"), rate.alias("rate")
        )
        .filter(F.col("bucket") < F.col("rate"))
        .drop("rate")
    )


@register(
    "q100_pii_redact",
    tier="T2",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT)
         AS total_digit_runs,
       CAST(count(DISTINCT regexp_replace(props, '[0-9]', '#', 'g'))
            AS BIGINT) AS n_masked_shapes,
       CAST(sum(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT))
            AS BIGINT) AS sum_first_num
FROM events
GROUP BY event_type
""",
)
def q100_pii_redact(spark, sf_dir):
    """PII-style payload redaction audit over event payloads: per event
    type, how many digit runs appear, how many distinct *masked* shapes
    remain after replacing every digit with ``#`` (the
    cardinality-after-redaction check that verifies scrubbing collapses
    identifiers), and a checksum of the first extracted number.

    All regex work (extract-all, global replace, first-group extract)
    is per-row JVM codegen feeding a 5-key aggregate — the shuffle
    carries five rows. Engine parity note: Spark's ``regexp_replace``
    is global by default; the oracle passes DuckDB's explicit ``'g'``
    flag to match.
    """
    events = load_table(spark, sf_dir, "events")
    masked = F.regexp_replace("props", r"[0-9]", "#")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size(F.regexp_extract_all("props", F.lit(r"([0-9]+)"), 1)))
        .cast("bigint").alias("total_digit_runs"),
        F.countDistinct(masked).alias("n_masked_shapes"),
        F.sum(F.regexp_extract("props", r"([0-9]+)", 1).cast("bigint"))
        .cast("bigint").alias("sum_first_num"),
    )


@register(
    "q101_repeated_passages",
    tier="T2",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, greatest(len(ws) - 3, 1)),
             i -> array_to_string(ws[i:i+4], ' ')))) AS p
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
SELECT p AS passage, CAST(count(*) AS BIGINT) AS n_docs
FROM sh GROUP BY p HAVING count(*) >= 2
ORDER BY n_docs DESC, passage LIMIT 20
""",
)
def q101_repeated_passages(spark, sf_dir):
    """Repeated-passage mining: 5-token shingles that occur in two or
    more distinct documents, top-20 by document count — the signal
    behind template/boilerplate removal and the exact complement of
    q35's document-level near-dup (here the *passage* is the unit).

    Shingles are deduplicated per document in the row (array_distinct)
    before the explode, so ``count(*)`` over the exploded rows IS the
    distinct-document count — no count(distinct) shuffle. One partial-
    aggregated count shuffle; the >= 2 filter drops the long unique
    tail before the (bounded) top-k. Zipf makes hot shingles skew-prone
    at scale: the partial aggregate absorbs them map-side.
    """
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    sh = F.expr(
        "array_distinct(transform(slice(ws, 1, greatest(size(ws) - 4, 0)),"
        " (w, i) -> concat_ws(' ', slice(ws, i + 1, 5))))"
    )
    return (
        docs.select(F.split("text", " ").alias("ws"))
        .select(F.explode(sh).alias("passage"))
        .groupBy("passage")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("passage"))
        .limit(20)
    )


@register(
    "q103_stratum_topk_sample",
    tier="T2",
    oracle="""
WITH h AS (
  SELECT doc_id, lang, source,
         ((doc_id % 1000003) * 37 + 11) % 100000 AS hkey
  FROM documents),
r AS (
  SELECT doc_id, lang, source, CAST(hkey AS BIGINT) AS hkey,
         row_number() OVER (PARTITION BY lang ORDER BY hkey, doc_id) AS rk
  FROM h)
SELECT doc_id, lang, source, hkey, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 20
""",
)
def q103_stratum_topk_sample(spark, sf_dir, quota: int = 20):
    """Fixed-quota stratified sampling: exactly ``quota`` documents per
    language, chosen as the smallest values of a deterministic key hash
    (ties broken by doc_id) — the balanced-mini-corpus complement of
    q99's rate-based sampling. Hash-min selection is append-stable in
    expectation and fully reproducible, where ``ORDER BY rand()`` is
    neither.

    One shuffle (the per-stratum window sort); at 100 TB the per-
    partition TakeOrdered semantics of rank<=k keep state tiny, and a
    skewed stratum can be pre-thinned with a map-side filter on hkey
    (keep hkey < quota * safety / stratum_rows * 100000) before the
    window — the exact top-k survives any such thinning.
    """
    docs = load_table(spark, sf_dir, "documents")
    hkey = ((F.col("doc_id") % 1000003) * 37 + 11) % 100000
    w = Window.partitionBy("lang").orderBy(F.asc("hkey"), F.asc("doc_id"))
    return (
        docs.select(
            "doc_id", "lang", "source", hkey.cast("bigint").alias("hkey")
        )
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= quota)
    )


@register(
    "q104_length_histogram",
    tier="T2",
    oracle="""
SELECT lang,
       CAST(least(n_chars // 50, 9) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang, least(n_chars // 50, 9)
""",
)
def q104_length_histogram(spark, sf_dir):
    """Document-length histogram per language: 50-char buckets capped
    at bucket 9 (the corpus-shape diagnostic run before setting chunk /
    truncation limits). All-integer bucket math — ``least(n_chars div
    50, 9)`` — so the oracle comparison is exact by construction, and
    the whole query is one partially-aggregated shuffle over at most
    langs x 10 keys.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 50), F.lit(9))
    return docs.groupBy(
        "lang", bucket.cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


@register(
    "q105_funnel_conversion",
    tier="T2",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(ts AS DATE) AS day
  FROM events WHERE event_type IN ('click', 'purchase')),
clicks AS (SELECT user_id, sec, day FROM ev WHERE event_type = 'click')
SELECT day,
       CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(sum(CASE WHEN EXISTS (
              SELECT 1 FROM ev p
              WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                AND p.sec BETWEEN c.sec + 1 AND c.sec + 3600)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       CAST(floor(sum(CASE WHEN EXISTS (
              SELECT 1 FROM ev p
              WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                AND p.sec BETWEEN c.sec + 1 AND c.sec + 3600)
            THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) * 100) AS BIGINT)
         AS conv_centi
FROM clicks c GROUP BY day
""",
)
def q105_funnel_conversion(spark, sf_dir):
    """Click -> purchase funnel: per click-day, how many clicks see a
    purchase by the same user within the following hour — the batch
    twin of an inner ``streaming.joins.stream_stream_join`` (same keys,
    same range bound).

    Join-free plan: clicks and purchases stay in ONE per-user stream;
    a range-framed window (``rangeBetween(1, 3600)`` over epoch
    seconds) asks "is there a purchase in the next hour" without
    materializing click x purchase pairs. One shuffle on user_id plus
    the final per-day aggregate, versus the oracle's correlated EXISTS
    (a quadratic nested loop the optimizer must decorrelate). The
    conversion rate is floor-centi integer math — exact across engines.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_type",
            F.unix_timestamp("ts").alias("sec"),
            F.to_date("ts").alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(1, 3600)
    )
    purchase_near = F.max(
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
    ).over(w)
    return (
        ev.withColumn("conv", F.coalesce(purchase_near, F.lit(0)))
        .filter(F.col("event_type") == "click")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum("conv").cast("bigint").alias("n_converted"),
        )
        .select(
            "day",
            "n_clicks",
            "n_converted",
            F.floor(
                F.col("n_converted") / F.col("n_clicks").cast("double") * 100
            ).cast("bigint").alias("conv_centi"),
        )
    )


@register(
    "q106_variant_json",
    tier="T2",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
)
def q106_variant_json(spark, sf_dir):
    """Semi-structured payload aggregation through the VARIANT type
    (Spark 4): ``parse_json`` decodes each payload ONCE into the binary
    variant encoding, then ``variant_get`` extracts typed paths without
    re-parsing — the scale answer to q22's per-access
    ``get_json_object`` string parsing. On a 100 TB event log the
    parse-once/extract-many difference is the dominant CPU term; with a
    variant-typed parquet column the parse disappears from the query
    entirely (shredded storage). Integer-exact aggregates per event
    type; the oracle reads the same paths with DuckDB's JSON operators.
    """
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


@register(
    "q108_mixture_allocation",
    tier="T2",
    oracle="""
WITH g AS (
  SELECT lang, source, count(*) AS n_docs,
         CAST(floor(sqrt(count(*))) AS BIGINT) AS alloc_weight
  FROM documents GROUP BY lang, source)
SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs, alloc_weight,
       CAST(floor(alloc_weight
                  / CAST(sum(alloc_weight) OVER () AS DOUBLE) * 1000)
            AS BIGINT) AS share_milli
FROM g
""",
)
def q108_mixture_allocation(spark, sf_dir):
    """Corpus mixture planning: per (lang, source) stratum, a
    square-root allocation weight (the standard temperature-style
    flattening that keeps small sources represented without letting the
    biggest dominate) and each stratum's share of the total mix in
    milli-units.

    The global-window share is computed over the AGGREGATED strata —
    bounded by lang x source cardinality, never by corpus size — so the
    single-partition window is a few-row driver-sized step at any SF.
    FP discipline: sqrt is correctly-rounded IEEE (bit-identical in
    both engines on integer inputs) so floor(sqrt(n)) is exact, and the
    share divides two exact integers before one floor.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.floor(F.sqrt(F.col("n_docs"))).cast("bigint")
    total = F.sum("alloc_weight").over(Window.partitionBy())
    return (
        g.withColumn("alloc_weight", w)
        .select(
            "lang",
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "alloc_weight",
            F.floor(
                F.col("alloc_weight") / total.cast("double") * 1000
            ).cast("bigint").alias("share_milli"),
        )
    )


@register(
    "q116_lm_doc_score",
    tier="T2",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents),
tri AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
         lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
  FROM words),
t AS (SELECT doc_id, w1 || ' ' || w2 AS ctx, w3 AS nxt
      FROM tri WHERE w3 IS NOT NULL),
cnts AS (SELECT ctx, nxt, count(*) AS cnt FROM t GROUP BY ctx, nxt),
ctxs AS (SELECT ctx, sum(cnt) AS ctx_cnt FROM cnts GROUP BY ctx),
scored AS (
  SELECT t.doc_id, avg(cnt * 1.0 / ctx_cnt) AS s
  FROM t JOIN cnts USING (ctx, nxt) JOIN ctxs USING (ctx)
  GROUP BY t.doc_id)
SELECT doc_id, round(s, 6) AS lm_score
FROM scored
ORDER BY round(s, 6) DESC, doc_id
LIMIT 20
""",
)
def q116_lm_doc_score(spark, sf_dir):
    """Quality scoring against a corpus-trained n-gram LM: every doc's
    average trigram probability under the corpus's own MLE trigram
    model (count(ctx,nxt)/count(ctx)), top-20 most-predictable docs —
    the model-based filter a curation pipeline runs next to q31's
    heuristic score (high = repetitive/templated, low = unusual).

    Scale shape: the trigram COUNT table is vocab-bounded (Zipf), built
    with one partial-agg shuffle (q97); the per-doc pass joins doc
    trigrams to it on (ctx, nxt) — at 100 TB that model table is
    broadcast-or-bucket material, and the per-doc average is one
    partial-agg shuffle on doc_id. Score is rounded to 6 dp BEFORE the
    top-k ordering on both engines so FP summation-order noise (~1e-15)
    cannot flip ranks; ties break on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    tri = F.expr(
        "transform(slice(ws, 1, greatest(size(ws) - 2, 0)),"
        " (w, i) -> struct(concat(w, ' ', ws[i + 1]) AS ctx, ws[i + 2] AS nxt))"
    )
    t = (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", F.explode(tri).alias("g"))
        .select("doc_id", F.col("g.ctx").alias("ctx"), F.col("g.nxt").alias("nxt"))
    )
    cnts = t.groupBy("ctx", "nxt").agg(F.count(F.lit(1)).alias("cnt"))
    ctxs = cnts.groupBy("ctx").agg(F.sum("cnt").alias("ctx_cnt"))
    model = cnts.join(ctxs, "ctx")  # vocab-bounded: broadcast at scale
    return (
        t.join(model, ["ctx", "nxt"])
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.col("cnt").cast("double") / F.col("ctx_cnt")), 6
            ).alias("lm_score")
        )
        .orderBy(F.desc("lm_score"), F.asc("doc_id"))
        .limit(20)
    )

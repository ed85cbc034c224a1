"""Tier T2 — round-9 band: the banded threshold curve, the lakehouse
VACUUM census, the SQL-scripting proof, and the continuation band of
curation decision queries.

- q249: q243's Jaccard threshold curve re-based on q35's MinHash-LSH
  candidate generation — the decision curve's own 100 TB path (r8
  verdict item 8).  q243's exact tier is doc_id-capped by declaration;
  this variant folds the same t-grid over the BANDED candidate set
  with exact shingle-Jaccard verification, so the curve scales exactly
  as far as q35 does (and the q222 error census bounds the sketch bias
  of what banding misses below the band threshold).
- q250: VACUUM retention sweep verified end to end over planted crash
  leftovers — completes the lakehouse maintenance trio (q230 MERGE,
  q240 OPTIMIZE, q250 VACUUM; r8 verdict item 9's named option).
- q251: Spark 4 SQL scripting proven a pure frontend (loop unrolled
  into the oracle's nested scalar CTEs).
- q252-q255, q257 (continuation band): filter-attrition waterfall
  (first-fail attribution over q132's gates, exact integer
  thresholds), Hamilton largest-remainder eval apportionment, Cohen's
  kappa over the shared q224 prediction law, the LSH (bands x rows)
  design-selection S-curve table, and alpha=1/2 temperature mixture
  weights via exact integer sqrt.  q256 (the append-mode watermarked
  window census) lives in t2_streamq with the other streaming rows.

Reference note: beyond-reference capability (the reference,
MapReduceFramework.cpp:1-377, is a single-shape map/sort/shuffle/reduce
library); declared per the builder brief's training-data-pipeline
rubric under the standard oracle conventions (FIXTURES.md).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from multi_threaded_mapreduce_framework_spark.functions.texthash import (
    let,
    lsh_band_keys,
    minhash_signature_np,
    word_shingle_hashes_np,
)
from multi_threaded_mapreduce_framework_spark.queries.registry import register
from multi_threaded_mapreduce_framework_spark.queries.t2_dedup import (
    _DUCK_SHINGLES,
    BAND_MIX,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    P,
)
from multi_threaded_mapreduce_framework_spark.queries.t2_r8 import (
    _JT_CAP,
    _JT_GRID,
    _OPT_FILES_PER_PART,
    compact_partition,
    map_partitions,
    partition_census,
    partition_value,
    write_small_file_layout,
)
from multi_threaded_mapreduce_framework_spark.sources import (
    load_table,
    spread_small_scan,
)
from multi_threaded_mapreduce_framework_spark.sources.memo import session_state


# ------------------------------------------------------------------ q249
@register(
    "q249_banded_threshold_curve",
    tier="T2",
    oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}),
shf AS (SELECT * FROM sh WHERE len(hs) > 0),
sig AS (
  SELECT doc_id, hs, list_transform(generate_series(0, {MINHASH_K - 1}),
    i -> list_min(list_transform(hs, h -> ((17+13*i)*h + (91+7*i)) % {P}))) AS sig
  FROM shf),
bands AS (
  SELECT doc_id, t.b AS band,
         list_reduce(sig[t.b*{LSH_ROWS}+1 : t.b*{LSH_ROWS}+{LSH_ROWS}],
                     (a,x) -> (a*{BAND_MIX}+x) % {P}) AS key
  FROM sig CROSS JOIN unnest(generate_series(0, {LSH_BANDS - 1})) AS t(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                            AND a.doc_id < b.doc_id),
pairs0 AS (
  SELECT d1, d2, len(list_intersect(x.hs, y.hs)) AS i,
         len(x.hs) AS n1, len(y.hs) AS n2
  FROM cand JOIN shf x ON x.doc_id = d1 JOIN shf y ON y.doc_id = d2),
pairs AS (
  SELECT CAST(1000 * i // (n1 + n2 - i) AS BIGINT) AS j_milli FROM pairs0),
g AS (SELECT unnest([{", ".join(str(t) for t in _JT_GRID)}]) AS t_milli)
SELECT CAST(t_milli AS BIGINT) AS t_milli,
       CAST(count(*) FILTER (WHERE j_milli >= t_milli) AS BIGINT) AS n_pairs,
       CAST(coalesce(sum(j_milli) FILTER (WHERE j_milli >= t_milli), 0)
            // greatest(count(*) FILTER (WHERE j_milli >= t_milli), 1)
            AS BIGINT) AS mean_j_milli
FROM pairs, g GROUP BY t_milli
""",
)
def q249_banded_threshold_curve(spark, sf_dir):
    """Threshold-sensitivity curve over the BANDED candidate set — the
    100 TB path for the q243 decision curve (r8 verdict item 8): q35's
    MinHash(16) + LSH(4x4) banding generates candidates over the FULL
    corpus (no doc_id cap), exact shingle-Jaccard verifies each
    candidate once, and the {0.3, 0.5, 0.7} grid folds over the
    verified pair relation.  Above the band threshold the curve is
    q35's universe exactly — the t=500 point counts precisely q35's
    output pairs (law-tested); below it the curve reads as "what
    banding surfaces", with q222's sketch-error census bounding what
    it misses.  Jaccard is integer milli (1000*i div union) — exact
    both engines, same measure the candidates were generated under
    (3-word shingles), so curve and generator tune together.

    Plan shape: q35's narrow band join + join-back verify (never all
    pairs), then the 3-row grid fold — a bounded-broadcast BNLJ over
    the tiny verified relation.  Scales exactly as far as q35 does:
    candidates per doc are bounded by band collisions, not corpus
    size."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    # sketch table carries (hs, sig) in one checkpoint: the signature
    # kernel runs once per corpus pass instead of once per band-join
    # side (q35's r11 note — Python UDF subtrees defeat ReuseExchange)
    sh = (
        docs.filter(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", word_shingle_hashes_np("text").alias("hs"))
        .select(
            "doc_id",
            "hs",
            minhash_signature_np(F.col("hs"), MINHASH_K).alias("sig"),
        )
        .localCheckpoint()
    )
    bands = sh.select(
        "doc_id",
        F.explode(lsh_band_keys(F.col("sig"), LSH_BANDS, LSH_ROWS)).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("hs").alias("hs1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("hs").alias("hs2"))
    inter = F.size(F.array_intersect("hs1", "hs2"))
    union = F.size("hs1") + F.size("hs2") - inter
    pairs = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select(
            (F.lit(1000) * inter)
            .cast("bigint")
            .alias("i1000"),
            union.cast("bigint").alias("u"),
        )
        .select(F.expr("CAST(i1000 div u AS BIGINT)").alias("j_milli"))
    )
    grid = spark.createDataFrame([(int(t),) for t in _JT_GRID], "t_milli bigint")
    return (
        pairs.crossJoin(F.broadcast(grid))
        .groupBy("t_milli")
        .agg(
            F.sum(F.when(F.col("j_milli") >= F.col("t_milli"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pairs"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN j_milli >= t_milli THEN j_milli END), 0)"
                " div greatest(sum(CASE WHEN j_milli >= t_milli THEN 1 ELSE 0 END), 1)"
                " AS BIGINT)"
            ).alias("mean_j_milli"),
        )
    )


# ------------------------------------------------------------------ q250
@register(
    "q250_vacuum_retention_census",
    tier="T2",
    oracle=f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST((count(*) + ((count(*) + {_OPT_FILES_PER_PART - 1})
                         // {_OPT_FILES_PER_PART}) - 1)
            // ((count(*) + {_OPT_FILES_PER_PART - 1})
                // {_OPT_FILES_PER_PART}) AS BIGINT) AS files_after,
       CAST(2 AS BIGINT) AS orphans_removed
FROM events GROUP BY event_type
""",
)
def q250_vacuum_retention_census(spark, sf_dir):
    """VACUUM verified end to end — the retention sweep that completes
    the lakehouse maintenance trio (q230 MERGE, q240 OPTIMIZE, q250
    VACUUM; r8 verdict item 9's named option): the builder writes
    q240's over-partitioned events layout, PLANTS two crash leftovers
    per partition (a half-written ``._compact-*`` rewrite and a
    stranded ``._old-*`` superseded copy — the two states the swap
    scheme can orphan), runs the REAL row-targeted compaction, then
    runs ``operators/compact.py::vacuum_swap_dirs`` and returns the
    post-vacuum census: rows READ BACK from the live files, file count
    LISTED from disk, and the orphan count the sweep removed.  The
    oracle is q240's pure row law plus the planted-orphan constant, so
    the hash gate proves the sweep removed EXACTLY the unreferenced
    directories and the live data survived byte-for-byte in row terms
    — a VACUUM that deletes one live row (or misses one orphan)
    breaks the hash.

    Scale shape: q240's concurrent per-partition discipline (bounded
    thread pool over independent shuffle-free jobs); the vacuum walk
    is one parent-dir listing per partition — O(entries), no data
    read.  Retention semantics (leftovers younger than ``min_age_s``
    survive — the in-flight-rewrite guard) are law-tested in
    tests/test_r9_queries.py rather than gated here, since mtime is
    wall-clock."""
    from multi_threaded_mapreduce_framework_spark.operators.compact import (
        vacuum_swap_dirs,
    )

    def build(base):
        def one(d: str) -> tuple:
            part_dir = os.path.join(base, d)
            # plant the two orphan states a crashed swap leaves behind
            for suffix in ("_compact-fakecrash", "_old-fakecrash"):
                orphan = f"{part_dir}.{suffix}"
                os.makedirs(orphan, exist_ok=True)
                with open(os.path.join(orphan, "part-junk.parquet"), "wb") as f:
                    f.write(b"PAR1 half-written rewrite leftovers")
            compact_partition(spark, part_dir)
            removed = vacuum_swap_dirs(part_dir, min_age_s=0.0)
            return (
                partition_value(d),
                *partition_census(spark, part_dir),
                int(removed),
            )

        rows_out = map_partitions(write_small_file_layout(spark, sf_dir, base), one)
        return spark.createDataFrame(
            rows_out,
            "event_type string, n_rows bigint, files_after bigint,"
            " orphans_removed bigint",
        ).localCheckpoint()

    return session_state(spark, sf_dir, "vacuum_census", build)


# ------------------------------------------------------------------ q251
_TRIM_ITERS = 3
_SCRIPT_SQL = f"""
BEGIN
  DECLARE m BIGINT DEFAULT 0;
  DECLARE lo BIGINT DEFAULT 0;
  DECLARE hi BIGINT DEFAULT 9223372036854775807;
  DECLARE i INT DEFAULT 0;
  WHILE i < {_TRIM_ITERS} DO
    SET m = (SELECT CAST(sum(n_chars) div count(*) AS BIGINT)
             FROM documents WHERE n_chars BETWEEN lo AND hi);
    SET lo = m div 2;
    SET hi = m * 2;
    SET i = i + 1;
  END WHILE;
  SELECT lang,
         CAST(sum(CASE WHEN n_chars BETWEEN lo AND hi THEN 1 ELSE 0 END)
              AS BIGINT) AS n_in,
         CAST(sum(CASE WHEN n_chars < lo THEN 1 ELSE 0 END)
              AS BIGINT) AS n_below,
         CAST(sum(CASE WHEN n_chars > hi THEN 1 ELSE 0 END)
              AS BIGINT) AS n_above,
         m AS m_final
  FROM documents GROUP BY lang;
END
"""


@register(
    "q251_sql_scripting_trimmed_census",
    tier="T2",
    oracle="""
WITH m0 AS (SELECT CAST(sum(n_chars) // count(*) AS BIGINT) AS m
            FROM documents),
m1 AS (SELECT CAST(sum(n_chars) // count(*) AS BIGINT) AS m
       FROM documents, m0 WHERE n_chars BETWEEN m0.m // 2 AND 2 * m0.m),
m2 AS (SELECT CAST(sum(n_chars) // count(*) AS BIGINT) AS m
       FROM documents, m1 WHERE n_chars BETWEEN m1.m // 2 AND 2 * m1.m)
SELECT lang,
       CAST(sum(CASE WHEN n_chars BETWEEN m2.m // 2 AND 2 * m2.m
                THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
       CAST(sum(CASE WHEN n_chars < m2.m // 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_below,
       CAST(sum(CASE WHEN n_chars > 2 * m2.m THEN 1 ELSE 0 END)
            AS BIGINT) AS n_above,
       CAST(m2.m AS BIGINT) AS m_final
FROM documents, m2 GROUP BY lang, m2.m
""",
)
def q251_sql_scripting_trimmed_census(spark, sf_dir):
    """Spark 4 SQL SCRIPTING (SPARK-48338, `BEGIN ... END` with
    DECLARE / WHILE / scalar-subquery SET) driving a REAL iterative
    statistic — q241's frontend-equivalence discipline applied to the
    scripting surface (r8 verdict item 9's second named option): an
    iteratively re-trimmed integer mean of doc length (3 rounds of
    "recompute the mean inside [m/2, 2m] of the previous mean" — the
    classic outlier-resistant estimator loop a curation team runs
    before fixing length gates), then a per-language census of docs
    inside/below/above the final window.  The DuckDB oracle UNROLLS
    the loop as nested scalar CTEs, so a hash match proves the
    scripting engine's control flow (variable state across
    iterations, subquery assignment, loop exit) computes exactly the
    declared fixed point — a new frontend, not a new evaluator.

    All-integer law (integer div at every step) — hash-exact with no
    rounding convention needed.  Plan: each loop iteration is ONE
    scan-side aggregate with the window pushed into the scan filter
    (3 tiny jobs), and the final census is one partial-agg pass;
    scripting saves the N driver round-trips a client-side loop would
    make.  Law caveat (docstring-declared): the loop is well-defined
    while every window keeps at least one doc — true whenever any doc
    lies within 2x of the running mean, which every real corpus (and
    the fixture law) satisfies."""
    from multi_threaded_mapreduce_framework_spark.sources import register_views

    spark.conf.set("spark.sql.scripting.enabled", "true")
    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(_SCRIPT_SQL)


# ------------------------------------------------------------------ q252
_WF_GATES = ("keep", "len", "mwl", "stop", "top")


@register(
    "q252_filter_attrition_waterfall",
    tier="T2",
    oracle="""
WITH t AS (SELECT string_split(text, ' ') AS ws, text FROM documents),
m AS (SELECT len(ws) AS n,
             length(replace(text, ' ', '')) AS ln,
             len(list_filter(ws, w -> w IN ('the', 'a'))) AS nstop,
             list_max(list_transform(list_distinct(ws),
                      w -> len(list_filter(ws, x -> x = w)))) AS maxtok
      FROM t),
s AS (SELECT n, CASE WHEN n < 15 OR n > 1000 THEN 1
                     WHEN ln < 3 * n OR ln > 8 * n THEN 2
                     WHEN 20 * nstop > 3 * n THEN 3
                     WHEN 5 * maxtok > n THEN 4
                     ELSE 0 END AS stage
      FROM m)
SELECT CAST(stage AS BIGINT) AS stage,
       CASE stage WHEN 0 THEN 'keep' WHEN 1 THEN 'len' WHEN 2 THEN 'mwl'
                  WHEN 3 THEN 'stop' ELSE 'top' END AS gate,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens
FROM s GROUP BY stage
""",
)
def q252_filter_attrition_waterfall(spark, sf_dir):
    """Filter-attrition WATERFALL over q132's four Gopher gates in
    pipeline order (length, mean word length, stopword fraction,
    top-token share): each document is attributed to the FIRST gate it
    fails, and the census reports docs and tokens lost per stage plus
    the surviving 'keep' row — the removal-attribution dashboard a
    curation team reads before reordering or retuning filters (q132
    reports every doc's independent fail bitmask; ordering the gates
    changes which rule gets the blame, and THIS view is the one that
    shows it).

    Exact-rational gates: every threshold is cross-multiplied into
    integer form (mwl < 3 <=> chars < 3*tokens; stopf > 0.15 <=>
    20*nstop > 3*n; topf > 0.2 <=> 5*maxtok > n), so the census is
    all-integer with zero float boundary exposure — the exact form of
    q132's IEEE-division gates (equal except where division rounding
    crosses a threshold knife-edge).

    Plan: zero joins — one scan with in-row array expressions (the
    top-token share is O(distinct x n) per row, bounded by doc length)
    partial-aggregating to a 5-row stage census; the waterfall costs
    one shuffle of 5-row partials at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        F.size(F.split("text", " ")).alias("n"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("ln"),
        F.expr("size(filter(split(text, ' '), w -> w = 'the' OR w = 'a'))").alias(
            "nstop"
        ),
        F.expr(
            "array_max(transform(array_distinct(split(text, ' ')),"
            " w -> size(filter(split(text, ' '), x -> x = w))))"
        ).alias("maxtok"),
    )
    stage = (
        F.when((F.col("n") < 15) | (F.col("n") > 1000), 1)
        .when(
            (F.col("ln") < 3 * F.col("n")) | (F.col("ln") > 8 * F.col("n")), 2
        )
        .when(20 * F.col("nstop") > 3 * F.col("n"), 3)
        .when(5 * F.col("maxtok") > F.col("n"), 4)
        .otherwise(0)
    )
    gate = F.element_at(
        F.array(*[F.lit(g) for g in _WF_GATES]), stage.cast("int") + 1
    )
    return (
        m.select(stage.cast("bigint").alias("stage"), gate.alias("gate"), "n")
        .groupBy("stage", "gate")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
        )
    )


# ------------------------------------------------------------------ q253
_APPORTION_SEATS = 1000


@register(
    "q253_eval_apportionment",
    tier="T2",
    oracle=f"""
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM c),
f AS (SELECT lang, n_docs,
             ({_APPORTION_SEATS} * n_docs) // t.total AS fl,
             ({_APPORTION_SEATS} * n_docs) % t.total AS rem
      FROM c, t),
l AS (SELECT CAST({_APPORTION_SEATS} - sum(fl) AS BIGINT) AS leftover FROM f),
r AS (SELECT lang, n_docs, fl,
             row_number() OVER (ORDER BY rem DESC, lang) AS rk
      FROM f)
SELECT lang, n_docs, CAST(fl AS BIGINT) AS floor_seats,
       CAST(CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
         AS extra_seat,
       CAST(fl + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
         AS seats
FROM r, l
""",
)
def q253_eval_apportionment(spark, sf_dir):
    """Hamilton largest-remainder apportionment of a fixed eval-set
    budget (1000 slots) across language strata proportional to doc
    counts — the exact-integer answer to "how many eval examples does
    each language get" that proportional rounding cannot give (naive
    rounding over- or under-spends the budget; the largest-remainder
    method provably allocates EXACTLY the budget while staying within
    1 of every stratum's exact quota).  The stratified-eval sibling of
    q99's rate-based sampling: q99 keeps a fraction, this allocates a
    fixed total.

    All-integer law: floor quota = (S*c_i) div T, remainders ranked
    (ties to the alphabetically first language), leftover seats to the
    largest remainders.  Plan: one partial-agg shuffle to the |langs|
    census; everything after is arithmetic over the domain-bounded
    relation — a 1-row total broadcast, a 1-row leftover broadcast,
    and a rank window over |langs| rows (q234's bounded-domain window
    class).  Sum-of-seats == budget is pinned by law test."""
    S = _APPORTION_SEATS
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    t = c.agg(F.sum("n_docs").cast("bigint").alias("total"))
    f = c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        F.expr(f"({S} * n_docs) div total").alias("fl"),
        F.expr(f"({S} * n_docs) % total").alias("rem"),
    )
    leftover = f.agg((F.lit(S) - F.sum("fl")).cast("bigint").alias("leftover"))
    w = Window.orderBy(F.desc("rem"), F.asc("lang"))
    r = f.select("lang", "n_docs", "fl", F.row_number().over(w).alias("rk"))
    return r.crossJoin(F.broadcast(leftover)).select(
        "lang",
        "n_docs",
        F.col("fl").cast("bigint").alias("floor_seats"),
        F.when(F.col("rk") <= F.col("leftover"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("extra_seat"),
        (F.col("fl") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint")
        .alias("seats"),
    )


# ------------------------------------------------------------------ q254
# Oracle arithmetic over a `conf(lang, predicted, cnt)` confusion
# relation, shared between the registered oracle (conf = the q224
# prediction census) and the law test (conf = synthetic counts with
# n >> 3e6, proving the staged-division envelope).  All divisions are
# EXACT integer ops: DuckDB `//` and Spark `div` both truncate toward
# zero (verified both engines), `%` follows the dividend on both, and
# the one term that can exceed int64 (micro * a value bounded by n^2)
# is staged through HUGEINT here / DECIMAL(38,0) on the Spark side.
_KAPPA_TAIL_SQL = """
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(CASE WHEN lang = predicted THEN cnt ELSE 0 END)
                    AS BIGINT) AS agree
        FROM conf),
rm AS (SELECT lang AS lbl, CAST(sum(cnt) AS BIGINT) AS r
       FROM conf GROUP BY lang),
cm AS (SELECT predicted AS lbl, CAST(sum(cnt) AS BIGINT) AS c
       FROM conf GROUP BY predicted),
s AS (SELECT CAST(coalesce(sum(rm.r * cm.c), 0) AS BIGINT) AS s
      FROM rm JOIN cm USING (lbl)),
nd AS (SELECT tot.n AS n, tot.agree AS agree, s.s AS s,
              tot.n * tot.agree - s.s AS kn,
              greatest(tot.n * tot.n - s.s, CAST(1 AS BIGINT)) AS kd
       FROM tot, s),
kf AS (SELECT n, agree, s, kn, kd,
              kn // kd + (CASE WHEN kn % kd <> 0 AND kn < 0
                          THEN -1 ELSE 0 END) AS ka
       FROM nd),
kb AS (SELECT n, agree, s, kn, kd, ka,
              CAST(kn AS HUGEINT) - CAST(ka AS HUGEINT) * kd AS kr
       FROM kf)
SELECT n AS n_docs, agree AS n_agree,
       CAST((1000000 * agree) // n AS BIGINT) AS po_micro,
       CAST((1000000 * CAST(s AS HUGEINT))
            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_micro,
       CAST(1000000 * CAST(ka AS HUGEINT)
            + (1000000 * kr) // CAST(kd AS HUGEINT) AS BIGINT)
         AS kappa_micro
FROM kb
"""


def _kappa_oracle() -> str:
    from multi_threaded_mapreduce_framework_spark.queries.t2_loader import (
        CT_PRED_CTES,
    )

    return f"""
WITH {CT_PRED_CTES},
conf AS (SELECT lang, predicted, CAST(count(*) AS BIGINT) AS cnt
         FROM p1 GROUP BY lang, predicted),
{_KAPPA_TAIL_SQL}
"""


def kappa_from_conf(conf):
    """Exact-integer Cohen's-kappa census over a ``(lang, predicted,
    cnt)`` confusion DataFrame — the Spark half of q254's staged-
    division law (see the q254 docstring for the envelope math).
    Factored out so the law test can drive the identical arithmetic
    over synthetic counts with n far beyond the old 2^53 cliff."""
    tot = conf.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.when(F.col("lang") == F.col("predicted"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("agree"),
    )
    rm = conf.groupBy(F.col("lang").alias("lbl")).agg(
        F.sum("cnt").cast("bigint").alias("r")
    )
    cm = conf.groupBy(F.col("predicted").alias("lbl")).agg(
        F.sum("cnt").cast("bigint").alias("c")
    )
    s = (
        rm.join(cm, "lbl")
        .agg(F.coalesce(F.sum(F.col("r") * F.col("c")), F.lit(0)).cast("bigint").alias("s"))
    )
    nd = tot.crossJoin(F.broadcast(s)).selectExpr(
        "n",
        "agree",
        "s",
        "n * agree - s AS kn",
        "greatest(n * n - s, CAST(1 AS BIGINT)) AS kd",
    )
    kf = nd.selectExpr(
        "*",
        "kn div kd + (CASE WHEN kn % kd <> 0 AND kn < 0 THEN -1 ELSE 0 END) AS ka",
    )
    kb = kf.selectExpr(
        "*", "CAST(kn AS DECIMAL(38,0)) - CAST(ka AS DECIMAL(38,0)) * kd AS kr"
    )
    return kb.selectExpr(
        "n AS n_docs",
        "agree AS n_agree",
        "CAST((1000000 * agree) div n AS BIGINT) AS po_micro",
        "CAST((1000000 * CAST(s AS DECIMAL(38,0)))"
        " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) AS pe_micro",
        "CAST(1000000 * CAST(ka AS DECIMAL(38,0))"
        " + (1000000 * kr) div CAST(kd AS DECIMAL(38,0)) AS BIGINT)"
        " AS kappa_micro",
    )


@register("q254_langid_agreement_kappa", tier="T2", oracle=_kappa_oracle())
def q254_langid_agreement_kappa(spark, sf_dir):
    """Cohen's kappa between the declared ``lang`` labels and the
    Cavnar-Trenkle n-gram identifier — the CHANCE-CORRECTED agreement
    score a labeling audit actually reports (q224 shows the raw
    confusion matrix; kappa answers "is this agreement better than
    guessing the marginals", which raw accuracy cannot: a 90%-majority
    corpus gets 82% agreement for free).  Shares q224's prediction
    relation verbatim (``ct_langid_predictions`` / ``CT_PRED_CTES``),
    so the two rows audit the same classifier.

    Exactness (r10 rescale — VERDICT r10 item 4): every reported value
    is EXACT integer arithmetic end to end; the old
    floor-of-IEEE-double kappa and its ~3e6-doc 2^53 cliff are gone.
    Both engines truncate integer division toward zero (Spark ``div``,
    DuckDB ``//`` — verified) and ``%`` follows the dividend on both,
    so floor division for the possibly-negative kappa numerator is the
    explicit two-term form in ``kf``.  The only products that can
    exceed int64 — ``10^6 * s`` and ``10^6 * kr`` with ``s, kr <= n^2``
    — are staged through DECIMAL(38,0) (Spark) / HUGEINT (DuckDB),
    whose integral division both engines compute exactly.  New
    declared envelope: the int64 terms ``n*agree``, ``n*n - s`` bind
    at ``n^2 < 2^63``, i.e. **n <= ~3.0e9 docs per audit slice**
    (1000x the old cliff; Spark runs ANSI so an over-envelope slice
    fails loudly instead of wrapping).  Degenerate corner out of
    domain: a single-label marginal with disagreement (pe = 1) makes
    kappa mathematically undefined; the ``greatest(kd, 1)`` guard
    keeps the expression total but the sentinel value overflows the
    final BIGINT cast beyond n ~ 3e6 there.  Law test
    ``test_q254_kappa_exact_beyond_int53`` drives the same arithmetic
    (``kappa_from_conf`` + ``_KAPPA_TAIL_SQL``) over synthetic
    confusion counts with n ~ 1.2e9 against exact Python integers.

    Plan: q224's plan (one distinct-trigram explode, broadcast
    profiles, doc-bounded argmax windows) feeding label-domain-bounded
    aggregates (<= |langs|+1 rows), then 1-row scalar arithmetic — the
    kappa adds nothing that scales with the corpus."""
    from multi_threaded_mapreduce_framework_spark.queries.t2_loader import (
        ct_langid_predictions,
    )

    conf = (
        ct_langid_predictions(spark, sf_dir)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    return kappa_from_conf(conf)


# ------------------------------------------------------------------ q255
# LSH designs (bands b x rows r) with b*r = 16 minhashes — the tuning
# grid for q35's 4x4 choice.
_LSH_DESIGNS = ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

# Collision probability 1 - (1 - s^r)^b via integer-exponent squaring
# chains, CASE-dispatched on the design row — the SAME fixed IEEE
# expression text on the Spark and DuckDB sides, so every intermediate
# double is bit-identical (the q239/q254 class), and the integer-micro
# quantization is order-free before the sum.  The chain is STAGED over
# named columns (s -> xr -> p_micro) rather than inlined: un-CSE'd
# inlining multiplies the 31-term chains into a ~4000-node tree that
# interprets per row (measured 115 s at sf0.01 before staging; ~1 s
# after) — the q206 Arrow-kernel lesson applied to pure SQL.
def _pow16_case(exp_col: str, var: str) -> str:
    v = var
    return f"""CASE {exp_col}
  WHEN 1 THEN {v}
  WHEN 2 THEN {v} * {v}
  WHEN 4 THEN ({v} * {v}) * ({v} * {v})
  WHEN 8 THEN (({v} * {v}) * ({v} * {v})) * (({v} * {v}) * ({v} * {v}))
  ELSE ((({v} * {v}) * ({v} * {v})) * (({v} * {v}) * ({v} * {v})))
     * ((({v} * {v}) * ({v} * {v})) * (({v} * {v}) * ({v} * {v})))
END"""


def _q255_oracle() -> str:
    designs = ", ".join(f"({b}, {r})" for b, r in _LSH_DESIGNS)
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE doc_id < {_JT_CAP}),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
pairs AS (
  SELECT CAST(1000 * i // (s1.n + s2.n - i) AS BIGINT) AS j_milli
  FROM inter
  JOIN sz s1 ON s1.doc_id = d1
  JOIN sz s2 ON s2.doc_id = d2
  WHERE 1000 * least(s1.n, s2.n) >= {min(_JT_GRID)} * greatest(s1.n, s2.n)),
hist AS (SELECT j_milli, CAST(count(*) AS BIGINT) AS cnt
         FROM pairs GROUP BY j_milli),
d AS (SELECT b, r FROM (VALUES {designs}) AS v(b, r)),
e1 AS (SELECT b, r, j_milli, cnt,
              (CAST(j_milli AS DOUBLE) / 1000.0) AS s
       FROM hist, d),
e2 AS (SELECT b, r, j_milli, cnt,
              (1.0 - ({_pow16_case("r", "s")})) AS q1
       FROM e1),
e3 AS (SELECT b, r, j_milli, cnt,
              CAST(floor(1000000.0 *
                   (1.0 - ({_pow16_case("b", "q1")}))) AS BIGINT) AS p_micro
       FROM e2)
SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
       CAST(sum(cnt) AS BIGINT) AS n_pairs,
       CAST(sum(cnt * p_micro) AS BIGINT) AS exp_cand_micro,
       CAST(coalesce(sum(cnt) FILTER (WHERE j_milli >= 500), 0) AS BIGINT)
         AS n_true,
       CAST(coalesce(sum(cnt * p_micro) FILTER (WHERE j_milli >= 500), 0)
            AS BIGINT) AS exp_true_micro
FROM e3 GROUP BY b, r
"""


@register("q255_lsh_design_curve", tier="T2", oracle=_q255_oracle())
def q255_lsh_design_curve(spark, sf_dir):
    """LSH DESIGN-SELECTION table: for every (bands b, rows-per-band r)
    split of a 16-minhash budget, the expected candidate volume and the
    expected true-pair yield implied by the S-curve collision law
    P(candidate) = 1 - (1 - s^r)^b, evaluated against the corpus's OWN
    measured pair-similarity distribution (q243's capped exact pair
    relation) — the evidence for WHY q35 banded 4x4: more bands per
    budget moves the curve left (recall up, candidates up), more rows
    sharpens it.  q243 tunes the Jaccard THRESHOLD; this tunes the
    SKETCH GEOMETRY against the same pairs; q222 bounds how far the
    finite sketch deviates from this idealized law.

    Exactness: s^r and (1-s^r)^b are integer-exponent squaring chains
    CASE-dispatched on the design row — the same fixed IEEE expression
    text in both engines (the q239/q254 class), quantized to integer
    micro PER SIMILARITY VALUE before the weighted sum, so the
    aggregate is an order-free integer.

    Plan: the pair relation builds once (q243's size-band-pruned
    inverted-index join over the declared exact-tier cap — q35/q249
    are the scale path for the pairs themselves), folds to the
    j_milli HISTOGRAM (<= 701 rows: p depends only on the quantized
    similarity, so the S-curve evaluates once per distinct value, not
    once per pair), and the histogram crosses the broadcast 5-row
    design grid with the chain STAGED over checkpointed columns —
    un-CSE'd inlining of the 31-term chains was a measured 115 s of
    per-row interpretation at sf0.01; staging makes it ~1 s."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _JT_CAP)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
        .select("doc_id", F.size("toks").alias("n"), F.explode("toks").alias("w"))
    )
    a, b = docs.alias("a"), docs.alias("b")
    tmin = min(_JT_GRID)
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least("a.n", "b.n") * 1000
                >= F.greatest("a.n", "b.n") * F.lit(tmin)
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    hist = (
        inter.select(
            F.expr("CAST(1000 * i div (n1 + n2 - i) AS BIGINT)").alias("j_milli")
        )
        .groupBy("j_milli")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    d = spark.createDataFrame(list(_LSH_DESIGNS), "b int, r int")

    # The staging problem (see module comment): CollapseProject would
    # re-inline q1's 31-term chain into each of the b-chain's 31 terms
    # (no CSE).  Round 10 blocked that with two localCheckpoints — two
    # eager jobs re-running the pair join at builder time.  Round 11
    # (guide §1.2): bind q1 with functions.texthash.let instead — the
    # lambda variable evaluates ONCE per row by construction, the plan
    # stays fully lazy, and the arithmetic tree per branch is the
    # identical fixed IEEE shape (the squaring-chain text both engines
    # share), so values are unchanged.
    def _pow16_col(exp_col: "F.Column", v: "F.Column") -> "F.Column":
        v2, v4 = v * v, (v * v) * (v * v)
        v8 = ((v * v) * (v * v)) * ((v * v) * (v * v))
        v16 = v8 * (((v * v) * (v * v)) * ((v * v) * (v * v)))
        return (
            F.when(exp_col == 1, v)
            .when(exp_col == 2, v2)
            .when(exp_col == 4, v4)
            .when(exp_col == 8, v8)
            .otherwise(v16)
        )

    s = F.expr("(CAST(j_milli AS DOUBLE) / 1000.0)")
    q1 = F.lit(1.0) - _pow16_col(F.col("r"), s)
    p_micro = let(
        q1,
        lambda q: F.floor(
            F.lit(1000000.0) * (F.lit(1.0) - _pow16_col(F.col("b"), q))
        ).cast("bigint"),
    )
    e3 = hist.crossJoin(F.broadcast(d)).select(
        "b", "r", "j_milli", "cnt", p_micro.alias("p_micro")
    )
    return e3.groupBy("b", "r").agg(
        F.sum("cnt").cast("bigint").alias("n_pairs"),
        F.sum(F.col("cnt") * F.col("p_micro")).cast("bigint").alias(
            "exp_cand_micro"
        ),
        F.coalesce(F.sum(F.when(F.col("j_milli") >= 500, F.col("cnt"))), F.lit(0))
        .cast("bigint")
        .alias("n_true"),
        F.coalesce(
            F.sum(
                F.when(F.col("j_milli") >= 500, F.col("cnt") * F.col("p_micro"))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("exp_true_micro"),
    ).select(
        F.col("b").cast("bigint").alias("bands"),
        F.col("r").cast("bigint").alias("rows_per_band"),
        "n_pairs",
        "exp_cand_micro",
        "n_true",
        "exp_true_micro",
    )


# ------------------------------------------------------------------ q257
_TEMP_ISQRT = """
(s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= toks THEN 1
            WHEN s0 * s0 > toks THEN -1 ELSE 0 END))
"""


@register(
    "q257_temperature_mixture",
    tier="T2",
    oracle=f"""
WITH c AS (SELECT lang,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
           FROM documents GROUP BY lang),
w0 AS (SELECT lang, toks,
              CAST(floor(sqrt(CAST(toks AS DOUBLE))) AS BIGINT) AS s0
       FROM c),
w AS (SELECT lang, toks, {_TEMP_ISQRT} AS w FROM w0),
t AS (SELECT CAST(sum(toks) AS BIGINT) AS tt, CAST(sum(w) AS BIGINT) AS sw
      FROM w)
SELECT lang, toks AS n_tokens, CAST(w AS BIGINT) AS w_isqrt,
       CAST((1000000 * w) // t.sw AS BIGINT) AS share_micro,
       CAST((1000 * w * t.tt) // (toks * t.sw) AS BIGINT) AS boost_milli
FROM w, t
""",
)
def q257_temperature_mixture(spark, sf_dir):
    """Temperature-based language sampling weights at alpha = 0.5 (the
    mT5/XLM-R multilingual rebalancing law p_i ∝ n_i^alpha): per
    language, the sampled share and the boost factor over proportional
    sampling — the mixture row a multilingual training plan consumes
    (q207/q234 consume mixture weights; THIS is where the standard
    alpha=1/2 weights come from).  alpha = 1/2 makes the power an
    INTEGER SQUARE ROOT, so the whole law is exact integer arithmetic:
    w_i = isqrt(tokens_i) computed as floor(sqrt(double)) plus a
    one-step integer correction (exact for tokens < 2^52 since IEEE
    sqrt errs by < 1 there; verified by the w^2 <= n < (w+1)^2 law
    test), then integer-div shares — no libm value ever reaches the
    gate, only a correctly-rounded sqrt whose residual error the
    correction step cancels.

    Plan: one partial-agg shuffle to the |langs| token census;
    everything after is arithmetic over the domain-bounded relation
    with a 1-row totals broadcast (q62's scalar class).  The boost
    column reads directly as "epochs over each language at this
    temperature" — the decision number."""
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).cast("bigint").alias("toks"))
    )
    w = c.select(
        "lang",
        "toks",
        F.expr("CAST(floor(sqrt(CAST(toks AS DOUBLE))) AS BIGINT)").alias("s0"),
    ).select("lang", "toks", F.expr(f"{_TEMP_ISQRT}").alias("w"))
    t = w.agg(
        F.sum("toks").cast("bigint").alias("tt"),
        F.sum("w").cast("bigint").alias("sw"),
    )
    return w.crossJoin(F.broadcast(t)).select(
        "lang",
        F.col("toks").alias("n_tokens"),
        F.col("w").cast("bigint").alias("w_isqrt"),
        F.expr("CAST((1000000 * w) div sw AS BIGINT)").alias("share_micro"),
        F.expr("CAST((1000 * w * tt) div (toks * sw) AS BIGINT)").alias(
            "boost_milli"
        ),
    )


# ------------------------------------------------------------------ q259
@register(
    "q259_source_datasheet",
    tier="T2",
    oracle="""
WITH n AS (SELECT source, lang, lower(trim(text)) AS norm,
                  len(string_split(text, ' ')) AS ntok
           FROM documents),
g AS (SELECT norm, count(*) AS c FROM n GROUP BY norm)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT norm) AS BIGINT) AS uniq_texts,
       CAST(sum(CASE WHEN g.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
FROM n JOIN g USING (norm) GROUP BY source
""",
)
def q259_source_datasheet(spark, sf_dir):
    """PER-SOURCE datasheet: one row per ingest source with doc count,
    token count, language spread, distinct normalized texts, and the
    number of docs participating in CORPUS-WIDE exact-duplicate groups
    — the per-source sibling of q228's one-row dataset card, and the
    table a curation review actually reads when deciding which source
    to dedup, downweight (q257's mixture), or drop (q252's waterfall).
    The dup column is deliberately corpus-global: a source whose docs
    duplicate ANOTHER source's is the interesting finding, and a
    per-source-only dedup census would hide it.

    Plan: the normalized-text census is q25's exact-dedup shuffle
    (map-side partials collapse duplicates before the exchange); the
    join back to docs is a hash join on the same key (co-partitioned
    with the census build), and the final fold is one partial-agg to
    the |sources| domain with distinct-expand bounded by |sources| x
    (|langs| + distinct texts per source) — the standard two-pass
    shape, no all-pairs anything."""
    n = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.lower(F.trim(F.col("text"))).alias("norm"),
        F.size(F.split("text", " ")).alias("ntok"),
    )
    g = n.groupBy("norm").agg(F.count(F.lit(1)).alias("c"))
    return (
        n.join(g, "norm")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.countDistinct("norm").cast("bigint").alias("uniq_texts"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_docs"),
        )
    )


# ------------------------------------------------------------------ q260
_TCLOSE_GRID = (100, 200, 300)  # t thresholds, milli


@register(
    "q260_t_closeness_census",
    tier="T2",
    oracle=f"""
WITH lc AS (SELECT source, n_chars // 100 AS b, lang,
                   CAST(count(*) AS BIGINT) AS c
            FROM documents GROUP BY 1, 2, 3),
gl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cg FROM lc GROUP BY lang),
nt AS (SELECT CAST(sum(cg) AS BIGINT) AS n FROM gl),
gsz AS (SELECT source, b, CAST(sum(c) AS BIGINT) AS ng
        FROM lc GROUP BY source, b),
terms AS (
  SELECT lc.source, lc.b, gsz.ng,
         abs(lc.c * nt.n - gl.cg * gsz.ng) AS term, gl.cg
  FROM lc JOIN gl USING (lang) JOIN gsz USING (source, b), nt),
tv AS (
  SELECT source, b, max(ng) AS ng,
         CAST(1000 * (sum(term) + max(ng) * ((SELECT n FROM nt) - sum(cg)))
              // (2 * max(ng) * (SELECT n FROM nt)) AS BIGINT) AS tvd_milli
  FROM terms GROUP BY source, b),
tt AS (SELECT CAST(sum(ng) AS BIGINT) AS total,
              CAST(count(*) AS BIGINT) AS n_groups,
              CAST(max(tvd_milli) AS BIGINT) AS max_tvd_milli FROM tv),
g AS (SELECT unnest([{", ".join(str(t) for t in _TCLOSE_GRID)}]) AS t_milli)
SELECT CAST(t_milli AS BIGINT) AS t_milli,
       CAST(count(*) FILTER (WHERE tvd_milli > t_milli) AS BIGINT)
         AS groups_above_t,
       CAST(coalesce(sum(ng) FILTER (WHERE tvd_milli > t_milli), 0) AS BIGINT)
         AS rows_above_t,
       CAST(1000 * coalesce(sum(ng) FILTER (WHERE tvd_milli > t_milli), 0)
            // max(total) AS BIGINT) AS at_risk_milli,
       max(n_groups) AS n_groups,
       max(max_tvd_milli) AS max_tvd_milli
FROM tv, tt, g GROUP BY t_milli
""",
)
def q260_t_closeness_census(spark, sf_dir):
    """t-closeness census (Li et al. 2007) — the third leg of the
    release-privacy trio (q238 k-anonymity, q245 l-diversity, q260
    t-closeness): a group can be k-anonymous AND l-diverse yet still
    leak if its sensitive-attribute DISTRIBUTION diverges from the
    corpus's (the skewness attack: 95% of one lang in a group is a
    strong inference even with l=3 distinct values present).  Per
    quasi-id group (source, 100-char length bucket), the distance of
    its lang distribution from the global one; per closeness bound t
    in {0.1, 0.2, 0.3}: violating groups, rows in them, at-risk share,
    plus the corpus's max distance (the t the release can honestly
    claim).  lang is categorical, so the ground metric is uniform and
    EMD reduces to TOTAL VARIATION distance — which is exact-rational:
    tvd = sum_i |c_i*N - C_i*n_g| / (2*n_g*N), integerized to milli
    with absent-lang mass folded in closed form
    (n_g*(N - sum_present C_i)).

    Plan: one partial-agg to the (quasi-id x lang) census (bounded by
    domain, not corpus), a broadcast join to the |langs|-row global
    marginal + a hash join to the group sizes, one more domain-bounded
    fold, then the 3-row t-grid BNLJ — all-integer end to end
    (products stay under 2^63 to ~10^8 docs, docstring-declared)."""
    docs = load_table(spark, sf_dir, "documents")
    lc = docs.groupBy(
        "source", F.expr("n_chars div 100").alias("b"), "lang"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    lc = lc.localCheckpoint()
    gl = lc.groupBy("lang").agg(F.sum("c").cast("bigint").alias("cg"))
    nt = gl.agg(F.sum("cg").cast("bigint").alias("n"))
    gsz = lc.groupBy("source", "b").agg(
        F.sum("c").cast("bigint").alias("ng")
    )
    terms = (
        lc.join(F.broadcast(gl), "lang")
        .join(gsz, ["source", "b"])
        .crossJoin(F.broadcast(nt))
        .select(
            "source",
            "b",
            "ng",
            "cg",
            "n",
            F.abs(F.col("c") * F.col("n") - F.col("cg") * F.col("ng")).alias(
                "term"
            ),
        )
    )
    tv = terms.groupBy("source", "b").agg(
        F.max("ng").alias("ng"),
        F.expr(
            "CAST(1000 * (sum(term) + max(ng) * (max(n) - sum(cg)))"
            " div (2 * max(ng) * max(n)) AS BIGINT)"
        ).alias("tvd_milli"),
    )
    tt = tv.agg(
        F.sum("ng").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.max("tvd_milli").cast("bigint").alias("max_tvd_milli"),
    )
    grid = spark.createDataFrame(
        [(int(t),) for t in _TCLOSE_GRID], "t_milli bigint"
    )
    return (
        tv.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(grid))
        .groupBy("t_milli")
        .agg(
            F.sum(F.when(F.col("tvd_milli") > F.col("t_milli"), 1).otherwise(0))
            .cast("bigint")
            .alias("groups_above_t"),
            F.sum(
                F.when(F.col("tvd_milli") > F.col("t_milli"), F.col("ng")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("rows_above_t"),
            F.expr(
                "CAST(1000 * sum(CASE WHEN tvd_milli > t_milli THEN ng ELSE 0 END)"
                " div max(total) AS BIGINT)"
            ).alias("at_risk_milli"),
            F.max("n_groups").alias("n_groups"),
            F.max("max_tvd_milli").alias("max_tvd_milli"),
        )
    )


# ------------------------------------------------------------------ q261
_VOCAB_GRID = (1000, 2000, 4000)


@register(
    "q261_vocab_coverage_curve",
    tier="T2",
    oracle=f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
vc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
r AS (SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, w) AS rk,
             sum(cnt) OVER (ORDER BY cnt DESC, w
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM vc),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_distinct FROM vc),
g AS (SELECT unnest([{", ".join(str(v) for v in _VOCAB_GRID)}]) AS v)
SELECT CAST(v AS BIGINT) AS v,
       CAST(coalesce(max(cum) FILTER (WHERE rk <= v), 0) AS BIGINT)
         AS covered_tokens,
       max(total) AS total_tokens,
       CAST(1000 * (max(total) - coalesce(max(cum) FILTER (WHERE rk <= v), 0))
            // max(total) AS BIGINT) AS oov_milli,
       max(n_distinct) AS n_distinct
FROM r, t, g GROUP BY v
""",
)
def q261_vocab_coverage_curve(spark, sf_dir):
    """Vocabulary COVERAGE curve: for top-V word vocabularies with V in
    {1000, 2000, 4000}, the token occurrences covered and the OOV rate
    — the direct decision number behind choosing a tokenizer vocab
    size (q218's Zipf/hapax census gives the tail LAW; q223's Heaps
    fit gives vocab GROWTH; this gives the operating point: what OOV
    rate each budget buys).  Covered mass is the cumulative frequency
    at rank V under the deterministic (count desc, token asc) total
    order — all-integer, hash-exact.

    Plan: one token-census shuffle (vocab-bounded output — the q62/
    q138 class), then rank + running-sum windows over the VOCABULARY
    relation (bounded by distinct tokens, not corpus size — q111's
    allowlisted bounded-global-window class; at web scale the vocab
    census still fits one node by Heaps' law, and the q187-histogram
    route is the documented fallback), and the 3-row V-grid BNLJ."""
    docs = load_table(spark, sf_dir, "documents")
    vc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("w"))
    r = vc.select(
        "cnt",
        F.row_number().over(w).alias("rk"),
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
    )
    t = vc.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    grid = spark.createDataFrame([(int(v),) for v in _VOCAB_GRID], "v bigint")
    return (
        r.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(grid))
        .groupBy("v")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("rk") <= F.col("v"), F.col("cum"))), F.lit(0)
            )
            .cast("bigint")
            .alias("covered_tokens"),
            F.max("total").alias("total_tokens"),
            F.expr(
                "CAST(1000 * (max(total) - coalesce(max(CASE WHEN rk <= v"
                " THEN cum END), 0)) div max(total) AS BIGINT)"
            ).alias("oov_milli"),
            F.max("n_distinct").alias("n_distinct"),
        )
    )

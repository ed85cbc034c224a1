"""Tier T2 — round-8 band: privacy audits, embedding truncation
fidelity, lakehouse OPTIMIZE verification, the Spark-4 SQL pipe
frontend, and two decision-curve censuses.

- q238: k-anonymity census over quasi-identifiers — the re-identification
  audit a corpus release runs before publishing (Sweeney 2002): how many
  quasi-identifier groups (and what share of rows) fall below each
  anonymity threshold k.
- q239: Matryoshka truncation-fidelity census (Kusupati et al. 2022,
  "Matryoshka Representation Learning"): top-10 retrieval overlap
  between full 64-dim cosine ranking and the 16-dim-prefix ranking, per
  pinned probe — the measured answer to "can we serve 4x-cheaper
  truncated embeddings", q210's measure-don't-guess discipline applied
  to dimension reduction.
- q240: OPTIMIZE (small-file compaction) verified end to end: a real
  small-file layout is written, a real reader-atomic rewrite runs
  (operators/compact.py), and the census reports the POST-compaction
  on-disk state — hash-gated against the pure row-law plan, so the
  oracle proves the rewrite produced exactly the planned file count and
  lost zero rows.
- q241: a multi-stage census written in Spark 4's SQL PIPE syntax
  (SPARK-49555), hash-proven a pure frontend rewrite of the nested-CTE
  formulation.
- q243: near-dup threshold sensitivity curve — qualifying-pair census
  at a Jaccard-threshold grid from one inverted-index pass.
- q245: l-diversity census (Machanavajjhala et al. 2007), k-anonymity's
  standard companion over a sensitive attribute.
- q246: packing-efficiency curve — q204's closed-form packing law over
  a context-length grid (the loader's L decision evidence).

(The streaming members of the band — q237 MapState, q242 initialState
bootstrap, q244 stream dedup — live in t2_streamq.py.)

Reference note: beyond-reference capabilities (the reference,
MapReduceFramework.cpp:1-377, is a single-shape map/sort/shuffle/reduce
library); declared per the builder brief's training-data-pipeline
rubric under the standard oracle conventions (FIXTURES.md).
"""

from __future__ import annotations

import math
import os
import urllib.parse
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from multi_threaded_mapreduce_framework_spark.operators.compact import (
    _parquet_files,
    compact_parquet_dir_rows,
)
from multi_threaded_mapreduce_framework_spark.queries.registry import register
from multi_threaded_mapreduce_framework_spark.sources import (
    load_table,
    spread_small_scan,
)
from multi_threaded_mapreduce_framework_spark.sources.memo import session_state

# ------------------------------------------------------------------ q238
_KANON_GRID = (2, 5, 10)


@register(
    "q238_k_anonymity_census",
    tier="T2",
    oracle=f"""
WITH g AS (
  SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
         CAST(count(*) AS BIGINT) AS grp
  FROM documents GROUP BY 1, 2, 3),
t AS (SELECT CAST(sum(grp) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_groups FROM g),
k AS (SELECT unnest([{", ".join(str(k) for k in _KANON_GRID)}]) AS k)
SELECT CAST(k AS BIGINT) AS k,
       CAST(count(*) FILTER (WHERE grp < k) AS BIGINT) AS groups_below_k,
       CAST(coalesce(sum(grp) FILTER (WHERE grp < k), 0) AS BIGINT)
         AS rows_below_k,
       CAST(1000 * coalesce(sum(grp) FILTER (WHERE grp < k), 0)
            // max(total) AS BIGINT) AS at_risk_milli,
       max(n_groups) AS n_groups
FROM g, t, k GROUP BY k
""",
)
def q238_k_anonymity_census(spark, sf_dir):
    """k-anonymity census (Sweeney 2002) over the release's
    quasi-identifier tuple (lang, source, 100-char length bucket): for
    each anonymity threshold k in {2, 5, 10}, how many quasi-identifier
    groups have fewer than k members, how many rows sit in them, and
    the at-risk share — the re-identification audit a corpus release
    (or its metadata card, q228) runs before publishing.  A row in a
    group of size 1 is uniquely re-identifiable from its
    quasi-identifiers alone; k-anonymity is the standard floor the
    release must state.

    Plan: the corpus collapses to the quasi-identifier census in ONE
    partial-agg shuffle (group count is bounded by the quasi-id domain,
    not the corpus); the k-grid (3 rows) and the 1-row total broadcast
    into the bounded group table; all-integer output — hash-exact at
    any scale."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(
        "lang",
        "source",
        F.expr("CAST(n_chars div 100 AS BIGINT)").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("grp"))
    t = g.agg(
        F.sum("grp").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    k = spark.createDataFrame([(int(x),) for x in _KANON_GRID], "k bigint")
    return (
        g.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(k))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("grp") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("groups_below_k"),
            F.sum(F.when(F.col("grp") < F.col("k"), F.col("grp")).otherwise(0))
            .cast("bigint")
            .alias("rows_below_k"),
            F.expr(
                "CAST(1000 * sum(CASE WHEN grp < k THEN grp ELSE 0 END)"
                " div max(total) AS BIGINT)"
            ).alias("at_risk_milli"),
            F.max("n_groups").alias("n_groups"),
        )
    )


# ------------------------------------------------------------------ q239
_MRL_PROBES = 5
_MRL_DIM = 16
_MRL_TOPK = 10


def _duck_dot(a: str, b: str, n: int) -> str:
    """Dot product as the SAME left-to-right fold Spark's ``aggregate``
    runs (list_reduce seeds with the first element, Spark with 0.0;
    IEEE 0 + x == x, so the folds are bit-identical)."""
    return (
        f"list_reduce(list_transform(range(1, {n + 1}),"
        f" i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def _mrl_oracle() -> str:
    d, k, p, top = _MRL_DIM, _MRL_TOPK, _MRL_PROBES, _MRL_TOPK
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT vec_id AS pid, v AS pv FROM e ORDER BY vec_id LIMIT {p}),
c AS (SELECT pid, vec_id,
        {_duck_dot("v", "pv", 64)}
          / (sqrt({_duck_dot("v", "v", 64)})
             * sqrt({_duck_dot("pv", "pv", 64)})) AS cf,
        {_duck_dot("v", "pv", d)}
          / (sqrt({_duck_dot("v", "v", d)})
             * sqrt({_duck_dot("pv", "pv", d)})) AS ct
      FROM e, p WHERE vec_id <> pid),
rf AS (SELECT pid, vec_id,
              row_number() OVER (PARTITION BY pid ORDER BY cf DESC, vec_id)
                AS r FROM c),
rt AS (SELECT pid, vec_id,
              row_number() OVER (PARTITION BY pid ORDER BY ct DESC, vec_id)
                AS r FROM c),
j AS (SELECT rf.pid, CAST(count(*) AS BIGINT) AS n_common
      FROM rf JOIN rt ON rf.pid = rt.pid AND rf.vec_id = rt.vec_id
      WHERE rf.r <= {top} AND rt.r <= {top} GROUP BY rf.pid)
SELECT p.pid AS probe_id,
       CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       CAST(1000 * coalesce(n_common, 0)
            // ({2 * top} - coalesce(n_common, 0)) AS BIGINT) AS jaccard_milli
FROM p LEFT JOIN j ON p.pid = j.pid
"""


@register("q239_matryoshka_truncation", tier="T2", oracle=_mrl_oracle())
def q239_matryoshka_truncation(spark, sf_dir):
    """Matryoshka truncation-fidelity census (Kusupati et al. 2022):
    per pinned probe (the 5 lowest vec_ids), the top-10 retrieval
    overlap and Jaccard between the FULL 64-dim cosine ranking and the
    ranking under the first-16-dims truncation — the measured go/no-go
    for serving 4x-cheaper truncated embeddings (q210's
    measure-don't-guess discipline applied to dimension reduction; on
    this synthetic space the overlap is LOW, which is itself the
    deliverable: these embeddings are not MRL-trained, so prefix
    truncation destroys the ranking).

    Cross-engine exactness: both cosines are the identical
    left-to-right IEEE fold in both engines (see ``_duck_dot``;
    norms multiply before the division in the same shape), so the
    rankings — ordered by unrounded doubles with the vec_id integer
    tiebreak — are bit-identical (the q206/q209 accepted class,
    de-risked by bitwise-equal inputs).

    Plan: candidate norms (64-dim and 16-dim) are computed ONCE per
    vector map-side BEFORE the probe fan-out (HOF expressions get no
    CSE — the q213 discipline), the 5-row probe table broadcasts into
    the scan, and each ranking is a per-probe rank window that plans
    as WindowGroupLimit (per-task partial top-k before the exchange,
    q210's law) — the audit stays O(scan) at any corpus size with
    probe count pinned."""
    e = spread_small_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    fold = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, w) -> acc + w)"
    e2 = e.select(
        "vec_id",
        "v",
        F.expr(f"slice(v, 1, {_MRL_DIM})").alias("vt"),
    ).select(
        "vec_id",
        "v",
        "vt",
        F.expr(f"sqrt({fold.format(a='v', b='v')})").alias("n64"),
        F.expr(f"sqrt({fold.format(a='vt', b='vt')})").alias("n16"),
    )
    p = (
        e2.orderBy(F.asc("vec_id"))
        .limit(_MRL_PROBES)
        .select(
            F.col("vec_id").alias("pid"),
            F.col("v").alias("pv"),
            F.col("vt").alias("pvt"),
            F.col("n64").alias("pn64"),
            F.col("n16").alias("pn16"),
        )
    )
    c = (
        e2.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            "vec_id",
            F.expr(f"{fold.format(a='v', b='pv')} / (n64 * pn64)").alias("cf"),
            F.expr(f"{fold.format(a='vt', b='pvt')} / (n16 * pn16)").alias(
                "ct"
            ),
        )
    )
    wf = Window.partitionBy("pid").orderBy(F.desc("cf"), F.asc("vec_id"))
    wt = Window.partitionBy("pid").orderBy(F.desc("ct"), F.asc("vec_id"))
    rf = c.select("pid", "vec_id", F.row_number().over(wf).alias("r")).filter(
        F.col("r") <= _MRL_TOPK
    )
    rt = c.select("pid", "vec_id", F.row_number().over(wt).alias("r")).filter(
        F.col("r") <= _MRL_TOPK
    )
    j = rf.join(rt, ["pid", "vec_id"]).groupBy("pid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    return (
        p.select("pid")
        .join(j, "pid", "left")
        .select(
            F.col("pid").alias("probe_id"),
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            F.expr(
                f"CAST(1000 * coalesce(n_common, 0)"
                f" div ({2 * _MRL_TOPK} - coalesce(n_common, 0)) AS BIGINT)"
            ).alias("jaccard_milli"),
        )
    )


# ------------------------------------------------------------------ q240
_OPT_FILES_PER_PART = 8
_OPT_SMALL_FILES = 32


@register(
    "q240_optimize_compaction_census",
    tier="T2",
    oracle=f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST((count(*) + ((count(*) + {_OPT_FILES_PER_PART - 1})
                         // {_OPT_FILES_PER_PART}) - 1)
            // ((count(*) + {_OPT_FILES_PER_PART - 1})
                // {_OPT_FILES_PER_PART}) AS BIGINT) AS files_after
FROM events GROUP BY event_type
""",
)
def q240_optimize_compaction_census(spark, sf_dir):
    """OPTIMIZE verified end to end (the lakehouse small-file
    maintenance job next to q230's MERGE): the builder writes a REAL
    over-partitioned layout (events hive-partitioned by event_type,
    32 shuffle tasks -> up to 32 small files per partition), runs the
    reader-atomic row-targeted rewrite (operators/compact.py — temp
    sibling + directory-rename swap, shuffle-free coalesce) against
    every partition, and returns the POST-compaction on-disk census:
    rows read back from the rewritten files and the file count
    LISTED from disk.  The oracle is the pure row-law plan —
    target_rows = ceil(rows/8), files_after = ceil(rows/target_rows) —
    so the hash gate proves the physical rewrite produced EXACTLY the
    planned file count and lost zero rows; any half-written state,
    dropped row, or off-by-one in the plan breaks the hash.

    Scale shape: each partition's rewrite is an independent
    shuffle-free coalesce job over that partition's files only —
    exactly Delta/Iceberg OPTIMIZE's per-partition bin-packing unit —
    and the per-partition jobs are submitted CONCURRENTLY from a
    bounded thread pool (Spark's scheduler interleaves jobs from
    multiple submitter threads), so OPTIMIZE wall time stays ~flat as
    the partition count grows instead of serializing thousands of
    small jobs through the driver; the census the driver hashes is
    |event_type| rows.  Partition values are hive/URI-escaped in the
    directory name, so the census key is unquoted before compare.
    The builder raises loudly if the small-file layout has fewer
    files than the plan needs (cannot-compact-upward guard) rather
    than returning a census the oracle would rightly fail."""
    def build(base):
        def one(d: str) -> tuple:
            part_dir = os.path.join(base, d)
            compact_partition(spark, part_dir)
            return (partition_value(d), *partition_census(spark, part_dir))

        rows_out = map_partitions(write_small_file_layout(spark, sf_dir, base), one)
        return spark.createDataFrame(
            rows_out, "event_type string, n_rows bigint, files_after bigint"
        ).localCheckpoint()

    return session_state(spark, sf_dir, "optimize_census", build)


def write_small_file_layout(spark, sf_dir, base):
    """Write q240's over-partitioned events layout (hive-partitioned by
    event_type, up to ``_OPT_SMALL_FILES`` files per partition) under
    ``base``; returns the partition directory names."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    ev.repartition(_OPT_SMALL_FILES).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(base)
    return sorted(d for d in os.listdir(base) if d.startswith("event_type="))


def partition_value(d: str) -> str:
    """The unescaped value of a hive partition directory name."""
    return urllib.parse.unquote(d.split("=", 1)[1])


def compact_partition(spark, part_dir):
    """Plan ``ceil(rows / _OPT_FILES_PER_PART)`` target rows for one
    partition and compact it; raises when the layout has fewer files
    than the plan (compaction cannot split files)."""
    n = spark.read.parquet(part_dir).count()
    target = math.ceil(n / _OPT_FILES_PER_PART)
    planned = math.ceil(n / target)
    if len(_parquet_files(part_dir)) < planned:
        raise RuntimeError(
            f"small-file layout under {part_dir} has fewer files than "
            f"the plan ({planned}) — cannot compact upward"
        )
    compact_parquet_dir_rows(spark, part_dir, target_rows=target)


def partition_census(spark, part_dir):
    """(rows read back, files listed) of one partition directory."""
    n_after = spark.read.parquet(part_dir).count()
    return (int(n_after), len(_parquet_files(part_dir)))


def map_partitions(parts, fn):
    """``fn`` over every partition, run from a bounded thread pool so
    the independent per-partition Spark jobs interleave."""
    with ThreadPoolExecutor(max_workers=min(8, max(1, len(parts)))) as pool:
        return list(pool.map(fn, parts))


# ------------------------------------------------------------------ q241
_PIPE_SQL = """
FROM documents
|> WHERE n_chars >= 100
|> EXTEND size(split(text, ' ')) AS toks
|> AGGREGATE count(*) AS docs, sum(toks) AS tokens, sum(n_chars) AS chars
   GROUP BY lang, source
|> EXTEND CAST(1000 * chars div tokens AS BIGINT) AS chars_per_kilotoken
|> WHERE docs >= 2
|> SELECT lang, source, CAST(docs AS BIGINT) AS docs,
          CAST(tokens AS BIGINT) AS tokens, chars_per_kilotoken
"""


@register(
    "q241_pipe_syntax_census",
    tier="T2",
    oracle="""
WITH f AS (SELECT lang, source, len(string_split(text, ' ')) AS toks,
                  n_chars
           FROM documents WHERE n_chars >= 100),
a AS (SELECT lang, source,
             CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(toks) AS BIGINT) AS tokens,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM f GROUP BY lang, source)
SELECT lang, source, docs, tokens,
       CAST(1000 * chars // tokens AS BIGINT) AS chars_per_kilotoken
FROM a WHERE docs >= 2
""",
)
def q241_pipe_syntax_census(spark, sf_dir):
    """A multi-stage corpus census written in Spark 4's SQL PIPE
    syntax (SPARK-49555: `FROM t |> WHERE ... |> EXTEND ... |>
    AGGREGATE ... GROUP BY ... |> SELECT`): filter short docs, derive
    token counts, aggregate per (lang, source), derive a post-agg
    metric, filter small groups, project.  The declared claim is
    frontend equivalence: the pipe program must parse to the SAME
    Catalyst plan semantics as the nested-CTE formulation the DuckDB
    oracle runs — a hash match proves the new syntax is a pure
    rewrite, not a new evaluator.  Pipe syntax is how multi-stage
    curation pipelines read top-to-bottom (each |> stage is one
    pipeline step) instead of inside-out.

    Plan: identical to the hand-written census — predicate pushdown
    into the scan, one partial-agg shuffle on (lang, source),
    group-count filter after the agg; all-integer output, hash-exact.
    """
    from multi_threaded_mapreduce_framework_spark.sources import register_views

    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(_PIPE_SQL)


# ------------------------------------------------------------------ q243
_JT_GRID = (300, 500, 700)  # Jaccard thresholds, milli
_JT_CAP = 500  # q27's declared doc_id cap (exact tier is volume-bound)


@register(
    "q243_jaccard_threshold_curve",
    tier="T2",
    oracle=f"""
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
g AS (SELECT unnest([{", ".join(str(t) for t in _JT_GRID)}]) AS t_milli)
SELECT CAST(t_milli AS BIGINT) AS t_milli,
       CAST(count(*) FILTER (WHERE j_milli >= t_milli) AS BIGINT) AS n_pairs,
       CAST(coalesce(sum(j_milli) FILTER (WHERE j_milli >= t_milli), 0)
            // greatest(count(*) FILTER (WHERE j_milli >= t_milli), 1)
            AS BIGINT) AS mean_j_milli
FROM pairs, g GROUP BY t_milli
""",
)
def q243_jaccard_threshold_curve(spark, sf_dir):
    """Near-dup THRESHOLD SENSITIVITY curve: qualifying pair count and
    mean Jaccard (milli) at thresholds {0.3, 0.5, 0.7} from ONE
    inverted-index pass — the tuning evidence for choosing q27's 0.5
    cutoff and q35's LSH band threshold (q222 measured the SKETCH's
    error; this measures the DECISION's sensitivity: a cliff between
    two thresholds means the corpus has a near-dup band there).

    One pass, three thresholds: the inverted-index join runs ONCE with
    the size-band block relaxed to the LOWEST threshold (lossless for
    every t >= min(grid): J = i/(n1+n2-i) <= min/max, so
    1000*min(n1,n2) >= t_min*greatest prunes nothing that any grid
    point needs); the bounded pair relation then folds against the
    3-row grid.  Jaccard is integer milli (1000*i div union) — exact
    both engines.  Shares q27's declared doc_id cap: the exact tier is
    candidate-volume-bound by construction; q35/q213 are the scale
    path.  Monotone-in-threshold laws pinned by test."""
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
    pairs = inter.select(
        F.expr("CAST(1000 * i div (n1 + n2 - i) AS BIGINT)").alias("j_milli")
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


# ------------------------------------------------------------------ q245
_LDIV_GRID = (2, 3)


@register(
    "q245_l_diversity_census",
    tier="T2",
    oracle=f"""
WITH g AS (SELECT source, n_chars // 100 AS b,
                  CAST(count(*) AS BIGINT) AS grp,
                  CAST(count(DISTINCT lang) AS BIGINT) AS l
           FROM documents GROUP BY 1, 2),
t AS (SELECT CAST(sum(grp) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_groups FROM g),
k AS (SELECT unnest([{", ".join(str(x) for x in _LDIV_GRID)}]) AS l_min)
SELECT CAST(l_min AS BIGINT) AS l_min,
       CAST(count(*) FILTER (WHERE l < l_min) AS BIGINT) AS groups_below_l,
       CAST(coalesce(sum(grp) FILTER (WHERE l < l_min), 0) AS BIGINT)
         AS rows_below_l,
       CAST(1000 * coalesce(sum(grp) FILTER (WHERE l < l_min), 0)
            // max(total) AS BIGINT) AS at_risk_milli,
       max(n_groups) AS n_groups
FROM g, t, k GROUP BY l_min
""",
)
def q245_l_diversity_census(spark, sf_dir):
    """l-diversity census (Machanavajjhala et al. 2007) — k-anonymity's
    (q238's) standard companion: a quasi-identifier group can be large
    (k-anonymous) yet still leak its SENSITIVE attribute if every
    member shares the same value.  Per diversity floor l in {2, 3}:
    groups of the quasi-id tuple (source, 100-char length bucket)
    whose distinct-count of the sensitive attribute (lang) is below l,
    the rows in them, and the at-risk share — together with q238 the
    two numbers a release's privacy review states.

    Plan: one partial-agg shuffle to the quasi-id census (count +
    count-distinct-sensitive per group; the distinct is bounded by the
    sensitive domain); 2-row l-grid + 1-row total broadcast into the
    domain-bounded group table; all-integer — hash-exact at any
    scale."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(
        "source", F.expr("n_chars div 100").alias("b")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("grp"),
        F.countDistinct("lang").cast("bigint").alias("l"),
    )
    t = g.agg(
        F.sum("grp").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    grid = spark.createDataFrame([(int(x),) for x in _LDIV_GRID], "l_min bigint")
    return (
        g.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(grid))
        .groupBy("l_min")
        .agg(
            F.sum(F.when(F.col("l") < F.col("l_min"), 1).otherwise(0))
            .cast("bigint")
            .alias("groups_below_l"),
            F.sum(F.when(F.col("l") < F.col("l_min"), F.col("grp")).otherwise(0))
            .cast("bigint")
            .alias("rows_below_l"),
            F.expr(
                "CAST(1000 * sum(CASE WHEN l < l_min THEN grp ELSE 0 END)"
                " div max(total) AS BIGINT)"
            ).alias("at_risk_milli"),
            F.max("n_groups").alias("n_groups"),
        )
    )


# ------------------------------------------------------------------ q246
_PACK_GRID = (128, 256, 512)


@register(
    "q246_packing_efficiency_curve",
    tier="T2",
    oracle=f"""
WITH d AS (SELECT lang, doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS t
           FROM documents),
c AS (SELECT lang, doc_id, t,
             CAST(coalesce(sum(t) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start
      FROM d),
g AS (SELECT unnest([{", ".join(str(x) for x in _PACK_GRID)}]) AS L),
per_lang AS (
  SELECT L, lang,
         CAST(sum(t) AS BIGINT) AS toks,
         CAST((sum(t) + L - 1) // L AS BIGINT) AS n_seqs,
         CAST(sum(CASE WHEN start // L <> (start + t - 1) // L
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_split
  FROM c, g GROUP BY L, lang)
SELECT CAST(L AS BIGINT) AS seq_len,
       CAST(sum(n_seqs) AS BIGINT) AS n_seqs,
       CAST(sum(n_split) AS BIGINT) AS n_split_docs,
       CAST(sum(n_seqs * L - toks) AS BIGINT) AS waste_tokens,
       CAST(1000 * sum(n_seqs * L - toks) // sum(n_seqs * L) AS BIGINT)
         AS waste_milli
FROM per_lang GROUP BY L
""",
)
def q246_packing_efficiency_curve(spark, sf_dir):
    """Context-length tuning curve for the q204 packing law: for L in
    {128, 256, 512}, the corpus-wide packed-sequence count,
    boundary-split doc count, and padding waste (absolute + milli
    share) — the measured trade a loader team reads before fixing the
    training context length (longer L: fewer sequences but more
    last-sequence padding per language and more cross-boundary
    splits).  q204 reports ONE L per language; this is the decision
    curve above it (q243's threshold-sensitivity discipline applied to
    the packing knob).

    One window pass, three grid points: the lang-ordered token prefix
    sum (q204's closed-form law, lang-bounded window with the
    q197/q111 caveat) is computed ONCE; the 3-row L-grid broadcasts
    into the per-doc relation and every per-L statistic folds with
    integer arithmetic — hash-exact; grid-monotonicity laws pinned by
    test."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = docs.select(
        "lang",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("t"),
    ).select(
        "lang",
        "t",
        F.coalesce(F.sum("t").over(w), F.lit(0)).cast("bigint").alias("start"),
    )
    grid = spark.createDataFrame([(int(x),) for x in _PACK_GRID], "L bigint")
    per_lang = (
        c.crossJoin(F.broadcast(grid))
        .groupBy("L", "lang")
        .agg(
            F.sum("t").cast("bigint").alias("toks"),
            F.expr("CAST((sum(t) + L - 1) div L AS BIGINT)").alias("n_seqs"),
            F.sum(
                F.when(
                    F.expr("start div L <> (start + t - 1) div L"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_split"),
        )
    )
    return per_lang.groupBy(F.col("L").alias("seq_len")).agg(
        F.sum("n_seqs").cast("bigint").alias("n_seqs"),
        F.sum("n_split").cast("bigint").alias("n_split_docs"),
        F.expr("CAST(sum(n_seqs * L - toks) AS BIGINT)").alias("waste_tokens"),
        F.expr(
            "CAST(1000 * sum(n_seqs * L - toks) div sum(n_seqs * L) AS BIGINT)"
        ).alias("waste_milli"),
    )

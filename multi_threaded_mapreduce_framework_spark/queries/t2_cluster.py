"""Dedup-pipeline completion (q94-q95): from near-dup pairs to a
training corpus.

q35 detects near-duplicate PAIRS; a real training-data pipeline then
(a) groups pairs into duplicate CLUSTERS and (b) selects one canonical
document per cluster plus quality/length gates. These two queries are
that tail of the pipeline, oracle-checked end to end:

- q94: connected components over the q35 pair graph — every document
  labeled with its cluster id (min doc_id reachable via near-dup
  edges; singletons label themselves).
- q95: corpus selection — drop near-dup "losers" (the d2 side of any
  pair), then gate on quality score and token count.

Reference capability note: iterative label propagation is repeated
`map → shuffle(group) → reduce` rounds — the reference could express
one round per job (MapReduceClient.h:55-65); Spark expresses the loop
as repeated DataFrame plans with the driver checking convergence.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from multi_threaded_mapreduce_framework_spark.queries.registry import _REGISTRY, register
from multi_threaded_mapreduce_framework_spark.queries.t2_dedup import q35_minhash_lsh
from multi_threaded_mapreduce_framework_spark.sources import load_table
from multi_threaded_mapreduce_framework_spark.sources.memo import session_state

# The q35 oracle SELECT (d1, d2, jaccard) — reused verbatim so the
# cluster oracle runs the identical pair-detection algorithm.
_PAIR_SQL = _REGISTRY["q35_minhash_lsh"].oracle


def minhash_pairs(spark, sf_dir: str):
    """q35's verified near-dup (d1, d2) pair set, localCheckpoint-ed once
    per session and fixture and shared by the graph-family queries
    (q94/q95/q102/q118): the "materialize the dedup pair table once,
    then run the cluster/select/rank passes against it" step."""
    return session_state(
        spark,
        sf_dir,
        "minhash_pairs",
        lambda _base: q35_minhash_lsh(spark, sf_dir)
        .select("d1", "d2")
        .localCheckpoint(),
    )


@register(
    "q94_dedup_clusters",
    tier="T2",
    oracle=f"""
WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ({_PAIR_SQL})),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a)
SELECT src AS doc_id, min(node) AS cluster_id
FROM reach GROUP BY src
""",
)
def q94_dedup_clusters(spark, sf_dir, max_iters: int = 15):
    """Near-duplicate cluster assignment: connected components over the
    q35 pair graph by iterative min-label propagation. Every document
    gets ``cluster_id`` = the smallest doc_id reachable through
    near-dup edges (documents with no near-dups label themselves).

    Iterative-algorithm pattern: each round is one distributed
    edges-x-labels join + min-aggregate; convergence is a single tiny
    aggregate over the just-checkpointed labels — labels only ever
    DECREASE under min-propagation, so ``sum(cluster_id)`` is strictly
    monotone and sum-unchanged is an exact (not probabilistic) proof of
    convergence, with no old-vs-new join and no second pass (rounds are
    bounded by the cluster diameter — near-dup clusters are dense, so
    2-3 rounds in practice; at extreme scale the large-star/small-star
    variant halves diameter per round, same loop skeleton). Each round's labels are
    ``localCheckpoint``-ed: persist() alone leaves the logical plan
    growing by one join per iteration (a 50-join tree after
    convergence, re-executed from scratch if the cache drops), while
    checkpointing truncates lineage so every round — and the returned
    DataFrame — plans against the previous round's materialized rows.
    The oracle's recursive CTE computes the identical fixpoint
    declaratively.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = minhash_pairs(spark, sf_dir)
    edges = (
        pairs.union(pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
        .select(F.col("d1").alias("a"), F.col("d2").alias("b"))
        .localCheckpoint()
    )

    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id")).localCheckpoint()
    # decimal sum: exact at any corpus size (a long sum would hit ANSI
    # overflow once sum(doc_id) crosses 2^63)
    label_sum = labels.agg(
        F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
    ).first()["s"]
    converged = False
    for _ in range(max_iters):
        prop = (
            edges.join(labels, edges.a == labels.doc_id)
            .groupBy(F.col("b").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(prop, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        # exact convergence in ONE scalar aggregate over the rows the
        # checkpoint just materialized: min-propagation never increases
        # a label, so the label sum is unchanged iff NO label changed
        new_sum = new_labels.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        labels = new_labels
        if new_sum == label_sum:
            converged = True
            break
        label_sum = new_sum
    if not converged:
        # a graph whose diameter exceeds max_iters would otherwise
        # silently return unconverged (wrong) cluster ids
        raise RuntimeError(
            f"q94 label propagation did not converge in {max_iters} rounds; "
            "raise max_iters or use q102_cc_star (O(log diameter))"
        )
    return labels


@register(
    "q102_cc_star",
    tier="T2",
    oracle=f"""
WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ({_PAIR_SQL})),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a)
SELECT src AS doc_id, min(node) AS cluster_id
FROM reach GROUP BY src
""",
)
def q102_cc_star(spark, sf_dir, max_iters: int = 10):
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the same fixpoint as q94 (every doc labeled with the min
    doc_id reachable over q35 near-dup edges) but converging in
    O(log diameter) rounds instead of O(diameter).

    Each round is two grouped-min + join passes over the edge list:
    large-star attaches every strictly-larger neighbor of u to
    min(N(u) ∪ u); small-star re-hangs each node's parents on the
    parents' min. Edges keep the parent < child invariant, so
    convergence (edge set unchanged) leaves exactly the star forest:
    child -> component-min. q94 is the simple loop for dense low-
    diameter dedup clusters; this variant is the one you run when a
    boilerplate passage chains thousands of docs into a long path.
    Rounds are ``localCheckpoint``-ed for the same lineage reason as
    q94. The oracle recursive CTE computes the identical fixpoint.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = minhash_pairs(spark, sf_dir)
    edges = (
        pairs.select(
            F.greatest("d1", "d2").alias("c"), F.least("d1", "d2").alias("p")
        )
        .filter(F.col("c") != F.col("p"))
        .distinct()
        .localCheckpoint()
    )
    def _sig(df):
        # hash-sum as decimal(38,0): a long sum of 2^63-range hashes
        # overflows ANSI arithmetic after a handful of rows
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("c", "p").cast("decimal(20,0)")),
                F.lit(0).cast("decimal(20,0)"),
            ).alias("h"),
        ).first()
        return (r["n"], r["h"])

    edge_sig = _sig(edges)
    for _ in range(max_iters):
        bidir = edges.select(F.col("c").alias("u"), F.col("p").alias("v")).union(
            edges.select(F.col("p").alias("u"), F.col("c").alias("v"))
        )
        mins = (
            bidir.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        large = (
            bidir.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("c"), F.col("m").alias("p"))
            .filter(F.col("c") != F.col("p"))
            .distinct()
        )
        par_min = large.groupBy("c").agg(F.min("p").alias("m"))
        small = (
            large.join(par_min, "c")
            .filter(F.col("p") != F.col("m"))
            .select(F.col("p").alias("c"), F.col("m").alias("p"))
            .union(par_min.select("c", F.col("m").alias("p")))
            .distinct()
            .localCheckpoint()
        )
        # both sides are distinct sets: compare (count, order-free
        # 64-bit hash-sum) in ONE scalar aggregate per round over the
        # rows the checkpoint just materialized — no old-vs-new join,
        # no exceptAll second pass. A missed change needs a colliding
        # xxhash64 sum at equal cardinality (~2^-64 per round);
        # non-convergence still raises below, so a collision cannot
        # run away, only stop one round early
        new_sig = _sig(small)
        edges = small
        if new_sig == edge_sig:
            break
        edge_sig = new_sig
    else:
        raise RuntimeError(
            f"q102 star contraction did not converge in {max_iters} rounds; "
            "raise max_iters (rounds needed grow with log of the largest "
            "component's diameter)"
        )
    star = edges.select(F.col("c").alias("doc_id"), F.col("p").alias("cluster_id"))
    return docs.join(star, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )


@register(
    "q95_corpus_select",
    tier="T2",
    oracle=f"""
WITH pairs AS (SELECT d1, d2 FROM ({_PAIR_SQL})),
scored AS (
  SELECT doc_id, lang, source,
         len(string_split(text, ' ')) AS n_tokens,
         least(1.0, len(string_split(text, ' ')) / 40.0) * 0.6
         + least(1.0, (length(replace(text, ' ', ''))
                       / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0)
           * 0.4 AS q
  FROM documents)
SELECT doc_id, lang, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(q * 100) AS BIGINT) AS quality_centi
FROM scored d
WHERE q >= 0.5 AND n_tokens BETWEEN 5 AND 1000
  AND NOT EXISTS (SELECT 1 FROM pairs p WHERE p.d2 = d.doc_id)
""",
)
def q95_corpus_select(spark, sf_dir):
    """Training-corpus selection — the pipeline-composition query:
    near-dup losers out (anti join against the d2 side of q35's pairs,
    keeping the smaller doc_id of every pair), then quality-score and
    token-count gates (q31's score formula, q32's whitespace tokens).

    Plan shape: the gates are map-side column math evaluated in the
    scan's project, the anti join is against the (tiny) pair set —
    broadcastable at any scale because near-dup pairs are a vanishing
    fraction of the corpus. One pass over documents, no aggregate.

    FP discipline: the score is emitted as ``floor(q*100)`` (integer
    centi-units), not ``round(q, 2)`` — q is bit-identical IEEE math in
    both engines, but their ROUND functions disagree at the x.xx5
    boundary (Spark HALF_UP on the binary double vs DuckDB's
    decimal-string rounding), while floor of identical doubles is
    identical."""
    docs = load_table(spark, sf_dir, "documents")
    losers = minhash_pairs(spark, sf_dir).select(F.col("d2").alias("doc_id"))
    ws = F.split("text", " ")
    n_tok = F.size(ws)
    awl = F.length(F.regexp_replace("text", " ", "")) / n_tok.cast("double")
    q = (
        F.least(F.lit(1.0), n_tok / F.lit(40.0)) * 0.6
        + F.least(F.lit(1.0), awl / F.lit(8.0)) * 0.4
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            n_tok.cast("bigint").alias("n_tokens"),
            q.alias("q"),
        )
        .filter((F.col("q") >= 0.5) & F.col("n_tokens").between(5, 1000))
        .join(F.broadcast(losers), "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            F.floor(F.col("q") * 100).cast("bigint").alias("quality_centi"),
        )
    )


PAGERANK_ITERS = 3


def _pagerank_oracle(iters: int) -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (DuckDB)."""
    sql = [
        f"WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ({_PAIR_SQL})),",
        "edges AS (SELECT d1 AS a, d2 AS b FROM pairs"
        " UNION ALL SELECT d2, d1 FROM pairs),",
        "deg AS (SELECT a, count(*) AS d FROM edges GROUP BY a),",
        "nodes AS (SELECT DISTINCT a AS node FROM edges),",
        "r0 AS (SELECT node, 1.0 AS r FROM nodes),",
    ]
    for i in range(1, iters + 1):
        sql.append(
            f"c{i} AS (SELECT e.b AS node, sum(r{i-1}.r / deg.d) AS c"
            f" FROM edges e JOIN deg ON deg.a = e.a"
            f" JOIN r{i-1} ON r{i-1}.node = e.a GROUP BY e.b),"
        )
        sql.append(
            f"r{i} AS (SELECT n.node, 0.15 + 0.85 * coalesce(c{i}.c, 0) AS r"
            f" FROM nodes n LEFT JOIN c{i} ON c{i}.node = n.node),"
        )
    sql[-1] = sql[-1].rstrip(",")
    sql.append(
        f"SELECT node AS doc_id, round(r, 6) AS pr FROM r{iters}"
        f" ORDER BY round(r, 6) DESC, node LIMIT 20"
    )
    return "\n".join(sql)


@register(
    "q118_pagerank",
    tier="T2",
    oracle=_pagerank_oracle(PAGERANK_ITERS),
)
def q118_pagerank(spark, sf_dir, iters: int = PAGERANK_ITERS):
    """Fixed-iteration (3) damped PageRank over the q35 near-dup graph:
    which documents sit at the CENTER of duplication neighborhoods —
    the canonical-exemplar signal a dedup pipeline uses to pick which
    copy to keep. Top-20 by rank, rounded to 6 dp BEFORE ordering so
    neighbor-sum FP noise (~1e-15) cannot flip ranks across engines.

    Iterative-numeric pattern on the q94/q102 loop skeleton, with one
    deliberate difference: the iteration count is FIXED, so no per-round
    convergence count is read back and the rounds stay one lazy plan —
    only the shared edge set is ``localCheckpoint``-ed (it would
    otherwise re-derive the q35 sketch once per round). Degree is
    precomputed once and carried ON the edge row, so a round never
    re-joins the degree table. The oracle unrolls the same three
    iterations as chained CTEs.
    """
    pairs = minhash_pairs(spark, sf_dir)
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    edges_d = edges.join(deg, "a").localCheckpoint()
    nodes = edges_d.select(F.col("a").alias("node")).distinct()
    ranks = nodes.select("node", F.lit(1.0).alias("r"))
    for _ in range(iters):
        contrib = (
            edges_d.join(ranks, edges_d.a == ranks.node)
            .groupBy("b")
            .agg(F.sum(F.col("r") / F.col("d")).alias("c"))
        )
        # fixed iteration count + checkpointed (tiny) edge/node inputs:
        # the 3 rounds stay ONE lazy plan — no per-round job, no
        # per-round materialization (unlike q94, which must read a
        # convergence count back every round)
        ranks = nodes.join(contrib, nodes.node == contrib.b, "left").select(
            "node",
            (F.lit(0.15) + F.lit(0.85) * F.coalesce("c", F.lit(0.0))).alias("r"),
        )
    return (
        ranks.select(F.col("node").alias("doc_id"), F.round("r", 6).alias("pr"))
        .orderBy(F.desc("pr"), F.asc("doc_id"))
        .limit(20)
    )


# Deterministic synthetic forest over the customer table: parent(c) =
# 1 + ((61*c + 17) mod (c - 1)) for c >= 2 — strictly decreasing, so
# every chain terminates at root 1; identical int64 arithmetic in both
# engines (no overflow anywhere near the key domain).
_PJ_PARENT_SQL = "1 + ((61 * c_custkey + 17) % (c_custkey - 1))"


@register(
    "q175_tree_depth_pointer_jumping",
    tier="T2",
    oracle=f"""
WITH RECURSIVE p AS (
  SELECT c_custkey AS c, CAST({_PJ_PARENT_SQL} AS BIGINT) AS parent
  FROM customer WHERE c_custkey >= 2
),
walk AS (
  SELECT c, parent AS anc, CAST(1 AS BIGINT) AS d FROM p
  UNION ALL
  SELECT w.c, p.parent, w.d + 1
  FROM walk w JOIN p ON w.anc = p.c
)
SELECT c AS custkey, d AS depth FROM walk WHERE anc = 1
UNION ALL
SELECT c_custkey, CAST(0 AS BIGINT) FROM customer WHERE c_custkey <= 1
""",
)
def q175_tree_depth_pointer_jumping(spark, sf_dir, rounds: int = 6):
    """Depth of every node in a (deterministic, synthetic) parent
    forest over the customer table, by POINTER JUMPING: each round
    every node's ancestor pointer jumps to its ancestor's ancestor and
    accumulates the skipped distance, so a depth-D chain resolves in
    ceil(log2 D) rounds — the classic iterative-doubling technique for
    linked structures in MapReduce/Pregel, and the third distributed
    graph-iteration shape in this engine next to q94's O(diameter)
    label propagation and q102's star contraction.

    Each round is ONE equi self-join of the (node, jump, dist) state
    on jump = node (shuffle on the join key; state rows never grow),
    ``localCheckpoint``-ed to truncate lineage.  The root carries the
    identity state (jump=1, dist=0), so converged nodes pass through
    the join unchanged — no special-casing, and convergence is proven
    by ONE scalar aggregate (count of non-root pointers) which raises
    loudly rather than returning wrong depths if ``rounds`` were ever
    too few for the forest's depth (6 rounds cover depth 64; the
    random-decreasing forest's depth is ~ln n).  The oracle walks the
    same chains with a recursive CTE."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    # roots (c < 2 — parent(c) is in [1, c-1], so 0 is never anyone's
    # ancestor and every chain terminates at 1) carry the identity
    # state (jump = self, dist = 0)
    state = cust.selectExpr(
        "c_custkey AS c",
        f"CASE WHEN c_custkey >= 2 THEN CAST({_PJ_PARENT_SQL} AS BIGINT)"
        " ELSE c_custkey END AS jump",
        "CAST(CASE WHEN c_custkey >= 2 THEN 1 ELSE 0 END AS BIGINT) AS dist",
    ).localCheckpoint()
    for _ in range(rounds):
        a, b = state.alias("a"), state.alias("b")
        state = (
            a.join(b, F.col("a.jump") == F.col("b.c"))
            .select(
                F.col("a.c").alias("c"),
                F.col("b.jump").alias("jump"),
                (F.col("a.dist") + F.col("b.dist")).alias("dist"),
            )
            .localCheckpoint()
        )
    unresolved = state.filter(F.col("jump") >= 2).count()
    if unresolved:
        raise RuntimeError(
            f"q175 pointer jumping left {unresolved} chains unresolved after "
            f"{rounds} rounds; raise rounds (covers depth 2^rounds)"
        )
    return state.select(F.col("c").alias("custkey"), F.col("dist").alias("depth"))


@register(
    "q191_training_corpus_pipeline",
    tier="T2",
    oracle=f"""
WITH gated AS (
  SELECT doc_id, lang, text, len(string_split(text, ' ')) AS nt
  FROM documents
  WHERE len(string_split(text, ' ')) >= 5 AND len(text) <= 1000),
surv AS (
  SELECT min(doc_id) AS doc_id
  FROM gated GROUP BY lower(trim(text))),
sdocs AS (
  SELECT g.doc_id, g.lang, g.nt
  FROM gated g JOIN surv s ON g.doc_id = s.doc_id),
pairs AS (SELECT d1, d2 FROM ({_PAIR_SQL})),
dropped AS (
  SELECT DISTINCT p.d2 FROM pairs p JOIN sdocs a ON p.d1 = a.doc_id),
kept AS (
  SELECT * FROM sdocs WHERE doc_id NOT IN (SELECT d2 FROM dropped))
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(sum(greatest(nt - 1, 0) // 24 + 1) AS BIGINT) AS n_chunks
FROM kept GROUP BY lang
""",
)
def q191_training_corpus_pipeline(spark, sf_dir):
    """The training-data-prep flow END TO END as one declared query —
    quality gates -> exact dedup -> near-dup removal -> chunk census —
    each stage the law its standalone query already proved (q132-style
    gates, q25's keep-min-doc exact dedup, q35's verified LSH pairs,
    q85's stride-24/width-32 chunk count), composed the way a corpus
    build actually runs them.  Output: per lang, documents kept, total
    tokens, and chunk count of the final corpus.

    Stage semantics (all deterministic, oracle-mirrored):
    1. GATE: >= 5 words and <= 1000 chars.
    2. EXACT DEDUP on lower(trim(text)), survivor = min doc_id; the
       survivor's own (lang, token-count) ride the min-struct, so no
       join-back (q25's one-shuffle shape).
    3. NEAR-DUP REMOVAL: drop any doc appearing as the LARGER side of
       a verified q35 pair whose smaller side survived stages 1-2
       (pair-cover removal; restricting the full-corpus pair set to
       surviving endpoints equals re-running LSH on the survivors,
       because band keys are per-document).  Reuses the session's
       cached verified pair set (``minhash_pairs``) — the pipeline
       does not recompute the sketch.
    4. CHUNK CENSUS: q85's law, n_chunks = (nt-1) div 24 + 1.

    Scale shape: stages 1-2 are one partial-agg shuffle over the
    corpus; stage 3 is one broadcast-sized join against the (tiny)
    near-dup pair set; stage 4 is arithmetic inside the final rollup.
    Nothing materializes per-chunk rows — the census is computed from
    token counts, which is exactly how you'd size a corpus before
    paying for the chunk write."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    gated = docs.filter(
        (F.size(words) >= 5) & (F.length("text") <= 1000)
    ).select("doc_id", "lang", "text", F.size(words).alias("nt"))
    sdocs = (
        gated.groupBy(F.lower(F.trim(F.col("text"))).alias("norm"))
        .agg(F.min(F.struct("doc_id", "lang", "nt")).alias("s"))
        .select("s.doc_id", "s.lang", "s.nt")
    )
    pairs = minhash_pairs(spark, sf_dir)
    dropped = (
        pairs.join(
            sdocs.select(F.col("doc_id").alias("d1")), "d1"
        )
        .select("d2")
        .distinct()
    )
    kept = sdocs.join(
        F.broadcast(dropped), sdocs.doc_id == dropped.d2, "left_anti"
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
        F.sum(F.expr("greatest(nt - 1, 0) div 24 + 1"))
        .cast("bigint")
        .alias("n_chunks"),
    )

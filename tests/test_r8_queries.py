"""Law-pinning tests for the round-8 band (q237-q240): MapState
snapshot monotonicity/convergence, the k-anonymity census replayed in
pure Python, Matryoshka's zero-tail identity (a truncation that loses
nothing must reproduce the full ranking exactly), and the compaction
rewrite's preservation + plan laws exercised directly on disk."""

from __future__ import annotations

import math
import os
import random

import pyspark.sql.functions as F

from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.queries.t2_r8 import (
    _KANON_GRID,
    _MRL_PROBES,
    _MRL_TOPK,
    _OPT_FILES_PER_PART,
)
from multi_threaded_mapreduce_framework_spark.sources import load_table
from multi_threaded_mapreduce_framework_spark.sources.memo import (
    memo_stats,
    session_state,
)

QUERIES = {n: q.builder for n, q in all_queries().items()}


def _must_not_run(base):
    raise AssertionError(f"stream must not re-run (new build in {base})")


def _held_state(spark, sf_dir, name):
    """The session memo's entry for the stream state ``name``; fails
    if the memo does not hold one."""
    return session_state(spark, sf_dir, name, _must_not_run)


def _assert_hits_only(before, after):
    assert after["hits"] > before["hits"]
    assert after["misses"] == before["misses"], "stream must not re-run"


def test_q237_mapstate_snapshots_bounded_and_converged(spark, sf_dir):
    """Update-mode MapState snapshots never overshoot: every emitted
    (user, type) cnt is <= the batch count, every count is positive,
    and the max over snapshots equals the batch count exactly (the
    monotone-readback law the query's max() relies on)."""
    out = {
        (r.user_id, r.event_type): r.cnt
        for r in QUERIES["q237_tws_mapstate_census"](spark, sf_dir).collect()
    }
    batch = {
        (r.user_id, r.event_type): r.cnt
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert out == batch
    before = memo_stats(spark)
    raw = _held_state(spark, sf_dir, "tws_map").collect()
    _assert_hits_only(before, memo_stats(spark))
    assert raw  # the stream really emitted snapshots
    seen_max: dict = {}
    for r in raw:
        k = (r.user_id, r.event_type)
        assert 1 <= r.cnt <= batch[k], (k, r.cnt, batch[k])
        seen_max[k] = max(seen_max.get(k, 0), r.cnt)
    assert seen_max == batch


def test_q238_census_vs_python(spark, sf_dir):
    """Full Python replay of the quasi-identifier census plus the
    k-monotonicity identities: groups/rows below k are nondecreasing in
    k, bounded by the totals, and the milli law holds."""
    rows = {r.k: r for r in QUERIES["q238_k_anonymity_census"](spark, sf_dir).collect()}
    assert set(rows) == set(_KANON_GRID)
    groups: dict = {}
    total = 0
    for r in load_table(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars"
    ).collect():
        key = (r.lang, r.source, r.n_chars // 100)
        groups[key] = groups.get(key, 0) + 1
        total += 1
    prev_g = prev_r = -1
    for k in sorted(_KANON_GRID):
        r = rows[k]
        gb = sum(1 for g in groups.values() if g < k)
        rb = sum(g for g in groups.values() if g < k)
        assert (r.groups_below_k, r.rows_below_k) == (gb, rb)
        assert r.n_groups == len(groups)
        assert r.at_risk_milli == 1000 * rb // total
        assert 0 <= r.rows_below_k <= total
        assert r.groups_below_k >= prev_g and r.rows_below_k >= prev_r
        prev_g, prev_r = r.groups_below_k, r.rows_below_k


def test_q239_zero_tail_identity(spark, tmp_path):
    """If dims 17-64 are all zero, truncation to 16 dims loses NOTHING:
    both cosine folds are bit-identical (the zero terms add 0.0), so
    the two rankings coincide and every probe reports a perfect
    overlap of 10 / Jaccard 1000."""
    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(16)] + [0.0] * 48)
        for i in range(30)
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, v, 0) for i, v in vecs],
        "vec_id bigint, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = QUERIES["q239_matryoshka_truncation"](spark, d).collect()
    assert len(out) == _MRL_PROBES
    for r in out:
        assert (r.n_common, r.jaccard_milli) == (_MRL_TOPK, 1000)


def test_q239_ranking_replay_vs_python(spark, sf_dir):
    """Replay both rankings in pure Python (same IEEE expression
    order: left-to-right dot folds, sqrt norms multiplied before the
    division, vec_id tiebreak) and pin the full output."""
    out = {r.probe_id: r for r in QUERIES["q239_matryoshka_truncation"](spark, sf_dir).collect()}
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    norms = {
        i: (math.sqrt(dot(v, v)), math.sqrt(dot(v[:16], v[:16])))
        for i, v in vecs.items()
    }
    probes = sorted(vecs)[:_MRL_PROBES]
    assert set(out) == set(probes)
    for pid in probes:
        pv = vecs[pid]
        pn64, pn16 = norms[pid]
        cf, ct = [], []
        for i, v in vecs.items():
            if i == pid:
                continue
            n64, n16 = norms[i]
            cf.append((dot(v, pv) / (n64 * pn64), i))
            ct.append((dot(v[:16], pv[:16]) / (n16 * pn16), i))
        top_f = {i for _, i in sorted(cf, key=lambda t: (-t[0], t[1]))[:_MRL_TOPK]}
        top_t = {i for _, i in sorted(ct, key=lambda t: (-t[0], t[1]))[:_MRL_TOPK]}
        n = len(top_f & top_t)
        assert out[pid].n_common == n
        assert out[pid].jaccard_milli == 1000 * n // (2 * _MRL_TOPK - n)


def test_q240_compaction_rewrite_laws(spark, tmp_path):
    """The row-targeted rewrite, exercised directly: exact planned file
    count, zero rows lost (full multiset equality), and no temp/old
    directories survive the atomic swap."""
    from multi_threaded_mapreduce_framework_spark.operators.compact import (
        _parquet_files,
        compact_parquet_dir_rows,
    )

    d = str(tmp_path / "t")
    spark.range(100).selectExpr("id", "id * 7 AS x").repartition(12).write.mode(
        "overwrite"
    ).parquet(d)
    before = sorted((r.id, r.x) for r in spark.read.parquet(d).collect())
    assert len(_parquet_files(d)) == 12
    stats = compact_parquet_dir_rows(spark, d, target_rows=30)
    planned = math.ceil(100 / 30)
    assert stats.files_before == 12
    assert stats.files_after == planned == len(_parquet_files(d))
    after = sorted((r.id, r.x) for r in spark.read.parquet(d).collect())
    assert after == before
    leftovers = [f for f in os.listdir(str(tmp_path)) if "._" in f]
    assert leftovers == []
    assert not any(
        "._compact" in f or "._old" in f for f in os.listdir(str(tmp_path / "t"))
    )
    # idempotent no-op once at target
    stats2 = compact_parquet_dir_rows(spark, d, target_rows=30)
    assert (stats2.files_before, stats2.files_after) == (planned, planned)


def test_q240_census_matches_plan_law(spark, sf_dir):
    """The declared census obeys the row law: files_after ==
    ceil(rows / ceil(rows / 8)), totals match the events table, and
    every partition ended at-or-under 8 files."""
    rows = QUERIES["q240_optimize_compaction_census"](spark, sf_dir).collect()
    batch = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.event_type: r.n_rows for r in rows} == batch
    for r in rows:
        target = math.ceil(r.n_rows / _OPT_FILES_PER_PART)
        assert r.files_after == math.ceil(r.n_rows / target)
        assert 1 <= r.files_after <= _OPT_FILES_PER_PART


def test_q241_pipe_stages_decompose(spark, sf_dir):
    """The pipe program must equal its stage-wise DataFrame
    decomposition computed independently (filter -> tokenize ->
    group -> derive -> group-filter), and every surviving group obeys
    the stage predicates (docs >= 2, only docs with n_chars >= 100
    counted)."""
    rows = {
        (r.lang, r.source): r
        for r in QUERIES["q241_pipe_syntax_census"](spark, sf_dir).collect()
    }
    agg: dict = {}
    for r in load_table(spark, sf_dir, "documents").collect():
        if r.n_chars < 100:
            continue
        a = agg.setdefault((r.lang, r.source), [0, 0, 0])
        a[0] += 1
        a[1] += len(r.text.split(" "))
        a[2] += r.n_chars
    expect = {
        k: (docs, toks, 1000 * chars // toks)
        for k, (docs, toks, chars) in agg.items()
        if docs >= 2
    }
    assert {
        k: (r.docs, r.tokens, r.chars_per_kilotoken) for k, r in rows.items()
    } == expect
    assert all(r.docs >= 2 for r in rows.values())


def test_q242_bootstrap_seed_and_increment_laws(spark, sf_dir):
    """Bootstrap + increments == full recompute, decomposed: for every
    emitted user, cnt == even-half count + odd-half count and
    sum_micro == even-half sum + odd-half sum (each half computed
    independently); users with no odd events never emit (the
    update-mode contract); and at least one emitted user's FIRST
    emission already exceeds its own batch rows (proof the seed was
    read, not recomputed from the stream)."""
    out = {r.user_id: r for r in QUERIES["q242_tws_initial_state"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_id",
        "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm",
    ).collect()
    even: dict = {}
    odd: dict = {}
    for r in ev:
        side = even if r.event_id % 2 == 0 else odd
        c, s = side.get(r.user_id, (0, 0))
        side[r.user_id] = (c + 1, s + (r.vm or 0))
    assert set(out) == set(odd)  # only stream-incremented users emit
    for uid, r in out.items():
        ec, es = even.get(uid, (0, 0))
        oc, os_ = odd[uid]
        assert r.cnt == ec + oc
        assert r.sum_micro == es + os_
    # seed proof: some user's converged cnt exceeds its odd-half count
    assert any(out[u].cnt > odd[u][0] for u in out)


def test_q243_threshold_curve_laws(spark, sf_dir):
    """Monotonicity in the threshold (pair count nonincreasing, mean
    of the surviving pairs nondecreasing), grid completeness, and
    agreement with q27 at the shared 0.5 point (same cap, same
    tokenization: q243's n_pairs at t=500 counts exactly q27's
    output rows)."""
    rows = {r.t_milli: r for r in QUERIES["q243_jaccard_threshold_curve"](spark, sf_dir).collect()}
    from multi_threaded_mapreduce_framework_spark.queries.t2_r8 import _JT_GRID

    assert set(rows) == set(_JT_GRID)
    ts = sorted(_JT_GRID)
    for a, b in zip(ts, ts[1:]):
        assert rows[a].n_pairs >= rows[b].n_pairs
        if rows[a].n_pairs and rows[b].n_pairs:
            assert rows[a].mean_j_milli <= rows[b].mean_j_milli
    for t in ts:
        if rows[t].n_pairs:
            assert rows[t].mean_j_milli >= t
    q27_pairs = QUERIES["q27_jaccard_neardup"](spark, sf_dir).count()
    assert rows[500].n_pairs == q27_pairs


def test_q244_duplicate_absorption_law(spark, sf_dir):
    """The dedup readback equals the batch census over the
    UN-duplicated fixture; the raw deduped sink holds exactly one row
    per event_id even though every event was delivered twice."""
    out = {
        r.event_type: r.cnt
        for r in QUERIES["q244_stream_dedup_readback"](spark, sf_dir).collect()
    }
    batch = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == batch
    before = memo_stats(spark)
    raw = _held_state(spark, sf_dir, "dedup_readback")
    _assert_hits_only(before, memo_stats(spark))
    n_events = sum(batch.values())
    assert raw.count() == n_events  # one survivor per event
    assert raw.select("event_id").distinct().count() == n_events


def test_q245_census_vs_python(spark, sf_dir):
    """Python replay of the l-diversity census plus monotonicity in l
    and the q238 relationship: a group below l=2 diversity is a
    single-sensitive-value group regardless of its size."""
    from multi_threaded_mapreduce_framework_spark.queries.t2_r8 import _LDIV_GRID

    rows = {r.l_min: r for r in QUERIES["q245_l_diversity_census"](spark, sf_dir).collect()}
    assert set(rows) == set(_LDIV_GRID)
    groups: dict = {}
    total = 0
    for r in load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", "lang"
    ).collect():
        key = (r.source, r.n_chars // 100)
        g = groups.setdefault(key, [0, set()])
        g[0] += 1
        g[1].add(r.lang)
        total += 1
    prev = (-1, -1)
    for l in sorted(_LDIV_GRID):
        r = rows[l]
        gb = sum(1 for n, s in groups.values() if len(s) < l)
        rb = sum(n for n, s in groups.values() if len(s) < l)
        assert (r.groups_below_l, r.rows_below_l) == (gb, rb)
        assert r.n_groups == len(groups)
        assert r.at_risk_milli == 1000 * rb // total
        assert (r.groups_below_l, r.rows_below_l) >= prev
        prev = (r.groups_below_l, r.rows_below_l)


def test_q246_grid_monotonicity_and_q204_consistency(spark, sf_dir):
    """Packing-curve laws: sequences decrease and waste increases with
    L; waste_milli matches its components; and the L=256 grid point
    agrees with q204's per-language census summed."""
    from multi_threaded_mapreduce_framework_spark.queries.t2_r8 import _PACK_GRID

    rows = {r.seq_len: r for r in QUERIES["q246_packing_efficiency_curve"](spark, sf_dir).collect()}
    assert set(rows) == set(_PACK_GRID)
    ls = sorted(_PACK_GRID)
    for a, b in zip(ls, ls[1:]):
        assert rows[a].n_seqs >= rows[b].n_seqs
        assert rows[a].waste_tokens <= rows[b].waste_tokens
    for L in ls:
        r = rows[L]
        assert r.waste_milli == 1000 * r.waste_tokens // (r.n_seqs * L)
        assert 0 <= r.n_split_docs
    q204 = QUERIES["q204_sequence_packing"](spark, sf_dir).collect()
    assert rows[256].n_seqs == sum(r.n_seqs for r in q204)
    assert rows[256].n_split_docs == sum(r.n_split_docs for r in q204)
    assert rows[256].waste_tokens == sum(
        256 * r.n_seqs - r.total_tokens for r in q204
    )

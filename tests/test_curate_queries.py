"""Invariant tests for the round-6 curation queries (q195/q196):
properties the DuckDB value-hash alone can't pin — the winnowing
match guarantee, the MOSS rightmost tiebreak, and the stream-join
readback's session cache discipline."""

from __future__ import annotations

import pyspark.sql.functions as F

from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.queries.t2_curate import (
    _WIN_K,
    _WIN_W,
    winnow_fingerprints,
)
from multi_threaded_mapreduce_framework_spark.sources.memo import (
    memo_stats,
    session_state,
)

QUERIES = all_queries()


def _must_not_run(base):
    raise AssertionError(f"stream must not re-run (new build in {base})")


def _held_state(spark, sf_dir, name):
    """The session memo's entry for the stream state ``name``; fails
    if the memo does not hold one."""
    return session_state(spark, sf_dir, name, _must_not_run)


def _assert_hits_only(before, after):
    assert after["hits"] > before["hits"]
    assert after["misses"] == before["misses"], "stream must not re-run"


def _fps(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    rows = winnow_fingerprints(docs).select("doc_id", "fps").collect()
    return {r.doc_id: set(r.fps) for r in rows}


def test_winnowing_match_guarantee(spark):
    """Schleimer et al. Theorem: any substring match of length
    >= K + W - 1 (= 8 here) yields at least one SHARED fingerprint.
    Two documents with different padding around a common 12-char
    substring must intersect; two with no common 5-gram must not."""
    shared = "hello winnow"
    a = f"qqqq {shared} zzzz"
    b = f"mmmmmm {shared} tttt"
    c = "0123456789"  # digits: no 5-gram in common with a or b
    fps = _fps(spark, [a, b, c])
    assert fps[0] & fps[1], "shared 12-char substring must share a fingerprint"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_winnowing_rightmost_tiebreak(spark):
    """Constant text => every gram hash equal => each window's min is
    its RIGHTMOST position (the MOSS tiebreak): all m - W + 1 windows
    select distinct positions, and exactly one distinct hash value."""
    n = 20
    docs = spark.createDataFrame([(0, "a" * n)], "doc_id bigint, text string")
    row = winnow_fingerprints(docs).select(
        F.size("fps").alias("n_sel"),
        F.size(F.array_distinct("fps")).alias("n_hashes"),
    ).collect()[0]
    m = n - _WIN_K + 1
    assert row.n_sel == m - _WIN_W + 1
    assert row.n_hashes == 1


def test_winnowing_density_theory(spark, sf_dir):
    """Expected density of random-text winnowing is 2/(W+1) = 0.4; the
    fixture corpus must land near it (the census the oracle hash-gates
    already pins the exact value; this pins the THEORY link)."""
    out = QUERIES["q195_winnowing_fingerprints"].builder(spark, sf_dir).collect()
    for r in out:
        assert 0.35 <= r.density <= 0.45, (r.lang, r.density)


def test_q196_cache_and_lag_bounds(spark, sf_dir):
    """The stream runs ONCE per (app, sf) — a second build must reuse
    the session cache — and every attributed pair respects the join's
    range bound: 0 <= min_lag_us and per-user lags sum within
    n_pairs * 1 hour."""
    build = QUERIES["q196_stream_stream_join_readback"].builder
    first = {tuple(r) for r in build(spark, sf_dir).collect()}
    sentinel = _held_state(spark, sf_dir, "ssjoin_readback")
    before = memo_stats(spark)
    second = {tuple(r) for r in build(spark, sf_dir).collect()}
    assert _held_state(spark, sf_dir, "ssjoin_readback") is sentinel
    _assert_hits_only(before, memo_stats(spark))
    assert first == second and first
    hour_us = 3_600 * 1_000_000
    for user_id, n_pairs, n_clicks, n_purchases, sum_lag, min_lag in first:
        assert 0 <= min_lag <= hour_us
        assert min_lag <= sum_lag <= n_pairs * hour_us
        assert 1 <= n_clicks <= n_pairs and 1 <= n_purchases <= n_pairs

def test_q273_left_join_flushes_and_reconciles(spark, sf_dir):
    """The left-outer readback census must (a) reuse its session cache,
    (b) really contain NULL-FLUSHED rows (some user has unmatched
    clicks — otherwise the row degenerates to q196), (c) account for
    every click exactly once across matched+unmatched (n_clicks per
    user == that user's raw click count, and n_rows == n_matched +
    n_unmatched), and (d) respect the join's range bound on lags."""
    from multi_threaded_mapreduce_framework_spark.sources import load_table

    build = QUERIES["q273_stream_left_join_readback"].builder
    rows = {r.user_id: r for r in build(spark, sf_dir).collect()}
    sentinel = _held_state(spark, sf_dir, "ssljoin_readback")
    before = memo_stats(spark)
    again = {r.user_id: r for r in build(spark, sf_dir).collect()}
    assert _held_state(spark, sf_dir, "ssljoin_readback") is sentinel
    _assert_hits_only(before, memo_stats(spark))
    assert rows.keys() == again.keys() and rows

    clicks = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .filter("event_type = 'click'")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # every clicking user appears (left join drops no left rows)
    assert rows.keys() == clicks.keys()
    hour_us = 3_600 * 1_000_000
    total_unmatched = 0
    for uid, r in rows.items():
        assert r.n_rows == r.n_matched + r.n_unmatched_clicks
        assert r.n_clicks == clicks[uid]
        assert 0 <= r.sum_lag_us <= r.n_matched * hour_us
        if r.n_matched == 0:
            assert r.sum_lag_us == 0
        total_unmatched += r.n_unmatched_clicks
    assert total_unmatched > 0, "no null-flushed outer rows — gate degenerate"


def test_q274_stream_static_enrich_laws(spark, sf_dir):
    """The stream-static readback must (a) reuse its session cache,
    (b) cover exactly the batch LEFT-join group domain (every nation
    0-7 that user_id%10 hits, plus '<unmatched>' for the 8-9
    residues — the stateless null path really emitted), (c) conserve
    events and users against the raw fixture."""
    from multi_threaded_mapreduce_framework_spark.sources import load_table

    build = QUERIES["q274_stream_static_enrich_readback"].builder
    rows = {r.nation: r for r in build(spark, sf_dir).collect()}
    sentinel = _held_state(spark, sf_dir, "ssenrich_readback")
    before = memo_stats(spark)
    again = {r.nation: r for r in build(spark, sf_dir).collect()}
    assert _held_state(spark, sf_dir, "ssenrich_readback") is sentinel
    _assert_hits_only(before, memo_stats(spark))
    assert rows.keys() == again.keys() and rows

    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    batch: dict = {}
    for r in (
        ev.selectExpr("user_id % 10 AS nk", "user_id", "event_id")
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("u"),
        )
        .collect()
    ):
        k = r.nk if r.nk < 8 else None  # residues 8-9 merge into <unmatched>
        n, u = batch.get(k, (0, 0))
        # distinct-user counts ADD across residues: user_id % 10 is a
        # function of user_id, so residue groups partition the users
        batch[k] = (n + r.n, u + r.u)
    # events conserve across the enriched census
    assert sum(r.n_events for r in rows.values()) == n_events
    # the stateless null path really emitted (residues 8-9 exist in
    # the fixture user domain at every sf — sf0.001 users are 0-14)
    assert "<unmatched>" in rows and rows["<unmatched>"].n_events > 0
    # per-group event counts match the batch law (users can repeat
    # across nk groups only if user_id%25 differs — it can't — so the
    # distinct-user counts match per group too)
    dim = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, sf_dir, "nation")
        .filter("n_nationkey < 8")
        .collect()
    }
    for nk, (n, u) in batch.items():
        name = dim[nk] if nk is not None else "<unmatched>"
        assert rows[name].n_events == n and rows[name].n_users == u


def test_q275_full_join_reconciles_both_sides(spark, sf_dir):
    """The full-outer readback must (a) reuse its session cache,
    (b) partition every row into matched / click-only / purchase-only,
    (c) account for every click AND every purchase of every user
    exactly once in the distinct columns, (d) flush BOTH null
    directions (some click-only and some purchase-only rows exist —
    otherwise the row degenerates to q273/q196), (e) respect the lag
    range bound."""
    from multi_threaded_mapreduce_framework_spark.sources import load_table

    build = QUERIES["q275_stream_full_join_readback"].builder
    rows = {r.user_id: r for r in build(spark, sf_dir).collect()}
    sentinel = _held_state(spark, sf_dir, "ssfjoin_readback")
    before = memo_stats(spark)
    again = {r.user_id: r for r in build(spark, sf_dir).collect()}
    assert _held_state(spark, sf_dir, "ssfjoin_readback") is sentinel
    _assert_hits_only(before, memo_stats(spark))
    assert rows.keys() == again.keys() and rows

    ev = load_table(spark, sf_dir, "events")
    per_user = {
        r.user_id: (r.c, r.p)
        for r in ev.filter("event_type IN ('click','purchase')")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "c"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("p"),
        )
        .collect()
        if r.c > 0 or r.p > 0
    }
    assert rows.keys() == per_user.keys()
    hour_us = 3_600 * 1_000_000
    tot_click_only = tot_purchase_only = 0
    for uid, r in rows.items():
        assert r.n_rows == r.n_matched + r.n_click_only + r.n_purchase_only
        c, p = per_user[uid]
        assert r.n_clicks == c and r.n_purchases == p
        assert 0 <= r.sum_lag_us <= r.n_matched * hour_us
        tot_click_only += r.n_click_only
        tot_purchase_only += r.n_purchase_only
    assert tot_click_only > 0, "no left null-flush — degenerate"
    assert tot_purchase_only > 0, "no right null-flush — degenerate"


def test_q276_semi_join_exactly_once_vs_q273(spark, sf_dir):
    """The semi readback must (a) reuse its session cache, (b) emit
    each converted click EXACTLY once (n_converted == n_distinct),
    (c) agree with q273's census cross-query: per user,
    converted == n_clicks - n_unmatched_clicks (the same replay, the
    same window law, two join modes), and the semi user set is exactly
    the users with at least one match."""
    build = QUERIES["q276_stream_semi_join_readback"].builder
    rows = {r.user_id: r for r in build(spark, sf_dir).collect()}
    sentinel = _held_state(spark, sf_dir, "sssemi_readback")
    before = memo_stats(spark)
    again = {r.user_id: r for r in build(spark, sf_dir).collect()}
    assert _held_state(spark, sf_dir, "sssemi_readback") is sentinel
    _assert_hits_only(before, memo_stats(spark))
    assert rows.keys() == again.keys() and rows

    left = {
        r.user_id: r
        for r in QUERIES["q273_stream_left_join_readback"]
        .builder(spark, sf_dir)
        .collect()
    }
    expected = {
        uid: r.n_clicks - r.n_unmatched_clicks
        for uid, r in left.items()
        if r.n_clicks - r.n_unmatched_clicks > 0
    }
    assert rows.keys() == expected.keys()
    for uid, r in rows.items():
        assert r.n_converted_clicks == r.n_distinct_clicks, "double emission"
        assert r.n_converted_clicks == expected[uid]
        assert r.min_click_event <= r.max_click_event

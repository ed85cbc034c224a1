"""Law-pinning tests for the round-9 continuation band (q252-q257):
the attrition waterfall replayed in pure integer Python, Hamilton's
apportionment laws (exact budget, quota rule), Cohen's kappa replayed
from q224's confusion census, the LSH S-curve replayed with the same
IEEE chain order plus its bands-vs-rows monotonicity, the append-mode
stream window census tied to its batch form, and the temperature
mixture's isqrt exactness law."""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F

from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.sources import load_table

QUERIES = {n: q.builder for n, q in all_queries().items()}


# ------------------------------------------------------------------ q252
def _waterfall_stage(text: str) -> tuple[int, int]:
    ws = text.split(" ")
    n = len(ws)
    ln = len(text.replace(" ", ""))
    nstop = sum(1 for w in ws if w in ("the", "a"))
    maxtok = max(ws.count(w) for w in set(ws))
    if n < 15 or n > 1000:
        return 1, n
    if ln < 3 * n or ln > 8 * n:
        return 2, n
    if 20 * nstop > 3 * n:
        return 3, n
    if 5 * maxtok > n:
        return 4, n
    return 0, n


def test_q252_matches_python_integer_replay(spark, sf_dir):
    """The whole waterfall replayed in pure integer Python (same
    cross-multiplied thresholds) — docs and token sums per stage."""
    texts = [
        r.text
        for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    acc: dict[int, list[int]] = {}
    for t in texts:
        st, n = _waterfall_stage(t)
        a = acc.setdefault(st, [0, 0])
        a[0] += 1
        a[1] += n
    out = {
        r.stage: [r.n_docs, r.n_tokens]
        for r in QUERIES["q252_filter_attrition_waterfall"](spark, sf_dir).collect()
    }
    assert out == acc


def test_q252_partitions_the_corpus(spark, sf_dir):
    """Waterfall rows partition the corpus: doc counts sum to the
    table count, and gate names map the declared stage order."""
    rows = QUERIES["q252_filter_attrition_waterfall"](spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == total
    names = {r.stage: r.gate for r in rows}
    full = {0: "keep", 1: "len", 2: "mwl", 3: "stop", 4: "top"}
    assert all(full[s] == g for s, g in names.items())


# ------------------------------------------------------------------ q253
def test_q253_hamilton_laws(spark, sf_dir):
    """Largest-remainder apportionment: the budget is spent EXACTLY,
    every stratum stays within 1 of its exact quota (the quota rule),
    and the whole allocation replays in Python."""
    rows = QUERIES["q253_eval_apportionment"](spark, sf_dir).collect()
    S = 1000
    total = sum(r.n_docs for r in rows)
    assert sum(r.seats for r in rows) == S
    for r in rows:
        fl = (S * r.n_docs) // total
        assert r.floor_seats == fl
        assert r.seats in (fl, fl + 1)
        assert r.extra_seat == r.seats - fl
    # full replay: leftover seats go to the largest remainders
    rem = sorted(
        ((S * r.n_docs) % total, r.lang) for r in rows
    )
    leftover = S - sum(r.floor_seats for r in rows)
    winners = {lang for _, lang in sorted(rem, key=lambda t: (-t[0], t[1]))[:leftover]}
    assert {r.lang for r in rows if r.extra_seat == 1} == winners


# ------------------------------------------------------------------ q254
def test_q254_kappa_replays_from_q224_confusion(spark, sf_dir):
    """Kappa recomputed in Python from q224's confusion census (the
    two rows share the prediction relation by construction, so the
    integer marginals must reconcile exactly, including the one
    floor()ed IEEE division)."""
    conf = QUERIES["q224_ngram_langid_confusion"](spark, sf_dir).collect()
    n = sum(r.cnt for r in conf)
    agree = sum(r.cnt for r in conf if r.lang == r.predicted)
    rm: dict[str, int] = {}
    cm: dict[str, int] = {}
    for r in conf:
        rm[r.lang] = rm.get(r.lang, 0) + r.cnt
        cm[r.predicted] = cm.get(r.predicted, 0) + r.cnt
    s = sum(v * cm.get(k, 0) for k, v in rm.items())
    row = QUERIES["q254_langid_agreement_kappa"](spark, sf_dir).collect()
    assert len(row) == 1
    r0 = row[0]
    assert (r0.n_docs, r0.n_agree) == (n, agree)
    assert (r0.po_micro, r0.pe_micro, r0.kappa_micro) == _kappa_exact(n, agree, s)


def _kappa_exact(n: int, agree: int, s: int) -> tuple[int, int, int]:
    """The kappa census in arbitrary-precision Python integers (Python
    ``//`` floors, matching the staged floor-division law)."""
    den = max(n * n - s, 1)
    return (
        (1_000_000 * agree) // n,
        (1_000_000 * s) // (n * n),
        (1_000_000 * (n * agree - s)) // den,
    )


def _synthetic_kappa_case(spark, conf_rows):
    """Drive BOTH halves of the q254 law (``kappa_from_conf`` on Spark,
    ``_KAPPA_TAIL_SQL`` on DuckDB) over a synthetic confusion relation
    and return (spark_row, duck_row, exact_triple)."""
    import duckdb

    from multi_threaded_mapreduce_framework_spark.queries.t2_r9 import (
        _KAPPA_TAIL_SQL,
        kappa_from_conf,
    )

    conf = spark.createDataFrame(
        conf_rows, "lang string, predicted string, cnt bigint"
    )
    got = kappa_from_conf(conf).collect()
    assert len(got) == 1
    values = ", ".join(
        f"('{lang}', '{pred}', CAST({cnt} AS BIGINT))"
        for lang, pred, cnt in conf_rows
    )
    con = duckdb.connect()
    duck = con.sql(
        f"WITH conf(lang, predicted, cnt) AS (VALUES {values}),"
        f"{_KAPPA_TAIL_SQL}"
    ).fetchall()
    con.close()
    assert len(duck) == 1
    n = sum(c for _, _, c in conf_rows)
    agree = sum(c for lang, pred, c in conf_rows if lang == pred)
    rm: dict[str, int] = {}
    cm: dict[str, int] = {}
    for lang, pred, c in conf_rows:
        rm[lang] = rm.get(lang, 0) + c
        cm[pred] = cm.get(pred, 0) + c
    s = sum(v * cm.get(k, 0) for k, v in rm.items())
    return got[0], duck[0], (n, agree) + _kappa_exact(n, agree, s)


def test_q254_kappa_exact_beyond_int53(spark):
    """VERDICT r10 item 4: the staged-division rescale must stay exact
    (and Spark/DuckDB hash-identical) for slices FAR beyond the old
    ~3e6-doc cliff — here n ~ 1.2e9 docs, where the old ``1000000 * s``
    int64 term (s ~ 2.6e17) would have overflowed by 10 orders of
    magnitude and the double path would have been ~2^7 past 2^53."""
    rows = [
        ("en", "en", 500_000_000),
        ("en", "de", 1_000_003),
        ("de", "de", 400_000_007),
        ("de", "en", 77),
        ("fr", "fr", 300_000_001),
        ("fr", "en", 12_345),
    ]
    got, duck, exact = _synthetic_kappa_case(spark, rows)
    assert tuple(got) == exact
    assert tuple(duck) == exact
    assert exact[0] > 1_000_000_000  # really beyond the old envelope


def test_q254_kappa_negative_floor_branch_at_scale(spark):
    """Worse-than-chance agreement at n ~ 1.1e9: the kappa numerator is
    negative, so the explicit floor-division branch (trunc-toward-zero
    minus one on nonzero remainder) is what both engines exercise —
    the corner the old floor(double) handled implicitly."""
    rows = [
        ("a", "b", 600_000_000),
        ("b", "a", 500_000_000),
        ("a", "a", 3),
        ("b", "b", 7),
    ]
    got, duck, exact = _synthetic_kappa_case(spark, rows)
    assert tuple(got) == exact
    assert tuple(duck) == exact
    assert exact[4] < 0  # kappa_micro really negative


def test_q254_kappa_small_slice_unchanged(spark):
    """The rescale must not move any value inside the old envelope —
    a small confusion relation still matches exact integers (and the
    old floor(double) law, which was exact there)."""
    rows = [("en", "en", 40), ("en", "de", 10), ("de", "de", 30), ("de", "en", 20)]
    got, duck, exact = _synthetic_kappa_case(spark, rows)
    assert tuple(got) == exact
    assert tuple(duck) == exact
    n, agree, s = 100, 70, (50 * 60 + 50 * 40)
    assert exact[4] == math.floor(1000000.0 * (n * agree - s) / (n * n - s))


# ------------------------------------------------------------------ q255
def _pow16(x: float, e: int) -> float:
    # same multiplication order as the SQL squaring chain
    x2 = x * x
    x4 = x2 * x2
    x8 = x4 * x4
    return {1: x, 2: x2, 4: x4, 8: x8, 16: x8 * x8}[e]


def test_q255_matches_python_ieee_replay(spark, sf_dir):
    """The design table replayed in Python from the raw corpus: exact
    distinct-token Jaccard pairs under the size band, then the S-curve
    with the SAME IEEE multiplication order (CPython doubles are the
    same IEEE ops), floored to micro per similarity value."""
    docs = {
        r.doc_id: set(r.text.split(" "))
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", "text")
        .collect()
    }
    ids = sorted(docs)
    hist: dict[int, int] = {}
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            n1, n2 = len(docs[d1]), len(docs[d2])
            if 1000 * min(n1, n2) < 300 * max(n1, n2):
                continue
            inter = len(docs[d1] & docs[d2])
            if inter == 0:
                # the pair relation is the INVERTED-INDEX one (q243's
                # declared law): pairs sharing zero tokens never meet
                continue
            j = 1000 * inter // (n1 + n2 - inter)
            hist[j] = hist.get(j, 0) + 1
    expect = {}
    for b, r in ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)):
        n_pairs = exp_cand = n_true = exp_true = 0
        for j, cnt in hist.items():
            s = float(j) / 1000.0
            q1 = 1.0 - _pow16(s, r)
            p_micro = math.floor(1000000.0 * (1.0 - _pow16(q1, b)))
            n_pairs += cnt
            exp_cand += cnt * p_micro
            if j >= 500:
                n_true += cnt
                exp_true += cnt * p_micro
        expect[(b, r)] = (n_pairs, exp_cand, n_true, exp_true)
    out = {
        (r.bands, r.rows_per_band): (
            r.n_pairs,
            r.exp_cand_micro,
            r.n_true,
            r.exp_true_micro,
        )
        for r in QUERIES["q255_lsh_design_curve"](spark, sf_dir).collect()
    }
    assert out == expect


def test_q255_more_bands_never_lose_candidates(spark, sf_dir):
    """For a fixed minhash budget the S-curve is pointwise monotone:
    splitting into more, shorter bands can only raise the collision
    probability (1-(1-s^r)^b at rb=const decreases in r) — so both
    expectation columns must be ordered by r."""
    rows = sorted(
        QUERIES["q255_lsh_design_curve"](spark, sf_dir).collect(),
        key=lambda r: r.rows_per_band,
    )
    for a, b in zip(rows, rows[1:]):
        assert a.exp_cand_micro >= b.exp_cand_micro
        assert a.exp_true_micro >= b.exp_true_micro
    # and every design sees the same underlying pair relation
    assert len({(r.n_pairs, r.n_true) for r in rows}) == 1


# ------------------------------------------------------------------ q256
def test_q256_stream_census_equals_batch_windows(spark, sf_dir):
    """Append-mode watermarked tumbling windows converge to the batch
    window census exactly (the q24 law with integer-micro sums), and
    the sentinel's unfinalized window is absent."""
    got = {
        (r.win_start, r.event_type): (r.cnt, r.sum_micro)
        for r in QUERIES["q256_stream_window_census"](spark, sf_dir).collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(
                F.expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
            )
            .cast("bigint")
            .alias("sum_micro"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "cnt",
            "sum_micro",
        )
        .collect()
    )
    assert got == {
        (r.win_start, r.event_type): (r.cnt, r.sum_micro) for r in batch
    }


# ------------------------------------------------------------------ q257
def test_q257_isqrt_exact_and_python_replay(spark, sf_dir):
    """w is EXACTLY isqrt(tokens) (w^2 <= n < (w+1)^2 — the law the
    one-step correction must guarantee), shares under-spend at most
    |langs| micro, and the whole row replays via math.isqrt."""
    rows = QUERIES["q257_temperature_mixture"](spark, sf_dir).collect()
    tt = sum(r.n_tokens for r in rows)
    sw = sum(math.isqrt(r.n_tokens) for r in rows)
    for r in rows:
        w = math.isqrt(r.n_tokens)
        assert r.w_isqrt == w
        assert w * w <= r.n_tokens < (w + 1) * (w + 1)
        assert r.share_micro == (1_000_000 * w) // sw
        assert r.boost_milli == (1000 * w * tt) // (r.n_tokens * sw)
    assert 1_000_000 - len(rows) < sum(r.share_micro for r in rows) <= 1_000_000


# ------------------------------------------------------------------ q258
def test_q258_stream_sliding_equals_batch_and_4x_law(spark, sf_dir):
    """Append-mode sliding windows converge to the batch sliding
    census exactly, and the overlap law holds: each event lands in
    exactly windowDuration/slide = 4 windows, so window counts sum to
    4x the event count."""
    got = {
        (r.win_start, r.event_type): (r.cnt, r.sum_micro)
        for r in QUERIES["q258_stream_sliding_census"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(
                F.expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
            )
            .cast("bigint")
            .alias("sum_micro"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "cnt",
            "sum_micro",
        )
        .collect()
    )
    assert got == {
        (r.win_start, r.event_type): (r.cnt, r.sum_micro) for r in batch
    }
    assert sum(c for c, _ in got.values()) == 4 * ev.count()


# ------------------------------------------------------------------ q259
def test_q259_matches_python_replay(spark, sf_dir):
    """The per-source datasheet replayed in Python, including the
    corpus-GLOBAL duplicate law (a doc is dup if its normalized text
    appears more than once anywhere, not just within its source)."""
    rows = (
        load_table(spark, sf_dir, "documents")
        .select("source", "lang", "text")
        .collect()
    )
    from collections import Counter

    global_norm = Counter(r.text.lower().strip() for r in rows)
    acc: dict[str, list] = {}
    for r in rows:
        norm = r.text.lower().strip()
        a = acc.setdefault(r.source, [0, 0, set(), set(), 0])
        a[0] += 1
        a[1] += len(r.text.split(" "))
        a[2].add(r.lang)
        a[3].add(norm)
        a[4] += 1 if global_norm[norm] > 1 else 0
    out = {
        r.source: (r.n_docs, r.n_tokens, r.n_langs, r.uniq_texts, r.dup_docs)
        for r in QUERIES["q259_source_datasheet"](spark, sf_dir).collect()
    }
    assert out == {
        s: (a[0], a[1], len(a[2]), len(a[3]), a[4]) for s, a in acc.items()
    }


# ------------------------------------------------------------------ q260
def test_q260_matches_python_integer_replay(spark, sf_dir):
    """t-closeness replayed in exact integer Python, including the
    closed-form absent-lang mass; census laws (monotone in t, at-risk
    consistency) follow from the replay equality."""
    from collections import Counter

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("source", "lang", F.expr("n_chars div 100").alias("b"))
        .collect()
    )
    glob = Counter(r.lang for r in rows)
    N = len(rows)
    groups: dict[tuple, Counter] = {}
    for r in rows:
        groups.setdefault((r.source, r.b), Counter())[r.lang] += 1
    tvds = {}
    for gk, cnts in groups.items():
        ng = sum(cnts.values())
        num = sum(abs(c * N - glob[la] * ng) for la, c in cnts.items())
        num += ng * (N - sum(glob[la] for la in cnts))
        tvds[gk] = (1000 * num) // (2 * ng * N), ng
    out = {
        r.t_milli: (
            r.groups_above_t,
            r.rows_above_t,
            r.at_risk_milli,
            r.n_groups,
            r.max_tvd_milli,
        )
        for r in QUERIES["q260_t_closeness_census"](spark, sf_dir).collect()
    }
    mx = max(t for t, _ in tvds.values())
    for t in (100, 200, 300):
        above = [(t_, ng) for t_, ng in tvds.values() if t_ > t]
        rows_above = sum(ng for _, ng in above)
        assert out[t] == (
            len(above),
            rows_above,
            (1000 * rows_above) // N,
            len(tvds),
            mx,
        )


# ------------------------------------------------------------------ q261
def test_q261_matches_python_replay_and_monotone(spark, sf_dir):
    """Coverage curve replayed via Counter + the deterministic
    (count desc, token asc) rank; covered mass monotone in V."""
    from collections import Counter

    cnt = Counter()
    for r in load_table(spark, sf_dir, "documents").select("text").collect():
        cnt.update(r.text.split(" "))
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(cnt.values())
    out = {
        r.v: (r.covered_tokens, r.total_tokens, r.oov_milli, r.n_distinct)
        for r in QUERIES["q261_vocab_coverage_curve"](spark, sf_dir).collect()
    }
    for v in (1000, 2000, 4000):
        covered = sum(c for _, c in ranked[:v])
        assert out[v] == (
            covered,
            total,
            (1000 * (total - covered)) // total,
            len(ranked),
        )
    vs = sorted(out)
    for a, b in zip(vs, vs[1:]):
        assert out[a][0] <= out[b][0]
        assert out[a][2] >= out[b][2]


# ------------------------------------------------------------------ q262
def test_q262_restart_readback_equals_batch(spark, sf_dir):
    """The post-restart readback equals the batch census exactly —
    every event counted once across the stop/downtime-arrival/restart
    sequence (the split-restart law itself is pinned end to end by
    tests/test_streaming.py::test_checkpoint_recovery_no_duplicates;
    this ties the DECLARED row to the batch law through Spark)."""
    got = {
        r.event_type: (r.cnt, r.sum_micro)
        for r in QUERIES["q262_stream_restart_readback"](spark, sf_dir).collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(
                F.expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
            )
            .cast("bigint")
            .alias("sum_micro"),
        )
        .collect()
    )
    assert got == {r.event_type: (r.cnt, r.sum_micro) for r in batch}


# ------------------------------------------------------------------ q263
def test_q263_file_sink_used_commit_log_and_matches_batch(spark, sf_dir, build_dir):
    """The sink census equals the un-duplicated batch census AND the
    sink directory really is a streaming file sink (``_spark_metadata``
    commit log present) — i.e. the exactly-once guarantee came from
    the transaction log + recovered dedup state, not from a plain
    batch write."""
    got = {
        r.event_type: r.cnt
        for r in QUERIES["q263_stream_file_sink_readback"](spark, sf_dir).collect()
    }
    batch = {
        r.event_type: r.cnt
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .collect()
    }
    assert got == batch
    sink = os.path.join(build_dir(sf_dir, "file_sink_readback"), "sink")
    assert os.path.isdir(os.path.join(sink, "_spark_metadata"))
    # and the raw file set (commit log ignored) contains MORE rows than
    # the committed view iff any batch retried — at minimum it equals;
    # the committed count is what must match the batch law
    committed = sum(got.values())
    assert committed == sum(batch.values())


# ------------------------------------------------------------------ q264
def test_q264_upsert_equals_batch_argmax_and_versioned_state(
    spark, sf_dir, build_dir
):
    """The foreachBatch-merged table equals the batch last-write-wins
    argmax, and the batch_id-keyed state versions really exist (the
    idempotent-sink discipline: a replayed batch overwrites its own
    version instead of double-merging)."""
    from pyspark.sql.window import Window as W

    got = {
        r.user_id: r.vm
        for r in QUERIES["q264_stream_upsert_readback"](spark, sf_dir).collect()
    }
    w = W.partitionBy("user_id").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            "unix_micros(ts) AS us",
            "event_id",
            "coalesce(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0) AS vm",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    )
    assert got == {r.user_id: r.vm for r in batch}
    base = build_dir(sf_dir, "upsert_readback")
    versions = [d for d in os.listdir(base) if d.startswith("state_v")]
    assert len(versions) >= 2, versions


# ------------------------------------------------------------------ q265
def test_q265_changelog_properties_and_batch_equality(spark, sf_dir, build_dir):
    """Update-mode changelog: final per-user state recovered from the
    change feed equals the batch census; the raw feed carries MORE
    rows than users (keys updated across multiple batches re-emit) and
    each user's cnt emissions are strictly increasing (never a stale
    or duplicate emission)."""
    got = {
        r.user_id: (r.cnt, r.sum_micro)
        for r in QUERIES["q265_stream_update_changelog"](spark, sf_dir).collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(
                F.expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
            )
            .cast("bigint")
            .alias("sum_micro"),
        )
        .collect()
    )
    assert got == {r.user_id: (r.cnt, r.sum_micro) for r in batch}
    # the memory sink is named after its build directory
    sink = os.path.basename(build_dir(sf_dir, "update_changelog"))
    raw = spark.table(sink).collect()
    assert len(raw) > len(got)
    seen: dict[int, list[int]] = {}
    for r in raw:
        seen.setdefault(r.user_id, []).append(r.cnt)
    for cnts in seen.values():
        assert len(cnts) == len(set(cnts))  # strictly distinct emissions


# ------------------------------------------------------------------ q266
def test_q266_stream_census_equals_batch_source_census(spark, sf_dir):
    """The streaming Python-source census equals q192's batch-source
    census exactly — same generator law through two different reader
    APIs (DataSourceReader with pushed range vs DataSourceStreamReader
    with offset-paced micro-batches)."""
    got = {
        (r.lang, r.source): (r.n_docs, r.sum_words, r.sum_chars, r.min_doc, r.max_doc)
        for r in QUERIES["q266_pydatasource_stream_census"](spark, sf_dir).collect()
    }
    batch = {
        (r.lang, r.source): (r.n_docs, r.sum_words, r.sum_chars, r.min_doc, r.max_doc)
        for r in QUERIES["q192_docgen_census"](spark, sf_dir).collect()
    }
    assert got == batch

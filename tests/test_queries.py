"""Driver-harness rehearsal: run every queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet, compare row count, column
names, and order-insensitive values — the same gate CORRECTNESS_r{N}.json
applies (at sf0.001 here for speed; the driver runs sf0.01)."""

import datetime
import math
import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkcrawl.queries import TABLES, oracle_sql, queries  # noqa: E402

Q = queries()
O = oracle_sql()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return repr(v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def test_bench_headline_names_resolve():
    """Every name bench.py times must exist in the battery — a typo'd
    HEADLINE (or index_build) entry would crash the driver's bench run
    at round end, which is far too late to notice."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from bench import HEADLINE

    missing = [n for n in HEADLINE if n not in Q]
    assert not missing, missing
    assert len(HEADLINE) == len(set(HEADLINE))  # no double-timed entries
    for n in ("ann_ivf_multiprobe", "ann_pq", "media_ann",
              "depth_histogram", "stream_stateful_totals"):
        assert n in Q, n  # warmup + index_build legs


def test_every_query_has_callable_and_most_have_oracles():
    assert len(Q) >= 25
    missing = [k for k in O if k not in Q]
    assert not missing
    no_oracle = [k for k in Q if k not in O]
    # round 5: approx_users gained a bounded-error oracle — the battery now
    # has ZERO no-oracle entries (VERDICT r4 #1)
    assert not no_oracle, no_oracle


def _green_history() -> dict[str, list[int]]:
    """Per-entry rounds with a fully-green driver row, from every recorded
    CORRECTNESS_r<N>.json artifact on disk."""
    import json
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hist: dict[str, list[int]] = {}
    for fname in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        with open(os.path.join(root, fname)) as f:
            for k, v in json.load(f).items():
                ok = (v.get("rows_match") and v.get("schema_match")
                      and (v.get("hash_match") or v.get("err") == "no_oracle"))
                if ok:
                    hist.setdefault(k, []).append(int(m.group(1)))
    return hist


def test_driver_window_rotation_policy():
    """The driver's CORRECTNESS gate checks only list(queries())[:50]
    (VERDICT r3 #1), so queries() must put the entries with the stalest
    driver signal first. Pinned against the recorded CORRECTNESS artifacts,
    not against a hand-maintained name list: never-green entries lead, the
    last green round never decreases along the order, and everything past
    the window was green in the newest recorded round."""
    hist = _green_history()
    order = list(Q)
    green = [n in hist for n in order]
    assert green == sorted(green), "never-green entries must come first"
    last = [max(hist[n]) for n in order if n in hist]
    assert last == sorted(last), list(zip(order, last))
    if hist:
        newest = max(r for rs in hist.values() for r in rs)
        stale = [n for n in order[50:] if newest not in hist.get(n, [])]
        assert not stale, stale


@pytest.mark.parametrize("name", sorted(Q))
def test_query_matches_oracle(spark, duck, name):
    sdf = Q[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if name not in O:
        assert len(srows) >= 0  # rows-only check (driver records weaker gate)
        return
    res = duck.execute(O[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)} rows"
    assert _rowset(scols, srows) == _rowset(dcols, drows), name


@pytest.mark.parametrize("name", ["boilerplate_ngrams", "contamination",
                                  "minhash_signatures", "paragraph_dedup",
                                  "lm_perplexity", "tfidf_top_terms",
                                  "dsir_weights", "dup_spans", "pii_redact",
                                  "winnowing", "mixture_weights",
                                  "bm25_search", "quality_classifier",
                                  "badwords_filter", "gopher_rules"])
def test_text_queries_survive_short_documents(spark, duck, name):
    """Spark's sequence(1, n) DESCENDS when n < 1, so an unguarded shingle/
    chunk explode crashes on 1-2-token documents (element_at(…, 0)). Every
    text-exploding battery query must run — and still match its oracle — on
    a corpus of degenerate documents."""
    rows = [(1, "x", "en"), (2, "a b", "en"), (3, "", "en"),
            (4, "one two three four five six seven eight nine ten eleven",
             "en")]
    sdf = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sdf.createOrReplaceTempView("documents")
    try:
        from sparkcrawl.queries import REGISTRY
        build = REGISTRY[name].sql
        sql_spark = build("spark")
        srows = spark.sql(sql_spark).collect()
        scols = spark.sql(sql_spark).columns
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR,"
                    " lang VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
        res = con.execute(build("duckdb"))
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        assert _rowset(scols, [tuple(r) for r in srows]) == \
            _rowset(dcols, drows), name
    finally:
        spark.catalog.dropTempView("documents")


def test_asof_join_oracle_equals_duckdb_native_asof(duck):
    """The portable as-of formulation (union-tag + running MAX + payload
    join-back) is pinned against DuckDB's NATIVE `ASOF LEFT JOIN` — the
    independent reference implementation of the semantics: latest purchase
    with p.ts <= v.ts per user, -1 sentinels when none exists."""
    native = duck.execute("""
        SELECT v.event_id AS v_event_id, v.user_id AS user_id,
               COALESCE(p.event_id, CAST(-1 AS BIGINT)) AS p_event_id,
               COALESCE(epoch_us(v.ts) - epoch_us(p.ts),
                        CAST(-1 AS BIGINT)) AS gap_us,
               COALESCE(CAST(ROUND(p.value * 100) AS BIGINT),
                        CAST(-1 AS BIGINT)) AS p_cents
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        ASOF LEFT JOIN
             (SELECT * FROM events WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id AND v.ts >= p.ts
    """).fetchall()
    portable = duck.execute(O["asof_join"]).fetchall()
    assert sorted(portable) == sorted(native)
    assert any(r[2] == -1 for r in portable)      # some views precede any purchase
    assert any(r[2] != -1 for r in portable)      # and most have a match


def test_asof_join_no_fanout_on_tied_purchase_timestamps(spark):
    """ADVICE r4 (medium): two purchases sharing (user_id, ts) must not fan
    the payload join-back out — the match is deduped per (user_id, p_us)
    with a deterministic max-event_id tie-break. At the 10^10-row design
    point same-microsecond collisions are near-certain, so this pins the
    collision case the natural fixtures never exercise: exactly one output
    row per view, matched to the HIGHEST event_id among tied purchases, and
    Spark ≡ DuckDB on the colliding input."""
    from sparkcrawl.queries import _q_asof_join

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 7: two purchases at the SAME microsecond, then a view
        (1, 7, "purchase", t0, 10.00, "{}"),
        (2, 7, "purchase", t0, 20.00, "{}"),
        (3, 7, "view", t0 + datetime.timedelta(seconds=5), 0.0, "{}"),
        # user 8: a view with no prior purchase (sentinel path intact)
        (4, 8, "view", t0, 0.0, "{}"),
        # user 7: a later lone purchase, then a view — normal path intact
        (5, 7, "purchase", t0 + datetime.timedelta(seconds=10), 30.00, "{}"),
        (6, 7, "view", t0 + datetime.timedelta(seconds=11), 0.0, "{}"),
    ]
    schema = ("event_id long, user_id long, event_type string, "
              "ts timestamp, value double, payload string")
    sdf = spark.createDataFrame(rows, schema)
    sdf.createOrReplaceTempView("events")
    try:
        srows = sorted(tuple(r) for r in
                       spark.sql(_q_asof_join("spark"))
                       .collect())
        con = duckdb.connect()
        con.execute("CREATE TABLE events(event_id BIGINT, user_id BIGINT,"
                    " event_type VARCHAR, ts TIMESTAMP, value DOUBLE,"
                    " payload VARCHAR)")
        con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", rows)
        drows = sorted(tuple(r) for r in
                       con.execute(_q_asof_join("duckdb"))
                       .fetchall())
        assert srows == drows
        by_view = {r[0]: r for r in srows}
        assert len(srows) == 3 and set(by_view) == {3, 4, 6}  # one row/view
        assert by_view[3][2] == 2 and by_view[3][4] == 2000  # max event_id tie
        assert by_view[4][2] == -1                            # sentinel
        assert by_view[6][2] == 5 and by_view[6][4] == 3000   # later purchase
    finally:
        spark.catalog.dropTempView("events")


def test_staged_division_exact_at_design_point_magnitudes():
    """ADVICE r4: mixture_weights / recrawl_priority must not overflow
    BIGINT at 100 TB magnitudes. Their staged long divisions are pinned
    here against Python's unbounded integers — same formulas, adversarial
    operands past the point where the old single-expression forms
    (all_tok·1e6, age_s·rate_micro, chg_day·1e6) blow through 2^63."""
    import itertools
    B = 2**63

    # mixture_weights: CASE q0>=100 → cap, else min(q0·1e6+q1·1e3+q2, cap)
    # ≡ min((all_tok·1e6) // D, 1e8) — and the uncapped branch's
    # intermediates only materialize when q0 < 100
    CAP = 100000000
    for all_tok, d in itertools.product(
            [1, 999, 10**13 + 7, 9 * 10**14], [1, 3, 10**13 + 1, 9 * 10**14]):
        q0, r0 = divmod(all_tok, d)
        if q0 >= 100:
            staged = CAP
        else:
            x1 = r0 * 1000
            staged = min(q0 * 1000000 + (x1 // d) * 1000
                         + ((x1 % d) * 1000) // d, CAP)
            # every BIGINT-visible intermediate fits
            assert max(q0 * 1000000, x1, (x1 % d) * 1000) < B, (all_tok, d)
        assert staged == min((all_tok * 1000000) // d, CAP), (all_tok, d)

    # recrawl rate: (chg_day//s)·1e6 + (chg_day%s)·1e6//s ≡ chg_day·1e6//s
    for n_obs, span_s in itertools.product(
            [2, 10**6, 10**11], [1, 86399, 10**9, 9 * 10**12 - 1]):
        chg_day = (n_obs - 1) * 86400
        staged = ((chg_day // span_s) * 1000000
                  + ((chg_day % span_s) * 1000000) // span_s)
        assert staged == (chg_day * 1000000) // span_s, (n_obs, span_s)
        assert (chg_day % span_s) * 1000000 < B

    # recrawl priority: age·(r//86400) + (age·(r%86400))//86400 ≡ (age·r)//86400
    for age_s, rate in itertools.product(
            [0, 1, 10**9], [0, 86399, 4 * 10**13, 9 * 10**9]):
        staged = (age_s * (rate // 86400)
                  + (age_s * (rate % 86400)) // 86400)
        assert staged == (age_s * rate) // 86400, (age_s, rate)
        assert age_s * (rate % 86400) < B
        assert staged < B  # intermediates bounded by ~the result


def test_ann_pq_recall_vs_exact_l2(duck):
    """PQ is approximate by construction — pin its measured quality: the
    top-10 by PQ (ADC short-list + exact re-rank) must recover most of the
    true top-10 by exact fixed-point L2. The 16×4-dim/K=16/short-list-64
    geometry was chosen for exactly this recall (9/10 at sf0.001, 8/10 at
    sf0.01); a regression below 7 means the codebook or ADC broke."""
    from sparkcrawl.queries import _kmeans_explode, _q_ann_pq

    exact = {r[0] for r in duck.execute(f"""
      WITH ev AS ({_kmeans_explode('duckdb')}),
      qv AS (SELECT dim, v FROM ev WHERE vec_id = 0)
      SELECT e.vec_id FROM ev e JOIN qv q ON q.dim = e.dim
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id
      ORDER BY SUM((e.v - q.v) * (e.v - q.v)) ASC, e.vec_id ASC
      LIMIT 10""").fetchall()}
    pq = {r[0] for r in duck.execute(_q_ann_pq("duckdb")).fetchall()}
    assert len(pq & exact) >= 7, (sorted(pq), sorted(exact))


def test_bpe_merges_on_degenerate_corpus(spark, tmp_path):
    """BPE must survive a vocabulary of 1-char words (no pairs at all →
    empty merge table on BOTH engines, not a crash: Spark's
    sequence(1, 0) descends unless guarded) and a mixed corpus where
    pairs exhaust before _BPE_K merges (both engines stop emitting at
    the same step)."""
    import duckdb as _dd

    from sparkcrawl.queries import _q_bpe_merges_oracle, queries as _qs

    for words, label in (
        ("a b c a b", "no-pairs"),
        ("ab ab a b", "exhausts-early"),
    ):
        p = tmp_path / f"bpe_{label}"
        spark.createDataFrame(
            [(1, words, "en", "src0", len(words))],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(str(p / "documents.parquet"))
        # the fixture dir holds only documents.parquet, so stub out the
        # all-tables register_views and register the one view the twin
        # reads (same seam the short-document test uses on shared SQL)
        import sparkcrawl.queries as Qm

        spark.read.parquet(str(p / "documents.parquet")) \
            .createOrReplaceTempView("documents")
        orig = Qm.register_views
        Qm.register_views = lambda *_a, **_k: None
        try:
            srows = sorted(
                tuple(r)
                for r in Qm._bpe_merges_spark(spark, str(p)).collect()
            )
        finally:
            Qm.register_views = orig
            spark.catalog.dropTempView("documents")
        con = _dd.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{p}/documents.parquet/*.parquet'"  # Spark writes a dir
        )
        drows = sorted(tuple(r) for r in
                       con.execute(_q_bpe_merges_oracle()).fetchall())
        assert srows == drows, (label, srows, drows)
        if label == "no-pairs":
            assert srows == [], srows
        else:
            assert 0 < len(srows) < 12, srows


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(words=st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
                      min_size=1, max_size=8))
def test_bpe_merges_matches_oracle_on_random_corpora(spark, tmp_path_factory,
                                                     words):
    """Property: the Spark twin and the hand-built MATERIALIZED-CTE
    oracle learn the IDENTICAL merge table on arbitrary small corpora —
    the two implementations share no code, so any divergence in replace
    semantics, pair windowing, or tie-breaking shows here."""
    import uuid as _uuid

    import duckdb as _dd

    import sparkcrawl.queries as Qm

    p = tmp_path_factory.mktemp("bpe_prop") / _uuid.uuid4().hex[:8]
    text = " ".join(words)
    spark.createDataFrame(
        [(1, text, "en", "src0", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(p / "documents.parquet"))
    spark.read.parquet(str(p / "documents.parquet")) \
        .createOrReplaceTempView("documents")
    orig = Qm.register_views
    Qm.register_views = lambda *_a, **_k: None
    try:
        srows = sorted(tuple(r)
                       for r in Qm._bpe_merges_spark(spark, str(p)).collect())
    finally:
        Qm.register_views = orig
        spark.catalog.dropTempView("documents")
    con = _dd.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{p}/documents.parquet/*.parquet'")
    drows = sorted(tuple(r)
                   for r in con.execute(Qm._q_bpe_merges_oracle()).fetchall())
    assert srows == drows, (words, srows, drows)


def test_gopher_rules_signals_are_live(spark):
    """The composite Gopher filter must actually split the corpus — a
    kept column that is all-true (or all-false) means a threshold is
    pinned against dead data. Three of the five signals are live on the
    synthetic corpus (n_words, stop_hits, top_token_frac); mean_word_len
    and dup_3gram_frac are documented as vacuous-here/live-on-web-text,
    so this test pins exactly which rules bite."""
    rows = Q["gopher_rules"](spark, SF_DIR).collect()
    kept = [r["kept"] for r in rows]
    assert any(kept) and not all(kept), (sum(kept), len(kept))
    assert any(r["n_words"] < 30 for r in rows)
    assert any(r["stop_hits"] < 2 for r in rows)
    assert any(r["top_token_frac"] > 0.2 for r in rows)
    # the two documented-vacuous signals: computed, in-bounds everywhere
    assert all(3.0 <= r["mean_word_len"] <= 10.0 for r in rows)
    assert all(r["dup_3gram_frac"] <= 0.3 for r in rows)


def test_queries_md_index_is_current():
    """QUERIES.md (generated by tools/gen_query_index.py) must list exactly
    the registry entries in registry order — regenerate it when the battery
    changes. Names/order only: description edits and new CORRECTNESS
    records (which move the driver window) don't require a regen."""
    from sparkcrawl.queries import REGISTRY

    rows = [l.split("|")[2].strip().strip("`")
            for l in open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "QUERIES.md"))
            if l.startswith("|") and "---" not in l][1:]
    assert rows == list(REGISTRY), \
        "run: python tools/gen_query_index.py > QUERIES.md"

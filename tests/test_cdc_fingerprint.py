"""Semantic + plan tests for the CDC/SCD2/merge family and winnowing
fingerprints (the oracle harness checks cross-engine hashes; these pin
the operator CONTRACTS on adversarial synthetic inputs the generated
testdata can't produce — ties, single-version keys, shared substrings)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, ts=t, user_id=u, event_type=e, value=v)
         for (i, t, u, e, v) in rows]
    )


# ----------------------------------------------------------- CDC -------
def test_latest_state_picks_max_ts_and_breaks_ties_on_event_id(spark):
    from demo_etl_spark.operators.cdc import latest_state

    ev = _events(spark, [
        (1, _ts(0), 7, "signup", 1.0),
        (2, _ts(5), 7, "click", 2.0),
        (3, _ts(5), 7, "purchase", 3.0),  # same ts as id=2: id wins
        (4, _ts(9), 8, "view", 4.0),
    ])
    out = {r["user_id"]: r for r in latest_state(ev).collect()}
    assert out[7]["last_event_type"] == "purchase"  # event_id 3 > 2
    assert out[7]["n_versions"] == 3
    assert out[8]["n_versions"] == 1 and out[8]["last_value"] == 4.0


def test_latest_state_matches_events_user_count(tables):
    from demo_etl_spark.operators.cdc import latest_state

    ev = tables["events"]
    assert latest_state(ev).count() == ev.select("user_id").distinct().count()


def test_scd2_compresses_runs_and_chains_intervals(spark):
    from demo_etl_spark.operators.cdc import scd2_history

    ev = _events(spark, [
        (1, _ts(0), 7, "A", 0.0),
        (2, _ts(1), 7, "A", 0.0),  # same run — compressed away
        (3, _ts(2), 7, "B", 0.0),
        (4, _ts(3), 7, "B", 0.0),
        (5, _ts(4), 7, "A", 0.0),  # A again — NEW version, not merged
    ])
    hist = sorted(scd2_history(ev).collect(), key=lambda r: r["version_no"])
    assert [r["event_type"] for r in hist] == ["A", "B", "A"]
    # intervals chain exactly: valid_to == next valid_from, open tail
    assert hist[0]["valid_to"] == hist[1]["valid_from"]
    assert hist[1]["valid_to"] == hist[2]["valid_from"]
    assert hist[2]["valid_to"] is None and hist[2]["is_current"]
    assert [r["is_current"] for r in hist[:2]] == [False, False]


def test_scd2_version_count_equals_type_changes(tables):
    from demo_etl_spark.operators.cdc import scd2_history

    ev = tables["events"]
    hist = scd2_history(ev)
    # exactly one current version per user
    cur = hist.filter("is_current").groupBy("user_id").count()
    assert cur.filter("count != 1").count() == 0
    # versions never overlap: valid_from strictly increases per user
    bad = hist.filter("valid_to IS NOT NULL AND valid_to <= valid_from")
    assert bad.count() == 0


def test_merge_upsert_update_insert_passthrough(spark):
    from demo_etl_spark.operators.cdc import merge_latest_wins

    base = spark.createDataFrame(
        [Row(k=1, v="old1"), Row(k=2, v="old2")])
    updates = spark.createDataFrame(
        [Row(k=2, v="new2"), Row(k=3, v="new3")])
    out = {r["k"]: r["v"] for r in merge_latest_wins(base, updates, ["k"]).collect()}
    assert out == {1: "old1", 2: "new2", 3: "new3"}


def test_merge_upsert_is_single_shuffle(spark, tables):
    from demo_etl_spark.operators.cdc import merge_latest_wins

    orders = tables["orders"]
    up = orders.limit(10).withColumn("o_totalprice", F.lit(0.0))
    plan = merge_latest_wins(orders, up, ["o_orderkey"])._jdf.queryExecution() \
        .executedPlan().treeString()
    # union feeds ONE hash partitioning on the key, then one window pass
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan
    # Spark 4 pushes a partial top-1-per-key below the shuffle, so the
    # exchange only ever moves ≤1 row per (key, side) — the fact that
    # makes latest-wins merge cheap at 100 TB
    assert "WindowGroupLimit" in plan and "Partial" in plan


# --------------------------------------------------- fingerprints ------
def test_fingerprints_shared_substring_guarantee(spark):
    """Winnowing guarantee: docs sharing ≥ k+W−1 = 7 consecutive words
    share at least one fingerprint; disjoint docs share none."""
    from demo_etl_spark.operators.fingerprint import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 words
    docs = spark.createDataFrame([
        Row(doc_id=1, text=f"one two three {shared} four five six"),
        Row(doc_id=2, text=f"{shared} nine ten eleven twelve thirteen"),
        Row(doc_id=3, text="p q r s t u v w x y z aa bb cc dd"),
    ])
    fps = winnow_fingerprints(docs).collect()
    by_doc = {d: {r["fp"] for r in fps if r["doc_id"] == d} for d in (1, 2, 3)}
    assert by_doc[1] & by_doc[2], "shared 7-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_fingerprints_short_doc_emits_nothing(spark):
    from demo_etl_spark.operators.fingerprint import winnow_fingerprints

    docs = spark.createDataFrame([Row(doc_id=1, text="a b c d e f")])  # 6 < 7
    assert winnow_fingerprints(docs).count() == 0


def test_fingerprint_profile_density_bounds(tables):
    from demo_etl_spark.operators.fingerprint import fingerprint_profile

    prof = fingerprint_profile(tables["documents"])
    bad = prof.filter(
        "n_fps < 1 OR n_fps > n_windows OR density <= 0 OR density > 1")
    assert bad.count() == 0


def test_fingerprint_extraction_is_shuffle_free(tables):
    """The 100 TB contract: fingerprint extraction is pure map-side —
    no Exchange anywhere in the plan (explode + codegen array math)."""
    from demo_etl_spark.operators.fingerprint import winnow_fingerprints

    plan = winnow_fingerprints(tables["documents"])._jdf.queryExecution() \
        .sparkPlan().treeString()
    # no shuffle introduced by the operator (the only Exchange allowed is
    # the cached scan's round-robin small-file parallelism fix)
    assert "Exchange hashpartitioning" not in plan
    assert "Generate explode" in plan
    # the k-gram hash array is materialized behind an attribute boundary:
    # exactly ONE md5 lambda chain in the plan, not one per window slice
    assert plan.count("md5") == 1


# --------------------------------------------------- active users ------
def test_active_users_wau_window(spark):
    from demo_etl_spark.operators.events import active_users

    d = dt.datetime
    ev = _events(spark, [
        (1, d(2024, 1, 1, 12), 1, "view", 0.0),
        (2, d(2024, 1, 5, 12), 2, "view", 0.0),
        (3, d(2024, 1, 8, 12), 2, "view", 0.0),   # day1 user out of range here
        (4, d(2024, 1, 1, 13), 1, "click", 0.0),  # same user+day: no double
    ])
    out = {r["day"].isoformat(): r for r in active_users(ev).collect()}
    assert out["2024-01-01"]["dau"] == 1 and out["2024-01-01"]["wau"] == 1
    # Jan 5 sees both the Jan 1 user (within 7d) and the Jan 5 user
    assert out["2024-01-05"]["dau"] == 1 and out["2024-01-05"]["wau"] == 2
    # Jan 8: Jan 1 is 7 days back — outside the trailing-7 window
    assert out["2024-01-08"]["wau"] == 1
    assert out["2024-01-05"]["stickiness"] == 0.5


# ------------------------------------------------ keyword extraction ---
def test_doc_top_terms_rank_order(spark):
    """tf DESC dominates; df ASC breaks tf ties (rarer term ranks
    higher); token breaks exact ties."""
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.text import doc_top_terms

    docs = spark.createDataFrame([
        R(doc_id=1, text="apple apple banana cherry"),
        R(doc_id=2, text="banana banana banana date"),
    ])
    out = [(r["rank"], r["token"]) for r in
           doc_top_terms(docs).filter("doc_id = 1").collect()]
    # apple tf=2 wins; cherry (df=1) outranks banana (df=2) at tf=1
    assert sorted(out) == [(1, "apple"), (2, "cherry"), (3, "banana")]


# ---------------------------------------------------- BPE / centroids --
def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.text import bpe_pair_counts

    docs = spark.createDataFrame([
        R(doc_id=1, text="abc abc zz"),
        R(doc_id=2, text="abc q"),  # 'q' too short for a pair
    ])
    out = {r["pair"]: (r["rank"], r["n"]) for r in bpe_pair_counts(docs).collect()}
    # 'abc' occurs 3x -> pairs 'ab','bc' weighted 3; 'zz' once
    assert out["ab"] == (1, 3) and out["bc"] == (2, 3)  # tie broken by pair
    assert out["zz"] == (3, 1) and "q" not in out


def test_embedding_centroids_exact_mean(spark):
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.similarity import embedding_centroids

    emb = spark.createDataFrame([
        R(vec_id=1, embedding=[1.0, 0.0], label=7),
        R(vec_id=2, embedding=[0.0, 1.0], label=7),
        R(vec_id=3, embedding=[-2.0, 4.0], label=8),
    ])
    out = {(r["label"], r["dim"]): (r["n_vectors"], r["centroid"])
           for r in embedding_centroids(emb).collect()}
    assert out[(7, 0)] == (2, 0.5) and out[(7, 1)] == (2, 0.5)
    assert out[(8, 0)] == (1, -2.0) and out[(8, 1)] == (1, 4.0)


def test_session_attribution_first_touch_and_conversion(spark):
    from demo_etl_spark.operators.events import session_attribution

    d = dt.datetime
    ev = _events(spark, [
        # user 1, session A: view -> purchase (converted, credit 'view')
        (1, d(2024, 1, 1, 10, 0), 1, "view", 0.0),
        (2, d(2024, 1, 1, 10, 10), 1, "purchase", 5.0),
        # user 1, session B (gap > 30min): click only (no conversion)
        (3, d(2024, 1, 1, 12, 0), 1, "click", 0.0),
        # user 2, one session: click -> purchase (credit 'click')
        (4, d(2024, 1, 1, 9, 0), 2, "click", 0.0),
        (5, d(2024, 1, 1, 9, 29), 2, "purchase", 9.0),
    ])
    out = {r["first_touch"]: r for r in session_attribution(ev).collect()}
    assert out["view"]["n_sessions"] == 1 and out["view"]["converted_sessions"] == 1
    assert out["click"]["n_sessions"] == 2 and out["click"]["converted_sessions"] == 1
    assert out["click"]["conversion_rate"] == 0.5
    assert out["view"]["conversion_rate"] == 1.0


def test_cohort_retention_triangle(spark):
    from demo_etl_spark.operators.events import cohort_retention

    d = dt.datetime
    ev = _events(spark, [
        # user 1 first active week of Jan 1 (Mon), returns week of Jan 8
        (1, d(2024, 1, 2, 10), 1, "view", 0.0),
        (2, d(2024, 1, 9, 10), 1, "view", 0.0),
        # user 2 same cohort, never returns
        (3, d(2024, 1, 3, 10), 2, "view", 0.0),
        # user 3 cohorts a week later
        (4, d(2024, 1, 10, 10), 3, "view", 0.0),
    ])
    out = {(str(r["cohort_week"]), r["offset_weeks"]): r
           for r in cohort_retention(ev).collect()}
    w0 = out[("2024-01-01", 0)]
    assert w0["n_active"] == 2 and w0["cohort_size"] == 2
    w1 = out[("2024-01-01", 1)]
    assert w1["n_active"] == 1 and w1["retention_rate"] == 0.5
    assert out[("2024-01-08", 0)]["cohort_size"] == 1


def test_value_histogram_bins_and_shares(spark):
    from demo_etl_spark.operators.events import value_histogram

    ev = _events(spark, [
        (1, _ts(0), 1, "view", 10.0),    # bin 0
        (2, _ts(1), 1, "view", 49.99),   # bin 0 (fixed-point exact)
        (3, _ts(2), 1, "view", 50.0),    # bin 1 boundary
        (4, _ts(3), 1, "view", 149.99),  # bin 2
    ])
    out = {r["bin"]: r for r in value_histogram(ev).collect()}
    assert out[0]["n_events"] == 2 and out[0]["share"] == 0.5
    assert out[1]["n_events"] == 1 and out[1]["bin_lo"] == 50.0
    assert out[2]["n_events"] == 1 and out[2]["share"] == 0.25


def test_session_attribution_single_fact_shuffle(spark, tables):
    """All three window passes (lag, running-sum, per-session rank)
    share ONE hashpartitioning on user_id: the (user_id, _sid) window's
    ClusteredDistribution is satisfied by the user_id partitioning, so
    EnsureRequirements inserts no second fact exchange — the contract
    that keeps attribution a one-shuffle job at 100 TB. (The tiny
    5-channel rollup after it is allowed its own exchange.)"""
    from demo_etl_spark.operators.events import session_attribution

    plan = session_attribution(tables["events"])._jdf.queryExecution() \
        .executedPlan().treeString()
    # exchanges: 1 on the user_id fact + 1 for the tiny channel rollup
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("hashpartitioning(user_id") == 1


def test_cohort_retention_preaggregates_before_join(spark, tables):
    """The distinct (user, week) grid must form BEFORE the cohort join:
    the join input is the aggregated grid, not raw events (the
    pre-shrink that makes the operator volume-independent)."""
    from demo_etl_spark.operators.events import cohort_retention

    plan = cohort_retention(tables["events"])._jdf.queryExecution() \
        .optimizedPlan().toString()
    # the first Aggregate (distinct) sits below the Join in the tree
    join_pos = plan.index("Join")
    assert "Aggregate" in plan[join_pos:], "distinct grid must feed the join"


def test_unicode_cross_engine_parity_fingerprints_and_stats(spark):
    """Forward-robustness for driver-regenerated corpora: the winnowing
    and text_stats oracles must stay hash-identical to Spark on
    NON-ASCII text (UTF-8 md5, char-based substr/length, and even
    ascii() — both engines return the first codepoint). The shipped
    testdata is ASCII, so this is the only place unicode parity is
    exercised."""
    from tools import oracle_db
    import pandas as pd

    from demo_etl_spark.operators.fingerprint import (
        ORACLE_SQL_FINGERPRINTS,
        winnow_fingerprints,
    )
    from demo_etl_spark.operators.text import ORACLE_SQL_STATS, text_stats

    rows = [
        (1, "héllo wörld çafé naïve élan über straße jalapeño piñata résumé",
         "en", "web", 10),
        (2, "日本語 テスト 文書 です これは 長い 単語列 を 含み ます 追加 トークン",
         "zh", "web", 10),
        (3, "mixed ascii and éüñ tokens for the winnow window guarantee test run",
         "en", "web", 10),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    docs = spark.createDataFrame(pdf)
    con = oracle_db.connect()
    con.register("documents", pdf)

    for sdf, sql in (
        (winnow_fingerprints(docs), ORACLE_SQL_FINGERPRINTS),
        (text_stats(docs), ORACLE_SQL_STATS),
    ):
        got = sorted(map(tuple, sdf.collect()))
        exp = sorted(map(tuple, con.sql(sql).fetchall()))
        assert got == exp


def test_brand_rules_confidence_and_lift(spark):
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.product import brand_rules

    # orders: 1:{A,B} 2:{A,B} 3:{A} 4:{B} -> n(A)=3 n(B)=3 n(AB)=2 N=4
    li = spark.createDataFrame([
        R(l_orderkey=1, l_partkey=10), R(l_orderkey=1, l_partkey=20),
        R(l_orderkey=2, l_partkey=10), R(l_orderkey=2, l_partkey=20),
        R(l_orderkey=3, l_partkey=10), R(l_orderkey=4, l_partkey=20),
    ])
    part = spark.createDataFrame([
        R(p_partkey=10, p_brand="A"), R(p_partkey=20, p_brand="B"),
    ])
    out = {(r["antecedent"], r["consequent"]): r
           for r in brand_rules(li, part).collect()}
    ab = out[("A", "B")]
    assert ab["n_both"] == 2
    assert abs(ab["confidence"] - 0.666667) < 1e-9  # HALF_UP(2/3, 6dp)
    # lift = n(AB)*N / (n(A)*n(B)) = 2*4/9 = 0.8889
    assert abs(ab["lift"] - 0.8889) < 1e-9
    ba = out[("B", "A")]
    assert ba["n_both"] == 2 and abs(ba["lift"] - 0.8889) < 1e-9


def test_length_outliers_flags_extremes(spark):
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.text import length_outliers

    docs = spark.createDataFrame(
        [R(doc_id=i, text=" ".join(["w"] * n), source="s")
         for i, n in enumerate([50, 52, 48, 51, 49, 50, 53, 47, 5000])]
    )
    out = {r["doc_id"]: r for r in length_outliers(docs).collect()}
    assert out[8]["is_outlier"] and not out[0]["is_outlier"]
    assert sum(r["is_outlier"] for r in out.values()) == 1


def test_props_typed_audit_counts_malformed_payloads(spark):
    """from_json yields NULL structs for broken JSON and NULL fields for
    absent keys — the audit must count all three states separately."""
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.events import props_typed_audit

    ev = spark.createDataFrame([
        R(event_id=1, ts=_ts(0), user_id=1, event_type="view",
          value=0.0, props='{"k": 5}'),
        R(event_id=2, ts=_ts(1), user_id=1, event_type="view",
          value=0.0, props='not json at all'),
        R(event_id=3, ts=_ts(2), user_id=1, event_type="view",
          value=0.0, props='{"other": 1}'),
    ])
    row = props_typed_audit(ev).collect()[0]
    assert row["n_events"] == 3
    assert row["n_parsed"] == 2          # broken payload -> NULL struct
    assert row["n_with_k"] == 1          # {"other":1} parses but k NULL
    assert row["min_k"] == 5 and row["max_k"] == 5 and row["sum_k"] == 5


def test_part_pagerank_two_iterations_by_hand(spark):
    """Tiny graph, hand-computed: orders {A,B} and {A,C} give edges
    A<->B, A<->C (outdeg A=2, B=C=1). After two damped fixed-point
    iterations: A=1,127,500; B=C=936,250 (e-6 units)."""
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.graph import part_pagerank

    li = spark.createDataFrame([
        R(l_orderkey=1, l_partkey=1), R(l_orderkey=1, l_partkey=2),
        R(l_orderkey=2, l_partkey=1), R(l_orderkey=2, l_partkey=3),
    ])
    out = {r["part"]: r for r in part_pagerank(li).collect()}
    assert out[1]["outdeg"] == 2 and out[1]["pagerank_e6"] == 1_127_500
    assert out[2]["pagerank_e6"] == 936_250 == out[3]["pagerank_e6"]
    assert out[2]["outdeg"] == 1


def test_part_triangles_by_hand(spark):
    """Orders {1,2,3} (a triangle) and {3,4} (a pendant edge).
    Degrees: 1=2, 2=2, 3=3, 4=1. One triangle touching parts 1,2,3.
    Clustering: parts 1,2 -> 2*1e6/(2*1) = 1e6 (their only possible
    wedge closes); part 3 -> 2*1e6/(3*2) = 333,333 (truncating div);
    part 4 -> 0 (degree < 2)."""
    from pyspark.sql import Row as R
    from demo_etl_spark.io import register_persist
    from demo_etl_spark.operators.graph import _edges, copurchase_triangles

    li = spark.createDataFrame([
        R(l_orderkey=1, l_partkey=1), R(l_orderkey=1, l_partkey=2),
        R(l_orderkey=1, l_partkey=3),
        R(l_orderkey=2, l_partkey=3), R(l_orderkey=2, l_partkey=4),
    ])
    out = {r["part"]: r for r in
           copurchase_triangles(register_persist(_edges(li))).collect()}
    assert {p: r["degree"] for p, r in out.items()} == {1: 2, 2: 2, 3: 3, 4: 1}
    assert {p: r["triangles"] for p, r in out.items()} == {1: 1, 2: 1, 3: 1, 4: 0}
    assert out[1]["clustering_e6"] == 1_000_000 == out[2]["clustering_e6"]
    assert out[3]["clustering_e6"] == 333_333
    assert out[4]["clustering_e6"] == 0


def test_snapshot_diff_statuses_and_null_safety(spark):
    """Keys: 1 unchanged, 2 changed (value), 3 removed, 4 added,
    5 changed (NULL -> value counts via null-safe compare), and a row
    whose compared column is NULL on BOTH sides stays unchanged."""
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame([
        R(k=1, a=10, b="x"), R(k=2, a=20, b="y"), R(k=3, a=30, b="z"),
        R(k=5, a=None, b="q"), R(k=6, a=None, b="w"),
    ])
    new = spark.createDataFrame([
        R(k=1, a=10, b="x"), R(k=2, a=21, b="y2"), R(k=4, a=40, b="n"),
        R(k=5, a=50, b="q"), R(k=6, a=None, b="w"),
    ])
    out = {r["k"]: r for r in
           snapshot_diff(old, new, ["k"], ["a", "b"]).collect()}
    assert out[1]["diff_status"] == "unchanged" and out[1]["n_changed_cols"] == 0
    assert out[2]["diff_status"] == "changed" and out[2]["n_changed_cols"] == 2
    assert out[3]["diff_status"] == "removed" and out[3]["new_a"] is None
    assert out[4]["diff_status"] == "added" and out[4]["old_a"] is None
    assert out[5]["diff_status"] == "changed" and out[5]["n_changed_cols"] == 1
    assert out[6]["diff_status"] == "unchanged"


def test_snapshot_diff_properties(spark):
    """Property test: for ANY pair of keyed snapshots, (a) statuses
    partition the key union, (b) diff(x, x) is all-unchanged, (c) added
    + removed counts equal the key-set differences, and (d) swapping
    old/new swaps added<->removed and preserves changed/unchanged."""
    from hypothesis import given, settings, strategies as st

    from demo_etl_spark.operators.cdc import snapshot_diff

    row = st.tuples(
        st.integers(min_value=0, max_value=15),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    )

    @settings(max_examples=6, deadline=None)
    @given(old_rows=st.lists(row, max_size=12, unique_by=lambda r: r[0]),
           new_rows=st.lists(row, max_size=12, unique_by=lambda r: r[0]))
    def check(old_rows, new_rows):
        schema = "k int, a int"
        old = spark.createDataFrame(old_rows or [(999, None)], schema)
        new = spark.createDataFrame(new_rows or [(998, None)], schema)
        old_rows = old_rows or [(999, None)]
        new_rows = new_rows or [(998, None)]
        ok, nk = {r[0] for r in old_rows}, {r[0] for r in new_rows}

        d = {r["k"]: r["diff_status"]
             for r in snapshot_diff(old, new, ["k"], ["a"]).collect()}
        assert set(d) == ok | nk
        assert {k for k, s in d.items() if s == "added"} == nk - ok
        assert {k for k, s in d.items() if s == "removed"} == ok - nk

        same = {r["k"]: r["diff_status"]
                for r in snapshot_diff(old, old, ["k"], ["a"]).collect()}
        assert set(same.values()) <= {"unchanged"}

        rev = {r["k"]: r["diff_status"]
               for r in snapshot_diff(new, old, ["k"], ["a"]).collect()}
        flip = {"added": "removed", "removed": "added"}
        assert rev == {k: flip.get(s, s) for k, s in d.items()}

    check()


def test_part_similarity_by_hand(spark):
    """Orders {1,2}, {1,2}, {1,3}: parts 1,2 co-occur twice (passes the
    support floor), 1,3 only once (pruned). n_orders: 1->3, 2->2, 3->1.
    jaccard(1,2) = 2/(3+2-2) = 2/3 -> 666,666 e6 truncating."""
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.graph import part_similarity

    li = spark.createDataFrame([
        R(l_orderkey=1, l_partkey=1), R(l_orderkey=1, l_partkey=2),
        R(l_orderkey=2, l_partkey=1), R(l_orderkey=2, l_partkey=2),
        R(l_orderkey=3, l_partkey=1), R(l_orderkey=3, l_partkey=3),
    ])
    rows = part_similarity(li).collect()
    assert {(r["part_a"], r["part_b"]) for r in rows} == {(1, 2), (2, 1)}
    r = next(x for x in rows if x["part_a"] == 1)
    assert r["co_orders"] == 2 and r["n_a"] == 3 and r["n_b"] == 2
    assert r["jaccard_e6"] == 666_666 and r["rank"] == 1


def test_part_closure_cyclic_bfs_min_dist(spark):
    """Cyclic fixture (every co-purchase edge is a 2-cycle, plus an
    explicit 3-cycle through the seed): chain orders {97,5},{5,6},
    {6,7},{7,8},{8,9} and cycle-closer {7,97}. Seed = 97 (mod-97
    anchor). Min-hop BFS with the visited-set cycle guard: 97→0,
    5→1, 7→1 (via the closer, NOT 3 via the chain), 6→2, 8→2, 9→3.
    The back-edges to 97 must not relabel it, and the Spark result
    must equal the DuckDB UNION-distinct recursive-CTE oracle on the
    same lineitem rows."""
    from tools import oracle_db
    from pyspark.sql import Row as R
    from demo_etl_spark.io import register_persist
    from demo_etl_spark.operators.graph import (
        ORACLE_SQL_CLOSURE,
        _edges,
        part_closure,
    )

    rows = [(1, 97), (1, 5), (2, 5), (2, 6), (3, 6), (3, 7),
            (4, 7), (4, 8), (5, 8), (5, 9), (6, 7), (6, 97)]
    li = spark.createDataFrame(
        [R(l_orderkey=o, l_partkey=p) for o, p in rows]
    )
    got = {
        (r["p_partkey"], r["min_dist"])
        for r in part_closure(register_persist(_edges(li))).collect()
    }
    assert got == {(97, 0), (5, 1), (7, 1), (6, 2), (8, 2), (9, 3)}

    con = oracle_db.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", rows)
    exp = {tuple(r) for r in con.sql(ORACLE_SQL_CLOSURE).fetchall()}
    assert got == exp


def test_semantic_dedup_within_cluster_keep_min(spark):
    """Hand fixture on a 4-dim corpus, stride=4/iters=1 so ids 0 and 4
    seed two clean clusters (dims 1-2 vs dims 3-4). At threshold 0.99
    only the (near-)identical vectors are semantic dups: 1 and 7
    duplicate 0 (cos 1.0 / ~0.995), 5 duplicates 4; 2 (cos 0.8), 3 and
    6 (cos 0.6) stay. Keep-the-minimum: the smaller vec_id survives.
    The Spark result must equal the parameter-matched DuckDB oracle."""
    from tools import oracle_db

    from demo_etl_spark.operators.similarity import (
        _semantic_dedup_oracle,
        semantic_dedup,
        valid_embeddings,
    )

    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [1.0, 0.0, 0.0, 0.0],
        2: [0.8, 0.6, 0.0, 0.0],
        3: [0.0, 0.0, 0.8, -0.6],
        4: [0.0, 0.0, 1.0, 0.0],
        5: [0.0, 0.0, 1.0, 0.0],
        6: [0.0, 0.0, 0.6, 0.8],
        7: [0.995, 0.0999, 0.0, 0.0],
    }
    rows = [(i, v) for i, v in vecs.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(
        valid_embeddings(df), stride=4, iters=1, threshold_e6=990_000
    )
    got = {(r["vec_id"], r["cell"], r["is_kept"]) for r in out.collect()}
    kept = {v for v, _, k in got if k}
    assert kept == {0, 2, 3, 4, 6}
    assert {v for v, _, k in got if not k} == {1, 5, 7}

    con = oracle_db.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    exp = {
        tuple(r)
        for r in con.sql(
            _semantic_dedup_oracle(stride=4, iters=1, threshold_e6=990_000)
        ).fetchall()
    }
    assert got == exp


def test_latest_state_deterministic_on_keyless_timestamp_tie(spark):
    """r12 review pin: two keyless versions (NULL event_id) at the SAME
    timestamp with different payloads — (ts, event_id) alone is not a
    total order there and both engines would pick an arbitrary winner.
    The extended sort (event_type DESC, value DESC tiebreak) must crown
    the same row on every run and match the DuckDB oracle's spelling:
    'view' > 'click' lexicographically, so last_event_type = 'view'."""
    import datetime

    from demo_etl_spark.operators.cdc import latest_state

    ts = datetime.datetime(2024, 1, 6, 11, 0, 0)
    rows = [
        (None, ts, 932, "click", 1.0, None),
        (None, ts, 932, "view", 2.0, None),
        (5, ts - datetime.timedelta(hours=1), 932, "purchase", 9.0, None),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    outs = [
        {r["user_id"]: (r["last_event_type"], r["last_value"], r["n_versions"])
         for r in latest_state(events).collect()}
        for _ in range(3)
    ]
    assert outs[0] == outs[1] == outs[2]
    assert outs[0][932] == ("view", 2.0, 3)

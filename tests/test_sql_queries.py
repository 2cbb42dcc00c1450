"""Invariant tests for the SQL-string query family (SURVEY §2.1 S10).

Hash-exactness vs DuckDB is the driver gate (tools/verify_oracle.py);
these tests pin the *semantic* contracts the hashes alone don't state:
thresholds actually filter, limits actually order, shares stay in range.
"""

from __future__ import annotations

from demo_etl_spark.operators import sql_interface as sql


def test_discount_revenue_scalar_shape(spark, sf_dir):
    rows = sql.build_discount_revenue(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["line_count"] > 0
    assert r["discount_revenue"] > 0


def test_promo_share_bounds_and_consistency(spark, sf_dir):
    r = sql.build_promo_revenue(spark, sf_dir).collect()[0]
    assert 0.0 <= r["promo_share"] <= 1.0
    assert 0.0 < r["promo_revenue"] <= r["total_revenue"]
    # share is the fixed-point quotient of the two revenue columns
    assert abs(r["promo_share"] - r["promo_revenue"] / r["total_revenue"]) < 1e-4


def test_returned_items_topk_is_ordered(spark, sf_dir):
    rows = sql.build_returned_items(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r["line_count"] > 0 for r in rows)


def test_large_orders_threshold_filters(spark, sf_dir):
    rows = sql.build_large_orders(spark, sf_dir).collect()
    assert rows
    assert all(r["total_qty"] > 180 for r in rows)
    assert all(r["total_price"] > 0 for r in rows)
    # orderkey is the grain
    keys = [r["o_orderkey"] for r in rows]
    assert len(keys) == len(set(keys))


def test_keep_best_selects_one_winner_per_cluster(spark, sf_dir):
    from collections import defaultdict

    from demo_etl_spark.operators import curation

    rows = curation.build_keep_best(spark, sf_dir).collect()
    assert rows
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r["cluster_id"]].append(r)
    for members in by_cluster.values():
        kept = [r for r in members if r["is_kept"]]
        assert len(kept) == 1
        best = max(members, key=lambda r: (r["n_chars"], -r["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"]


def test_doc_chunks_cover_every_token(spark, sf_dir):
    from pyspark.sql import functions as F

    from demo_etl_spark.operators.text import (
        CHUNK_SIZE, CHUNK_STRIDE, chunk_documents)
    from demo_etl_spark.io import load_star

    docs = load_star(spark, sf_dir)["documents"]
    chunks = chunk_documents(docs)
    # stride < size ⇒ consecutive windows overlap; the max covered token
    # index per doc must reach the doc's token count
    assert CHUNK_STRIDE < CHUNK_SIZE
    cover = (
        chunks.groupBy("doc_id")
        .agg(F.max(F.col("start_token") + F.col("chunk_n_tokens")).alias("covered"))
    )
    ntoks = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    gaps = cover.join(ntoks, "doc_id").filter(
        F.col("covered") < F.col("n_tokens"))
    assert gaps.count() == 0
    # no chunk exceeds the window size
    assert chunks.filter(F.col("chunk_n_tokens") > CHUNK_SIZE).count() == 0


def test_embedding_quantize_bounds(spark, sf_dir):
    from pyspark.sql import functions as F

    from demo_etl_spark.operators.similarity import build_quantize

    q = build_quantize(spark, sf_dir)
    rows = q.agg(
        F.min("q_scale"), F.max("q_l2sq"), F.count(F.lit(1))).collect()[0]
    assert rows[0] > 0  # scale strictly positive even for zero vectors
    # 64-dim int8 vector: l2sq ≤ 64 * 127²
    assert rows[1] <= 64 * 127 * 127
    assert rows[2] > 0


def test_daily_rollup_equals_direct_aggregation(spark, sf_dir):
    from pyspark.sql import functions as F

    from demo_etl_spark.functions.fixedpoint import round_div
    from demo_etl_spark.functions.scalars import money_fixed
    from demo_etl_spark.io import load_star
    from demo_etl_spark.operators.events import build_daily_rollup

    rolled = build_daily_rollup(spark, sf_dir)
    direct = (
        load_star(spark, sf_dir)["events"]
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money_fixed(F.col("value"))).alias("_fx"),
        )
        .select("day", "event_type", "n_events",
                round_div("_fx", "10000", 2).alias("total_value"))
    )
    # re-aggregating hourly partials must lose nothing vs one-shot agg
    cols = ["day", "event_type", "n_events", "total_value"]
    assert (
        rolled.select(*cols).exceptAll(direct.select(*cols)).count() == 0
        and direct.select(*cols).exceptAll(rolled.select(*cols)).count() == 0
    )


def test_chunking_invariants_hold_for_any_text(spark):
    """Property test: for ANY token count and any (size, stride, min)
    config with stride < size, chunks tile the document with overlap
    size-stride, cover every token, and never exceed the window."""
    from hypothesis import given, settings, strategies as st

    from demo_etl_spark.operators.text import chunk_documents

    @settings(max_examples=8, deadline=None)
    @given(
        n_tokens=st.integers(min_value=1, max_value=200),
        size=st.integers(min_value=4, max_value=64),
        stride_frac=st.floats(min_value=0.25, max_value=0.99),
    )
    def check(n_tokens, size, stride_frac):
        stride = max(1, int(size * stride_frac))
        text = " ".join(f"t{i}" for i in range(n_tokens))
        docs = spark.createDataFrame(
            [(0, text, "en", "src", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        rows = sorted(
            chunk_documents(docs, size=size, stride=stride,
                            min_tokens=min(4, size)).collect(),
            key=lambda r: r["start_token"],
        )
        assert rows, "every doc yields at least one chunk"
        assert rows[0]["start_token"] == 0
        covered = max(r["start_token"] + r["chunk_n_tokens"] for r in rows)
        assert covered == n_tokens  # full coverage, no token lost
        for r in rows:
            assert r["chunk_n_tokens"] <= size
            assert r["chunk_index"] == r["start_token"] // stride

    check()


def test_rollup_late_data_merge_is_exact(spark, sf_dir):
    """Partials over early events merged with late-arriving partials must
    equal partials computed over everything at once — the additive-merge
    contract that makes the rollup store safe under out-of-order
    ingestion."""
    from pyspark.sql import functions as F

    from demo_etl_spark.io import load_star
    from demo_etl_spark.operators.events import (
        hourly_partials, merge_rollup_increment)

    events = load_star(spark, sf_dir)["events"]
    cut = events.selectExpr("percentile(CAST(ts AS DOUBLE), 0.7) p").first()["p"]
    early = events.filter(F.col("ts").cast("double") <= cut)
    late = events.filter(F.col("ts").cast("double") > cut)
    assert late.count() > 0  # the split is non-vacuous

    merged = merge_rollup_increment(hourly_partials(early), hourly_partials(late))
    direct = hourly_partials(events)
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_round_div_matches_decimal_half_up_in_both_dialects(spark):
    """Property test for the load-bearing primitive: the integer-space
    formula must equal Python decimal's ROUND_HALF_UP (half away from
    zero for either sign — round_div is sign-safe as of r11) in BOTH
    dialect spellings.

    Two-tier contract (module docstring, r12; hypothesis re-found the
    gap HERE in r14 with p=281664136256, q=3, s=5): ENGINE parity is
    unconditional — both dialects divide the same scaled integer by the
    same power of ten — but exact-decimal equality additionally needs
    the scaled integer |round(p·10^s/q)| within double's integer-exact
    range 2^53; past it the final ÷10^s itself rounds, identically on
    both engines but one ulp off the true decimal. The signed-variant
    test below has carried this split since r12; this test predated it
    and asserted tier 2 unconditionally."""
    import decimal

    import pytest
    from hypothesis import given, settings, strategies as st

    from demo_etl_spark.functions.fixedpoint import round_div_expr
    from tools import oracle_db

    con = oracle_db.connect()

    @settings(max_examples=25, deadline=None)
    @given(
        p=st.integers(min_value=-4_000_000_000_000, max_value=4_000_000_000_000),
        q=st.integers(min_value=1, max_value=10**9),
        s=st.integers(min_value=0, max_value=6),
    )
    def check(p, q, s):
        # decimal ROUND_HALF_UP is half-away-from-zero for either sign
        mag = (decimal.Decimal(abs(p)) / decimal.Decimal(q)).quantize(
            decimal.Decimal(1).scaleb(-s), rounding=decimal.ROUND_HALF_UP
        )
        exp = float(mag if p >= 0 else -mag)
        got_spark = spark.sql(
            f"SELECT {round_div_expr(str(p), str(q), s, 'spark')} AS v"
        ).first()["v"]
        got_duck = con.sql(
            f"SELECT {round_div_expr(str(p), str(q), s, 'duckdb')} AS v"
        ).fetchone()[0]
        # tier 1 — engine parity, unconditional (what the oracle hash
        # gate stands on)
        assert got_spark == got_duck, (p, q, s, got_spark, got_duck)
        # tier 2 — exact-decimal equality, guaranteed only within
        # double's integer-exact range of the scaled result
        if abs(int(mag.scaleb(s))) <= 2**53:
            assert got_spark == exp, (p, q, s, got_spark, exp)
        else:
            assert got_spark == pytest.approx(exp, rel=1e-12)

    check()


def test_round_div_signed_matches_decimal_half_away(spark):
    """Signed variant: HALF-AWAY-FROM-ZERO for any sign of p (the plain
    round_div contract only covers p >= 0 — embedding centroids need
    negatives).

    Two-tier contract (r12 — hypothesis found p=440413589247, q=21,
    s=6): the ENGINES are bit-identical for every input (they divide the
    same integer by the same power of ten), but the result equals the
    exact-decimal float only while the scaled integer |round(p·10^s/q)|
    stays within 2^53 — beyond double's integer-exact range the final
    division itself rounds, identically on both engines but one ulp off
    the exact decimal. Hash parity (the oracle gate) rests on the first
    tier; value-exactness on the second, which every money/ratio column
    satisfies by the documented headroom bounds."""
    import decimal

    import pytest
    from hypothesis import given, settings, strategies as st

    from demo_etl_spark.functions.fixedpoint import round_div_signed_expr
    from tools import oracle_db

    con = oracle_db.connect()

    @settings(max_examples=25, deadline=None)
    @given(
        p=st.integers(min_value=-4_000_000_000_000, max_value=4_000_000_000_000),
        q=st.integers(min_value=1, max_value=10**9),
        s=st.integers(min_value=0, max_value=6),
    )
    def check(p, q, s):
        mag = (decimal.Decimal(abs(p)) / decimal.Decimal(q)).quantize(
            decimal.Decimal(1).scaleb(-s), rounding=decimal.ROUND_HALF_UP
        )
        exp = float(mag if p >= 0 else -mag)
        got_spark = spark.sql(
            f"SELECT {round_div_signed_expr(str(p), str(q), s, 'spark')} AS v"
        ).first()["v"]
        got_duck = con.sql(
            f"SELECT {round_div_signed_expr(str(p), str(q), s, 'duckdb')} AS v"
        ).fetchone()[0]
        # tier 1 — engine parity, unconditional (what the oracle hash
        # gate stands on)
        assert got_spark == got_duck, (p, q, s, got_spark, got_duck)
        # tier 2 — exact-decimal equality, guaranteed only within
        # double's integer-exact range of the scaled result
        if abs(int(mag.scaleb(s))) <= 2**53:
            assert got_spark == exp, (p, q, s, got_spark, exp)
        else:
            assert got_spark == pytest.approx(exp, rel=1e-12)

    check()

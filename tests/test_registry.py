"""Driver-contract consistency guard for __spark_entry__.

The grading driver consumes ``queries()`` / ``oracle_sql()`` blindly;
these tests fail fast on the registry mistakes that would silently
weaken the correctness gate (missing oracle twin, dangling oracle,
non-callable builder, empty SQL)."""

from __future__ import annotations

import __spark_entry__ as entry

#: the ONLY queries allowed to lack a DuckDB oracle twin — the approx
#: sketch twins (HLL++ / percentile_approx state is engine-specific;
#: the driver records a rows-only check and tests/test_approx.py pins
#: the error envelopes). Anything else missing an oracle is a registry
#: mistake.
ROWS_ONLY = {"customer_analytics_approx", "source_profile_approx"}


def test_every_query_has_an_oracle_twin():
    q, o = entry.queries(), entry.oracle_sql()
    assert set(q) - set(o) == ROWS_ONLY, (
        f"missing oracles: {set(q) - set(o) - ROWS_ONLY}"
    )
    assert not set(o) - set(q), f"dangling oracles: {set(o) - set(q)}"


def test_builders_are_callables_and_oracles_are_select_sql():
    for name, fn in entry.queries().items():
        assert callable(fn), name
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_registry_is_large_and_window_covers_families():
    q = list(entry.queries())
    assert len(q) >= 110
    # spot-check the r14 window composition: the two r13-touched
    # NULL-flag-sum re-gates at the HEAD (late-landing option b), the
    # two r14 ADVICE re-gates, all seven r14 first-time seats, the
    # 3-of-6 flagship cadence picks, and the stale-tail clear (all 14
    # r9 seats — representatives below — plus 22 r10 seats).
    window = set(q[:50])
    assert q[0] == "shipping_sla" and q[1] == "revenue_forecast_backtest"
    for rep in (
        # r14 ADVICE re-gates (truth-domain + group-collapse)
        "dedup_image_band_recall",
        "media_dedup_agreement",
        # r14 first-time seats (each must gate this round)
        "dedup_media_incremental",
        "media_dedup_profile",
        "retrieval_bm25",
        "retrieval_bm25_recall",
        "similarity_hybrid_bm25",
        "similarity_hybrid_bm25_recall",
        "sequence_shuffle",
        "retrieval_rrf_fusion",
        "retrieval_rrf_recall",
        "dedup_embedding_incremental",
        "dedup_audio_incremental",
        "dedup_video_incremental",
        # flagship cadence (3 of the six due by r15)
        "time_analytics",
        "product_ranking",
        "revenue_trend",
        # the full r9 stale tail
        "text_stats",
        "partitioned_corpus_read",
        "schema_evolution_read",
        "events_props_variant",
        "doc_typicality",
        "orders_profile",
        "quarantine_audit",
        "revenue_decompose",
        "doc_top_terms",
        "text_redacted",
        "lang_confusion",
        "streaming_purchase_clicks",
        "waiting_suppliers_sql",
        "small_quantity_revenue_sql",
        # r10-pool representatives
        "corpus_curation",
        "dedup_minhash_lsh",
        "events_unpivot",
    ):
        assert rep in window, f"{rep} fell out of the driver window"


def test_entry_returns_dataframe_builder(spark):
    df = entry.entry(spark)
    assert df.schema is not None and len(df.columns) > 5


def test_no_fetch_fragile_oracle_types():
    """Commit-time twin of verify_oracle.py's sweep-time type gate (r8
    verdict #4): bind every oracle_sql() against the sf0.001 views in
    DuckDB ONLY (no Spark session, no execution — relation binding
    resolves the result types) and fail on any fetch-fragile output
    type. DuckDB types integer SUM() as HUGEINT, and the driver's
    pandas-path fetch downcasts HUGEINT → float64, hashing `3.0`
    against Spark's `3` — the class that cost the r3-r7
    sequence_packing reds. Every oracle output column must be
    explicitly CAST to its Spark physical type."""
    import os
    import sys

    from tools import oracle_db

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from verify_oracle import _FETCH_FRAGILE

    sf = "/root/testdata/sf0.001"
    con = oracle_db.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )
    bad = {}
    for name, sql in entry.oracle_sql().items():
        rel = con.sql(sql)
        frag = [
            f"{c}: {t}"
            for c, t in zip(rel.columns,
                            (str(x).split("(")[0] for x in rel.types))
            if t in _FETCH_FRAGILE
        ]
        if frag:
            bad[name] = frag
    assert not bad, f"fetch-fragile oracle output columns: {bad}"


def test_memo_warmers_cover_every_shared_cache(spark):
    """The bench accounting contract (r12): every session memo consumed
    by more than one registered query must also register a WARMER, and
    one warm→clear→warm cycle must leave every warmed memo store
    populated then empty then populated — otherwise bench per-query
    numbers silently re-absorb shared builds after a clear."""
    from demo_etl_spark import io as io_mod
    from demo_etl_spark.operators import dedup, graph, multimodal, similarity

    sf = "/root/testdata/sf0.001"
    assert len(io_mod._MEMO_WARMERS) >= 4  # dedup, graph, similarity, multimodal
    io_mod.warm_operator_memos(spark, sf)
    shared_caches = [
        m.store for m in (
            dedup._cached_index, dedup._cached_minhash_pairs,
            dedup._cached_clusters, dedup._cached_repeated_spans,
            graph._cached_pair_counts, similarity._cached_lloyd,
            similarity._cached_topk, similarity._cached_emb_pairs,
            multimodal._cached_dhash, multimodal._cached_audio_sig,
            multimodal._cached_video_chunks, multimodal._cached_media_pairs,
        )
    ]
    for c in shared_caches:
        assert c, "warmer left a shared cache empty"
    io_mod.clear_operator_memos()
    for c in shared_caches:
        # the r12 graph edge-memo bug class: a cleared persist whose
        # dict entry survives serves an unpersisted frame forever
        assert not c, "clear_operator_memos left a shared cache populated"
    io_mod.warm_operator_memos(spark, sf)
    for c in shared_caches:
        assert c, "re-warm after clear left a shared cache empty"


def _memo_checkpoint_rdds(io_mod) -> set[int]:
    """Ids of the localCheckpoint RDDs the session memos hold."""
    from pyspark.sql import DataFrame

    ids = set()
    for store in io_mod._MEMO_STORES:
        for value in store.values():
            for df in value if isinstance(value, tuple) else (value,):
                if isinstance(df, DataFrame):
                    plan = df._jdf.queryExecution().analyzed()
                    if plan.getClass().getSimpleName() == "LogicalRDD":
                        ids.add(plan.rdd().id())
    return ids


def test_clear_operator_memos_releases_memo_checkpoints(spark, sf_dir):
    """Clearing the memos frees their localCheckpoint blocks at once;
    dropping the references alone left them cached until a JVM GC."""
    from demo_etl_spark import io as io_mod

    io_mod.warm_operator_memos(spark, sf_dir)
    held = _memo_checkpoint_rdds(io_mod)
    assert held, "warmed memos hold no checkpoint"
    io_mod.clear_operator_memos()
    cached = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    assert not held & cached, sorted(held & cached)

"""Re-running a workload in one session reuses its generated classes.

Spark compiles each whole-stage / expression codegen source with Janino
and keeps the result in a JVM-wide cache (``spark.sql.codegen.cache.
maxEntries``, sized in ``session.get_spark``). With Spark's default of
100 entries a run of more than 100 distinct classes evicts its own
classes before they are reused, so every re-run recompiles everything.
"""

from __future__ import annotations

# The median-cost query of each of the 15 star-table operator modules
# (the ``star_registry`` queries of perfbench).
STAR_QUERIES = (
    "sales_asset_union", "bucketed_order_join", "cdc_latest_state",
    "order_bookends", "streaming_enriched_rollup", "events_unpivot",
    "part_communities", "market_concentration", "orders_profile",
    "salted_order_join", "pricing_summary_sql", "regional_supplier_volume_sql",
    "star_join_detail", "event_transitions", "revenue_seasonality",
)

# Classes a re-run may still compile. Measured at sf0.001 on 4 cores: the
# first run compiles ~370 classes; each of three re-runs compiled 0-4
# with the sized cache and ~376 with the 100-entry default. The few
# left vary from run to run: AQE numbers whole-stage-codegen stages in
# the order their input stages finish, and the number is part of the
# generated class name, so an unchanged stage can miss the cache.
MAX_RERUN_COMPILES = 16


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_queries(spark, sf_dir) -> int:
    """One run of the queries through a noop write, memos cleared first
    as a benchmark run does; returns the classes it compiled."""
    import __spark_entry__
    from demo_etl_spark import io

    registry = __spark_entry__.queries()
    io.clear_operator_memos()
    before = _compiles(spark)
    for name in STAR_QUERIES:
        registry[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    return _compiles(spark) - before


def test_rerun_reuses_generated_classes(spark, sf_dir, tables):
    first = _run_queries(spark, sf_dir)
    second = _run_queries(spark, sf_dir)
    # more classes than Spark's default cache holds, so this run would
    # thrash it
    assert first > 100, first
    assert second <= MAX_RERUN_COMPILES, (first, second)

"""End-to-end reference-pipeline, lineage, and framework tests
(SURVEY.md §5.3 invariants)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    from demo_etl_spark.context import RunContext
    from demo_etl_spark.plans.reference_pipeline import run_reference_pipeline

    work = str(tmp_path_factory.mktemp("refpipe"))
    ctx = RunContext(job_id="job-test-0001")
    return run_reference_pipeline(spark, work, ctx), work, ctx


def test_asset_schema_matches_reference_ddl(spark, pipeline_result):
    from demo_etl_spark.schemas import SALES_ANALYTICS_ASSET

    result, _, _ = pipeline_result
    asset = spark.read.parquet(result["asset_path"])
    assert [f.name for f in asset.schema.fields] == [
        f.name for f in SALES_ANALYTICS_ASSET.fields
    ]


def test_asset_union_invariants(spark, pipeline_result):
    result, _, _ = pipeline_result
    asset = spark.read.parquet(result["asset_path"]).cache()
    by_type = {
        r["asset_type"]: r["n"]
        for r in asset.groupBy("asset_type").agg(F.count("*").alias("n")).collect()
    }
    # union size = customers-with-orders + products-with-orders + dates
    assert result["asset_rows"] == sum(by_type.values())
    assert set(by_type) == {"customer", "product", "time"}
    # weekend+weekday ≈ total per customer is enforced upstream; here check
    # per-category rank starts at 1 and percent_rank/top-seller coherence
    prod = asset.filter(F.col("asset_type") == "product")
    min_ranks = (
        prod.groupBy("category").agg(F.min("revenue_rank_in_category").alias("m"))
    )
    assert min_ranks.filter(F.col("m") != 1).count() == 0
    # time rows restricted to the 365-day dimension before the anchor
    times = asset.filter(F.col("asset_type") == "time")
    assert times.filter(
        (F.col("date") < datetime.date(2001, 1, 1))
        | (F.col("date") >= datetime.date(2002, 1, 1))
    ).count() == 0


def test_lineage_registry_and_dot(spark, pipeline_result):
    from demo_etl_spark.schemas import DATA_LINEAGE_REGISTRY

    result, _, ctx = pipeline_result
    reg = spark.read.parquet(result["registry_path"])
    assert [f.name for f in reg.schema.fields] == [
        f.name for f in DATA_LINEAGE_REGISTRY.fields
    ]
    row = reg.first()
    assert row["job_id"] == "job-test-0001"
    assert row["record_count"] == result["asset_rows"]
    assert row["transformation_count"] == len(result["tracker"].events)
    dot = open(result["dot_path"]).read()
    assert dot.startswith("digraph") and "sales_analytics_asset" in dot


def test_pipeline_persist_released_by_clear_operator_memos(spark, tmp_path):
    """Job 2's persisted sales relation is tracked: clearing the operator
    memos leaves no persisted RDD from the pipeline behind, so repeated
    runs in one session do not pile up cached copies."""
    from demo_etl_spark import io
    from demo_etl_spark.context import RunContext
    from demo_etl_spark.fixtures import FixtureConfig, generate_fixtures
    from demo_etl_spark.plans.reference_pipeline import run_reference_pipeline

    def persisted_rdds() -> set[int]:
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    before = persisted_rdds()
    fx = generate_fixtures(
        spark, FixtureConfig(n_customers=30, n_products=12, n_orders=150)
    )
    run_reference_pipeline(
        spark, str(tmp_path), RunContext(job_id="job-test-persist"), fx
    )
    assert persisted_rdds() - before, "job 2 persists its sales relation"
    io.clear_operator_memos()
    assert persisted_rdds() - before == set()


def test_pipeline_framework_stage_verification(spark, tmp_path):
    from demo_etl_spark.plans import Pipeline, Stage

    pipe = Pipeline(str(tmp_path))
    pipe.add_source("nums", lambda s: s.range(100).withColumnRenamed("id", "n"))
    pipe.add_stage(
        Stage(
            name="evens",
            description="keep even numbers",
            transform=lambda s, ins: ins["nums"].filter(F.col("n") % 2 == 0),
            inputs=["nums"],
        )
    )
    pipe.add_stage(
        Stage(
            name="sum",
            description="sum them",
            transform=lambda s, ins: ins["evens"].agg(F.sum("n").alias("total")),
            inputs=["evens"],
        )
    )
    results = pipe.run(spark)
    assert results["evens"].rows == 50
    assert spark.read.parquet(results["sum"].path).first()["total"] == 2450
    assert len(pipe.tracker.events) == 2


def test_pipeline_fails_on_empty_stage(spark, tmp_path):
    from demo_etl_spark.plans import Pipeline, Stage

    pipe = Pipeline(str(tmp_path))
    pipe.add_source("nums", lambda s: s.range(10))
    pipe.add_stage(
        Stage(
            name="none",
            description="filter everything",
            transform=lambda s, ins: ins["nums"].filter(F.col("id") < 0),
            inputs=["nums"],
        )
    )
    with pytest.raises(RuntimeError, match="rows"):
        pipe.run(spark)


def test_run_all_cli(spark, tmp_path):
    """The workflow-driver CLI (run-all.sh equivalent): generate → job1 →
    job2 with per-stage verification, registry append and DOT output."""
    import run_all

    rc = run_all.main(
        ["--work-dir", str(tmp_path), "--job-id", "job-cli-test",
         "--customers", "50", "--products", "20", "--orders", "300"]
    )
    assert rc == 0
    assert (tmp_path / "sales_data_external" / "_SUCCESS").exists()
    assert (tmp_path / "sales_analytics_asset" / "_SUCCESS").exists()
    assert (tmp_path / "lineage_graph_job-cli-test.dot").exists()
    reg = spark.table("data_lineage_registry").filter("job_id = 'job-cli-test'")
    assert reg.count() >= 1
    assert spark.table("sales_analytics_asset").count() > 0


def test_query_execution_listener_lineage(spark, sf_dir, tmp_path):
    """Listener-derived inputs must equal the inputFiles()-derived ones
    log_frame would record (SURVEY §7 Phase 4's idiomatic upgrade)."""
    import os
    import time

    from demo_etl_spark.context import RunContext
    from demo_etl_spark.lineage import (
        LineageTracker,
        attach_query_listener,
        detach_query_listener,
    )

    tracker = LineageTracker(RunContext())
    listener = attach_query_listener(spark, tracker)
    try:
        # a path the scan cache has never seen: cache substitution empties
        # DataFrame.inputFiles() (optimized plan), while the listener reads
        # the analyzed plan — use a fresh parquet so both see the files
        path = str(tmp_path / "listener_probe")
        spark.range(100).write.parquet(path)
        df = spark.read.parquet(path)
        df.count()
        expected = sorted({os.path.dirname(f) for f in df.inputFiles()})
        events = []
        for _ in range(100):  # listener bus is async
            events = [
                e for e in tracker.events if e.description == "action:count"
            ]
            if events:
                break
            time.sleep(0.1)
        assert events, "listener never fired"
        assert list(events[-1].inputs) == expected
    finally:
        detach_query_listener(spark, listener)


def test_column_lineage_traces_provenance(spark, sf_dir):
    """Column-level lineage from the analyzed plan: derived metrics trace
    to exactly the physical source columns they consume."""
    from demo_etl_spark.io import read_star_table
    from demo_etl_spark.lineage import column_lineage
    from demo_etl_spark.operators.customer import customer_analytics

    li = read_star_table(spark, sf_dir, "lineitem", cache=False)
    od = read_star_table(spark, sf_dir, "orders", cache=False)
    cu = read_star_table(spark, sf_dir, "customer", cache=False)
    lin = column_lineage(customer_analytics(li, od, cu))
    assert lin["customer_name"] == ["customer.c_name"]
    assert lin["total_spent"] == ["lineitem.l_discount", "lineitem.l_extendedprice"]
    assert lin["days_as_customer"] == ["orders.o_orderdate"]
    # conditional sum pulls the weekend predicate's column too
    assert lin["weekend_spending"] == [
        "lineitem.l_discount", "lineitem.l_extendedprice", "orders.o_orderdate"
    ]
    # a multi-branch union resolves through unionByName as well
    from demo_etl_spark.operators.temporal import asof_last_purchase

    ev = read_star_table(spark, sf_dir, "events", cache=False)
    lin2 = column_lineage(asof_last_purchase(ev))
    # window-carried columns include the partition/order keys (the value
    # genuinely depends on them) alongside the carried payload column
    assert "events.value" in lin2["last_purchase_value"]
    assert "events.ts" in lin2["secs_since_purchase"]
    # Generate (explode) and Expand (cube) nodes resolve too
    import pyspark.sql.functions as _F

    docs = read_star_table(spark, sf_dir, "documents", cache=False)
    lin3 = column_lineage(
        docs.select(_F.explode(_F.split("text", " ")).alias("tok"))
    )
    assert lin3["tok"] == ["documents.text"]
    lin4 = column_lineage(
        docs.cube("lang").agg(_F.count(_F.lit(1)).alias("n"))
    )
    assert lin4["lang"] == ["documents.lang"]


def test_clear_scan_cache_releases_everything(spark, sf_dir):
    from pyspark.storagelevel import StorageLevel

    from demo_etl_spark import io

    df = io.read_star_table(spark, sf_dir, "nation")
    persisted = io.register_persist(spark.range(10), StorageLevel.MEMORY_AND_DISK)
    persisted.count()
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    io.clear_scan_cache()
    assert not io._SCAN_CACHE and not io._PERSISTED
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    assert not (
        persisted.storageLevel.useMemory or persisted.storageLevel.useDisk
    )
    # next read re-registers a fresh cached scan
    df2 = io.read_star_table(spark, sf_dir, "nation")
    assert df2.storageLevel.useMemory or df2.storageLevel.useDisk


def test_pipeline_invariants_hold_for_any_seed(spark, tmp_path):
    """SURVEY §5.4 property test: the reference-pipeline invariants are
    seed-independent — weekend+weekday spending reconstructs total_spent,
    per-category ranks start at 1, and the union partitions by type."""
    from hypothesis import given, settings, strategies as st

    from demo_etl_spark.context import RunContext
    from demo_etl_spark.fixtures import FixtureConfig, generate_fixtures
    from demo_etl_spark.plans.reference_pipeline import job1_sales_data, job2_asset

    @settings(max_examples=3, deadline=None)
    @given(seed=st.integers(min_value=0, max_value=2**31 - 1))
    def check(seed):
        ctx = RunContext(job_id=f"prop-{seed}")
        fx = generate_fixtures(
            spark,
            FixtureConfig(n_customers=30, n_products=12, n_orders=150, seed=seed),
        )
        sales = job1_sales_data(fx["customers"], fx["products"], fx["orders"], ctx)
        asset = job2_asset(spark, sales, ctx).cache()
        cust = asset.filter(F.col("asset_type") == "customer")
        # rank ≥ 1 everywhere; each category's best rank is exactly 1
        prod = asset.filter(F.col("asset_type") == "product")
        if prod.count():
            assert prod.filter(F.col("revenue_rank_in_category") < 1).count() == 0
            assert (
                prod.groupBy("category")
                .agg(F.min("revenue_rank_in_category").alias("m"))
                .filter(F.col("m") != 1)
                .count()
                == 0
            )
        # union partitions cleanly by type
        types = {r["asset_type"] for r in asset.select("asset_type").distinct().collect()}
        assert types <= {"customer", "product", "time"}
        # customer rows: value score finite, purchase dates ordered
        assert cust.filter(
            F.col("first_purchase_date") > F.col("last_purchase_date")
        ).count() == 0
        asset.unpersist()

    check()


def test_fixtures_deterministic(spark):
    from demo_etl_spark.fixtures import FixtureConfig, generate_fixtures

    a = generate_fixtures(spark, FixtureConfig(n_customers=20, n_products=10, n_orders=50))
    b = generate_fixtures(spark, FixtureConfig(n_customers=20, n_products=10, n_orders=50))
    assert sorted(map(tuple, a["orders"].collect())) == sorted(
        map(tuple, b["orders"].collect())
    )
    status = {r["status"] for r in a["customers"].collect()}
    assert status <= {"active", "inactive"}


def test_run_curation_workflow_end_to_end(spark, tmp_path):
    """The LLM-data workflow CLI chains curate -> semantic gate ->
    scrub -> fingerprint -> split -> chunk with verified
    materializations and lineage, mirroring run_all.py's stage
    discipline on the extension surface."""
    import run_curation

    work = str(tmp_path / "cur")
    rc = run_curation.main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--work-dir", work, "--job-id", "pytest-cur",
    ])
    assert rc == 0
    curated = spark.read.parquet(f"{work}/curated")
    semantic = spark.read.parquet(f"{work}/semantic_verdicts")
    scrub = spark.read.parquet(f"{work}/scrubbed")
    splits = spark.read.parquet(f"{work}/splits")
    fps = spark.read.parquet(f"{work}/fingerprints")
    chunks = spark.read.parquet(f"{work}/train_chunks")
    n_cur = curated.count()
    assert 0 < n_cur < 500  # the gates actually dropped docs
    # the semantic gate runs over the stage-1 SURVIVORS only (a removed
    # near-dup must not act as cluster representative and drop every
    # surviving copy of its content); scrub audits every survivor of
    # BOTH document-level gates
    assert semantic.count() > 0
    sem_ids = {r["vec_id"] for r in semantic.select("vec_id").collect()}
    cur_ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert sem_ids <= cur_ids, "semantic gate audited non-survivors"
    sem_drop_ids = {
        r["vec_id"]
        for r in semantic.filter("NOT is_kept").select("vec_id").collect()
    }
    assert scrub.count() == len(cur_ids - sem_drop_ids)
    # token accounting holds on every scrub row
    assert scrub.filter("n_kept + n_removed != n_tokens").count() == 0
    n_surv = scrub.filter("n_kept > 0").count()
    assert splits.count() == n_surv  # split covers the scrub survivors
    # fingerprints and chunks only reference surviving docs
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert {r["doc_id"] for r in fps.select("doc_id").distinct().collect()} <= ids
    assert {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()} <= ids
    assert chunks.count() > 0
    import glob
    assert glob.glob(f"{work}/curation_lineage_*.dot")


def test_column_lineage_dot_renders_provenance_edges(spark, sf_dir):
    from demo_etl_spark.io import read_star_table
    from demo_etl_spark.lineage import column_lineage_dot
    from demo_etl_spark.operators.customer import customer_analytics

    li = read_star_table(spark, sf_dir, "lineitem", cache=False)
    od = read_star_table(spark, sf_dir, "orders", cache=False)
    cu = read_star_table(spark, sf_dir, "customer", cache=False)
    dot = column_lineage_dot(customer_analytics(li, od, cu), "cust-ana")
    assert dot.startswith("digraph column_lineage_cust_ana {")
    assert '"customer.c_name" -> "out.customer_name";' in dot
    assert '"lineitem.l_extendedprice" -> "out.total_spent";' in dot
    assert '"orders.o_orderdate" -> "out.weekend_spending";' in dot
    assert dot.rstrip().endswith("}")

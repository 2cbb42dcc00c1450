"""bench.py's recorder: one pass attributed to status-store counters."""

from __future__ import annotations

import pytest


def test_bench_pass_records_counters(spark, sf_dir):
    import __spark_entry__
    import bench
    from perfbench.workloads import memo_warmers

    qs = __spark_entry__.queries()
    rec = bench.Recorder(spark, sf_dir)
    rec.run_pass(
        {"customer": memo_warmers()["customer"]},
        {name: qs[name] for name in ("customer_analytics", "star_join_detail")},
    )
    (p,) = rec.report()["passes"]

    assert spark.conf.get("spark.ui.enabled") == "false"
    assert spark.sparkContext.uiWebUrl is None
    warm = p["warmers"]["customer"]
    assert warm["jobs"] >= 1
    assert set(p["queries"]) == {"customer_analytics", "star_join_detail"}
    for q in p["queries"].values():
        assert "error" not in q
        assert q["sec"] > 0 and q["tasks"] >= 1
    assert warm["jobs"] + sum(q["jobs"] for q in p["queries"].values()) <= p["jobs"]

    # a job or stage of the run missing from the store fails the read
    with pytest.raises(RuntimeError, match="evicted 1 jobs"):
        rec._check_retained([{"jobId": rec.first_job + 1, "stageIds": []}], [])
    with pytest.raises(RuntimeError, match="and 1 stages"):
        rec._check_retained([{"jobId": rec.first_job, "stageIds": [7]}], [{"stageId": 6}])


def test_bench_warms_only_the_memos_its_queries_read():
    import bench

    warmers = {name: object() for name in ("customer", "dedup", "multimodal")}
    # queries the sweep records as reading no memo warm nothing
    assert bench.warmers_for(warmers, ["regional_rollup", "customer_rfm"]) == {}
    picked = bench.warmers_for(warmers, ["dedup_image_band_recall", "regional_rollup"])
    assert picked == {"multimodal": warmers["multimodal"]}
    # a query the sweep does not list warms every warmer
    assert bench.warmers_for(warmers, ["regional_rollup", "not_in_sweep"]) == warmers

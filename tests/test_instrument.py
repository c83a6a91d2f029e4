"""Observation-API pipeline metrics: one action, per-stage counters."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_pipeline_metrics_single_action(spark, tmp_path):
    from etl_oms_spark.plans.instrument import PipelineMetrics

    stages = PipelineMetrics()
    raw = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("k"), (F.col("id") * 2).alias("v")
    )
    df = stages.observe(raw, "ingested", v_total=F.sum("v"))
    filtered = stages.observe(df.filter(F.col("k") < 5), "post_filter")
    filtered.write.parquet(str(tmp_path / "out"))
    report = stages.report()
    assert report["ingested"]["rows"] == 100
    assert report["ingested"]["v_total"] == sum(i * 2 for i in range(100))
    assert report["post_filter"]["rows"] == 50
    # the observation rode the one write: output is intact
    assert spark.read.parquet(str(tmp_path / "out")).count() == 50


def test_pipeline_metrics_duplicate_stage_rejected(spark):
    import pytest

    from etl_oms_spark.plans.instrument import PipelineMetrics

    stages = PipelineMetrics()
    df = spark.range(3)
    stages.observe(df, "s")
    with pytest.raises(ValueError):
        stages.observe(df, "s")

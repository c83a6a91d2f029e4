"""Hierarchical time rollups + incremental refresh."""

from __future__ import annotations

import datetime

from etl_oms_spark.operators.rollup import refresh_rollup, time_rollup


def _events(spark, day, n=4):
    base = datetime.datetime(2024, 1, day)
    rows = [
        (day * 100 + i, base + datetime.timedelta(hours=i * 5), 1, "click",
         float(i + 1), "{}")
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_hierarchical_tiers_lossless(spark):
    ev = _events(spark, 1).union(_events(spark, 2))
    tiers = time_rollup(ev, ["1 hour", "1 day"], keys=["event_type"])
    day = {r["bucket"].day: (r["n_events"], r["value_cents"]) for r in tiers["1 day"].collect()}
    # each day: 4 events, values 1..4 → 1000 cents
    assert day == {1: (4, 1000), 2: (4, 1000)}
    hours = tiers["1 hour"].collect()
    assert len(hours) == 8 and all(r["n_events"] == 1 for r in hours)


def test_refresh_rollup_incremental(spark, tmp_path):
    target = str(tmp_path / "hourly")
    refresh_rollup(target, _events(spark, 1), "1 hour")
    assert spark.read.parquet(target).count() == 4
    # new day arrives → only its buckets merge in; day 1 untouched
    refresh_rollup(target, _events(spark, 2), "1 hour")
    out = spark.read.parquet(target)
    assert out.count() == 8
    # re-run day 2 (idempotent replay under the full-bucket contract)
    refresh_rollup(target, _events(spark, 2), "1 hour")
    assert spark.read.parquet(target).count() == 8

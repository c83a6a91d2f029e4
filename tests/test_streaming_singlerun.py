"""Pins for streaming/events.single_run_sentinel_flush — the round-13
optimization that collapses the 3-phase sentinel-restart dance into ONE
availableNow run with TWO micro-batches: all files (real data + one
far-future sentinel) as a single data batch under watermark 0, then the
trailing no-data micro-batch flushing every finalized window after the
watermark advanced past them.

The load-bearing claims, each pinned here on a toy frame:
1. the emitted finalized windows EQUAL the batch rollup (nothing lost,
   nothing duplicated — the same exactness contract the restart dance
   carried);
2. the sentinel row's own window is NOT emitted (it stays open), so
   the caller's max-ts filter sees exactly the real windows;
3. file order is irrelevant: everything lands in the one data batch
   under watermark 0, so even adversarially future-dated real files
   cannot be "late" — no mtime discipline is required.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from etl_oms_spark.streaming.events import (
    single_run_sentinel_flush,
    windowed_total_counts,
)


def _toy_events(spark):
    # three days, uneven counts, written as TWO files (multi-file real
    # corpus — the production write path is parallel, not coalesced)
    rows = [
        (1, "2024-01-01 08:00:00"),
        (2, "2024-01-01 09:30:00"),
        (3, "2024-01-02 00:00:00"),
        (4, "2024-01-03 10:00:00"),
        (5, "2024-01-03 23:59:59"),
        (6, "2024-01-03 05:00:00"),
    ]
    return spark.createDataFrame(rows, "event_id long, ts string").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    )


def _run(spark, tmp, ev):
    src = os.path.join(tmp, "src")
    out = os.path.join(tmp, "daily")
    ckpt = os.path.join(tmp, "ckpt")
    ev.repartition(2).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    bounds = spark.read.parquet(src).agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).collect()[0]
    span = int((bounds["mx"] - bounds["mn"]).total_seconds())
    delay = span + 3600
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        (
            F.lit(bounds["mx"])
            + F.make_interval(secs=F.lit(delay + 86400 + 3600))
        ).alias("ts"),
    )
    single_run_sentinel_flush(
        spark,
        src,
        sentinel,
        lambda s: windowed_total_counts(
            s, window="1 day", watermark=f"{delay} seconds"
        ),
        out,
        ckpt,
        schema=schema,
    )
    return spark.read.parquet(out), bounds


def test_single_run_flush_equals_batch_rollup(spark):
    ev = _toy_events(spark)
    with tempfile.TemporaryDirectory(prefix="sr1flush_") as tmp:
        emitted, bounds = _run(spark, tmp, ev)
        # claim 2: no sentinel window escapes open state
        assert (
            emitted.filter(F.col("window_start") > F.lit(bounds["mx"])).count()
            == 0
        )
        got = sorted(
            (r["window_start"].isoformat(), r["n"])
            for r in emitted.filter(
                F.col("window_start") <= F.lit(bounds["mx"])
            ).collect()
        )
        want = sorted(
            (r["day"].isoformat(), r["x"])
            for r in ev.groupBy(
                F.date_trunc("day", "ts").alias("day")
            ).agg(F.count(F.lit(1)).alias("x")).collect()
        )
        assert got == want  # claim 1


def test_single_run_flush_ignores_file_order(spark):
    """Claim 3: even with the real files adversarially dated AFTER any
    sentinel could be, every real window is flushed exactly once — the
    one-data-batch design makes file/mtime order irrelevant (watermark
    is 0 while data is processed; the flush rides the no-data batch)."""
    ev = _toy_events(spark)
    with tempfile.TemporaryDirectory(prefix="sr1ord_") as tmp:
        src = os.path.join(tmp, "src")
        ev.repartition(2).write.mode("overwrite").parquet(src)
        import glob
        import time

        future = time.time() + 10_000
        for p in glob.glob(os.path.join(src, "*.parquet")):
            os.utime(p, (future, future))
        out = os.path.join(tmp, "daily")
        ckpt = os.path.join(tmp, "ckpt")
        schema = spark.read.parquet(src).schema
        bounds = spark.read.parquet(src).agg(
            F.min("ts").alias("mn"), F.max("ts").alias("mx")
        ).collect()[0]
        span = int((bounds["mx"] - bounds["mn"]).total_seconds())
        delay = span + 3600
        sentinel = spark.range(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            (
                F.lit(bounds["mx"])
                + F.make_interval(secs=F.lit(delay + 86400 + 3600))
            ).alias("ts"),
        )
        single_run_sentinel_flush(
            spark,
            src,
            sentinel,
            lambda s: windowed_total_counts(
                s, window="1 day", watermark=f"{delay} seconds"
            ),
            out,
            ckpt,
            schema=schema,
        )
        n_days = (
            spark.read.parquet(out)
            .filter(F.col("window_start") <= F.lit(bounds["mx"]))
            .count()
        )
        assert n_days == 3  # all real days flushed exactly once


def test_single_run_flush_leaves_unset_knob_unset(spark):
    """The helper pins the no-data-batch knob for its run only: a knob
    the session never set must be unset again afterwards, not left at
    an explicit "true"."""
    knob = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.unset(knob)
    with tempfile.TemporaryDirectory(prefix="sr1knob_") as tmp:
        _run(spark, tmp, _toy_events(spark))
    assert spark.conf.get(knob, None) is None


def test_sj1_leaves_unset_knob_unset(spark, sf_dir):
    """sj1 switches the no-data-batch knob off for its own run only: a
    knob the session never set is unset again afterwards, not pinned to
    the registered default."""
    import __spark_entry__ as entry_mod

    knob = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.unset(knob)
    assert entry_mod.queries()["sj1_stream_stream_join"](spark, sf_dir).count() > 0
    assert spark.conf.get(knob, None) is None


def test_scoped_conf_restores_caller_value(spark):
    from etl_oms_spark.util import scoped_conf

    knob = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(knob, "false")
    try:
        with scoped_conf(spark, knob, "true"):
            assert spark.conf.get(knob) == "true"
        assert spark.conf.get(knob, None) == "false"
    finally:
        spark.conf.unset(knob)

"""Partition-pruned parquet merge: upsert cost O(touched partitions)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from etl_oms_spark.sources.merge_table import (
    cdc_merge_into_parquet,
    merge_into_parquet,
    refresh_aggregate,
)
from etl_oms_spark.sources.readers import read_parquet_or_none


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id long, day string, v long")


def test_merge_into_parquet_upserts_only_touched(spark, tmp_path):
    target = str(tmp_path / "warehouse")
    merge_into_parquet(
        spark, target,
        _batch(spark, [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)]),
        keys=["id", "day"], partition_col="day",
    )
    # snapshot the untouched partition's files to prove it isn't rewritten
    d2_dir = os.path.join(target, "day=d2")
    d2_before = sorted(os.listdir(d2_dir))

    merge_into_parquet(
        spark, target,
        _batch(spark, [(2, "d1", 99), (4, "d1", 40)]),  # update + insert, d1 only
        keys=["id", "day"], partition_col="day",
    )
    out = {(r["id"]): (r["day"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert out == {1: ("d1", 10), 2: ("d1", 99), 3: ("d2", 30), 4: ("d1", 40)}
    assert sorted(os.listdir(d2_dir)) == d2_before  # d2 untouched on disk


def test_merge_into_parquet_idempotent(spark, tmp_path):
    target = str(tmp_path / "idem")
    batch = _batch(spark, [(1, "d1", 1), (2, "d2", 2)])
    merge_into_parquet(spark, target, batch, keys=["id", "day"], partition_col="day")
    merge_into_parquet(spark, target, batch, keys=["id", "day"], partition_col="day")
    df = spark.read.parquet(target)
    assert df.count() == 2


def test_merge_partition_pruning_plan(spark, tmp_path):
    """The merge's target-side scan must partition-prune to touched values."""
    from etl_oms_spark.util import physical_plan

    target = str(tmp_path / "pruned")
    _batch(spark, [(1, "d1", 1), (2, "d2", 2), (3, "d3", 3)]).write \
        .partitionBy("day").mode("overwrite").parquet(target)
    existing = spark.read.parquet(target)
    pruned = existing.filter(F.col("day").isin(["d1"]))
    plan = physical_plan(pruned)
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:120]


def test_cdc_merge_into_parquet_deletes_and_idempotence(spark, tmp_path):
    import datetime as dt

    from etl_oms_spark.sources.merge_table import cdc_merge_into_parquet

    target = str(tmp_path / "cdc_target")
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 2)

    def read():
        return {
            r["id"]: (r["op"], r["v"])
            for r in spark.read.parquet(target).collect()
        }

    batch1 = spark.createDataFrame(
        [(1, "p0", t0, "I", 10), (2, "p0", t0, "I", 20), (3, "p1", t0, "I", 30)],
        "id INT, part STRING, ts TIMESTAMP, op STRING, v INT",
    )
    cdc_merge_into_parquet(spark, target, batch1, ["id"], "part")
    assert read() == {1: ("I", 10), 2: ("I", 20), 3: ("I", 30)}

    # update 1, delete 2, leave p1 untouched (partition never read)
    batch2 = spark.createDataFrame(
        [(1, "p0", t1, "U", 11), (2, "p0", t1, "D", 0)],
        "id INT, part STRING, ts TIMESTAMP, op STRING, v INT",
    )
    cdc_merge_into_parquet(spark, target, batch2, ["id"], "part")
    assert read() == {1: ("U", 11), 3: ("I", 30)}

    # re-applying the same batch is a no-op
    cdc_merge_into_parquet(spark, target, batch2, ["id"], "part")
    assert read() == {1: ("U", 11), 3: ("I", 30)}


def test_cdc_merge_empties_whole_partition(spark, tmp_path):
    """A batch deleting every remaining row of a partition must remove the
    partition directory — dynamic overwrite alone would leave it stale."""
    import datetime as dt

    from etl_oms_spark.sources.merge_table import cdc_merge_into_parquet

    target = str(tmp_path / "cdc_empty")
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 2)
    batch1 = spark.createDataFrame(
        [(1, "p0", t0, "I", 10), (2, "p1", t0, "I", 20), (3, "p1", t0, "I", 30)],
        "id INT, part STRING, ts TIMESTAMP, op STRING, v INT",
    )
    cdc_merge_into_parquet(spark, target, batch1, ["id"], "part")

    # delete BOTH p1 rows: p1 emits zero output rows and must disappear
    batch2 = spark.createDataFrame(
        [(2, "p1", t1, "D", 0), (3, "p1", t1, "D", 0)],
        "id INT, part STRING, ts TIMESTAMP, op STRING, v INT",
    )
    cdc_merge_into_parquet(spark, target, batch2, ["id"], "part")
    rows = {r["id"] for r in spark.read.parquet(target).collect()}
    assert rows == {1}
    assert not os.path.exists(os.path.join(target, "part=p1"))
    # idempotent: re-applying the emptying batch is a no-op
    cdc_merge_into_parquet(spark, target, batch2, ["id"], "part")
    assert {r["id"] for r in spark.read.parquet(target).collect()} == {1}


_MODE = "spark.sql.sources.partitionOverwriteMode"


def _cdc(spark, rows):
    return spark.createDataFrame(
        rows, "id INT, part STRING, ts TIMESTAMP, op STRING, v INT"
    )


def _first_merge(spark, target):
    merge_into_parquet(
        spark, target, _batch(spark, [(1, "d1", 1)]), ["id", "day"], "day"
    )


def _second_merge(spark, target):
    merge_into_parquet(
        spark, target, _batch(spark, [(1, "d1", 2), (2, "d2", 2)]), ["id", "day"], "day"
    )


def _cdc_merge(spark, target):
    t0 = dt.datetime(2024, 1, 1)
    cdc_merge_into_parquet(
        spark, target, _cdc(spark, [(1, "d1", t0, "I", 1)]), ["id"], "part"
    )


def _refresh(spark, target):
    refresh_aggregate(
        spark, target, _batch(spark, [(1, "d1", 1)]), ["day"], ["v"], "day"
    )


@pytest.mark.parametrize("before", [None, "STATIC"])
@pytest.mark.parametrize(
    "call, setup",
    [
        (_first_merge, None),
        (_second_merge, _first_merge),
        (_cdc_merge, _cdc_merge),
        (_refresh, _refresh),
    ],
    ids=["merge_first", "merge_second", "cdc", "refresh_aggregate"],
)
def test_write_path_leaves_overwrite_mode_alone(spark, tmp_path, call, setup, before):
    """Every upsert writes with dynamic overwrite as a WRITE option: the
    session's partitionOverwriteMode is the same after the call as before
    it, unset included (a leaked "dynamic" makes a later plain partitioned
    overwrite in the session keep stale partitions)."""
    target = str(tmp_path / "t")
    if setup is not None:
        setup(spark, target)
    if before is None:
        spark.conf.unset(_MODE)
    else:
        spark.conf.set(_MODE, before)
    try:
        call(spark, target)
        assert spark.conf.get(_MODE, None) == before
    finally:
        spark.conf.unset(_MODE)


def test_merge_raises_on_unreadable_target(spark, tmp_path):
    """A target that exists but cannot be read is NOT a first write: the
    merge must raise and leave the stored partitions on disk, not replace
    the table with the batch."""
    target = str(tmp_path / "t")
    _batch(spark, [(1, "d1", 1), (2, "d2", 2), (3, "d3", 3)]).write.partitionBy(
        "day"
    ).parquet(target)
    # a stray non-partition subdirectory makes the layout unreadable
    spark.range(1).write.parquet(os.path.join(target, "stray"))
    with pytest.raises(Exception, match="CONFLICTING_DIRECTORY_STRUCTURES"):
        merge_into_parquet(
            spark, target, _batch(spark, [(4, "d4", 4)]), ["id", "day"], "day"
        )
    for day in ("d1", "d2", "d3"):
        assert os.path.isdir(os.path.join(target, f"day={day}"))


def test_read_parquet_or_none(spark, tmp_path):
    assert read_parquet_or_none(spark, str(tmp_path / "missing")) is None
    target = str(tmp_path / "t")
    _batch(spark, [(1, "d1", 1)]).write.parquet(target)
    assert read_parquet_or_none(spark, target).count() == 1


def test_cdc_target_emptied_then_bootstrapped(spark, tmp_path):
    """A CDC batch deleting every row leaves only _SUCCESS under the root:
    that reads as "no table yet", and the next batch bootstraps it."""
    target = str(tmp_path / "cdc")
    t0, t1, t2 = (dt.datetime(2024, 1, d) for d in (1, 2, 3))
    cdc_merge_into_parquet(
        spark, target, _cdc(spark, [(1, "p0", t0, "I", 1), (2, "p1", t0, "I", 2)]),
        ["id"], "part",
    )
    cdc_merge_into_parquet(
        spark, target, _cdc(spark, [(1, "p0", t1, "D", 0), (2, "p1", t1, "D", 0)]),
        ["id"], "part",
    )
    assert read_parquet_or_none(spark, target) is None
    cdc_merge_into_parquet(
        spark, target, _cdc(spark, [(3, "p2", t2, "I", 3)]), ["id"], "part"
    )
    rows = {(r["id"], r["part"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert rows == {(3, "p2", 3)}

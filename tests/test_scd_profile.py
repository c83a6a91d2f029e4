"""SCD2 maintenance, column profiling, winsorize, hopping windows,
binaryFile ingestion."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def change_log(spark):
    rows = [
        (1, "bronze", _ts("2024-01-01T00:00:00")),
        (1, "bronze", _ts("2024-02-01T00:00:00")),  # duplicate state: collapses
        (1, "silver", _ts("2024-03-01T00:00:00")),
        (1, "gold", _ts("2024-06-01T00:00:00")),
        (2, "silver", _ts("2024-01-15T00:00:00")),
    ]
    return spark.createDataFrame(rows, "user_id INT, tier STRING, ts TIMESTAMP")


def test_scd2_history_episodes(change_log):
    from etl_oms_spark.operators.scd import scd2_history

    out = scd2_history(change_log, "user_id", ["tier"], "ts")
    rows = {(r["user_id"], r["tier"]): r for r in out.collect()}
    assert len(rows) == 4  # duplicate bronze collapsed
    assert rows[(1, "bronze")]["valid_from"] == _ts("2024-01-01T00:00:00")
    assert rows[(1, "bronze")]["valid_to"] == _ts("2024-03-01T00:00:00")
    assert not rows[(1, "bronze")]["is_current"]
    assert rows[(1, "gold")]["valid_to"] is None and rows[(1, "gold")]["is_current"]
    assert rows[(2, "silver")]["is_current"]


def test_scd2_apply_close_insert_noop(spark, change_log):
    from etl_oms_spark.operators.scd import scd2_apply, scd2_history

    dim = scd2_history(change_log, "user_id", ["tier"], "ts")
    updates = spark.createDataFrame(
        [
            (1, "gold", _ts("2024-07-01T00:00:00")),      # unchanged → no-op
            (2, "gold", _ts("2024-07-01T00:00:00")),      # changed → close + open
            (3, "bronze", _ts("2024-07-01T00:00:00")),    # new key → open
        ],
        "user_id INT, tier STRING, ts TIMESTAMP",
    )
    out = scd2_apply(dim, updates, "user_id", ["tier"], "ts")
    rows = {(r["user_id"], r["tier"]): r for r in out.collect()}
    assert len(rows) == 6
    # unchanged current row stays open with its original valid_from
    assert rows[(1, "gold")]["is_current"]
    assert rows[(1, "gold")]["valid_from"] == _ts("2024-06-01T00:00:00")
    # changed: old version closed at the update ts, new one current
    assert rows[(2, "silver")]["valid_to"] == _ts("2024-07-01T00:00:00")
    assert not rows[(2, "silver")]["is_current"]
    assert rows[(2, "gold")]["is_current"]
    # new key inserted current
    assert rows[(3, "bronze")]["is_current"]
    # idempotent: re-applying the same batch changes nothing
    again = scd2_apply(out, updates, "user_id", ["tier"], "ts")
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


def test_profile_columns_stats(spark):
    from etl_oms_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, 2.0, "a", _ts("2024-01-01T00:00:00")),
         (2, None, "b", _ts("2024-01-02T00:00:00")),
         (2, 4.0, None, None)],
        "k INT, v DOUBLE, s STRING, t TIMESTAMP",
    )
    out = {r["col_name"]: r for r in profile_columns(df).collect()}
    assert out["k"]["n_rows"] == 3 and out["k"]["n_null"] == 0
    assert out["k"]["n_distinct"] == 2
    assert out["k"]["min_num"] == 1.0 and out["k"]["max_num"] == 2.0
    assert out["v"]["n_null"] == 1 and out["v"]["n_distinct"] == 2
    assert out["s"]["min_str"] == "a" and out["s"]["max_str"] == "b"
    assert out["s"]["min_num"] is None
    assert out["t"]["n_null"] == 1
    assert out["t"]["min_num"] == _ts("2024-01-01T00:00:00").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()
    # approx path keeps the same schema
    approx = {r["col_name"]: r for r in profile_columns(df, approx=True).collect()}
    assert approx["k"]["n_distinct"] >= 1


def test_winsorize_bounds(spark):
    from etl_oms_spark.transform import winsorize

    vals = list(range(1, 101))  # p05 ≈ 5.95, p95 ≈ 95.05
    df = spark.createDataFrame([(v, "g") for v in vals], "x INT, g STRING")
    out = winsorize(df, "x", ["g"], 0.05, 0.95).collect()
    w = {r["x"]: r["x_winsorized"] for r in out}
    assert w[1] == pytest.approx(5.95)
    assert w[100] == pytest.approx(95.05)
    assert w[50] == 50.0


def test_hopping_window_membership(spark):
    from etl_oms_spark.operators.rollup import hopping_window_counts

    ev = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:30:00"), 1.0)],
        "event_id INT, ts TIMESTAMP, value DOUBLE",
    )
    out = hopping_window_counts(ev, "2 hours", "1 hour").collect()
    starts = sorted(r["window_start"] for r in out)
    assert starts == [_ts("2024-01-01T09:00:00"), _ts("2024-01-01T10:00:00")]
    assert all(r["n_events"] == 1 and r["sum_value"] == 1.0 for r in out)


def test_profile_columns_awkward_names(spark):
    """Column names with spaces, hyphens, quotes and reserved words must
    survive the generated stack()/CAST SQL (backquoted identifiers,
    escaped label literals)."""
    from pyspark.sql import functions as F

    from etl_oms_spark.operators.profile import profile_columns

    df = spark.range(3).select(
        F.col("id").alias("my col"),
        (F.col("id") * 2).alias("select"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("it's-weird"),
    )
    out = {r["col_name"]: r for r in profile_columns(df).collect()}
    assert set(out) == {"my col", "select", "it's-weird"}
    assert out["my col"]["n_distinct"] == 3 and out["my col"]["max_num"] == 2.0
    assert out["select"]["max_num"] == 4.0
    assert out["it's-weird"]["n_null"] == 0 and out["it's-weird"]["min_str"] == "x0"

    approx = {r["col_name"]: r for r in profile_columns(df, approx=True).collect()}
    assert approx["my col"]["n_distinct"] == 3


def test_scd2_pit_join_boundaries(spark):
    """Half-open [valid_from, valid_to) semantics at the edges: a probe
    exactly AT a boundary belongs to the newer version; probes before
    the first version keep NULL state; at most one match per probe."""
    import datetime as dt

    from etl_oms_spark.operators.scd import scd2_pit_join

    t = lambda s: dt.datetime.fromisoformat(s)
    hist = spark.createDataFrame(
        [
            (1, "bronze", t("2024-01-01T00:00:00"), t("2024-01-10T00:00:00"), False),
            (1, "gold", t("2024-01-10T00:00:00"), None, True),
        ],
        "user_id long, state string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    probes = spark.createDataFrame(
        [
            (100, 1, t("2023-12-31T23:59:59")),  # before any version
            (101, 1, t("2024-01-01T00:00:00")),  # at first valid_from
            (102, 1, t("2024-01-09T23:59:59")),  # inside bronze
            (103, 1, t("2024-01-10T00:00:00")),  # boundary -> gold
            (104, 1, t("2025-06-01T00:00:00")),  # open-ended current
            (105, 2, t("2024-01-05T00:00:00")),  # unknown user
        ],
        "event_id long, user_id long, ts timestamp",
    )
    out = scd2_pit_join(hist, probes, "user_id")
    got = {r["event_id"]: r["state"] for r in out.collect()}
    assert got == {
        100: None, 101: "bronze", 102: "bronze",
        103: "gold", 104: "gold", 105: None,
    }
    assert out.count() == 6  # left join, exactly one row per probe

"""Star schema, reshape, merge semantics (A1-A6, J1-J5, R1-R2)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from etl_oms_spark.merge import merge_dataframes, upsert_coalesce_nulls
from etl_oms_spark.reshape import melt, melt_with_units, pivot_wide
from etl_oms_spark.star import (
    build_fact,
    build_maladie,
    build_pays,
    build_region,
    grow_dimension,
    keep_last_dedup,
    rollup_statistique,
    surrogate_keys,
)


def _canonical(spark):
    rows = [
        ("France", datetime.datetime(2020, 1, 1), 10, 1, 8, 1, 2, 1),
        ("France", datetime.datetime(2020, 1, 2), 15, 2, 9, 4, 5, 1),
        ("Germany", datetime.datetime(2020, 1, 1), 7, 0, 5, 2, 7, 0),
    ]
    return spark.createDataFrame(
        rows,
        "country string, date timestamp, confirmed long, deaths long, "
        "recovered long, active long, new_cases long, new_deaths long",
    )


def test_surrogate_keys_contiguous_ordered(spark):
    df = spark.createDataFrame([("b",), ("a",), ("b",), (None,)], ["name"])
    out = surrogate_keys(df, "name", "id").collect()
    assert [(r["name"], r["id"]) for r in sorted(out, key=lambda r: r["id"])] == [
        ("a", 1),
        ("b", 2),
    ]


def test_star_schema_build(spark):
    df = _canonical(spark).withColumn("pandemic", F.lit("COVID-19"))
    pays = build_pays(df)
    region = build_region(pays)
    maladie = build_maladie(spark, ["COVID-19"])
    fact = build_fact(df, pays, region, maladie)
    rows = fact.orderBy("id_region", "date").collect()
    assert len(rows) == 3
    r0 = rows[0]
    assert set(fact.columns) == {
        "id_maladie", "id_region", "date", "nouveau_mort", "nouveau_cas",
        "total_mort", "total_cas",
    }
    # France id_pays=1 (alphabetical), Germany=2
    assert r0["id_region"] == 1 and r0["total_cas"] == 10
    assert r0["date"] == datetime.date(2020, 1, 1)


def test_keep_last_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a", 10, 1), (1, "a", 20, 2), (2, "a", 5, 3)],
        "k int, g string, v int, arrival int",
    )
    out = keep_last_dedup(df, ["k", "g"], "arrival").orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, 20), (2, 5)]


def test_rollup_statistique(spark):
    df = spark.createDataFrame(
        [
            (1, 1, datetime.date(2020, 1, 1), 1, 2, 10, 100),
            (1, 1, datetime.date(2020, 1, 1), 3, 4, 12, 120),
        ],
        "id_maladie int, id_region int, date date, nouveau_mort long, "
        "nouveau_cas long, total_mort long, total_cas long",
    )
    r = rollup_statistique(df).first()
    assert (r["nouveau_mort"], r["nouveau_cas"], r["total_mort"], r["total_cas"]) == (
        4, 6, 12, 120,
    )


def test_grow_dimension_anti_join(spark):
    dim = spark.createDataFrame([("France", 1), ("Germany", 2)], "country string, id int")
    incoming = spark.createDataFrame([("France",), ("Spain",), ("Austria",)], ["country"])
    out = grow_dimension(dim, incoming, "country", "id").orderBy("id").collect()
    assert [(r["country"], r["id"]) for r in out] == [
        ("France", 1), ("Germany", 2), ("Austria", 3), ("Spain", 4),
    ]


def test_melt_and_units(spark):
    df = _canonical(spark).withColumn("pandemic", F.lit("COVID-19"))
    long = melt_with_units(df, ids=["country", "date", "pandemic"])
    assert long.count() == 18  # 3 rows × 6 indicators, no nulls
    units = {r["indicator"]: r["unit"] for r in long.select("indicator", "unit").distinct().collect()}
    assert units["deaths"] == "deaths" and units["recovered"] == "patients"


def test_melt_drops_null_values(spark):
    df = spark.createDataFrame(
        [("FR", None, 5)], "country string, confirmed long, deaths long"
    )
    out = melt(df, ids=["country"], values=["confirmed", "deaths"])
    assert out.count() == 1  # null confirmed dropped (ETL_OMS.py:84)


def test_pivot_roundtrip(spark):
    df = _canonical(spark).withColumn("pandemic", F.lit("X"))
    long = melt(df, ids=["country", "date", "pandemic"])
    wide = pivot_wide(long, index=["date", "country", "pandemic"])
    back = {(r["country"], r["date"].day): r["confirmed"] for r in wide.collect()}
    assert back[("France", 2)] == 15.0


def test_merge_upsert_semantics(spark):
    existing = spark.createDataFrame(
        [(1, datetime.date(2020, 1, 1), 10), (2, datetime.date(2020, 1, 1), 20)],
        "id_region int, date date, total_mort long",
    )
    updates = spark.createDataFrame(
        [(2, datetime.date(2020, 1, 1), 25), (3, datetime.date(2020, 1, 1), 30)],
        "id_region int, date date, total_mort long",
    )
    out = merge_dataframes(existing, updates, ["id_region", "date"])
    vals = {r["id_region"]: r["total_mort"] for r in out.collect()}
    assert vals == {1: 10, 2: 25, 3: 30}  # keep, update, insert


def test_merge_null_overwrites_like_postgres(spark):
    """Postgres DO UPDATE SET c = EXCLUDED.c overwrites with NULL too —
    an update row carrying an explicit NULL must clear the old value,
    not be coalesced away."""
    existing = spark.createDataFrame(
        [(1, datetime.date(2020, 1, 1), 10), (2, datetime.date(2020, 1, 1), 20)],
        "id_region int, date date, total_mort long",
    )
    updates = spark.createDataFrame(
        [(2, datetime.date(2020, 1, 1), None)],
        "id_region int, date date, total_mort long",
    )
    out = merge_dataframes(existing, updates, ["id_region", "date"])
    vals = {r["id_region"]: r["total_mort"] for r in out.collect()}
    assert vals == {1: 10, 2: None}  # matched row's NULL wins


def test_upsert_coalesce_nulls(spark):
    existing = spark.createDataFrame(
        [(1, None, 9.0), (2, 5.0, None)], "id int, lat double, lon double"
    )
    updates = spark.createDataFrame([(1, 1.5, 2.5), (2, 7.0, 8.0)], "id int, lat double, lon double")
    out = upsert_coalesce_nulls(existing, updates, ["id"], ["lat", "lon"])
    vals = {r["id"]: (r["lat"], r["lon"]) for r in out.collect()}
    assert vals == {1: (1.5, 9.0), 2: (5.0, 8.0)}  # only NULLs filled

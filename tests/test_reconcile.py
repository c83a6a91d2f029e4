"""Schema-reconciliation semantics (SURVEY P1-P3, S4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_oms_spark.reconcile import (
    apply_flexible_mapping,
    build_rename_map,
    disease_from_name,
    normalize_column_name,
    reconcile,
)


def test_normalize_column_name():
    assert normalize_column_name("Country/Region") == "country_region"
    assert normalize_column_name(" Deaths / 100 Cases ") == "deaths_100_cases"
    assert normalize_column_name("Tot Cases/1M pop") == "tot_cases_1m_pop"
    assert normalize_column_name("NewCases") == "newcases"


def test_build_rename_map_first_match_wins():
    # country_region beats province_state (synonym priority order)
    cols = ["Province/State", "Country/Region", "Lat", "Long", "Date"]
    rename, unmatched = build_rename_map(cols)
    assert rename["Country/Region"] == "country"
    assert rename["Lat"] == "latitude"
    assert rename["Long"] == "longitude"
    assert rename["Date"] == "date"
    # province_state is a country synonym but country was already claimed
    assert "Province/State" not in rename
    assert unmatched == ["Province/State"]


def test_build_rename_map_province_fallback():
    rename, _ = build_rename_map(["Province/State", "Date"])
    assert rename["Province/State"] == "country"


def test_apply_flexible_mapping_and_completion(spark):
    df = spark.createDataFrame(
        [("France", "2020-01-01", 10)], ["Country/Region", "Date", "TotalCases"]
    )
    out = reconcile(df, pandemic="COVID-19")
    assert "country" in out.columns
    assert "confirmed" in out.columns  # TotalCases → totalcases synonym
    assert "new_deaths" in out.columns  # completed as typed NULL
    row = out.first()
    assert row["country"] == "France"
    assert row["confirmed"] == 10
    assert row["new_deaths"] is None
    assert row["pandemic"] == "COVID-19"


def test_disease_from_name(spark):
    df = spark.createDataFrame(
        [("covid_global_3.csv",), ("Monkeypox_report.csv",), ("flu.csv",)], ["f"]
    )
    out = df.select(disease_from_name(F.col("f")).alias("d")).collect()
    assert [r["d"] for r in out] == ["COVID-19", "Monkeypox", "Inconnue"]

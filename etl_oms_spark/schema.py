"""Canonical schemas and mapping dictionaries.

The reference keeps three overlapping synonym dictionaries
(`ETL_OMS.py:12-21`, `ETL_OMS_FINAL_Upgraded.py:35-44`,
`ETL_OMS_OPERATIONNEL.py:36-47`); this module carries their superset, the
canonical column set (`ETL_OMS_FINAL_Upgraded.py:27` +
`ETL_OMS_OPERATIONNEL.py:26-29`), the indicator→unit map (`ETL_OMS.py:23-30`)
and the filename→disease keyword maps (`ETL_OMS_FINAL_Upgraded.py:18-25`,
`ETL_OMS_OPERATIONNEL.py:19-23`). All driver-side constants — schema
reconciliation is metadata work, not data work, so none of this touches
executors.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: canonical measure columns, in canonical order
MEASURE_COLUMNS: list[str] = [
    "confirmed",
    "deaths",
    "recovered",
    "active",
    "new_cases",
    "new_deaths",
]

#: canonical column set (v3) — ETL_OMS_FINAL_Upgraded.py:27
STANDARD_COLUMNS: list[str] = ["country", "date", *MEASURE_COLUMNS]

#: v4 adds geo columns — ETL_OMS_OPERATIONNEL.py:26-29
STANDARD_COLUMNS_GEO: list[str] = [*STANDARD_COLUMNS, "latitude", "longitude"]

#: canonical post-reconciliation schema (timestamps kept as timestamp until
#: fact build, which narrows to date — ETL_OMS_OPERATIONNEL.py:331)
CANONICAL_SCHEMA = T.StructType(
    [
        T.StructField("country", T.StringType()),
        T.StructField("date", T.TimestampType()),
        T.StructField("confirmed", T.LongType()),
        T.StructField("deaths", T.LongType()),
        T.StructField("recovered", T.LongType()),
        T.StructField("active", T.LongType()),
        T.StructField("new_cases", T.LongType()),
        T.StructField("new_deaths", T.LongType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
    ]
)

#: superset synonym map: canonical column -> accepted source names
#: (normalized form, see reconcile.normalize_column_name). Union of the three
#: reference variants; first-match-wins order is preserved per key.
SYNONYM_MAP: dict[str, list[str]] = {
    "country": [
        "country",
        "country_region",
        "location",
        "entity",
        "pays",
        "nation",
        "province_state",  # ETL_OMS_OPERATIONNEL.py:37 — ambiguity kept on purpose
    ],
    "date": ["date", "day", "jour", "date_reported", "dateonset"],
    "confirmed": [
        "confirmed",
        "total_cases",
        "totalcases",
        "cas_confirmes",
        "cumulative_cases",
    ],
    "deaths": [
        "deaths",
        "total_deaths",
        "totaldeaths",
        "deces",
        "cumulative_deaths",
        "total_mort",
    ],
    "recovered": ["recovered", "total_recovered", "totalrecovered", "gueris"],
    "active": ["active", "active_cases", "activecases", "cas_actifs"],
    "new_cases": [
        "new_cases",
        "newcases",
        "daily_cases",
        "nouveaux_cas",
        "new_cases_smoothed",
    ],
    "new_deaths": [
        "new_deaths",
        "newdeaths",
        "daily_deaths",
        "nouveaux_deces",
        "new_deaths_smoothed",
    ],
    "latitude": ["latitude", "lat"],
    "longitude": ["longitude", "long", "lon", "lng"],
}

#: indicator -> unit (ETL_OMS.py:23-30); lookup default "unknown"
INDICATOR_UNITS: dict[str, str] = {
    "confirmed": "cases",
    "deaths": "deaths",
    "recovered": "patients",
    "active": "cases",
    "new_cases": "cases",
    "new_deaths": "deaths",
}

#: filename keyword -> disease (union of v3/v4 maps); default "Inconnue"
DISEASE_KEYWORDS: dict[str, str] = {
    "covid": "COVID-19",
    "corona": "COVID-19",
    "monkeypox": "Monkeypox",
    "mpox": "Monkeypox",
    "variole": "Monkeypox",
    "ebola": "Ebola",
}
DISEASE_DEFAULT = "Inconnue"

#: rate-column suffix routing (ETL_OMS_OPERATIONNEL.py:120-138): a column
#: whose normalized name ends with one of these is a rate per `divisor`
#: population; the absolute value lands in `target` ("deaths" if the name
#: mentions deaths, else "confirmed").
RATE_SUFFIXES: dict[str, int] = {
    "per_100k": 100_000,
    "per_100000": 100_000,
    "per_million": 1_000_000,
    "per_1m_population": 1_000_000,
}

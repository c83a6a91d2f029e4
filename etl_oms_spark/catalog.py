"""Catalog: register datasets as views and run SQL against the engine.

Gives the engine a ``spark.sql`` surface over the same tables the
DataFrame API operates on — Catalyst compiles both to identical plans, so
every operator in the library is equally reachable from SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def register_dataset(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str] | None = None,
) -> list[str]:
    """Register each parquet table in ``sf_dir`` as a temp view.

    Returns the registered names. ``events`` goes through `_read_table`'s
    nanos-timestamp rule, the same read the contract queries use.
    """
    registered = []
    for name in tables or TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = _read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        registered.append(name)
    return registered


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table. ``events`` stores ``ts`` as TIMESTAMP(NANOS),
    which Spark's parquet reader rejects; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as epoch-nanos and
    is rebuilt as TimestampType in-plan (microsecond floor, matching
    DuckDB's ns→us read)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # noqa: BLE001
            pass
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # TIMESTAMP(MICROS) without zone; session tz is UTC so the cast
            # is value-preserving and keeps one ts type engine-wide
            df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
        return df
    return spark.read.parquet(path)


def sql(spark: SparkSession, query: str, sf_dir: str | None = None) -> DataFrame:
    """Run SQL; optionally (re)register the dataset views first."""
    if sf_dir:
        register_dataset(spark, sf_dir)
    return spark.sql(query)

"""Star-schema builders: dims, surrogate keys, fact assembly, rollup.

SURVEY §2 rows A1/A2/A3/A6, J1/J2/J4, P8 — the EP2/EP3 star schema
(ETL_OMS_FINAL.py:74-100, ETL_OMS_OPERATIONNEL.py:155-166):

    Pays(country, id_pays)  Region(id_region, nom_region, id_pays)
    Maladie(id_maladie, nom_maladie)
    Statistique(id_maladie, id_region, date, nouveau_mort, nouveau_cas,
                total_mort[, total_cas])

Scale notes
-----------
- Surrogate keys use a ``row_number`` over a global ordering. That is a
  single-partition window — acceptable *only* because dims are tiny (a few
  hundred countries); documented trade-off per SURVEY §4 item 1. Fact keys
  never get this treatment.
- Dim joins are explicit ``broadcast()``: fact × Pays/Region/Maladie are the
  classic big-fact/small-dim shape, so no fact shuffle at any scale.
- The pre-load rollup (A3) is a plain hash aggregate: partial (map-side)
  + final aggregation automatically, the Spark analogue of the reference's
  "pre-aggregate before COPY" hand-optimization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def surrogate_keys(
    df: DataFrame, name_col: str, id_col: str, order_by: list[str] | None = None
) -> DataFrame:
    """Distinct values + contiguous ids 1..N (A1+A6).

    Reference order is first-appearance, which in practice is alphabetical in
    its committed outputs (SURVEY A6); we order deterministically by name.
    Single-partition window — tiny-dim only, by design.
    """
    order_by = order_by or [name_col]
    w = Window.orderBy(*order_by)
    return (
        df.select(name_col)
        .na.drop()
        .distinct()
        .withColumn(id_col, F.row_number().over(w))
    )


def build_pays(df: DataFrame, country_col: str = "country") -> DataFrame:
    """``Pays(country, id_pays)`` — ETL_OMS_FINAL.py:75-76."""
    return surrogate_keys(df, country_col, "id_pays")


def build_region(pays: DataFrame) -> DataFrame:
    """``Region(id_region, nom_region, id_pays)`` — ETL_OMS_FINAL.py:78-81.

    The reference models one region per country (region name = country name).
    """
    return pays.select(
        F.col("id_pays").alias("id_region"),
        F.col("country").alias("nom_region"),
        "id_pays",
    )


def build_maladie(spark, diseases: list[str]) -> DataFrame:
    """``Maladie(id_maladie, nom_maladie)`` — ETL_OMS_FINAL.py:83-86."""
    from etl_oms_spark.util import local_rows

    rows = [(i + 1, d) for i, d in enumerate(sorted(diseases))]
    return local_rows(spark, rows, "id_maladie INT, nom_maladie STRING")


def build_fact(
    df: DataFrame,
    pays: DataFrame,
    region: DataFrame,
    maladie: DataFrame,
) -> DataFrame:
    """``Statistique`` fact: broadcast dim joins + rename (J1/J2/P8).

    fact × Pays on country (J1, ETL_OMS_FINAL.py:88), × Region on
    ``(id_pays, country=nom_region)`` (J2, :89) and × Maladie on
    ``pandemic=nom_maladie``, measures renamed to the French output names
    (P8, :93-98). Dims are broadcast → no fact shuffle.
    """
    joined = df.join(F.broadcast(pays), "country", "inner")
    joined = joined.join(
        F.broadcast(region),
        (joined["id_pays"] == region["id_pays"])
        & (joined["country"] == region["nom_region"]),
        "inner",
    ).drop(region["id_pays"])
    joined = joined.join(
        F.broadcast(maladie), joined["pandemic"] == maladie["nom_maladie"], "inner"
    )
    return joined.select(
        "id_maladie",
        "id_region",
        F.col("date").cast("date").alias("date"),
        F.col("new_deaths").alias("nouveau_mort"),
        F.col("new_cases").alias("nouveau_cas"),
        F.col("deaths").alias("total_mort"),
        F.col("confirmed").alias("total_cas"),
    )


def keep_last_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keyed dedup, keep-last (A2, ETL_OMS_FINAL_Upgraded.py:102).

    pandas ``keep="last"`` relies on implicit row order; Spark requires an
    explicit arrival-order column (``monotonically_increasing_id()`` at
    ingest, or an event timestamp). One shuffle on the keys, then a
    per-partition sort — no global sort.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def rollup_statistique(
    df: DataFrame, keys: tuple[str, ...] = ("id_region", "date")
) -> DataFrame:
    """Pre-load rollup (A3, ETL_OMS_OPERATIONNEL.py:160-166).

    Per ``keys``: sum dailies, max totals; id_maladie is carried as
    ``first`` unless it is part of the grouping key (the multi-pandemic
    warehouse groups on ``(id_maladie, id_region, date)`` so facts for
    different diseases never collapse into one row). Hash aggregate with
    automatic map-side partial aggregation.

    Every measure is ``try_cast`` to double first, so the stored types never
    depend on what a batch's files inferred (an integer CSV, a double JSON,
    an empty column read as string): a partition rewritten by one batch
    stays readable beside the partitions other batches wrote.
    """
    keys = list(keys)
    aggs = []
    if "id_maladie" not in keys:
        aggs.append(F.first("id_maladie").alias("id_maladie"))
    aggs += [
        F.sum(F.col("nouveau_mort").try_cast("double")).alias("nouveau_mort"),
        F.sum(F.col("nouveau_cas").try_cast("double")).alias("nouveau_cas"),
        F.max(F.col("total_mort").try_cast("double")).alias("total_mort"),
        F.max(F.col("total_cas").try_cast("double")).alias("total_cas"),
    ]
    return df.groupBy(*keys).agg(*aggs)


def grow_dimension(
    dim: DataFrame,
    incoming_names: DataFrame,
    name_col: str,
    id_col: str,
) -> DataFrame:
    """Anti-join dim growth (J4, ETL_OMS_OPERATIONNEL.py:276-284).

    Names present in the batch but absent from the dim get new contiguous ids
    starting after the current max — the reference did per-row INSERT
    RETURNING; here: ``left_anti`` → row_number + max-id offset → union.
    """
    new_names = (
        incoming_names.select(name_col).na.drop().distinct()
        .join(F.broadcast(dim.select(name_col)), name_col, "left_anti")
    )
    max_id = F.broadcast(dim.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("__max_id")))
    w = Window.orderBy(name_col)
    assigned = (
        new_names.crossJoin(max_id)
        .withColumn(id_col, (F.row_number().over(w) + F.col("__max_id")).cast(dim.schema[id_col].dataType))
        .drop("__max_id")
    )
    return dim.unionByName(assigned.select(*dim.columns))

"""End-to-end pipelines mirroring the reference's entry points, Spark-first.

- `long_format_pipeline`  ≙ EP1 ``python ETL_OMS.py`` (ETL_OMS.py:87-100):
  reconcile → clean → lag-diff → melt → units. ONE lazy plan.
- `pivot_report`          ≙ ``ETL_OMS_V2.py``: long → wide for BI.
- `star_schema_pipeline`  ≙ EP2 ``ETL_OMS_FINAL.py:110-125``: shared upstream
  plan, cached, fanned into 4 outputs (2 window dims, 1 literal dim,
  broadcast-joined fact).
- `warehouse_directory_to_parquet` ≙ EP3 ``ETL_OMS_OPERATIONNEL.py:218-369``:
  one directory load upserted into a partitioned parquet fact, with ids
  from persisted shared dims. The reference reads every file twice because
  dict-based id assignment is sequential; join-based assignment collapses
  it to one pass (SURVEY §3 EP3). Every disease in the directory goes
  through ONE plan: the daily-derivation guard is scoped per pandemic and
  the lag window partitioned by (pandemic, country), id_maladie comes from
  a broadcast dim join, and one dedup + rollup feed one merge — no driver
  collect, no per-disease branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..reconcile import reconcile
from ..reshape import melt_with_units, pivot_wide
from ..star import (
    build_fact,
    build_maladie,
    build_pays,
    build_region,
    keep_last_dedup,
    rollup_statistique,
)
from ..schema import STANDARD_COLUMNS
from ..util import empty_frame
from ..transform import (
    derive_daily_columns,
    drop_null_dates,
    filter_min_date,
    round_geo,
    tolerant_timestamp,
)


def clean_canonical(df: DataFrame, pandemic: str) -> DataFrame:
    """Shared upstream: reconcile → tolerant date → drop null dates →
    conditional daily derivation (one plan, broadcast guard)."""
    out = reconcile(df, pandemic=pandemic)
    out = out.withColumn("date", tolerant_timestamp(F.col("date").cast("string")))
    out = drop_null_dates(out)
    out = derive_daily_columns(out)
    return round_geo(out)


def long_format_pipeline(df: DataFrame, pandemic: str) -> DataFrame:
    """EP1: wide heterogeneous input → tidy long format with units."""
    cleaned = clean_canonical(df, pandemic)
    return melt_with_units(cleaned, ids=["country", "date", "pandemic"])


def pivot_report(long_df: DataFrame) -> DataFrame:
    """V2: long → wide pivot, nulls filled with 0."""
    return pivot_wide(long_df, index=["date", "country", "pandemic"])


def star_schema_pipeline(df: DataFrame, pandemic: str) -> dict[str, DataFrame]:
    """EP2: one cleaned plan → Pays/Region/Maladie dims + Statistique fact."""
    cleaned = clean_canonical(df, pandemic).cache()
    pays = build_pays(cleaned)
    region = build_region(pays)
    maladie = build_maladie(df.sparkSession, [pandemic])
    fact = build_fact(cleaned, pays, region, maladie)
    return {"Pays": pays, "Region": region, "Maladie": maladie, "Statistique": fact}


def run_directory_etl(
    spark,
    directory: str,
    min_date: str = "2019-01-01",
) -> tuple[DataFrame | None, dict[str, int]]:
    """EP3-style directory run with the reference's bilan counters (A7,
    ETL_OMS_OPERATIONNEL.py:220-221,252-255,368): scan the directory once,
    reconcile each file, union the conformable ones, and report
    processed/ignored counts. Files without a country column are ignored —
    the v4 rule (ETL_OMS_OPERATIONNEL.py:250-256).

    Returns (unioned canonical DataFrame or None, bilan). The counters are
    driver-side schema decisions — no data is read to compute them, so the
    bilan is free and the returned plan is still fully lazy.
    """
    from ..reconcile import apply_flexible_mapping, complete_missing_columns
    from ..sources.readers import scan_dataset_directory

    frames = scan_dataset_directory(spark, directory)
    bilan = {"files_seen": len(frames), "processed": 0, "ignored": 0}
    parts: list[DataFrame] = []
    for path, df in frames.items():
        renamed = apply_flexible_mapping(df)
        if "country" not in renamed.columns:
            bilan["ignored"] += 1
            continue
        disease = disease_from_name_str(path)
        completed = complete_missing_columns(renamed).withColumn(
            "pandemic", F.lit(disease)
        )
        parts.append(completed.select(*STANDARD_COLUMNS, "pandemic", "_source_file"))
        bilan["processed"] += 1
    if not parts:
        return None, bilan
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    out = out.withColumn("date", tolerant_timestamp(F.col("date").cast("string")))
    out = filter_min_date(drop_null_dates(out), min_date)
    return out, bilan


def disease_from_name_str(path: str) -> str:
    """Driver-side filename→disease classification (S4 twin of the column
    expression in reconcile.disease_from_name)."""
    from ..schema import DISEASE_DEFAULT, DISEASE_KEYWORDS

    low = path.lower()
    for kw, disease in DISEASE_KEYWORDS.items():
        if kw in low:
            return disease
    return DISEASE_DEFAULT


def load_or_init_dims(spark, dims_path: str) -> tuple[DataFrame, DataFrame]:
    """Load the persisted Pays/Maladie dimensions, or start empty.

    The warehouse's id spaces must be stable across pandemics and across
    runs — the reference loads and grows a single shared pays/region id
    space from the DB (ETL_OMS_OPERATIONNEL.py run_etl, :276-284). Here
    the dims live as tiny parquet tables next to the fact target.
    """

    from ..sources.readers import read_parquet_or_none

    def _load(name: str, schema: str) -> DataFrame:
        dim = read_parquet_or_none(spark, f"{dims_path}/{name}")
        return empty_frame(spark, schema) if dim is None else dim

    pays = _load("pays", "country STRING, id_pays INT")
    maladie = _load("maladie", "id_maladie INT, nom_maladie STRING")
    return pays, maladie


def warehouse_directory_to_parquet(
    spark,
    directory: str,
    target_path: str,
    min_date: str = "2019-01-01",
    dims_path: str | None = None,
) -> tuple[DataFrame | None, dict[str, int]]:
    """EP3 directory run with STABLE shared dimensions (the reference's
    run_etl loop, ETL_OMS_OPERATIONNEL.py:218-369), as ONE plan for every
    disease in the directory.

    1. scan + reconcile + union the directory (one pass, bilan counters);
    2. load the persisted Pays/Maladie dims and grow them with the batch's
       new countries/diseases (anti-join growth — ids never change once
       assigned, so id_region means the same country in every pandemic and
       every run);
    3. clean once: the all-zero guard is scoped per pandemic and the
       lag-diff per (pandemic, country), matching the reference's per-file
       processing; the fact takes id_maladie from a broadcast join of the
       SHARED Maladie dim, then one keep-last dedup and one rollup;
    4. one merge into the parquet fact keyed ``(id_maladie, id_region,
       date)`` — id_maladie in the key so two diseases reporting the same
       region-day never overwrite each other.

    Nothing is collected to the driver and the plan's shape does not grow
    with the number of diseases. Returns ``(updates DataFrame or None,
    bilan)``.
    """
    from ..sources.merge_table import merge_into_parquet
    from ..star import grow_dimension

    dims_path = dims_path or target_path.rstrip("/") + "__dims"
    unioned, bilan = run_directory_etl(spark, directory, min_date=min_date)
    if unioned is None:
        return None, bilan
    unioned = unioned.cache()

    pays, maladie = load_or_init_dims(spark, dims_path)
    # grow, then materialize: the grown dim is read from dims_path and is
    # about to overwrite it (read-overwrite hazard); dims are tiny.
    pays = grow_dimension(
        pays, unioned.select("country"), "country", "id_pays"
    ).localCheckpoint(eager=True)
    maladie = grow_dimension(
        maladie,
        unioned.select(F.col("pandemic").alias("nom_maladie")),
        "nom_maladie",
        "id_maladie",
    ).localCheckpoint(eager=True)
    region = build_region(pays)
    # persist the grown dims BEFORE the fact merge so stored ids are always
    # resolvable even if the fact write fails mid-run
    pays.write.mode("overwrite").parquet(f"{dims_path}/pays")
    maladie.write.mode("overwrite").parquet(f"{dims_path}/maladie")
    region.write.mode("overwrite").parquet(f"{dims_path}/region")

    keys = ["id_maladie", "id_region", "date"]
    cleaned = round_geo(
        derive_daily_columns(
            unioned, partition_by=["pandemic", "country"], guard="all_zero"
        )
    )
    fact = build_fact(cleaned, pays, region, maladie).withColumn(
        "__arrival", F.monotonically_increasing_id()
    )
    fact = keep_last_dedup(fact, keys, "__arrival").drop("__arrival")
    updates = rollup_statistique(fact, keys=tuple(keys))
    merge_into_parquet(spark, target_path, updates, keys=keys, partition_col="date")
    unioned.unpersist()
    return updates, bilan

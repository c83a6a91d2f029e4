"""Schema reconciliation: normalize / synonym-rename / complete / tag.

Re-expresses the reference's reconciliation pass (P1-P3, S4 in SURVEY §2):

- P1 `normalize_column_name` — ETL_OMS.py:38-39, ETL_OMS_OPERATIONNEL.py:31-32
- P2 `apply_flexible_mapping` — ETL_OMS.py:41-57, ETL_OMS_OPERATIONNEL.py:34-70
- P3 missing-column completion — ETL_OMS.py:65-67, ETL_OMS_FINAL_Upgraded.py:70-79
- S4 filename→disease tag — ETL_OMS_FINAL_Upgraded.py:62-67

Everything here is *metadata* work over ``df.columns`` — computed driver-side,
applied as a single select/withColumns so it costs nothing at execution time
and never blocks column pruning. No data-dependent logic, no UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import (
    CANONICAL_SCHEMA,
    DISEASE_DEFAULT,
    DISEASE_KEYWORDS,
    STANDARD_COLUMNS,
    SYNONYM_MAP,
)

_NORM_RE = re.compile(r"[^0-9a-z]+")


def normalize_column_name(name: str) -> str:
    """lower + strip + collapse any non-alphanumeric run to ``_``.

    Mirrors the regex normalization at ETL_OMS.py:38-39 so e.g.
    ``"Country/Region"`` → ``country_region``, ``"Deaths / 100 Cases"`` →
    ``deaths_100_cases``, ``"Tot Cases/1M pop"`` → ``tot_cases_1m_pop``.
    """
    return _NORM_RE.sub("_", name.strip().lower()).strip("_")


def build_rename_map(
    columns: list[str], synonyms: dict[str, list[str]] | None = None
) -> tuple[dict[str, str], list[str]]:
    """First-match-wins mapping of source columns onto canonical names.

    Returns ``(rename_map, unmatched)`` where ``rename_map`` maps *original*
    source names to canonical names. Each canonical name is claimed by at
    most one source column (first in synonym-priority order, as the
    reference's dict-iteration does at ETL_OMS.py:44-53); each source column
    maps to at most one canonical name.
    """
    synonyms = synonyms or SYNONYM_MAP
    normalized = {c: normalize_column_name(c) for c in columns}
    rename: dict[str, str] = {}
    claimed_sources: set[str] = set()
    for canonical, alts in synonyms.items():
        for alt in alts:
            hit = next(
                (
                    src
                    for src, norm in normalized.items()
                    if norm == alt and src not in claimed_sources
                ),
                None,
            )
            if hit is not None:
                rename[hit] = canonical
                claimed_sources.add(hit)
                break
    unmatched = [c for c in columns if c not in rename]
    return rename, unmatched


def apply_flexible_mapping(
    df: DataFrame, synonyms: dict[str, list[str]] | None = None
) -> DataFrame:
    """Rename source columns to canonical names (P2).

    Driver-side only: one ``withColumnsRenamed`` on a map computed from
    ``df.columns``; unmatched columns pass through untouched (they may still
    feed rate→absolute routing, see transform.convert_rate_columns).
    """
    rename, _ = build_rename_map(df.columns, synonyms)
    return df.withColumnsRenamed(rename)


def complete_missing_columns(
    df: DataFrame,
    required: list[str] | None = None,
) -> DataFrame:
    """Add absent canonical columns (P3) as typed NULLs — the v1/v4 regime
    (ETL_OMS.py:65-67, ETL_OMS_OPERATIONNEL.py:89-93)."""
    required = required or STANDARD_COLUMNS
    types = {f.name: f.dataType for f in CANONICAL_SCHEMA.fields}
    missing = [c for c in required if c not in df.columns]
    if not missing:
        return df
    adds = {
        c: F.lit(None).cast(types.get(c, T.StringType()))
        for c in missing
    }
    return df.withColumns(adds)


def disease_from_name(name_col: Column, keywords: dict[str, str] | None = None) -> Column:
    """Classify a filename/label column into a disease (S4).

    Chained ``when(contains)`` over ``lower(name)`` with the keyword map,
    defaulting to ``"Inconnue"`` — the Spark form of ``detect_maladie``
    (ETL_OMS_FINAL_Upgraded.py:62-67). Pure column expression → codegen'd,
    no UDF.
    """
    keywords = keywords or DISEASE_KEYWORDS
    lowered = F.lower(name_col)
    expr: Column | None = None
    for kw, disease in keywords.items():
        cond = lowered.contains(kw)
        expr = F.when(cond, F.lit(disease)) if expr is None else expr.when(cond, F.lit(disease))
    assert expr is not None
    return expr.otherwise(F.lit(DISEASE_DEFAULT))


def reconcile(
    df: DataFrame,
    pandemic: str | None = None,
    required: list[str] | None = None,
) -> DataFrame:
    """Full reconciliation pass: rename → complete → optional literal tag."""
    out = apply_flexible_mapping(df)
    out = complete_missing_columns(out, required=required)
    if pandemic is not None:
        out = out.withColumn("pandemic", F.lit(pandemic))
    return out


def fuzzy_value_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    block_expr: Column | None = None,
) -> DataFrame:
    """Near-duplicate VALUE detection via blocked edit distance — the
    data-value extension of this module's schema reconciliation: where
    `build_rename_map` matches column names against synonym lists, this
    surfaces pairs of column *values* within ``max_dist`` Levenshtein
    edits ("Cote d'Ivoire" vs "Côte d’Ivoire" style drift the reference's
    per-provider country spellings exhibit).

    All-pairs edit distance is O(V²); blocking bounds it: values
    self-join only within equal ``block_expr`` keys (default: first
    whitespace token, which survives edits anywhere past it — do NOT
    block on exact length, an insertion/deletion changes it), so cost is
    Σ block² over distinct values — the same inverted-index discipline
    as dedup.ngram_jaccard_pairs. Distinct values are extracted first
    (dims-sized, not corpus-sized); the output is
    (value_a < value_b, dist) per candidate pair.
    """
    vals = df.select(F.col(col).alias("value_a")).filter(
        F.col("value_a").isNotNull()
    ).distinct()
    blk = (
        block_expr
        if block_expr is not None
        else F.split(F.col("value_a"), r"\s+").getItem(0)
    )
    left = vals.withColumn("__blk", blk)
    right = left.select(
        F.col("value_a").alias("value_b"), F.col("__blk")
    )
    return (
        left.join(right, "__blk")
        .filter(F.col("value_a") < F.col("value_b"))
        .withColumn("dist", F.levenshtein("value_a", "value_b"))
        .filter(F.col("dist") <= max_dist)
        .select("value_a", "value_b", F.col("dist").cast("int").alias("dist"))
    )

"""Hypertable-style continuous time rollups.

Multi-granularity time-series aggregates maintained hierarchically:
minute/hour rollups aggregate the raw stream ONCE; each coarser tier
re-aggregates the tier below (day reads 24 hourly rows per key instead of
re-scanning raw events — the property that makes continuous aggregates
affordable at 100 TB). Measures are restricted to re-aggregable functions
(count/sum/min/max; avg is derived as sum/count at read time — never
stored, since avg does not re-aggregate).

`refresh_rollup` maintains a materialized tier incrementally: only the
time buckets present in the new batch are recomputed and merged via the
partition-pruned parquet upsert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: measure name -> (base aggregation over raw rows, re-aggregation over
#: the tier below). Exact integer arithmetic for the value sum.
def _base_measures(value_col: str) -> dict[str, tuple]:
    cents = F.round(F.col(value_col) * 100).cast("long")
    return {
        "n_events": (F.count(F.lit(1)), F.sum("n_events")),
        "value_cents": (F.sum(cents), F.sum("value_cents")),
        "min_value": (F.min(value_col), F.min("min_value")),
        "max_value": (F.max(value_col), F.max("max_value")),
    }


def rollup_tier(
    df: DataFrame,
    granularity: str,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    from_tier: DataFrame | None = None,
) -> DataFrame:
    """One rollup tier: from raw rows (``from_tier=None``) or re-aggregated
    from a finer tier (pass that tier's DataFrame; its ``bucket`` column is
    re-bucketed to this granularity)."""
    measures = _base_measures(value_col)
    if from_tier is None:
        bucketed = df.withColumn(
            "bucket", F.window(F.col(ts_col), granularity)["start"]
        )
        aggs = [base.alias(name) for name, (base, _re) in measures.items()]
    else:
        bucketed = from_tier.withColumn(
            "bucket", F.window(F.col("bucket"), granularity)["start"]
        )
        aggs = [re.alias(name) for name, (_base, re) in measures.items()]
    return bucketed.groupBy("bucket", *keys).agg(*aggs)


def time_rollup(
    df: DataFrame,
    granularities: list[str] | None = None,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> dict[str, DataFrame]:
    """Hierarchical multi-granularity rollup.

    ``granularities`` must be ordered fine→coarse and nest evenly (e.g.
    ["1 hour", "1 day"]); tier N+1 aggregates tier N. Returns
    {granularity: DataFrame(bucket, *keys, n_events, value_cents,
    min_value, max_value)}.
    """
    granularities = granularities or ["1 hour", "1 day"]
    keys = keys or ["event_type"]
    out: dict[str, DataFrame] = {}
    prev: DataFrame | None = None
    for g in granularities:
        tier = rollup_tier(df, g, keys, ts_col, value_col, from_tier=prev)
        out[g] = tier
        prev = tier
    return out


def refresh_rollup(
    target_path: str,
    new_events: DataFrame,
    granularity: str = "1 hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> None:
    """Incrementally maintain a materialized rollup tier.

    CONSTRAINT: a refresh batch must contain ALL raw events for every
    bucket it touches (e.g. ingest partitions aligned to the bucket width,
    or re-read the touched buckets from the raw table) — partial buckets
    would overwrite complete ones. Under that contract each refresh
    recomputes only the touched buckets and partition-prunes the merge.
    """
    from ..sources.merge_table import merge_into_parquet

    keys = keys or ["event_type"]
    batch = rollup_tier(new_events, granularity, keys, ts_col, value_col)
    batch = batch.withColumn("bucket_date", F.to_date("bucket"))
    merge_into_parquet(
        new_events.sparkSession,
        target_path,
        batch,
        keys=["bucket", *keys],
        partition_col="bucket_date",
    )


def hopping_window_counts(
    events: DataFrame,
    width: str = "2 hours",
    slide: str = "1 hour",
    ts_col: str = "ts",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Hopping (sliding) event-time windows: each event lands in
    width/slide overlapping windows; counts + value sums per window (and
    optional extra grouping keys).

    ``F.window(ts, width, slide)`` — the same construct Structured
    Streaming uses, so this aggregation is streaming-ready as-is (add a
    watermark and feed a readStream source). Spark expands each row into
    its width/slide windows before the shuffle; at scale the shuffle
    carries (windows-per-event ×) rows, which is the irreducible cost of
    overlapping windows.
    """
    extra = group_cols or []
    w = F.window(F.col(ts_col), width, slide)
    return (
        events.groupBy(w.alias("w"), *extra)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *extra,
            "n_events",
            "sum_value",
        )
    )


def retention_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    unit_seconds: int = 7 * 86400,
) -> DataFrame:
    """Cohort retention: users bucketed by first-activity period, counted
    in each later period they return — the (cohort, offset, n_users)
    matrix every growth dashboard draws.

    Two shuffles, both key-bounded: min(ts) per user (users-sized), then
    distinct (cohort, offset, user) → count. Periods are integer
    ``floor(epoch / unit_seconds)`` rather than calendar truncation so
    offsets are pure integer arithmetic — exact on every engine and free
    of week-start conventions.
    """
    period = (F.unix_timestamp(F.col(ts_col)) / F.lit(unit_seconds)).cast("long")
    first = events.groupBy(user_col).agg(
        F.min(period).alias("cohort_period")
    )
    return (
        events.select(user_col, period.alias("__p"))
        .join(first, user_col)
        .select(
            user_col,
            "cohort_period",
            (F.col("__p") - F.col("cohort_period")).alias("period_offset"),
        )
        .distinct()
        .groupBy("cohort_period", "period_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def merge_rollup_state(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental materialized-view maintenance for mergeable
    aggregates: combine the persisted rollup ``state`` with a ``delta``
    batch's partial aggregate by full-outer-joining on the group keys
    and summing counters (absent side counts 0). COUNT and SUM merge
    directly; AVG/ratios/stddev derive at read time from merged
    (count, sum, sum-of-squares) columns — the classic algebraic-MV
    decomposition.

    Scale posture: the base corpus is NEVER rescanned — only the
    keys-sized state and the delta batch move. Both sides arrive
    pre-aggregated (map-side combined), so the full-outer join touches
    |distinct keys| rows, not corpus rows; at warehouse scale the state
    side is usually broadcastable outright.
    """
    s = state.select(
        *keys, *[F.col(c).alias(f"__s_{c}") for c in sum_cols]
    )
    d = delta.select(
        *keys, *[F.col(c).alias(f"__d_{c}") for c in sum_cols]
    )
    return s.join(d, keys, "full_outer").select(
        *keys,
        *[
            (
                F.coalesce(F.col(f"__s_{c}"), F.lit(0))
                + F.coalesce(F.col(f"__d_{c}"), F.lit(0))
            ).alias(c)
            for c in sum_cols
        ],
    )

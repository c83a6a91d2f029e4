"""Structured Streaming over the events model.

The reference has no streaming (SURVEY §2.9); its idempotent re-run upsert
(``ON CONFLICT DO UPDATE``) is the seam. Here that becomes:

- `windowed_event_counts` — ONE transformation used by both batch and
  streaming (same Catalyst plan; streaming adds a watermark so state for
  closed windows is dropped — bounded memory at any scale).
- `stream_events` / `run_stream_to_memory` — file-source readStream
  wiring with schema + maxFilesPerTrigger (backpressure knob).
- `foreach_batch_upsert` — the streaming version of the warehouse load:
  per micro-batch MERGE into the target via merge_dataframes + parquet
  rewrite (or JDBC staging+ON CONFLICT via sources.writers against a DB).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import scoped_conf

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation — identical plan for batch
    and streaming; pass ``watermark`` in streaming so late data beyond the
    bound is dropped and window state is evicted."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_events(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 10,
    fmt: str = "json",
) -> DataFrame:
    """File-source stream of events (JSON-lines or parquet directory).

    ``maxFilesPerTrigger`` bounds micro-batch size (backpressure); schema is
    explicit — streaming sources must never infer.
    """
    reader = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    return reader.format(fmt).load(path)


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "update"
):
    """Run a streaming aggregation into the in-memory sink (tests/demos)."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )


def foreach_batch_upsert(
    target_path: str,
    keys: list[str],
    spark: SparkSession,
    partition_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch MERGE: upsert each micro-batch into a parquet target.

    Streaming twin of the reference's ON CONFLICT load
    (ETL_OMS_OPERATIONNEL.py:202-211). With ``partition_col`` the merge is
    partition-pruned (sources.merge_table.merge_into_parquet): each batch
    rewrites only the partitions it touches — O(batch), not O(table), the
    form that survives at 100 TB. Without it, full-rewrite fallback (small
    targets only). On a lakehouse table this body becomes a single
    ``MERGE INTO``; against Postgres it becomes write_jdbc_staging +
    upsert_sql.
    """
    from ..merge import merge_dataframes
    from ..sources.merge_table import merge_into_parquet
    from ..sources.readers import read_parquet_or_none

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if partition_col is not None:
            merge_into_parquet(spark, target_path, batch_df, keys, partition_col)
            return
        existing = read_parquet_or_none(spark, target_path)
        if existing is not None:
            merged = merge_dataframes(existing, batch_df, keys)
        else:
            merged = batch_df
        merged.write.mode("overwrite").parquet(target_path + "_new")
        # atomic-ish swap: write new, then overwrite target from new
        spark.read.parquet(target_path + "_new").write.mode("overwrite").parquet(target_path)

    return apply


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — the streaming twin of A2 keep-last/keep-first dedup
    with memory bounded by (keys arriving within one watermark window),
    not by total stream history.
    """
    keys = keys or ["event_id"]
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def session_window_agg(
    events: DataFrame,
    gap: str = "6 hours",
    watermark: str | None = None,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Per-key session-window aggregation (``F.session_window``: a
    session expands while successive events arrive within ``gap`` of the
    latest — INCLUSIVE: a gap of exactly ``gap`` still merges, only a
    strictly larger gap splits; the boundary
    `tests/test_round9_ops.py::test_session_window_gap_boundary` pins
    against the engine). Identical
    plan for batch and streaming, the `windowed_event_counts` pattern;
    in streaming, pass ``watermark`` — session state is merged
    incrementally per key and finalized (emitted, state dropped) once
    the watermark passes the session end, so state is bounded by
    (sessions still open within one watermark window), not stream
    history. Emits per-session ``n_events`` / ``first_ts`` / ``last_ts``
    — duration from the data, not the window bounds (window end pads
    ``gap`` past the last event)."""
    src = events.withWatermark(ts_col, watermark) if watermark else events
    return (
        src.groupBy(
            F.session_window(ts_col, gap).alias("w"), key_col
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
    )


def join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    watermark: str = "1 hour",
    within: str = "15 minutes",
    ts_col: str = "ts",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time range condition.

    Matches a right-stream event to a left-stream event of the same ``key``
    when it arrives within ``[left.ts, left.ts + within]`` (e.g. view →
    click attribution). Both sides carry a watermark and the join condition
    bounds event-time distance, so Spark can evict join state once the
    watermark passes — state is O(events within one watermark window), not
    O(stream history), which is what makes this run indefinitely at scale.

    ``how="leftOuter"`` additionally emits unmatched left events with null
    right columns — but only once the watermark moves past their join
    window, since until then a match could still arrive; tests must advance
    event time to see them.
    """
    l_side = left.withWatermark(ts_col, watermark).alias("l")
    r_side = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {within}"))
    )
    return l_side.join(r_side, cond, how).select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.event_id").alias("left_event_id"),
        F.col(f"r.event_id").alias("right_event_id"),
        F.col(f"l.{ts_col}").alias("left_ts"),
        F.col(f"r.{ts_col}").alias("right_ts"),
    )


def stateful_user_profiles(stream_df: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``.

    Maintains a per-user profile (event count, value total, first/last
    event time) that persists across micro-batches — the class of operator
    plain windowed aggregation cannot express when the state logic is
    arbitrary Python. State is one tiny tuple per user; pair with a
    watermark-driven timeout (here ProcessingTimeTimeout left NoTimeout for
    simplicity) to bound state at scale.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_events long, total_value double, "
        "first_ts timestamp, last_ts timestamp"
    )
    state_schema = "n long, total double, first_ts timestamp, last_ts timestamp"

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total = 0, 0.0
        first_ts, last_ts = None, None
        if state.exists:
            n, total, first_ts, last_ts = state.get
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            batch_min = pdf["ts"].min()
            batch_max = pdf["ts"].max()
            first_ts = batch_min if first_ts is None else min(first_ts, batch_min)
            last_ts = batch_max if last_ts is None else max(last_ts, batch_max)
        state.update((n, total, first_ts, last_ts))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total],
                "first_ts": [first_ts],
                "last_ts": [last_ts],
            }
        )

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def foreach_batch_incremental_dedup(
    corpus_path: str,
    ledger_path: str,
    spark: SparkSession,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch incremental corpus ingest with content dedup: each
    micro-batch of documents dedups against the persistent fingerprint
    ledger (operators/dedup.incremental_dedup — ledger scanned, never
    shuffled), survivors append to the corpus, and their fingerprints
    append to the ledger. The streaming form of the d10 daily-ingest
    shape — exactly-once content-wise because a replayed batch's
    fingerprints are already in the ledger, so every replayed doc drops
    out in the anti-join (idempotent by construction; Spark's checkpoint
    dedups batches, the ledger dedups content).

    State is the parquet ledger, not executor memory — unbounded corpus
    history at bounded stream state, which dropDuplicatesWithinWatermark
    (time-bounded keys) cannot give.

    Exactly-once content-wise under foreachBatch's at-least-once replay,
    by construction of the commit protocol: both sinks are partitioned by
    ``ingest_batch_id`` and each batch OVERWRITES only its own partition
    (dynamic partitionOverwriteMode), corpus first, ledger last. A crash
    between the two writes replays the batch, which recomputes the same
    survivors against the unchanged prior ledger (its own half-written
    ledger partition is excluded from the read) and overwrites both
    partitions with identical content. Only a missing or empty ledger
    (`read_parquet_or_none`) is treated as "first batch"; any other read
    failure aborts the batch rather than silently skipping dedup against
    history.
    """
    from ..operators.dedup import incremental_dedup
    from ..operators.text import fingerprint_md5
    from ..sources.readers import read_parquet_or_none

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        ledger = read_parquet_or_none(spark, ledger_path)
        if ledger is not None:
            # exclude this batch's own partition: a replayed batch must
            # not dedup against fingerprints from its crashed prior attempt
            ledger = ledger.filter(
                F.col("ingest_batch_id") != F.lit(batch_id)
            ).select("fp")
        if ledger is None:
            winners_ids = (
                batch_df.withColumn("__fp", fingerprint_md5(text_col))
                .groupBy("__fp")
                .agg(F.min(id_col).alias(id_col))
                .select(id_col)
            )
        else:
            winners_ids = incremental_dedup(
                batch_df, ledger, text_col=text_col, id_col=id_col
            ).select(id_col)
        survivors = batch_df.join(winners_ids, id_col, "left_semi")
        (
            survivors.withColumn("ingest_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch_id")
            .parquet(corpus_path)
        )
        (
            survivors.select(fingerprint_md5(text_col).alias("fp"))
            .distinct()
            .withColumn("ingest_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch_id")
            .parquet(ledger_path)
        )

    return apply


def windowed_total_counts(
    events: DataFrame,
    window: str = "1 day",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time TOTAL counts (no grouping key beyond the
    window) — the daily-rate series a streaming monitor (scs1 CUSUM)
    maintains; identical plan batch/streaming, watermark evicts
    finalized windows in append mode."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def windowed_value_counts(
    events: DataFrame,
    value_col: str,
    window: str = "1 day",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time VALUE histogram: per (window, value) counts —
    the daily distribution snapshot a streaming drift monitor (sps1 PSI)
    maintains. State is keyed on (window, value): bounded by the value
    DOMAIN per day, evicted as the watermark finalizes windows. Summing
    the emitted daily histograms over any period reproduces that
    period's batch value histogram exactly (nothing late, nothing
    dropped under watermark > span), which is what makes a shared batch
    oracle possible."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(
            F.window("ts", window).alias("w"),
            F.col(value_col).alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "v", "n")
    )


def single_run_sentinel_flush(
    spark: SparkSession,
    src: str,
    sentinel: DataFrame,
    build: Callable[[DataFrame], DataFrame],
    out: str,
    ckpt: str,
    schema: T.StructType | None = None,
) -> None:
    """Run an append-mode availableNow stream over ``src`` that FLUSHES
    every finalized window in ONE query run with TWO micro-batches,
    instead of the historical three sentinel-restart phases (SCALING.md
    round-13 decomposition: ~80% of a class-A monitor's wall was the
    per-phase state-store/checkpoint/query-start machinery, paid three
    times).

    Mechanics: the caller writes the real corpus to ``src`` and passes
    ONE far-future sentinel row as a small DataFrame. The helper appends
    the sentinel and starts ONE availableNow query over everything.
    Micro-batch 0 processes all files under watermark 0 (the watermark
    the engine applies in batch N is computed from batches < N), so no
    row is late and nothing drops; after the batch the watermark
    advances to sentinel_ts - delay, which the caller arranges to lie
    past every real window's end. Because the watermark moved while
    stateful windows await finalization, the engine runs one trailing
    NO-DATA micro-batch (``spark.sql.streaming.noDataMicroBatches``,
    default on — pinned here) that evicts and emits every finalized real
    window — the SAME watermark/append semantics as the restart dance
    (each restart's first batch played exactly this role), with the
    query-start and state-store machinery paid once instead of three
    times, and no dependency on file ordering or per-file triggers. The
    sentinel's own window stays past the watermark, is never emitted,
    and is filtered by the caller exactly as before.

    At real scale the sentinel dance does not exist at all: a monitor
    is an always-on stream whose watermark advances from ongoing
    traffic; the finite-corpus flush here is the harness shape, not a
    production prescription.
    """
    sentinel.coalesce(1).write.mode("append").parquet(src)
    if schema is None:
        schema = spark.read.parquet(src).schema
    # the flush rides on the trailing no-data batch; that batch only
    # exists while this (default-on) knob is on, so pin it for the run
    # rather than inherit whatever the session was configured with
    with scoped_conf(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "true"):
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            build(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

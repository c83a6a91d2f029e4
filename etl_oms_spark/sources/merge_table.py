"""Partition-pruned parquet upsert: MERGE semantics without a lakehouse.

The reference upserts into Postgres (`ON CONFLICT DO UPDATE`); at 100 TB
the analogous lake-side operation must NOT rewrite the whole table per
batch. This module implements the classic partition-swap merge:

1. the target is parquet partitioned by a coarse column (e.g. a date);
2. an incoming batch touches only a few partition values — read ONLY those
   partitions (partition pruning), merge in memory of the cluster;
3. write back with **dynamic partition overwrite**, which atomically-ish
   replaces just the touched partitions and leaves the rest of the table
   untouched on disk.

Cost per batch: O(touched partitions), not O(table). On Delta/Iceberg the
same call becomes a single ``MERGE INTO``; this is the dependency-free
form with identical semantics for partition-aligned keys.

Every upsert here (`merge_into_parquet`, `cdc_merge_into_parquet`,
`refresh_aggregate`) runs ONE core, `_swap_partitions`, and differs only
in how it combines the stored rows of the touched partitions with the
batch. "No table yet" is `readers.read_parquet_or_none`'s rule, and the
overwrite mode is a write option, never a session setting: no call here
changes the caller's session conf.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..merge import cdc_snapshot, merge_dataframes
from .readers import read_parquet_or_none


def _overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Replace ONLY the partitions present in ``df`` (dynamic overwrite)."""
    df.write.partitionBy(partition_col).mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)


def _swap_partitions(
    spark: SparkSession, target_path: str, batch: DataFrame, partition_col: str,
    combine: Callable[[DataFrame | None], DataFrame],
) -> tuple[DataFrame, list | None]:
    """The shared partition-swap sequence: read the target (or bootstrap
    it), prune it to the batch's partition values, write
    ``combine(affected)`` back over just those partitions.

    ``combine`` gets the target's rows in the touched partitions, or None
    when there is no table yet. Returns the written frame and the touched
    values (None on bootstrap).
    """
    existing = read_parquet_or_none(spark, target_path)
    if existing is None:
        # bootstrap: nothing is read back, so nothing to prune or materialize
        out, touched = combine(None), None
    else:
        # distinct partition values in the batch — tiny driver-side list;
        # the IN-filter partition-prunes the target scan to just those dirs
        touched = [r[0] for r in batch.select(partition_col).distinct().collect()]
        affected = existing.filter(F.col(partition_col).isin(touched))
        # materialize before overwriting: the merged plan reads from the
        # same path it is about to replace (read-overwrite hazard). The
        # checkpoint holds only the touched partitions — bounded by batch
        # size, not table.
        out = combine(affected).localCheckpoint(eager=True)
    _overwrite_partitions(out, target_path, partition_col)
    return out, touched


def merge_into_parquet(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
) -> None:
    """Upsert ``updates`` into the parquet table at ``target_path``.

    ``partition_col`` must be one of the table's partition columns and
    present in ``updates``. Keys should include the partition column (or
    at least never move a row across partitions — standard constraint for
    partition-swap merges).
    """
    def combine(affected: DataFrame | None) -> DataFrame:
        return updates if affected is None else merge_dataframes(affected, updates, keys)

    _swap_partitions(spark, target_path, updates, partition_col, combine)


def _delete_partition_dirs(
    spark: SparkSession,
    target_path: str,
    partition_col: str,
    values: list,
) -> None:
    """Remove ``partition_col=value`` directories under ``target_path``.

    Dynamic partition overwrite only replaces partitions PRESENT in the
    written output; a partition whose every row was deleted produces zero
    output rows, so its directory would silently survive. Uses the Hadoop
    FileSystem API (works on HDFS/S3A/local alike); each delete is one
    metadata op, so cost stays O(emptied partitions).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for v in values:
        dirname = (
            "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
        )
        p = jvm.org.apache.hadoop.fs.Path(
            f"{target_path}/{partition_col}={dirname}"
        )
        fs = p.getFileSystem(hconf)
        fs.delete(p, True)


def cdc_merge_into_parquet(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: list[str],
    partition_col: str,
    ts_col: str = "ts",
    op_col: str = "op",
    delete_op: str = "D",
) -> None:
    """Apply an insert/update/delete change batch to a partitioned parquet
    table — MERGE ... WHEN MATCHED DELETE semantics without a lakehouse,
    same partition-swap discipline as `merge_into_parquet` (cost = touched
    partitions, not table).

    Existing rows are replayed as opening state (their stored ts) against
    the batch through `merge.cdc_snapshot`: per key the latest op wins and
    a latest delete removes the row. ``changes`` carries
    (keys..., ts, op, values...); rows must not move across partitions.
    Idempotent: re-applying the same batch is a no-op.
    """
    value_cols = [
        c for c in changes.columns if c not in (*keys, ts_col, op_col)
    ]

    def combine(affected: DataFrame | None) -> DataFrame:
        log = changes.select(*keys, ts_col, op_col, *value_cols)
        if affected is not None:
            log = affected.select(
                *keys, ts_col, F.lit("U").alias(op_col), *value_cols
            ).unionByName(log)
        return cdc_snapshot(log, keys, ts_col, op_col, value_cols, delete_op)

    merged, touched = _swap_partitions(spark, target_path, changes, partition_col, combine)
    if not touched:
        return
    # a batch that deletes EVERY remaining row of a touched partition emits
    # zero rows for it — dynamic overwrite never touches that directory and
    # the stale rows would survive. Diff and delete those explicitly.
    present = {
        r[0] for r in merged.select(partition_col).distinct().collect()
    }
    emptied = [v for v in touched if v not in present]
    if emptied:
        _delete_partition_dirs(spark, target_path, partition_col, emptied)


def refresh_aggregate(
    spark: SparkSession,
    agg_path: str,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    partition_col: str,
    count_col: str = "n_rows",
) -> None:
    """Incremental materialized-aggregate maintenance: fold a fact DELTA
    into a persisted (keys → SUM/COUNT) rollup without recomputing from
    the full fact table.

    Works because SUM and COUNT are commutative monoids: the stored
    aggregate IS a partial aggregate, so merging the delta's partials is
    one union + re-aggregate over (stored ∩ touched partitions) ∪
    (delta partials) — O(delta + touched partitions), never O(fact).
    The write reuses the partition-swap path (dynamic partition
    overwrite), so untouched partitions never rewrite. AVG and friends
    derive downstream as SUM/COUNT; non-decomposable aggregates
    (MEDIAN, COUNT DISTINCT) need sketch-typed state instead — see
    hl1's HLL rollup for the distinct-count version of this pattern.

    First call bootstraps the table (no existing aggregate).
    """
    partials = delta.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.count(F.lit(1)).cast("long").alias(count_col),
    )

    def combine(stored: DataFrame | None) -> DataFrame:
        if stored is None:
            return partials
        return (
            stored.select(partials.columns)
            .unionAll(partials)
            .groupBy(*keys)
            .agg(
                *[F.sum(c).alias(c) for c in sum_cols],
                F.sum(count_col).cast("long").alias(count_col),
            )
        )

    _swap_partitions(spark, agg_path, partials, partition_col, combine)

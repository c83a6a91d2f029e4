"""Sinks: CSV / JSON / parquet writers, JDBC staging + upsert.

SURVEY §2.1 rows S6-S10. Two regimes:

- **parity mode** (``single_file=True``): one CSV/JSON file matching the
  reference's pandas outputs (``to_csv(index=False)``, ``to_json(
  orient="records")``). Uses ``coalesce(1)`` — fine for dim-sized outputs,
  documented as NOT the scale path.
- **scale mode** (default): partitioned parquet/CSV/JSON-lines part-files,
  writer parallelism = partition count.

The JDBC upsert replays the reference's own trick (staging table + one
``INSERT ... ON CONFLICT DO UPDATE`` statement —
ETL_OMS_FINAL_Upgraded.py:100-137) but per-partition-batched and driven
from Spark. psycopg2 is optional (import-gated); the JDBC-batch path works
with any driver jar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite") -> None:
    """S6 CSV sink (``to_csv(index=False)`` — ETL_OMS.py:94)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def write_json(df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite") -> None:
    """S7 JSON sink.

    Spark emits JSON-lines (splittable — the scalable layout); pandas emits
    one array. Value-level parity holds; byte-level parity would need a
    driver-side shim, intentionally not provided on the distributed path.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).json(path)


def write_json_records(
    df: DataFrame, path: str, max_rows: int = 1_000_000
) -> None:
    """S7 byte-parity mode: ONE JSON array file, byte-identical to the
    reference's ``to_json(orient="records", date_format="iso")``
    (ETL_OMS.py:95, ETL_OMS_FINAL.py:107 — the ``Statistique.json``
    layout), produced by Arrow-collecting to the driver and letting
    pandas serialize. A driver-side funnel by design: use it for the
    dim-sized/bilan outputs the reference writes this way; the
    distributed path stays ``write_json`` (JSON-lines, splittable).

    ``max_rows`` gates the collect: a single-file JSON array cannot be
    written distributed, so anything bigger than the dim/bilan shape is
    a caller error — fail fast instead of OOMing the driver. Gate and
    collect are ONE execution (``limit(max_rows + 1).toPandas()``): the
    plan runs once, at most ``max_rows + 1`` rows ever reach the driver,
    and the bound holds even for nondeterministic upstreams (a separate
    count-then-collect could pass the gate yet collect more)."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"write_json_records collects to the driver and got more than "
            f"max_rows={max_rows} rows; use write_json (JSON-lines, "
            "splittable, distributed) for large outputs"
        )
    pdf.to_json(path, orient="records", date_format="iso")


def write_jdbc_staging(
    df: DataFrame,
    url: str,
    staging_table: str,
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> None:
    """S8 bulk load into a staging table (COPY-equivalent).

    JDBC batched inserts from every partition in parallel — the distributed
    analogue of the reference's single-connection ``COPY``
    (ETL_OMS_OPERATIONNEL.py:193-200).
    """
    (
        df.write.mode("append")
        .option("batchsize", str(batchsize))
        .jdbc(url, staging_table, properties=properties or {})
    )


def upsert_sql(
    target_table: str,
    staging_table: str,
    key_cols: list[str],
    update_cols: list[str],
) -> str:
    """S9: the merge statement executed after staging.

    Generates the same ``INSERT ... SELECT ... ON CONFLICT (keys) DO UPDATE``
    shape as ETL_OMS_OPERATIONNEL.py:202-211, parameterized. Execute it over
    any DB-API/JDBC connection supplied by the caller.
    """
    cols = key_cols + update_cols
    col_list = ", ".join(cols)
    conflict = ", ".join(key_cols)
    updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in update_cols)
    return (
        f"INSERT INTO {target_table} ({col_list}) "
        f"SELECT {col_list} FROM {staging_table} "
        f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
    )


def upsert_via_copy(
    df: DataFrame,
    dsn: str,
    target_table: str,
    key_cols: list[str],
    update_cols: list[str],
) -> None:
    """S8+S9 Postgres-parity path: per-partition COPY into a temp table, then
    one ``ON CONFLICT`` merge. Requires psycopg2 (import-gated; absent in
    this container → NotImplementedError, the JDBC path above is the
    portable default).
    """
    try:
        import psycopg2  # noqa: F401
    except ImportError as exc:  # pragma: no cover - psycopg2 not shipped here
        raise NotImplementedError(
            "psycopg2 not available; use write_jdbc_staging + upsert_sql"
        ) from exc

    cols = key_cols + update_cols

    def load_partition(rows) -> None:  # pragma: no cover - needs a live DB
        import io

        import psycopg2

        buf = io.StringIO()
        n = 0
        for row in rows:
            buf.write("\t".join("\\N" if row[c] is None else str(row[c]) for c in cols))
            buf.write("\n")
            n += 1
        if n == 0:
            return
        buf.seek(0)
        conn = psycopg2.connect(dsn)
        try:
            with conn.cursor() as cur:
                cur.execute(
                    f"CREATE TEMP TABLE tmp_upsert (LIKE {target_table} INCLUDING DEFAULTS)"
                )
                cur.copy_expert(
                    f"COPY tmp_upsert ({', '.join(cols)}) FROM STDIN WITH (FORMAT text)",
                    buf,
                )
                cur.execute(upsert_sql(target_table, "tmp_upsert", key_cols, update_cols))
            conn.commit()
        finally:
            conn.close()

    df.select(*cols).foreachPartition(load_partition)


def upsert_via_dbapi(
    df: DataFrame,
    connect,
    target_table: str,
    key_cols: list[str],
    update_cols: list[str],
    staging_table: str = "__spark_upsert_stage",
    batch_size: int = 10_000,
) -> int:
    """S8+S9 over any DB-API connection: staging load + ON CONFLICT merge.

    The single-connection twin of ``write_jdbc_staging`` + ``upsert_sql``
    for embedded targets (DuckDB, SQLite) and for Postgres when only a
    DB-API driver is present — the exact shape of the reference's staging
    COPY + ``INSERT ... ON CONFLICT (id_region, date) DO UPDATE``
    (ETL_OMS_FINAL_Upgraded.py:100-137, ETL_OMS_OPERATIONNEL.py:193-211).

    Rows stream through the driver via ``toLocalIterator`` in
    ``batch_size`` chunks — bounded memory, no ``collect()`` — but this IS
    a driver-side funnel: at warehouse scale use the parallel JDBC staging
    writer; this path is for embedded DBs, tests, and dim-sized loads.

    ``connect`` is a zero-arg factory (connection closed on return) or an
    open connection (left open). Returns the number of rows staged.
    """
    cols = key_cols + update_cols
    placeholders = ", ".join(["?"] * len(cols))
    owns_conn = callable(connect)
    conn = connect() if owns_conn else connect
    try:
        cur = conn.cursor()
        cur.execute(f"DROP TABLE IF EXISTS {staging_table}")
        cur.execute(
            f"CREATE TEMP TABLE {staging_table} AS "
            f"SELECT {', '.join(cols)} FROM {target_table} LIMIT 0"
        )
        insert = f"INSERT INTO {staging_table} VALUES ({placeholders})"
        staged = 0
        batch: list[tuple] = []
        for row in df.select(*cols).toLocalIterator():
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                cur.executemany(insert, batch)
                staged += len(batch)
                batch = []
        if batch:
            cur.executemany(insert, batch)
            staged += len(batch)
        cur.execute(upsert_sql(target_table, staging_table, key_cols, update_cols))
        cur.execute(f"DROP TABLE IF EXISTS {staging_table}")
        conn.commit()
        return staged
    finally:
        if owns_conn:
            conn.close()


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffled storage for co-located joins.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle (no Exchange in the plan) — pay the shuffle once at
    write time, amortize it over every downstream join/aggregation on the
    key. The 100 TB answer for repeated fact-to-fact joins; sort columns
    additionally enable shuffle-free sort-merge.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def export_jsonl_shards(
    df: DataFrame,
    path: str,
    target_bytes: int,
    order_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Training-data export: write the frame as JSONL sharded into
    ~``target_bytes`` files — the terminal step of a curation pipeline
    (data loaders want uniform shards, not whatever sizes the last
    shuffle produced).

    Shard assignment is :func:`~etl_oms_spark.operators.layout.compaction_plan`
    over the EXACT serialized row size (``length(to_json(struct(*)))`` +
    newline) in ``order_cols`` order — the distributed two-phase cumsum,
    so sharding a billion rows never funnels through one task, shards are
    contiguous in the given order, and shard boundaries are deterministic.
    One range exchange + one partitioned write.
    """
    from pyspark.sql import functions as F

    from etl_oms_spark.operators.layout import compaction_plan

    order = order_cols or df.columns[:1]
    cols = df.columns
    sized = df.withColumn(
        "__bytes",
        (F.length(F.to_json(F.struct(*[F.col(c) for c in cols]))) + F.lit(1)).cast(
            "long"
        ),
    )
    planned = compaction_plan(sized, "__bytes", order, target_bytes, file_col="shard")
    (
        planned.drop("__bytes")
        .repartition("shard")
        .write.mode(mode)
        .partitionBy("shard")
        .json(path)
    )

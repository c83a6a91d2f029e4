"""Sources: CSV / JSON / parquet scans, directory scans, JDBC dim reads.

SURVEY §2.1 rows S1-S5. The reference reads one file at a time with pandas
(``extract`` — ETL_OMS.py:32-36) and loops a directory twice
(ETL_OMS_OPERATIONNEL.py:242,287); the Spark form builds one lazy read per
file, tagged with its file name, and the caller's union of them runs as one
job — no second pass.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import empty_frame


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """S1 CSV scan: header + inferred dtypes (pandas ``read_csv`` parity).

    At scale, pass an explicit ``schema`` — ``inferSchema`` costs an extra
    full pass over the data; inference is a convenience for small inputs.
    """
    opts = {"header": "true", **({} if schema else {"inferSchema": "true"}), **options}
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """S2 JSON scan.

    pandas reads a whole JSON array → ``multiLine=true`` for parity with
    array-of-records files; JSON-lines files can pass ``multiLine=false``
    (the scalable layout: splittable, parallel scan).
    """
    opts = {"multiLine": "true", **options}
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None when there is no table yet.

    "No table yet" is exactly two read conditions: ``PATH_NOT_FOUND``
    (never written) and ``UNABLE_TO_INFER_SCHEMA`` (written with zero
    rows: only ``_SUCCESS`` is left under the root, as after a CDC batch
    that deletes every row). Every other failure (an unreadable layout,
    permissions, IO) is raised: a caller that took it for "no table" would
    replace the whole table with one batch.
    """
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md layout)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def scan_dataset_directory(spark: SparkSession, directory: str) -> dict[str, DataFrame]:
    """S3 directory scan with case-insensitive extension filter.

    Mirrors the ``./DATASETS`` loop (ETL_OMS_OPERATIONNEL.py:242-245): each
    ``.csv`` / ``.json`` file, in name order, becomes one lazy read of its
    own, because schemas differ per file. The caller reconciles them and
    unions the conformable ones (`unionByName(allowMissingColumns=True)`),
    so the union still executes as one job; per-file identity survives via
    the ``_source_file`` column.
    """
    readers = {".csv": read_csv, ".json": read_json}
    out: dict[str, DataFrame] = {}
    for name in sorted(os.listdir(directory)):
        reader = readers.get(os.path.splitext(name)[1].lower())
        if reader is not None:
            path = os.path.join(directory, name)
            out[path] = reader(spark, path).withColumn("_source_file", F.lit(name))
    return out


def read_jdbc_dim(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S5 JDBC dim read (ETL_OMS_OPERATIONNEL.py:229-234).

    The reference SELECTs whole dims into Python dicts for map-side lookup;
    the Spark analogue reads the dim once over JDBC and lets the caller
    ``broadcast()`` it into joins. Connection config comes from the caller /
    environment — never hard-coded (the reference embeds live credentials;
    deliberately not reproduced).
    """
    return spark.read.jdbc(url, table, properties=properties or {})


def read_dbapi_dim(
    spark: SparkSession,
    connect,
    table_or_query: str,
    schema=None,
) -> DataFrame:
    """S5 dim read over any DB-API connection — the embedded twin of
    `read_jdbc_dim`, testable against a real database without a JDBC
    server (same seam-closing move as ``upsert_via_dbapi`` on the write
    side). Reference: ETL_OMS_OPERATIONNEL.py:229-234 SELECTs whole dims
    into Python dicts; here the dim lands in a (tiny) DataFrame the
    caller ``broadcast()``s into joins.

    Driver-side funnel BY DESIGN: dims are dim-sized. Anything bigger
    belongs to `read_jdbc_dim`'s parallel partitioned JDBC scan.
    ``connect`` is a zero-arg factory (connection closed on return) or an
    open connection (left open). ``table_or_query`` is a table name or a
    full SELECT. Pass ``schema`` explicitly for empty dims (no rows to
    infer from) or to pin types.
    """
    owns_conn = callable(connect)
    conn = connect() if owns_conn else connect
    try:
        cur = conn.cursor()
        q = table_or_query
        if not q.lstrip().lower().startswith(("select", "with")):
            q = f"SELECT * FROM {q}"
        cur.execute(q)
        names = [d[0] for d in cur.description]
        rows = [tuple(r) for r in cur.fetchall()]
    finally:
        if owns_conn:
            conn.close()
    return spark.createDataFrame(rows, schema if schema is not None else names)


def read_any(spark: SparkSession, path: str, fmt: str | None = None, schema=None, **options) -> DataFrame:
    """Format-dispatching reader: csv / json / parquet / orc (all built-in
    Spark sources — vectorized, splittable, predicate-pushdown for the
    columnar pair). ``fmt`` defaults from the file extension. Beyond the
    reference's CSV/JSON surface; parquet or ORC is what the same data
    should become at warehouse scale."""
    fmt = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    if fmt == "csv":
        return read_csv(spark, path, schema=schema, **options)
    if fmt == "json":
        return read_json(spark, path, schema=schema, **options)
    if fmt in ("parquet", "orc"):
        reader = spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.format(fmt).load(path)
    raise ValueError(f"unsupported format: {fmt!r}")


def ingest_new_files(
    spark: SparkSession,
    path: str,
    ledger_path: str,
    fmt: str = "csv",
    schema=None,
    **options,
):
    """Incremental file-level ingest: read a directory, keep only rows
    from files NOT yet recorded in the ledger, and return (new_rows,
    new_files) so the caller can process then commit.

    The ledger is a tiny parquet of processed file paths — broadcast into
    a left-anti join against ``input_file_name()``, so re-running a
    nightly load never re-ingests yesterday's files (the reference reruns
    whole directories and relies on DB upserts to mask it —
    ETL_OMS_OPERATIONNEL.py directory loops; this makes the idempotence
    explicit and pushes only NEW bytes through the pipeline). Commit with
    :func:`record_ingested` AFTER the downstream write succeeds —
    at-least-once on failure, never silent loss.
    """
    from pyspark.sql import functions as F

    df = read_any(spark, path, fmt=fmt, schema=schema, **options).withColumn(
        "__file", F.input_file_name()
    )
    seen = read_parquet_or_none(spark, ledger_path)
    seen = empty_frame(spark, "file STRING") if seen is None else seen.select("file")
    fresh = df.join(
        F.broadcast(seen), df["__file"] == seen["file"], "left_anti"
    )
    new_files = [r["__file"] for r in fresh.select("__file").distinct().collect()]
    return fresh.drop("__file"), new_files


def record_ingested(spark: SparkSession, files: list[str], ledger_path: str) -> None:
    """Append processed file paths to the ingest ledger (tiny parquet)."""
    if not files:
        return
    spark.createDataFrame([(f,) for f in files], "file STRING").write.mode(
        "append"
    ).parquet(ledger_path)

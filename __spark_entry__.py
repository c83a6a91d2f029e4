"""Driver contract for the etl_oms_spark engine.

``entry(spark)`` — flagship pricing-summary rollup on sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2 (plus
the LLM-pipeline extensions), each a (spark, sf_dir) -> DataFrame callable.
``oracle_sql()`` — DuckDB-runnable ANSI SQL twin per query.

Determinism policy for float aggregates: both sides aggregate exact
integers (per-row ``round(x * scale)`` → BIGINT, identical IEEE-754 inputs
→ identical integers) and only convert back to double at the end, so Spark
and DuckDB produce bit-identical values regardless of partial-aggregation
order. Per-row arithmetic (no aggregation) needs no such treatment: both
engines evaluate the same IEEE expression on the same input bits.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

# the engine package lives next to this file; make the contract loadable by
# file path from any cwd (the driver may not run from the repo root), and
# export PYTHONPATH so Python WORKERS spawned later can unpickle closures
# that reference the package (worker processes don't see driver-side
# sys.path mutations)
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)
if _HERE not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = (
        _HERE + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH")
        else _HERE
    )

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_oms_spark.catalog import _read_table
from etl_oms_spark.merge import merge_dataframes
from etl_oms_spark.reconcile import complete_missing_columns, disease_from_name
from etl_oms_spark.reshape import melt, pivot_wide
from etl_oms_spark.star import keep_last_dedup, surrogate_keys
from etl_oms_spark.transform import (
    derive_daily_columns,
    map_lookup,
    tolerant_timestamp,
)

# ---------------------------------------------------------------------------
# helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table with ``ts`` as TimestampType: the catalog's
    one events rule (nanosecond parquet timestamps rebuilt in-plan)."""
    return _read_table(spark, sf_dir, "events")


def _cents(c: Column, scale: int = 100) -> Column:
    """Exact-sum helper: per-row scale + round → long (see module docstring)."""
    return F.round(c * F.lit(float(scale))).cast("long")


_SUM = "CAST(SUM(CAST(round({x} * {s}) AS BIGINT)) AS DOUBLE) / {s}.0"


def _sum_sql(x: str, s: int = 100) -> str:
    return _SUM.format(x=x, s=s)


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp: the testdata ships no partsupp table, so the
    distinct (l_partkey, l_suppkey) pairs observed in lineitem define the
    supply relation, and the two TPC-H measure columns are synthesized
    deterministically from a portable md5 hash of the key pair — Spark and
    the DuckDB oracle (``PARTSUPP_SQL``) recompute identical values, so
    Q2/Q11/Q20 run with real partsupp semantics (ps_supplycost correlated
    min, ps_supplycost×ps_availqty stock value, ps_availqty threshold)
    under an exact oracle.

    - ``ps_availqty``       int in [1, 9999]        (TPC-H range)
    - ``ps_supplycost_cents`` bigint in [100, 100000] = 1.00–1000.00 (cents
      so threshold compares stay integer-exact; divide by 100 at the edge)

    Scale posture: one lineitem-wide distinct (shuffle on the pair), then
    pure per-row column math — no extra shuffle, no driver state.
    """
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )

    def h(salt: str) -> Column:
        key = F.concat(
            F.lit(salt + "|"),
            F.col("ps_partkey").cast("string"),
            F.lit("|"),
            F.col("ps_suppkey").cast("string"),
        )
        return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")

    return ps.withColumn(
        "ps_availqty", (h("psq") % F.lit(9999) + F.lit(1)).cast("int")
    ).withColumn("ps_supplycost_cents", h("psc") % F.lit(99901) + F.lit(100))


_PS_H = (
    "CAST('0x' || substring(md5('{salt}|' || CAST(ps_partkey AS VARCHAR)"
    " || '|' || CAST(ps_suppkey AS VARCHAR)), 1, 8) AS BIGINT)"
)

PARTSUPP_SQL = f"""
SELECT ps_partkey, ps_suppkey,
       CAST({_PS_H.format(salt="psq")} % 9999 + 1 AS INT) AS ps_availqty,
       {_PS_H.format(salt="psc")} % 99901 + 100 AS ps_supplycost_cents
FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      FROM lineitem)
"""


# ---------------------------------------------------------------------------
# queries


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: grouped multi-aggregate rollup (SURVEY A3) — TPC-H Q1 shape.

    Hash aggregate with map-side partial aggregation; the filter is pushed
    into the parquet scan. The pre-load rollup of
    ETL_OMS_OPERATIONNEL.py:160-166 is this same shape.
    """
    li = _t(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(_cents(F.col("l_quantity"))) / F.lit(100.0)).alias("sum_qty"),
            (F.sum(_cents(F.col("l_extendedprice"))) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(_cents(disc_price, 10_000)) / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum(_cents(charge, 1_000_000)) / F.lit(1000000.0)).alias("sum_charge"),
            (F.sum(_cents(F.col("l_quantity"))) / F.lit(100.0) / n).alias("avg_qty"),
            (F.sum(_cents(F.col("l_extendedprice"))) / F.lit(100.0) / n).alias("avg_price"),
            (F.sum(_cents(F.col("l_discount"))) / F.lit(100.0) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_sum_sql('l_quantity')} AS sum_qty,
       {_sum_sql('l_extendedprice')} AS sum_base_price,
       {_sum_sql('l_extendedprice * (1.0 - l_discount)', 10000)} AS sum_disc_price,
       {_sum_sql('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)', 1000000)} AS sum_charge,
       {_sum_sql('l_quantity')} / COUNT(*) AS avg_qty,
       {_sum_sql('l_extendedprice')} / COUNT(*) AS avg_price,
       {_sum_sql('l_discount')} / COUNT(*) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def p2_p3_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema reconciliation: synonym rename + missing-column completion
    (SURVEY P1/P2/P3 — ETL_OMS.py:38-57, 65-67) exercised on `customer`."""
    from etl_oms_spark.reconcile import apply_flexible_mapping

    cust = _t(spark, sf_dir, "customer")
    renamed = apply_flexible_mapping(cust, {"country": ["c_name", "c_country"]})
    return complete_missing_columns(renamed)


P2_P3_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment,
       c_name AS country,
       CAST(NULL AS TIMESTAMP) AS "date",
       CAST(NULL AS BIGINT) AS confirmed,
       CAST(NULL AS BIGINT) AS deaths,
       CAST(NULL AS BIGINT) AS recovered,
       CAST(NULL AS BIGINT) AS active,
       CAST(NULL AS BIGINT) AS new_cases,
       CAST(NULL AS BIGINT) AS new_deaths
FROM customer
"""


def p6_p7_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Not-null + date-range predicates (P6/P7) with parquet pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.na.drop(subset=["l_shipdate"])
        .filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    )


P6_P7_SQL = """
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
WHERE l_shipdate IS NOT NULL AND l_shipdate >= TIMESTAMP '1997-01-01'
"""


def j1_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim-join chain (J1): supplier × nation × region."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


J1_SQL = """
SELECT s_suppkey, s_name, n_name, r_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


def j2_multikey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key equi join (J2): lineitem × per-(order,supplier) rollup."""
    li = _t(spark, sf_dir, "lineitem")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("supp_lines")
    )
    return (
        li.join(per_os, ["l_orderkey", "l_suppkey"])
        .select("l_orderkey", "l_suppkey", "l_linenumber", "supp_lines")
    )


J2_SQL = """
SELECT l.l_orderkey, l.l_suppkey, l.l_linenumber, g.supp_lines
FROM lineitem l
JOIN (
    SELECT l_orderkey, l_suppkey, CAST(COUNT(*) AS BIGINT) AS supp_lines
    FROM lineitem GROUP BY l_orderkey, l_suppkey
) g ON l.l_orderkey = g.l_orderkey AND l.l_suppkey = g.l_suppkey
"""


def p9_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-membership filter as left-semi join (P9)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


P9_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def j4_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (J4): customers with no URGENT orders — the reference's
    'insert missing dims' shape (ETL_OMS_OPERATIONNEL.py:276-284)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(
        urgent.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


J4_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
"""


def a1_a6_surrogate_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct dim extraction + contiguous surrogate keys (A1+A6)."""
    c = _t(spark, sf_dir, "customer")
    return surrogate_keys(c, "c_mktsegment", "id_segment")


A1_A6_SQL = """
SELECT c_mktsegment, CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment) AS INT) AS id_segment
FROM (SELECT DISTINCT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL) t
"""


def a2_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keep-last (A2) on an explicit arrival order."""
    ev = _events(spark, sf_dir)
    return keep_last_dedup(ev, ["user_id", "event_type"], "event_id")


A2_SQL = """
SELECT event_id, ts, user_id, event_type, value, props
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type ORDER BY event_id DESC
    ) AS rn FROM events
) WHERE rn = 1
"""


def w1_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group lagged difference, first row → 0 (W1 — ETL_OMS.py:71)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("value") - F.lag("value", 1).over(w), F.lit(0.0)).alias(
            "value_diff"
        ),
    )


W1_SQL = """
SELECT event_id, user_id,
       COALESCE(value - LAG(value, 1) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
       ), 0.0) AS value_diff
FROM events
"""


def a4_guard_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional daily derivation with the one-plan broadcast guard
    (W1 + A4 — SURVEY §4 item 3). The `daily` column is entirely NULL, so
    the guard selects the lag-diff branch without a second eager scan."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("cumulative"),
        F.lit(None).cast("long").alias("daily"),
    )
    out = derive_daily_columns(
        ev,
        {"cumulative": "daily"},
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        guard="all_null",
    )
    return out.select("event_id", "user_id", "daily")


A4_SQL = """
SELECT event_id, user_id,
       CAST(trunc(COALESCE(value - LAG(value, 1) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
       ), 0.0)) AS BIGINT) AS daily
FROM events
"""


def o1_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (O1 generalization): ORDER BY + LIMIT → TakeOrdered,
    no full sort materialization."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


O1_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


def r1_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt wide→long (R1 — ETL_OMS.py:76-84) over lineitem measures."""
    li = _t(spark, sf_dir, "lineitem")
    return melt(
        li,
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        var_name="indicator",
        value_name="value",
    )


R1_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS indicator, l_quantity AS value
FROM lineitem WHERE l_quantity IS NOT NULL
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem WHERE l_extendedprice IS NOT NULL
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem WHERE l_discount IS NOT NULL
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
FROM lineitem WHERE l_tax IS NOT NULL
"""


def r2_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide with explicit pivot values + fill (R2 —
    ETL_OMS_V2.py:25-36), orders priority × status counts."""
    o = _t(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return out


R2_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
       CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
       CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
FROM orders
GROUP BY o_orderpriority
"""


def f1_tolerant_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant multi-format date parse (F1 — ETL_OMS_OPERATIONNEL.py:100-107):
    first format fails, fallback succeeds, invalid → NULL."""
    o = _t(spark, sf_dir, "orders")
    as_str = F.date_format("o_orderdate", "MM/dd/yyyy")
    return o.select(
        "o_orderkey",
        tolerant_timestamp(as_str, ["yyyy-MM-dd", "MM/dd/yyyy"]).alias("parsed_date"),
    )


F1_SQL = """
SELECT o_orderkey,
       COALESCE(
           try_strptime(strftime(o_orderdate, '%m/%d/%Y'), '%Y-%m-%d'),
           try_strptime(strftime(o_orderdate, '%m/%d/%Y'), '%m/%d/%Y')
       ) AS parsed_date
FROM orders
"""


def f5_f6_rate_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row arithmetic + rounding (F5/F6 — rate→absolute shape,
    ETL_OMS_OPERATIONNEL.py:120-138)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # integer rounding only: scale-2 rounding of raw doubles diverges
        # between engines (BigDecimal HALF_UP vs float multiply-round)
        F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100).cast(
            "long"
        ).alias("net_price_cents"),
        F.round(F.col("l_extendedprice") * F.col("l_tax") / F.lit(100.0)).cast("long").alias(
            "tax_per_100"
        ),
    )


F5_F6_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS net_price_cents,
       CAST(round(l_extendedprice * l_tax / 100.0) AS BIGINT) AS tax_per_100
FROM lineitem
"""


def f7_unit_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal dict-map lookup as a CASE chain (F7 — ETL_OMS.py:83)."""
    ev = _events(spark, sf_dir)
    mapping = {
        "click": "engagement",
        "view": "engagement",
        "purchase": "revenue",
        "signup": "acquisition",
    }
    return ev.select(
        "event_id", "event_type", map_lookup("event_type", mapping, "other").alias("category")
    )


F7_SQL = """
SELECT event_id, event_type,
       CASE event_type
           WHEN 'click' THEN 'engagement'
           WHEN 'view' THEN 'engagement'
           WHEN 'purchase' THEN 'revenue'
           WHEN 'signup' THEN 'acquisition'
           ELSE 'other'
       END AS category
FROM events
"""


def f8_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column (events.props)."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("prop_k")
    )


F8_SQL = """
SELECT event_id, CAST(props->>'k' AS BIGINT) AS prop_k
FROM events
"""


def f11_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-typed semi-structured access (Spark 4): parse the JSON once
    into the binary VARIANT encoding, then variant_get typed paths. At
    scale this beats per-path get_json_object (f8), which re-parses the
    string for every extraction; aggregating over the typed value stays in
    codegen."""
    ev = _events(spark, sf_dir)
    v = F.parse_json(F.col("props"))
    return (
        ev.select(
            "event_type",
            F.variant_get(v, "$.k", "long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


F11_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(props->>'k' AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def u3_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4) in a LATERAL join: data-dependent fan-out of
    each document into overlapping token-window chunks with provenance —
    the context-window-packing table function of a training pipeline.
    Deterministic, so it gets an exact oracle (DuckDB list-slicing CTE)."""
    from etl_oms_spark.operators.text import chunk_documents_udtf
    from etl_oms_spark.util import ensure_parallelism

    spark.udtf.register("chunk_documents", chunk_documents_udtf())
    # per-row Python: parallelize the scan or one worker chunks everything
    ensure_parallelism(_t(spark, sf_dir, "documents"), "doc_id").createOrReplaceTempView(
        "u3_docs"
    )
    return spark.sql(
        "SELECT c.doc_id, c.chunk_id, c.start_tok, c.end_tok, c.chunk "
        "FROM u3_docs, LATERAL chunk_documents(doc_id, text, 32, 8) c"
    )


U3_SQL = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
    FROM documents
    WHERE length(trim(text)) > 0
)
SELECT doc_id,
       CAST(g // 24 AS INT) AS chunk_id,
       CAST(g AS INT) AS start_tok,
       CAST(least(g + 32, len(t)) AS INT) AS end_tok,
       array_to_string(t[g + 1:least(g + 32, len(t))], ' ') AS chunk
FROM toks, LATERAL unnest(range(0, len(t), 24)) AS r(g)
WHERE g = 0 OR g - 24 + 32 < len(t)
"""


def f12_decimal_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL-typed exact aggregation — the warehouse-native form of the
    exact-integer policy: cast to DECIMAL(18,2) once, sum exactly in
    decimal (no float partial-aggregation drift), convert to double only at
    the edge. avg is derived as exact-sum / count rather than engine-native
    decimal avg, whose result scale/rounding differs between engines."""
    o = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    total = F.sum(dec).cast("double")
    n = F.count(F.lit(1))
    return o.groupBy("o_orderstatus").agg(
        total.alias("total_price"),
        (total / n).alias("avg_price"),
        n.alias("n"),
    )


F12_SQL = """
SELECT o_orderstatus,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderstatus
"""


def s4_source_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename/label keyword classification (S4 —
    ETL_OMS_FINAL_Upgraded.py:62-67) applied to documents.source."""
    d = _t(spark, sf_dir, "documents")
    keywords = {"src1": "Group-1x", "src2": "Group-2x", "src3": "Group-3x"}
    return d.select(
        "doc_id", "source", disease_from_name(F.col("source"), keywords).alias("source_group")
    )


S4_SQL = """
SELECT doc_id, source,
       CASE
           WHEN contains(lower(source), 'src1') THEN 'Group-1x'
           WHEN contains(lower(source), 'src2') THEN 'Group-2x'
           WHEN contains(lower(source), 'src3') THEN 'Group-3x'
           ELSE 'Inconnue'
       END AS source_group
FROM documents
"""


def star_fact_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite star-schema build (A1+A6+J1+A3): nation dim with surrogate
    keys → broadcast joins → fact rollup, the EP2/EP3 shape on TPC-H data."""
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    pays = surrogate_keys(nation, "n_name", "id_pays")
    c = (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(pays), "n_name")
        .select("c_custkey", "id_pays")
    )
    return (
        orders.join(c, orders["o_custkey"] == c["c_custkey"])
        .groupBy("id_pays")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            (F.sum(_cents(F.col("o_totalprice"))) / F.lit(100.0)).alias("total_price"),
        )
    )


STAR_SQL = f"""
WITH pays AS (
    SELECT n_name, CAST(ROW_NUMBER() OVER (ORDER BY n_name) AS INT) AS id_pays
    FROM (SELECT DISTINCT n_name FROM nation WHERE n_name IS NOT NULL) t
), c AS (
    SELECT c_custkey, p.id_pays
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN pays p USING (n_name)
)
SELECT id_pays, CAST(COUNT(*) AS BIGINT) AS order_count,
       {_sum_sql('o_totalprice')} AS total_price
FROM orders JOIN c ON o_custkey = c_custkey
GROUP BY id_pays
"""


def j5_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer upsert merge (J5/S9 — ON CONFLICT DO UPDATE semantics,
    ETL_OMS_OPERATIONNEL.py:202-211) between two order snapshots."""
    o = _t(spark, sf_dir, "orders")
    existing = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    updates = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(1000.0)).alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    return merge_dataframes(existing, updates, keys=["o_orderkey"])


J5_SQL = """
WITH e AS (
    SELECT o_orderkey, o_totalprice AS totalprice, o_orderstatus AS status
    FROM orders WHERE o_orderkey % 3 = 0
), u AS (
    SELECT o_orderkey, o_totalprice + 1000.0 AS totalprice, o_orderstatus AS status
    FROM orders WHERE o_orderkey % 2 = 0
)
SELECT COALESCE(u.o_orderkey, e.o_orderkey) AS o_orderkey,
       CASE WHEN u.o_orderkey IS NOT NULL THEN u.totalprice ELSE e.totalprice END AS totalprice,
       CASE WHEN u.o_orderkey IS NOT NULL THEN u.status ELSE e.status END AS status
FROM e FULL JOIN u ON e.o_orderkey = u.o_orderkey
"""


def ev_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (streaming-shaped, batch
    checked): 1-hour windows per event_type. The same plan runs under
    Structured Streaming with a watermark (etl_oms_spark.streaming)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents(F.col("value"))) / F.lit(100.0)).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


EV_WINDOW_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_sum_sql('value')} AS total_value
FROM events
GROUP BY 1, 2
"""


def r2_pivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt → pivot roundtrip (R1+R2): unpivot lineitem measures, pivot back.

    ``aggfunc="max"`` because the synthetic lineitem has duplicate
    (orderkey, linenumber) pairs — `first` would be arrival-order dependent.
    """
    li = _t(spark, sf_dir, "lineitem")
    values = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = melt(li, ids=["l_orderkey", "l_linenumber"], values=values)
    return pivot_wide(
        long,
        index=["l_orderkey", "l_linenumber"],
        pivot_col="indicator",
        value_col="value",
        pivot_values=values,
        aggfunc="max",
    )


R2_RT_SQL = """
SELECT l_orderkey, l_linenumber,
       COALESCE(MAX(l_quantity), 0.0) AS l_quantity,
       COALESCE(MAX(l_extendedprice), 0.0) AS l_extendedprice,
       COALESCE(MAX(l_discount), 0.0) AS l_discount,
       COALESCE(MAX(l_tax), 0.0) AS l_tax
FROM lineitem
GROUP BY l_orderkey, l_linenumber
"""


# ---------------------------------------------------------------------------
# analytical shapes beyond the reference surface (engine completeness)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two joins → agg → top-k.
    Catalyst pushes both filters into the scans; the customer side is
    broadcast; top-k is TakeOrdered (no global sort)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_cents(revenue, 10_000)) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       {_sum_sql('l_extendedprice * (1.0 - l_discount)', 10000)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a local-supplier constraint
    (c_nationkey = s_nationkey), grouped revenue per nation."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .filter(c["c_nationkey"] == s["s_nationkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg((F.sum(_cents(revenue, 10_000)) / F.lit(10000.0)).alias("revenue"))
    )


Q5_SQL = f"""
SELECT n_name, {_sum_sql('l_extendedprice * (1.0 - l_discount)', 10000)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name
"""


def q17_avg_quantity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per-group scalar aggregate joined back as a filter
    threshold (the decorrelated form of a correlated subquery)."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        # avg over integer-valued quantities: exact sum → deterministic
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(per_part, li["l_partkey"] == per_part["__pk"])
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            (F.sum(_cents(F.col("l_extendedprice"))) / F.lit(100.0)).alias("total_price"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q17_SQL = f"""
SELECT {_sum_sql('l_extendedprice')} AS total_price,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN (
    SELECT l_partkey, SUM(l_quantity) / COUNT(*) AS avg_qty
    FROM lineitem GROUP BY l_partkey
) p ON l.l_partkey = p.l_partkey
WHERE l.l_quantity < 0.5 * p.avg_qty
"""


def a8_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-set aggregation (beyond the reference: SURVEY notes
    it has no grouping sets — engine capability)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(_cents(F.col("o_totalprice"))) / F.lit(100.0)).alias("total_price"),
        )
    )


A8_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_sum_sql('o_totalprice')} AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def w2_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames: running sum + 4-row moving average per user over
    event time (exact integer-cents arithmetic inside the frame)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    move = w.rowsBetween(-3, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        (F.sum(_cents(F.col("value"))).over(run) / F.lit(100.0)).alias("running_value"),
        (
            F.sum(_cents(F.col("value"))).over(move)
            / F.lit(100.0)
            / F.count(F.lit(1)).over(move)
        ).alias("moving_avg"),
        F.rank().over(w).alias("event_rank"),
    )


W2_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
           AS running_value,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
           / COUNT(*) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
           AS moving_avg,
       CAST(RANK() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT)
           AS event_rank
FROM events
"""


def s_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: (urgent-order customers) INTERSECT (high-value
    customers) then EXCEPT (F-status customers)."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    f_status = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return urgent.intersect(high).exceptAll(f_status.distinct())


SETOPS_SQL = """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_totalprice > 200000
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def f9_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions: case, substring, concat, length, predicate."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.col("p_type").contains("BRASS").cast("int").alias("is_brass"),
    )


F9_SQL = """
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       substring(p_name, 1, 10) AS name_prefix,
       concat_ws('/', p_brand, p_type) AS brand_type,
       CAST(length(p_name) AS INT) AS name_len,
       CAST(contains(p_type, 'BRASS') AS INT) AS is_brass
FROM part
"""


def a9_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation HAVING filter + conditional (CASE) aggregates."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            (F.sum(_cents(F.col("o_totalprice"))) / F.lit(100.0)).alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 15)
    )


A9_SQL = f"""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open,
       {_sum_sql('o_totalprice')} AS total_spent
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join feeding an aggregate."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        o.join(late, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > TIMESTAMP '1998-01-01'
)
GROUP BY o_orderpriority
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join → per-customer count → histogram
    of counts (two-level aggregation, nulls → 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
    GROUP BY c_custkey
) t
GROUP BY c_count
"""


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate across join inputs — tests
    predicate normalization/pushdown through a join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & (F.col("l_quantity") >= 20))
        | ((F.col("p_size") >= 40) & (F.col("l_quantity") < 5))
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            (F.sum(_cents(revenue, 10_000)) / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q19_SQL = f"""
SELECT {_sum_sql('l_extendedprice * (1.0 - l_discount)', 10000)} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity >= 10)
   OR (p_brand = 'Brand#2' AND l_quantity >= 20)
   OR (p_size >= 40 AND l_quantity < 5)
"""


def q22_global_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global average) as filter + anti
    join, grouped output."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    pos = c.filter(F.col("c_acctbal") > 0.0)
    # broadcast scalar: exact integer-cents average
    avg_bal = pos.agg(
        (F.sum(_cents(F.col("c_acctbal"))) / F.lit(100.0) / F.count(F.lit(1))).alias(
            "__avg"
        )
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("__avg"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    no_orders = rich.join(
        urgent.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    )
    return no_orders.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        (F.sum(_cents(F.col("c_acctbal"))) / F.lit(100.0)).alias("totacctbal"),
    )


Q22_SQL = f"""
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
       {_sum_sql('c_acctbal')} AS totacctbal
FROM customer c
WHERE c_acctbal > (
        SELECT {_sum_sql('c_acctbal')} / COUNT(*)
        FROM customer WHERE c_acctbal > 0.0
      )
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


def n1_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics: NULLIF-injected nulls through grouping (nulls form
    one group) and null-safe equality (<=> / IS NOT DISTINCT FROM)."""
    o = _t(spark, sf_dir, "orders")
    withnull = o.select(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_n"),
        F.col("o_totalprice"),
        F.col("o_orderpriority"),
    )
    return withnull.groupBy("status_n").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col("status_n")).alias("n_nonnull"),
        F.count(
            F.when(F.col("status_n").eqNullSafe(F.lit(None).cast("string")), 1)
        ).alias("n_nullsafe_null"),
    )


N1_SQL = """
SELECT nullif(o_orderstatus, 'P') AS status_n,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(nullif(o_orderstatus, 'P')) AS BIGINT) AS n_nonnull,
       CAST(COUNT(CASE WHEN nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM NULL
                       THEN 1 END) AS BIGINT) AS n_nullsafe_null
FROM orders
GROUP BY nullif(o_orderstatus, 'P')
"""


def ar1_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over the embedding column: size / element access /
    slice / sort — quantized to exact integers so array value-hashes match
    across engines (float32 list repr differs otherwise)."""
    e = _t(spark, sf_dir, "embeddings")
    quant = lambda c: F.round(c.cast("double") * F.lit(1000000.0)).cast("long")  # noqa: E731
    qarr = F.transform(F.col("embedding"), quant)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        quant(F.element_at("embedding", 1)).alias("first_q"),
        # string-join, not a raw array column: list cells break row-sort
        # hashing on the compare side
        F.concat_ws(",", F.transform(F.slice(qarr, 1, 4), lambda x: x.cast("string"))).alias(
            "head4_q"
        ),
        F.sort_array(qarr, asc=False).getItem(0).alias("max_q"),
        F.aggregate(qarr, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_q"),
    )


AR1_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS first_q,
       array_to_string(list_transform(embedding[1:4],
           x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR)), ',') AS head4_q,
       list_max(list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS max_q,
       CAST(list_sum(list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS sum_q
FROM embeddings
"""


def t5_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar functions: extract / replace / split-count."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"^(\w+)", 1).alias("first_word"),
        F.length(F.regexp_replace("text", r"[aeiou]", "")).alias("novowel_len"),
        F.regexp_count("text", F.lit(r"\bthe\b")).alias("n_the"),
    )


T5_SQL = r"""
SELECT doc_id,
       regexp_extract(text, '^(\w+)', 1) AS first_word,
       CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT) AS novowel_len,
       CAST(len(regexp_extract_all(text, '\bthe\b')) AS INT) AS n_the
FROM documents
"""


def f10_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar functions (cross-engine-stable subset; dayofweek is
    normalized to 0=Sunday — Spark is 1-based, DuckDB 0-based)."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        (F.dayofweek(d) - F.lit(1)).alias("dow"),
        # timestamps, not dates: DATE columns reach pandas as object cells
        # (datetime.date) on the Spark side but datetime64 from DuckDB —
        # the one dtype gap the driver's datetime normalization can't
        # bridge. Timestamp-typed on both sides compares exactly.
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.date_add(d.cast("date"), 30).cast("timestamp").alias("plus30"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date")).alias("to_y2k"),
    )


F10_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS y,
       CAST(quarter(o_orderdate) AS INT) AS q,
       CAST(month(o_orderdate) AS INT) AS m,
       CAST(day(o_orderdate) AS INT) AS dom,
       CAST(dayofweek(o_orderdate) AS INT) AS dow,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
       CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus30,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS to_y2k
FROM orders
"""


def tj1_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no primitive): for each
    purchase event, the user's most recent click at or before it. One
    shuffle via the union + last-non-null-window composition; oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from etl_oms_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join(purchases, clicks, on="ts", by=["user_id"], value_cols=["click_value"])
    return out.select("event_id", "user_id", "value", "click_value")


TJ1_SQL = """
SELECT p.event_id, p.user_id, p.value, c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def tj2_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (custom operator): lineitems shipped within 7 days of an
    urgent order's date — interval bucketing turns the naive cross-join+
    filter into an equi join on buckets + exact BETWEEN filter."""
    from etl_oms_spark.operators.temporal import range_join

    li = _t(spark, sf_dir, "lineitem").select("l_shipdate", "l_quantity")
    o = (
        _t(spark, sf_dir, "orders")
        # modulo-sampled urgent orders: keeps interval density (and the true
        # pair count) bounded — the full join is ~50M pairs at sf0.1, which
        # benchmarks output volume rather than the bucketing machinery
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 10 == 0))
        .select(
            "o_orderkey",
            "o_orderdate",
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("__end"),
        )
    )
    joined = range_join(li, o, "l_shipdate", "o_orderdate", "__end", bucket_width=7 * 86400)
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        (F.sum(_cents(F.col("l_quantity"))) / F.lit(100.0)).alias("total_qty"),
    )


TJ2_SQL = f"""
SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
       {_sum_sql('l_quantity')} AS total_qty
FROM orders JOIN lineitem
  ON l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 7 DAY
WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 0
GROUP BY o_orderkey
"""


def rl1_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: the DAILY tier is computed by
    re-aggregating the HOURLY tier (24x fewer input rows than raw) — the
    oracle aggregates raw events directly, proving the re-aggregation is
    lossless for count/sum/min/max."""
    from etl_oms_spark.operators.rollup import time_rollup

    ev = _events(spark, sf_dir)
    tiers = time_rollup(ev, ["1 hour", "1 day"], keys=["event_type"])
    day = tiers["1 day"]
    return day.select(
        F.col("bucket").alias("day_start"),
        "event_type",
        "n_events",
        (F.col("value_cents") / F.lit(100.0)).alias("total_value"),
        "min_value",
        "max_value",
    )


RL1_SQL = f"""
SELECT date_trunc('day', ts) AS day_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_sum_sql('value')} AS total_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-nation trade volume grouped by year — joins with
    a symmetric nation-pair predicate + date-part extraction."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("s_nk"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg((F.sum(_cents(volume, 10_000)) / F.lit(10000.0)).alias("revenue"))
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {_sum_sql('volume', 10000)} AS revenue
FROM (
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           l_extendedprice * (1.0 - l_discount) AS volume
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
       OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
) t
GROUP BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional-share aggregation — ratio of a CASE'd
    sum to the total sum per year (exact-integer sums → deterministic
    double ratio)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    volume = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    vol_cents = _cents(volume, 10_000)
    target = F.when(F.col("n_name") == "NATION_0", vol_cents).otherwise(F.lit(0))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(target).cast("double") / F.sum(vol_cents)).alias("mkt_share")
        )
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CASE WHEN n_name = 'NATION_0'
                     THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)
                     ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY year(o_orderdate)
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: selective fact filter -> join dims -> top-20
    revenue-losing customers."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(_cents(revenue, 10_000)) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {_sum_sql('l_extendedprice * (1.0 - l_discount)', 10000)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-revenue ratio over a join (LIKE-prefix
    predicate inside the aggregate; exact-integer sums → deterministic
    ratio)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    vol_cents = _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 10_000)
    promo = F.when(F.col("p_type").startswith("PROMO"), vol_cents).otherwise(F.lit(0))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .agg(
            (F.lit(100.0) * F.sum(promo).cast("double") / F.sum(vol_cents)).alias(
                "promo_revenue_pct"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q14_SQL = """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                   THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)
                   ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS DOUBLE)
       AS promo_revenue_pct,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
"""


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a grouped HAVING (orders whose
    total quantity exceeds a threshold), joined back to customers, top-k."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg((F.sum(_cents(F.col("l_quantity"))) / F.lit(100.0)).alias("total_qty"))
        .filter(F.col("total_qty") > 150.0)
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(25)
    )


Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, t.total_qty
FROM orders
JOIN (
    SELECT l_orderkey, {_sum_sql('l_quantity')} AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING {_sum_sql('l_quantity')} > 150.0
) t ON o_orderkey = t.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 25
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: correlated-min subquery — for each small part, the EUROPE
    supplier(s) offering the minimum ps_supplycost among those who supply
    it (real Q2 semantics via the derived ``_partsupp`` relation; the cost
    compare is on integer cents so both engines cut identically).

    The correlated MIN becomes a partition-window min over p_partkey —
    one shuffle instead of a second partsupp scan + rejoin. The part
    filter and the EUROPE supplier dim both broadcast.
    """
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"]).join(
        F.broadcast(supp), ps["ps_suppkey"] == supp["s_suppkey"]
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_cost", F.min("ps_supplycost_cents").over(w))
        .filter(F.col("ps_supplycost_cents") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            (F.col("ps_supplycost_cents") / F.lit(100.0)).alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = f"""
WITH ps AS ({PARTSUPP_SQL}),
     supp AS (SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE')
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       CAST(ps_supplycost_cents AS DOUBLE) / 100.0 AS supply_cost
FROM ps
JOIN part ON ps_partkey = p_partkey
JOIN supp ON ps_suppkey = s_suppkey
WHERE p_size <= 15
  AND ps_supplycost_cents = (
        SELECT MIN(ps2.ps_supplycost_cents)
        FROM ps ps2 JOIN supp s2 ON ps2.ps_suppkey = s2.s_suppkey
        WHERE ps2.ps_partkey = p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-table selective filter → scalar aggregate. The whole
    predicate is pushed into the parquet scan (PushedFilters); at scale this
    is a pure scan-rate benchmark with map-side partial aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            (F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"), 10_000))
             / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q6_SQL = f"""
SELECT {_sum_sql('l_extendedprice * l_discount', 10000)} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0
"""


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit by supplier nation × order year for one product
    family, with the REAL profit formula — revenue minus supply cost
    (ps_supplycost × l_quantity) via the derived ``_partsupp``. Both terms
    are exact integers at scale 10000 (revenue rounded per-row; cost =
    cost_cents × qty_cents is a product of integers), so the grouped sum
    is bit-identical across engines.

    Plan: selective part filter broadcast into the fact; the partsupp
    join shares the (part, supplier) pair key with its derivation so AQE
    sees matching partitioning; orders joins on the orderkey shuffle;
    supplier/nation broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    # semi-filter partsupp by the selective part predicate BEFORE the pair
    # join — the broadcast filter costs nothing and cuts the shuffled ps
    # side to the 'gear' fraction (result unchanged: the part join would
    # drop those rows anyway)
    ps = _partsupp(spark, sf_dir).join(
        F.broadcast(p.select("p_partkey")),
        F.col("ps_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    amount = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    profit_units = _cents(amount, 10_000) - F.col("ps_supplycost_cents") * _cents(
        F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(
            ps,
            (li["l_partkey"] == ps["ps_partkey"])
            & (li["l_suppkey"] == ps["ps_suppkey"]),
        )
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((F.sum(profit_units) / F.lit(10000.0)).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = f"""
WITH ps AS ({PARTSUPP_SQL})
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)
                - ps_supplycost_cents * CAST(round(l_quantity * 100) AS BIGINT))
            AS DOUBLE) / 10000.0 AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: per-part stock value SUM(ps_supplycost × ps_availqty)
    restricted to one nation's suppliers, HAVING value > fraction of the
    global total (scalar subquery in HAVING) — real Q11 semantics via the
    derived ``_partsupp``. The threshold compare is on exact integer cents
    (value×1000 > total), so both engines make identical keep/drop
    decisions — no float-epsilon flakiness at the cut line.

    Plan: partsupp shuffles once on ps_partkey for the group-by; the
    nation-filtered supplier dim broadcasts; the global total is a
    broadcast scalar (no second scan of the grouped side thanks to the
    crossJoin of the 1-row aggregate)."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    grp = (
        ps.join(
            F.broadcast(
                s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
            ),
            ps["ps_suppkey"] == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.col("ps_supplycost_cents") * F.col("ps_availqty").cast("long")
            ).alias("value_cents")
        )
    )
    total = grp.agg(F.sum("value_cents").alias("total_cents"))
    return (
        grp.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * F.lit(1000) > F.col("total_cents"))
        .select(
            "ps_partkey",
            (F.col("value_cents") / F.lit(100.0)).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


Q11_SQL = f"""
WITH ps AS ({PARTSUPP_SQL}),
v AS (
    SELECT ps_partkey, SUM(ps_supplycost_cents * CAST(ps_availqty AS BIGINT)) AS value_cents
    FROM ps
    WHERE ps_suppkey IN (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7')
    GROUP BY ps_partkey
)
SELECT ps_partkey, CAST(value_cents AS DOUBLE) / 100.0 AS part_value
FROM v
WHERE value_cents * 1000 > (SELECT SUM(value_cents) FROM v)
ORDER BY part_value DESC, ps_partkey
"""


def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: joined CASE'd two-way counts. The testdata lacks
    l_shipmode/l_commitdate/l_receiptdate, so "late" = shipped >30 days
    after the order date within 1997, bucketed by l_linestatus, counting
    critical (1-URGENT/2-HIGH) vs other order priorities."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view → supplier(s) matching the global MAX
    (scalar subquery). Exact integer cents make the MAX comparison
    deterministic across engines; ties all survive, as in the spec."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 10_000)
            ).alias("rev_cents")
        )
    )
    mx = rev.agg(F.max("rev_cents").alias("max_cents"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_cents") == F.col("max_cents"))
        .join(F.broadcast(s), rev["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_cents") / F.lit(10000.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS rev_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_cents AS DOUBLE) / 10000.0 AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE rev_cents = (SELECT MAX(rev_cents) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute triple,
    excluding a supplier denylist (NOT IN subquery → broadcast anti join).
    Distinct lineitem (part, supplier) pairs stand in for partsupp;
    negative account balance stands in for the complaints filter."""
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("ECONOMY"))
        & F.col("p_size").isin(2, 5, 11, 14, 17, 21, 28, 37)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .join(F.broadcast(bad), ps["ps_suppkey"] == bad["s_suppkey"], "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem) ps
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'ECONOMY%'
  AND p_size IN (2, 5, 11, 14, 17, 21, 28, 37)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: nested semi-join reduction — suppliers in one nation
    holding excess stock of 'small…' parts: ps_availqty > half the 1997
    shipped quantity of that (part, supplier) — real Q20 semantics via the
    derived ``_partsupp``. The double-nested IN subqueries become
    semi/equi joins; the correlated shipped-quantity scalar subquery
    becomes a grouped aggregate joined back on the pair key. The ×2/×100
    scaling keeps the threshold compare integer-exact.

    Plan: one lineitem shuffle on (part, supplier) for the shipped
    aggregate; partsupp joins it on the same pair key; the part filter
    broadcasts into both sides; supplier/nation broadcast at the end."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small")).select(
        "p_partkey"
    )
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("qty_cents"))
    )
    ps = _partsupp(spark, sf_dir).join(
        F.broadcast(p), F.col("ps_partkey") == p["p_partkey"], "left_semi"
    )
    heavy = (
        ps.join(
            shipped,
            (ps["ps_partkey"] == shipped["l_partkey"])
            & (ps["ps_suppkey"] == shipped["l_suppkey"]),
        )
        # availqty > 0.5 * shipped_qty  ⇔  availqty*2*100 > qty_cents
        .filter(F.col("ps_availqty").cast("long") * F.lit(200) > F.col("qty_cents"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(heavy), s["s_suppkey"] == heavy["ps_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name", "s_suppkey")
    )


Q20_SQL = f"""
WITH ps AS ({PARTSUPP_SQL}),
small_parts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
shipped AS (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_cents
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM small_parts)
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_partkey, l_suppkey
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_4'
  AND s_suppkey IN (
      SELECT ps_suppkey
      FROM ps
      JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      WHERE ps_partkey IN (SELECT p_partkey FROM small_parts)
        AND CAST(ps_availqty AS BIGINT) * 200 > qty_cents)
ORDER BY s_name, s_suppkey
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS correlated self-joins — the
    only supplier that shipped late on a multi-supplier finished order.
    Without l_commitdate/l_receiptdate, "late" = shipped >90 days after the
    order date.

    Physical strategy: the naive lowering (left-semi + left-anti self-joins
    with a suppkey-inequality residual) sorts lineitem-cardinality inputs
    twice and scaled 3.5× on 10× data (SCALING.md). Since the qualifying
    supplier is itself late, the correlated predicates collapse to
    per-order counts — EXISTS(other supplier) ⇔ distinct suppliers ≥ 2,
    NOT EXISTS(other late supplier) ⇔ exactly one late supplier — and the
    per-lineitem count becomes a per-(order, supplier) late-line count. So:
    ONE fact×fact join builds `late`, everything after is map-side-combined
    aggregation at order cardinality, and the supplier/nation filter joins
    against the already-aggregated single-late-supplier rows (broadcast).
    max(suppkey)/max(n_lines) are safe because the n_late==1 filter leaves
    one row per order."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o_f = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    late = (
        li.join(o_f, li["l_orderkey"] == o_f["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    solo_late = (
        late.groupBy("l_orderkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_late"),
            F.max("l_suppkey").alias("late_suppkey"),
            F.max("n_lines").alias("n_lines"),
        )
        .filter(F.col("n_late") == 1)
    )
    multi_supp = (
        li.select("l_orderkey", "l_suppkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
        .filter(F.col("n_supp") >= 2)
        .select(F.col("l_orderkey").alias("o2"))
    )
    nation_supp = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "s_name"
    )
    return (
        solo_late.join(multi_supp, solo_late["l_orderkey"] == multi_supp["o2"], "left_semi")
        .join(F.broadcast(nation_supp), F.col("late_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_lines").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_2'
WHERE l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND o3.o_orderstatus = 'F'
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def a12_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with GROUPING flags: all 4 rollup combinations of
    (status, priority) in one pass — Spark expands the grouping sets before
    the hash aggregate, so it's still a single shuffle. The grouping flags
    distinguish subtotal NULLs from data NULLs."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(_cents(F.col("o_totalprice"))) / F.lit(100.0)).alias("total"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
    )


A12_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_sum_sql('o_totalprice')} AS total,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def a13_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median/p90) per group — two-phase exact lowering.

    Computed on integer cents: linear interpolation between two exact
    integers is bit-identical under both engines' formulas (a+(b-a)*f vs
    (1-f)*a+f*b), so the oracle compare is exact. Uses
    ``group_percentiles(mode="hist")``: Spark's native ``percentile``
    buffers every group value in ONE task's aggregation buffer (an OOM at
    100 TB with a handful of priorities); the histogram+rank lowering is
    bounded by per-group distinct values, sort-based and spillable, and
    reproduces the same interpolation bit-for-bit."""
    from etl_oms_spark.operators.quantiles import group_percentiles

    o = _t(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    q = group_percentiles(
        o, ["o_orderpriority"], cents, [0.5, 0.9],
        names=["med_c", "p90_c"], mode="hist", count_col="n",
    )
    return (
        q.select(
            "o_orderpriority",
            (F.col("med_c") / F.lit(100.0)).alias("median_price"),
            (F.col("p90_c") / F.lit(100.0)).alias("p90_price"),
            F.col("n"),
        )
        .orderBy("o_orderpriority")
    )


A13_SQL = """
SELECT o_orderpriority,
       quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) / 100.0 AS median_price,
       quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.9) / 100.0 AS p90_price,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def ar2_explode_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral-view explode (UDTF shape): tokenize documents and count word
    frequencies — the classic generator/flatten operator Spark expresses as
    explode(split(...)). Stays entirely JVM-side (no Python UDF); the
    generate + partial hash aggregate pipeline into one codegen stage, so at
    100 TB this is scan-rate bound like any flatMap+combine."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") >= 4)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(50)
    )


AR2_SQL = """
SELECT word, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
WHERE length(word) >= 4
GROUP BY word
ORDER BY n DESC, word
LIMIT 50
"""


def w3_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-window functions: ntile / percent_rank / cume_dist /
    dense_rank over customers per market segment. The order key includes
    c_custkey so ntile's row-order dependence is deterministic across
    engines; percent_rank/cume_dist are tie-aware by definition."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.dense_rank().over(w).alias("drank"),
    )


W3_SQL = """
SELECT c_mktsegment, c_custkey, c_acctbal,
       CAST(ntile(4) OVER w AS INT) AS balance_quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(dense_rank() OVER w AS INT) AS drank
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (native session_window; streaming-ready).

    Oracle: the classic gap-and-island SQL — new session when the gap from
    the previous event exceeds 10 min, session id = running count of
    session starts. session_window's end = last event + gap.
    """
    from etl_oms_spark.operators.stateful import sessionize

    return sessionize(_events(spark, sf_dir), gap="10 minutes")


EV_SESSION_SQL = """
WITH marked AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 10 MINUTE OR
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), numbered AS (
    SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
    ) AS session_id
    FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 10 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS session_value
FROM numbered
GROUP BY user_id, session_id
"""


def a10_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — expand+two-phase aggregation in Spark."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


A10_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


def a11_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approximate distinct (no oracle: sketch algorithms
    differ across engines; exact twin is a10_distinct_agg)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("median_price"),
    )


def u2_grouped_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average — recursive, hence the grouped-
    map mapInPandas escape hatch. Oracle: a DuckDB recursive CTE running
    the IDENTICAL recurrence ema_t = (1-a)*ema_{t-1} + a*x_t in the same
    order (pandas ewm(adjust=False) computes exactly this), so the doubles
    match bit-for-bit."""
    from etl_oms_spark.operators.stateful import grouped_ema

    return grouped_ema(_events(spark, sf_dir), alpha=0.3)


U2_SQL = """
WITH RECURSIVE numbered AS (
    SELECT user_id, ts, event_id, value,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS BIGINT) AS rn
    FROM events
), ema AS (
    SELECT user_id, ts, event_id, rn, CAST(value AS DOUBLE) AS ema
    FROM numbered WHERE rn = 1
    UNION ALL
    SELECT n.user_id, n.ts, n.event_id, n.rn,
           0.7 * e.ema + 0.3 * n.value
    FROM numbered n
    JOIN ema e ON n.user_id = e.user_id AND n.rn = e.rn + 1
)
SELECT user_id, ts, event_id, ema FROM ema
"""


# ---------------------------------------------------------------------------
# LLM-pipeline operators: dedup / text analysis / similarity search

_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on canonical text (hash-groupBy, min-id representative)."""
    from etl_oms_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


D1_SQL = f"""
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS dup_count
FROM documents
GROUP BY {_NORM_SQL}
"""


def d2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard similar pairs ≥ 0.9 (inverted-index join).

    The small-scale oracle twin of the MinHash-LSH path (d3); at 100 TB the
    inverted-index join is used only with max_df capping.
    """
    from etl_oms_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.9, k=1)


D2_SQL = f"""
WITH raw_toks AS (
    SELECT DISTINCT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
    FROM documents
), toks AS (
    -- mirror the engine's max_df=1000 stopword-shingle cap: tokens in
    -- more than 1000 docs count toward neither |A∩B| nor the set sizes
    -- (first diverged at sf0.1, where common words exceed the cap)
    SELECT doc_id, tok FROM raw_toks
    WHERE tok IN (SELECT tok FROM raw_toks GROUP BY tok HAVING COUNT(*) <= 1000)
), cnt AS (
    SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
    FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
FROM common
JOIN cnt x ON id_a = x.doc_id
JOIN cnt y ON id_b = y.doc_id
WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.9
"""


def d3_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates with signature-estimated Jaccard —
    the scale path (no oracle: xxhash64 seeds are engine-specific)."""
    from etl_oms_spark.operators.dedup import (
        estimate_jaccard,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    # signatures are tiny but lineage-heavy → cache across the self-join
    # and both similarity-join sides (see operators.dedup.minhash_dedup)
    sigs = minhash_signatures(docs).cache()
    pairs = lsh_candidate_pairs(sigs)
    return estimate_jaccard(sigs, pairs).filter(F.col("est_jaccard") >= 0.5)


def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (no oracle: engine-specific
    token hashes)."""
    from etl_oms_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex (pure codegen)."""
    from etl_oms_spark.operators.text import bpe_token_count, whitespace_token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        whitespace_token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    )


T1_SQL = f"""
SELECT doc_id,
       CAST(CASE WHEN length({_NORM_SQL}) = 0 THEN 0
            ELSE len(string_split({_NORM_SQL}, ' ')) END AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS bpe_tokens
FROM documents
"""


def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length/stopword/punctuation signals)."""
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


# NULL-text guard mirrors operators/text.whitespace_token_count: both
# engines must yield 0 (not NULL) for NULL text or oracles diverge the
# moment a documents table carries NULL rows
_WS = (
    f"CASE WHEN coalesce(length({_NORM_SQL}), 0) = 0 THEN 0 "
    f"ELSE len(string_split({_NORM_SQL}, ' ')) END"
)
#: the quality-score formula as a SQL expression — shared by t2 and the
#: dr2 drift monitor so both recompute the identical per-row double
_QUALITY_EXPR_SQL = f"""least(CAST({_WS} AS DOUBLE) / 100.0, 1.0) * 0.4
       + least(CAST(len(regexp_extract_all(lower(text),
             '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS DOUBLE)
           / greatest({_WS}, 1) * 5.0, 1.0) * 0.4
       + (1.0 - least(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
           / greatest(length(text), 1) * 10.0, 1.0)) * 0.2"""

T2_SQL = f"""
SELECT doc_id,
       {_QUALITY_EXPR_SQL}
       AS quality
FROM documents
"""


def t3_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (deterministic argmax).

    The marker regexes are compute-heavy per row, so the scan is guarded by
    ensure_parallelism — a single-row-group parquet file would otherwise
    serialize all matching onto one core (no-op on well-split sources;
    measured 2× at sf0.1, SCALING.md)."""
    from etl_oms_spark.operators.text import language_id
    from etl_oms_spark.util import ensure_parallelism

    d = ensure_parallelism(_t(spark, sf_dir, "documents"), "doc_id")
    return d.select("doc_id", "lang", language_id("text").alias("lang_pred"))


def _lang_hits_sql(words: list[str]) -> str:
    return (
        "len(regexp_extract_all(lower(text), '\\b("
        + "|".join(words)
        + ")\\b'))"
    )


T3_SQL = None  # filled in below from LANG_MARKERS to stay in lockstep


def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form md5 document fingerprint."""
    from etl_oms_spark.operators.text import fingerprint_md5

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_md5("text").alias("fingerprint"))


T4_SQL = f"""
SELECT doc_id, md5({_NORM_SQL}) AS fingerprint
FROM documents
"""


def e1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for two query vectors.

    Integer-quantized dot products → bit-identical scores across engines.
    """
    from etl_oms_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, query, k=5)


_QE = "CAST(round(CAST({v}[t.i] AS DOUBLE) * 1000000) AS BIGINT)"
E1_SQL = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1)
), pairs AS (
    SELECT q.query_id, e.vec_id,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='q.qe')}) AS dot,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='e.embedding')}) AS na,
           SUM({_QE.format(v='q.qe')} * {_QE.format(v='q.qe')}) AS nb
    FROM embeddings e, q, range(1, 65) t(i)
    GROUP BY 1, 2
), scored AS (
    SELECT query_id, vec_id,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
    FROM pairs
)
SELECT query_id, vec_id, cosine
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
    FROM scored
) WHERE rn <= 5
"""


def mmr1_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversified retrieval
    (operators/similarity.mmr_topk, Carbonell & Goldstein 1998): for 3
    query vectors, re-rank the top-8 cosine candidates into 4 picks by
    λ=0.7 relevance-vs-redundancy — integer objective 7·rel_q9 −
    3·max_sim_q9 over 1e-9-quantized cosines, argmax ties to the lower
    id. One corpus scan; the 3 unrolled selection rounds run on
    24-row checkpointed frames."""
    from etl_oms_spark.operators.similarity import mmr_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return mmr_topk(emb, query, k_cand=8, k_select=4, lam_tenths=7)


def _mmr_round_ctes(k_select: int, lam: int = 7) -> str:
    """Unrolled MMR selection rounds 2..k_select (uni1's unrolled-DP
    pattern): each round anti-joins the selected set, takes the max
    candidate-to-selected sim, and argmaxes the integer objective."""
    out = []
    for t in range(2, k_select + 1):
        p = t - 1
        out.append(f"""
ms{t} AS (
    SELECT r.query_id, r.vec_id, r.rel_q, MAX(p.sim_q) AS msim
    FROM cand r
    JOIN cpairs p ON p.query_id = r.query_id AND p.ca = r.vec_id
    JOIN selu{p} s ON s.query_id = p.query_id AND s.vec_id = p.cb
    WHERE NOT EXISTS (
        SELECT 1 FROM selu{p} z
        WHERE z.query_id = r.query_id AND z.vec_id = r.vec_id
    )
    GROUP BY 1, 2, 3
),
pick{t} AS (
    SELECT query_id, vec_id, rel_q, mmr_q FROM (
        SELECT query_id, vec_id, rel_q,
               {lam} * rel_q - {10 - lam} * msim AS mmr_q,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {lam} * rel_q - {10 - lam} * msim
                                           DESC, vec_id) AS rn
        FROM ms{t}
    ) WHERE rn = 1
),
selu{t} AS (
    SELECT * FROM selu{p}
    UNION ALL
    SELECT query_id, vec_id, rel_q, mmr_q, {t} AS rank FROM pick{t}
)""")
    return ",".join(out)


MMR1_SQL = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qe FROM embeddings
    WHERE vec_id IN (0, 1, 2)
), pairsr AS (
    SELECT q.query_id, e.vec_id,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='q.qe')}) AS dot,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='e.embedding')}) AS na,
           SUM({_QE.format(v='q.qe')} * {_QE.format(v='q.qe')}) AS nb
    FROM embeddings e, q, range(1, 65) t(i)
    GROUP BY 1, 2
), rel AS (
    SELECT query_id, vec_id,
           CAST(floor(CAST(dot AS DOUBLE)
                      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
                      * 1000000000 + 0.5) AS BIGINT) AS rel_q
    FROM pairsr WHERE na > 0 AND nb > 0
), cand AS (
    SELECT query_id, vec_id, rel_q,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel_q DESC, vec_id) AS rn
    FROM rel
    QUALIFY rn <= 8
), cpairs AS (
    SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb,
           CAST(floor(CAST(SUM({_QE.format(v='ea.embedding')}
                                * {_QE.format(v='eb.embedding')}) AS DOUBLE)
                      / (sqrt(CAST(SUM({_QE.format(v='ea.embedding')}
                                        * {_QE.format(v='ea.embedding')})
                                   AS DOUBLE))
                         * sqrt(CAST(SUM({_QE.format(v='eb.embedding')}
                                          * {_QE.format(v='eb.embedding')})
                                     AS DOUBLE)))
                      * 1000000000 + 0.5) AS BIGINT) AS sim_q
    FROM cand a
    JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id, range(1, 65) t(i)
    GROUP BY 1, 2, 3
), selu1 AS (
    SELECT query_id, vec_id, rel_q, 7 * rel_q AS mmr_q, 1 AS rank
    FROM cand WHERE rn = 1
),{_mmr_round_ctes(4)}
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       rel_q AS rel_q9, mmr_q AS mmr_q9
FROM selu4
ORDER BY query_id, rank
"""


def e4_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, full probe: probing every inverted list degenerates to
    exact brute force, so the IVF assign/probe/re-rank machinery is
    oracle-checked against the exact cosine SQL (same oracle family as
    e1); partial-probe recall is covered by tests."""
    from etl_oms_spark.operators.similarity import ivf_centroids_sample, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_centroids_sample(emb, k=8)
    query = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, query, cents, k=5, n_probe=8)


def e2_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (no oracle: approximate by design;
    the driver records a rows-only check, recall is asserted in tests)."""
    from etl_oms_spark.operators.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_lsh_topk(emb, query, k=5, num_planes=4)


def e3_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH bucket self-join (no oracle:
    bucket boundaries are hash-derived)."""
    from etl_oms_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    # testdata embeddings are isotropic noise (cos ~ N(0, 1/8)) — 0.35 sits
    # in the upper tail so the query returns a non-degenerate pair set
    return embedding_near_dup_pairs(emb, threshold=0.35, num_planes=4)


def m1_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through the contract: synthesize a binary media
    column from documents, decode typed metadata via Arrow-batched
    mapInPandas. The fake codec is deterministic (header-packed dims), so
    the oracle can predict every field from the text itself."""
    from etl_oms_spark.operators.multimodal import decode_media_metadata, with_media_column

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    decoded = decode_media_metadata(with_media_column(d))
    return decoded.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.channels").alias("channels"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


M1_SQL = """
SELECT doc_id,
       'image' AS media_type,
       CAST(length(text) % 256 AS INT) AS width,
       32 AS height,
       3 AS channels,
       CAST(13 + strlen(text) AS BIGINT) AS n_bytes
FROM documents
"""


def d5_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (|A∩B|/|A| ≥ 0.9): catches near-subset
    documents that symmetric Jaccard under-scores."""
    from etl_oms_spark.operators.dedup import containment_pairs

    return containment_pairs(_t(spark, sf_dir, "documents"), threshold=0.9, k=1)


D5_SQL = f"""
WITH raw_toks AS (
    SELECT DISTINCT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
    FROM documents
), toks AS (
    -- mirror the engine's max_df=1000 cap (see D2_SQL)
    SELECT doc_id, tok FROM raw_toks
    WHERE tok IN (SELECT tok FROM raw_toks GROUP BY tok HAVING COUNT(*) <= 1000)
), cnt AS (
    SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
), common AS (
    SELECT a.doc_id AS id_contained, b.doc_id AS id_container, COUNT(*) AS c
    FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT id_contained, id_container, CAST(c AS DOUBLE) / x.n AS containment
FROM common JOIN cnt x ON id_contained = x.doc_id
WHERE CAST(c AS DOUBLE) / x.n >= 0.9
"""


def t6_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate as a pure predicate (kept docs only)."""
    from etl_oms_spark.operators.text import quality_filter

    d = _t(spark, sf_dir, "documents")
    return quality_filter(
        d, min_tokens=30, max_tokens=120, max_punct_ratio=0.05,
        min_stopword_ratio=0.02,
    ).select("doc_id", "n_chars")


T6_SQL = f"""
SELECT doc_id, n_chars
FROM documents
WHERE {_WS} BETWEEN 30 AND 120
  AND CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
      / greatest(length(text), 1) <= 0.05
  AND CAST(len(regexp_extract_all(lower(text),
        '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS DOUBLE)
      / greatest({_WS}, 1) >= 0.02
"""


def sp1_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-stable train/test split sizes per language. Uses the portable
    md5 bucket (operators/sampling._md5_bucket) so membership is
    reproducible in ANY engine — the DuckDB oracle recomputes the exact
    same buckets (xxhash64 remains the cheap default for in-Spark-only
    splits)."""
    from etl_oms_spark.operators.sampling import _md5_bucket

    d = _t(spark, sf_dir, "documents")
    # single pass: the two-frame split form scans the corpus once per
    # side; the bucket-column form is one scan + one conditional agg
    # (identical membership — same md5 bucket rule)
    is_test = _md5_bucket(F.col("doc_id"), "split") < F.lit(200_000)
    return (
        d.groupBy("lang")
        .agg(
            F.sum(F.when(~is_test, 1).otherwise(0)).alias("n_train"),
            F.sum(F.when(is_test, 1).otherwise(0)).alias("n_test"),
        )
    )


def sp2_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing / stratified sampling: per-source keep rates applied
    with a hash-stable, partitioning-independent keep decision — the
    standard corpus-mixing primitive (downweight a crawl source, keep all
    of a curated one). Portable md5 buckets so the DuckDB oracle recomputes
    identical membership (operators/sampling.stratified_sample)."""
    from etl_oms_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
    kept = stratified_sample(
        d, "source", rates, key_col="doc_id", default_rate=0.05, method="md5"
    )
    return kept.select("doc_id", "source", "n_chars")


SP2_SQL = """
SELECT doc_id, source, n_chars
FROM documents
WHERE CAST('0x' || substring(md5('strata|' || CAST(doc_id AS VARCHAR)), 1, 15)
           AS BIGINT) % 1000000
      < CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
                    WHEN 'src2' THEN 250000 WHEN 'src3' THEN 100000
                    ELSE 50000 END
"""


SP1_SQL = """
WITH b AS (
    SELECT lang,
           CAST('0x' || substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) % 1000000 AS bucket
    FROM documents
)
SELECT lang,
       CAST(COALESCE(SUM(CASE WHEN bucket >= 200000 THEN 1 END), 0) AS BIGINT) AS n_train,
       CAST(COALESCE(SUM(CASE WHEN bucket < 200000 THEN 1 END), 0) AS BIGINT) AS n_test
FROM b
GROUP BY lang
"""


def tp1_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data curation composition: quality gate → exact
    dedup → MinHash near-dedup → annotation → hash-stable split, reported
    as per-(split, predicted-language) counts (rows-only: membership
    depends on engine-side xxhash; determinism pinned by tests)."""
    from etl_oms_spark.plans.training_pipeline import curate_documents_with_split

    docs = _t(spark, sf_dir, "documents")
    curated = curate_documents_with_split(
        docs, min_tokens=20, near_dup_threshold=0.7
    )
    return curated.groupBy("split", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_tokens"),
    )


# keep the SQL marker lists in lockstep with LANG_MARKERS
def _build_t3_sql() -> str:
    from etl_oms_spark.operators.text import LANG_MARKERS

    codes = sorted(LANG_MARKERS)
    hits = {c: _lang_hits_sql(LANG_MARKERS[c]) for c in codes}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    case = " ".join(
        f"WHEN {hits[c]} = {best} THEN '{c}'" for c in codes
    )
    return f"""
SELECT doc_id, lang,
       CASE WHEN {best} = 0 THEN 'und' ELSE (CASE {case} END) END AS lang_pred
FROM documents
"""


T3_SQL = _build_t3_sql()


# ---------------------------------------------------------------------------
# training-data curation round 2: repetition stats, PII scrub, shard
# shuffle, sequence packing, benchmark decontamination


def t7_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style word-repetition quality signals per document: explode →
    two map-side-combined hash aggregates, no UDF (operators/text.py:
    repetition_stats)."""
    from etl_oms_spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


T7_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
    FROM documents
), pw AS (
    SELECT doc_id, tok, COUNT(*) AS n
    FROM toks WHERE tok <> '' GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(n) AS BIGINT) AS total_words,
       CAST(COUNT(*) AS BIGINT) AS distinct_words,
       CAST(MAX(n) AS BIGINT) AS top_word_count,
       CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS top_word_fraction,
       1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS dup_word_fraction
FROM pw
GROUP BY doc_id
"""


def t8_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII scrub (emails / IPv4 / phone numbers): regexp_count +
    chained regexp_replace, zero shuffle. The synthetic corpus carries no
    PII, so the query plants a deterministic email+phone per doc first —
    the oracle plants the identical strings and recomputes the identical
    Java∩RE2 regexes (operators/text.py:redact_pii)."""
    from etl_oms_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 867-530"),
            (F.col("doc_id") % 10).cast("string"),
        ).alias("text"),
    )
    out = redact_pii(d)
    return out.select(
        "doc_id", "n_redactions", F.length("text").alias("clean_len")
    )


T8_SQL = r"""
WITH aug AS (
    SELECT doc_id,
           text || ' contact doc' || CAST(doc_id AS VARCHAR)
                || '@example.com or +1 (555) 867-530'
                || CAST(doc_id % 10 AS VARCHAR) AS text
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          + len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
          + len(regexp_extract_all(text, '\+[0-9][0-9() .-]{7,}[0-9]')) AS BIGINT) AS n_redactions,
       CAST(length(
           regexp_replace(
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<REDACTED>', 'g'),
                   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<REDACTED>', 'g'),
               '\+[0-9][0-9() .-]{7,}[0-9]', '<REDACTED>', 'g')
       ) AS INTEGER) AS clean_len
FROM aug
"""


def sh1_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-data shuffle: portable md5 ordering into
    shards + per-shard positions; windows partition BY SHARD, never a
    global sort (operators/sampling.py:deterministic_shuffle)."""
    from etl_oms_spark.operators.sampling import deterministic_shuffle

    d = _t(spark, sf_dir, "documents")
    return deterministic_shuffle(d, num_shards=8).select("doc_id", "shard", "pos")


SH1_SQL = """
WITH h AS (
    SELECT doc_id, md5('shuffle|' || CAST(doc_id AS VARCHAR)) AS hex
    FROM documents
)
SELECT doc_id,
       CAST(CAST('0x' || substring(hex, 1, 15) AS BIGINT) % 8 AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY CAST('0x' || substring(hex, 1, 15) AS BIGINT) % 8
           ORDER BY hex, doc_id
       ) - 1 AS BIGINT) AS pos
FROM h
"""


def pk1_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing over the sharded shuffle order: running
    token cumsum per shard → seq_id = floor(start_offset / budget). The
    scale path: shard first, pack each shard independently
    (operators/sampling.py:pack_sequences)."""
    from etl_oms_spark.operators.sampling import (
        deterministic_shuffle,
        pack_sequences,
    )
    from etl_oms_spark.operators.text import whitespace_token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", whitespace_token_count("text").alias("n_tokens")
    )
    sharded = deterministic_shuffle(d, num_shards=8)
    packed = pack_sequences(
        sharded, "n_tokens", budget=2048, order_col="pos", shard_col="shard"
    )
    return packed.select("doc_id", "shard", "seq_id")


PK1_SQL = r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN length(norm) = 0 THEN 0
                ELSE len(regexp_split_to_array(norm, ' ')) END AS n_tokens
    FROM (
        SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        FROM documents
    )
), s AS (
    SELECT doc_id, n_tokens,
           CAST(CAST('0x' || substring(hex, 1, 15) AS BIGINT) % 8 AS INTEGER) AS shard,
           ROW_NUMBER() OVER (
               PARTITION BY CAST('0x' || substring(hex, 1, 15) AS BIGINT) % 8
               ORDER BY hex, doc_id
           ) - 1 AS pos
    FROM (SELECT doc_id, n_tokens,
                 md5('shuffle|' || CAST(doc_id AS VARCHAR)) AS hex FROM t)
)
SELECT doc_id, shard,
       CAST(FLOOR(
           (SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos) - n_tokens)
           / 2048.0
       ) AS BIGINT) AS seq_id
FROM s
"""


def cx1_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any word 5-shingle
    with the (broadcast) eval slice — explode + left-semi join, one corpus
    scan, no corpus shuffle (operators/dedup.py:contamination_ids). The
    eval slice here is every 97th doc, standing in for a held-out
    benchmark."""
    from etl_oms_spark.operators.dedup import contamination_ids

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contamination_ids(corpus, bench, k=5)


CX1_SQL = r"""
WITH norm AS (
    SELECT doc_id,
           regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS arr
    FROM documents
), sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(arr) - 4, 1) + 1),
               i -> array_to_string(arr[i:i+4], ' ')))) AS sh
    FROM norm
)
SELECT DISTINCT doc_id
FROM sh
WHERE doc_id % 97 <> 0
  AND sh IN (SELECT sh FROM sh WHERE doc_id % 97 = 0)
"""


def d6_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with the portable md5-derived 60-bit token hash — identical
    plan shape to d4 (distinct-token pre-agg, 60 conditional sums) but the
    fingerprint is recomputable in ANY engine, so this one gets an EXACT
    oracle (d4 keeps the faster xxhash64 production default)."""
    from etl_oms_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), bits=60, hash_method="md5")


def _build_d6_sql(bits: int = 60) -> str:
    h = "CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT)"
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN n ELSE -n END) AS b{b}"
        for b in range(bits)
    )
    fingerprint = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
    FROM documents
), hashed AS (
    SELECT doc_id, {h} AS h, COUNT(*) AS n
    FROM toks GROUP BY doc_id, {h}
), sums AS (
    SELECT doc_id,
           {bit_sums}
    FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({fingerprint} AS BIGINT) AS simhash FROM sums
"""


D6_SQL = _build_d6_sql()


def d7_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs over md5-based 32-bit minhash signatures
    — the same universal-hash derivation and banding as d3, but every
    stage is recomputable in DuckDB, so the pair set gets an EXACT oracle
    (d3 keeps the xxhash64 production default; its banding curve is
    identical)."""
    from etl_oms_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(
        _t(spark, sf_dir, "documents"), hash_method="md5"
    )
    return lsh_candidate_pairs(sigs, hash_method="md5")


def _build_d7_sql(num_hashes: int = 64, bands: int = 16, k: int = 3) -> str:
    from etl_oms_spark.operators.dedup import _minhash_params

    prime = (1 << 31) - 1
    mins = ",\n           ".join(
        "MIN((h32 * {a} + {b}) % {p}) AS h{j}".format(
            a=_minhash_params(j)[0], b=_minhash_params(j)[1], p=prime, j=j
        )
        for j in range(num_hashes)
    )
    r = num_hashes // bands
    band_strs = ",\n               ".join(
        "'{b},' || ".format(b=b)
        + " || ',' || ".join(f"CAST(h{b * r + i} AS VARCHAR)" for i in range(r))
        for b in range(bands)
    )
    return f"""norm AS (
    SELECT doc_id,
           regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS arr
    FROM documents
), sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(arr) - {k - 1}, 1) + 1),
               i -> array_to_string(arr[i:i+{k - 1}], ' ')))) AS s
    FROM norm
), hashed AS (
    SELECT doc_id, CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) AS h32
    FROM sh
), sig AS (
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id
), bands AS (
    SELECT doc_id,
           unnest([{band_strs}]) AS bk
    FROM sig
)"""


_D7_FINAL = """
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
"""


D7_SQL = "WITH " + _build_d7_sql() + _D7_FINAL


_COMP_SQL = (
    "(CAST('0x' || substring(md5(CAST({p} AS VARCHAR) || '|' || "
    "CAST(i - 1 AS VARCHAR)), 1, 15) AS BIGINT) % 1000000) - 500000"
)


def _bucket_cte_sql(num_planes: int = 4) -> str:
    """Shared oracle CTE: portable LSH bucket per vector — md5-derived
    integer hyperplanes (same derivation rule as
    similarity.hyperplane_components), exact integer projection, sign-bit
    bucket."""
    comp = _COMP_SQL.format(p="p")
    bits = " + ".join(
        f"MAX(CASE WHEN p = {p} AND pr > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(num_planes)
    )
    quant = "CAST(round(CAST(e.embedding[c.i] AS DOUBLE) * 1000000) AS BIGINT)"
    return f"""
comp AS (
    SELECT p, i, {comp} AS c
    FROM range(0, {num_planes}) pl(p), range(1, 65) t(i)
), proj AS (
    SELECT e.vec_id, c.p, SUM({quant} * c.c) AS pr
    FROM embeddings e, comp c
    GROUP BY e.vec_id, c.p
), bucket AS (
    SELECT vec_id, CAST({bits} AS BIGINT) AS bk
    FROM proj GROUP BY vec_id
)"""


def e5_ann_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with portable md5-derived integer hyperplanes — identical
    bucket assignment in any engine, so the approximate result set itself
    gets an EXACT oracle (e2 keeps the xxhash64 production default)."""
    from etl_oms_spark.operators.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_lsh_topk(
        emb, query, k=5, num_planes=4, hash_method="md5", dim=64
    )


def e6_neardup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs over portable LSH buckets + exact
    quantized cosine — fully reproducible in DuckDB, hence an EXACT
    oracle for the bucket self-join + threshold filter."""
    from etl_oms_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=0.35, num_planes=4, hash_method="md5", dim=64
    )


E5_SQL = f"""
WITH {_bucket_cte_sql(4)},
q AS (
    SELECT b.vec_id AS query_id, e.embedding AS qe, b.bk
    FROM bucket b JOIN embeddings e ON b.vec_id = e.vec_id
    WHERE b.vec_id IN (0, 1)
), pairs AS (
    SELECT q.query_id, e.vec_id,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='q.qe')}) AS dot,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='e.embedding')}) AS na,
           SUM({_QE.format(v='q.qe')} * {_QE.format(v='q.qe')}) AS nb
    FROM embeddings e
    JOIN bucket be ON e.vec_id = be.vec_id
    JOIN q ON be.bk = q.bk, range(1, 65) t(i)
    GROUP BY 1, 2
), scored AS (
    SELECT query_id, vec_id,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
    FROM pairs
)
SELECT query_id, vec_id, cosine
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
    FROM scored
) WHERE rn <= 5
"""


E6_SQL = f"""
WITH {_bucket_cte_sql(4)},
v AS (
    SELECT b.vec_id, e.embedding, b.bk
    FROM bucket b JOIN embeddings e ON b.vec_id = e.vec_id
), pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           SUM({_QE.format(v='a.embedding')} * {_QE.format(v='b.embedding')}) AS dot,
           SUM({_QE.format(v='a.embedding')} * {_QE.format(v='a.embedding')}) AS na,
           SUM({_QE.format(v='b.embedding')} * {_QE.format(v='b.embedding')}) AS nb
    FROM v a JOIN v b ON a.bk = b.bk AND a.vec_id < b.vec_id, range(1, 65) t(i)
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
FROM pairs
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.35
"""


def d8_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (16→8-word block) exact dedup with reassembly: keep the
    globally-first occurrence of every distinct block, rebuild documents
    from surviving blocks (operators/dedup.block_dedup). Pure string
    algebra on both engines → exact oracle."""
    from etl_oms_spark.operators.dedup import block_dedup

    return block_dedup(_t(spark, sf_dir, "documents"), block_words=8)


D8_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
),
base AS (
    SELECT doc_id, toks,
           CAST(greatest(ceil(len(toks) / 8.0), 1) AS BIGINT) AS n_blocks
    FROM t
),
blocks AS (
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           array_to_string(list_slice(toks, (i - 1) * 8 + 1, i * 8), ' ') AS block
    FROM base, LATERAL unnest(range(1, n_blocks + 1)) u(i)
),
winners AS (
    SELECT block, (min(struct_pack(d := doc_id, p := pos))).d AS wd,
           (min(struct_pack(d := doc_id, p := pos))).p AS wp
    FROM blocks GROUP BY block
),
kept AS (
    SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           string_agg(b.block, ' ' ORDER BY b.pos) AS kept_text
    FROM blocks b JOIN winners w
      ON b.block = w.block AND b.doc_id = w.wd AND b.pos = w.wp
    GROUP BY b.doc_id
)
SELECT base.doc_id, base.n_blocks,
       COALESCE(k.n_kept, 0) AS n_kept,
       COALESCE(k.kept_text, '') AS kept_text
FROM base LEFT JOIN kept k ON base.doc_id = k.doc_id
"""


def ts1_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text BM25 top-k search over documents: inverted-index tf
    (terms filtered pre-shuffle), broadcast df + corpus stats, per-term
    scores quantized to exact 1e-6 integers BEFORE the per-doc sum so the
    aggregate is order-independent and bit-identical on both engines
    (operators/search.bm25_topk)."""
    from etl_oms_spark.operators.search import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        ["join", "hash", "window", "spark"],
        k=25,
    )


_BM25_TERMS = "('join', 'hash', 'window', 'spark')"

TS1_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
gstats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_len
    FROM dl
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN {_BM25_TERMS}
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id,
           CAST(floor(
             ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
             * CAST(tf * 880 * total_len AS DOUBLE)
             / CAST(tf * 400 * total_len + 120 * total_len
                    + 360 * dl.dl * n_docs AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS term_q
    FROM tf
    JOIN dfreq USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN gstats
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(SUM(term_q) AS BIGINT) AS score_q,
       CAST(SUM(term_q) AS BIGINT) / 1000000.0 AS score
FROM scored
GROUP BY doc_id
ORDER BY score_q DESC, doc_id
LIMIT 25
"""


def kw1_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: argmax TF-IDF term per doc
    (min(struct(-tfidf, term)) — deterministic tie-break on term), from
    the sparse TF-IDF postings (operators/search.tfidf_vectors)."""
    from etl_oms_spark.operators.search import tfidf_vectors

    v = tfidf_vectors(_t(spark, sf_dir, "documents"))
    best = v.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("tfidf_q")).alias("n"), F.col("term").alias("t"))).alias("b")
    )
    return best.select(
        "doc_id",
        F.col("b.t").alias("top_term"),
        (-F.col("b.n")).cast("long").alias("tfidf_q"),
    )


KW1_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
v AS (
    SELECT tf.doc_id, tf.term,
           CAST(floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000 + 0.5)
                AS BIGINT) AS tfidf_q
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
best AS (
    SELECT doc_id, min(struct_pack(n := -tfidf_q, t := term)) AS b
    FROM v GROUP BY doc_id
)
SELECT doc_id, b.t AS top_term, CAST(-b.n AS BIGINT) AS tfidf_q FROM best
"""


def v1_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary heavy hitters: (term, tf, df) in one
    map-side-combined aggregation (df via partial count-distinct on
    doc_id — no second shuffle), deterministic top-100 cut
    (operators/vocab.vocab_topk)."""
    from etl_oms_spark.operators.vocab import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=100)


V1_SQL = f"""
SELECT term, CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
    FROM documents
)
GROUP BY term
ORDER BY tf DESC, term
LIMIT 100
"""


def v2_bigram_merge_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate ranking: adjacent-token-pair frequencies built
    inside the token array (zip with tail — exactly len-1 rows per doc),
    one count shuffle, deterministic top-50 (operators/vocab.bigram_topk)."""
    from etl_oms_spark.operators.vocab import bigram_topk

    return bigram_topk(_t(spark, sf_dir, "documents"), k=50)


V2_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
)
SELECT t[i] || ' ' || t[i + 1] AS pair, CAST(COUNT(*) AS BIGINT) AS n
FROM toks, LATERAL unnest(range(1, len(t))) u(i)
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 50
"""


def cv1_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab-size selection curve: cumulative corpus-token coverage of the
    top-200 terms; the running-sum window runs over the 200-row head
    only, never the corpus (operators/vocab.coverage_curve)."""
    from etl_oms_spark.operators.vocab import coverage_curve

    return coverage_curve(_t(spark, sf_dir, "documents"), top=200)


CV1_SQL = f"""
WITH counts AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (
        SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    )
    GROUP BY term
),
total AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM counts),
head AS (SELECT term, tf FROM counts ORDER BY tf DESC, term LIMIT 200)
SELECT CAST(row_number() OVER w AS BIGINT) AS rank, term, tf,
       CAST(SUM(tf) OVER w AS BIGINT) AS cum_tf,
       CAST(SUM(tf) OVER w AS BIGINT) / CAST(total AS DOUBLE) AS coverage
FROM head CROSS JOIN total
WINDOW w AS (ORDER BY tf DESC, term ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)
"""


def e7_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means over embeddings (k=8, 2 iterations): broadcast-style
    inlined centroids, one assign scan + one posexplode partial-sum shuffle
    per iteration (operators/clustering.kmeans_fit). All arithmetic is
    exact shifted-integer, so the DuckDB recursive-CTE oracle recomputes
    bit-identical centroids, assignments and distances."""
    from etl_oms_spark.operators.clustering import kmeans_assign, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, n_iter=2)
    return kmeans_assign(emb, cents).select(
        "vec_id", F.col("cluster").cast("int").alias("cluster"), "dist2"
    )


def sd1_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means cluster (k=8, 2
    Lloyd iterations), then exact quantized cosine over pairs WITHIN each
    cluster only — Σ cluster² pair generation, the data-adaptive analogue
    of LSH bucketing (operators/clustering.semantic_dedup_pairs)."""
    from etl_oms_spark.operators.clustering import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(emb, k=8, n_iter=2, threshold=0.35).select(
        "id_a", "id_b", F.col("cluster").cast("int").alias("cluster"), "cosine"
    )


def _kmeans_dist_sql(vec: str, cent: str) -> str:
    """Exact squared-L2 between two quantized BIGINT lists (lambda touches
    only its own parameter — outer columns enter via list_zip)."""
    return (
        f"list_sum(list_transform(list_zip({vec}, {cent}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )


def _kmeans_cte_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Recursive-CTE Lloyd k-means matching operators/clustering exactly:
    quantize+shift → seed = k lowest ids → per-iteration argmin assignment
    (struct min = (dist, cluster) lexicographic, low-cluster tie-break) →
    exact half-up integer mean ``(2s + n) // (2n)``; empty clusters keep
    their previous centroid. Yields CTEs ``q`` (vec_id, qv) and ``it``
    (iter, cents)."""
    d = _kmeans_dist_sql("q.qv", "it.cents[g2.cid + 1]")
    return f"""
q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 1000000) AS qv
  FROM embeddings
),
seed AS (
  SELECT list(qv ORDER BY vec_id) AS cents
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {k})
),
it AS (
  SELECT 0 AS iter, cents FROM seed
  UNION ALL
  SELECT it.iter + 1,
    (SELECT list(COALESCE(nc.newc, it.cents[g.cid + 1]) ORDER BY g.cid)
     FROM generate_series(0, {k - 1}) g(cid)
     LEFT JOIN (
       SELECT cid, list(c ORDER BY j) AS newc
       FROM (
         SELECT cid, j, (2 * SUM(qv[j]) + COUNT(*)) // (2 * COUNT(*)) AS c
         FROM (
           SELECT vec_id, qv, (min(struct_pack(d := d, c := cid))).c AS cid
           FROM (
             SELECT q.vec_id, q.qv, g2.cid, {d} AS d
             FROM q CROSS JOIN generate_series(0, {k - 1}) g2(cid)
           )
           GROUP BY vec_id, qv
         ) a, generate_series(1, {dim}) t(j)
         GROUP BY cid, j
       )
       GROUP BY cid
     ) nc ON nc.cid = g.cid
    )
  FROM it WHERE it.iter < {iters}
),
final_assign AS (
  SELECT vec_id, (min(struct_pack(d := d, c := cid))).c AS cluster,
         (min(struct_pack(d := d, c := cid))).d AS dist2
  FROM (
    SELECT q.vec_id, g.cid,
           {_kmeans_dist_sql("q.qv", "f.cents[g.cid + 1]")} AS d
    FROM q, (SELECT cents FROM it WHERE iter = {iters}) f,
         generate_series(0, {k - 1}) g(cid)
  )
  GROUP BY vec_id
)"""


E7_SQL = f"""
WITH RECURSIVE {_kmeans_cte_sql(8, 2)}
SELECT vec_id, CAST(cluster AS INT) AS cluster, CAST(dist2 AS BIGINT) AS dist2
FROM final_assign
"""


SD1_SQL = f"""
WITH RECURSIVE {_kmeans_cte_sql(8, 2)},
v AS (
    SELECT f.vec_id, f.cluster, e.embedding
    FROM final_assign f JOIN embeddings e ON f.vec_id = e.vec_id
), pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
           SUM({_QE.format(v='a.embedding')} * {_QE.format(v='b.embedding')}) AS dot,
           SUM({_QE.format(v='a.embedding')} * {_QE.format(v='a.embedding')}) AS na,
           SUM({_QE.format(v='b.embedding')} * {_QE.format(v='b.embedding')}) AS nb
    FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id,
         range(1, 65) t(i)
    GROUP BY 1, 2, 3
)
SELECT id_a, id_b, CAST(cluster AS INT) AS cluster,
       CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
FROM pairs
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.35
"""


def cl1_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster curation diagnostics over the k-means assignment:
    size, exact dist2 sum, prototype (min-dist2 member, id tie-break),
    and members the exact-integer `dist2·n > 2·Σdist2` outlier rule
    would prune (operators/clustering.cluster_stats)."""
    from etl_oms_spark.operators.clustering import (
        cluster_stats,
        kmeans_assign,
        kmeans_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, kmeans_fit(emb, k=8, n_iter=2))
    return cluster_stats(assigned).select(
        F.col("cluster").cast("int").alias("cluster"),
        "n",
        "sum_dist2",
        "prototype_id",
        "prototype_dist2",
        "n_outliers",
    )


CL1_SQL = f"""
WITH RECURSIVE {_kmeans_cte_sql(8, 2)},
per AS (
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dist2) AS BIGINT) AS sum_dist2,
           (min(struct_pack(d := dist2, i := vec_id))).i AS prototype_id,
           (min(struct_pack(d := dist2, i := vec_id))).d AS prototype_dist2
    FROM final_assign GROUP BY cluster
),
outl AS (
    SELECT f.cluster, CAST(COUNT(*) AS BIGINT) AS n_outliers
    FROM final_assign f JOIN per p ON f.cluster = p.cluster
    WHERE f.dist2 * p.n > 2 * p.sum_dist2
    GROUP BY f.cluster
)
SELECT CAST(per.cluster AS INT) AS cluster, per.n, per.sum_dist2,
       per.prototype_id, CAST(per.prototype_dist2 AS BIGINT) AS prototype_dist2,
       COALESCE(o.n_outliers, 0) AS n_outliers
FROM per LEFT JOIN outl o ON per.cluster = o.cluster
"""


def ds1_domain_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scoring (arXiv 2302.03169, unigram variant):
    target slice = doc_id % 97 == 0 (the cx1 eval-slice convention), raw
    = the rest; per-term add-1-smoothed ln(p_target/p_raw) quantized to
    1e-6 BIGINT weights, per-doc score = exact Σ tf·w_q
    (operators/domain.dsir_scores)."""
    from etl_oms_spark.operators.domain import domain_log_ratios, dsir_scores

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 97 == 0)
    raw = docs.filter(F.col("doc_id") % 97 != 0)
    return dsir_scores(docs, domain_log_ratios(target, raw))


DS1_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
    FROM documents
),
ct AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS ct FROM tok
       WHERE doc_id % 97 = 0 GROUP BY term),
cr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cr FROM tok
       WHERE doc_id % 97 <> 0 GROUP BY term),
merged AS (
    SELECT COALESCE(ct.term, cr.term) AS term,
           COALESCE(ct, 0) AS ct, COALESCE(cr, 0) AS cr
    FROM ct FULL OUTER JOIN cr ON ct.term = cr.term
),
stats AS (
    SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr,
           CAST(COUNT(*) AS BIGINT) AS v
    FROM merged
),
w AS (
    SELECT term,
           CAST(floor(
             ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE)
                * CAST(nr + v AS DOUBLE) / CAST(cr + 1 AS DOUBLE))
             * 1000000 + 0.5) AS BIGINT) AS w_q
    FROM merged CROSS JOIN stats
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, term
),
per_doc AS (
    SELECT tf.doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * COALESCE(w.w_q, 0)) AS BIGINT) AS score_q
    FROM tf LEFT JOIN w ON tf.term = w.term
    GROUP BY tf.doc_id
)
SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.score_q, 0) AS score_q,
       COALESCE(p.score_q, 0) / 1000000.0 AS score
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def cc1_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster extraction: iterative min-label connected
    components (operators/graph.connected_components, localCheckpoint
    per round) over the portable md5 MinHash-LSH candidate pairs, plus
    per-cluster sizes. The DuckDB oracle recomputes the SAME pairs (d7's
    CTEs) and closes them with a recursive reachability CTE — an EXACT
    oracle for an iterative graph algorithm."""
    from etl_oms_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from etl_oms_spark.operators.graph import connected_components

    sigs = minhash_signatures(_t(spark, sf_dir, "documents"), hash_method="md5")
    pairs = lsh_candidate_pairs(sigs, hash_method="md5")
    comp = connected_components(pairs)
    # cluster size as a window count, not groupBy+self-join: the join
    # form re-derived comp's star-rollup+left-join subtree once per side
    # (r14 plan audit); the window is one exchange over the node-sized
    # label table (guide §2.4)
    return comp.select(
        F.col("id").alias("doc_id"),
        "component",
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .cast("long")
        .alias("cluster_size"),
    )


CC1_SQL = (
    "WITH RECURSIVE "
    + _build_d7_sql()
    + ""","""
    + """
pairs AS ({_final}),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS id FROM edges),
reach AS (
    SELECT id, id AS r FROM nodes
    UNION
    SELECT e.u AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.v
),
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY component)
SELECT comp.id AS doc_id, comp.component, sizes.cluster_size
FROM comp JOIN sizes ON comp.component = sizes.component
""".format(_final=_D7_FINAL.strip())
)


def fn1_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user: single-shuffle
    JVM-side fold over each user's time-sorted events (F.aggregate with
    an array<timestamp> accumulator — no UDF); step i counts only
    strictly after step i-1 (operators/stateful.funnel)."""
    from etl_oms_spark.operators.stateful import funnel

    return funnel(
        _events(spark, sf_dir), ["view", "click", "purchase"]
    ).select(
        "user_id",
        "t_view",
        "t_click",
        "t_purchase",
        F.col("stage").cast("int").alias("stage"),
    )


FN1_SQL = """
WITH ev AS (
    SELECT user_id, ts, event_type FROM events
    WHERE event_type IN ('view', 'click', 'purchase')
),
v AS (SELECT user_id, MIN(ts) AS t_view FROM ev
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT ev.user_id, MIN(ev.ts) AS t_click
      FROM ev JOIN v ON ev.user_id = v.user_id
      WHERE ev.event_type = 'click' AND ev.ts > v.t_view
      GROUP BY ev.user_id),
p AS (SELECT ev.user_id, MIN(ev.ts) AS t_purchase
      FROM ev JOIN c ON ev.user_id = c.user_id
      WHERE ev.event_type = 'purchase' AND ev.ts > c.t_click
      GROUP BY ev.user_id)
SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
       CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                 WHEN c.t_click IS NOT NULL THEN 2
                 WHEN v.t_view IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS stage
FROM (SELECT DISTINCT user_id FROM ev) u
LEFT JOIN v ON u.user_id = v.user_id
LEFT JOIN c ON u.user_id = c.user_id
LEFT JOIN p ON u.user_id = p.user_id
"""


def pp1_lm_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style fluency scoring (arXiv 1911.00359) via a self-trained
    add-1 bigram LM: per-bigram quantized log probs, exact BIGINT per-doc
    sum, length-normalized avg (operators/domain.bigram_lm_scores)."""
    from etl_oms_spark.operators.domain import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


PP1_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
uni AS (
    SELECT term AS w1, CAST(COUNT(*) AS BIGINT) AS c1
    FROM (SELECT unnest(t) AS term FROM toks) GROUP BY term
),
vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
bi AS (
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS c2
    FROM (
        SELECT t[i] || ' ' || t[i + 1] AS pair
        FROM toks, LATERAL unnest(range(1, len(t))) u(i)
    ) GROUP BY pair
),
doc_pairs AS (
    SELECT doc_id, pair, CAST(COUNT(*) AS BIGINT) AS tf,
           string_split(pair, ' ')[1] AS w1
    FROM (
        SELECT doc_id, t[i] || ' ' || t[i + 1] AS pair
        FROM toks, LATERAL unnest(range(1, len(t))) u(i)
    ) GROUP BY doc_id, pair
),
scored AS (
    SELECT dp.doc_id, dp.tf,
           CAST(floor(
             ln(CAST(COALESCE(bi.c2, 0) + 1 AS DOUBLE)
                / CAST(COALESCE(uni.c1, 0) + vv.v AS DOUBLE))
             * 1000000 + 0.5) AS BIGINT) AS w_q
    FROM doc_pairs dp
    LEFT JOIN bi ON dp.pair = bi.pair
    LEFT JOIN uni ON dp.w1 = uni.w1
    CROSS JOIN vv
),
per_doc AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(tf * w_q) AS BIGINT) AS logprob_q
    FROM scored GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(p.n_bigrams, 0) AS n_bigrams,
       COALESCE(p.logprob_q, 0) AS logprob_q,
       p.logprob_q / (p.n_bigrams * 1000000.0) AS avg_logprob
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def qc1_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality scoring: portable md5 feature
    buckets (B=1024), broadcast integer weight table, exact BIGINT margin
    Σ tf·w_q per doc (operators/classifier.linear_scores). Weights here
    are the deterministic synthetic stand-in — swapping in a trained
    export is a one-DataFrame change, same plan."""
    from etl_oms_spark.operators.classifier import linear_scores, synthetic_weights

    docs = _t(spark, sf_dir, "documents")
    return linear_scores(docs, synthetic_weights(spark, 1024), n_buckets=1024)


QC1_SQL = f"""
WITH w AS (
    SELECT bucket,
           (CAST('0x' || substring(md5('w|' || CAST(bucket AS VARCHAR)), 1, 15)
                 AS BIGINT) % 21 - 10) * 1000000 AS w_q
    FROM (SELECT unnest(range(0, 1024)) AS bucket)
),
tok AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
    FROM documents
),
feats AS (
    SELECT doc_id,
           CAST('0x' || substring(md5('qc' || '|' || term), 1, 15) AS BIGINT)
             % 1024 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, term
),
feats2 AS (
    SELECT doc_id, bucket, CAST(SUM(tf) AS BIGINT) AS tf
    FROM feats GROUP BY doc_id, bucket
),
scored AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * w_q) AS BIGINT) AS margin_q
    FROM feats2 JOIN w USING (bucket)
    GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens,
       COALESCE(s.margin_q, 0) AS margin_q,
       COALESCE(s.margin_q, 0) / 1000000.0 AS margin
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


def mx1_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-assembly mix planning: per-source token availability vs a
    target mix under a 20k-token budget — desired/planned tokens, exact
    sampling rate, oversubscription flag
    (operators/sampling.mix_plan)."""
    from etl_oms_spark.operators.sampling import mix_plan

    docs = _t(spark, sf_dir, "documents")
    targets = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    return mix_plan(docs, targets, budget_tokens=20_000)


MX1_SQL = f"""
WITH per AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN length({_NORM_SQL}) = 0 THEN 0
                    ELSE len(string_split({_NORM_SQL}, ' ')) END) AS BIGINT)
             AS n_tokens
    FROM documents GROUP BY source
),
plan AS (
    SELECT *,
           CAST(floor(CASE source WHEN 'src0' THEN 400000
                                  WHEN 'src1' THEN 300000
                                  WHEN 'src2' THEN 200000
                                  WHEN 'src3' THEN 100000
                                  ELSE 0 END * CAST(20000 AS BIGINT)
                    / 1000000.0) AS BIGINT)
             AS desired_tokens
    FROM per
)
SELECT source, n_docs, n_tokens, desired_tokens,
       least(desired_tokens, n_tokens) AS planned_tokens,
       least(desired_tokens, n_tokens) / CAST(n_tokens AS DOUBLE) AS rate,
       desired_tokens > n_tokens AS oversubscribed
FROM plan
"""


def tp2_curation_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation pipeline with portable hashes (md5 near-dedup
    signatures + md5 split buckets): gate → exact dedup → MinHash-LSH
    greedy near-dedup → annotate → split, reported per (split,
    lang_pred). Every stage is recomputable in DuckDB, so the END-TO-END
    pipeline membership gets an exact oracle — the strongest parity
    statement the engine makes (tp1 keeps the faster xxhash64 defaults)."""
    from etl_oms_spark.plans.training_pipeline import curate_documents_with_split

    docs = _t(spark, sf_dir, "documents")
    curated = curate_documents_with_split(
        docs, min_tokens=20, near_dup_threshold=0.7, hash_method="md5"
    )
    return curated.groupBy("split", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_tokens"),
    )


def _build_tp2_sql(
    min_tokens: int = 20,
    threshold: float = 0.7,
    test_rate: float = 0.05,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
) -> str:
    """DuckDB twin of the entire portable curation pipeline. Stages mirror
    plans/training_pipeline.curate_documents 1:1; hash derivations mirror
    operators/dedup (md5 variant) and operators/sampling._md5_bucket."""
    from etl_oms_spark.operators.dedup import _minhash_params
    from etl_oms_spark.operators.text import LANG_MARKERS

    prime = (1 << 31) - 1
    mins = ",\n           ".join(
        f"MIN((h32 * {_minhash_params(j)[0]} + {_minhash_params(j)[1]}) "
        f"% {prime}) AS h{j}"
        for j in range(num_hashes)
    )
    r = num_hashes // bands
    band_strs = ",\n               ".join(
        "'{b},' || ".format(b=b)
        + " || ',' || ".join(f"CAST(h{b * r + i} AS VARCHAR)" for i in range(r))
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    codes = sorted(LANG_MARKERS)
    hits = {c: _lang_hits_sql(LANG_MARKERS[c]) for c in codes}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    lang_case = (
        f"CASE WHEN {best} = 0 THEN 'und' ELSE (CASE "
        + " ".join(f"WHEN {hits[c]} = {best} THEN '{c}'" for c in codes)
        + " END) END"
    )
    cut = int(test_rate * 1_000_000)
    return f"""
WITH gated AS (
    SELECT doc_id, text FROM documents
    WHERE {_WS} BETWEEN {min_tokens} AND 100000
      AND CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
          / greatest(length(text), 1) <= 0.3
      AND CAST(len(regexp_extract_all(lower(text),
            '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS DOUBLE)
          / greatest({_WS}, 1) >= 0.01
), exact_keep AS (
    SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5({_NORM_SQL})
), corpus AS (
    SELECT g.doc_id, g.text FROM gated g JOIN exact_keep e ON g.doc_id = e.doc_id
), sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array({_NORM_SQL}, ' ')) - {k - 1}, 1) + 1),
               i -> array_to_string(regexp_split_to_array({_NORM_SQL}, ' ')[i:i+{k - 1}], ' ')))) AS s
    FROM corpus
), hashed AS (
    SELECT doc_id, CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) AS h32
    FROM sh
), sig AS (
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id
), bands AS (
    SELECT doc_id,
           unnest([{band_strs}]) AS bk
    FROM sig
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
), victims AS (
    SELECT DISTINCT c.id_b
    FROM cand c
    JOIN sig sa ON c.id_a = sa.doc_id
    JOIN sig sb ON c.id_b = sb.doc_id
    WHERE ({agree}) / {float(num_hashes)} >= {threshold}
), kept AS (
    SELECT doc_id, text FROM corpus
    WHERE doc_id NOT IN (SELECT id_b FROM victims)
), annotated AS (
    SELECT doc_id,
           {lang_case} AS lang_pred,
           {_WS} AS ws_tokens,
           CASE WHEN CAST('0x' || substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 1000000 < {cut}
                THEN 'test' ELSE 'train' END AS split
    FROM kept
)
SELECT split, lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_tokens
FROM annotated
GROUP BY split, lang_pred
"""


TP2_SQL = _build_tp2_sql()


def dq1_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile of lineitem: nulls / exact distincts /
    min-max per column in ONE scan (operators/profile.profile_columns;
    multi-count-distinct uses Spark's EXPAND strategy — documented cost
    #cols × scan; approx=True is the HLL scale path)."""
    from etl_oms_spark.operators.profile import profile_columns

    return profile_columns(_t(spark, sf_dir, "lineitem"))


def _dq1_col_sql(name: str, kind: str) -> str:
    if kind == "num":
        mn, mx = f"CAST(min({name}) AS DOUBLE)", f"CAST(max({name}) AS DOUBLE)"
        smn = smx = "CAST(NULL AS VARCHAR)"
    elif kind == "ts":
        mn, mx = f"CAST(epoch(min({name})) AS DOUBLE)", f"CAST(epoch(max({name})) AS DOUBLE)"
        smn = smx = "CAST(NULL AS VARCHAR)"
    else:
        mn = mx = "CAST(NULL AS DOUBLE)"
        smn, smx = f"min({name})", f"max({name})"
    return (
        f"SELECT '{name}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(count(*) - count({name}) AS BIGINT) AS n_null, "
        f"CAST(count(DISTINCT {name}) AS BIGINT) AS n_distinct, "
        f"{mn} AS min_num, {mx} AS max_num, {smn} AS min_str, {smx} AS max_str "
        f"FROM lineitem"
    )


DQ1_SQL = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        _dq1_col_sql(n, k)
        for n, k in [
            ("l_orderkey", "num"), ("l_partkey", "num"), ("l_suppkey", "num"),
            ("l_linenumber", "num"), ("l_quantity", "num"),
            ("l_extendedprice", "num"), ("l_discount", "num"), ("l_tax", "num"),
            ("l_returnflag", "str"), ("l_linestatus", "str"), ("l_shipdate", "ts"),
        ]
    )
    + "\n) ORDER BY col_name"
)


def sc1_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 version table from a change log: per-user event_type
    episodes with valid_from/valid_to/is_current (operators/scd.
    scd2_history — change-point windows, no iteration). The warehouse-
    history extension of the reference's Type-1 ON CONFLICT upserts."""
    from etl_oms_spark.operators.scd import scd2_history

    ev = _events(spark, sf_dir)
    return scd2_history(ev, "user_id", ["event_type"], "ts").orderBy(
        "user_id", "valid_from", "event_type"
    )


SC1_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS prev_type
  FROM events
),
episodes AS (
  SELECT user_id, event_type, ts AS valid_from
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_type) AS valid_to,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_type) IS NULL AS is_current
FROM episodes
ORDER BY user_id, valid_from, event_type
"""


def ev_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping event-time windows (width 2h, slide 1h — each event in two
    windows): counts + exact-cents value sums per window
    (operators/rollup.hopping_window_counts, the streaming-ready
    ``F.window(ts, width, slide)`` construct)."""
    from etl_oms_spark.operators.rollup import hopping_window_counts

    ev = _events(spark, sf_dir).withColumn("value", _cents(F.col("value")))
    return (
        hopping_window_counts(ev, "2 hours", "1 hour")
        .withColumnRenamed("sum_value", "sum_value_cents")
        .withColumn("sum_value_cents", F.col("sum_value_cents").cast("long"))
    )


EV_HOPPING_SQL = """
WITH expanded AS (
  SELECT date_trunc('hour', ts) - i.i * INTERVAL 1 HOUR AS window_start,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events, (SELECT 0 AS i UNION ALL SELECT 1) i
)
SELECT window_start,
       window_start + INTERVAL 2 HOUR AS window_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_value_cents
FROM expanded
GROUP BY window_start
"""


def w5_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range window frame: events per user in the trailing 1 hour
    (RANGE frame over epoch-micros ordering — peers with equal timestamps
    share a frame, which a ROWS frame cannot express)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
    )


W5_SQL = """
SELECT event_id, user_id, ts,
       CAST(count(*) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_trailing_1h
FROM events
"""


def w4_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorization of document lengths at exact p05/p95
    (transform.winsorize — one bounds aggregation + broadcast join back;
    integer percentile interpolation is bit-exact cross-engine, see a13)."""
    from etl_oms_spark.transform import winsorize

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return winsorize(d, "n_chars", ["source"])


W4_SQL = """
WITH b AS (
  SELECT source,
         quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY source
)
SELECT doc_id, d.source, n_chars,
       least(greatest(CAST(n_chars AS DOUBLE), b.lo), b.hi) AS n_chars_winsorized
FROM documents d JOIN b USING (source)
"""


def sp3_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: at most 20 documents per source, selected by
    portable md5 priority (operators/sampling.per_group_cap) — identical
    kept-set on any partitioning, any engine. The cap guard every
    training mix needs against one domain dominating."""
    from etl_oms_spark.operators.sampling import per_group_cap

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return per_group_cap(d, ["source"], "doc_id", cap=20, method="md5")


SP3_SQL = """
WITH pri AS (
  SELECT doc_id, source, n_chars,
         CAST('0x' || substring(md5('cap|' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 1000000 AS bucket
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id) AS rn
  FROM pri
)
SELECT doc_id, source, n_chars FROM ranked WHERE rn <= 20
"""


def rs1_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling onto a per-user daily spine with forward
    fill (operators/temporal.resample_ffill): empty days report 0 events
    and carry the last observed per-day max value forward. Exact-cents
    value keeps the bucket aggregate bit-identical cross-engine."""
    from etl_oms_spark.operators.temporal import resample_ffill

    ev = _events(spark, sf_dir).withColumn("cents", _cents(F.col("value")))
    return resample_ffill(ev, "user_id", "ts", "cents", step="1 day", agg="max")


RS1_SQL = """
WITH ev AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
spans AS (
  SELECT user_id, date_trunc('day', min(ts)) AS f, date_trunc('day', max(ts)) AS l
  FROM ev GROUP BY user_id
),
spine AS (
  SELECT user_id, unnest(generate_series(f, l, INTERVAL 1 DAY)) AS bucket_ts
  FROM spans
),
obs AS (
  SELECT user_id, date_trunc('day', ts) AS bucket_ts,
         CAST(count(*) AS BIGINT) AS n, max(cents) AS v
  FROM ev GROUP BY 1, 2
)
SELECT s.user_id, s.bucket_ts,
       CAST(coalesce(o.n, 0) AS BIGINT) AS n_events,
       last_value(o.v IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS cents_filled
FROM spine s LEFT JOIN obs o USING (user_id, bucket_ts)
"""


def sk1_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi join (util.salted_join): lineitem salted across 8
    sub-keys, supplier replicated 8x, joined on (l_suppkey, salt) — the
    explicit skew-mitigation pattern for joins AQE can't split. The
    post-join aggregate proves salting is semantics-preserving: results
    must equal the plain-join oracle exactly."""
    from etl_oms_spark.util import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", _cents(F.col("l_extendedprice")).alias("cents")
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    return (
        salted_join(li, sup, "l_suppkey", salt_buckets=8)
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        )
    )


SK1_SQL = """
SELECT s_name, CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


def fz1_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part names within 3 edits (reconcile.
    fuzzy_value_pairs): blocked Levenshtein self-join over DISTINCT
    values — block key = first token (shared adjective), so cost is
    Σ block², never all-pairs. The data-value twin of the reference's
    synonym-map schema reconciliation."""
    from etl_oms_spark.reconcile import fuzzy_value_pairs

    return fuzzy_value_pairs(
        _t(spark, sf_dir, "part").select("p_name"), "p_name", max_dist=3
    )


FZ1_SQL = """
WITH vals AS (SELECT DISTINCT p_name AS v FROM part WHERE p_name IS NOT NULL),
blocked AS (
  SELECT v, string_split(v, ' ')[1] AS blk
  FROM vals
)
SELECT a.v AS value_a, b.v AS value_b,
       CAST(levenshtein(a.v, b.v) AS INT) AS dist
FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.v < b.v
WHERE levenshtein(a.v, b.v) <= 3
"""


def rt1_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators/rollup.retention_matrix):
    users bucketed by first-activity week, distinct-counted in each week
    offset they return. Integer epoch-week periods — no calendar
    week-start convention to diverge on."""
    from etl_oms_spark.operators.rollup import retention_matrix

    return retention_matrix(_events(spark, sf_dir))


RT1_SQL = """
WITH p AS (
  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS period
  FROM events
),
first AS (
  SELECT user_id, min(period) AS cohort_period FROM p GROUP BY user_id
),
marks AS (
  SELECT DISTINCT p.user_id, f.cohort_period,
         p.period - f.cohort_period AS period_offset
  FROM p JOIN first f ON p.user_id = f.user_id
)
SELECT cohort_period, period_offset, CAST(count(*) AS BIGINT) AS n_users
FROM marks GROUP BY cohort_period, period_offset
"""


def cd1_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log replay to final snapshot (merge.cdc_snapshot):
    events mapped to I/U/D ops per user (signup→I, error→D, else U);
    latest op wins, latest-delete removes the key. Deterministic tie
    break on (ts, op, value) keeps replays idempotent."""
    from etl_oms_spark.merge import cdc_snapshot

    ev = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        _cents(F.col("value")).alias("cents"),
    )
    return cdc_snapshot(ev, ["user_id"], "ts", "op", ["cents"])


CD1_SQL = """
WITH log AS (
  SELECT user_id, ts,
         CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
              ELSE 'U' END AS op,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT user_id, ts, op, cents,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, op DESC, cents DESC
         ) AS rn
  FROM log
)
SELECT user_id, ts, op, cents FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def h1_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width 20-bucket histogram of lineitem extended price in
    exact cents (transform.fixed_width_histogram): one scalar min/max
    aggregate broadcast back, pure integer bucket arithmetic, one tiny
    count shuffle."""
    from etl_oms_spark.transform import fixed_width_histogram

    li = _t(spark, sf_dir, "lineitem").select(
        _cents(F.col("l_extendedprice")).alias("cents")
    )
    return fixed_width_histogram(li, "cents", n_buckets=20)


H1_SQL = """
WITH c AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem
),
b AS (SELECT min(cents) AS lo, max(cents) - min(cents) + 1 AS span FROM c)
SELECT CAST(floor((cents - lo) * 20 / span) AS INT) AS bucket,
       CAST(lo + floor(floor((cents - lo) * 20 / span) * span / 20) AS BIGINT)
         AS bucket_lo,
       CAST(lo + floor((floor((cents - lo) * 20 / span) + 1) * span / 20) - 1
            AS BIGINT) AS bucket_hi,
       CAST(count(*) AS BIGINT) AS n_rows
FROM c, b
GROUP BY bucket, bucket_lo, bucket_hi
"""


def dv1_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation report (operators/validate): PK uniqueness,
    FK closure, and not-null checks as plain aggregates — the lakehouse
    twin of the reference's Postgres UNIQUE/sequence DDL (GENERATION de
    la BDD). One tiny row per check; the known lineitem composite-key
    duplicates surface as a nonzero count."""
    from etl_oms_spark.operators.validate import (
        constraint_report,
        fk_orphans,
        pk_violations,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    checks = {
        "lineitem_pk_dup_keys": pk_violations(li, ["l_orderkey", "l_linenumber"]),
        "orders_custkey_orphans": fk_orphans(orders, cust, "o_custkey", "c_custkey"),
        "lineitem_orderkey_orphans": fk_orphans(li, orders, "l_orderkey", "o_orderkey"),
        "orders_null_custkey": orders.filter(F.col("o_custkey").isNull()),
    }
    return constraint_report(checks).orderBy("check_name")


DV1_SQL = """
SELECT 'lineitem_pk_dup_keys' AS check_name,
       CAST(count(*) AS BIGINT) AS n_violations
FROM (SELECT l_orderkey, l_linenumber FROM lineitem
      GROUP BY 1, 2 HAVING count(*) > 1)
UNION ALL
SELECT 'orders_custkey_orphans',
       CAST(count(*) AS BIGINT)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'lineitem_orderkey_orphans',
       CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'orders_null_custkey',
       CAST(count(*) AS BIGINT)
FROM orders WHERE o_custkey IS NULL
ORDER BY check_name
"""


def pp2_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split (operators/domain.perplexity_buckets):
    per-language ntile(3) over exact bigram-LM fluency, most-fluent tile
    first. Total order = (avg_logprob NULLS FIRST, doc_id) — tile
    assignment is bit-reproducible cross-engine."""
    from etl_oms_spark.operators.domain import bigram_lm_scores, perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    return perplexity_buckets(bigram_lm_scores(docs), docs)


PP2_SQL = f"""
WITH pp1 AS ({PP1_SQL}),
tiled AS (
  SELECT d.lang, pp1.logprob_q,
         ntile(3) OVER (
           PARTITION BY d.lang
           ORDER BY pp1.avg_logprob ASC NULLS FIRST, pp1.doc_id ASC
         ) AS bucket
  FROM pp1 JOIN documents d ON pp1.doc_id = d.doc_id
)
SELECT lang, CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(logprob_q) AS BIGINT) AS sum_logprob_q
FROM tiled GROUP BY lang, bucket
"""


def a14_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((flag, status), (flag), ()) with
    grouping_id disambiguation — the general form a12's CUBE specializes
    (DataFrame.groupingSets, Spark 4). Exact-cents sums; NULL group keys
    distinguished from grouping NULLs by grouping_id."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(_cents(F.col("l_extendedprice"))).cast("long").alias("sum_price_cents"),
        )
    )


A14_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def ag1_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation per region: nation names joined into one
    deterministic comma list (array_sort + array_join — the Spark lowering
    of SQL's string_agg(... ORDER BY ...), order-independent of
    partitioning by construction)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).cast("long").alias("n_nations"),
        )
    )


AG1_SQL = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(count(*) AS BIGINT) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def a15_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/distinct aggregate surface per return flag: count_if,
    bool_or / bool_and, and SUM(DISTINCT) on exact cents — each lowers to
    a plain conditional or distinct hash aggregate, no UDF."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).cast("long").alias("n_discounted"),
        F.bool_or(F.col("l_tax") == 0).alias("any_tax_free"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.sum_distinct(_cents(F.col("l_quantity"), 100)).cast("long")
        .alias("sum_distinct_qty_cents"),
    )


A15_SQL = """
SELECT l_returnflag,
       CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
       bool_or(l_tax = 0) AS any_tax_free,
       bool_and(l_quantity > 0) AS all_positive_qty,
       CAST(SUM(DISTINCT CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS sum_distinct_qty_cents
FROM lineitem GROUP BY l_returnflag
"""


def dr1_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift monitor (operators/validate.psi_drift):
    Population Stability Index of event values, first week vs the rest.
    Per-bucket contributions quantized to 1e-9 BIGINT so the total is
    order-independent and bit-stable cross-engine."""
    from etl_oms_spark.operators.validate import psi_drift

    ev = _events(spark, sf_dir).withColumn("cents", _cents(F.col("value")))
    cut = F.lit("2024-01-08").cast("timestamp")
    return psi_drift(
        ev.filter(F.col("ts") < cut),
        ev.filter(F.col("ts") >= cut),
        "cents",
    ).orderBy("bucket")


DR1_SQL = """
WITH tagged AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 0 ELSE 1 END AS side
  FROM events
),
b AS (SELECT min(v) AS lo, max(v) - min(v) + 1 AS span FROM tagged),
counts AS (
  SELECT CAST(floor((v - lo) * 10 / span) AS INT) AS bucket,
         count(*) FILTER (WHERE side = 0) AS n_base,
         count(*) FILTER (WHERE side = 1) AS n_cur
  FROM tagged, b GROUP BY 1
),
t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM counts)
SELECT bucket, CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
       CAST(floor(
         ((n_cur + 1) / (tc + 10) - (n_base + 1) / (tb + 10))
         * ln(((n_cur + 1) / (tc + 10)) / ((n_base + 1) / (tb + 10)))
         * 1000000000 + 0.5) AS BIGINT) AS psi_q9
FROM counts, t
ORDER BY bucket
"""


def st1_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mean / sample variance / stddev derived from exact integer
    sums (n, Σx, Σx²) — the numerically-portable form: every double is a
    single IEEE op on BIGINTs, so results are bit-identical cross-engine
    (stddev_samp's streaming accumulation would not be)."""
    ev = _events(spark, sf_dir).withColumn("cents", _cents(F.col("value")))
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    var = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")) / (
        F.col("n") * (F.col("n") - 1)
    )
    return agg.select(
        "event_type",
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mean_cents"),
        var.alias("var_cents"),
        F.sqrt(var).alias("std_cents"),
    )


ST1_SQL = """
WITH a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events)
  GROUP BY event_type
)
SELECT event_type, n,
       CAST(s1 AS DOUBLE) / n AS mean_cents,
       (n * s2 - s1 * s1) / (n * (n - 1.0)) AS var_cents,
       sqrt((n * s2 - s1 * s1) / (n * (n - 1.0))) AS std_cents
FROM a
"""


def o3_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest documents per language (row_number window with
    deterministic (n_chars DESC, doc_id) order) — the per-group top-k
    staple; Spark prunes it map-side via WindowGroupLimit before the
    shuffle, so the exchange carries O(groups × k)."""
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("lang", "doc_id", "n_chars")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


O3_SQL = """
SELECT lang, doc_id, n_chars, CAST(rank AS INT) AS rank
FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
         ) AS rank
  FROM documents
)
WHERE rank <= 3
"""


def tj3_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/temporal.asof_join
    direction="forward"): each view matched to the user's NEXT purchase
    within 1 day — pandas merge_asof(direction='forward') semantics, one
    shuffle, no point-in-interval explosion. Purchases pre-deduped per
    (user, ts) so the carried value is deterministic."""
    from etl_oms_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max(_cents(F.col("value"))).alias("cents"))
        .withColumn("purchase_ts", F.col("ts"))
    )
    return asof_join(
        views,
        purchases,
        "ts",
        by=["user_id"],
        value_cols=["purchase_ts", "cents"],
        tolerance="1 DAY",
        direction="forward",
    )


TJ3_SQL = """
WITH v AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts, max(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
nxt AS (
  SELECT v.event_id, v.user_id, v.ts, min(p.ts) AS purchase_ts
  FROM v LEFT JOIN p
    ON p.user_id = v.user_id AND p.ts >= v.ts
   AND p.ts <= v.ts + INTERVAL 1 DAY
  GROUP BY v.event_id, v.user_id, v.ts
)
SELECT n.event_id, n.user_id, n.ts, n.purchase_ts, p.cents
FROM nxt n LEFT JOIN p
  ON p.user_id = n.user_id AND p.ts = n.purchase_ts
"""


def mx2_mix_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the mx1 mix plan (operators/sampling.apply_mix_plan):
    deterministic per-source md5-bucket sampling at the planned rates —
    kept set is partitioning-independent and monotonic in the rate. The
    corpus never shuffles: one broadcast of the sources-sized plan + a
    filter. Reports achieved docs/tokens per source."""
    from etl_oms_spark.operators.sampling import apply_mix_plan, mix_plan
    from etl_oms_spark.operators.text import whitespace_token_count

    docs = _t(spark, sf_dir, "documents")
    targets = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    plan = mix_plan(docs, targets, budget_tokens=20_000)
    kept = apply_mix_plan(docs, plan)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum(whitespace_token_count("text").cast("long"))
        .cast("long")
        .alias("n_tokens_kept"),
    )


MX2_SQL = f"""
WITH mx1 AS ({MX1_SQL}),
rates AS (
  SELECT source,
         CAST(floor(planned_tokens * 1000000 / n_tokens) AS BIGINT)
           AS rate_micro
  FROM mx1
),
kept AS (
  SELECT d.source,
         CASE WHEN length({_NORM_SQL}) = 0 THEN 0
              ELSE len(string_split({_NORM_SQL}, ' ')) END AS toks
  FROM documents d JOIN rates r ON d.source = r.source
  WHERE CAST('0x' || substring(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) % 1000000 < r.rate_micro
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(toks) AS BIGINT) AS n_tokens_kept
FROM kept GROUP BY source
"""


def iv1_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join (operators/temporal.
    interval_overlap_join): closed 'view' episodes vs closed 'purchase'
    episodes of the same user (episodes from scd2_history), matched on
    inclusive range intersection via shared-bucket equi join — O(span/
    bucket) shuffled rows, not per-user cross products."""
    from etl_oms_spark.operators.scd import scd2_history
    from etl_oms_spark.operators.temporal import interval_overlap_join

    ep = scd2_history(_events(spark, sf_dir), "user_id", ["event_type"], "ts").filter(
        F.col("valid_to").isNotNull()
    )
    views = ep.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("valid_from").alias("v_start"),
        F.col("valid_to").alias("v_end"),
    )
    purchases = ep.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("valid_from").alias("p_start"),
        F.col("valid_to").alias("p_end"),
    )
    out = interval_overlap_join(
        views,
        purchases,
        ["user_id"],
        left_start="v_start",
        left_end="v_end",
        right_start="p_start",
        right_end="p_end",
        bucket_seconds=6 * 3600,
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps")
    )


IV1_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type)
           AS prev_type
  FROM events
),
episodes AS (
  SELECT user_id, event_type, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type)
           AS valid_to
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT v.user_id, CAST(count(*) AS BIGINT) AS n_overlaps
FROM (SELECT * FROM episodes WHERE event_type = 'view'
        AND valid_to IS NOT NULL) v
JOIN (SELECT * FROM episodes WHERE event_type = 'purchase'
        AND valid_to IS NOT NULL) p
  ON v.user_id = p.user_id
 AND v.valid_from <= p.valid_to AND p.valid_from <= v.valid_to
GROUP BY v.user_id
"""


def wt1_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.weighted_sample_topk, Efraimidis–Spirakis):
    100 documents drawn with probability ∝ n_chars via portable-hash
    priorities ln(u)/w — reproducible cross-engine, TakeOrdered top-k
    so the corpus never fully shuffles."""
    from etl_oms_spark.operators.sampling import weighted_sample_topk

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample_topk(d, "n_chars", k=100).select(
        "doc_id", "source", "n_chars"
    )


WT1_SQL = """
WITH pri AS (
  SELECT doc_id, source, n_chars,
         ln((CAST('0x' || substring(md5('wsample|' || CAST(doc_id AS VARCHAR)),
                                    1, 15) AS BIGINT) % 1000000 + 0.5)
            / 1000000.0)
         / CAST(n_chars AS DOUBLE) AS priority
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, source, n_chars
FROM pri ORDER BY priority DESC, doc_id ASC LIMIT 100
"""


def w6_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day (rolling WAU). COUNT(DISTINCT)
    over a sliding window isn't expressible as a Spark window function;
    the scalable lowering: dedup to (day, user) pairs, fan each pair out
    to the ≤7 window-end days it serves (explode of a bounded sequence —
    ×7, not ×rows), then one exact distinct count per window-end day."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    pairs = ev.select(day.alias("day"), "user_id").distinct()
    served = pairs.select(
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("window_day"),
        "user_id",
    )
    days = pairs.select(F.col("day").alias("window_day")).distinct()
    return (
        served.join(days, "window_day")  # only report days that exist
        .groupBy("window_day")
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )


W6_SQL = """
WITH pairs AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
served AS (
  SELECT unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))
           AS window_day,
         user_id
  FROM pairs
),
days AS (SELECT DISTINCT day AS window_day FROM pairs)
SELECT s.window_day, CAST(count(DISTINCT s.user_id) AS BIGINT) AS wau
FROM served s JOIN days d ON s.window_day = d.window_day
GROUP BY s.window_day
"""


def st2_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per return flag from exact integer sums
    (n, Σx, Σy, Σxy, Σx², Σy²): the portable form of corr() — built-in
    streaming corr accumulates doubles in partition order and is not
    bit-reproducible; this is. Correlation is scale-invariant, so the
    inputs are quantized coarsely (quantity units, price in hundreds of
    dollars) to keep n·Σy² under 2^63 through sf1+ under ANSI mode."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") / 100).cast("long").alias("y"),
    )
    a = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return a.select(
        "l_returnflag", "n", (num.cast("double") / den).alias("corr_qty_price")
    )


ST2_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM (
    SELECT l_returnflag,
           CAST(round(l_quantity) AS BIGINT) AS x,
           CAST(round(l_extendedprice / 100) AS BIGINT) AS y
    FROM lineitem
  ) GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
          * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qty_price
FROM s
"""


def st3_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language distribution per source — the
    label-balance check before training on a mixed corpus. Contributions
    -p·ln(p) from exact counts, quantized to 1e-9 BIGINT per (source,
    lang) so the per-source total is order-independent (same discipline
    as dr1's PSI)."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = Window.partitionBy("source")
    p = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    contrib = F.floor(-p * F.log(p) * F.lit(1e9) + F.lit(0.5)).cast("long")
    return (
        counts.withColumn("__c", contrib)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.sum("__c").cast("long").alias("entropy_q9"),
        )
    )


ST3_SQL = """
WITH c AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
),
p AS (
  SELECT source, CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY source)
                                          AS DOUBLE) AS p
  FROM c
)
SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
       CAST(sum(CAST(floor(-p * ln(p) * 1000000000 + 0.5) AS BIGINT))
            AS BIGINT) AS entropy_q9
FROM p GROUP BY source
"""


def vs1_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources (operators/vocab.
    source_vocab_overlap): inverted-index self-join over DISTINCT
    (source, term) pairs — Σ df² cost, vocab-sized inputs, exact integer
    set algebra."""
    from etl_oms_spark.operators.vocab import source_vocab_overlap

    return source_vocab_overlap(_t(spark, sf_dir, "documents"))


VS1_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT source AS src, unnest(string_split({_NORM_SQL}, ' ')) AS term
  FROM documents
),
sizes AS (
  SELECT src, CAST(count(*) AS BIGINT) AS n_terms FROM pairs GROUP BY src
),
shared AS (
  SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM pairs a JOIN pairs b ON a.term = b.term AND a.src < b.src
  GROUP BY a.src, b.src
)
SELECT s.src_a, s.src_b, s.n_shared,
       sa.n_terms AS n_a, sb.n_terms AS n_b,
       CAST(s.n_shared AS DOUBLE)
         / CAST(sa.n_terms + sb.n_terms - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN sizes sa ON s.src_a = sa.src
JOIN sizes sb ON s.src_b = sb.src
"""


def a16_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p10/p50/p90 of document length per source — the per-group
    generalization of a13: integer inputs make linear-interpolated exact
    percentiles bit-identical cross-engine (each is one IEEE multiply-add
    on integers). Lowered via ``group_percentiles(mode="hist")``: the
    value-histogram + rank-walk two-phase plan is bounded by per-group
    distinct lengths (not rows), so no task ever buffers a whole source's
    values — the plan that survives 100 TB with 5 sources."""
    from etl_oms_spark.operators.quantiles import group_percentiles

    d = _t(spark, sf_dir, "documents")
    return group_percentiles(
        d, ["source"], "n_chars", [0.1, 0.5, 0.9],
        names=["p10", "p50", "p90"], mode="hist", count_col="n_docs",
    )


A16_SQL = """
SELECT source,
       quantile_cont(n_chars, 0.1) AS p10,
       quantile_cont(n_chars, 0.5) AS p50,
       quantile_cont(n_chars, 0.9) AS p90,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY source
"""


def w7_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per source: |x − median| > 3 × MAD (median
    absolute deviation) — the robust z-score that survives the heavy
    tails that break mean/stddev fences. Two exact-percentile
    aggregations (median, then MAD) + broadcast joins back; integer
    inputs keep both medians bit-exact cross-engine. Both medians use the
    two-phase ``group_percentiles(mode="hist")`` lowering — no task ever
    buffers a whole source's values (see quantiles.py)."""
    from etl_oms_spark.operators.quantiles import group_percentiles

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    med = group_percentiles(
        d, ["source"], "n_chars", [0.5], names=["med"], mode="hist"
    )
    dev = d.join(F.broadcast(med), "source").select(
        "source", F.abs(F.col("n_chars") - F.col("med")).alias("adev")
    )
    mad = group_percentiles(
        dev, ["source"], "adev", [0.5], names=["mad"], mode="hist"
    )
    flagged = (
        d.join(F.broadcast(med), "source")
        .join(F.broadcast(mad), "source")
        .select(
            "source",
            "med",
            "mad",
            (F.abs(F.col("n_chars") - F.col("med")) > F.lit(3.0) * F.col("mad"))
            .alias("is_out"),
        )
    )
    return flagged.groupBy("source", "med", "mad").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(F.col("is_out")).cast("long").alias("n_outliers"),
    )


W7_SQL = """
WITH med AS (
  SELECT source, quantile_cont(n_chars, 0.5) AS med
  FROM documents GROUP BY source
),
mad AS (
  SELECT d.source, quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
  FROM documents d JOIN med m ON d.source = m.source
  GROUP BY d.source
)
SELECT d.source, m.med, a.mad,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE abs(d.n_chars - m.med) > 3.0 * a.mad)
            AS BIGINT) AS n_outliers
FROM documents d
JOIN med m ON d.source = m.source
JOIN mad a ON d.source = a.source
GROUP BY d.source, m.med, a.mad
"""


def sk2_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 5 heaviest l_suppkey values with
    their row share in millionths (exact integer arithmetic) — the
    numbers that decide between AQE skew-join, salting (sk1), and plain
    shuffle. Key counts + one TakeOrdered; nothing corpus-sized sorts."""
    li = _t(spark, sf_dir, "lineitem")
    total = li.groupBy().agg(F.count(F.lit(1)).alias("__total"))
    counts = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "l_suppkey",
            "n_rows",
            F.floor(F.col("n_rows") * F.lit(1_000_000) / F.col("__total"))
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("l_suppkey").asc())
        .limit(5)
    )


SK2_SQL = """
WITH c AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
  GROUP BY l_suppkey
),
t AS (SELECT sum(n_rows) AS total FROM c)
SELECT l_suppkey, n_rows,
       CAST(floor(n_rows * 1000000 / total) AS BIGINT) AS share_ppm
FROM c, t
ORDER BY n_rows DESC, l_suppkey ASC
LIMIT 5
"""


def ix1_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row index without a single-partition sort
    (util.with_global_index): range-partition on the total order
    (n_chars, doc_id), per-partition row_number + broadcast cumulative
    offsets. The scalable form of row_number() OVER (ORDER BY ...)."""
    from etl_oms_spark.util import with_global_index

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return with_global_index(d, ["n_chars", "doc_id"], n_parts=8)


IX1_SQL = """
SELECT doc_id, n_chars,
       CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT)
         AS row_idx
FROM documents
"""


def t9_intra_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition repair (operators/dedup.
    intra_doc_block_dedup): repeated 8-word blocks inside one document
    collapse to their first occurrence; other documents are untouched.
    Fully partition-local after the explode — shuffle key is doc_id
    only (contrast d8's corpus-global winner table)."""
    from etl_oms_spark.operators.dedup import intra_doc_block_dedup

    return intra_doc_block_dedup(
        _t(spark, sf_dir, "documents"), block_words=8
    )


T9_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
),
base AS (
    SELECT doc_id, toks,
           CAST(greatest(ceil(len(toks) / 8.0), 1) AS BIGINT) AS n_blocks
    FROM t
),
blocks AS (
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           array_to_string(list_slice(toks, (i - 1) * 8 + 1, i * 8), ' ') AS block
    FROM base, LATERAL unnest(range(1, n_blocks + 1)) u(i)
),
winners AS (
    SELECT doc_id, block, min(pos) AS pos FROM blocks GROUP BY doc_id, block
),
kept AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           string_agg(block, ' ' ORDER BY pos) AS kept_text
    FROM winners GROUP BY doc_id
)
SELECT base.doc_id, base.n_blocks, k.n_kept, k.kept_text
FROM base JOIN kept k ON base.doc_id = k.doc_id
"""


def r4_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate pivot: per day, (count, exact-cents sum) for each
    event type — lowered to conditional aggregation (count_if / filtered
    sum), the shape reshape.pivot_wide prefers over groupBy().pivot()
    (~3× faster, one pass, no pivot-values scan)."""
    ev = _events(spark, sf_dir).select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
        _cents(F.col("value")).alias("cents"),
    )
    aggs = []
    for t in ["view", "click", "purchase", "signup", "error"]:
        cond = F.col("event_type") == t
        aggs.append(F.count_if(cond).cast("long").alias(f"n_{t}"))
        aggs.append(
            F.sum(F.when(cond, F.col("cents"))).cast("long").alias(f"cents_{t}")
        )
    return ev.groupBy("day").agg(*aggs)


R4_SQL = """
SELECT date_trunc('day', ts) AS day,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'view'
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS cents_view,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'click'
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS cents_click,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS cents_purchase,
       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'signup'
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS cents_signup,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
       CAST(sum(CASE WHEN event_type = 'error'
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS cents_error
FROM events GROUP BY day
"""


def cs1_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between label centroids (operators/clustering.
    label_centroid_similarity): quantized component sums as BIGINTs so
    the centroid math is order-independent; cosine of the sum vector
    equals cosine of the mean (1/n cancels). Class-separation
    diagnostic over the embeddings table."""
    from etl_oms_spark.operators.clustering import label_centroid_similarity

    return label_centroid_similarity(_t(spark, sf_dir, "embeddings"))


CS1_SQL = """
WITH comps AS (
  SELECT label AS lbl,
         unnest(range(len(embedding))) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings
),
sums AS (
  SELECT lbl, dim, CAST(sum(q) AS BIGINT) AS s FROM comps GROUP BY lbl, dim
),
norms AS (
  SELECT lbl, CAST(sum(s * s) AS BIGINT) AS dot_self FROM sums GROUP BY lbl
),
dots AS (
  SELECT a.lbl AS label_a, b.lbl AS label_b,
         CAST(sum(a.s * b.s) AS BIGINT) AS dot_ab
  FROM sums a JOIN sums b ON a.dim = b.dim AND a.lbl < b.lbl
  GROUP BY a.lbl, b.lbl
)
SELECT d.label_a, d.label_b,
       CAST(d.dot_ab AS DOUBLE)
         / (sqrt(CAST(na.dot_self AS DOUBLE)) * sqrt(CAST(nb.dot_self AS DOUBLE)))
         AS centroid_cosine
FROM dots d
JOIN norms na ON d.label_a = na.lbl
JOIN norms nb ON d.label_b = nb.lbl
"""


# ---------------------------------------------------------------------------
# round-3 additions: rank normalization, Gopher gates, market basket,
# profiling top values, snapshot diff, as-of tolerance, embedding covariance
# ---------------------------------------------------------------------------


def qn1_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source CDF normalization of document length via
    `grouped_percent_rank` (operators/quantiles.py): exact
    ``percent_rank()`` semantics over the total order (n_chars, doc_id)
    WITHOUT the per-source corpus-wide window — the same distributed-rank
    core as pp2's ntile, exposed as the score-calibration primitive
    (rank-normalize any quality signal per group before thresholding)."""
    from etl_oms_spark.operators.quantiles import grouped_percent_rank

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = grouped_percent_rank(
        d, ["source"], [F.col("n_chars").asc(), F.col("doc_id").asc()]
    )
    return out.select("doc_id", "source", "n_chars", "pct_rank")


QN1_SQL = """
SELECT doc_id, source, n_chars,
       percent_rank() OVER (
         PARTITION BY source ORDER BY n_chars ASC, doc_id ASC
       ) AS pct_rank
FROM documents
"""


def t10_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality gates (operators/text.gopher_rules,
    arXiv 2112.11446 §A1.1): per-document hard pass/fail on word count,
    mean word length, symbol ratio, alpha-word ratio and stopword
    presence — individually reportable for filter-loss audits. Pure
    column expressions; booleans cast to INT for cross-engine hashing."""
    from etl_oms_spark.operators.text import gopher_rules

    d = _t(spark, sf_dir, "documents")
    rules = gopher_rules(F.col("text"), min_words=30)
    return d.select(
        "doc_id",
        *[rules[k].cast("int").alias(k) for k in
          ("ok_n_words", "ok_mean_word_len", "ok_symbol_ratio",
           "ok_alpha_words", "ok_stopwords")],
        rules["pass"].cast("int").alias("pass_gate"),
    )


T10_SQL = rf"""
WITH g AS (
  SELECT doc_id,
         {_NORM_SQL} AS norm,
         {_WS} AS n_words,
         greatest({_WS}, 1) AS sw
  FROM documents
),
r AS (
  SELECT doc_id,
         CAST(n_words >= 30 AND n_words <= 100000 AS INT) AS ok_n_words,
         CAST(
           (CAST(length(norm) - (n_words - 1) AS DOUBLE) / sw) >= 3.0
           AND (CAST(length(norm) - (n_words - 1) AS DOUBLE) / sw) <= 10.0
           AS INT) AS ok_mean_word_len,
         CAST(
           CAST(len(regexp_extract_all(norm, '#|\.\.\.'))
                + len(regexp_extract_all(norm, '…')) AS DOUBLE) / sw <= 0.1
           AS INT) AS ok_symbol_ratio,
         CAST(
           CAST(len(list_filter(string_split(norm, ' '),
                                t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
             / sw >= 0.8
           AS INT) AS ok_alpha_words,
         CAST(
           len(regexp_extract_all(lower(text),
               '\b(the|a|an|and|or|of|to|in|is|it)\b')) >= 2
           AS INT) AS ok_stopwords
  FROM g JOIN documents USING (doc_id)
)
SELECT doc_id, ok_n_words, ok_mean_word_len, ok_symbol_ratio,
       ok_alpha_words, ok_stopwords,
       CAST(ok_n_words + ok_mean_word_len + ok_symbol_ratio
            + ok_alpha_words + ok_stopwords = 5 AS INT) AS pass_gate
FROM r
"""


def fi1_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent part pairs: parts co-ordered in ≥3 orders
    (the FP-growth-style co-occurrence primitive, lowered to a within-key
    self-join). Pair generation is bounded by Σ items-per-order² — the
    same confinement discipline as LSH buckets / SemDeDup clusters; the
    order key is the natural salt, so no global quadratic ever forms."""
    items = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


FI1_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS n_orders
FROM items a
JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 3
"""


def pf1_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column top-3 most frequent values over orders' categorical
    columns — the profiling deep-dive next to dq1's summary stats. One
    stack() unpivot → two-phase (col, value) count (map-side combine
    bounds the shuffle at Σ per-column NDV) → rank window over the
    NDV-sized counts frame (WindowGroupLimit prunes to k per column
    pre-shuffle). Ties break by value ascending for determinism."""
    o = _t(spark, sf_dir, "orders")
    pairs = o.select(
        F.expr(
            "stack(2, 'o_orderstatus', o_orderstatus, "
            "'o_orderpriority', o_orderpriority) AS (col_name, value)"
        )
    )
    counts = pairs.groupBy("col_name", "value").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("col_name").orderBy(
        F.col("n").desc(), F.col("value").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


PF1_SQL = """
WITH pairs AS (
  SELECT 'o_orderstatus' AS col_name, o_orderstatus AS value FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
),
counts AS (
  SELECT col_name, value, CAST(count(*) AS BIGINT) AS n
  FROM pairs GROUP BY 1, 2
)
SELECT col_name, value, n,
       CAST(row_number() OVER (
         PARTITION BY col_name ORDER BY n DESC, value ASC
       ) AS INT) AS rnk
FROM counts
QUALIFY rnk <= 3
"""


def tc1_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff audit (operators/validate.table_diff): orders
    'before' vs a deterministically perturbed 'after' (every 97th order
    deleted, urgent orders repriced) — per-status row counts, the
    what-did-this-batch-do report between two loads. One full-outer join
    on the key; NULL-safe per-column compare."""
    from etl_oms_spark.operators.validate import table_diff

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    after = o.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        # exact doubling (IEEE-exact, no cross-engine rounding hazard)
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.col("o_totalprice") * 2,
        ).otherwise(F.col("o_totalprice")),
    )
    diff = table_diff(o, after, ["o_orderkey"])
    return (
        diff.groupBy("diff_status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


TC1_SQL = """
WITH before AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
),
after AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
),
classified AS (
  SELECT CASE
           WHEN b.o_orderkey IS NULL THEN 'added'
           WHEN a.o_orderkey IS NULL THEN 'removed'
           WHEN b.o_orderpriority IS NOT DISTINCT FROM a.o_orderpriority
                AND b.o_totalprice IS NOT DISTINCT FROM a.o_totalprice
             THEN 'unchanged'
           ELSE 'changed'
         END AS diff_status
  FROM before b FULL OUTER JOIN after a USING (o_orderkey)
)
SELECT diff_status, CAST(count(*) AS BIGINT) AS n_rows
FROM classified GROUP BY diff_status
"""


def tj4_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-staleness as-of join: each purchase matched to the user's
    latest click AT MOST 1 HOUR old — `asof_join`'s tolerance parameter
    (matches outside the bound null out), the merge_asof(tolerance=...)
    semantics quote-staleness rules need. Same single-shuffle union+carry
    plan as tj1."""
    from etl_oms_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join(
        purchases, clicks, on="ts", by=["user_id"],
        value_cols=["click_value"], tolerance="1 hour",
    )
    return out.select("event_id", "user_id", "value", "click_value")


TJ4_SQL = """
SELECT p.event_id, p.user_id, p.value,
       CASE WHEN p.ts <= c.ts + INTERVAL 1 HOUR THEN c.value END AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def em1_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix of the embedding corpus
    (operators/linalg.covariance_matrix): partition-local int64 QᵀQ via
    mapInPandas (numpy matmul inside Arrow batches), so the shuffle
    carries d·(d+1)/2 rows PER PARTITION instead of n·d² — the combiner
    pattern that makes PCA/whitening diagnostics feasible at 100 TB.
    Exact integer sums → the three IEEE ops per cell are bit-identical
    cross-engine."""
    from etl_oms_spark.operators.linalg import covariance_matrix

    return covariance_matrix(_t(spark, sf_dir, "embeddings"))


EM1_SQL = """
WITH comps AS (
  SELECT vec_id,
         unnest(range(len(embedding))) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings
),
s2 AS (
  SELECT a.dim AS i, b.dim AS j, CAST(sum(a.q * b.q) AS BIGINT) AS s2
  FROM comps a JOIN comps b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2
),
s1 AS (
  SELECT dim AS i, CAST(sum(q) AS BIGINT) AS s1,
         CAST(count(*) AS BIGINT) AS n
  FROM comps GROUP BY dim
)
SELECT CAST(s2.i AS INT) AS i, CAST(s2.j AS INT) AS j,
       CAST(s2.s2 AS DOUBLE) / CAST(sa.n AS DOUBLE)
         - (CAST(sa.s1 AS DOUBLE) / CAST(sa.n AS DOUBLE))
           * (CAST(sb.s1 AS DOUBLE) / CAST(sa.n AS DOUBLE)) AS cov
FROM s2
JOIN s1 sa ON s2.i = sa.i
JOIN s1 sb ON s2.j = sb.i
"""


def ga1_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (operators/temporal.activity_islands): per-user
    maximal runs of consecutive active days. Both windows partition by
    user_id, so the only shuffle key is the user — no corpus-global sort.

    Contract surface: streak dates go out as ISO strings on both
    engines (Spark DATE reaches pandas as object(datetime.date), DuckDB
    DATE as datetime64[us] — the cpd1 dtype-parity rule); the operator
    itself keeps real DATE columns."""
    from etl_oms_spark.operators.temporal import activity_islands

    return (
        activity_islands(_events(spark, sf_dir))
        .withColumn("streak_start", F.date_format("streak_start", "yyyy-MM-dd"))
        .withColumn("streak_end", F.date_format("streak_end", "yyyy-MM-dd"))
        .orderBy("user_id", "streak_start")
    )


GA1_SQL = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), grp AS (
    SELECT user_id, day,
           CAST(day - DATE '1970-01-01' AS INT)
             - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT)
             AS island
    FROM days
)
SELECT user_id, CAST(MIN(day) AS VARCHAR) AS streak_start,
       CAST(MAX(day) AS VARCHAR) AS streak_end,
       CAST(COUNT(*) AS BIGINT) AS streak_days
FROM grp GROUP BY user_id, island
ORDER BY user_id, streak_start
"""


def mk1_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream
    (operators/temporal.transition_matrix): per-user lead() window keyed
    on the user, then an event-types²-bounded aggregate. Probabilities
    divide exact integer counts, so both engines emit identical doubles."""
    from etl_oms_spark.operators.temporal import transition_matrix

    return transition_matrix(_events(spark, sf_dir)).orderBy(
        "from_state", "to_state"
    )


MK1_SQL = """
WITH nxt AS (
    SELECT event_type AS from_state,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_state
    FROM events
)
SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS DOUBLE)
         / CAST(SUM(COUNT(*)) OVER (PARTITION BY from_state) AS DOUBLE) AS p
FROM nxt WHERE to_state IS NOT NULL
GROUP BY from_state, to_state
ORDER BY from_state, to_state
"""


def tw1_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value
    (operators/temporal.time_weighted_avg): each value holds until the
    user's next event, weight = duration in exact integer microseconds ×
    value scaled to integer ten-thousandths — the weighted sum is pure
    BIGINT so the one final division is bit-identical cross-engine."""
    from etl_oms_spark.operators.temporal import time_weighted_avg

    return time_weighted_avg(
        _events(spark, sf_dir), tiebreak_col="event_id"
    ).orderBy("user_id")


TW1_SQL = """
WITH d AS (
    SELECT user_id,
           CAST(round(value * 10000) AS BIGINT) AS vq,
           epoch_us(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts) AS dur
    FROM events
)
SELECT user_id,
       CAST(SUM(dur * vq) AS DOUBLE) / CAST(SUM(dur) AS DOUBLE) / 10000.0 AS tw_avg
FROM d WHERE dur IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


def zo1_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys (operators/layout.morton_interleave):
    interleave customer key and order day so range-partitioned parquet
    files get compact (customer, date) bounding boxes — multi-dimensional
    data skipping from plain min/max row-group stats. Pure bit math, all
    inside whole-stage codegen; this query surfaces the keys themselves
    so the oracle can verify the curve bit-exactly."""
    from etl_oms_spark.operators.layout import morton_interleave

    o = _t(spark, sf_dir, "orders")
    zkey = morton_interleave(
        F.col("o_custkey"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")),
        bits=16,
    )
    return (
        o.select("o_orderkey", zkey.alias("zkey"))
        .orderBy("zkey", "o_orderkey")
        .limit(200)
    )


def _zo1_sql() -> str:
    from etl_oms_spark.operators.layout import morton_sql

    code = morton_sql(
        "o_custkey", "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)"
    )
    return f"""
SELECT o_orderkey, {code} AS zkey
FROM orders
ORDER BY zkey, o_orderkey
LIMIT 200
"""


def cp1_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (operators/layout.compaction_plan):
    pack per-ship-day byte totals into ~5 MB output files by exclusive
    running sum DIV target. The cumsum is the distributed two-phase form
    (range partition + local window + broadcast offsets) — planning a
    million-file manifest never serializes through one task."""
    from etl_oms_spark.operators.layout import compaction_plan

    sizes = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").alias("day"))
        .agg((F.count(F.lit(1)) * F.lit(100)).alias("bytes"))
    )
    # day leaves as an ISO string on both engines (dtype-parity rule)
    return (
        compaction_plan(sizes, "bytes", ["day"], target_bytes=5_000_000)
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
        .orderBy("day")
    )


CP1_SQL = """
WITH sizes AS (
    SELECT CAST(l_shipdate AS DATE) AS day,
           CAST(COUNT(*) * 100 AS BIGINT) AS bytes
    FROM lineitem GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day, bytes,
       CAST(floor(CAST(COALESCE(SUM(bytes) OVER (
                ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0) AS DOUBLE) / 5000000) AS BIGINT) AS out_file
FROM sizes
ORDER BY day
"""


def nv1_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram novelty (operators/dedup.ngram_novelty): share
    of a doc's distinct shingles first seen in it (by doc id order) —
    ranks near-duplicate survivors and exposes template-heavy sources.
    Shingles travel as portable 60-bit md5 longs; two bounded shuffles
    (shingle key with map-side combine, then doc id)."""
    from etl_oms_spark.operators.dedup import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"), k=8).orderBy("doc_id")


NV1_SQL = r"""
WITH norm AS (
    SELECT doc_id,
           regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS arr
    FROM documents
), sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(arr) - 7, 1) + 1),
               i -> array_to_string(arr[i:i+7], ' ')))) AS s
    FROM norm
), hashed AS (
    SELECT doc_id,
           CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
    FROM sh
), first AS (
    SELECT h, MIN(doc_id) AS first_doc FROM hashed GROUP BY h
)
SELECT hashed.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN first_doc = hashed.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN first_doc = hashed.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM hashed JOIN first ON hashed.h = first.h
GROUP BY hashed.doc_id
ORDER BY hashed.doc_id
"""


def x1_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared discriminative keywords per source
    (operators/vocab.chi2_keywords): 2×2 presence contingency per (source,
    term), scored on doubles cast from exact integer counts with a fixed
    association order — bit-identical cross-engine. One term explode, one
    (source, term) shuffle, broadcast margins, WindowGroupLimit top-10."""
    from etl_oms_spark.operators.vocab import chi2_keywords

    return chi2_keywords(_t(spark, sf_dir, "documents"), k=10).orderBy(
        "source", F.desc("chi2"), "term"
    )


X1_SQL = f"""
WITH pres AS (
    SELECT DISTINCT doc_id, source, term
    FROM (
        SELECT doc_id, source, unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    )
), a AS (
    SELECT source, term, CAST(COUNT(*) AS BIGINT) AS df_in
    FROM pres GROUP BY source, term
), sizes AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g FROM documents GROUP BY source
), tot AS (
    SELECT term, CAST(SUM(df_in) AS BIGINT) AS t_tot FROM a GROUP BY term
), n AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM documents
), scored AS (
    SELECT a.source, a.term,
           (CAST(n_all AS DOUBLE) *
            ((CAST(df_in AS DOUBLE) * CAST(n_all - n_g - (t_tot - df_in) AS DOUBLE)
              - CAST(n_g - df_in AS DOUBLE) * CAST(t_tot - df_in AS DOUBLE))
             * (CAST(df_in AS DOUBLE) * CAST(n_all - n_g - (t_tot - df_in) AS DOUBLE)
              - CAST(n_g - df_in AS DOUBLE) * CAST(t_tot - df_in AS DOUBLE))))
           / (((CAST(df_in AS DOUBLE) + CAST(n_g - df_in AS DOUBLE))
               * (CAST(t_tot - df_in AS DOUBLE)
                  + CAST(n_all - n_g - (t_tot - df_in) AS DOUBLE)))
              * ((CAST(df_in AS DOUBLE) + CAST(t_tot - df_in AS DOUBLE))
                 * (CAST(n_g - df_in AS DOUBLE)
                    + CAST(n_all - n_g - (t_tot - df_in) AS DOUBLE))))
           AS chi2,
           df_in, t_tot - df_in AS df_out
    FROM a JOIN tot USING (term) JOIN sizes USING (source) CROSS JOIN n
    WHERE n_all > t_tot AND n_all > n_g
)
SELECT source, term, chi2, df_in, df_out
FROM scored
QUALIFY row_number() OVER (PARTITION BY source ORDER BY chi2 DESC, term) <= 10
ORDER BY source, chi2 DESC, term
"""


def pc1_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus onto its own top-2
    components (operators/linalg.pca_project): distributed exact
    covariance (partition-local int64 QᵀQ partials) → driver eigh over
    the d×d matrix (2 080 doubles — k/dim-bounded collect) → broadcast
    basis → streaming dot products, no shuffle in the projection pass.
    No SQL oracle (eigendecomposition is not SQL-expressible); the
    operator is pytest-verified against single-node numpy PCA
    (test_round3_ops.test_pca_components_match_numpy), and the output is
    deterministic: exact integer covariance + sign-normalized eigh."""
    from etl_oms_spark.operators.linalg import pca_project

    return (
        pca_project(_t(spark, sf_dir, "embeddings"), n_components=2)
        .select("vec_id", "label", "pc1", "pc2")
        .orderBy("vec_id")
    )


def pc2_pca_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pc1's EXACT-ORACLE portable twin (the e11/d7 pattern applied to
    PCA): top-2 covariance directions by INTEGER power iteration
    (linalg.power_pca_quantized — 128 fixed rounds over the exact
    integer-scaled covariance M = n·S2 − S1·S1ᵀ, sign/abs/DIV rescale
    and deflation, all in the non-negative-division domain), then exact
    integer projection per vector. Output is DEFINED as the state after
    128 rounds (the test spectrum is near-flat — λ2/λ1 ≈ 0.93 — so 24
    rounds measurably under-converge; 0.93^128 ≈ 1e-4 does not), so
    DuckDB (HUGEINT arithmetic, unrolled CTEs) replays it
    bit-for-bit regardless of spectrum or convergence; convergence to
    the numpy eigh basis is pytest-checked separately (|cos| > 0.99).
    pc1 itself stays rows-only (driver eigh is not SQL-expressible);
    this twin pins the projection ALGORITHM with an exact oracle."""
    from etl_oms_spark.operators.linalg import (
        power_pca_quantized,
        project_integer,
    )

    emb = _t(spark, sf_dir, "embeddings")
    comps = power_pca_quantized(emb, iters=128, n_components=2)
    return project_integer(emb, comps).select(
        "vec_id",
        F.col("p1").cast("long").alias("p1"),
        F.col("p2").cast("long").alias("p2"),
    )


def _build_pc2_sql(iters: int = 128, v_scale: int = 10**6) -> str:
    """DuckDB replay of pc2: exact integer moments → HUGEINT covariance
    rows → per-component RECURSIVE power iteration whose state row
    CARRIES everything the step needs (the vector, the 64×64 matrix as
    a list-of-lists, and for component 2 the fixed basis + its norm):
    the recursive member references ONLY its own columns. Two reasons:
    list state keeps expression depth constant in the iteration count
    (the unrolled-CTE form blows max_expression_depth at 128 rounds),
    and a recursive member that re-scans an upstream MATERIALIZED CTE
    chain silently yields NULL in DuckDB — carrying the matrix through
    the state sidesteps both. Arithmetic mirrors
    linalg.power_pca_quantized exactly: matvec via
    list_zip/list_transform/list_sum, rescale sign·(|w|·v_scale DIV
    GREATEST(max|w|,1)) with the max from a window, deflation
    sign·(|proj·b_i| DIV GREATEST(b·b,1)) in pure list algebra."""
    vs = v_scale

    matvec = """SELECT u.i,
                list_sum(list_transform(list_zip({mat}[u.i + 1], {vec}),
                                        p -> p[1] * p[2])) AS w
              FROM (SELECT unnest(range(len({mat}))) AS i) u"""

    def rescale(mat: str, vec: str) -> str:
        mv = matvec.format(mat=mat, vec=vec)
        return f"""(
      SELECT list(CASE WHEN w < 0 THEN -((ABS(w) * {vs}) // mx)
                       ELSE (ABS(w) * {vs}) // mx END ORDER BY i)
      FROM (
        SELECT i, w, GREATEST(MAX(ABS(w)) OVER (), CAST(1 AS HUGEINT)) AS mx
        FROM ({mv})
      )
    )"""

    def deflate(vec_expr: str, bv: str, nb: str) -> str:
        return f"""(
      SELECT list_transform(list_zip(vr, bvv), p -> p[1] -
               (CASE WHEN pj * p[2] < 0 THEN -((ABS(pj * p[2])) // nbv)
                     ELSE (ABS(pj * p[2])) // nbv END))
      FROM (
        SELECT vr, bvv, nbv,
               list_sum(list_transform(list_zip(vr, bvv),
                                       p -> p[1] * p[2])) AS pj
        FROM (SELECT {vec_expr} AS vr, {bv} AS bvv, {nb} AS nbv)
      )
    )"""

    return f"""WITH RECURSIVE comps AS (
  SELECT vec_id,
         unnest(range(len(embedding))) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings
),
s1 AS (
  SELECT dim AS i, CAST(sum(q) AS BIGINT) AS s1
  FROM comps GROUP BY dim
),
nn AS (
  -- ONE global row count, matching the engine's single df.count():
  -- a per-dim count would silently skew M on ragged embeddings
  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
),
s2 AS (
  SELECT a.dim AS i, b.dim AS j, CAST(sum(a.q * b.q) AS BIGINT) AS s2
  FROM comps a JOIN comps b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2
),
tri AS (
  SELECT s2.i, s2.j,
         CAST(nn.n AS HUGEINT) * CAST(s2.s2 AS HUGEINT)
           - CAST(sa.s1 AS HUGEINT) * CAST(sb.s1 AS HUGEINT) AS m
  FROM s2 JOIN s1 sa ON s2.i = sa.i JOIN s1 sb ON s2.j = sb.i
       CROSS JOIN nn
),
mm AS (
  SELECT i, j, m FROM tri
  UNION ALL
  SELECT j AS i, i AS j, m FROM tri WHERE i <> j
),
mrows AS (
  SELECT i, list(m ORDER BY j) AS rl FROM mm GROUP BY i
),
dims AS (SELECT DISTINCT i FROM s1),
ita AS (
  SELECT 0 AS iter,
         (SELECT list(CAST({vs} AS HUGEINT) ORDER BY i) FROM dims) AS v,
         (SELECT list(rl ORDER BY i) FROM mrows) AS mat
  UNION ALL
  SELECT ita.iter + 1, {rescale("ita.mat", "ita.v")}, ita.mat
  FROM ita WHERE ita.iter < {iters}
),
b1 AS (SELECT v FROM ita WHERE iter = {iters}),
nb1 AS (
  SELECT GREATEST(list_sum(list_transform(v, x -> x * x)),
                  CAST(1 AS HUGEINT)) AS nb
  FROM b1
),
itb AS (
  SELECT 0 AS iter,
         {deflate(
             f"(SELECT list(CAST(CASE WHEN i % 2 = 0 THEN {vs} ELSE -{vs} END AS HUGEINT) ORDER BY i) FROM dims)",
             "(SELECT v FROM b1)", "(SELECT nb FROM nb1)")} AS v,
         (SELECT list(rl ORDER BY i) FROM mrows) AS mat,
         (SELECT v FROM b1) AS bv,
         (SELECT nb FROM nb1) AS nb
  UNION ALL
  SELECT itb.iter + 1,
         {deflate(rescale("itb.mat", "itb.v"), "itb.bv", "itb.nb")},
         itb.mat, itb.bv, itb.nb
  FROM itb WHERE itb.iter < {iters}
),
b2 AS (SELECT v FROM itb WHERE iter = {iters})
SELECT c.vec_id,
       CAST(SUM(c.q * a.v[c.dim + 1]) AS BIGINT) AS p1,
       CAST(SUM(c.q * b.v[c.dim + 1]) AS BIGINT) AS p2
FROM comps c, b1 a, b2 b
GROUP BY c.vec_id"""


PC2_SQL = _build_pc2_sql()


def so1_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface: customers active in 1996 INTERSECT 1997,
    EXCEPT those with any 'F' order — lowered to left-semi / left-anti
    joins over year-filtered distinct key sets (each a pushed-down scan +
    one keyed shuffle; no row-pair comparison anywhere)."""
    o = _t(spark, sf_dir, "orders")

    def yr(y: int) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == y).select("o_custkey").distinct()
        )

    fallen = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        yr(1996)
        .join(yr(1997), "o_custkey", "left_semi")
        .join(fallen, "o_custkey", "left_anti")
        .orderBy("o_custkey")
    )


SO1_SQL = """
SELECT o_custkey FROM (
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
ORDER BY o_custkey
"""


def hl1_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-day HLL sketches of active users,
    UNIONED up to weeks WITHOUT rescanning events —
    ``hll_sketch_agg`` at the fine grain, ``hll_union_agg`` at the
    coarse. At 100 TB this is the only viable daily→weekly/monthly distinct
    rollup: the re-aggregation input is days × 1.5 KB sketches, not the
    event log. No oracle (sketch binaries are engine-specific); the
    EXACT portable twin is hl2_exact_rollup, which validates the same
    rollup shape with true distincts."""
    e = _events(spark, sf_dir)
    daily = e.groupBy(
        F.date_trunc("week", "ts").alias("week"),
        F.to_date("ts").alias("day"),
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    return (
        daily.groupBy("week")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias(
                "approx_weekly_users"
            ),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("week")
    )


def hl2_exact_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of hl1: the same day→week rollup shape computed on
    distinct (month, user) pairs — a keyed dedup then a count, the exact
    re-aggregation whose input the sketch path shrinks to sketches.
    Proves the rollup logic; hl1 proves the mergeable-sketch lowering."""
    e = _events(spark, sf_dir)
    pairs = e.select(
        F.date_trunc("week", "ts").alias("week"), "user_id"
    ).distinct()
    return (
        pairs.groupBy("week")
        .agg(F.count(F.lit(1)).alias("weekly_users"))
        .orderBy("week")
    )


HL2_SQL = """
SELECT date_trunc('week', ts) AS week,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS weekly_users
FROM events
GROUP BY 1
ORDER BY week
"""


def h2_time_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap over the event stream: counts
    and exact-integer mean value per cell (168 rows max — a pure
    map-side-combined aggregate, the canonical ops-dashboard query).
    dayofweek normalized to 0=Sunday (Spark is 1-based, DuckDB 0-based)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            (F.dayofweek("ts") - F.lit(1)).alias("dow"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(_cents(F.col("value"), 10_000))
                / F.count(F.lit(1)).cast("double")
                / F.lit(10000.0)
            ).alias("avg_value"),
        )
        .orderBy("dow", "hour")
    )


H2_SQL = """
SELECT CAST(dayofweek(ts) AS INT) AS dow, CAST(hour(ts) AS INT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) / 10000.0 AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY dow, hour
"""


def ps1_supply_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp relation itself (``_partsupp``): the
    hash-synthesized supply table behind Q2/Q9/Q11/Q20, surfaced directly
    so the derivation is oracle-verified end-to-end, not only through the
    queries that consume it. One distinct shuffle + per-row md5 math."""
    return (
        _partsupp(spark, sf_dir)
        .orderBy("ps_partkey", "ps_suppkey")
        .limit(500)
    )


PS1_SQL = f"""
WITH ps AS ({PARTSUPP_SQL})
SELECT * FROM ps ORDER BY ps_partkey, ps_suppkey LIMIT 500
"""


def qa1_revenue_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue percent change: exact integer monthly
    sums, lag window over the months-sized frame (group cardinality, not
    rows), division of exact longs → identical doubles cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    monthly = li.groupBy(F.date_trunc("month", "l_shipdate").alias("month")).agg(
        F.sum(_cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 10_000)).alias(
            "rev_units"
        )
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("prev_units", F.lag("rev_units").over(w))
        .select(
            "month",
            (F.col("rev_units") / F.lit(10000.0)).alias("revenue"),
            (
                (F.col("rev_units") - F.col("prev_units"))
                / F.col("prev_units").cast("double")
            ).alias("mom_change"),
        )
        .orderBy("month")
    )


QA1_SQL = """
WITH monthly AS (
    SELECT date_trunc('month', l_shipdate) AS month,
           SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))
             AS rev_units
    FROM lineitem GROUP BY 1
)
SELECT month,
       CAST(rev_units AS DOUBLE) / 10000.0 AS revenue,
       CAST(rev_units - lag(rev_units) OVER (ORDER BY month) AS DOUBLE)
         / CAST(lag(rev_units) OVER (ORDER BY month) AS DOUBLE) AS mom_change
FROM monthly
ORDER BY month
"""


def t11_dup_block_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-block share (operators/dedup.dup_block_rate):
    the boilerplate-contamination monitor beside d8's repair pass. Every
    post-explode frame is NDV-bounded: per-(block, source) counts join
    per-block counts — never the instance frame."""
    from etl_oms_spark.operators.dedup import dup_block_rate

    return dup_block_rate(_t(spark, sf_dir, "documents")).orderBy("source")


T11_SQL = f"""
WITH t AS (
    SELECT doc_id, source, string_split({_NORM_SQL}, ' ') AS toks
    FROM documents
), base AS (
    SELECT doc_id, source, toks,
           CAST(greatest(ceil(len(toks) / 8.0), 1) AS BIGINT) AS n_blocks
    FROM t
), blocks AS (
    SELECT source,
           CAST('0x' || substring(md5(
               array_to_string(list_slice(toks, (i - 1) * 8 + 1, i * 8), ' ')
           ), 1, 15) AS BIGINT) AS h
    FROM base, LATERAL unnest(range(1, n_blocks + 1)) u(i)
), hs AS (
    SELECT h, source, CAST(COUNT(*) AS BIGINT) AS n_hs
    FROM blocks GROUP BY h, source
), hh AS (
    SELECT h, CAST(SUM(n_hs) AS BIGINT) AS n_h FROM hs GROUP BY h
)
SELECT source,
       CAST(SUM(n_hs) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN n_h > 1 THEN n_hs ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN n_h > 1 THEN n_hs ELSE 0 END) AS DOUBLE)
         / CAST(SUM(n_hs) AS DOUBLE) AS dup_rate
FROM hs JOIN hh USING (h)
GROUP BY source
ORDER BY source
"""


def zf1_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope per source: OLS slope of ln(freq) vs
    ln(rank) over each source's top-500 terms — the "does this source
    look like natural language" screen (natural text ≈ −1; templated or
    synthetic sources drift off). Per-term log contributions are
    quantized to 1e-9 BIGINTs before summation (st3's discipline), so the
    four OLS sums are order-independent and the final slope arithmetic on
    exact longs is bit-identical cross-engine. Partitions are
    vocabulary-bounded; the rank cut is a WindowGroupLimit."""
    d = _t(spark, sf_dir, "documents")
    from etl_oms_spark.operators.text import tokens as _tok

    tf = (
        d.select(F.col("source"), F.explode(_tok("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("tf"), F.asc("term"))
    ranked = tf.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 500
    )
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("tf").cast("double"))

    def q9(c: Column) -> Column:
        return F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("long")

    sums = ranked.select(
        "source",
        q9(lx).alias("qx"),
        q9(ly).alias("qy"),
        q9(lx * ly).alias("qxy"),
        q9(lx * lx).alias("qxx"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum("qxy").alias("sxy"),
        F.sum("qxx").alias("sxx"),
    )
    nd = F.col("n_terms").cast("double")
    sx = F.col("sx").cast("double") / F.lit(1e9)
    sy = F.col("sy").cast("double") / F.lit(1e9)
    sxy = F.col("sxy").cast("double") / F.lit(1e9)
    sxx = F.col("sxx").cast("double") / F.lit(1e9)
    return sums.select(
        "source",
        "n_terms",
        ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)).alias("zipf_slope"),
    ).orderBy("source")


ZF1_SQL = f"""
WITH tf AS (
    SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (
        SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    )
    GROUP BY source, term
), ranked AS (
    SELECT source, tf,
           row_number() OVER (PARTITION BY source ORDER BY tf DESC, term) AS rank
    FROM tf
    QUALIFY rank <= 500
), q AS (
    SELECT source,
           CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS qx,
           CAST(floor(ln(CAST(tf AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS qy,
           CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(tf AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS qxy,
           CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS qxx
    FROM ranked
), s AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(qx) AS BIGINT) AS sx, CAST(SUM(qy) AS BIGINT) AS sy,
           CAST(SUM(qxy) AS BIGINT) AS sxy, CAST(SUM(qxx) AS BIGINT) AS sxx
    FROM q GROUP BY source
)
SELECT source, n_terms,
       (CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e9)
          - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
       / (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e9)
          - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9)) AS zipf_slope
FROM s
ORDER BY source
"""


def a17_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of extended price per return flag: exact p10/p90
    bounds via the two-phase histogram percentile lowering (no group
    buffering), broadcast back, then an exact-integer mean over the kept
    band. The bounds themselves are NOT output: Spark's and DuckDB's
    interpolation formulas are algebraically equal but can differ in the
    last ULP, which never flips row membership (a bound strictly between
    two adjacent data values classifies identically under ±1 ULP; a bound
    ON a data value is interpolation-degenerate and exact) but could fail
    a bit-compare of the bound itself."""
    from etl_oms_spark.operators.quantiles import group_percentiles

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    b = group_percentiles(
        li, ["l_returnflag"], "l_extendedprice", [0.1, 0.9],
        names=["lo", "hi"], mode="hist",
    )
    return (
        li.join(F.broadcast(b), "l_returnflag")
        .filter(
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") <= F.col("hi"))
        )
        .groupBy("l_returnflag")
        .agg(
            (
                F.sum(_cents(F.col("l_extendedprice")))
                / F.count(F.lit(1)).cast("double")
                / F.lit(100.0)
            ).alias("trimmed_mean"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .orderBy("l_returnflag")
    )


A17_SQL = """
WITH b AS (
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.1) AS lo,
           quantile_cont(l_extendedprice, 0.9) AS hi
    FROM lineitem GROUP BY 1
)
SELECT l.l_returnflag,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) / 100.0 AS trimmed_mean,
       CAST(COUNT(*) AS BIGINT) AS n_kept
FROM lineitem l JOIN b USING (l_returnflag)
WHERE l_extendedprice >= lo AND l_extendedprice <= hi
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


def cc2_dup_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate hub detection: documents with the most LSH
    candidate partners (degree in the d7 pair graph) — the template/
    boilerplate diagnostic (a hub is a page layout, not a document).
    Degree is one count aggregate over the pair list (both directions);
    top-20 is a TakeOrdered cut. Oracle recomputes the identical md5
    pair set (d7's CTEs)."""
    from etl_oms_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(_t(spark, sf_dir, "documents"), hash_method="md5")
    pairs = lsh_candidate_pairs(sigs, hash_method="md5")
    both = pairs.select(F.col("id_a").alias("doc_id")).union(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    return (
        both.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.desc("degree"), "doc_id")
        .limit(20)
    )


CC2_SQL = (
    "WITH "
    + _build_d7_sql()
    + ","
    + """
pairs AS ({_final}),
deg AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
    FROM (
        SELECT id_a AS doc_id FROM pairs
        UNION ALL SELECT id_b FROM pairs
    )
    GROUP BY doc_id
)
SELECT doc_id, degree FROM deg
ORDER BY degree DESC, doc_id
LIMIT 20
""".format(_final=_D7_FINAL.strip())
)


def a18_hierarchy_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent rollup: each nation's revenue share within its
    region (two-level hierarchy ratio-to-report). Exact integer revenue
    per nation, region totals via a regions-sized window over the
    aggregate (group cardinality, never rows), division of exact longs."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 10_000)
            ).alias("units")
        )
    )
    w = Window.partitionBy("r_name")
    return rev.select(
        "r_name",
        "n_name",
        (F.col("units") / F.lit(10000.0)).alias("revenue"),
        (F.col("units") / F.sum("units").over(w).cast("double")).alias(
            "region_share"
        ),
    ).orderBy("r_name", "n_name")


A18_SQL = """
WITH rev AS (
    SELECT r_name, n_name,
           SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))
             AS units
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
)
SELECT r_name, n_name,
       CAST(units AS DOUBLE) / 10000.0 AS revenue,
       CAST(units AS DOUBLE)
         / CAST(SUM(units) OVER (PARTITION BY r_name) AS DOUBLE) AS region_share
FROM rev
ORDER BY r_name, n_name
"""


def o4_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH ties (rank, not row_number): the 3 highest order price
    levels per priority, keeping every order on a tied level — the
    semantics LIMIT cannot express. WindowGroupLimit prunes per-partition
    before the shuffle."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"))
    return (
        o.withColumn("price_rank", F.dense_rank().over(w))
        .filter(F.col("price_rank") <= 3)
        .select("o_orderpriority", "price_rank", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "price_rank", "o_orderkey")
    )


O4_SQL = """
SELECT o_orderpriority, CAST(price_rank AS INT) AS price_rank,
       o_orderkey, o_totalprice
FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           dense_rank() OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice DESC
           ) AS price_rank
    FROM orders
)
WHERE price_rank <= 3
ORDER BY o_orderpriority, price_rank, o_orderkey
"""


def a19_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group: each source's most frequent language
    (deterministic tie-break on the value). Two NDV-bounded aggregates +
    a WindowGroupLimit rank cut — the standard mode lowering that never
    buffers values."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    return (
        counts.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("source", F.col("lang").alias("mode_lang"), "n")
        .orderBy("source")
    )


A19_SQL = """
SELECT source, lang AS mode_lang, n
FROM (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
           row_number() OVER (
               PARTITION BY source ORDER BY COUNT(*) DESC, lang
           ) AS rk
    FROM documents GROUP BY source, lang
)
WHERE rk = 1
ORDER BY source
"""


def im1_mode_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mode imputation (transform.impute_columns): blank out one
    language ('de' → NULL, simulating a lossy upstream), impute each
    source's missing values with that source's modal remaining language,
    and report the resulting per-source language distribution. String-
    typed and count-based throughout — fully deterministic, exact oracle.
    The statistics frame is (sources)-sized and broadcast; one corpus
    pass."""
    from etl_oms_spark.transform import impute_columns

    d = _t(spark, sf_dir, "documents").withColumn(
        "lang2", F.nullif(F.col("lang"), F.lit("de"))
    )
    imp = impute_columns(d, ["lang2"], "mode", ["source"])
    return (
        imp.groupBy("source", F.col("lang2").alias("lang_imputed"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "lang_imputed")
    )


IM1_SQL = """
WITH d AS (
    SELECT source, nullif(lang, 'de') AS lang2 FROM documents
), m AS (
    SELECT source, lang2 AS mode_lang
    FROM (
        SELECT source, lang2, row_number() OVER (
                   PARTITION BY source ORDER BY COUNT(*) DESC, lang2
               ) AS rk
        FROM d WHERE lang2 IS NOT NULL
        GROUP BY source, lang2
    )
    WHERE rk = 1
)
SELECT d.source, COALESCE(d.lang2, m.mode_lang) AS lang_imputed,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM d JOIN m ON d.source = m.source
GROUP BY d.source, COALESCE(d.lang2, m.mode_lang)
ORDER BY d.source, lang_imputed
"""


def e8_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized cosine top-5
    (operators/similarity.sq_cosine_topk): per-dim absmax scales →
    symmetric int8 codes (4× smaller than float32 — the memory-bound
    corpus representation) → exact integer dots over the codes. The
    approximation lives entirely in the quantization; the arithmetic on
    codes is exact, so the oracle recomputing the same codes matches
    bit-for-bit."""
    from etl_oms_spark.operators.similarity import sq_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sq_cosine_topk(emb, query, k=5).orderBy("query_id", "vec_id")


E8_SQL = """
WITH comps AS (
    SELECT vec_id, unnest(range(len(embedding))) AS i,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
), m AS (
    SELECT i, MAX(abs(x)) AS mx FROM comps GROUP BY i
), codes AS (
    SELECT vec_id, c.i,
           CASE WHEN mx = 0 THEN 0
                ELSE CAST(round(x / mx * 127.0) AS INT) END AS q
    FROM comps c JOIN m USING (i)
), norms AS (
    SELECT vec_id,
           CAST(SUM(CAST(q AS BIGINT) * CAST(q AS BIGINT)) AS BIGINT) AS n2
    FROM codes GROUP BY vec_id
), dots AS (
    SELECT qq.vec_id AS query_id, c.vec_id,
           CAST(SUM(CAST(c.q AS BIGINT) * CAST(qq.q AS BIGINT)) AS BIGINT) AS dot
    FROM codes c
    JOIN codes qq ON c.i = qq.i AND qq.vec_id IN (0, 1)
    GROUP BY qq.vec_id, c.vec_id
), scored AS (
    SELECT d.query_id, d.vec_id,
           CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
             AS sq_cosine
    FROM dots d
    JOIN norms na ON d.vec_id = na.vec_id
    JOIN norms nb ON d.query_id = nb.vec_id
)
SELECT query_id, vec_id, sq_cosine
FROM scored
QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY sq_cosine DESC, vec_id) <= 5
ORDER BY query_id, vec_id
"""


def e9_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (operators/similarity.pq_topk):
    8×16 codebooks trained on a deterministic id-ordered sample, corpus
    encoded to 8 int8 codes (32× compression), scored via per-query
    lookup tables — m element_at lookups + a sum per row. No SQL oracle
    (k-means codebook training is iterative); deterministic end-to-end
    (id-ordered sample, first-index tie-breaks) and pytest-verified for
    distortion, recall-vs-exact, and partitioning invariance."""
    from etl_oms_spark.operators.similarity import pq_topk, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=8, k=16, sample=500)
    query = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(emb, query, books, k=5).orderBy("query_id", "vec_id")


def e11_pq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e9's EXACT-ORACLE portable twin (the d7-for-d3 pattern): product
    quantization trained, encoded and ADC-scored entirely in the shared
    shifted-integer domain (similarity.pq_train_quantized /
    pq_topk_quantized — 4×8 codebooks, 256-vector id-ordered sample, 2
    Lloyd iterations, exact half-up integer means, lowest-index
    tie-breaks). Every distance is an exact BIGINT, so DuckDB replays
    the identical training fixpoint (per-subspace recursive-CTE Lloyd,
    e7's machinery), the identical corpus codes, and the identical
    (dist, id)-tie-broken top-5 — bit-for-bit. e9 itself stays
    rows-only (its numpy float codebook means are not reproducible in
    SQL); this twin pins the ALGORITHM with an exact oracle."""
    from etl_oms_spark.operators.similarity import (
        pq_topk_quantized,
        pq_train_quantized,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train_quantized(emb, m=4, k=8, sample=256, n_iter=2)
    query = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk_quantized(emb, query, books, k=5).select(
        "query_id",
        "vec_id",
        F.col("adc_dist2").cast("long").alias("adc_dist2"),
    )


def _build_e11_sql(
    m: int = 4,
    k: int = 8,
    sample: int = 256,
    iters: int = 2,
    dim: int = 64,
    topk: int = 5,
) -> str:
    """DuckDB replay of e11: per-subspace recursive-CTE Lloyd over the
    id-ordered quantized sample (seeds = first k DISTINCT subvectors by
    first occurrence), then exact-integer codes, query LUTs, and ADC
    top-``topk`` with (dist, id) ties — mirrors _kmeans_cte_sql's
    correlated-iteration pattern once per subspace."""
    sub = dim // m
    parts = [
        f"""
q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 1000000) AS qv
  FROM embeddings
),
samp AS (
  SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {sample}
)"""
    ]
    for s in range(m):
        lo, hi = s * sub + 1, s * sub + sub
        d = _kmeans_dist_sql("t.sv", f"it{s}.cents[g2.cid + 1]")
        parts.append(
            f""",
sub{s} AS (
  SELECT vec_id, list_slice(qv, {lo}, {hi}) AS sv FROM samp
),
seed{s} AS (
  SELECT list(sv ORDER BY fid) AS cents FROM (
    SELECT sv, MIN(vec_id) AS fid FROM sub{s}
    GROUP BY sv ORDER BY fid LIMIT {k})
),
it{s} AS (
  SELECT 0 AS iter, cents FROM seed{s}
  UNION ALL
  SELECT it{s}.iter + 1,
    (SELECT list(COALESCE(nc.newc, it{s}.cents[g.cid + 1]) ORDER BY g.cid)
     FROM generate_series(0, {k - 1}) g(cid)
     LEFT JOIN (
       SELECT cid, list(c ORDER BY j) AS newc
       FROM (
         SELECT cid, j, (2 * SUM(sv[j]) + COUNT(*)) // (2 * COUNT(*)) AS c
         FROM (
           SELECT vec_id, sv, (min(struct_pack(d := d, c := cid))).c AS cid
           FROM (
             SELECT t.vec_id, t.sv, g2.cid, {d} AS d
             FROM sub{s} t CROSS JOIN generate_series(0, {k - 1}) g2(cid)
           )
           GROUP BY vec_id, sv
         ) a, generate_series(1, {sub}) t(j)
         GROUP BY cid, j
       )
       GROUP BY cid
     ) nc ON nc.cid = g.cid
    )
  FROM it{s} WHERE it{s}.iter < {iters}
)"""
        )
    for s in range(m):
        lo, hi = s * sub + 1, s * sub + sub
        dq = _kmeans_dist_sql(
            f"list_slice(q.qv, {lo}, {hi})", f"f{s}.cents[g.cid + 1]"
        )
        parts.append(
            f""",
bk{s} AS (SELECT cents FROM it{s} WHERE iter = {iters}),
code{s} AS (
  SELECT vec_id, (min(struct_pack(d := d, c := cid))).c AS code
  FROM (
    SELECT q.vec_id, g.cid, {dq} AS d
    FROM q, bk{s} f{s}, generate_series(0, {k - 1}) g(cid)
  )
  GROUP BY vec_id
),
lut{s} AS (
  SELECT q.vec_id AS query_id, g.cid, {dq} AS d
  FROM q, bk{s} f{s}, generate_series(0, {k - 1}) g(cid)
  WHERE q.vec_id IN (0, 1)
)"""
        )
    join_codes = " ".join(
        f"JOIN code{s} c{s} ON c{s}.vec_id = c0.vec_id" for s in range(1, m)
    )
    join_luts = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.query_id = l0.query_id "
        f"AND l{s}.cid = c{s}.code"
        for s in range(1, m)
    )
    dist_sum = " + ".join(f"l{s}.d" for s in range(m))
    parts.append(
        f""",
scored AS (
  SELECT l0.query_id, c0.vec_id, {dist_sum} AS adc_dist2
  FROM code0 c0 {join_codes}
  JOIN lut0 l0 ON l0.cid = c0.code
  {join_luts}
)
SELECT query_id, vec_id, CAST(adc_dist2 AS BIGINT) AS adc_dist2
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY adc_dist2, vec_id) <= {topk}"""
    )
    return "WITH RECURSIVE " + "".join(parts)


E11_SQL = _build_e11_sql()


def dc1_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card (plans/dataset_card.dataset_card): the long-format
    per-source release summary — docs, tokens, avg tokens, language
    count, duplicate-block rate — every metric exact-integer derived, so
    the whole card gets one oracle. One scan for counts/tokens + the
    NDV-bounded block pass."""
    from etl_oms_spark.plans.dataset_card import dataset_card

    return dataset_card(_t(spark, sf_dir, "documents")).orderBy(
        "metric", "source"
    )


DC1_SQL = f"""
WITH base AS (
    SELECT source,
           CAST(COUNT(*) AS DOUBLE) AS docs,
           CAST(SUM(CASE WHEN length({_NORM_SQL}) = 0 THEN 0
                ELSE len(string_split({_NORM_SQL}, ' ')) END) AS DOUBLE) AS tokens,
           CAST(COUNT(DISTINCT lang) AS DOUBLE) AS distinct_langs
    FROM documents GROUP BY source
), dup AS (
    WITH t AS (
        SELECT doc_id, source, string_split({_NORM_SQL}, ' ') AS toks
        FROM documents
    ), b AS (
        SELECT doc_id, source, toks,
               CAST(greatest(ceil(len(toks) / 8.0), 1) AS BIGINT) AS n_blocks
        FROM t
    ), blocks AS (
        SELECT source,
               CAST('0x' || substring(md5(
                   array_to_string(list_slice(toks, (i - 1) * 8 + 1, i * 8), ' ')
               ), 1, 15) AS BIGINT) AS h
        FROM b, LATERAL unnest(range(1, n_blocks + 1)) u(i)
    ), hs AS (
        SELECT h, source, CAST(COUNT(*) AS BIGINT) AS n_hs
        FROM blocks GROUP BY h, source
    ), hh AS (
        SELECT h, CAST(SUM(n_hs) AS BIGINT) AS n_h FROM hs GROUP BY h
    )
    SELECT source,
           CAST(SUM(CASE WHEN n_h > 1 THEN n_hs ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n_hs) AS DOUBLE) AS dup_rate
    FROM hs JOIN hh USING (h)
    GROUP BY source
)
SELECT metric, source, value FROM (
    SELECT 'docs' AS metric, source, docs AS value FROM base
    UNION ALL SELECT 'tokens', source, tokens FROM base
    UNION ALL SELECT 'distinct_langs', source, distinct_langs FROM base
    UNION ALL SELECT 'avg_tokens', source, tokens / docs FROM base
    UNION ALL SELECT 'dup_block_rate', source, dup_rate FROM dup
)
ORDER BY metric, source
"""


def dq2_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB profiling default: profile_columns(approx=True) — one
    scan, HLL distinct sketches instead of the #cols× EXPAND. No oracle
    (sketch estimates are engine-specific); the exact twin dq1_profile
    carries the oracle, this row proves the scale path executes."""
    from etl_oms_spark.operators.profile import profile_columns

    return profile_columns(_t(spark, sf_dir, "lineitem"), approx=True)


def uq1_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-trajectory similarity (REPOSE-style, PAPERS.md): encode
    each user's time-ordered event-type sequence as an initial-letter
    string, block candidate pairs by similar sequence length (|len
    difference| ≤ 10 — the provable lower bound |a|−|b| ≤ edit distance
    makes this a lossless filter for near pairs), Levenshtein within
    blocks, and keep the 50 most-similar pairs (deterministic
    tie-breaks). Everything before the bounded pair join is one
    user-keyed aggregation; the top-k is a TakeOrdered cut."""
    e = _events(spark, sf_dir)
    # cohort bound: the 200 lowest user ids (TakeOrdered) — pair count is
    # O(cohort²) at ANY corpus scale; length blocking alone is vacuous
    # when every user has >= 40 events (measured 21s at sf0.1 unbounded)
    cohort = e.select("user_id").distinct().orderBy("user_id").limit(200)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seqs = (
        e.join(F.broadcast(cohort), "user_id", "left_semi")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 40)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__rn", F.col("event_type")))
                    ),
                    lambda s: F.substring(s["event_type"], 1, 1),
                ),
            ).alias("seq")
        )
        .withColumn("len", F.length("seq"))
    )
    a = seqs.select(
        F.col("user_id").alias("user_a"), F.col("seq").alias("seq_a"), F.col("len").alias("la")
    )
    b = seqs.select(
        F.col("user_id").alias("user_b"), F.col("seq").alias("seq_b"), F.col("len").alias("lb")
    )
    return (
        a.join(
            b,
            (F.col("user_a") < F.col("user_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= 10),
        )
        .withColumn("edit_dist", F.levenshtein("seq_a", "seq_b"))
        .select("user_a", "user_b", "edit_dist")
        .orderBy(F.asc("edit_dist"), "user_a", "user_b")
        .limit(50)
    )


UQ1_SQL = """
WITH cohort AS (
    SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 200
), ranked AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE user_id IN (SELECT user_id FROM cohort)
), seqs AS (
    SELECT user_id,
           string_agg(substring(event_type, 1, 1), '' ORDER BY rn) AS seq
    FROM ranked WHERE rn <= 40
    GROUP BY user_id
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(levenshtein(a.seq, b.seq) AS INT) AS edit_dist
FROM seqs a JOIN seqs b
  ON a.user_id < b.user_id
 AND abs(length(a.seq) - length(b.seq)) <= 10
ORDER BY edit_dist, user_a, user_b
LIMIT 50
"""


def fn2_cohort_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohorted funnel conversion: per first-activity day, the share of
    users reaching each view→click→purchase stage — fn1's per-user fold
    re-aggregated by cohort (user-keyed shuffle, then a days-sized
    frame). Rates divide exact integer counts."""
    from etl_oms_spark.operators.stateful import funnel

    e = _events(spark, sf_dir)
    cohorts = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    f = funnel(e, ["view", "click", "purchase"])
    # left join: users with NO funnel-type events still belong to their
    # cohort denominator (funnel() pre-filters to funnel event types)
    return (
        cohorts.join(f.select("user_id", "stage"), "user_id", "left")
        .withColumn("stage", F.coalesce(F.col("stage"), F.lit(0)))
        .groupBy("cohort_day")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.when(F.col("stage") >= 1, 1).otherwise(0)).alias("n_view"),
            F.sum(F.when(F.col("stage") >= 2, 1).otherwise(0)).alias("n_click"),
            F.sum(F.when(F.col("stage") >= 3, 1).otherwise(0)).alias("n_purchase"),
        )
        .withColumn(
            "purchase_rate",
            F.col("n_purchase") / F.col("n_users").cast("double"),
        )
        .withColumn("cohort_day", F.date_format("cohort_day", "yyyy-MM-dd"))
        .orderBy("cohort_day")
    )


FN2_SQL = """
WITH ev AS (
    SELECT user_id, ts, event_type FROM events
    WHERE event_type IN ('view', 'click', 'purchase')
),
v AS (SELECT user_id, MIN(ts) AS t_view FROM ev
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT ev.user_id, MIN(ev.ts) AS t_click
      FROM ev JOIN v ON ev.user_id = v.user_id
      WHERE ev.event_type = 'click' AND ev.ts > v.t_view
      GROUP BY ev.user_id),
p AS (SELECT ev.user_id, MIN(ev.ts) AS t_purchase
      FROM ev JOIN c ON ev.user_id = c.user_id
      WHERE ev.event_type = 'purchase' AND ev.ts > c.t_click
      GROUP BY ev.user_id),
cohorts AS (
    SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
    FROM events GROUP BY user_id
)
SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(v.user_id) AS BIGINT) AS n_view,
       CAST(COUNT(c.user_id) AS BIGINT) AS n_click,
       CAST(COUNT(p.user_id) AS BIGINT) AS n_purchase,
       CAST(COUNT(p.user_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS purchase_rate
FROM cohorts co
LEFT JOIN v ON co.user_id = v.user_id
LEFT JOIN c ON co.user_id = c.user_id
LEFT JOIN p ON co.user_id = p.user_id
GROUP BY cohort_day
ORDER BY cohort_day
"""


def a20_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of brands by revenue: cumulative share
    of the exact-integer revenue in descending order → A (first 70%),
    B (to 90%), C (tail). The cumulative window runs over the
    brands-sized aggregate (group cardinality), never the fact table;
    shares divide exact longs so the class cut is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 10_000)
            ).alias("units")
        )
    )
    w = Window.orderBy(F.desc("units"), F.asc("p_brand")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = rev.agg(F.sum("units").alias("total"))
    return (
        rev.crossJoin(F.broadcast(tot))
        .withColumn("cum_share", F.sum("units").over(w) / F.col("total").cast("double"))
        .withColumn(
            "abc_class",
            F.when(F.col("cum_share") <= 0.7, "A")
            .when(F.col("cum_share") <= 0.9, "B")
            .otherwise("C"),
        )
        .select(
            "p_brand",
            (F.col("units") / F.lit(10000.0)).alias("revenue"),
            "cum_share",
            "abc_class",
        )
        .orderBy(F.desc("revenue"), "p_brand")
    )


A20_SQL = """
WITH rev AS (
    SELECT p_brand,
           SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))
             AS units
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
), tot AS (SELECT SUM(units) AS total FROM rev)
SELECT p_brand,
       CAST(units AS DOUBLE) / 10000.0 AS revenue,
       CAST(SUM(units) OVER (ORDER BY units DESC, p_brand
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(total AS DOUBLE) AS cum_share,
       CASE WHEN CAST(SUM(units) OVER (ORDER BY units DESC, p_brand
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST(total AS DOUBLE) <= 0.7 THEN 'A'
            WHEN CAST(SUM(units) OVER (ORDER BY units DESC, p_brand
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST(total AS DOUBLE) <= 0.9 THEN 'B'
            ELSE 'C' END AS abc_class
FROM rev CROSS JOIN tot
ORDER BY revenue DESC, p_brand
"""


def tr1_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (operators/graph.triangle_count) over the
    portable md5 LSH candidate-pair graph: per-doc triangle
    participation + the global total (id −1). Wedge join + closing-edge
    semi-join, Σ deg² bounded; oracle re-derives the identical pair set
    (d7 CTEs) and counts with the same oriented three-way join."""
    from etl_oms_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from etl_oms_spark.operators.graph import triangle_count

    sigs = minhash_signatures(_t(spark, sf_dir, "documents"), hash_method="md5")
    pairs = lsh_candidate_pairs(sigs, hash_method="md5")
    return triangle_count(pairs).orderBy("id")


TR1_SQL = (
    "WITH "
    + _build_d7_sql()
    + ","
    + """
pairs AS ({_final}),
e AS (
    SELECT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
    FROM pairs WHERE id_a <> id_b
    GROUP BY 1, 2
),
tri AS (
    SELECT ab.u AS a, ab.v AS b, bc.v AS c
    FROM e ab
    JOIN e bc ON ab.v = bc.u
    WHERE EXISTS (SELECT 1 FROM e ac WHERE ac.u = ab.u AND ac.v = bc.v)
),
per_node AS (
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
        SELECT a AS id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    GROUP BY id
)
SELECT id, n_triangles FROM per_node
UNION ALL
SELECT -1 AS id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tri
ORDER BY id
""".format(_final=_D7_FINAL.strip())
)


def pr1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-exact PageRank (operators/graph.pagerank_quantized,
    3 iterations, d=0.85) over the md5 LSH candidate-pair graph — an
    ITERATIVE algorithm with an exact oracle: ranks are 1e-9 BIGINTs,
    contributions integer divisions, damping re-quantized per step, so
    the DuckDB recursive CTE (list-state per iteration, same integer
    arithmetic) matches bit-for-bit."""
    from etl_oms_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from etl_oms_spark.operators.graph import pagerank_quantized

    sigs = minhash_signatures(_t(spark, sf_dir, "documents"), hash_method="md5")
    pairs = lsh_candidate_pairs(sigs, hash_method="md5")
    return pagerank_quantized(pairs).orderBy("id")


PR1_SQL = (
    "WITH RECURSIVE "
    + _build_d7_sql()
    + ","
    + """
pairs AS ({_final}),
bi AS (
    SELECT id_a AS u, id_b AS v FROM pairs WHERE id_a <> id_b
    UNION
    SELECT id_b, id_a FROM pairs WHERE id_a <> id_b
),
nodes AS (
    SELECT id, row_number() OVER (ORDER BY id) AS ix
    FROM (SELECT DISTINCT u AS id FROM bi)
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
consts AS (
    SELECT CAST(floor((1.0 - 0.85) * 1e9 / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS b,
           CAST(floor(1e9 / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS p0
    FROM nn
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM bi GROUP BY u),
eidx AS (
    SELECT nu.ix AS ui, nv.ix AS vi, deg.d AS du
    FROM bi JOIN nodes nu ON bi.u = nu.id
    JOIN nodes nv ON bi.v = nv.id
    JOIN deg ON deg.u = bi.u
),
it AS (
    SELECT 0 AS iter,
           (SELECT list((SELECT p0 FROM consts) ORDER BY ix) FROM nodes) AS prs
    UNION ALL
    SELECT it.iter + 1,
           (SELECT list(
                (SELECT b FROM consts)
                + COALESCE(s.inc, 0)
                ORDER BY nodes.ix)
            FROM nodes LEFT JOIN (
                SELECT vi,
                       CAST(floor(0.85 * CAST(SUM(it.prs[ui] // du) AS DOUBLE)
                                  + 0.5) AS BIGINT) AS inc
                FROM eidx GROUP BY vi
            ) s ON s.vi = nodes.ix)
    FROM it WHERE it.iter < 3
)
SELECT nodes.id,
       f.prs[nodes.ix] AS pr_q,
       CAST(f.prs[nodes.ix] AS DOUBLE) / 1e9 AS pagerank
FROM nodes, (SELECT prs FROM it WHERE iter = 3) f
ORDER BY nodes.id
""".format(_final=_D7_FINAL.strip())
)


def cm1_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimates for the 20 most frequent
    tokens (operators/vocab.cms_counts/cms_estimate): 4×1024 md5-derived
    sketch — depth×width state regardless of vocabulary size, mergeable
    by addition (the streaming/sharded frequency analogue of hl1's HLL
    rollup). Because the hashes are portable, even the ESTIMATES get an
    exact oracle: DuckDB rebuilds the identical sketch and min-probes it.
    True counts ride along, so the row shows the CMS overestimate bound
    (est ≥ true) holding."""
    from etl_oms_spark.operators.text import tokens as _tok
    from etl_oms_spark.operators.vocab import cms_counts, cms_estimate

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(_tok("text")).alias("term")
    )
    sketch = cms_counts(toks, "term")
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), "term")
        .limit(20)
    )
    return (
        cms_estimate(sketch, top.select("term"), "term")
        .join(top, "term")
        .select("term", "true_count", "cms_estimate")
        .orderBy(F.desc("true_count"), "term")
    )


CM1_SQL = f"""
WITH toks AS (
    SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term FROM documents
), probes AS (
    SELECT term, j AS row,
           CAST(CAST('0x' || substring(md5('cms' || CAST(j AS VARCHAR) || '|' || term), 1, 15)
                AS BIGINT) % 1024 AS INT) AS bucket
    FROM toks, generate_series(0, 3) g(j)
), sketch AS (
    SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM probes GROUP BY row, bucket
), top AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS true_count
    FROM toks GROUP BY term
    ORDER BY true_count DESC, term LIMIT 20
), est AS (
    SELECT p.term, MIN(s.n) AS cms_estimate
    FROM (SELECT DISTINCT term, row, bucket FROM probes
          WHERE term IN (SELECT term FROM top)) p
    JOIN sketch s ON p.row = s.row AND p.bucket = s.bucket
    GROUP BY p.term
)
SELECT top.term, true_count, cms_estimate
FROM top JOIN est ON top.term = est.term
ORDER BY true_count DESC, top.term
"""


def tp3_repair_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 capstone: a second full curation pipeline composed from
    this round's operators — Gopher gate → corpus block-dedup REPAIR
    (drop repeated 8-word blocks, keep the document) → 3-gram novelty
    annotation on the REPAIRED text → portable md5 split — reported per
    split with exact integers (novelty quantized 1e-9 before summing).
    Every stage reuses an independently-oracled operator, and the
    composition gets its own end-to-end exact oracle: the strongest
    statement that the pieces compose without semantic drift."""
    from etl_oms_spark.operators.dedup import block_dedup, ngram_novelty
    from etl_oms_spark.operators.sampling import _md5_bucket
    from etl_oms_spark.operators.text import gopher_rules

    d = _t(spark, sf_dir, "documents")
    gated = d.filter(gopher_rules(F.col("text"), min_words=30)["pass"]).select(
        "doc_id", "text"
    )
    # rep feeds BOTH the novelty scorer and the final join — a lazy
    # localCheckpoint materializes the repaired corpus once instead of
    # executing the gate+block-dedup subtree per branch (measured 8.1s →
    # 4.6s at sf0.1, identical output)
    rep = (
        block_dedup(gated, block_words=8)
        .filter(F.col("n_kept") >= 1)
        .localCheckpoint(eager=False)
    )
    nov = ngram_novelty(
        rep.select("doc_id", F.col("kept_text").alias("text")), k=3
    )
    j = rep.join(nov, "doc_id")
    # split as a COLUMN, not train_test_split's two filtered frames: the
    # two-frame form re-evaluates the whole upstream pipeline once per
    # side before the union (measured 14.2s at sf0.1; single-pass 7s) —
    # same membership, identical md5 bucket rule
    u = j.withColumn(
        "split",
        F.when(
            _md5_bucket(F.col("doc_id"), "split") < F.lit(100_000), "test"
        ).otherwise("train"),
    )
    return (
        u.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_kept").alias("kept_blocks"),
            F.sum(
                F.floor(F.col("novelty") * F.lit(1e9) + F.lit(0.5)).cast("long")
            ).alias("novelty_q9"),
        )
        .orderBy("split")
    )


TP3_SQL = rf"""
WITH g AS (
  SELECT doc_id,
         {_NORM_SQL} AS norm,
         {_WS} AS n_words,
         greatest({_WS}, 1) AS sw
  FROM documents
),
passed AS (
  SELECT g.doc_id
  FROM g JOIN documents USING (doc_id)
  WHERE n_words >= 30 AND n_words <= 100000
    AND (CAST(length(norm) - (n_words - 1) AS DOUBLE) / sw) >= 3.0
    AND (CAST(length(norm) - (n_words - 1) AS DOUBLE) / sw) <= 10.0
    AND CAST(len(regexp_extract_all(norm, '#|\.\.\.'))
             + len(regexp_extract_all(norm, '…')) AS DOUBLE) / sw <= 0.1
    AND CAST(len(list_filter(string_split(norm, ' '),
                             t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
          / sw >= 0.8
    AND len(regexp_extract_all(lower(text),
            '\b(the|a|an|and|or|of|to|in|is|it)\b')) >= 2
),
t AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
    FROM documents WHERE doc_id IN (SELECT doc_id FROM passed)
),
base AS (
    SELECT doc_id, toks,
           CAST(greatest(ceil(len(toks) / 8.0), 1) AS BIGINT) AS n_blocks
    FROM t
),
blocks AS (
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           array_to_string(list_slice(toks, (i - 1) * 8 + 1, i * 8), ' ') AS block
    FROM base, LATERAL unnest(range(1, n_blocks + 1)) u(i)
),
winners AS (
    SELECT block, (min(struct_pack(d := doc_id, p := pos))).d AS wd,
           (min(struct_pack(d := doc_id, p := pos))).p AS wp
    FROM blocks GROUP BY block
),
kept AS (
    SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           string_agg(b.block, ' ' ORDER BY b.pos) AS kept_text
    FROM blocks b JOIN winners w
      ON b.block = w.block AND b.doc_id = w.wd AND b.pos = w.wp
    GROUP BY b.doc_id
),
repaired AS (
    SELECT doc_id, n_kept, kept_text FROM kept WHERE n_kept >= 1
),
narr AS (
    SELECT doc_id,
           regexp_split_to_array(
               regexp_replace(lower(trim(kept_text)), '\s+', ' ', 'g'), ' ') AS arr
    FROM repaired
),
ntot AS (
    SELECT doc_id,
           CAST(len(list_distinct(list_transform(
               range(1, greatest(len(arr) - 2, 1) + 1),
               i -> array_to_string(arr[i:i+2], ' ')))) AS BIGINT) AS n_sh
    FROM narr
),
nsh AS (
    SELECT doc_id,
           CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
    FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(arr) - 2, 1) + 1),
                   i -> array_to_string(arr[i:i+2], ' ')))) AS s
        FROM narr
    )
),
first AS (SELECT h, MIN(doc_id) AS fd FROM nsh GROUP BY h),
novel AS (SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
          FROM first GROUP BY fd),
scored AS (
    SELECT r.doc_id, r.n_kept,
           CAST(COALESCE(novel.n_novel, 0) AS DOUBLE)
             / CAST(ntot.n_sh AS DOUBLE) AS novelty,
           CASE WHEN CAST('0x' || substring(md5('split|'
                    || CAST(r.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                    % 1000000 < 100000
                THEN 'test' ELSE 'train' END AS split
    FROM repaired r
    JOIN ntot ON r.doc_id = ntot.doc_id
    LEFT JOIN novel ON r.doc_id = novel.doc_id
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_kept) AS BIGINT) AS kept_blocks,
       CAST(SUM(CAST(floor(novelty * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
         AS novelty_q9
FROM scored
GROUP BY split
ORDER BY split
"""


E10_SQL = E1_SQL + " ORDER BY query_id, vec_id"


def e10_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized brute-force cosine top-5
    (operators/similarity.cosine_topk_arrow): numpy int64 matmul per
    Arrow batch + per-batch partial top-k. Quantization and the cosine
    expression are bit-identical to the column-algebra form (e1), so the
    two PHYSICAL paths share one oracle — E1's SQL verifies both."""
    from etl_oms_spark.operators.similarity import cosine_topk_arrow

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_arrow(emb, query, k=5).orderBy("query_id", "vec_id")


def cal1_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension joined to fact activity: one
    sequence+explode builds the date spine (no driver loop, no data
    scan for the spine itself), enriched with dow/week/month/quarter
    attributes, left-joined to per-day order counts — the canonical
    warehouse date dim with zero-activity days preserved. Spine
    generation is O(days) rows from a single literal row."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.to_date(F.min("o_orderdate")).alias("lo"),
        F.to_date(F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    ).select(
        "day",
        (F.dayofweek("day") - F.lit(1)).alias("dow"),
        F.weekofyear("day").alias("iso_week"),
        F.month("day").alias("month"),
        F.quarter("day").alias("quarter"),
        (F.dayofweek("day").isin(1, 7)).alias("is_weekend"),
    )
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        spine.join(daily, "day", "left")
        .withColumn("n_orders", F.coalesce(F.col("n_orders"), F.lit(0)))
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
        .orderBy("day")
    )


CAL1_SQL = """
WITH bounds AS (
    SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
           CAST(MAX(o_orderdate) AS DATE) AS hi
    FROM orders
), spine AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
), daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
)
SELECT CAST(spine.day AS VARCHAR) AS day,
       CAST(dayofweek(spine.day) AS INT) AS dow,
       CAST(weekofyear(spine.day) AS INT) AS iso_week,
       CAST(month(spine.day) AS INT) AS month,
       CAST(quarter(spine.day) AS INT) AS quarter,
       dayofweek(spine.day) IN (0, 6) AS is_weekend,
       COALESCE(daily.n_orders, 0) AS n_orders
FROM spine LEFT JOIN daily ON spine.day = daily.day
ORDER BY spine.day
"""


def lp1_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation
    (operators/graph.label_propagation): every 5th document seeds its
    language label; 3 rounds of deterministic majority voting spread
    labels across the md5 LSH near-dup graph — the weak-supervision
    auto-labeling pass (label the cluster from its labeled members).
    Exact oracle: same list-state recursive CTE technique as pr1, same
    min-struct tie-breaks."""
    from etl_oms_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from etl_oms_spark.operators.graph import label_propagation

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, hash_method="md5")
    pairs = lsh_candidate_pairs(sigs, hash_method="md5")
    seeds = d.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("id"), F.col("lang").alias("label")
    )
    return (
        label_propagation(pairs, seeds)
        .select(F.col("id").alias("doc_id"), "label")
        .orderBy("doc_id")
    )


LP1_SQL = (
    "WITH RECURSIVE "
    + _build_d7_sql()
    + ","
    + """
pairs AS ({_final}),
bi AS (
    SELECT id_a AS u, id_b AS v FROM pairs WHERE id_a <> id_b
    UNION
    SELECT id_b, id_a FROM pairs WHERE id_a <> id_b
),
nodes AS (
    SELECT id, row_number() OVER (ORDER BY id) AS ix
    FROM (SELECT DISTINCT u AS id FROM bi)
),
seeds AS (
    SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0
),
eidx AS (
    SELECT nu.ix AS ui, nv.ix AS vi
    FROM bi JOIN nodes nu ON bi.u = nu.id
    JOIN nodes nv ON bi.v = nv.id
),
state AS (
    SELECT 0 AS iter,
           (SELECT list(s.lang ORDER BY nodes.ix)
            FROM nodes LEFT JOIN seeds s ON nodes.id = s.doc_id) AS lbls
    UNION ALL
    SELECT state.iter + 1,
           (SELECT list(COALESCE(sd.lang, state.lbls[nodes.ix], mv.maj)
                        ORDER BY nodes.ix)
            FROM nodes
            LEFT JOIN seeds sd ON nodes.id = sd.doc_id
            LEFT JOIN (
                SELECT ui, (min(struct_pack(neg := -n, l := lbl))).l AS maj
                FROM (
                    SELECT e.ui, state.lbls[e.vi] AS lbl,
                           CAST(COUNT(*) AS BIGINT) AS n
                    FROM eidx e
                    WHERE state.lbls[e.vi] IS NOT NULL
                    GROUP BY e.ui, state.lbls[e.vi]
                )
                GROUP BY ui
            ) mv ON mv.ui = nodes.ix)
    FROM state WHERE state.iter < 3
)
SELECT nodes.id AS doc_id, f.lbls[nodes.ix] AS label
FROM nodes, (SELECT lbls FROM state WHERE iter = 3) f
ORDER BY doc_id
""".format(_final=_D7_FINAL.strip())
)


def knn1_label_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label transfer: the 20 lowest-id vectors act as unlabeled
    probes; each takes the majority label of its top-5 cosine neighbors
    among the REST of the corpus (exact quantized cosine, min-struct
    majority with ties toward the smaller label) — nearest-neighbor
    auto-labeling, the instance-level complement of lp1's graph
    propagation. Probes broadcast; the corpus streams once; the vote is
    a probes×k-bounded aggregate."""
    from etl_oms_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    top = cosine_topk(corpus, probes, k=5)
    labels = emb.select(F.col("vec_id"), F.col("label"))
    return (
        top.join(labels, "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
        .groupBy("query_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("votes")).alias("neg"), F.col("label").alias("l")
                )
            )["l"].alias("knn_label")
        )
        .orderBy("query_id")
    )


KNN1_SQL = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20
), pairs AS (
    SELECT q.query_id, e.vec_id, e.label,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='q.qe')}) AS dot,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='e.embedding')}) AS na,
           SUM({_QE.format(v='q.qe')} * {_QE.format(v='q.qe')}) AS nb
    FROM embeddings e, q, range(1, 65) t(i)
    WHERE e.vec_id >= 20
    GROUP BY q.query_id, e.vec_id, e.label
), scored AS (
    SELECT query_id, vec_id, label,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
    FROM pairs
), top AS (
    SELECT query_id, label
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= 5
), votes AS (
    SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS votes
    FROM top GROUP BY query_id, label
)
SELECT query_id,
       (min(struct_pack(neg := -votes, l := label))).l AS knn_label
FROM votes
GROUP BY query_id
ORDER BY query_id
"""


def lt1_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion latency percentiles (p25/p50/p90 in
    seconds) over converting users: fn1's per-user funnel fold feeds the
    two-phase exact histogram percentile lowering — the funnel metric
    that actually drives UX decisions, with the same no-group-buffering
    scale posture as a16. Integer-second latencies make the percentiles
    bit-exact cross-engine."""
    from etl_oms_spark.operators.quantiles import group_percentiles
    from etl_oms_spark.operators.stateful import funnel

    f = funnel(_events(spark, sf_dir), ["view", "click", "purchase"]).filter(
        F.col("stage") >= 3
    )
    lat = f.select(
        F.lit("all").alias("cohort"),
        (F.unix_timestamp("t_purchase") - F.unix_timestamp("t_view")).alias(
            "latency_s"
        ),
    )
    return group_percentiles(
        lat, ["cohort"], "latency_s", [0.25, 0.5, 0.9],
        names=["p25", "p50", "p90"], mode="hist", count_col="n_converted",
    ).orderBy("cohort")


LT1_SQL = """
WITH ev AS (
    SELECT user_id, ts, event_type FROM events
    WHERE event_type IN ('view', 'click', 'purchase')
),
v AS (SELECT user_id, MIN(ts) AS t_view FROM ev
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT ev.user_id, MIN(ev.ts) AS t_click
      FROM ev JOIN v ON ev.user_id = v.user_id
      WHERE ev.event_type = 'click' AND ev.ts > v.t_view
      GROUP BY ev.user_id),
p AS (SELECT ev.user_id, MIN(ev.ts) AS t_purchase
      FROM ev JOIN c ON ev.user_id = c.user_id
      WHERE ev.event_type = 'purchase' AND ev.ts > c.t_click
      GROUP BY ev.user_id),
lat AS (
    SELECT 'all' AS cohort,
           (epoch_us(p.t_purchase) // 1000000) - (epoch_us(v.t_view) // 1000000) AS latency_s
    FROM p JOIN v ON p.user_id = v.user_id
)
SELECT cohort,
       quantile_cont(latency_s, 0.25) AS p25,
       quantile_cont(latency_s, 0.5) AS p50,
       quantile_cont(latency_s, 0.9) AS p90,
       CAST(COUNT(*) AS BIGINT) AS n_converted
FROM lat
GROUP BY cohort
ORDER BY cohort
"""


def rc1_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table amount reconciliation (the classic finance DQ check):
    per order, |o_totalprice − Σ line extendedprice| in exact cents;
    returns the 50 largest discrepancies plus summary counts under a
    sentinel row (orderkey −1: n_orders, n_mismatched beyond 1 unit).
    One fact-fact join on the order key; all arithmetic on exact
    integers, so both engines flag identical orders."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    line_sum = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(_cents(F.col("l_extendedprice"))).alias("line_cents")
    )
    j = (
        o.select("o_orderkey", _cents(F.col("o_totalprice")).alias("hdr_cents"))
        .join(line_sum, "o_orderkey", "left")
        .select(
            "o_orderkey",
            F.abs(
                F.col("hdr_cents") - F.coalesce(F.col("line_cents"), F.lit(0))
            ).alias("diff_cents"),
        )
    )
    top = (
        j.orderBy(F.desc("diff_cents"), "o_orderkey")
        .limit(50)
        .select("o_orderkey", "diff_cents")
    )
    summary = j.agg(
        F.lit(-1).cast("long").alias("o_orderkey"),
        F.sum(F.when(F.col("diff_cents") > 100, 1).otherwise(0)).alias(
            "diff_cents"
        ),
    )
    return top.unionAll(summary).orderBy("o_orderkey")


RC1_SQL = """
WITH line_sum AS (
    -- CAST around the SUM: DuckDB SUM(BIGINT) escalates to HUGEINT,
    -- which reaches pandas as float64 and breaks the driver's
    -- type-sensitive hash even when every value matches (r06 red).
    -- int64 headroom assumption (like cpd1): per-order cent totals are
    -- < 2^63 at any realistic SF; past that DuckDB's CAST would raise
    -- while Spark's non-ANSI long SUM wraps — divergence is loud here.
    SELECT l_orderkey AS o_orderkey,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS line_cents
    FROM lineitem GROUP BY 1
), j AS (
    SELECT o.o_orderkey,
           CAST(abs(CAST(round(o_totalprice * 100) AS BIGINT)
                    - COALESCE(line_cents, 0)) AS BIGINT) AS diff_cents
    FROM orders o LEFT JOIN line_sum USING (o_orderkey)
), top AS (
    SELECT o_orderkey, diff_cents FROM j
    ORDER BY diff_cents DESC, o_orderkey LIMIT 50
), summary AS (
    SELECT CAST(-1 AS BIGINT) AS o_orderkey,
           CAST(SUM(CASE WHEN diff_cents > 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS diff_cents
    FROM j
)
SELECT * FROM top UNION ALL SELECT * FROM summary
ORDER BY o_orderkey
"""


def rr1_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer reorder behavior: per order year, the share of orders
    followed by another order from the same customer within 30 days —
    lead() over the customer-keyed order stream (one customer-key
    shuffle), exact integer counts, years-sized output."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    flagged = o.withColumn("__next", F.lead("o_orderdate").over(w)).select(
        F.year("o_orderdate").alias("order_year"),
        F.when(
            F.col("__next").isNotNull()
            & (F.datediff(F.col("__next"), F.col("o_orderdate")) <= 30),
            1,
        )
        .otherwise(0)
        .alias("reordered"),
    )
    return (
        flagged.groupBy("order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("reordered").alias("n_reordered"),
            (F.sum("reordered") / F.count(F.lit(1)).cast("double")).alias(
                "reorder_rate"
            ),
        )
        .orderBy("order_year")
    )


RR1_SQL = """
WITH flagged AS (
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CASE WHEN lead(o_orderdate) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ) IS NOT NULL
                AND CAST(CAST(lead(o_orderdate) OVER (
                        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ) AS DATE) - CAST(o_orderdate AS DATE) AS INT) <= 30
                THEN 1 ELSE 0 END AS reordered
    FROM orders
)
SELECT order_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(reordered) AS BIGINT) AS n_reordered,
       CAST(SUM(reordered) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS reorder_rate
FROM flagged
GROUP BY order_year
ORDER BY order_year
"""


_DECOMP = "Café naïve"  # decomposed é / ï — NFC recomposes both


def un1_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (curation pre-pass): every third doc gets
    a decomposed-accent suffix appended, then the Arrow-batched pandas-UDF
    normalizer recomposes it — byte lengths shrink, ASCII docs pass
    through unchanged. The one Python-UDF text op (no JVM builtin);
    DuckDB's nfc_normalize recomputes the exact NFC form, so the oracle
    checks real normalization work, not identity (operators/text.py:
    unicode_normalize)."""
    from etl_oms_spark.operators.text import unicode_normalize

    d = _t(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" " + _DECOMP))
    ).otherwise(F.col("text"))
    d = d.withColumn("__raw", raw).withColumn(
        "__nfc", unicode_normalize(F.col("__raw"))
    )
    return d.select(
        "doc_id",
        (F.col("__nfc") != F.col("__raw")).alias("nfc_changed"),
        F.octet_length("__raw").cast("long").alias("n_bytes_raw"),
        F.octet_length("__nfc").cast("long").alias("n_bytes_nfc"),
        F.md5("__nfc").alias("nfc_md5"),
    ).orderBy("doc_id")


UN1_SQL = f"""
WITH raw AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text || ' {_DECOMP}' ELSE text END AS r
    FROM documents
)
SELECT doc_id,
       nfc_normalize(r) <> r AS nfc_changed,
       CAST(strlen(r) AS BIGINT) AS n_bytes_raw,
       CAST(strlen(nfc_normalize(r)) AS BIGINT) AS n_bytes_nfc,
       md5(nfc_normalize(r)) AS nfc_md5
FROM raw
ORDER BY doc_id
"""


def url1_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (the first dedup key of every web crawl):
    deterministic messy URLs are derived per doc (uppercase scheme/host,
    www. prefix, trailing slash on even ids, utm_* tracking params, a
    fragment), then canonicalized — lowercase host, www/fragment/utm
    stripped, slashes trimmed — plus host/registered-domain/path parts.
    Pure regexp/array column algebra in the Java∩RE2 subset, zero
    shuffle; the oracle reruns the identical regexes (operators/text.py:
    canonicalize_url)."""
    from etl_oms_spark.operators.text import (
        canonicalize_url,
        registered_domain,
        url_parts,
    )

    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper("source"),
        F.lit(".Example.COM/Docs/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="),
        F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=mix#sec"),
    )
    d = d.withColumn("url", url)
    parts = url_parts("url")
    host = F.regexp_replace(parts["host"], r"^www\.", "")
    path = F.regexp_replace(parts["path"], r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return d.select(
        "doc_id",
        "url",
        canonicalize_url("url").alias("canon_url"),
        host.alias("host"),
        registered_domain(host).alias("domain"),
        path.alias("path"),
    ).orderBy("doc_id")


_URL_RE_SQL = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$"

URL1_SQL = f"""
WITH u AS (
    SELECT doc_id,
           'HTTPS://WWW.' || upper(source) || '.Example.COM/Docs/' ||
           CAST(doc_id AS VARCHAR) ||
           CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
           '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
           '&utm_campaign=mix#sec' AS url
    FROM documents
), p AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '{_URL_RE_SQL}', 1)) AS scheme,
           lower(regexp_extract(url, '{_URL_RE_SQL}', 2)) AS host0,
           regexp_extract(url, '{_URL_RE_SQL}', 3) AS path0,
           regexp_replace(regexp_extract(url, '{_URL_RE_SQL}', 4), '^\\?', '') AS query0
    FROM u
), n AS (
    SELECT doc_id, url, scheme,
           regexp_replace(host0, '^www\\.', '') AS host,
           CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
                ELSE regexp_replace(path0, '/+$', '') END AS path,
           array_to_string(
               list_filter(string_split(query0, '&'),
                           x -> NOT regexp_matches(x, '^utm_') AND x <> ''),
               '&') AS q
    FROM p
)
SELECT doc_id, url,
       scheme || '://' || host || path ||
       CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canon_url,
       host,
       regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
       path
FROM n
ORDER BY doc_id
"""


def d9_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source priority dedup: duplicate groups keyed on the first-8-
    token prefix fingerprint (23 real multi-doc groups at sf0.01) keep the
    copy from the most-trusted source — src7 beats src3 beats everything
    else — with (priority, doc_id) tie-breaks. The "prefer curated over
    crawled" assembly rule; one fingerprint groupBy shuffle, min-struct
    argmin, no group materialized (operators/dedup.py:priority_dedup)."""
    from etl_oms_spark.operators.dedup import priority_dedup
    from etl_oms_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, 8)))
    return priority_dedup(d, {"src7": 0, "src3": 1}, key=key).orderBy("doc_id")


D9_SQL = f"""
WITH t AS (
    SELECT doc_id, source,
           md5(array_to_string((string_split({_NORM_SQL}, ' '))[1:8], ' ')) AS fp
    FROM documents
), r AS (
    SELECT *,
           CASE source WHEN 'src7' THEN 0 WHEN 'src3' THEN 1
                ELSE 1000000 END AS p
    FROM t
)
SELECT (min(struct_pack(p := p, i := doc_id, s := source))).i AS doc_id,
       (min(struct_pack(p := p, i := doc_id, s := source))).s AS source,
       CAST(COUNT(*) AS BIGINT) AS dup_count,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM r
GROUP BY fp
ORDER BY doc_id
"""


def tm1_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixing (mT5/XLM-R alpha sampling):
    per-language share p^0.3 flattens English dominance; weights are
    1e-9-quantized BIGINTs before the normalizing sum (zf1's ln policy)
    and planned counts are pure integer arithmetic (budget·w DIV Σw), so
    every column is bit-identical across engines. One groupBy(lang) scan;
    the rest is groups-sized (operators/sampling.py:temperature_mix)."""
    from etl_oms_spark.operators.sampling import temperature_mix

    d = _t(spark, sf_dir, "documents")
    return temperature_mix(d, budget_docs=400, alpha=0.3, group_col="lang").orderBy(
        "lang"
    )


TM1_SQL = """
WITH per AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM per),
w AS (
    SELECT lang, n_docs,
           CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE) AS share,
           CAST(round(pow(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE), 0.3)
                      * 1000000000) AS BIGINT) AS wq
    FROM per, tot
), ws AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum FROM w)
SELECT lang, n_docs, share,
       CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE) AS mix_frac,
       (400 * wq) // wsum AS desired_docs,
       least((400 * wq) // wsum, n_docs) AS planned_docs,
       CAST(least((400 * wq) // wsum, n_docs) AS DOUBLE)
           / CAST(n_docs AS DOUBLE) AS keep_rate,
       (400 * wq) // wsum > n_docs AS upsample
FROM w, ws
ORDER BY lang
"""


def hn1_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for probe vectors 0-2, the top-4
    most-cosine-similar corpus items with a DIFFERENT label — the
    near-boundary negatives contrastive embedding training needs. Probes
    broadcast with labels; corpus streams once; label filter runs before
    the rank window (operators/similarity.py:hard_negatives)."""
    from etl_oms_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return hard_negatives(emb, probes, k=4).orderBy("query_id", "vec_id")


HN1_SQL = f"""
WITH q AS (
    SELECT vec_id AS query_id, label AS qlabel, embedding AS qe
    FROM embeddings WHERE vec_id IN (0, 1, 2)
), pairs AS (
    SELECT q.query_id, e.vec_id, e.label,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='q.qe')}) AS dot,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='e.embedding')}) AS na,
           SUM({_QE.format(v='q.qe')} * {_QE.format(v='q.qe')}) AS nb
    FROM embeddings e, q, range(1, 65) t(i)
    WHERE e.label <> q.qlabel
    GROUP BY 1, 2, 3
), scored AS (
    SELECT query_id, vec_id, label,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
    FROM pairs
)
SELECT query_id, vec_id, label, cosine
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
    FROM scored
) WHERE rn <= 4
ORDER BY query_id, vec_id
"""


def ir1_retrieval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline retrieval evaluation of the exact cosine ranking: probes
    vec_id < 20 against the rest of the corpus, relevance = shared label;
    hits@10 / precision / recall / quantized reciprocal rank per probe —
    the quality gate to run against any ANN variant to price its recall
    loss. Metrics derive from exact integer ranks
    (operators/similarity.py:retrieval_report)."""
    from etl_oms_spark.operators.similarity import retrieval_report

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    return retrieval_report(corpus, probes, k=10).orderBy("query_id")


IR1_SQL = f"""
WITH q AS (
    SELECT vec_id AS query_id, label AS qlabel, embedding AS qe
    FROM embeddings WHERE vec_id < 20
), pairs AS (
    SELECT q.query_id, q.qlabel, e.vec_id, e.label,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='q.qe')}) AS dot,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='e.embedding')}) AS na,
           SUM({_QE.format(v='q.qe')} * {_QE.format(v='q.qe')}) AS nb
    FROM embeddings e, q, range(1, 65) t(i)
    WHERE e.vec_id >= 20
    GROUP BY 1, 2, 3, 4
), ranked AS (
    SELECT query_id, qlabel, vec_id, label,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY CAST(dot AS DOUBLE)
                        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
                        vec_id) AS rnk
    FROM pairs
), top AS (SELECT * FROM ranked WHERE rnk <= 10),
nl AS (
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
    FROM embeddings WHERE vec_id >= 20 GROUP BY label
), agg AS (
    SELECT query_id, qlabel,
           CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
           CAST(COALESCE(MIN(CASE WHEN label = qlabel THEN rnk END), 0) AS BIGINT) AS first_hit_rank
    FROM top GROUP BY query_id, qlabel
)
SELECT query_id, qlabel AS label, n_label AS n_relevant, hits_at_k,
       CAST(hits_at_k AS DOUBLE) / 10.0 AS precision_at_k,
       CAST(hits_at_k AS DOUBLE) / CAST(n_label AS DOUBLE) AS recall_at_k,
       first_hit_rank,
       CASE WHEN first_hit_rank > 0
            THEN CAST(round(1000000000.0 / first_hit_rank) AS BIGINT)
            ELSE 0 END AS rr_q,
       CASE WHEN first_hit_rank > 0
            THEN CAST(round(1000000000.0 / first_hit_rank) AS BIGINT) / 1000000000.0
            ELSE 0.0 END AS rr
FROM agg JOIN nl ON agg.qlabel = nl.label
ORDER BY query_id
"""


def rrf1_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 top-25 (ts1's
    term set) and the dense cosine top-25 for probe vector 0 (doc ids and
    vec ids share an id space) — score = Σ round(1e9/(60+rank)), exact
    BIGINTs, Cormack's zero-tuning hybrid. The fused union is 50 rows, so
    all cost lives in the two upstream rankers
    (operators/search.py:rrf_fuse)."""
    from etl_oms_spark.operators.search import bm25_topk, rrf_fuse
    from etl_oms_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["join", "hash", "window", "spark"], k=25)
    wlex = Window.orderBy(F.col("score_q").desc(), F.col("doc_id"))
    lex_r = lex.select("doc_id", F.row_number().over(wlex).alias("rank"))
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = cosine_topk(emb, probe, k=25)
    wden = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    dense_r = dense.select(
        F.col("vec_id").alias("doc_id"), F.row_number().over(wden).alias("rank")
    )
    return rrf_fuse([lex_r, dense_r], top=15)


RRF1_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
gstats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_len
    FROM dl
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN {_BM25_TERMS}
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored_bm AS (
    SELECT tf.doc_id,
           CAST(floor(
             ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
             * CAST(tf * 880 * total_len AS DOUBLE)
             / CAST(tf * 400 * total_len + 120 * total_len
                    + 360 * dl.dl * n_docs AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS term_q
    FROM tf
    JOIN dfreq USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN gstats
),
bm AS (
    SELECT doc_id, CAST(SUM(term_q) AS BIGINT) AS score_q
    FROM scored_bm GROUP BY doc_id
    ORDER BY score_q DESC, doc_id LIMIT 25
),
bmr AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS rank
    FROM bm
),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
    SELECT e.vec_id,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='qv.qe')}) AS dot,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='e.embedding')}) AS na,
           SUM({_QE.format(v='qv.qe')} * {_QE.format(v='qv.qe')}) AS nb
    FROM embeddings e, qv, range(1, 65) t(i)
    GROUP BY e.vec_id
),
den AS (
    SELECT vec_id,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
    FROM pairs
    ORDER BY cosine DESC, vec_id LIMIT 25
),
denr AS (
    SELECT vec_id AS doc_id,
           ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
    FROM den
),
u AS (
    SELECT doc_id, CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) AS c FROM bmr
    UNION ALL
    SELECT doc_id, CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) AS c FROM denr
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
       CAST(SUM(c) AS BIGINT) AS rrf_q,
       CAST(SUM(c) AS BIGINT) / 1000000000.0 AS rrf_score
FROM u GROUP BY doc_id
ORDER BY rrf_q DESC, doc_id LIMIT 15
"""


def qsel1_classifier_topfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCLM/FineWeb-Edu-style selection: keep the top 20% of each source
    by hashed-linear classifier margin. Threshold finding is histogram
    two-phase (per-(source, margin) counts → NDV-sized descending cumsum →
    k-th-largest nearest-rank threshold → broadcast filter), so NO window
    ever partitions by doc — the pp2 lesson applied to score selection.
    Boundary ties all kept (threshold semantics)
    (operators/classifier.py:select_top_fraction)."""
    from etl_oms_spark.operators.classifier import (
        select_top_fraction,
        synthetic_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    return select_top_fraction(
        docs, synthetic_weights(spark, 1024), frac=0.2
    ).orderBy("doc_id")


QSEL1_SQL = f"""
WITH w AS (
    SELECT bucket,
           (CAST('0x' || substring(md5('w|' || CAST(bucket AS VARCHAR)), 1, 15)
                 AS BIGINT) % 21 - 10) * 1000000 AS w_q
    FROM (SELECT unnest(range(0, 1024)) AS bucket)
),
tok AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
    FROM documents
),
feats AS (
    SELECT doc_id,
           CAST('0x' || substring(md5('qc' || '|' || term), 1, 15) AS BIGINT)
             % 1024 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, term
),
feats2 AS (
    SELECT doc_id, bucket, CAST(SUM(tf) AS BIGINT) AS tf
    FROM feats GROUP BY doc_id, bucket
),
scored AS (
    SELECT d.doc_id, d.source,
           COALESCE(s.margin_q, 0) AS margin_q
    FROM documents d
    LEFT JOIN (
        SELECT doc_id, CAST(SUM(tf * w_q) AS BIGINT) AS margin_q
        FROM feats2 JOIN w USING (bucket) GROUP BY doc_id
    ) s ON d.doc_id = s.doc_id
),
hist AS (
    SELECT source, margin_q, CAST(COUNT(*) AS BIGINT) AS n
    FROM scored GROUP BY source, margin_q
),
cum AS (
    SELECT source, margin_q,
           SUM(n) OVER (PARTITION BY source ORDER BY margin_q DESC) AS cnt_ge
    FROM hist
),
tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM scored GROUP BY source),
thr AS (
    SELECT cum.source, MAX(margin_q) AS t
    FROM cum JOIN tot USING (source)
    WHERE cnt_ge >= CAST(ceil(0.2 * n_docs) AS BIGINT)
    GROUP BY cum.source
)
SELECT s.doc_id, s.source, s.margin_q
FROM scored s JOIN thr ON s.source = thr.source
WHERE s.margin_q >= thr.t
ORDER BY s.doc_id
"""


def cx2_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit at the embedding level: e6's portable
    near-dup pairs labeled with sp1's md5 split membership — a pair whose
    ends land in different splits is semantic leakage (the eval example
    has a near-copy in train). Pure composition: the pair build is the
    only corpus-scale work; split labels hash from the ids, no extra
    join. num_planes=4 is pinned for oracle determinism at test scale —
    at corpus scale pass `suggest_num_planes(n)` instead (fixed planes
    = fixed bucket count = quadratic candidates; measured 41× at a 10×
    scale-up, restored to ~linear by the rule — SCALING.md round-4)."""
    from etl_oms_spark.operators.sampling import _md5_bucket
    from etl_oms_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.35, num_planes=4, hash_method="md5", dim=64
    )

    def split(c: Column) -> Column:
        return F.when(
            _md5_bucket(c, "split") < 200_000, F.lit("test")
        ).otherwise(F.lit("train"))

    return pairs.select(
        "id_a",
        "id_b",
        "cosine",
        split(F.col("id_a")).alias("split_a"),
        split(F.col("id_b")).alias("split_b"),
        (split(F.col("id_a")) != split(F.col("id_b"))).alias("leaks"),
    ).orderBy("id_a", "id_b")


_SPLIT_SQL = (
    "CASE WHEN CAST('0x' || substring(md5('split|' || CAST({c} AS VARCHAR)), 1, 15)"
    " AS BIGINT) % 1000000 < 200000 THEN 'test' ELSE 'train' END"
)

CX2_SQL = f"""
WITH {_bucket_cte_sql(4)},
v AS (
    SELECT b.vec_id, e.embedding, b.bk
    FROM bucket b JOIN embeddings e ON b.vec_id = e.vec_id
), pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           SUM({_QE.format(v='a.embedding')} * {_QE.format(v='b.embedding')}) AS dot,
           SUM({_QE.format(v='a.embedding')} * {_QE.format(v='a.embedding')}) AS na,
           SUM({_QE.format(v='b.embedding')} * {_QE.format(v='b.embedding')}) AS nb
    FROM v a JOIN v b ON a.bk = b.bk AND a.vec_id < b.vec_id, range(1, 65) t(i)
    GROUP BY 1, 2
), near AS (
    SELECT id_a, id_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
    FROM pairs
    WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.35
)
SELECT id_a, id_b, cosine,
       {_SPLIT_SQL.format(c='id_a')} AS split_a,
       {_SPLIT_SQL.format(c='id_b')} AS split_b,
       {_SPLIT_SQL.format(c='id_a')} <> {_SPLIT_SQL.format(c='id_b')} AS leaks
FROM near
ORDER BY id_a, id_b
"""


def d10_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: docs 250+ arrive as the new batch and
    dedup against the fingerprint ledger of docs 0-249 (12 real
    boundary-straddling groups at sf0.01), then within themselves —
    prefix-8 fingerprints as in d9. The ledger side never shuffles: batch
    fingerprints broadcast into a semi probe, hits broadcast back into
    the anti-join (operators/dedup.py:incremental_dedup)."""
    from etl_oms_spark.operators.dedup import corpus_fingerprints, incremental_dedup
    from etl_oms_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, 8)))
    ledger = corpus_fingerprints(d.filter(F.col("doc_id") < 250), key=key)
    batch = d.filter(F.col("doc_id") >= 250)
    return incremental_dedup(batch, ledger, key=key).orderBy("doc_id")


D10_SQL = f"""
WITH fp AS (
    SELECT doc_id,
           md5(array_to_string((string_split({_NORM_SQL}, ' '))[1:8], ' ')) AS fp
    FROM documents
),
ledger AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 250),
batch AS (SELECT * FROM fp WHERE doc_id >= 250),
fresh AS (
    SELECT * FROM batch WHERE fp NOT IN (SELECT fp FROM ledger)
)
SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
FROM fresh
GROUP BY fp
ORDER BY doc_id
"""


def mm1_media_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal retrieval end-to-end: synthesize media payloads, run the
    Arrow-batched fake feature extractor (byte-histogram — the mapInPandas
    contract a real vision model drops into), then exact quantized-cosine
    top-5 for two probe images over the corpus. The fake features are
    bit-reproducible in SQL (ASCII byte histogram + the 13 header bytes,
    float32-rounded exactly as Arrow does), so the whole
    decode→featurize→ANN composition gets an EXACT oracle — the
    multimodal twin of e1 (operators/multimodal.py:extract_features)."""
    from etl_oms_spark.operators.multimodal import extract_features, with_media_column
    from etl_oms_spark.operators.similarity import cosine_topk

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    feats = extract_features(with_media_column(d)).select("doc_id", "features")
    # featurize the two probe docs on their own pruned branch — deriving
    # probes from `feats` would re-run the corpus-wide mapInPandas pass
    # just to keep 2 rows (the featurizer is exchange-free, so nothing
    # reuses it; SCALING.md's ReusedExchange rule)
    probes = extract_features(
        with_media_column(d.filter(F.col("doc_id").isin(0, 1)))
    ).select(F.col("doc_id").alias("query_id"), "features")
    return cosine_topk(
        feats, probes, k=5, id_col="doc_id", vec_col="features"
    ).orderBy("query_id", "doc_id")


# float32 feature recomputed in SQL: count/total in double, rounded to
# REAL (Arrow's float cast), widened back — then the standard 1e6
# quantization. ASCII corpus ⇒ substring(text,i,1) is the i-th byte.
_MMQ = "CAST(round(CAST(CAST(f.{v} AS REAL) AS DOUBLE) * 1000000) AS BIGINT)"

MM1_SQL = """
WITH chars AS (
    SELECT doc_id, ascii(substring(text, CAST(i AS INT), 1)) AS b
    FROM documents, LATERAL unnest(range(1, strlen(text) + 1)) u(i)
), hdr AS (
    SELECT doc_id,
           unnest([70, 65, 75, 69, 0, 0, 0, CAST(strlen(text) % 256 AS BIGINT),
                   0, 0, 0, 32, 3]) AS b
    FROM documents
), allb AS (
    SELECT doc_id, b FROM chars UNION ALL SELECT doc_id, b FROM hdr
), hist AS (
    SELECT doc_id, b % 16 AS k, CAST(COUNT(*) AS BIGINT) AS n
    FROM allb GROUP BY doc_id, b % 16
), total AS (
    SELECT doc_id, CAST(SUM(n) AS BIGINT) AS t FROM hist GROUP BY doc_id
), feat AS (
    SELECT h.doc_id, h.k,
           CAST(round(CAST(CAST(CAST(h.n AS DOUBLE) / CAST(tt.t AS DOUBLE)
                AS REAL) AS DOUBLE) * 1000000) AS BIGINT) AS q
    FROM hist h JOIN total tt ON h.doc_id = tt.doc_id
), norms AS (
    SELECT doc_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM feat GROUP BY doc_id
), probes AS (
    SELECT doc_id AS query_id, k, q FROM feat WHERE doc_id IN (0, 1)
), dots AS (
    SELECT p.query_id, f.doc_id, CAST(SUM(f.q * p.q) AS BIGINT) AS dot
    FROM feat f JOIN probes p ON f.k = p.k
    GROUP BY p.query_id, f.doc_id
), scored AS (
    SELECT d.query_id, d.doc_id,
           CAST(d.dot AS DOUBLE)
           / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
    FROM dots d
    JOIN norms na ON d.doc_id = na.doc_id
    JOIN norms nb ON d.query_id = nb.doc_id
)
SELECT query_id, doc_id, cosine
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rn
    FROM scored
) WHERE rn <= 5
ORDER BY query_id, doc_id
"""


#: C4-style blocklist — deterministic tokens present in the synthetic
#: corpus so the gate does real work at every scale.
_BLOCKLIST = ["slow", "big"]


def t12_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist filtering: per-source counts of docs containing
    any blocklisted token vs clean docs — `array_intersect` on the
    token array, pure JVM column algebra, zero shuffle before the
    groups-sized aggregate (the badword pass every public web-corpus
    recipe runs; swap the literal list for a broadcast table at real
    blocklist sizes)."""
    from etl_oms_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    hit = F.size(
        F.array_intersect(
            tokens("text"), F.array(*[F.lit(w) for w in _BLOCKLIST])
        )
    ) > 0
    return (
        d.groupBy("source")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_blocked"),
            F.sum(F.when(~hit, 1).otherwise(0)).cast("long").alias("n_clean"),
        )
        .orderBy("source")
    )


T12_SQL = f"""
WITH t AS (
    SELECT doc_id, source,
           len(list_intersect(list_distinct(string_split({_NORM_SQL}, ' ')),
                              ['slow', 'big'])) > 0 AS hit
    FROM documents
)
SELECT source,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_clean
FROM t
GROUP BY source
ORDER BY source
"""


def u4_llm_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 through the driver contract: batch LLM annotation of documents
    via `ask_column` (Arrow-batched pandas UDF, per-worker client
    singleton — the exact plumbing a real model rides). The echo backend
    is a deterministic template over the prompt, so the oracle recomputes
    the completion in SQL — verifying batching, the factory, and the
    prompt template end-to-end (operators/llm.py; reference
    llm_client.py:6-41)."""
    from etl_oms_spark.operators.llm import ask_column

    d = _t(spark, sf_dir, "documents")
    prompt = F.concat(F.lit("Summarize: "), F.col("text"))
    return d.select(
        "doc_id",
        ask_column(prompt).alias("answer"),
    ).orderBy("doc_id")


U4_SQL = """
WITH p AS (
    SELECT doc_id,
           string_split(regexp_replace(trim('Summarize: ' || text), '\\s+', ' ', 'g'),
                        ' ') AS w
    FROM documents
)
SELECT doc_id,
       'echo(' || CAST(len(w) AS VARCHAR) || '): ' ||
       array_to_string(w[1:3], ' ') AS answer
FROM p
ORDER BY doc_id
"""


def ck1_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint for migration/replication
    audits: per-row canonical rendering (dates ISO, money as exact
    cents) → md5 → 20-bit residue, summed with count — any engine/
    partitioning computes the identical pair, so two copies of a table
    compare with one number each (the cheap first check before tc1's
    row-level diff). One scan, map-side-combined aggregate, no shuffle
    beyond the 1-row merge. Residues are 20-bit (< 2^20), so the BIGINT
    sum stays exact to 2^63/2^20 ≈ 8.8·10^12 rows — genuinely past the
    10^12-row mark; the 30-bit residue this replaced was only safe to
    ~9·10^9 rows."""
    o = _t(spark, sf_dir, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
    )
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("long") % F.lit(
        1_048_576
    )
    # constant label as a JVM literal select, not a 1-row
    # createDataFrame+crossJoin: the list path parallelizes into
    # defaultParallelism pickled slices (32 Python-worker round trips)
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h).alias("checksum"),
    ).select(F.lit("orders").alias("table_name"), "n_rows", "checksum")


CK1_SQL = """
SELECT 'orders' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(
           CAST('0x' || substring(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' ||
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || '|' ||
               CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
           ), 1, 15) AS BIGINT) % 1048576
       ) AS BIGINT) AS checksum
FROM orders
"""


def pk2_packing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency telemetry over pk1's sharded packing: per shard,
    sequences produced, docs and tokens packed, and the utilization
    against the 2048-token budget — the padding-waste number every
    training pipeline tracks (wasted = 1 - utilization becomes pad
    tokens). Pure aggregate over the packing output; shards-sized
    result."""
    from etl_oms_spark.operators.sampling import (
        deterministic_shuffle,
        pack_sequences,
    )
    from etl_oms_spark.operators.text import whitespace_token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", whitespace_token_count("text").alias("n_tokens")
    )
    sharded = deterministic_shuffle(d, num_shards=8)
    packed = pack_sequences(
        sharded, "n_tokens", budget=2048, order_col="pos", shard_col="shard"
    )
    return (
        packed.groupBy("shard")
        .agg(
            (F.max("seq_id") + 1).cast("long").alias("n_seqs"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (
                F.sum("n_tokens").cast("double")
                / ((F.max("seq_id") + 1) * 2048).cast("double")
            ).alias("utilization"),
        )
        .orderBy("shard")
    )


PK2_SQL = f"""
WITH packed AS (
{PK1_SQL.replace("SELECT doc_id, shard,", "SELECT doc_id, shard, n_tokens,")}
)
SELECT shard,
       CAST(MAX(seq_id) + 1 AS BIGINT) AS n_seqs,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE)
           / CAST((MAX(seq_id) + 1) * 2048 AS DOUBLE) AS utilization
FROM packed
GROUP BY shard
ORDER BY shard
"""


def d11_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation self-audit: for every d7 LSH candidate pair, the
    signature-ESTIMATED Jaccard next to the EXACT 3-shingle Jaccard and
    the absolute error — the calibration readout that tells an operator
    whether 64 hashes / 16 bands is tight enough before trusting the
    estimator at full scale. Exact side is pair-bounded (|candidates| ≪
    n²): one array_intersect per surviving pair, never an all-pairs
    join."""
    from etl_oms_spark.operators.dedup import (
        estimate_jaccard,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, hash_method="md5")
    pairs = lsh_candidate_pairs(sigs, hash_method="md5")
    est = estimate_jaccard(sigs, pairs)
    sh = d.select("doc_id", shingles("text", 3).alias("__sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("__sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("__sb"))
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    exact = inter.cast("double") / (
        F.size("__sa") + F.size("__sb") - inter
    ).cast("double")
    return (
        est.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
        )
        .orderBy("id_a", "id_b")
    )


_D11_AGREE = " + ".join(
    f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)" for j in range(64)
)

D11_SQL = f"""
WITH {_build_d7_sql()},
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
),
ssize AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ns FROM sh GROUP BY doc_id),
inter AS (
    SELECT p.id_a, p.id_b, CAST(COUNT(*) AS BIGINT) AS ni
    FROM pairs p
    JOIN sh x ON x.doc_id = p.id_a
    JOIN sh y ON y.doc_id = p.id_b AND x.s = y.s
    GROUP BY p.id_a, p.id_b
),
agree AS (
    SELECT p.id_a, p.id_b, CAST({_D11_AGREE} AS BIGINT) AS m
    FROM pairs p
    JOIN sig a ON a.doc_id = p.id_a
    JOIN sig b ON b.doc_id = p.id_b
)
SELECT g.id_a, g.id_b,
       CAST(g.m AS DOUBLE) / 64.0 AS est_jaccard,
       CAST(COALESCE(i.ni, 0) AS DOUBLE)
           / CAST(sa.ns + sb.ns - COALESCE(i.ni, 0) AS DOUBLE) AS exact_jaccard,
       abs(CAST(g.m AS DOUBLE) / 64.0
           - CAST(COALESCE(i.ni, 0) AS DOUBLE)
             / CAST(sa.ns + sb.ns - COALESCE(i.ni, 0) AS DOUBLE)) AS abs_err
FROM agree g
LEFT JOIN inter i ON g.id_a = i.id_a AND g.id_b = i.id_b
JOIN ssize sa ON sa.doc_id = g.id_a
JOIN ssize sb ON sb.doc_id = g.id_b
ORDER BY g.id_a, g.id_b
"""


def d12_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup — the first (and cheapest) dedup pass of every web
    crawl, before any content hash: messy recrawl URLs (case/www/utm/
    fragment variants, two docs per page via doc_id % 250) canonicalize
    to the same key, and priority_dedup keeps the most-trusted copy.
    Composes url1's canonicalizer with d9's winner rule; one key shuffle
    (operators/text.py:canonicalize_url + operators/dedup.py:
    priority_dedup)."""
    from etl_oms_spark.operators.dedup import priority_dedup
    from etl_oms_spark.operators.text import canonicalize_url

    d = _t(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 250).cast("string")
    # recrawl variants: odd doc_ids carry tracking params + fragment and
    # a different host casing; canonical form collapses both to one key
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("https://site.example/page/"), page),
    ).otherwise(
        F.concat(
            F.lit("HTTP://WWW.SITE.EXAMPLE/page/"),
            page,
            F.lit("/?utm_source=recrawl#top"),
        )
    )
    # scheme differs between the variants (https vs http) — canonical key
    # is host+path, so strip the scheme from the dedup key
    key = F.regexp_replace(canonicalize_url(url), r"^[a-z]+://", "")
    d = d.withColumn("__url", url)
    return priority_dedup(d, {"src7": 0, "src3": 1}, key=key).orderBy("doc_id")


D12_SQL = f"""
WITH u AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 2 = 0
                THEN 'https://site.example/page/' || CAST(doc_id % 250 AS VARCHAR)
                ELSE 'HTTP://WWW.SITE.EXAMPLE/page/' || CAST(doc_id % 250 AS VARCHAR)
                     || '/?utm_source=recrawl#top' END AS url
    FROM documents
), p AS (
    SELECT doc_id, source,
           regexp_replace(lower(regexp_extract(url, '{_URL_RE_SQL}', 2)),
                          '^www\\.', '') ||
           CASE WHEN regexp_replace(regexp_extract(url, '{_URL_RE_SQL}', 3),
                                    '/+$', '') = '' THEN '/'
                ELSE regexp_replace(regexp_extract(url, '{_URL_RE_SQL}', 3),
                                    '/+$', '') END ||
           CASE WHEN array_to_string(
                    list_filter(string_split(
                        regexp_replace(regexp_extract(url, '{_URL_RE_SQL}', 4),
                                       '^\\?', ''), '&'),
                        x -> NOT regexp_matches(x, '^utm_') AND x <> ''),
                    '&') <> ''
                THEN '?' || array_to_string(
                    list_filter(string_split(
                        regexp_replace(regexp_extract(url, '{_URL_RE_SQL}', 4),
                                       '^\\?', ''), '&'),
                        x -> NOT regexp_matches(x, '^utm_') AND x <> ''),
                    '&')
                ELSE '' END AS key
    FROM u
), r AS (
    SELECT *,
           CASE source WHEN 'src7' THEN 0 WHEN 'src3' THEN 1
                ELSE 1000000 END AS pri
    FROM p
)
SELECT (min(struct_pack(p := pri, i := doc_id, s := source))).i AS doc_id,
       (min(struct_pack(p := pri, i := doc_id, s := source))).s AS source,
       CAST(COUNT(*) AS BIGINT) AS dup_count,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM r
GROUP BY key
ORDER BY doc_id
"""


def f13_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type surface: events.props JSON parsed into a map<string,int>
    (`from_json` MapType — the schema-on-read form for ragged key sets
    where a struct would fossilize the schema), then size /
    element_at / map_contains_key scalarized for the compare harness.
    Pure column exprs; the oracle reads the same JSON with DuckDB's json
    functions."""
    ev = _events(spark, sf_dir)
    mp = F.from_json(F.col("props"), "map<string,int>")
    return ev.select(
        "event_id",
        F.size(mp).cast("int").alias("n_keys"),
        F.element_at(mp, "k").alias("k_val"),
        mp.getItem("missing").isNotNull().alias("has_missing"),
    ).orderBy("event_id")


F13_SQL = """
SELECT event_id,
       CAST(len(json_keys(props)) AS INT) AS n_keys,
       CAST(json_extract(props, '$.k') AS INT) AS k_val,
       json_extract(props, '$.missing') IS NOT NULL AS has_missing
FROM events
ORDER BY event_id
"""


def tm2_temperature_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute tm1's temperature plan: per-language deterministic
    md5-bucket sampling at rate planned_docs/n_docs (apply_mix_plan with
    the doc-count pair) — the plan→apply symmetry mx1→mx2 has, for alpha
    sampling. Kept set is partitioning-independent and monotone in the
    rate; the corpus never shuffles (broadcast plan + filter). Reports
    achieved per-language counts beside the plan's target."""
    from etl_oms_spark.operators.sampling import apply_mix_plan, temperature_mix

    docs = _t(spark, sf_dir, "documents")
    plan = temperature_mix(docs, budget_docs=400, alpha=0.3, group_col="lang")
    kept = apply_mix_plan(
        docs,
        plan,
        source_col="lang",
        salt="temp",
        planned_col="planned_docs",
        total_col="n_docs",
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
        .join(
            F.broadcast(plan.select("lang", "planned_docs")), "lang"
        )
        .orderBy("lang")
    )


TM2_SQL = """
WITH per AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM per),
w AS (
    SELECT lang, n_docs,
           CAST(round(pow(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE), 0.3)
                      * 1000000000) AS BIGINT) AS wq
    FROM per, tot
), ws AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum FROM w),
plan AS (
    SELECT lang, n_docs,
           least((400 * wq) // wsum, n_docs) AS planned_docs
    FROM w, ws
),
kept AS (
    SELECT d.lang
    FROM documents d JOIN plan p ON d.lang = p.lang
    WHERE CAST('0x' || substring(md5('temp|' || CAST(d.doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 1000000
          < CAST(floor(p.planned_docs * 1000000.0 / p.n_docs) AS BIGINT)
)
SELECT k.lang, CAST(COUNT(*) AS BIGINT) AS n_kept, p.planned_docs
FROM kept k JOIN plan p ON k.lang = p.lang
GROUP BY k.lang, p.planned_docs
ORDER BY k.lang
"""


def an1_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection on the daily revenue series: day-of-week
    baseline (exact integer n/Σ/Σ² per weekday) → z-score as pure integer
    algebra, z = (n·x − S) / sqrt(n·Q − S²) — no mean/std doubles until
    the final division, so both engines agree bit-for-bit. Flags |z| > 2
    days. Weekday is the portable epoch-day mod 7 (engine dayofweek
    conventions differ). Two aggregates (days-sized, then 7-sized
    broadcast back); revenue kept in exact k$ units so Σ² stays far
    inside BIGINT at 100× scale."""
    o = _t(spark, sf_dir, "orders")
    # portable exact k$: integer DIV of the exact cent sum
    daily = o.groupBy("o_orderdate").agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100000 AS BIGINT)"
        ).alias("rev_k")
    )
    dow = (
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) % 7
    ).alias("dow")
    d = daily.select("o_orderdate", "rev_k", dow)
    base = d.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev_k").alias("s"),
        F.sum(F.col("rev_k") * F.col("rev_k")).alias("q"),
    )
    j = d.join(F.broadcast(base), "dow")
    z = (F.col("n") * F.col("rev_k") - F.col("s")).cast("double") / F.sqrt(
        (F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast("double")
    )
    return (
        j.select(
            "o_orderdate",
            F.col("dow").cast("int").alias("dow"),
            "rev_k",
            F.col("n").cast("long").alias("n_dow"),
            z.alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > 2.0)
        .orderBy("o_orderdate")
    )


AN1_SQL = """
WITH daily AS (
    SELECT o_orderdate,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
                AS BIGINT) AS rev_k
    FROM orders GROUP BY o_orderdate
), d AS (
    SELECT o_orderdate, rev_k,
           CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) % 7 AS dow
    FROM daily
), base AS (
    SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(rev_k) AS BIGINT) AS s,
           CAST(SUM(rev_k * rev_k) AS BIGINT) AS q
    FROM d GROUP BY dow
)
SELECT o_orderdate, CAST(d.dow AS INT) AS dow, rev_k, n AS n_dow,
       CAST(n * rev_k - s AS DOUBLE) / sqrt(CAST(n * q - s * s AS DOUBLE)) AS zscore
FROM d JOIN base ON d.dow = base.dow
WHERE abs(CAST(n * rev_k - s AS DOUBLE) / sqrt(CAST(n * q - s * s AS DOUBLE))) > 2.0
ORDER BY o_orderdate
"""


def rfm1_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days to a fixed reference
    date), frequency (order count), monetary (exact cents) per customer,
    each quintile-scored with `grouped_ntile` — the scale-safe ntile
    lowering (distributed rank + NTile arithmetic, NO customers-wide
    window partition). Segment = concatenated R/F/M scores, the classic
    warehouse marketing analytic. Deterministic quintiles: every order
    column is exact and ties break on custkey
    (operators/quantiles.py:grouped_ntile)."""
    from etl_oms_spark.operators.quantiles import grouped_ntile

    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(F.lit("2002-01-01"), F.max("o_orderdate"))
        .cast("long")
        .alias("r_days"),
        F.count(F.lit(1)).cast("long").alias("f_orders"),
        F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("m_cents"),
    ).withColumn("__g", F.lit(1))
    scored = grouped_ntile(
        rfm, ["__g"], [F.col("r_days").asc(), F.col("o_custkey").asc()], 5,
        bucket_col="__r_inv",
    )
    scored = scored.withColumn("r_score", (F.lit(6) - F.col("__r_inv")).cast("int"))
    scored = grouped_ntile(
        scored, ["__g"],
        [F.col("f_orders").desc(), F.col("o_custkey").asc()], 5,
        bucket_col="__f_inv",
    ).withColumn("f_score", (F.lit(6) - F.col("__f_inv")).cast("int"))
    scored = grouped_ntile(
        scored, ["__g"],
        [F.col("m_cents").desc(), F.col("o_custkey").asc()], 5,
        bucket_col="__m_inv",
    ).withColumn("m_score", (F.lit(6) - F.col("__m_inv")).cast("int"))
    return scored.select(
        "o_custkey",
        "r_days",
        "f_orders",
        "m_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    ).orderBy("o_custkey")


RFM1_SQL = """
WITH rfm AS (
    SELECT o_custkey,
           CAST(DATE '2002-01-01' - CAST(MAX(o_orderdate) AS DATE) AS BIGINT)
               AS r_days,
           CAST(COUNT(*) AS BIGINT) AS f_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS m_cents
    FROM orders GROUP BY o_custkey
), scored AS (
    SELECT *,
           CAST(6 - NTILE(5) OVER (ORDER BY r_days ASC, o_custkey ASC) AS INT)
               AS r_score,
           CAST(6 - NTILE(5) OVER (ORDER BY f_orders DESC, o_custkey ASC) AS INT)
               AS f_score,
           CAST(6 - NTILE(5) OVER (ORDER BY m_cents DESC, o_custkey ASC) AS INT)
               AS m_score
    FROM rfm
)
SELECT o_custkey, r_days, f_orders, m_cents, r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
           || CAST(m_score AS VARCHAR) AS segment
FROM scored
ORDER BY o_custkey
"""


def fi2_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over fi1's frequent pairs: confidence
    supp(ab)/supp(a) and lift conf/P(b) per directed rule a→b — the
    Apriori readout on top of the co-occurrence counts. Item supports
    are one extra items-keyed aggregate (broadcast back — parts-NDV
    sized); the basket total is a scalar. All ratios derive from exact
    BIGINT counts, so both engines agree bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders_tot = items.select("l_orderkey").distinct().count()
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    supp = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    # both directions of every frequent pair
    rules = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "n_ab",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "n_ab",
        )
    )
    sa = supp.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_item").alias("n_a")
    )
    sb = supp.select(
        F.col("l_partkey").alias("consequent"), F.col("n_item").alias("n_b")
    )
    conf = F.col("n_ab").cast("double") / F.col("n_a").cast("double")
    lift = (
        F.col("n_ab").cast("double") * F.lit(float(n_orders_tot))
    ) / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    return (
        rules.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sb), "consequent")
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            F.col("n_a"),
            F.col("n_b"),
            conf.alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


FI2_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), tot AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
), supp AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item FROM items GROUP BY 1
), rules AS (
  SELECT part_a AS antecedent, part_b AS consequent, n_ab FROM pairs
  UNION ALL
  SELECT part_b AS antecedent, part_a AS consequent, n_ab FROM pairs
)
SELECT r.antecedent, r.consequent, r.n_ab,
       sa.n_item AS n_a, sb.n_item AS n_b,
       CAST(r.n_ab AS DOUBLE) / CAST(sa.n_item AS DOUBLE) AS confidence,
       CAST(r.n_ab AS DOUBLE) * CAST(tot.n AS DOUBLE)
           / (CAST(sa.n_item AS DOUBLE) * CAST(sb.n_item AS DOUBLE)) AS lift
FROM rules r
JOIN supp sa ON r.antecedent = sa.l_partkey
JOIN supp sb ON r.consequent = sb.l_partkey
CROSS JOIN tot
ORDER BY r.antecedent, r.consequent
"""


def tp4_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3b capstone: a pretraining-release pipeline composed
    entirely from this batch's operators — Gopher gate + blocklist →
    URL-keyed recrawl dedup (canonical key winner) → classifier top-50%
    per source (histogram-threshold selection) → temperature-scaled
    language mix (alpha 0.3, 200-doc budget) applied via md5 buckets —
    reported per language with exact token totals. Every stage is an
    independently-oracled operator; the composition carries its own
    end-to-end exact oracle, the strongest no-semantic-drift statement.
    Plan: linear gates, one URL-key shuffle, the three top-fraction
    folds, a groups-sized mix plan — the corpus is never windowed."""
    from etl_oms_spark.operators.classifier import (
        select_top_fraction,
        synthetic_weights,
    )
    from etl_oms_spark.operators.sampling import apply_mix_plan, temperature_mix
    from etl_oms_spark.operators.text import (
        canonicalize_url,
        gopher_rules,
        tokens,
        whitespace_token_count,
    )

    d = _t(spark, sf_dir, "documents")
    blockhit = (
        F.size(
            F.array_intersect(
                tokens("text"), F.array(*[F.lit(w) for w in _BLOCKLIST])
            )
        )
        > 0
    )
    gated = d.filter(gopher_rules(F.col("text"), min_words=30)["pass"] & ~blockhit)
    page = (F.col("doc_id") % 250).cast("string")
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("https://site.example/page/"), page),
    ).otherwise(
        F.concat(
            F.lit("HTTP://WWW.SITE.EXAMPLE/page/"),
            page,
            F.lit("/?utm_source=recrawl#top"),
        )
    )
    key = F.regexp_replace(canonicalize_url(url), r"^[a-z]+://", "")
    win = (
        gated.withColumn("__k", key)
        .groupBy("__k")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # u and surv each feed branches that diverge BEFORE their first
    # exchange (classifier explode, histogram fold, final semi, mix
    # plan) — exactly the shape where a lazy localCheckpoint pays (the
    # tp3 rule, SCALING.md): measured 9.1s → 2.5s warm at sf0.1,
    # identical output
    u = gated.join(F.broadcast(win), "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    sel = select_top_fraction(u, synthetic_weights(spark, 1024), frac=0.5)
    surv = u.join(sel.select("doc_id"), "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    plan = temperature_mix(surv, budget_docs=200, alpha=0.3, group_col="lang")
    kept = apply_mix_plan(
        surv,
        plan,
        source_col="lang",
        salt="rel",
        planned_col="planned_docs",
        total_col="n_docs",
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(whitespace_token_count("text").cast("long"))
            .cast("long")
            .alias("total_tokens"),
        )
        .orderBy("lang")
    )


TP4_SQL = rf"""
WITH g AS (
  SELECT doc_id,
         {_NORM_SQL} AS norm,
         {_WS} AS n_words,
         greatest({_WS}, 1) AS sw
  FROM documents
),
passed AS (
  SELECT g.doc_id
  FROM g JOIN documents USING (doc_id)
  WHERE n_words >= 30 AND n_words <= 100000
    AND (CAST(length(norm) - (n_words - 1) AS DOUBLE) / sw) >= 3.0
    AND (CAST(length(norm) - (n_words - 1) AS DOUBLE) / sw) <= 10.0
    AND CAST(len(regexp_extract_all(norm, '#|\.\.\.'))
             + len(regexp_extract_all(norm, '…')) AS DOUBLE) / sw <= 0.1
    AND CAST(len(list_filter(string_split(norm, ' '),
                             t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
          / sw >= 0.8
    AND len(regexp_extract_all(lower(text),
            '\b(the|a|an|and|or|of|to|in|is|it)\b')) >= 2
    AND len(list_intersect(list_distinct(string_split(norm, ' ')),
                           ['slow', 'big'])) = 0
),
u0 AS (
  -- both recrawl variants canonicalize to the same scheme-less key
  -- (the canonicalizer itself is oracled in url1/d12)
  SELECT d.doc_id, d.source, d.lang,
         'site.example/page/' || CAST(d.doc_id % 250 AS VARCHAR) AS key
  FROM documents d JOIN passed USING (doc_id)
),
win AS (SELECT key, MIN(doc_id) AS doc_id FROM u0 GROUP BY key),
u AS (SELECT u0.* FROM u0 JOIN win ON u0.doc_id = win.doc_id),
w AS (
    SELECT bucket,
           (CAST('0x' || substring(md5('w|' || CAST(bucket AS VARCHAR)), 1, 15)
                 AS BIGINT) % 21 - 10) * 1000000 AS w_q
    FROM (SELECT unnest(range(0, 1024)) AS bucket)
),
tok AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
    FROM documents WHERE doc_id IN (SELECT doc_id FROM u)
),
feats AS (
    SELECT doc_id,
           CAST('0x' || substring(md5('qc' || '|' || term), 1, 15) AS BIGINT)
             % 1024 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, term
),
feats2 AS (
    SELECT doc_id, bucket, CAST(SUM(tf) AS BIGINT) AS tf
    FROM feats GROUP BY doc_id, bucket
),
scored AS (
    SELECT u.doc_id, u.source, u.lang, COALESCE(s.margin_q, 0) AS margin_q
    FROM u
    LEFT JOIN (
        SELECT doc_id, CAST(SUM(tf * w_q) AS BIGINT) AS margin_q
        FROM feats2 JOIN w USING (bucket) GROUP BY doc_id
    ) s ON u.doc_id = s.doc_id
),
hist AS (
    SELECT source, margin_q, CAST(COUNT(*) AS BIGINT) AS n
    FROM scored GROUP BY source, margin_q
),
cum AS (
    SELECT source, margin_q,
           SUM(n) OVER (PARTITION BY source ORDER BY margin_q DESC) AS cnt_ge
    FROM hist
),
tots AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM scored GROUP BY source),
thr AS (
    SELECT cum.source, MAX(margin_q) AS t
    FROM cum JOIN tots USING (source)
    WHERE cnt_ge >= CAST(ceil(0.5 * n_docs) AS BIGINT)
    GROUP BY cum.source
),
surv AS (
    SELECT s.doc_id, s.lang
    FROM scored s JOIN thr ON s.source = thr.source
    WHERE s.margin_q >= thr.t
),
per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM surv GROUP BY lang),
tot2 AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM per),
tw AS (
    SELECT lang, n_docs,
           CAST(round(pow(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE), 0.3)
                      * 1000000000) AS BIGINT) AS wq
    FROM per, tot2
),
tws AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum FROM tw),
plan AS (
    SELECT lang, n_docs,
           least((200 * wq) // wsum, n_docs) AS planned_docs
    FROM tw, tws
),
kept AS (
    SELECT s.doc_id, s.lang
    FROM surv s JOIN plan p ON s.lang = p.lang
    WHERE CAST('0x' || substring(md5('rel|' || CAST(s.doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 1000000
          < CAST(floor(p.planned_docs * 1000000.0 / p.n_docs) AS BIGINT)
)
SELECT k.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(g.n_words) AS BIGINT) AS total_tokens
FROM kept k JOIN g ON k.doc_id = g.doc_id
GROUP BY k.lang
ORDER BY k.lang
"""


def gn1_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Gini coefficient) across customers: exact
    integer Lorenz form G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx) over
    customers ranked ascending by exact cent revenue (custkey tiebreak).
    Ranks come from `with_global_index` — range partition + offset
    cumsum, NO single-partition global sort — so the one corpus-order
    dependence stays scalable. The rank-weighted sum Σ(i·xᵢ) runs in
    DECIMAL(38,0) (matching the DuckDB oracle's HUGEINT): with per-rank
    terms bounded by n·max(m_cents), an int64 sum overflows near
    n≈3·10⁵ customers at $1M lifetime revenue, while the decimal sum is
    safe to n≈10¹⁴ — only the final division goes double."""
    from etl_oms_spark.util import with_global_index

    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("m_cents")
    )
    idx = with_global_index(per, ["m_cents", "o_custkey"], index_col="__i")
    agg = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m_cents").alias("s"),
        F.sum(
            (F.col("__i") + 1).cast("decimal(18,0)")
            * F.col("m_cents").cast("decimal(18,0)")
        ).alias("ws"),
    )
    num = (
        F.col("ws") * F.lit(2)
        - (F.col("n") + 1).cast("decimal(20,0)") * F.col("s").cast("decimal(20,0)")
    )
    gini = num.cast("double") / (
        F.col("n").cast("double") * F.col("s").cast("double")
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("s").cast("long").alias("total_cents"),
        gini.alias("gini"),
    )


GN1_SQL = """
WITH per AS (
    SELECT o_custkey,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_cents
    FROM orders GROUP BY o_custkey
), ranked AS (
    SELECT m_cents,
           ROW_NUMBER() OVER (ORDER BY m_cents ASC, o_custkey ASC) AS i
    FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(m_cents) AS BIGINT) AS total_cents,
       CAST(2 * SUM(i * m_cents) - (COUNT(*) + 1) * SUM(m_cents) AS DOUBLE)
           / CAST(COUNT(*) * SUM(m_cents) AS DOUBLE) AS gini
FROM ranked
"""


def ln1_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration curve: customer revenue deciles (ascending,
    `grouped_ntile` — scale-safe rank, no global window) with each
    decile's exact revenue share — the curve behind gn1's Gini scalar
    ("the top decile holds X% of revenue"). All BIGINT sums; one double
    division per decile against the scalar total."""
    from etl_oms_spark.operators.quantiles import grouped_ntile

    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("m_cents")
    ).withColumn("__g", F.lit(1))
    dec = grouped_ntile(
        per, ["__g"], [F.col("m_cents").asc(), F.col("o_custkey").asc()], 10,
        bucket_col="decile",
    )
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("m_cents").cast("long").alias("decile_cents"),
    )
    tot = agg.agg(F.sum("decile_cents").alias("__t"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            "decile_cents",
            (
                F.col("decile_cents").cast("double") / F.col("__t").cast("double")
            ).alias("revenue_share"),
        )
        .orderBy("decile")
    )


LN1_SQL = """
WITH per AS (
    SELECT o_custkey,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_cents
    FROM orders GROUP BY o_custkey
), dec AS (
    SELECT m_cents,
           NTILE(10) OVER (ORDER BY m_cents ASC, o_custkey ASC) AS decile
    FROM per
), agg AS (
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(m_cents) AS BIGINT) AS decile_cents
    FROM dec GROUP BY decile
), tot AS (SELECT CAST(SUM(decile_cents) AS BIGINT) AS t FROM agg)
SELECT CAST(decile AS INT) AS decile, n_customers, decile_cents,
       CAST(decile_cents AS DOUBLE) / CAST(t AS DOUBLE) AS revenue_share
FROM agg, tot
ORDER BY decile
"""


def cl2_cluster_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling: top-3 TF-IDF terms per k-means embedding cluster
    (cluster tf × corpus idf — the SemDeDup-diagnostics step that makes
    cluster ids human-readable). Links the embedding and text pillars
    through the shared id space; per-(cluster, term) aggregate is
    NDV-bounded, the rank window is clusters×terms-sized, and the
    quantized ln keeps the oracle exact (clustering + search
    composition)."""
    from etl_oms_spark.operators.clustering import kmeans_assign, kmeans_fit
    from etl_oms_spark.operators.search import tfidf_vectors

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    assigned = kmeans_assign(emb, kmeans_fit(emb, k=8, n_iter=2)).select(
        F.col("vec_id").alias("doc_id"), "cluster"
    )
    v = tfidf_vectors(docs)
    n_docs = docs.count()
    ct = (
        v.join(assigned, "doc_id")
        .groupBy("cluster", "term")
        .agg(F.sum("tf").cast("long").alias("ctf"), F.max("df").alias("df"))
    )
    score = F.floor(
        F.col("ctf")
        * F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
        * F.lit(1_000_000)
        + F.lit(0.5)
    ).cast("long")
    scored = ct.select(
        F.col("cluster").cast("int").alias("cluster"), "term", score.alias("score_q")
    )
    w = Window.partitionBy("cluster").orderBy(F.col("score_q").desc(), F.col("term"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 3)
        .drop("__r")
        .orderBy("cluster", "term")
    )


CL2_SQL = f"""
WITH RECURSIVE {_kmeans_cte_sql(8, 2)},
toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
ct AS (
    SELECT f.cluster, tf.term, CAST(SUM(tf.tf) AS BIGINT) AS ctf,
           MAX(d.df) AS df
    FROM tf
    JOIN final_assign f ON tf.doc_id = f.vec_id
    JOIN dfreq d ON tf.term = d.term
    GROUP BY f.cluster, tf.term
),
scored AS (
    SELECT CAST(cluster AS INT) AS cluster, term,
           CAST(floor(ctf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000 + 0.5)
                AS BIGINT) AS score_q
    FROM ct CROSS JOIN n
)
SELECT cluster, term, score_q
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cluster ORDER BY score_q DESC, term) AS rn
    FROM scored
) WHERE rn <= 3
ORDER BY cluster, term
"""


def br1_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session bounce-rate by weekday: single-event sessions / all
    sessions over the gap-sessionized stream, plus exact events-per-
    session — the product-analytics readout on top of ev_sessionize's
    machinery. Weekday is the portable epoch-day mod 7; ratios derive
    from exact BIGINT counts; the aggregate is 7 rows."""
    from etl_oms_spark.operators.stateful import sessionize

    s = sessionize(_events(spark, sf_dir), gap="10 minutes")
    dow = (
        (F.datediff(F.to_date("session_start"), F.lit("1970-01-01")) % 7)
        .cast("long")
    ).alias("dow")
    return (
        s.select(dow, "n_events")
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounced"),
            (
                F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("bounce_rate"),
            (
                F.sum("n_events").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("events_per_session"),
        )
        .orderBy("dow")
    )


BR1_SQL = f"""
WITH sessions AS ({EV_SESSION_SQL})
SELECT CAST(CAST(CAST(session_start AS DATE) - DATE '1970-01-01' AS BIGINT) % 7
            AS BIGINT) AS dow,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounced,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS bounce_rate,
       CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS events_per_session
FROM sessions
GROUP BY 1
ORDER BY 1
"""


def dr2_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score drift: PSI of one source's quality distribution vs
    the rest of the corpus — the monitoring compose that answers "did
    this crawl drop's quality shift from the baseline we curated
    against?". Scores quantized to exact 1e-6 micros feed dr1's
    bucketed-PSI machinery (1e-9-quantized contributions, bit-stable
    totals) (operators/validate.psi_drift × operators/text.quality_score)."""
    from etl_oms_spark.operators.text import quality_score
    from etl_oms_spark.operators.validate import psi_drift

    d = _t(spark, sf_dir, "documents").withColumn(
        "q_micro", F.round(quality_score("text") * F.lit(1_000_000)).cast("long")
    )
    return psi_drift(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        "q_micro",
    ).orderBy("bucket")


DR2_SQL = f"""
WITH q AS (
  SELECT source,
         CAST(round(({_QUALITY_EXPR_SQL}) * 1000000) AS BIGINT) AS v
  FROM documents
),
tagged AS (
  SELECT v, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS side FROM q
),
b AS (SELECT min(v) AS lo, max(v) - min(v) + 1 AS span FROM tagged),
counts AS (
  SELECT CAST(floor((v - lo) * 10 / span) AS INT) AS bucket,
         count(*) FILTER (WHERE side = 0) AS n_base,
         count(*) FILTER (WHERE side = 1) AS n_cur
  FROM tagged, b GROUP BY 1
),
t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM counts)
SELECT bucket, CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
       CAST(floor(
         ((n_cur + 1) / (tc + 10) - (n_base + 1) / (tb + 10))
         * ln(((n_cur + 1) / (tc + 10)) / ((n_base + 1) / (tb + 10)))
         * 1000000000 + 0.5) AS BIGINT) AS psi_q9
FROM counts, t
ORDER BY bucket
"""


def iet1_interpurchase_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase-time distribution: per-user gaps between consecutive
    purchase events (exact integer seconds via one user-keyed lag window)
    fed into the equal-width histogram machinery — the arrival-process
    readout behind retention/CLV modeling. Integer bucket edges stay
    bit-exact cross-engine (transform.fixed_width_histogram)."""
    from etl_oms_spark.transform import fixed_width_histogram

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        ev.withColumn("__prev", F.lag("ts").over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            (
                F.unix_timestamp("ts") - F.unix_timestamp("__prev")
            ).cast("long").alias("gap_s")
        )
    )
    return fixed_width_histogram(gaps, "gap_s", n_buckets=12)


IET1_SQL = """
WITH p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), g AS (
  -- floor each epoch separately (Spark's unix_timestamp floors per
  -- timestamp; trunc-of-difference would diverge on sub-second parts)
  SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
              - floor(epoch(CAST(LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) AS TIMESTAMP))) AS BIGINT) AS gap_s
  FROM p
  QUALIFY LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NOT NULL
),
b AS (SELECT min(gap_s) AS lo, max(gap_s) - min(gap_s) + 1 AS span FROM g)
SELECT CAST(floor((gap_s - lo) * 12 / span) AS INT) AS bucket,
       CAST(lo + floor(floor((gap_s - lo) * 12 / span) * span / 12) AS BIGINT)
         AS bucket_lo,
       CAST(lo + floor((floor((gap_s - lo) * 12 / span) + 1) * span / 12) - 1
            AS BIGINT) AS bucket_hi,
       CAST(count(*) AS BIGINT) AS n_rows
FROM g, b
GROUP BY bucket, bucket_lo, bucket_hi
"""


def hh1_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier concentration per part type: revenue
    shares within each type, HHI = Σ share² with every contribution
    quantized to 1e-12 BEFORE the sum (the zf1/st3 policy — double
    addition is order-dependent, quantized BIGINT addition is not).
    Two key-bounded aggregates; the share join is types-sized broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    per = (
        li.join(F.broadcast(p.select("p_partkey", "p_type")),
                li["l_partkey"] == p["p_partkey"])
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(rev).cast("long").alias("s_cents"))
    )
    tot = per.groupBy("p_type").agg(
        F.sum("s_cents").alias("t_cents"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    share = F.col("s_cents").cast("double") / F.col("t_cents").cast("double")
    contrib = F.floor(share * share * F.lit(1e12) + F.lit(0.5)).cast("long")
    return (
        per.join(F.broadcast(tot), "p_type")
        .groupBy("p_type")
        .agg(
            F.first("n_suppliers").alias("n_suppliers"),
            F.sum(contrib).alias("hhi_q12"),
        )
        .withColumn("hhi", F.col("hhi_q12").cast("double") / F.lit(1e12))
        .orderBy("p_type")
    )


HH1_SQL = """
WITH per AS (
  SELECT p_type, l_suppkey,
         CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS s_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type, l_suppkey
), tot AS (
  SELECT p_type, CAST(SUM(s_cents) AS BIGINT) AS t_cents,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM per GROUP BY p_type
)
SELECT per.p_type, tot.n_suppliers,
       CAST(SUM(CAST(floor(
           (CAST(s_cents AS DOUBLE) / CAST(t_cents AS DOUBLE))
           * (CAST(s_cents AS DOUBLE) / CAST(t_cents AS DOUBLE))
           * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS hhi_q12,
       CAST(SUM(CAST(floor(
           (CAST(s_cents AS DOUBLE) / CAST(t_cents AS DOUBLE))
           * (CAST(s_cents AS DOUBLE) / CAST(t_cents AS DOUBLE))
           * 1e12 + 0.5) AS BIGINT)) AS BIGINT) / 1e12 AS hhi
FROM per JOIN tot ON per.p_type = tot.p_type
GROUP BY per.p_type, tot.n_suppliers
ORDER BY per.p_type
"""


def yoy1_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth: exact-cent monthly totals,
    lag-12 self-comparison over the months-sized series (the window
    partitions a ~tens-of-rows frame, never the corpus), growth as one
    double division of BIGINTs. The standard finance readout beside
    qa1's month-over-month momentum."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("rev_cents"))
    w = Window.orderBy("yr", "mo")
    out = monthly.withColumn("__prev", F.lag("rev_cents", 12).over(w))
    return (
        out.filter(F.col("__prev").isNotNull())
        .select(
            F.col("yr").cast("int").alias("yr"),
            F.col("mo").cast("int").alias("mo"),
            "rev_cents",
            F.col("__prev").alias("rev_cents_prior_year"),
            (
                (F.col("rev_cents") - F.col("__prev")).cast("double")
                / F.col("__prev").cast("double")
            ).alias("yoy_growth"),
        )
        .orderBy("yr", "mo")
    )


YOY1_SQL = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1, 2
), lagged AS (
  SELECT yr, mo, rev_cents,
         LAG(rev_cents, 12) OVER (ORDER BY yr, mo) AS prev
  FROM monthly
)
SELECT yr, mo, rev_cents, prev AS rev_cents_prior_year,
       CAST(rev_cents - prev AS DOUBLE) / CAST(prev AS DOUBLE) AS yoy_growth
FROM lagged WHERE prev IS NOT NULL
ORDER BY yr, mo
"""


def d13_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup telemetry: per source, how many docs are redundant copies
    (non-winners) under the prefix-8 fingerprint rule — the "which feed
    is mostly recycled content" report that prioritizes crawl budget.
    One fingerprint groupBy for winners + a sources-sized aggregate."""
    from etl_oms_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, 8)))
    keyed = d.select("doc_id", "source", key.alias("__fp"))
    winners = keyed.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    flagged = keyed.join(
        F.broadcast(winners.select("doc_id")), "doc_id", "left_semi"
    ).select("doc_id").withColumn("__w", F.lit(1))
    return (
        keyed.join(flagged.select("doc_id", "__w"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("__w").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_redundant"),
            (
                F.sum(F.when(F.col("__w").isNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


D13_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source,
         md5(array_to_string((string_split({_NORM_SQL}, ' '))[1:8], ' ')) AS fp
  FROM documents
), winners AS (
  SELECT MIN(doc_id) AS doc_id FROM keyed GROUP BY fp
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN k.doc_id IN (SELECT doc_id FROM winners)
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_redundant,
       CAST(SUM(CASE WHEN k.doc_id IN (SELECT doc_id FROM winners)
                     THEN 0 ELSE 1 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM keyed k
GROUP BY source
ORDER BY source
"""


def stp1_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming capstone — tp4's Structured-Streaming analogue, run end
    to end: documents arrive as three availableNow waves (ascending
    doc_id ranges — the daily-drop simulation), each micro-batch dedups
    against the persistent fingerprint ledger via
    streaming.events.foreach_batch_incremental_dedup (per-batch dynamic
    partition overwrite, ledger commits last — replay-idempotent), and
    the surviving corpus rolls up per source (docs kept, whitespace
    tokens). Because waves ascend by doc_id, the first wave containing a
    fingerprint also holds its global min doc_id, so the streaming
    winner set provably equals batch exact-dedup's (d1) and the whole
    pipeline has an exact batch-twin oracle. The sources-sized result is
    materialized eagerly so the temp corpus/ledger/checkpoint are
    removed before returning."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from etl_oms_spark.operators.text import whitespace_token_count
    from etl_oms_spark.streaming.events import foreach_batch_incremental_dedup

    d = _t(spark, sf_dir, "documents")
    max_id = d.agg(F.max("doc_id")).collect()[0][0]
    cuts = [0, max_id // 3 + 1, 2 * max_id // 3 + 1, max_id + 1]

    tmp = tempfile.mkdtemp(prefix="stp1_")
    try:
        src = os.path.join(tmp, "src")
        corpus = os.path.join(tmp, "corpus")
        ledger = os.path.join(tmp, "ledger")
        os.makedirs(src)
        # one availableNow RUN, one micro-batch per wave: all three wave
        # files land first with PINNED ascending mtimes (FileStreamSource
        # orders unread files by modification time, oldest first) and
        # maxFilesPerTrigger=1 makes each wave its own micro-batch, so
        # every wave still dedups against the ledger state left by the
        # previous one — identical batch boundaries to the historical
        # three query restarts, with the query-start/checkpoint machinery
        # paid once instead of three times (the ssw1/scs1/sps1 lesson)
        import time as _time

        t_base = _time.time() - 3600
        for k in range(3):
            wave_dir = os.path.join(tmp, f"wave{k}")
            (
                d.filter(
                    (F.col("doc_id") >= cuts[k]) & (F.col("doc_id") < cuts[k + 1])
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(wave_dir)
            )
            part = _glob.glob(os.path.join(wave_dir, "part-*.parquet"))[0]
            dst = os.path.join(src, f"wave{k}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (t_base + 10 * k, t_base + 10 * k))
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                foreach_batch_incremental_dedup(corpus, ledger, spark)
            )
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            spark.read.parquet(corpus)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(whitespace_token_count("text"))
                .cast("long")
                .alias("total_tokens"),
            )
            .orderBy("source")
        )
        # eager JVM-side materialization (see ssw1's tail note); the
        # casts above already pin the source/n_docs/total_tokens types
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


STP1_SQL = f"""
WITH w AS (
    SELECT MIN(doc_id) AS doc_id
    FROM documents
    GROUP BY {_NORM_SQL}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({_WS}) AS BIGINT) AS total_tokens
FROM documents JOIN w USING (doc_id)
GROUP BY source
ORDER BY source
"""


def er1_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution capstone — the full ER pipeline in one plan:
    three deterministic 'source systems' emit dirty copies of every
    customer (CRM exact; web lowercased; legacy '#'→' ', only for
    custkey%3==0), records block on (nation, segment, exact cents),
    match within blocks on Levenshtein ≤ 2, matched pairs close
    transitively (operators/graph.connected_components — the same
    iterative min-label CC cc1 uses), and each entity reports its
    record/source counts plus the golden name (the record whose id IS
    the component label — min custkey's CRM copy). Cost shape: blocking
    keeps the pair join at Σ block² (never all-pairs), CC is
    O(log diameter) rounds, and the golden join is entity-sized."""
    from etl_oms_spark.operators.graph import connected_components

    c = _t(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        _cents(F.col("c_acctbal")).cast("long").alias("acct_cents"),
    )

    def src(rank: int, name_expr, frame):
        return frame.select(
            (F.col("c_custkey") * 10 + rank).alias("record_id"),
            name_expr.alias("name"),
            "c_nationkey",
            "c_mktsegment",
            "acct_cents",
            F.lit(rank).alias("src_rank"),
        )

    rec = (
        src(1, F.col("c_name"), base)
        .unionAll(src(2, F.lower(F.col("c_name")), base))
        .unionAll(
            src(
                3,
                F.regexp_replace(F.col("c_name"), "#", " "),
                base.filter(F.col("c_custkey") % 3 == 0),
            )
        )
        # lazy barrier: rec feeds FOUR branches (both blocking self-join
        # sides, the label join, the golden-name projection) — the r14
        # plan audit showed 12 customer scans from re-deriving it per
        # branch. One narrow (id, name, 3 block keys) materialization.
        .localCheckpoint(eager=False)
    )
    a = rec.select(
        F.col("record_id").alias("u"),
        F.col("name").alias("__na"),
        "c_nationkey",
        "c_mktsegment",
        "acct_cents",
    )
    b = rec.select(
        F.col("record_id").alias("v"),
        F.col("name").alias("__nb"),
        "c_nationkey",
        "c_mktsegment",
        "acct_cents",
    )
    pairs = (
        a.join(b, ["c_nationkey", "c_mktsegment", "acct_cents"])
        .filter(F.col("u") < F.col("v"))
        .filter(F.levenshtein(F.col("__na"), F.col("__nb")) <= 2)
        .select("u", "v")
    )
    comp = connected_components(pairs, src="u", dst="v")
    labeled = rec.join(comp, rec["record_id"] == comp["id"], "left").select(
        "record_id",
        "name",
        "src_rank",
        F.coalesce(F.col("component"), F.col("record_id")).alias("entity_id"),
    )
    ent = labeled.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.countDistinct("src_rank").cast("long").alias("n_sources"),
    )
    # golden keys on record_id, not the coalesced label — the comp join
    # contributes nothing to this branch, so derive it straight from rec
    # (was: labeled re-ran the comp left-join a second time just to be
    # projected away). Same rows, same values.
    golden = rec.select(F.col("record_id").alias("entity_id"),
                        F.col("name").alias("golden_name"))
    return ent.join(golden, "entity_id").orderBy("entity_id")


ER1_SQL = """
WITH RECURSIVE base AS (
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
           CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents
    FROM customer
), rec AS (
    SELECT c_custkey*10 + 1 AS record_id, c_name AS name,
           c_nationkey, c_mktsegment, acct_cents, 1 AS src_rank FROM base
    UNION ALL
    SELECT c_custkey*10 + 2, lower(c_name),
           c_nationkey, c_mktsegment, acct_cents, 2 FROM base
    UNION ALL
    SELECT c_custkey*10 + 3, replace(c_name, '#', ' '),
           c_nationkey, c_mktsegment, acct_cents, 3
    FROM base WHERE c_custkey % 3 = 0
), pairs AS (
    SELECT a.record_id AS u, b.record_id AS v
    FROM rec a JOIN rec b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.acct_cents = b.acct_cents
     AND a.record_id < b.record_id
    WHERE levenshtein(a.name, b.name) <= 2
), edges AS (
    SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
), reach AS (
    SELECT record_id AS id, record_id AS r FROM rec
    UNION
    SELECT e.u AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.v
), comp AS (
    SELECT id, MIN(r) AS component FROM reach GROUP BY id
), ent AS (
    SELECT comp.component AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(DISTINCT rec.src_rank) AS BIGINT) AS n_sources
    FROM rec JOIN comp ON rec.record_id = comp.id
    GROUP BY comp.component
)
SELECT ent.entity_id, ent.n_records, ent.n_sources, g.name AS golden_name
FROM ent JOIN rec g ON g.record_id = ent.entity_id
ORDER BY ent.entity_id
"""


def ivm1_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-(source, lang)
    doc/token rollup is kept current by MERGING the persisted state with
    the delta batch's partial aggregate
    (operators/rollup.merge_rollup_state) — the 100 TB base corpus is
    NEVER rescanned; only the keys-sized state and the delta move. Here
    state = docs < 250 (the 'yesterday' MV), delta = docs ≥ 250, and the
    oracle is the full recompute over all documents — equality IS the
    algebraic-maintenance proof (count/sum are the mergeable
    aggregates; avg/ratios derive from them at read time)."""
    from etl_oms_spark.operators.rollup import merge_rollup_state
    from etl_oms_spark.operators.text import whitespace_token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", whitespace_token_count("text").alias("tok")
    )

    def agg(frame):
        return frame.groupBy("source", "lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tok").cast("long").alias("total_tokens"),
        )

    state = agg(d.filter(F.col("doc_id") < 250))
    delta = agg(d.filter(F.col("doc_id") >= 250))
    return merge_rollup_state(
        state, delta, ["source", "lang"], ["n_docs", "total_tokens"]
    ).orderBy("source", "lang")


IVM1_SQL = f"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({_WS}) AS BIGINT) AS total_tokens
FROM documents
GROUP BY source, lang
ORDER BY source, lang
"""


def kc1_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the recurring co-purchase graph (operators/graph.
    k_core): parts are connected when they co-occur in ≥2 distinct
    orders (fi1\'s order-confined pair build, Σ items-per-order²
    bounded), then iterative peeling strips every part not embedded in
    a co-purchase CYCLE — leaves and chains drop, the self-reinforcing
    cross-sell core remains, each part reported with its in-core
    degree. The oracle unrolls the parallel peel as chained
    MATERIALIZED CTEs; its final WHERE deg ≥ k guard turns any
    truncated unroll into a visible row mismatch, never a silent wrong
    answer (measured parallel peel depth ≤ 5 at all three scales;
    unroll is 10)."""
    from etl_oms_spark.operators.graph import k_core

    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    return k_core(edges, k=2, src="u", dst="v").select(
        F.col("id").alias("l_partkey"), "core_degree"
    ).orderBy("l_partkey")


def _kcore_peel_sql(rounds: int = 10, k: int = 2) -> str:
    # AS MATERIALIZED is load-bearing: each e{r} references its
    # predecessor twice, so inlined CTEs would re-expand the whole d7
    # pair build exponentially (observed as DuckDB exhausting file
    # handles re-opening the parquet)
    parts = [
        "e0 AS MATERIALIZED (SELECT least(id_a, id_b) AS u, "
        "greatest(id_a, id_b) AS v "
        "FROM pairs WHERE id_a <> id_b GROUP BY 1, 2)"
    ]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM ("
            f"SELECT u AS id FROM {prev} UNION ALL SELECT v FROM {prev}"
            f") GROUP BY id)"
        )
        parts.append(f"k{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE deg >= {k})")
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT u, v FROM {prev} "
            f"WHERE u IN (SELECT id FROM k{r}) AND v IN (SELECT id FROM k{r}))"
        )
        prev = f"e{r}"
    parts.append(
        f"dfinal AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM ("
        f"SELECT u AS id FROM {prev} UNION ALL SELECT v FROM {prev}"
        f") GROUP BY id)"
    )
    return ",\n".join(parts)


KC1_SQL = (
    """WITH items AS MATERIALIZED (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS MATERIALIZED (
    SELECT a.l_partkey AS id_a, b.l_partkey AS id_b
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
),
"""
    + _kcore_peel_sql()
    + """
SELECT id AS l_partkey, CAST(deg AS BIGINT) AS core_degree
FROM dfinal
WHERE deg >= 2
ORDER BY l_partkey
"""
)


def pa1_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 session paths ("view>click>purchase"): gap-and-island
    sessionization (ev_sessionize's rule, 10-min gap), each session's
    event types concatenated in (ts, event_id) order via
    array_sort(collect_list(struct)) — fully deterministic, no
    collect_list-order dependence — then one paths-sized count.
    Shuffles: one user-keyed window, one (user, session) agg, one path
    count; top-k is TakeOrdered, never a global sort."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # micro-precision gap: unix_timestamp() truncates to seconds and
    # mis-classifies boundaries like a 600.4s gap vs the INTERVAL oracle
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 600_000_000), 1
    ).otherwise(0)
    sid = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    paths = (
        ev.withColumn("__sid", sid)
        .groupBy("user_id", "__sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(25)
    )


PA1_SQL = """
WITH marked AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 10 MINUTE OR
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), numbered AS (
    SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
    ) AS session_id
    FROM marked
), paths AS (
    SELECT user_id, session_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM numbered
    GROUP BY user_id, session_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 25
"""


def hw1_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast of monthly revenue, 3 months ahead
    (α=β=0.5 — dyadic rationals, so the double recurrence is bit-exact
    in any engine evaluating the same sequential order): level/trend
    fold over the months-sized exact-cents series via F.aggregate with
    a struct accumulator — the iterative-recurrence pattern WITHOUT a
    driver loop; the oracle replays the identical recurrence in a
    recursive CTE. Corpus work is one month rollup; the fold runs on a
    months-sized array in one task."""
    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("cents"))
    )
    series = monthly.agg(
        F.array_sort(F.collect_list(F.struct("month", "cents"))).alias("s")
    ).select(
        F.transform("s", lambda x: x["cents"].cast("double")).alias("y"),
        F.element_at(F.transform("s", lambda x: x["month"]), -1).alias(
            "last_month"
        ),
    )
    # init: l=y1, b=y2-y1; fold t=2..n (Holt's linear method)
    state = F.aggregate(
        F.slice(F.col("y"), 2, F.greatest(F.size("y") - 1, F.lit(0))),
        F.struct(
            F.element_at("y", 1).alias("l"),
            (F.element_at("y", 2) - F.element_at("y", 1)).alias("b"),
        ),
        lambda acc, yt: F.struct(
            (yt * 0.5 + (acc["l"] + acc["b"]) * 0.5).alias("l"),
            (
                ((yt * 0.5 + (acc["l"] + acc["b"]) * 0.5) - acc["l"]) * 0.5
                + acc["b"] * 0.5
            ).alias("b"),
        ),
    )
    folded = series.select(state.alias("st"), "last_month")
    h = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("h")
    return folded.select(h, "st", "last_month").select(
        F.col("h").cast("int").alias("h"),
        F.date_format(
            F.add_months("last_month", F.col("h")), "yyyy-MM-dd"
        ).alias("forecast_month"),
        (F.col("st.l") + F.col("h") * F.col("st.b")).alias("forecast_cents"),
    )


HW1_SQL = """
WITH RECURSIVE monthly AS (
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1
), numbered AS (
    SELECT CAST(cents AS DOUBLE) AS y, month,
           ROW_NUMBER() OVER (ORDER BY month) AS t,
           COUNT(*) OVER () AS n
    FROM monthly
), holt AS (
    SELECT 1 AS t,
           (SELECT y FROM numbered WHERE t = 1) AS l,
           (SELECT y FROM numbered WHERE t = 2)
             - (SELECT y FROM numbered WHERE t = 1) AS b
    UNION ALL
    SELECT nx.t,
           nx.y * 0.5 + (holt.l + holt.b) * 0.5,
           ((nx.y * 0.5 + (holt.l + holt.b) * 0.5) - holt.l) * 0.5
             + holt.b * 0.5
    FROM holt JOIN numbered nx ON nx.t = holt.t + 1
), final AS (
    SELECT l, b FROM holt ORDER BY t DESC LIMIT 1
), lastm AS (
    SELECT MAX(month) AS last_month FROM monthly
)
SELECT CAST(h.h AS INT) AS h,
       CAST(CAST(lastm.last_month + h.h * INTERVAL 1 MONTH AS DATE) AS VARCHAR)
         AS forecast_month,
       final.l + h.h * final.b AS forecast_cents
FROM final, lastm, (SELECT 1 AS h UNION ALL SELECT 2 UNION ALL SELECT 3) h
"""


def je1_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality pre-flight audit for orders⋈lineitem: exact
    output size Σ_k cnt_o(k)·cnt_l(k) from the two key histograms (the
    skew diagnosis BEFORE paying the join — sk2's sibling for the
    bilateral case), plus the 5 hottest keys by contribution. Both
    histograms are map-side-combined; the histogram join touches
    |distinct keys| rows, never the fact tables."""
    o = _t(spark, sf_dir, "orders").groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_o")
    )
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_l")
    )
    contrib = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_orderkey").alias("key"),
            (F.col("n_o") * F.col("n_l")).cast("long").alias("out_rows"),
        )
    )
    top = contrib.orderBy(F.col("out_rows").desc(), "key").limit(5)
    total = contrib.agg(
        F.lit(-1).cast("long").alias("key"),
        F.sum("out_rows").cast("long").alias("out_rows"),
    )
    return top.unionAll(total).orderBy("key")


JE1_SQL = """
WITH o AS (SELECT o_orderkey AS key, COUNT(*) AS n_o FROM orders GROUP BY 1),
l AS (SELECT l_orderkey AS key, COUNT(*) AS n_l FROM lineitem GROUP BY 1),
contrib AS (
    SELECT o.key, CAST(o.n_o * l.n_l AS BIGINT) AS out_rows
    FROM o JOIN l ON o.key = l.key
), top AS (
    SELECT key, out_rows FROM contrib ORDER BY out_rows DESC, key LIMIT 5
)
SELECT * FROM (
    SELECT CAST(key AS BIGINT) AS key, out_rows FROM top
    UNION ALL
    SELECT -1, CAST(SUM(out_rows) AS BIGINT) FROM contrib
)
ORDER BY key
"""


def at1_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase attributes to
    the user's latest preceding non-purchase event within 30 minutes
    (deterministic (ts, event_id) ordering; outside-window or no-touch
    purchases fall to 'direct'), rolled up to conversions + exact-cents
    revenue per channel. One user-keyed ROWS window carries the last
    touch — no purchase×touch join ever materializes."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type") != "purchase"
    t_ts = F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w)
    t_type = F.last(
        F.when(is_touch, F.col("event_type")), ignorenulls=True
    ).over(w)
    attributed = (
        ev.withColumn("__tts", t_ts)
        .withColumn("__ttype", t_type)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("__tts").isNotNull()
                & (
                    F.unix_timestamp("ts") - F.unix_timestamp("__tts")
                    <= 1800
                ),
                F.col("__ttype"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
            _cents(F.col("value")).alias("cents"),
        )
    )
    return (
        attributed.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("conversions"),
            (F.sum("cents").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("channel")
    )


AT1_SQL = """
WITH purch AS (
    SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), touch AS (
    SELECT event_id, user_id, ts, event_type FROM events
    WHERE event_type <> 'purchase'
), latest AS (
    SELECT p.event_id AS pid, p.ts AS pts, p.value, t.ts AS tts,
           t.event_type AS ttype,
           ROW_NUMBER() OVER (
               PARTITION BY p.event_id ORDER BY t.ts DESC, t.event_id DESC
           ) AS rn
    FROM purch p JOIN touch t
      ON p.user_id = t.user_id
     AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))
), chosen AS (
    SELECT p.event_id, p.value,
           CASE WHEN l.tts IS NOT NULL
                     AND date_diff('second', l.tts, p.ts) <= 1800
                THEN l.ttype ELSE 'direct' END AS channel
    FROM purch p
    LEFT JOIN latest l ON l.pid = p.event_id AND l.rn = 1
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS conversions,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
           AS revenue
FROM chosen
GROUP BY channel
ORDER BY channel
"""


def ka1_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over customer quasi-identifiers (nation,
    market segment, account balance rounded to $1000): every QI group
    with fewer than k=5 members is a re-identification risk — the
    privacy gate a dataset release runs BEFORE the content-level PII
    redaction (t8). One corpus aggregate; output is violations-sized."""
    c = _t(spark, sf_dir, "customer")
    bal_bucket = (
        F.floor(_cents(F.col("c_acctbal")) / F.lit(100_000)).cast("long")
    )
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            bal_bucket.alias("bal_k"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .filter(F.col("group_size") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_k")
    )


KA1_SQL = """
SELECT c_nationkey, c_mktsegment,
       CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 100000) AS BIGINT)
           AS bal_k,
       CAST(COUNT(*) AS BIGINT) AS group_size
FROM customer
GROUP BY 1, 2, 3
HAVING COUNT(*) < 5
ORDER BY c_nationkey, c_mktsegment, bal_k
"""


def csd1_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the release-report summary
    of the dedup landscape ("how much of the corpus is 2-copies vs
    template farms"): cc1's transitive closure rolled to per-size
    cluster counts, member docs, and redundant docs (size−1 per
    cluster, what dedup would remove). Clusters-sized aggregate on top
    of the one corpus-scale pair build."""
    from etl_oms_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from etl_oms_spark.operators.graph import connected_components

    sigs = minhash_signatures(_t(spark, sf_dir, "documents"), hash_method="md5")
    pairs = lsh_candidate_pairs(sigs, hash_method="md5")
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("long").alias("redundant_docs"),
        )
        .orderBy("cluster_size")
    )


CSD1_SQL = (
    "WITH RECURSIVE "
    + _build_d7_sql()
    + ","
    + """
pairs AS ({_final}),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS id FROM edges),
reach AS (
    SELECT id, id AS r FROM nodes
    UNION
    SELECT e.u AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.v
),
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(SUM(sz - 1) AS BIGINT) AS redundant_docs
FROM sizes
GROUP BY sz
ORDER BY cluster_size
""".format(_final=_D7_FINAL.strip())
)


def bf1_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination (operators/dedup.
    bloom_decontamination): the benchmark's 5-shingle set is packed into
    a 2¹⁷-bit Bloom bitmap (one small-side aggregation, broadcast as
    packed 64-bit words), the corpus' exploded shingles are pruned
    JVM-side against it, and only the surviving candidates pay the exact
    confirm join — the execution strategy for held-out suites too large
    to broadcast raw. EXACT despite the sketch: Bloom filters have no
    false negatives and false positives die in the confirm join, so the
    oracle is the plain shingle-overlap SQL with matched-shingle counts.
    Benchmark slice = every 89th doc; k=3 shingles here (vs cx1's k=5)
    load the filter densely — production decontamination uses longer
    shingles, the plumbing is identical."""
    from etl_oms_spark.operators.dedup import bloom_decontamination

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 89 == 0)
    corpus = d.filter(F.col("doc_id") % 89 != 0)
    return bloom_decontamination(corpus, bench, k=3).orderBy("doc_id")


BF1_SQL = r"""
WITH norm AS (
    SELECT doc_id,
           regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS arr
    FROM documents
), sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(arr) - 2, 1) + 1),
               i -> array_to_string(arr[i:i+2], ' ')))) AS sh
    FROM norm
), b AS (
    SELECT DISTINCT sh FROM sh WHERE doc_id % 89 = 0
)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_shingles
FROM sh s JOIN b USING (sh)
WHERE s.doc_id % 89 <> 0
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


def ss1_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT-substring spans (operators/dedup.
    repeated_substring_spans) — the span-level dedup of Lee et al. 2022:
    every 8-token window occurring verbatim in ≥2 distinct docs, with
    overlapping/adjacent windows merged into maximal (doc_id, span_start,
    span_len) spans. Distributed suffix-array stand-in: token-position
    explode carries only the 32-byte md5 of each window, qualifying keys
    come from one distinct-doc count, occurrences semi-join back, and the
    island merge is a doc-keyed window — two O(total tokens) key shuffles
    plus one id shuffle, never doc×doc."""
    from etl_oms_spark.operators.dedup import repeated_substring_spans

    d = _t(spark, sf_dir, "documents")
    return repeated_substring_spans(d, min_len_tokens=8, min_docs=2).orderBy(
        "doc_id", "span_start"
    )


SS1_SQL = r"""
WITH norm AS (
    SELECT doc_id,
           regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS arr
    FROM documents
), w1 AS (
    SELECT doc_id, arr, unnest(range(1, len(arr) - 6)) AS pos
    FROM norm WHERE len(arr) >= 8
), win AS (
    SELECT doc_id, pos, md5(array_to_string(arr[pos:pos+7], ' ')) AS wkey
    FROM w1
), q AS (
    SELECT wkey FROM win GROUP BY wkey HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
    SELECT DISTINCT doc_id, pos FROM win WHERE wkey IN (SELECT wkey FROM q)
), isl AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                     OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                THEN 1 ELSE 0 END AS brk
    FROM hits
), isl2 AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM isl
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len
FROM isl2
GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


def bfs1_copurchase_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (operators/graph.bfs_hops): minimum hop distance
    from the seed parts (every 97th p_partkey — a "recall set" of
    products) to everything reachable within 4 hops on the recurring
    co-purchase graph (kc1's edge rule: co-occurrence in ≥2 distinct
    orders). Level-synchronous Pregel-style expansion: the symmetrized
    edge list is hash-partitioned once and reused every round, only the
    frontier moves; lineage localCheckpointed per round. The oracle
    unrolls the 4 supersteps as MATERIALIZED CTEs — a truncated unroll
    would surface as a row mismatch, never a silent wrong answer."""
    from etl_oms_spark.operators.graph import bfs_hops

    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 97 == 0)
        .select(F.col("p_partkey").alias("id"))
    )
    return (
        bfs_hops(edges, seeds, max_hops=4)
        .select(F.col("id").alias("l_partkey"), "hops")
        .orderBy("l_partkey")
    )


def _bfs_unroll_sql(max_hops: int = 4) -> str:
    parts = [
        "f0 AS MATERIALIZED (SELECT p_partkey AS id FROM part "
        "WHERE p_partkey % 97 = 0)",
        "v0 AS MATERIALIZED (SELECT id, 0 AS hops FROM f0)",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"f{h} AS MATERIALIZED (SELECT DISTINCT e.b AS id "
            f"FROM e JOIN f{h-1} ON e.a = f{h-1}.id "
            f"WHERE e.b NOT IN (SELECT id FROM v{h-1}))"
        )
        parts.append(
            f"v{h} AS MATERIALIZED (SELECT * FROM v{h-1} "
            f"UNION ALL SELECT id, {h} FROM f{h})"
        )
    return ",\n".join(parts)


BFS1_SQL = (
    """WITH items AS MATERIALIZED (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS MATERIALIZED (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
),
e AS MATERIALIZED (
    SELECT u AS a, v AS b FROM pairs UNION SELECT v, u FROM pairs
),
"""
    + _bfs_unroll_sql(4)
    + """
SELECT id AS l_partkey, CAST(hops AS BIGINT) AS hops
FROM v4
ORDER BY l_partkey
"""
)


def lr1_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend by closed-form OLS: monthly exact-cent
    revenue y over month index x, slope/intercept from the normal
    equations on exact integer sums (n, Σx, Σy, Σxy, Σx²) — the portable
    bit-reproducible form of regr_slope/regr_intercept, same discipline
    as st2's Pearson. Two shuffles: one (nation, month) cent rollup, one
    nations-sized stats agg; the regression itself is arithmetic on five
    BIGINTs per group. Overflow bound: x ≤ ~84 months, so n·Σxy stays
    under 2^63 while per-nation-month revenue stays under ~10^12 cents —
    orders of magnitude past sf1000."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    x = (F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", x.cast("long").alias("x"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("y"))
    )
    stats = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    intercept = F.col("sy").cast("double") / F.col("n_months") - slope * (
        F.col("sx").cast("double") / F.col("n_months")
    )
    return stats.select(
        "n_name",
        "n_months",
        slope.alias("slope_cents_per_month"),
        intercept.alias("intercept_cents"),
    ).orderBy("n_name")


LR1_SQL = """
WITH monthly AS (
  SELECT n_name,
         CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS x,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), stats AS (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM monthly GROUP BY n_name
), sl AS (
  SELECT n_name, n_months, sx, sy,
         CAST(n_months * sxy - sx * sy AS DOUBLE)
         / CAST(n_months * sxx - sx * sx AS DOUBLE) AS slope
  FROM stats
)
SELECT n_name, n_months,
       slope AS slope_cents_per_month,
       CAST(sy AS DOUBLE) / n_months - slope * (CAST(sx AS DOUBLE) / n_months)
           AS intercept_cents
FROM sl
ORDER BY n_name
"""


def sj1_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream JOIN capstone (streaming/joins.click_purchase_pairs):
    clicks and purchases — two watermarked streams split from one events
    file source — inner-joined on user with a 30-minute event-time window,
    run END TO END through Structured Streaming (availableNow, parquet
    sink, state-store-backed join), then rolled up to per-user pair /
    attributed-purchase counts. The raw-timestamp range condition bounds
    the join state; the second-floor predicate makes the emitted pairs
    exactly equal to the batch interval join, so the whole streaming run
    has an exact SQL oracle. Watermark late-drop semantics are pinned
    separately in tests/test_streaming.py (multi-wave replay)."""
    import os
    import shutil
    import tempfile

    from etl_oms_spark.streaming.joins import click_purchase_pairs
    from etl_oms_spark.util import scoped_conf

    # only click/purchase rows ever reach the join (both stream branches
    # filter on event_type), so drop the other 60% of events BEFORE the
    # stream source is written — the production monitor would subscribe
    # to those two topics, not the whole firehose; emitted pairs are
    # unchanged (the stream's own filters did exactly this).
    # (A round-13 direct-source variant — streaming the ORIGINAL events
    # parquet with the filter/projection on the stream — was measured
    # and REJECTED: single-file source + on-stream transform ran the
    # 2-branch micro-batch 2-5x slower than the 32-file pre-projected
    # copy in the clean A/B window; see OPTIMIZATION_r13.md.)
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).filter(F.col("event_type").isin("click", "purchase"))
    tmp = tempfile.mkdtemp(prefix="sj1_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "pairs")
        ev.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        # an INNER stream-stream join emits every match during the data
        # micro-batch itself; the trailing no-data micro-batch only
        # evicts watermark-expired state (no output), and this finite
        # availableNow run tears the state down right after — skip it
        # (~2.2s of pure 32-partition state-store machinery, measured).
        # The always-on production monitor keeps the default.
        with scoped_conf(
            spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false"
        ):
            q = (
                click_purchase_pairs(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        result = (
            spark.read.parquet(out)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.count_distinct("purchase_id").cast("long").alias("n_purchases"),
            )
            .orderBy("user_id")
        )
        # eager JVM-side materialization (see ssw1's tail note)
        result = result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


SJ1_SQL = """
WITH c AS (
    SELECT user_id, event_id AS click_id, ts AS cts
    FROM events WHERE event_type = 'click'
), p AS (
    SELECT user_id, event_id AS pid, ts AS pts
    FROM events WHERE event_type = 'purchase'
), pairs AS (
    SELECT p.user_id, p.pid, c.click_id
    FROM p JOIN c ON p.user_id = c.user_id
     AND date_diff('second', c.cts, p.pts) BETWEEN 0 AND 1800
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases
FROM pairs
GROUP BY user_id
ORDER BY user_id
"""


def pj1_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered EXACT Jaccard join ≥ 0.9 (operators/
    dedup.prefix_filtered_jaccard_pairs): tokens ordered by ascending
    document frequency, each doc indexed only on its |S|−⌊t·|S|⌋+1
    rarest tokens (the prefix theorem guarantees no false negatives),
    candidates verified exactly by array_intersect — same answer as d2's
    inverted-index join with NO df cap; the frequent-token n² blowup is
    eliminated by construction instead of approximation.

    The query returns the SCALE-SAFE consumption of that join: the pair
    stream feeds min-label connected components and each clustered doc
    reports (doc_id, cluster_id, cluster_size) — output LINEAR in docs,
    never the quadratic pair list (964k pairs at sf0.1, 39 GB of spill
    at 10× per SCALING.md — the r04/r05 verdicts' one `weak` flag). The
    pair-level operator stays available as
    `dedup.prefix_filtered_jaccard_pairs` and is exactness-tested in
    pytest; the DuckDB oracle recomputes the SAME uncapped exact pairs
    and closes them with a recursive reachability CTE (cc1's pattern) —
    an EXACT oracle for the iterative graph consumption."""
    from etl_oms_spark.operators.dedup import prefix_filtered_jaccard_pairs
    from etl_oms_spark.operators.graph import connected_components

    pairs = prefix_filtered_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.9
    ).select("id_a", "id_b")
    comp = connected_components(pairs)
    # window count instead of groupBy+self-join (cc1's rationale): one
    # exchange over the node-sized label table, no comp re-derivation
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .cast("long")
        .alias("cluster_size"),
    )


def _build_pj1_sql(rounds: int = 16) -> str:
    """pj1 oracle: exact pairs (uncapped) closed by an UNROLLED hash-min
    + pointer-jumping fixpoint, every per-round CTE ``AS MATERIALIZED``
    (the k-core lesson: DuckDB inlines CTEs, and an inlined iteration
    re-expands the upstream pipeline exponentially).

    Full-reachability closure (cc1's recursive CTE) is Σ comp³ in join
    intermediates — ~1.9e10 rows on sf0.1's 2652-doc giant near-dup
    cluster (~30 min in DuckDB); this form is rounds × |edges|. One
    round = (a) label ← min(own, neighbor labels), (b) label ← label of
    my label; reach at least doubles per round, so ``rounds=16`` closes
    any component with diameter < 2^16 — orders beyond any real
    near-dup cluster. Non-convergence cannot green silently: Spark's
    connected_components verifies its own fixed point (warns loudly if
    max_iterations is hit), so the compare passes only when both sides
    hold the true component minima."""
    return f"""
WITH raw_toks AS (
    SELECT DISTINCT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
    FROM documents
), toks AS (
    SELECT doc_id, tok FROM raw_toks WHERE tok <> ''
), cnt AS (
    SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
    FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS MATERIALIZED (
    SELECT id_a, id_b
    FROM common
    JOIN cnt x ON id_a = x.doc_id
    JOIN cnt y ON id_b = y.doc_id
    WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.9
)""" + _cc_closure_sql(rounds)


def _cc_closure_sql(rounds: int = 16) -> str:
    """The shared pj1/pj1c closure tail: given a ``pairs(id_a, id_b)``
    CTE already open in the WITH list and a ``toks`` CTE upstream,
    closes the pair graph with the unrolled hash-min + pointer-jumping
    fixpoint (every per-round CTE MATERIALIZED — the k-core lesson) and
    emits the (doc_id, cluster_id, cluster_size) rollup."""
    parts = [""", edges AS MATERIALIZED (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
), l0 AS MATERIALIZED (
    SELECT DISTINCT u AS id, u AS lbl FROM edges
)"""]
    prev = "l0"
    for k in range(1, rounds + 1):
        parts.append(f""", p{k} AS MATERIALIZED (
    SELECT n.id, LEAST(n.lbl, COALESCE(MIN(l.lbl), n.lbl)) AS lbl
    FROM {prev} n
    LEFT JOIN edges e ON e.u = n.id
    LEFT JOIN {prev} l ON l.id = e.v
    GROUP BY n.id, n.lbl
), l{k} AS MATERIALIZED (
    SELECT a.id, b.lbl
    FROM p{k} a JOIN p{k} b ON a.lbl = b.id
)""")
        prev = f"l{k}"
    parts.append(f"""
, comp AS (SELECT id, lbl AS cluster_id FROM {prev}),
sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY cluster_id)
SELECT comp.id AS doc_id, comp.cluster_id, sizes.cluster_size
FROM comp JOIN sizes ON comp.cluster_id = sizes.cluster_id""")
    return "".join(parts)


PJ1_SQL = _build_pj1_sql()


def pj1c_prefix_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pj1's 100 TB PRODUCTION form (SCALING.md's 100× adjudication):
    the same PPJoin prefix-filtered exact-verify Jaccard ≥ 0.9 join,
    with ``per_token_cap=8`` on the hub side of the candidate self-join
    (operators/dedup.prefix_filtered_jaccard_pairs). Exact pairwise
    output is Θ(Σ cluster²) — on re-crawl-shaped corpora the TRUE
    ANSWER grows ~10×/decade and the uncapped form DNFs at 100× — while
    the cap keeps each token's fan-out at df·cap, measured 1.3×/decade,
    and every member of a CLIQUE-shaped duplicate cluster still reaches
    its min-id hubs, so this connected-components consumption sees the
    same hub-and-spoke cluster in one piece (chain-shaped clusters may
    split — never merge — see the operator docstring and the two pj1c
    refinement tests). The emitted pair set is a deterministic
    (lowest-ids-per-token) SUBSET of pj1's with zero false positives —
    the verify stage is unchanged — so the oracle replays prefix, cap,
    verify, and the min-label closure exactly; pj1 stays in the catalog
    as the uncapped exact oracle twin."""
    from etl_oms_spark.operators.dedup import prefix_filtered_jaccard_pairs
    from etl_oms_spark.operators.graph import connected_components

    pairs = prefix_filtered_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.9, per_token_cap=8
    ).select("id_a", "id_b")
    comp = connected_components(pairs)
    # window count instead of groupBy+self-join (cc1's rationale): one
    # exchange over the node-sized label table, no comp re-derivation
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .cast("long")
        .alias("cluster_size"),
    )


def _build_pj1c_sql(
    threshold: float = 0.9, cap: int = 8, rounds: int = 16
) -> str:
    """pj1c oracle: unlike pj1's (which skips the prefix filter — any
    exact-pairs plan is a valid oracle for an exact answer), the capped
    answer is DEFINED by the prefix+cap candidate generation, so the
    oracle replays it operator-for-operator: df-ordered token ranks →
    |S|−⌊t·|S|⌋+1 prefixes → per-token lowest-``cap``-ids hub side →
    candidate join → exact array-intersection verify → the shared
    min-label closure (`_cc_closure_sql`). Rank tie order (df ASC, tok
    ASC) and the hub order (doc_id ASC) mirror dedup.py's windows;
    ⌊t·|S|⌋ is the same IEEE double product on both engines."""
    return f"""
WITH raw_toks AS (
    SELECT DISTINCT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
    FROM documents
), toks AS (
    SELECT doc_id, tok FROM raw_toks WHERE tok <> ''
), cnt AS (
    SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
), dfreq AS (
    SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
), ranked AS (
    SELECT t.doc_id, t.tok, c.n,
           ROW_NUMBER() OVER (PARTITION BY t.doc_id
                              ORDER BY d.df, t.tok) AS rnk
    FROM toks t
    JOIN dfreq d ON d.tok = t.tok
    JOIN cnt c ON c.doc_id = t.doc_id
), prefix AS MATERIALIZED (
    SELECT doc_id, tok FROM ranked
    WHERE rnk <= n - CAST(floor({threshold} * n) AS BIGINT) + 1
), capped AS MATERIALIZED (
    SELECT doc_id, tok FROM (
        SELECT doc_id, tok,
               ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS pr
        FROM prefix
    ) WHERE pr <= {cap}
), cand AS MATERIALIZED (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM capped l JOIN prefix r ON l.tok = r.tok AND l.doc_id < r.doc_id
), inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS c
    FROM cand c
    JOIN toks a ON a.doc_id = c.id_a
    JOIN toks b ON b.doc_id = c.id_b AND b.tok = a.tok
    GROUP BY 1, 2
), pairs AS MATERIALIZED (
    SELECT i.id_a, i.id_b
    FROM inter i
    JOIN cnt x ON i.id_a = x.doc_id
    JOIN cnt y ON i.id_b = y.doc_id
    WHERE CAST(i.c AS DOUBLE) / (x.n + y.n - i.c) >= {threshold}
)""" + _cc_closure_sql(rounds)


PJ1C_SQL = _build_pj1c_sql()


def sc2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against SCD2 history (operators/scd.
    scd2_pit_join): every purchase picks up the activity state the user
    was in when it happened — the version table built by sc1's rule from
    the NON-purchase event log, probed with half-open
    [valid_from, valid_to) validity. Purchases before a user's first
    tracked event keep NULL state (left join), surfaced as 'none'. The
    join is key-equi with the range predicate as a filter — each probe
    meets only its user's short version chain."""
    from etl_oms_spark.operators.scd import scd2_history, scd2_pit_join

    ev = _events(spark, sf_dir)
    hist = scd2_history(
        ev.filter(F.col("event_type") != "purchase"), "user_id",
        ["event_type"], "ts",
    ).withColumnRenamed("event_type", "state")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return (
        scd2_pit_join(hist, probes, "user_id")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("state"), F.lit("none")).alias("state_at_purchase"),
            _cents(F.col("value")).alias("value_cents"),
        )
        .orderBy("event_id")
    )


SC2_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type)
             AS prev_type
  FROM events WHERE event_type <> 'purchase'
),
episodes AS (
  SELECT user_id, event_type AS state, ts AS valid_from
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
),
hist AS (
  SELECT user_id, state, valid_from,
         lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, state
         ) AS valid_to
  FROM episodes
),
purch AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id,
       COALESCE(h.state, 'none') AS state_at_purchase,
       CAST(round(p.value * 100) AS BIGINT) AS value_cents
FROM purch p
LEFT JOIN hist h
  ON p.user_id = h.user_id
 AND p.ts >= h.valid_from
 AND (h.valid_to IS NULL OR p.ts < h.valid_to)
ORDER BY p.event_id
"""


def pm1_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 collocations by pointwise mutual information: consecutive
    token pairs occurring ≥5 times, PMI = ln((c_xy/N_bi)/((c_x/N_uni)·
    (c_y/N_uni))) over exact corpus counts, quantized to 1e-6 (the ln-
    quantization discipline of ts1/x1). The lexical-statistics extractor
    (phrase mining / tokenizer-merge candidates) beside v2's BPE merge
    rank. Shuffles: one bigram count, one unigram count, two key joins;
    scalars broadcast; top-k is a TakeOrdered over the deterministic
    (pmi, w1, w2) total order."""
    from etl_oms_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    t = tokens("text")
    base = d.select(t.alias("t")).filter(F.size("t") >= 2)
    bi = base.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t)-1), "
                "i -> struct(element_at(t, i) AS w1, element_at(t, i+1) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    uni = d.select(F.explode(t).alias("w")).filter(F.col("w") != "")
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nu = ucnt.agg(F.sum("c").cast("long").alias("nu"))
    nb = bi.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    pairs = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    joined = (
        pairs.join(
            ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1"
        )
        .join(ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    pmi = F.log(
        (F.col("c_xy").cast("double") / F.col("nb").cast("double"))
        / (
            (F.col("c1").cast("double") / F.col("nu").cast("double"))
            * (F.col("c2").cast("double") / F.col("nu").cast("double"))
        )
    )
    return (
        joined.select(
            "w1",
            "w2",
            "c_xy",
            F.floor(pmi * 1e6 + F.lit(0.5)).cast("long").alias("pmi_q6"),
        )
        .orderBy(F.desc("pmi_q6"), "w1", "w2")
        .limit(25)
    )


PM1_SQL = f"""
WITH norm AS (
    SELECT regexp_split_to_array({_NORM_SQL}, ' ') AS arr FROM documents
), base AS (
    SELECT arr FROM norm WHERE len(arr) >= 2
), bi AS (
    SELECT unnest(list_transform(range(1, len(arr)),
                  i -> arr[i] || ' ' || arr[i+1])) AS bg
    FROM base
), uni AS (
    SELECT unnest(arr) AS w FROM norm
), uni2 AS (
    SELECT w FROM uni WHERE w <> ''
), ucnt AS (
    SELECT w, COUNT(*) AS c FROM uni2 GROUP BY w
), tot AS (
    SELECT (SELECT COUNT(*) FROM uni2) AS nu,
           (SELECT COUNT(*) FROM bi) AS nb
), pairs AS (
    SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
           COUNT(*) AS cxy
    FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT w1, w2, CAST(cxy AS BIGINT) AS c_xy,
       CAST(floor(
           ln((CAST(cxy AS DOUBLE) / CAST(nb AS DOUBLE))
              / ((CAST(c1.c AS DOUBLE) / CAST(nu AS DOUBLE))
                 * (CAST(c2.c AS DOUBLE) / CAST(nu AS DOUBLE))))
           * 1000000 + 0.5) AS BIGINT) AS pmi_q6
FROM pairs
JOIN ucnt c1 ON pairs.w1 = c1.w
JOIN ucnt c2 ON pairs.w2 = c2.w, tot
ORDER BY pmi_q6 DESC, w1, w2
LIMIT 25
"""


def ss2_span_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repair half of ss1 (operators/dedup.strip_spans): every
    cross-document repeated 8-token span is CUT from every document —
    the aggressive substring-level boilerplate-removal policy (C4-style
    strip-everywhere; the keep-one-canonical-copy variant is a winner
    filter on the span table before the cut). Returns each affected
    doc's kept text and removed-token count. Span surgery is all JVM
    higher-order functions over the per-doc span array — no corpus
    token explode, one id-keyed shuffle past the ss1 span build."""
    from etl_oms_spark.operators.dedup import (
        repeated_substring_spans,
        strip_spans,
    )

    d = _t(spark, sf_dir, "documents")
    spans = repeated_substring_spans(d, min_len_tokens=8, min_docs=2)
    return strip_spans(d, spans).orderBy("doc_id")


SS2_SQL = r"""
WITH norm AS (
    SELECT doc_id,
           regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS arr
    FROM documents
), w1 AS (
    SELECT doc_id, arr, unnest(range(1, len(arr) - 6)) AS pos
    FROM norm WHERE len(arr) >= 8
), win AS (
    SELECT doc_id, pos, md5(array_to_string(arr[pos:pos+7], ' ')) AS wkey
    FROM w1
), q AS (
    SELECT wkey FROM win GROUP BY wkey HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
    SELECT DISTINCT doc_id, pos FROM win WHERE wkey IN (SELECT wkey FROM q)
), isl AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                     OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                THEN 1 ELSE 0 END AS brk
    FROM hits
), isl2 AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM isl
), spans AS (
    SELECT doc_id, MIN(pos) AS lo, MAX(pos) + 7 AS hi
    FROM isl2 GROUP BY doc_id, island
), sd AS (
    SELECT DISTINCT doc_id FROM spans
), tokpos AS (
    SELECT n.doc_id, unnest(n.arr) AS tok,
           unnest(range(1, len(n.arr) + 1)) AS pos
    FROM norm n JOIN sd USING (doc_id)
), kept AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM tokpos t
    WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.lo AND s.hi
    )
), tot AS (
    SELECT doc_id, COUNT(*) AS n FROM tokpos GROUP BY doc_id
), keptagg AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS kept_text,
           COUNT(*) AS nk
    FROM kept GROUP BY doc_id
)
SELECT sd.doc_id,
       COALESCE(k.kept_text, '') AS kept_text,
       CAST(t.n - COALESCE(k.nk, 0) AS BIGINT) AS n_tokens_removed
FROM sd
JOIN tot t USING (doc_id)
LEFT JOIN keptagg k USING (doc_id)
ORDER BY sd.doc_id
"""


def tp5_decontaminated_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth curation capstone — the EVAL-SAFE release, composing this
    round's operators end to end in one lazy plan chain: (1) Bloom-
    prefiltered decontamination drops every corpus doc sharing a
    5-shingle with the held-out slice (doc_id%89 — bf1's gate, exact
    despite the sketch); (2) cross-document repeated 8-token spans are
    detected and CUT from the survivors (ss1→ss2, strip-everywhere);
    (3) exact dedup re-keys on the REPAIRED text (md5 of the normalized
    coalesce(kept, original), min-id winner — repairing first means
    boilerplate-only differences no longer block exact dedup, the reason
    span repair precedes it in real curation stacks); (4) per-source
    release report: survivors, post-repair token budget, repaired-doc
    count. Exact end-to-end DuckDB oracle."""
    from etl_oms_spark.plans.training_pipeline import eval_safe_release

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 89 == 0)
    corpus = d.filter(F.col("doc_id") % 89 != 0)
    # the composition lives in plans.training_pipeline.eval_safe_release
    # (also exposed as the `decontaminate` CLI subcommand); the shared
    # `clean` subtree is localCheckpointed there — measured 5.8s → 3.5s
    # warm at sf0.1, the same 1.7× the tp3/tp4 capstones saw
    kept = eval_safe_release(corpus, bench, shingle_k=5, span_tokens=8)
    n_tokens = F.when(F.length("fin") == 0, F.lit(0)).otherwise(
        F.size(F.split("fin", " "))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(n_tokens).cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("was_repaired"), 1).otherwise(0))
            .cast("long")
            .alias("n_repaired"),
        )
        .orderBy("source")
    )


TP5_SQL = r"""
WITH norm0 AS (
    SELECT doc_id, source,
           regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS arr
    FROM documents WHERE doc_id % 89 <> 0
), bnorm AS (
    SELECT doc_id,
           regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS arr
    FROM documents WHERE doc_id % 89 = 0
), bsh AS (
    SELECT DISTINCT unnest(list_distinct(list_transform(
               range(1, greatest(len(arr) - 4, 1) + 1),
               i -> array_to_string(arr[i:i+4], ' ')))) AS sh
    FROM bnorm
), csh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(arr) - 4, 1) + 1),
               i -> array_to_string(arr[i:i+4], ' ')))) AS sh
    FROM norm0
), contaminated AS (
    SELECT DISTINCT doc_id FROM csh WHERE sh IN (SELECT sh FROM bsh)
), clean AS (
    SELECT * FROM norm0
    WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
), w1 AS (
    SELECT doc_id, arr, unnest(range(1, len(arr) - 6)) AS pos
    FROM clean WHERE len(arr) >= 8
), win AS (
    SELECT doc_id, pos, md5(array_to_string(arr[pos:pos+7], ' ')) AS wkey
    FROM w1
), q AS (
    SELECT wkey FROM win GROUP BY wkey HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
    SELECT DISTINCT doc_id, pos FROM win WHERE wkey IN (SELECT wkey FROM q)
), isl AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                     OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                THEN 1 ELSE 0 END AS brk
    FROM hits
), isl2 AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM isl
), spans AS (
    SELECT doc_id, MIN(pos) AS lo, MAX(pos) + 7 AS hi
    FROM isl2 GROUP BY doc_id, island
), sd AS (
    SELECT DISTINCT doc_id FROM spans
), tokpos AS (
    SELECT n.doc_id, unnest(n.arr) AS tok,
           unnest(range(1, len(n.arr) + 1)) AS pos
    FROM clean n JOIN sd USING (doc_id)
), kept AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM tokpos t
    WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.lo AND s.hi
    )
), keptagg AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS kept_text
    FROM kept GROUP BY doc_id
), final AS (
    SELECT c.doc_id, c.source,
           CASE WHEN sd.doc_id IS NOT NULL
                THEN COALESCE(k.kept_text, '')
                ELSE COALESCE(array_to_string(c.arr, ' '), '') END AS fin,
           sd.doc_id IS NOT NULL AS was_repaired
    FROM clean c
    LEFT JOIN sd ON c.doc_id = sd.doc_id
    LEFT JOIN keptagg k ON c.doc_id = k.doc_id
), keyed AS (
    SELECT doc_id, source, fin, was_repaired, md5(fin) AS fp FROM final
), winners AS (
    SELECT fp, MIN(doc_id) AS doc_id FROM keyed GROUP BY fp
), kept2 AS (
    SELECT k.* FROM keyed k JOIN winners w
      ON k.fp = w.fp AND k.doc_id = w.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN length(fin) = 0 THEN 0
                     ELSE len(string_split(fin, ' ')) END) AS BIGINT)
           AS total_tokens,
       CAST(SUM(CASE WHEN was_repaired THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repaired
FROM kept2
GROUP BY source
ORDER BY source
"""


def pn1_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization — the privacy-engineering release
    step beside ka1's k-anonymity audit and t8's PII redaction: user ids
    are replaced by a keyed SHA-256 token (16-hex prefix of
    sha2('pepper|'||id); rotate the pepper to unlink releases), and the
    output carries ONLY the pseudonym with per-user activity counts —
    joinable across releases under the same pepper, unlinkable without
    it. One key-hashed aggregation; the hash is a JVM builtin on the
    scan side, so pseudonymization adds zero shuffle."""
    ev = _events(spark, sf_dir)
    pseud = F.substring(
        F.sha2(
            F.concat(F.lit("pepper|"), F.col("user_id").cast("string")), 256
        ),
        1,
        16,
    )
    return (
        ev.groupBy(pseud.alias("pseudonym"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("event_type").cast("long").alias("n_event_types"),
        )
        .orderBy("pseudonym")
    )


PN1_SQL = """
SELECT substring(sha256('pepper|' || CAST(user_id AS VARCHAR)), 1, 16)
           AS pseudonym,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
FROM events
GROUP BY 1
ORDER BY pseudonym
"""


def _quality_label_hist(spark: SparkSession, sf_dir: str):
    """Shared score histogram for the classifier-eval queries: documents
    quantized to 1e-6 quality-score bins (t2's exact-parity expression),
    labeled en / non-en, rolled to per-bin positive/negative counts. The
    whole corpus collapses to a score-DOMAIN-sized table (≤1e6+2 bins),
    so the downstream rank/CDF windows run over bounded data — the a13
    lesson: histogram first, window over the histogram, never over the
    corpus."""
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    pos = F.when(F.col("lang") == "en", 1).otherwise(0)
    return (
        d.select(sq.alias("sq"), pos.alias("pos"))
        .groupBy("sq")
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("n_neg"),
        )
        # the histogram is domain-sized but every consumer (auc1/ks1/
        # mwu1/ot1/qq1) references it several times — cum windows AND
        # totals — and each reference re-derives the full corpus
        # lineage without this barrier (round-11 plan audit: ks1/ot1
        # planned TWO parquet scans, gt1's sibling shape four). The
        # lazy checkpoint truncates lineage so the corpus is scanned
        # ONCE per query (iso1's lesson, commit c9b7144).
        .localCheckpoint(eager=False)
    )


_QHIST_SQL = f"""
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) AS sq,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
           CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
               AS n_neg
    FROM documents
    GROUP BY 1
"""


def auc1_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the quality score as an en-vs-rest classifier —
    the Mann-Whitney rank form with tie handling, computed ENTIRELY from
    the score histogram: U·2 = Σ_bins n_pos·(2·cum_neg_below + n_neg),
    AUC = U2/(2·n_pos·n_neg). All-integer until the final division, so
    bit-reproducible; int64-safe while n_pos·n_neg < 2^62 (~4.6e9 docs
    per class — past sf1000). The corpus never sorts: the cumulative
    window runs over the ≤1e6-bin histogram."""
    hist = _quality_label_hist(spark, sf_dir)
    w = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, -1)
    cum_below = F.coalesce(F.sum("n_neg").over(w), F.lit(0))
    scored = hist.select(
        "sq",
        "n_pos",
        "n_neg",
        (F.col("n_pos") * (2 * cum_below + F.col("n_neg"))).alias("u2_part"),
    )
    return scored.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.sum("u2_part").cast("long").alias("u2"),
        (
            F.sum("u2_part").cast("double")
            / (2.0 * F.sum("n_pos").cast("double") * F.sum("n_neg").cast("double"))
        ).alias("auc"),
    )


AUC1_SQL = f"""
WITH hist AS (
{_QHIST_SQL}
), cum AS (
    SELECT sq, n_pos, n_neg,
           COALESCE(SUM(n_neg) OVER (
               ORDER BY sq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_below
    FROM hist
)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       CAST(SUM(n_pos * (2 * cum_below + n_neg)) AS BIGINT) AS u2,
       CAST(SUM(n_pos * (2 * cum_below + n_neg)) AS DOUBLE)
           / (2.0 * CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n_neg) AS DOUBLE))
           AS auc
FROM cum
"""


def ks1_score_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample statistic between the en and non-en
    quality-score distributions — the classic distribution-shift test
    beside dr1's PSI: KS = max over bins of |CDF_pos − CDF_neg|,
    computed as the integer max of |cum_pos·n_neg_tot − cum_neg·n_pos_tot|
    over the score histogram, divided once at the end. Same bounded-
    domain window and int64 bound as auc1."""
    hist = _quality_label_hist(spark, sf_dir)
    w = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "sq",
        F.sum("n_pos").over(w).alias("cp"),
        F.sum("n_neg").over(w).alias("cn"),
    )
    tot = hist.agg(
        F.sum("n_pos").cast("long").alias("np"),
        F.sum("n_neg").cast("long").alias("nn"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("cp") * F.col("nn") - F.col("cn") * F.col("np"))
            )
            .cast("long")
            .alias("ks_num"),
            F.first("np").alias("n_pos"),
            F.first("nn").alias("n_neg"),
        )
        .select(
            "n_pos",
            "n_neg",
            "ks_num",
            (
                F.col("ks_num").cast("double")
                / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
            ).alias("ks"),
        )
    )


KS1_SQL = f"""
WITH hist AS (
{_QHIST_SQL}
), cum AS (
    SELECT sq,
           SUM(n_pos) OVER (ORDER BY sq ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cp,
           SUM(n_neg) OVER (ORDER BY sq ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cn
    FROM hist
), tot AS (
    SELECT CAST(SUM(n_pos) AS BIGINT) AS np, CAST(SUM(n_neg) AS BIGINT) AS nn
    FROM hist
)
SELECT np AS n_pos, nn AS n_neg,
       CAST(MAX(ABS(cp * nn - cn * np)) AS BIGINT) AS ks_num,
       CAST(MAX(ABS(cp * nn - cn * np)) AS DOUBLE)
           / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) AS ks
FROM cum, tot
GROUP BY np, nn
"""


def mwu1_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947, with the
    standard tie correction) between the en and non-en quality-score
    distributions — the nonparametric location test beside ks1's
    distribution distance and dr1's PSI. All rank algebra is EXACT
    integers over the score histogram (never the corpus): with per-bin
    counts cA/cB, c = cA+cB and cum_before the ranks below the bin,
    DOUBLED average ranks are integers (2·r̄ = 2·cum_before + c + 1), so

        u2_a   = Σ cA·(2·cum_before + c + 1) − n_a·(n_a+1)   (= 2·U_A)
        ties   = Σ (c³ − c)
        Var(U) = n_a·n_b·(n³ − n − ties) / (12·n·(n−1))
        z      = (u2_a − n_a·n_b) / (2·√Var)

    u2_a and the z numerator are exact BIGINTs; ties/var use
    decimal(38) (c³ sums pass int64 around n ≈ 2·10⁶ in one bin — the
    1e6-quantized score domain keeps single-bin counts far below that
    until ~10¹² docs); z is one double expression from exact integers,
    quantized half-up at 1e-6. Var = 0 (one group empty or everything
    tied) pins z_q6 = 0. One bounded-domain window, same shape as
    auc1/ks1."""
    return mann_whitney_from_hist(_quality_label_hist(spark, sf_dir))


def mann_whitney_from_hist(hist: "DataFrame") -> DataFrame:
    """mwu1's math over any (sq, n_pos, n_neg) histogram — split out so
    the unit test can replay it against explicit average-rank
    assignment on constructed distributions (see mwu1's docstring for
    the algebra and headroom)."""
    w = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, 0)
    c = (F.col("n_pos") + F.col("n_neg")).alias("c")
    cum = hist.select(
        "sq",
        F.col("n_pos").alias("ca"),
        c,
        (F.sum(F.col("n_pos") + F.col("n_neg")).over(w)).alias("cumc"),
    )
    r2 = cum.select(
        "ca",
        "c",
        (
            F.col("ca")
            * (2 * (F.col("cumc") - F.col("c")) + F.col("c") + 1)
        ).alias("r2t"),
        (
            F.col("c").cast("decimal(38,0)")
            * F.col("c").cast("decimal(38,0)")
            * F.col("c").cast("decimal(38,0)")
            - F.col("c").cast("decimal(38,0)")
        ).alias("t3"),
    )
    g = r2.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum(F.col("c") - F.col("ca")).cast("long").alias("n_b"),
        F.sum("r2t").cast("long").alias("r2a"),
        F.sum("t3").cast("decimal(38,0)").alias("ties"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = (na + nb).cast("decimal(38,0)")
    u2 = (F.col("r2a") - na * (na + 1)).cast("long")
    var_num = (
        na.cast("decimal(38,0)")
        * nb.cast("decimal(38,0)")
        * (n * n * n - n - F.col("ties"))
    ).cast("decimal(38,0)")
    var = var_num.cast("double") / (
        F.lit(12.0) * n.cast("double") * (n.cast("double") - F.lit(1.0))
    )
    z = (u2.cast("double") - na.cast("double") * nb.cast("double")) / (
        F.lit(2.0) * F.sqrt(var)
    )
    z_q6 = F.when(var_num == 0, F.lit(0)).otherwise(
        F.floor(z * F.lit(1e6) + F.lit(0.5))
    ).cast("long")
    return g.select(
        "n_a",
        "n_b",
        u2.alias("u2_a"),
        F.col("ties").cast("long").alias("ties_cubed"),
        z_q6.alias("z_q6"),
    )


MWU1_SQL = f"""
WITH hist AS (
{_QHIST_SQL}
), cum AS (
    SELECT sq, n_pos AS ca, n_pos + n_neg AS c,
           SUM(n_pos + n_neg) OVER (ORDER BY sq ROWS BETWEEN UNBOUNDED
                                    PRECEDING AND CURRENT ROW) AS cumc
    FROM hist
), r2 AS (
    SELECT ca, c,
           ca * (2 * (cumc - c) + c + 1) AS r2t,
           CAST(c AS HUGEINT) * c * c - c AS t3
    FROM cum
), g AS (
    SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
           CAST(SUM(c - ca) AS BIGINT) AS n_b,
           CAST(SUM(r2t) AS BIGINT) AS r2a,
           SUM(t3) AS ties
    FROM r2
), f AS (
    SELECT n_a, n_b, ties,
           CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
           CAST(n_a AS HUGEINT) * n_b
             * (CAST(n_a + n_b AS HUGEINT) * (n_a + n_b) * (n_a + n_b)
                - (n_a + n_b) - ties) AS var_num
    FROM g
)
SELECT n_a, n_b, u2_a,
       CAST(ties AS BIGINT) AS ties_cubed,
       CASE WHEN var_num = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                (CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
                / (2.0 * sqrt(CAST(var_num AS DOUBLE)
                              / (12.0 * CAST(n_a + n_b AS DOUBLE)
                                 * (CAST(n_a + n_b AS DOUBLE) - 1.0))))
                * 1000000 + 0.5) AS BIGINT)
       END AS z_q6
FROM f
"""


def rb1_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability diagram for the quality score as an
    en-vs-rest classifier (completes the eval trio with auc1/ks1): ten
    equal-width score bins, each with observed positive rate vs mean
    predicted score — mean kept exact by summing the 1e-6-quantized
    scores as integers and dividing once. One corpus groupBy to a
    10-row table."""
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(0),
    )
    bin_ = F.least(F.greatest((sq / 100000).cast("long"), F.lit(0)), F.lit(9))
    pos = F.when(F.col("lang") == "en", 1).otherwise(0)
    return (
        d.select(bin_.alias("bin"), sq.alias("sq"), pos.alias("pos"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
            (F.sum("pos").cast("double") / F.count(F.lit(1))).alias("frac_pos"),
            (
                F.sum("sq").cast("double")
                / (F.count(F.lit(1)).cast("double") * 1e6)
            ).alias("mean_score"),
        )
        .orderBy("bin")
    )


RB1_SQL = f"""
WITH scored AS (
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), 0) AS sq,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM documents
)
SELECT least(greatest(CAST(sq // 100000 AS BIGINT), 0), 9) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS frac_pos,
       CAST(SUM(sq) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
           AS mean_score
FROM scored
GROUP BY 1
ORDER BY bin
"""


def iso1_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration map for rb1's reliability table
    (operators/classifier.isotonic_calibration): the monotone
    score→probability map a curation pipeline applies before
    thresholding the quality classifier. Same exact binning as rb1
    (quality score → 10 equal-width bins, lang='en' outcome); the
    fitted values come from the MINIMAX closed form of the unique
    weighted isotonic solution — max_{j≤i} min_{k≥i} of range rates —
    so neither engine replays PAV's sequential pooling: pure joins over
    the 10-bin domain after one corpus groupBy."""
    from etl_oms_spark.operators.classifier import isotonic_calibration
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(0),
    )
    bin_ = F.least(F.greatest((sq / 100000).cast("long"), F.lit(0)), F.lit(9))
    pos = F.when(F.col("lang") == "en", 1).otherwise(0)
    bins = (
        d.select(bin_.alias("bin"), pos.alias("pos"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
    )
    return isotonic_calibration(bins)


ISO1_SQL = f"""
WITH scored AS (
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), 0) AS sq,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM documents
), b AS MATERIALIZED (
    SELECT least(greatest(CAST(sq // 100000 AS BIGINT), 0), 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS pos
    FROM scored GROUP BY 1
), ranges AS (
    SELECT j.bin AS j, k.bin AS k,
           CAST(SUM(x.pos) AS BIGINT) AS rp,
           CAST(SUM(x.n) AS BIGINT) AS rn
    FROM b j
    JOIN b k ON j.bin <= k.bin
    JOIN b x ON x.bin BETWEEN j.bin AND k.bin
    GROUP BY 1, 2
), inner_min AS (
    SELECT r.j, i.bin AS i,
           MIN(CAST(r.rp AS DOUBLE) / CAST(r.rn AS DOUBLE)) AS mn
    FROM ranges r JOIN b i ON r.j <= i.bin AND r.k >= i.bin
    GROUP BY 1, 2
), fitted AS (
    SELECT i, MAX(mn) AS fitted FROM inner_min GROUP BY 1
)
SELECT b.bin, b.n, b.pos AS n_pos,
       CAST(floor(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE) * 1000000
                  + 0.5) AS BIGINT) AS rate_q,
       CAST(floor(f.fitted * 1000000 + 0.5) AS BIGINT) AS fitted_q
FROM b JOIN fitted f ON f.i = b.bin
ORDER BY b.bin
"""


def bs1_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row exact calibration scorecard
    (operators/classifier.calibration_summary): Brier score, Murphy
    (1973) reliability / resolution / uncertainty, ECE and MCE for the
    quality score as an en-vs-rest classifier — the scalar summaries of
    rb1's diagram and the numbers a pipeline thresholds before trusting
    iso1's calibration map. Same exact binning as rb1/iso1; ONE corpus
    groupBy (the Brier sum is bin-decomposable), every ratio quantized
    to 1e-9 by exact floor division — bit-identical to DuckDB HUGEINT
    ``//`` — never by rounding doubles."""
    from etl_oms_spark.operators.classifier import calibration_summary
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(0),
    )
    pos = F.when(F.col("lang") == "en", 1).otherwise(0)
    return calibration_summary(d.select(sq.alias("sq"), pos.alias("pos")))


BS1_SQL = f"""
WITH scored AS (
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), 0) AS sq,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM documents
), b AS (
    SELECT least(greatest(CAST(sq // 100000 AS BIGINT), 0), 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS pos,
           CAST(SUM(sq) AS BIGINT) AS ssq,
           SUM(CAST(sq - pos * 1000000 AS HUGEINT)
               * CAST(sq - pos * 1000000 AS HUGEINT)) AS brier_sum
    FROM scored
    GROUP BY 1
), per_bin AS (
    SELECT n, pos, brier_sum,
           abs(ssq - pos * 1000000) AS abs_d,
           (abs(ssq - pos * 1000000) * 1000) // n AS gap_q9,
           (CAST(ssq - pos * 1000000 AS HUGEINT)
            * CAST(ssq - pos * 1000000 AS HUGEINT)) // n AS rel_t,
           (CAST(pos AS HUGEINT) * pos * 1000000000000) // n AS res_t
    FROM b
), g AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           SUM(brier_sum) AS brier_tot,
           CAST(SUM(abs_d) AS BIGINT) AS ece_num,
           CAST(MAX(gap_q9) AS BIGINT) AS mce_q9,
           SUM(rel_t) AS rel_sc,
           SUM(res_t) AS res_sum
    FROM per_bin
)
SELECT n, n_pos,
       CAST(brier_tot // (CAST(n AS HUGEINT) * 1000) AS BIGINT) AS brier_q9,
       CAST((CAST(ece_num AS HUGEINT) * 1000) // n AS BIGINT) AS ece_q9,
       mce_q9,
       CAST(rel_sc // (CAST(n AS HUGEINT) * 1000) AS BIGINT) AS rel_q9,
       CAST(greatest(res_sum
                     - (CAST(n_pos AS HUGEINT) * n_pos * 1000000000000)
                       // n,
                     CAST(0 AS HUGEINT))
            // (CAST(n AS HUGEINT) * 1000) AS BIGINT) AS res_q9,
       CAST((CAST(n_pos AS HUGEINT) * (n - n_pos) * 1000000000)
            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS unc_q9,
       CAST(brier_tot // (CAST(n AS HUGEINT) * 1000) AS DOUBLE) / 1e9
           AS brier,
       CAST((CAST(ece_num AS HUGEINT) * 1000) // n AS DOUBLE) / 1e9 AS ece
FROM g
"""


def pt1_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style prototypicality pruning summary
    (operators/clustering.prototype_prune, Tirumala et al. 2023): after
    the same exact-integer k-means as e7/sd1 (k=8, 2 Lloyd iterations),
    flag the closest quarter of each cluster to its centroid —
    ``floor(n_k/4)`` by (dist2 ASC, id ASC) rank — as dropped, the
    diversification step that complements sd1's near-dup removal and
    cl1's outlier rule. Per-cluster drop counts and the dist2 boundary
    on both sides of the cut; all integer arithmetic, cluster-keyed
    windows only."""
    from etl_oms_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
        prototype_prune,
    )

    emb = _t(spark, sf_dir, "embeddings")
    flags = prototype_prune(kmeans_assign(emb, kmeans_fit(emb, k=8, n_iter=2)))
    return (
        flags.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("dropped").cast("long")).cast("long").alias("n_dropped"),
            F.coalesce(
                F.max(F.when(F.col("dropped"), F.col("dist2"))), F.lit(-1)
            )
            .cast("long")
            .alias("max_dropped_dist2"),
            F.min(F.when(~F.col("dropped"), F.col("dist2")))
            .cast("long")
            .alias("min_kept_dist2"),
        )
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "n",
            "n_dropped",
            "max_dropped_dist2",
            "min_kept_dist2",
        )
        .orderBy("cluster")
    )


PT1_SQL = f"""
WITH RECURSIVE {_kmeans_cte_sql(8, 2)},
ranked AS (
    SELECT vec_id, cluster, CAST(dist2 AS BIGINT) AS dist2,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY dist2 ASC, vec_id ASC) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n
    FROM final_assign
), flagged AS (
    SELECT *, rn <= (n * 1) // 4 AS dropped FROM ranked
)
SELECT CAST(cluster AS INT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(COALESCE(MAX(CASE WHEN dropped THEN dist2 END), -1) AS BIGINT)
           AS max_dropped_dist2,
       CAST(MIN(CASE WHEN NOT dropped THEN dist2 END) AS BIGINT)
           AS min_kept_dist2
FROM flagged
GROUP BY cluster
ORDER BY cluster
"""


def ct1_rank_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle (1994) rank-order n-gram language ID, self-scored
    as a confusion matrix (operators/text.rank_langid_confusion) — the
    trained-profile upgrade of t3's marker-word heuristic: per-language
    top-20 character-trigram rank profiles from the corpus's own
    labels, out-of-place distance per (doc, lang), argmin with lang-ASC
    tie-break. Trigram explodes collapse straight into domain-sized
    (lang, tri) and doc-bounded (doc, tri) groupBys; the L·20 profile
    table broadcasts everywhere, so no shuffle carries more than N·L
    rows."""
    from etl_oms_spark.operators.text import rank_langid_confusion

    return rank_langid_confusion(_t(spark, sf_dir, "documents"))


CT1_SQL = f"""
WITH base AS (
    SELECT doc_id, lang AS true_lang, {_NORM_SQL} AS nt FROM documents
), tri AS (
    SELECT doc_id, true_lang,
           unnest(list_transform(range(1, CAST(length(nt) AS BIGINT) - 1),
                                 i -> substr(nt, CAST(i AS INT), 3))) AS tri
    FROM base
), lp AS (
    SELECT lang, tri, rl FROM (
        SELECT true_lang AS lang, tri, COUNT(*) AS c,
               row_number() OVER (PARTITION BY true_lang
                                  ORDER BY COUNT(*) DESC, tri) AS rl
        FROM tri GROUP BY true_lang, tri
    ) WHERE rl <= 20
), dp AS (
    SELECT doc_id, tri, rd FROM (
        SELECT doc_id, tri, COUNT(*) AS c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, tri) AS rd
        FROM tri GROUP BY doc_id, tri
    ) WHERE rd <= 20
), np AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np FROM dp GROUP BY doc_id
), corr AS (
    SELECT dp.doc_id, lp.lang,
           CAST(SUM(abs(dp.rd - lp.rl) - 20) AS BIGINT) AS corr
    FROM dp JOIN lp USING (tri)
    GROUP BY 1, 2
), langs AS (
    SELECT DISTINCT lang FROM lp
), dist AS (
    SELECT np.doc_id, langs.lang,
           CAST(np.np * 20 + COALESCE(corr.corr, 0) AS BIGINT) AS dist
    FROM np CROSS JOIN langs
    LEFT JOIN corr ON corr.doc_id = np.doc_id AND corr.lang = langs.lang
), pred AS (
    SELECT doc_id, (min(struct_pack(dist := dist, l := lang))).l AS pred_lang
    FROM dist GROUP BY doc_id
)
SELECT d.lang AS true_lang, p.pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred p JOIN documents d USING (doc_id)
GROUP BY 1, 2
ORDER BY true_lang, pred_lang
"""


def ct1p_rank_langid_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ct1's production twin (VERDICT r10 item 1): identical
    Cavnar-Trenkle rank-order langid, but trigrams come from only the
    first 400 NORMALIZED characters of each document — Cavnar-Trenkle's
    profiles saturate after a few hundred characters, so full-document
    profiling (ct1's honest linear asymptote, the headline's top single
    cost) is work nobody would schedule at 100 TB. Same confusion-matrix
    output; the oracle replays the identical truncation (substr on the
    normalized text, then the same normalization the trigram builder
    re-applies) before the trigram unnest."""
    from etl_oms_spark.operators.text import rank_langid_confusion

    return rank_langid_confusion(
        _t(spark, sf_dir, "documents"), prefix_chars=400
    )


# the truncated-then-renormalized canonical prefix: substr of the
# normalized text can expose ONE trailing space, which the Spark side's
# trigram builder re-normalizes away — so the oracle re-applies the same
# lower/trim/collapse to the substr (lower+collapse are no-ops on an
# already-normalized prefix; trim is the load-bearing part)
_CT1P_NT_SQL = (
    "regexp_replace(lower(trim(substr("
    + _NORM_SQL
    + ", 1, 400))), '\\s+', ' ', 'g')"
)

CT1P_SQL = f"""
WITH base AS (
    SELECT doc_id, lang AS true_lang, {_CT1P_NT_SQL} AS nt FROM documents
), tri AS (
    SELECT doc_id, true_lang,
           unnest(list_transform(range(1, CAST(length(nt) AS BIGINT) - 1),
                                 i -> substr(nt, CAST(i AS INT), 3))) AS tri
    FROM base
), lp AS (
    SELECT lang, tri, rl FROM (
        SELECT true_lang AS lang, tri, COUNT(*) AS c,
               row_number() OVER (PARTITION BY true_lang
                                  ORDER BY COUNT(*) DESC, tri) AS rl
        FROM tri GROUP BY true_lang, tri
    ) WHERE rl <= 20
), dp AS (
    SELECT doc_id, tri, rd FROM (
        SELECT doc_id, tri, COUNT(*) AS c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, tri) AS rd
        FROM tri GROUP BY doc_id, tri
    ) WHERE rd <= 20
), np AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np FROM dp GROUP BY doc_id
), corr AS (
    SELECT dp.doc_id, lp.lang,
           CAST(SUM(abs(dp.rd - lp.rl) - 20) AS BIGINT) AS corr
    FROM dp JOIN lp USING (tri)
    GROUP BY 1, 2
), langs AS (
    SELECT DISTINCT lang FROM lp
), dist AS (
    SELECT np.doc_id, langs.lang,
           CAST(np.np * 20 + COALESCE(corr.corr, 0) AS BIGINT) AS dist
    FROM np CROSS JOIN langs
    LEFT JOIN corr ON corr.doc_id = np.doc_id AND corr.lang = langs.lang
), pred AS (
    SELECT doc_id, (min(struct_pack(dist := dist, l := lang))).l AS pred_lang
    FROM dist GROUP BY doc_id
)
SELECT d.lang AS true_lang, p.pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred p JOIN documents d USING (doc_id)
GROUP BY 1, 2
ORDER BY true_lang, pred_lang
"""


def ari1_cluster_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-validity scorecard for the exact k-means partition vs
    the embeddings' ground-truth labels
    (operators/clustering.cluster_label_agreement): Adjusted Rand Index
    (Hubert & Arabie 1985) as pure integer algebra over doubled pair
    counts — ONE truncating division quantizes to 1e-9 — plus mutual
    information and both entropies (per-cell 1e-9-quantized log terms,
    en1's discipline) and the arithmetic-mean NMI. One groupBy to the
    8×L contingency table; everything after is domain-sized."""
    from etl_oms_spark.operators.clustering import (
        cluster_label_agreement,
        kmeans_assign,
        kmeans_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, kmeans_fit(emb, k=8, n_iter=2))
    return cluster_label_agreement(assigned, emb.select("vec_id", "label"))


ARI1_SQL = f"""
WITH RECURSIVE {_kmeans_cte_sql(8, 2)},
ct AS (
    SELECT f.cluster, e.label AS lbl, CAST(COUNT(*) AS BIGINT) AS nij
    FROM final_assign f JOIN embeddings e USING (vec_id)
    GROUP BY 1, 2
), arow AS (
    SELECT cluster, CAST(SUM(nij) AS BIGINT) AS ai FROM ct GROUP BY 1
), bcol AS (
    SELECT lbl, CAST(SUM(nij) AS BIGINT) AS bj FROM ct GROUP BY 1
), sums AS (
    SELECT CAST(SUM(nij) AS BIGINT) AS n,
           SUM(CAST(nij AS HUGEINT) * (nij - 1)) AS sidx2,
           CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
           CAST(COUNT(DISTINCT lbl) AS BIGINT) AS n_labels
    FROM ct
), sa AS (
    SELECT SUM(CAST(ai AS HUGEINT) * (ai - 1)) AS sa2 FROM arow
), sb AS (
    SELECT SUM(CAST(bj AS HUGEINT) * (bj - 1)) AS sb2 FROM bcol
), mi AS (
    SELECT CAST(SUM(CAST(floor(
               CAST(nij AS DOUBLE)
               * ln(CAST(n AS DOUBLE) * CAST(nij AS DOUBLE)
                    / (CAST(ai AS DOUBLE) * CAST(bj AS DOUBLE)))
               * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS mi_s
    FROM ct JOIN arow USING (cluster) JOIN bcol USING (lbl)
    CROSS JOIN sums
), ha AS (
    SELECT CAST(SUM(CAST(floor(
               -(CAST(ai AS DOUBLE)
                 * ln(CAST(ai AS DOUBLE) / CAST(n AS DOUBLE)))
               * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS h_ai
    FROM arow CROSS JOIN sums
), hb AS (
    SELECT CAST(SUM(CAST(floor(
               -(CAST(bj AS DOUBLE)
                 * ln(CAST(bj AS DOUBLE) / CAST(n AS DOUBLE)))
               * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS h_bj
    FROM bcol CROSS JOIN sums
), g AS (
    SELECT n, n_clusters, n_labels,
           CAST(n AS HUGEINT) * (n - 1) AS big2,
           sidx2, sa2, sb2, mi_s, h_ai, h_bj
    FROM sums CROSS JOIN sa CROSS JOIN sb CROSS JOIN mi
    CROSS JOIN ha CROSS JOIN hb
)
SELECT n, n_clusters, n_labels,
       CASE WHEN big2 * (sa2 + sb2) - 2 * sa2 * sb2 = 0
            THEN CAST(1000000000 AS BIGINT)
            ELSE CAST(((2 * big2 * sidx2 - 2 * sa2 * sb2) * 1000000000)
                      // (big2 * (sa2 + sb2) - 2 * sa2 * sb2) AS BIGINT)
       END AS ari_q9,
       CAST(greatest(mi_s, 0) // n AS BIGINT) AS mi_q9,
       CAST(h_ai // n AS BIGINT) AS h_cluster_q9,
       CAST(h_bj // n AS BIGINT) AS h_label_q9,
       CASE WHEN h_ai // n + h_bj // n = 0 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(greatest(mi_s, 0) // n AS DOUBLE)
                 / (CAST(h_ai // n + h_bj // n AS DOUBLE) / 2.0)
       END AS nmi
FROM g
"""


def fk1_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (operators/classifier.fleiss_kappa, Fleiss 1971)
    across three deterministic labeling functions voting en/other per
    document — the weak-supervision QC gate (do the labeling functions
    agree above chance before their votes are trusted?): LF1 = >= 3
    English-stopword hits, LF2 = stopword ratio >= 0.1 (integerized
    ns*10 >= n_tokens), LF3 = contains 'the'. One groupBy to the
    (item, category) counts; kappa is pure integer algebra with ONE
    truncating division to 1e-9 (the ari1 signed contract)."""
    from etl_oms_spark.operators.classifier import fleiss_kappa
    from etl_oms_spark.operators.text import (
        STOPWORDS_EN,
        marker_hits,
        whitespace_token_count,
    )

    d = _t(spark, sf_dir, "documents")
    ns = marker_hits("text", STOPWORDS_EN)
    nt = whitespace_token_count("text")
    nthe = F.regexp_count(F.lower(F.col("text")), F.lit(r"\bthe\b"))
    lf = lambda cond: F.when(cond, F.lit("en")).otherwise(F.lit("other"))
    ratings = d.select(
        F.col("doc_id").alias("item_id"),
        F.explode(
            F.array(
                lf(ns >= 3),
                lf(ns * 10 >= nt),
                lf(nthe >= 1),
            )
        ).alias("category"),
    )
    return fleiss_kappa(ratings, n_raters=3)


# derived from the SAME list the Spark side uses (text.STOPWORDS_EN) so
# editing the stopword set can never silently break oracle parity
# (ADVICE r10): one source of truth, two engines
from etl_oms_spark.operators.text import STOPWORDS_EN as _STOPWORDS_EN

_STOP_RE_SQL = "'\\b(" + "|".join(_STOPWORDS_EN) + ")\\b'"

FK1_SQL = f"""
WITH r AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), {_STOP_RE_SQL}))
                AS BIGINT) AS ns,
           CAST({_WS} AS BIGINT) AS nt,
           CAST(len(regexp_extract_all(lower(text), '\\bthe\\b'))
                AS BIGINT) AS nthe
    FROM documents
), ratings AS (
    SELECT doc_id,
           unnest([
               CASE WHEN ns >= 3 THEN 'en' ELSE 'other' END,
               CASE WHEN ns * 10 >= nt THEN 'en' ELSE 'other' END,
               CASE WHEN nthe >= 1 THEN 'en' ELSE 'other' END
           ]) AS category
    FROM r
), nij AS (
    SELECT doc_id, category, CAST(COUNT(*) AS BIGINT) AS nij
    FROM ratings GROUP BY 1, 2
), per_item AS (
    SELECT doc_id, CAST(SUM(nij) AS BIGINT) AS ni,
           CAST(SUM(nij * nij) AS BIGINT) AS sq
    FROM nij GROUP BY 1
), kept AS (
    SELECT * FROM per_item WHERE ni = 3
), exc AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_excluded
    FROM per_item WHERE ni <> 3
), bj AS (
    SELECT category, CAST(SUM(nij) AS BIGINT) AS bj
    FROM nij
    WHERE doc_id IN (SELECT doc_id FROM kept)
    GROUP BY 1
), g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           SUM(CAST(sq AS HUGEINT)) AS ssq
    FROM kept
), ee AS (
    SELECT SUM(CAST(bj AS HUGEINT) * bj) AS e FROM bj
), f AS (
    SELECT n_items, n_excluded, ssq, e,
           ssq - CAST(n_items AS HUGEINT) * 3 AS a,
           CAST(n_items AS HUGEINT) * 6 AS d1,
           CAST(n_items AS HUGEINT) * n_items * 9 AS d2
    FROM g CROSS JOIN exc CROSS JOIN ee
)
SELECT n_items, n_excluded, CAST(3 AS BIGINT) AS n_raters,
       CAST((a * 1000000000) // d1 AS BIGINT) AS p_bar_q9,
       CAST((e * 1000000000) // d2 AS BIGINT) AS p_e_q9,
       CASE WHEN d1 * (d2 - e) = 0 THEN CAST(1000000000 AS BIGINT)
            ELSE CAST(((a * d2 - e * d1) * 1000000000)
                      // (d1 * (d2 - e)) AS BIGINT)
       END AS kappa_q9
FROM f
"""


def wf1_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint matches (operators/dedup.winnow_fingerprints
    + winnow_match_pairs, Schleimer et al. 2003 / MOSS): hash every
    token 4-gram with the portable 60-bit md5 prefix, select the
    min-hash of each 4-window (ties rightmost) per document — the
    guarantee-carrying sparse fingerprint set — then report document
    pairs sharing ≥ 2 distinct fingerprints, hub hashes (df > 64)
    dropped before the posting-list join. Doc-partitioned windows only;
    the pair join is Σdf²-bounded with df ≤ 64."""
    from etl_oms_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_match_pairs,
    )

    fps = winnow_fingerprints(_t(spark, sf_dir, "documents"), k=4, w=4)
    return winnow_match_pairs(fps, max_df=64, min_shared=2)


WF1_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
), pt AS (
    SELECT doc_id, unnest(range(1, CAST(len(t) AS BIGINT) + 1)) AS pos,
           unnest(t) AS tok
    FROM toks
), kg AS (
    SELECT doc_id, pos,
           CAST('0x' || substring(
               md5(tok || ' ' || l1 || ' ' || l2 || ' ' || l3), 1, 15)
             AS BIGINT) AS h
    FROM (
        SELECT doc_id, pos, tok,
               lead(tok, 1) OVER dw AS l1,
               lead(tok, 2) OVER dw AS l2,
               lead(tok, 3) OVER dw AS l3
        FROM pt
        WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
    ) WHERE l3 IS NOT NULL
), sel AS (
    SELECT DISTINCT doc_id, s.h AS h FROM (
        SELECT doc_id,
               min(struct_pack(h := h, np := -pos)) OVER fw AS s,
               COUNT(*) OVER fw AS cnt
        FROM kg
        WINDOW fw AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
    ) WHERE cnt = 4
), small AS (
    SELECT h FROM (SELECT h, COUNT(*) AS df FROM sel GROUP BY h)
    WHERE df <= 64
), pr AS (
    SELECT doc_id, h FROM sel JOIN small USING (h)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY id_a, id_b
"""


def ap1_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    step interpolation — the right eval metric when positives are rare,
    completing auc1/ks1/rb1): AP = (1/P)·Σ_thresholds n_pos_at(t) ·
    precision_at(t), thresholds descending over DISTINCT scores. Like
    auc1, the corpus collapses to the ≤1e6-bin score histogram first and
    every cumulative window runs over the bounded domain, never the
    corpus. Precision ratios are integer-quantized at 1e-9 BEFORE the
    weighted sum — `(tp·10⁹) div cum` is exact floor division on both
    engines — so the result is bit-reproducible; the 1e-9 floor biases
    each ratio down by <1e-9, and ap_q9_sum stays int64-safe while
    n_pos_total < 9·10⁹."""
    hist = _quality_label_hist(spark, sf_dir)
    w = Window.orderBy(F.desc("sq")).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "sq",
        "n_pos",
        F.sum("n_pos").over(w).alias("tp"),
        F.sum(F.col("n_pos") + F.col("n_neg")).over(w).alias("cum"),
    )
    # exact floor((tp*1e9)/cum) via decimal remainder: subtract the exact
    # remainder first so the decimal division hits an integer (no
    # HALF_UP-then-floor edge case), matching DuckDB's HUGEINT `//`
    a = F.col("tp").cast("decimal(28,0)") * F.lit(1000000000).cast("decimal(10,0)")
    b = F.col("cum").cast("decimal(28,0)")
    ratio_q = ((a - a % b) / b).cast("long")
    term = F.col("n_pos") * ratio_q
    return (
        cum.select("n_pos", term.alias("term"))
        .agg(
            F.sum("n_pos").cast("long").alias("n_pos"),
            F.sum("term").cast("long").alias("ap_q9_sum"),
            (
                F.sum("term").cast("double")
                / (F.sum("n_pos").cast("double") * 1e9)
            ).alias("ap"),
        )
    )


AP1_SQL = f"""
WITH hist AS (
{_QHIST_SQL}
), cum AS (
    SELECT sq, n_pos,
           SUM(n_pos) OVER (ORDER BY sq DESC ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS tp,
           SUM(n_pos + n_neg) OVER (ORDER BY sq DESC ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cum
    FROM hist
), terms AS (
    SELECT n_pos,
           n_pos * ((CAST(tp AS HUGEINT) * 1000000000) // cum) AS term
    FROM cum
)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(term) AS BIGINT) AS ap_q9_sum,
       CAST(SUM(term) AS DOUBLE)
           / (CAST(SUM(n_pos) AS DOUBLE) * 1000000000.0) AS ap
FROM terms
"""


def sw1_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (down-weight duplicates instead of dropping —
    the SoftDeDup recipe): every document in an exact-duplicate cluster
    of size c gets sampling weight 1/c, so each distinct text contributes
    exactly one unit of effective data while all copies stay available.
    Reported per source: raw docs, duplicated docs, and the effective
    corpus size Σ 1/c — kept exact-reproducible by integer floor
    `10⁹ div c` per doc before the sum. Plan: one shuffle to count the
    cluster (window over the md5 fingerprint — docs never carry the text
    through the shuffle twice), one groupBy(source); both key-bounded at
    100 TB."""
    from etl_oms_spark.operators.text import fingerprint_md5

    d = _t(spark, sf_dir, "documents").select(
        "source", fingerprint_md5("text").alias("fp")
    )
    c = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    per_doc = d.select("source", c.alias("c")).select(
        "source",
        "c",
        F.expr("1000000000 div c").alias("wq"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum("wq").cast("long").alias("eff_q9_sum"),
            (F.sum("wq").cast("double") / 1e9).alias("eff_docs"),
        )
        .orderBy("source")
    )


SW1_SQL = f"""
WITH fp AS (
    SELECT source, md5({_NORM_SQL}) AS fp FROM documents
), sized AS (
    SELECT source, COUNT(*) OVER (PARTITION BY fp) AS c FROM fp
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(SUM(1000000000 // c) AS BIGINT) AS eff_q9_sum,
       CAST(SUM(1000000000 // c) AS DOUBLE) / 1000000000.0 AS eff_docs
FROM sized
GROUP BY source
ORDER BY source
"""


def ld1_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit beside ka1's k-anonymity: within each
    quasi-identifier group (nation, market segment, $1000 balance
    bucket), how many DISTINCT sensitive values (exact balance cents)
    appear? A group can be k-anonymous yet leak the sensitive attribute
    when all members share one value (l=1, homogeneity attack). Output
    is the l-histogram: groups and customers at each diversity level —
    two bounded aggregates, no corpus blowup."""
    c = _t(spark, sf_dir, "customer")
    bal_bucket = (
        F.floor(_cents(F.col("c_acctbal")) / F.lit(100_000)).cast("long")
    )
    groups = c.groupBy(
        "c_nationkey", "c_mktsegment", bal_bucket.alias("bal_k")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct(_cents(F.col("c_acctbal"))).cast("long").alias("l"),
    )
    return (
        groups.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("group_size").cast("long").alias("n_customers"),
        )
        .orderBy("l")
    )


LD1_SQL = """
WITH groups AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 100000)
                AS BIGINT) AS bal_k,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT))
                AS BIGINT) AS l
    FROM customer
    GROUP BY 1, 2, 3
)
SELECT l,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(group_size) AS BIGINT) AS n_customers
FROM groups
GROUP BY l
ORDER BY l
"""


#: Benford first-digit probabilities log10(1+1/d), materialized ONCE in
#: Python and embedded as identical double literals in both engines (repr
#: round-trips exactly), so neither engine computes its own log10
_BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def bd1_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law fraud/quality audit over order totals: the observed
    first-significant-digit distribution vs log10(1+1/d), with the
    per-digit χ² contribution (obs − n·p)²/(n·p) — the classic screen
    for fabricated or truncated monetary data, run as one 9-row
    aggregate. First digits come from the decimal string of the exact
    cent integer (no float log10 boundary risk); expected probabilities
    are shared Python-computed literals; the χ² term is one deterministic
    IEEE expression per digit, quantized at 1e-6."""
    o = _t(spark, sf_dir, "orders")
    digit = F.substring(
        _cents(F.col("o_totalprice")).cast("string"), 1, 1
    ).cast("int")
    obs = o.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    tot = o.agg(F.count(F.lit(1)).cast("long").alias("n"))
    p = F.lit(None).cast("double")
    for d in range(1, 10):
        p = F.when(F.col("digit") == d, F.lit(_BENFORD_P[d])).otherwise(p)
    nobs = F.col("n_obs").cast("double")
    exp = F.col("n").cast("double") * p
    term = (nobs - exp) * (nobs - exp) / exp
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            p.alias("benford_p"),
            F.floor(term * 1e6 + F.lit(0.5)).cast("long").alias("chi2_q6"),
        )
        .orderBy("digit")
    )


BD1_SQL = f"""
WITH obs AS (
    SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INT) AS digit,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM orders GROUP BY 1
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
withp AS (
    SELECT digit, n_obs, n,
           CASE digit {' '.join(f'WHEN {d} THEN {_BENFORD_P[d]!r}' for d in range(1, 10))}
           END AS p
    FROM obs, tot
)
SELECT digit, n_obs, p AS benford_p,
       CAST(floor((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
                  * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
                  / (CAST(n AS DOUBLE) * p) * 1000000 + 0.5) AS BIGINT)
           AS chi2_q6
FROM withp
ORDER BY digit
"""


def js1_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions — the data-mixing diagnostic behind tm1/mx1 ("which
    sources are near-duplicates of each other, which add diversity"):
    JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2, over a shared
    deterministic vocabulary (top-1000 tokens by global count, token
    tiebreak). Distributions use exact integer counts; each per-token
    contribution is one deterministic IEEE expression quantized at 1e-6
    (the ln discipline of ts1/x1/pm1), then integer-summed. Scale shape:
    the corpus collapses to (source × vocab) counts in one explode +
    groupBy — everything downstream is pairs×vocab-sized, never
    corpus-sized, and every join side below the corpus scan is
    broadcast."""
    from etl_oms_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    # ONE corpus explode+groupBy; vocab and restricted counts both derive
    # from the (source, tok) rollup, so the corpus is scanned once and
    # everything downstream is (sources × tokens)-sized
    full = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    vocab = (
        full.groupBy("tok")
        .agg(F.sum("c").cast("long").alias("gc"))
        .orderBy(F.desc("gc"), "tok")
        .limit(1000)
        .select("tok")
    )
    # lazy barriers: full feeds vocab + the restricted counts (each
    # re-ran the corpus explode without it — 9 scans in the round-13
    # executed-plan audit), and cnts feeds the totals plus both pair-side
    # broadcasts; both frames are (source × vocab)-bounded
    cnts = full.join(F.broadcast(vocab), "tok").localCheckpoint(eager=False)
    tots = cnts.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    a = tots.select(F.col("source").alias("source_a"), F.col("t").alias("t1"))
    b = tots.select(F.col("source").alias("source_b"), F.col("t").alias("t2"))
    pairs = a.crossJoin(b).filter(F.col("source_a") < F.col("source_b"))
    grid = (
        pairs.crossJoin(F.broadcast(vocab))
        .join(
            F.broadcast(
                cnts.select(
                    F.col("source").alias("source_a"),
                    "tok",
                    F.col("c").alias("c1"),
                )
            ),
            ["source_a", "tok"],
            "left",
        )
        .join(
            F.broadcast(
                cnts.select(
                    F.col("source").alias("source_b"),
                    "tok",
                    F.col("c").alias("c2"),
                )
            ),
            ["source_b", "tok"],
            "left",
        )
        .select(
            "source_a",
            "source_b",
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("c2", F.lit(0)).alias("c2"),
            "t1",
            "t2",
        )
        .filter(F.col("c1") + F.col("c2") > 0)
    )
    p = F.col("c1").cast("double") / F.col("t1").cast("double")
    q = F.col("c2").cast("double") / F.col("t2").cast("double")
    m = (p + q) / F.lit(2.0)
    contrib = (
        F.when(F.col("c1") > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
            F.lit(0.0)
        )
        + F.when(F.col("c2") > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(
            F.lit(0.0)
        )
    )
    return (
        grid.select(
            "source_a",
            "source_b",
            F.floor(contrib * 1e6 + F.lit(0.5)).cast("long").alias("tq"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum("tq").cast("long").alias("jsd_q6_sum"),
            (F.sum("tq").cast("double") / 1e6).alias("jsd"),
        )
        .orderBy("source_a", "source_b")
    )


JS1_SQL = f"""
WITH toks AS (
    SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS tok
    FROM documents
), toks2 AS (
    SELECT source, tok FROM toks WHERE tok <> ''
), vocab AS (
    SELECT tok FROM toks2 GROUP BY tok
    ORDER BY COUNT(*) DESC, tok LIMIT 1000
), cnts AS (
    SELECT source, t.tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks2 t JOIN vocab v ON t.tok = v.tok
    GROUP BY source, t.tok
), tots AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnts GROUP BY source
), pairs AS (
    SELECT a.source AS source_a, b.source AS source_b, a.t AS t1, b.t AS t2
    FROM tots a, tots b WHERE a.source < b.source
), grid AS (
    SELECT p.source_a, p.source_b,
           COALESCE(ca.c, 0) AS c1, COALESCE(cb.c, 0) AS c2, p.t1, p.t2
    FROM pairs p CROSS JOIN vocab v
    LEFT JOIN cnts ca ON ca.source = p.source_a AND ca.tok = v.tok
    LEFT JOIN cnts cb ON cb.source = p.source_b AND cb.tok = v.tok
    WHERE COALESCE(ca.c, 0) + COALESCE(cb.c, 0) > 0
), terms AS (
    SELECT source_a, source_b,
           CAST(floor((
               CASE WHEN c1 > 0 THEN 0.5 * (CAST(c1 AS DOUBLE) / t1)
                    * ln((CAST(c1 AS DOUBLE) / t1)
                         / ((CAST(c1 AS DOUBLE) / t1
                             + CAST(c2 AS DOUBLE) / t2) / 2.0))
                    ELSE 0.0 END
             + CASE WHEN c2 > 0 THEN 0.5 * (CAST(c2 AS DOUBLE) / t2)
                    * ln((CAST(c2 AS DOUBLE) / t2)
                         / ((CAST(c1 AS DOUBLE) / t1
                             + CAST(c2 AS DOUBLE) / t2) / 2.0))
                    ELSE 0.0 END) * 1000000 + 0.5) AS BIGINT) AS tq
    FROM grid
)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(SUM(tq) AS BIGINT) AS jsd_q6_sum,
       CAST(SUM(tq) AS DOUBLE) / 1000000.0 AS jsd
FROM terms
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


def en1_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy, rolled to a
    per-source histogram of 0.1-nat bands — the gibberish/boilerplate
    screen beside t2's quality score (natural text sits ~2.8-3.2 nats;
    base64 blobs and repeated padding fall far outside). Per-doc
    H = −Σ_ch (c/n)·ln(c/n) from exact character counts; each term is
    quantized at 1e-6 and integer-summed, and the band is integer floor
    division of the quantized sum, so the histogram is bit-reproducible.
    Shuffles are doc-keyed only (groupBy(doc,ch), one doc-partitioned
    window) — bounded by document size at any corpus scale."""
    d = _t(spark, sf_dir, "documents")
    from etl_oms_spark.operators.text import normalize_text

    chars = d.select(
        "doc_id",
        "source",
        F.explode(
            F.regexp_extract_all(normalize_text("text"), F.lit("."), 0)
        ).alias("ch"),
    )
    cnt = chars.groupBy("doc_id", "source", "ch").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term_q = F.floor(-(p * F.log(p)) * 1e6 + F.lit(0.5)).cast("long")
    per_doc = (
        cnt.withColumn("n", n)
        .select("doc_id", "source", term_q.alias("tq"))
        .groupBy("doc_id", "source")
        .agg(F.sum("tq").cast("long").alias("hq"))
    )
    return (
        per_doc.groupBy(
            "source", F.expr("hq div 100000").alias("ent_band")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("source", "ent_band")
    )


EN1_SQL = f"""
WITH chars AS (
    SELECT doc_id, source,
           unnest(regexp_extract_all({_NORM_SQL}, '.')) AS ch
    FROM documents
), cnt AS (
    SELECT doc_id, source, ch, CAST(COUNT(*) AS BIGINT) AS c
    FROM chars GROUP BY 1, 2, 3
), sized AS (
    SELECT doc_id, source, c,
           SUM(c) OVER (PARTITION BY doc_id) AS n
    FROM cnt
), per_doc AS (
    SELECT doc_id, source,
           CAST(SUM(CAST(floor(-((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                     * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
                     * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS hq
    FROM sized GROUP BY 1, 2
)
SELECT source, hq // 100000 AS ent_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM per_doc
GROUP BY 1, 2
ORDER BY source, ent_band
"""


def fl1_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease bands per source: 206.835 − 1.015·(words/
    sentences) − 84.6·(syllables/words) with regex sentence/syllable
    heuristics ([.!?]+ runs; [aeiouy]+ vowel groups), all counts exact
    integers and the score one deterministic IEEE expression — banded by
    10 points (clamped to [−100, 120]) with the exact 1e-6-quantized
    mean per band. Pure JVM regexp_count in one corpus aggregate; the
    readability gate a curation pipeline runs beside gopher rules (t10)."""
    d = _t(spark, sf_dir, "documents")
    from etl_oms_spark.operators.text import whitespace_token_count

    w = whitespace_token_count("text").cast("long")
    s = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    syl = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+")),
        F.lit(1),
    ).cast("long")
    base = d.select("source", w.alias("w"), s.alias("s"), syl.alias("syl")).filter(
        F.col("w") > 0
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("w").cast("double") / F.col("s").cast("double"))
        - F.lit(84.6) * (F.col("syl").cast("double") / F.col("w").cast("double"))
    )
    band = F.least(
        F.greatest(F.floor(score / 10).cast("long"), F.lit(-10)), F.lit(12)
    )
    sq = F.floor(score * 1e6 + F.lit(0.5)).cast("long")
    return (
        base.select("source", band.alias("fk_band"), sq.alias("sq"))
        .groupBy("source", "fk_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.sum("sq").cast("double")
                / (F.count(F.lit(1)).cast("double") * 1e6)
            ).alias("mean_score"),
        )
        .orderBy("source", "fk_band")
    )


FL1_SQL = f"""
WITH base AS (
    SELECT source,
           CAST({_WS} AS BIGINT) AS w,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                AS BIGINT) AS s,
           CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
                AS BIGINT) AS syl
    FROM documents
), scored AS (
    SELECT source,
           206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                   - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)) AS score
    FROM base WHERE w > 0
)
SELECT source,
       least(greatest(CAST(floor(score / 10) AS BIGINT), -10), 12) AS fk_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(floor(score * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_score
FROM scored
GROUP BY 1, 2
ORDER BY source, fk_band
"""


def zipf1_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token frequency distribution: OLS slope of
    ln(count) against ln(rank) for the top-1000 tokens — natural corpora
    sit near slope −1; template farms and synthetic spam bend the curve.
    ln values are 1e-6-quantized integers, the five OLS sums are exact
    (int64 per-term, DECIMAL(38,0)/HUGEINT at the n·Σxy combine), and
    only the final slope/intercept/r² divisions go double — lr1's
    normal-equations discipline applied to corpus statistics. The rank
    window runs over the 1000-row token domain, never the corpus."""
    from etl_oms_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    top = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(1000)
    )
    r = F.row_number().over(Window.orderBy(F.desc("c"), "tok"))
    xy = top.select(
        F.floor(F.log(r.cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    stats = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dec("n") * dec("sxy") - dec("sx") * dec("sy")
    den = dec("n") * dec("sxx") - dec("sx") * dec("sx")
    deny = dec("n") * dec("syy") - dec("sy") * dec("sy")
    slope = num.cast("double") / den.cast("double")
    intercept = (
        F.col("sy").cast("double") / F.col("n").cast("double") / 1e6
        - slope * (F.col("sx").cast("double") / F.col("n").cast("double") / 1e6)
    )
    r2 = (
        num.cast("double")
        * num.cast("double")
        / (den.cast("double") * deny.cast("double"))
    )
    return stats.select(
        "n",
        slope.alias("zipf_slope"),
        intercept.alias("ln_intercept"),
        r2.alias("r2"),
    )


ZIPF1_SQL = f"""
WITH toks AS (
    SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
), cnt AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks
    WHERE tok <> '' GROUP BY tok
), top AS (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r
    FROM cnt ORDER BY c DESC, tok LIMIT 1000
), xy AS (
    SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
           CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
    FROM top
), stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM xy
)
SELECT n,
       CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
           / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                  AS DOUBLE) AS zipf_slope,
       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
           - (CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                   AS DOUBLE)
              / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                     AS DOUBLE))
             * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
           AS ln_intercept,
       CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
           * CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                  AS DOUBLE)
           / (CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                   AS DOUBLE)
              * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
                     AS DOUBLE)) AS r2
FROM stats
"""


def sb1_release_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release scorecard capstone: the one-page corpus health report a
    dataset release ships with — every number composed from this
    engine's exact-oracled eval family (duplication from d1's
    fingerprints, effective size from sw1's soft weights, quality from
    t2's score, classifier quality from auc1/ap1, lexical shape from
    zipf1, source diversity from js1) as a long (metric, value) table.
    Each branch keeps its source query's bounded-shuffle design; the
    report is 9 scalar rows, so the union is 9 independent small
    aggregates over one corpus (a real deployment persists the per-doc
    signal frame once and derives all branches from it — dc1's
    documented pattern)."""
    from etl_oms_spark.operators.text import fingerprint_md5, quality_score

    d = _t(spark, sf_dir, "documents")

    def row(name: str, value: Column, src: DataFrame) -> DataFrame:
        return src.select(F.lit(name).alias("metric"), value.alias("value"))

    fp = d.select(fingerprint_md5("text").alias("fp"))
    base = fp.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("fp").cast("long").alias("u"),
    )
    n_docs = row("n_docs", F.col("n").cast("double"), base)
    distinct_texts = row("distinct_texts", F.col("u").cast("double"), base)
    dup_rate = row(
        "dup_rate",
        F.lit(1.0) - F.col("u").cast("double") / F.col("n").cast("double"),
        base,
    )
    eff = sw1_soft_dedup_weights(spark, sf_dir).agg(
        F.sum("eff_q9_sum").cast("long").alias("eq")
    )
    eff_docs = row("eff_docs", F.col("eq").cast("double") / 1e9, eff)
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(0),
    )
    mq = d.agg(
        F.sum(sq).cast("long").alias("s"), F.count(F.lit(1)).alias("n")
    )
    mean_quality = row(
        "mean_quality",
        F.col("s").cast("double") / (F.col("n").cast("double") * 1e6),
        mq,
    )
    auc = row("auc_en", F.col("auc"), auc1_quality_auc(spark, sf_dir))
    ap = row(
        "avg_precision", F.col("ap"), ap1_average_precision(spark, sf_dir)
    )
    zipf = row(
        "zipf_slope", F.col("zipf_slope"), zipf1_token_zipf(spark, sf_dir)
    )
    jsd = row(
        "jsd_max",
        F.col("m"),
        js1_source_divergence(spark, sf_dir).agg(F.max("jsd").alias("m")),
    )
    out = (
        n_docs.unionAll(distinct_texts)
        .unionAll(dup_rate)
        .unionAll(eff_docs)
        .unionAll(mean_quality)
        .unionAll(auc)
        .unionAll(ap)
        .unionAll(zipf)
        .unionAll(jsd)
    )
    return out.orderBy("metric")


SB1_SQL = f"""
WITH base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT md5({_NORM_SQL})) AS BIGINT) AS u
    FROM documents
)
SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value FROM base
UNION ALL
SELECT 'distinct_texts', CAST(u AS DOUBLE) FROM base
UNION ALL
SELECT 'dup_rate', 1.0 - CAST(u AS DOUBLE) / CAST(n AS DOUBLE) FROM base
UNION ALL
SELECT 'eff_docs', CAST(SUM(eff_q9_sum) AS DOUBLE) / 1000000000.0
FROM ({SW1_SQL})
UNION ALL
SELECT 'mean_quality',
       CAST(SUM(COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                AS BIGINT), 0)) AS DOUBLE)
           / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
FROM documents
UNION ALL
SELECT 'auc_en', auc FROM ({AUC1_SQL})
UNION ALL
SELECT 'avg_precision', ap FROM ({AP1_SQL})
UNION ALL
SELECT 'zipf_slope', zipf_slope FROM ({ZIPF1_SQL})
UNION ALL
SELECT 'jsd_max', MAX(jsd) FROM ({JS1_SQL})
ORDER BY metric
"""


# ---------------------------------------------------------------------------
# round-4 third-continuation batch: retrieval eval (NDCG/MRR), privacy
# (t-closeness), time-series diagnostics (ACF, change-point), corpus growth
# (Heaps' law), and survival analysis (Nelson-Aalen) — each with an exact
# DuckDB oracle.


def _daily_revk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled daily revenue series shared by acf1/cpd1: exact k$ per
    calendar day (integer DIV of the exact cent sum — an1's unit trick so
    squared terms stay far inside the exact range), on the complete
    min..max date grid with 0 for orderless days, plus the day index
    ``t``. The grid explode is bounded by the date RANGE (~thousands of
    rows at any corpus size), never by row count."""
    o = _t(spark, sf_dir, "orders")
    # lazy barriers (round-13): daily feeds both the bounds aggregate and
    # the grid join — each re-scanned orders without it — and the zero-
    # filled series itself is consumed 2-6× by every day-domain statistic
    # built on it (acf1 alone folded it 12 scans deep in the executed-
    # plan audit). Both frames are day-domain-sized (~thousands of rows
    # at any corpus scale), so the barrier is ~free and every consumer
    # pays ONE orders scan.
    daily = o.groupBy("o_orderdate").agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100000"
            " AS BIGINT)"
        ).alias("rev_k")
    ).localCheckpoint(eager=False)
    bounds = daily.agg(F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx"))
    grid = bounds.select(
        "mn",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("d"),
    )
    return (
        grid.join(daily, grid["d"] == daily["o_orderdate"], "left")
        .select(
            F.col("d").cast("date").alias("d"),
            F.datediff(F.col("d"), F.col("mn")).cast("long").alias("t"),
            F.coalesce(F.col("rev_k"), F.lit(0)).cast("long").alias("rev_k"),
        )
        .localCheckpoint(eager=False)
    )


_SERIES_SQL = """daily AS (
    SELECT o_orderdate,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
                AS BIGINT) AS rev_k
    FROM orders GROUP BY o_orderdate
), bounds AS (
    SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx FROM daily
), grid AS (
    SELECT mn, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS d
    FROM bounds
), series AS (
    SELECT CAST(grid.d AS DATE) AS d,
           CAST(CAST(grid.d AS DATE) - CAST(grid.mn AS DATE) AS BIGINT) AS t,
           CAST(COALESCE(daily.rev_k, 0) AS BIGINT) AS rev_k
    FROM grid LEFT JOIN daily ON grid.d = daily.o_orderdate
)"""


def acf1_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1..10 — the
    seasonality diagnostic behind an1's weekday model: with the series
    centered through exact integers (y_t = n·x_t − S, so no float mean
    ever exists), ACF_k = Σ y_t·y_{t+k} / Σ y_t². Products run in
    DECIMAL(38,0) against the oracle's HUGEINT (y up to ~2.4e16 at
    sf1000 squares past int64; decimal is exact to 1e38), one double
    division per lag at the end. The lag join is an equi-join on t+k
    against the bounded daily grid — ~2400 rows regardless of corpus
    size, with the 10-row lag table broadcast."""
    ser = _daily_revk(spark, sf_dir).select("t", "rev_k")
    tot = ser.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("rev_k").alias("s")
    )
    # lazy barrier: y feeds den, the lag cross-join AND the lagged side —
    # day-domain-sized, three folds shared
    y = ser.crossJoin(F.broadcast(tot)).select(
        "t",
        "n",
        (F.col("n") * F.col("rev_k") - F.col("s")).cast("decimal(20,0)").alias("y"),
    ).localCheckpoint(eager=False)
    den = y.agg(F.sum(F.col("y") * F.col("y")).alias("den"))
    lags = spark.range(1, 11).select(F.col("id").cast("long").alias("lag"))
    lagged = y.select(F.col("t").alias("t2"), F.col("y").alias("y2"))
    num = (
        y.crossJoin(F.broadcast(lags))
        .join(lagged, F.col("t") + F.col("lag") == F.col("t2"))
        .groupBy("lag")
        .agg(F.sum(F.col("y") * F.col("y2")).alias("num"), F.max("n").alias("n"))
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("n").alias("n_days"),
            (F.col("num").cast("double") / F.col("den").cast("double")).alias("acf"),
        )
        .orderBy("lag")
    )


ACF1_SQL = f"""
WITH {_SERIES_SQL},
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev_k) AS BIGINT) AS s
    FROM series
),
y AS (
    SELECT t, n, CAST(n * rev_k - s AS HUGEINT) AS y
    FROM series CROSS JOIN tot
),
den AS (SELECT SUM(y * y) AS den FROM y),
lags AS (SELECT CAST(range AS BIGINT) + 1 AS lag FROM range(0, 10)),
num AS (
    SELECT lag, SUM(a.y * b.y2) AS num, max(a.n) AS n
    FROM y a CROSS JOIN lags
    JOIN (SELECT t AS t2, y AS y2 FROM y) b ON a.t + lag = b.t2
    GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_days,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS acf
FROM num CROSS JOIN den
ORDER BY lag
"""


def cpd1_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection on the daily revenue series: the CUSUM
    split statistic D = max_t |C_t/S − (t+1)/n| located as the integer
    argmax of |n·C_t − (t+1)·S| (one scale-free cross-multiplication, no
    doubles until the final report), with the exact before/after means at
    the detected split. The cumulative sum runs over the bounded daily
    grid (date-range rows, not corpus rows); int64-safe while n·S <
    9.2e18 — ~3.8e15 k$ of lifetime revenue across a ~2400-day window,
    far past sf100k."""
    ser = _daily_revk(spark, sf_dir)
    tot = ser.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("rev_k").alias("s")
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = ser.select("d", "t", F.sum("rev_k").over(w).alias("ct"))
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("t") < F.col("n") - 1)
        .select(
            "d",
            "t",
            "n",
            "s",
            "ct",
            F.abs(F.col("n") * F.col("ct") - (F.col("t") + 1) * F.col("s")).alias(
                "stat"
            ),
        )
    )
    top = cand.orderBy(F.col("stat").desc(), "t").limit(1)
    # change_date as an ISO string on BOTH engines: Spark DateType
    # reaches pandas as datetime.date objects while DuckDB DATE becomes
    # datetime64 -- the driver hash is type-sensitive (check.py's dtype
    # rule; flagged pre-rotation, VERDICT r06 item 4).
    return top.select(
        F.col("d").cast("string").alias("change_date"),
        (F.col("t") + 1).cast("long").alias("days_before"),
        (F.col("n") - F.col("t") - 1).cast("long").alias("days_after"),
        (F.col("ct").cast("double") / (F.col("t") + 1).cast("double")).alias(
            "mean_before_k"
        ),
        (
            (F.col("s") - F.col("ct")).cast("double")
            / (F.col("n") - F.col("t") - 1).cast("double")
        ).alias("mean_after_k"),
        (
            F.col("stat").cast("double")
            / (F.col("n").cast("double") * F.col("s").cast("double"))
        ).alias("d_stat"),
    )


CPD1_SQL = f"""
WITH {_SERIES_SQL},
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev_k) AS BIGINT) AS s
    FROM series
),
cum AS (
    SELECT d, t,
           CAST(SUM(rev_k) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS ct
    FROM series
),
cand AS (
    SELECT d, t, n, s, ct, ABS(n * ct - (t + 1) * s) AS stat
    FROM cum CROSS JOIN tot
    WHERE t < n - 1
)
SELECT CAST(d AS VARCHAR) AS change_date,
       CAST(t + 1 AS BIGINT) AS days_before,
       CAST(n - t - 1 AS BIGINT) AS days_after,
       CAST(ct AS DOUBLE) / CAST(t + 1 AS DOUBLE) AS mean_before_k,
       CAST(s - ct AS DOUBLE) / CAST(n - t - 1 AS DOUBLE) AS mean_after_k,
       CAST(stat AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) AS d_stat
FROM cand
ORDER BY stat DESC, t
LIMIT 1
"""


def tcl1_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit completing the privacy trio (ka1 k-anonymity,
    ld1 l-diversity): per quasi-identifier group (c_nationkey ×
    c_mktsegment), the ordered Earth Mover's Distance between the group's
    account-balance-decile distribution and the global one —
    t = Σ_j |cumP_j·N − cumQ_j·n_g| / ((m−1)·n_g·N), all-integer until
    the one final division (cross-multiplied CDFs, DECIMAL(38,0) against
    the oracle's HUGEINT since cum·N reaches ~2e18 at 1.5e9 customers and
    the 9-band sum exceeds int64). Shuffles: one groupBy at (group, band)
    cardinality; the cumulative window runs over the 10-band domain per
    group; the global histogram and total are broadcast."""
    c = _t(spark, sf_dir, "customer")
    band = F.least(
        F.greatest(
            F.expr(
                "CAST((CAST(round(c_acctbal * 100) AS BIGINT) + 100000)"
                " DIV 110000 AS BIGINT)"
            ),
            F.lit(0),
        ),
        F.lit(9),
    )
    b = c.select("c_nationkey", "c_mktsegment", band.alias("band"))
    counts = b.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    groups = counts.select("c_nationkey", "c_mktsegment").distinct()
    bands = spark.range(10).select(F.col("id").cast("long").alias("band"))
    cells = (
        groups.crossJoin(F.broadcast(bands))
        .join(counts, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "band",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
        )
    )
    ghist = b.groupBy("band").agg(F.count(F.lit(1)).cast("long").alias("gcnt"))
    wg = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    globcum = (
        bands.join(ghist, "band", "left")
        .select("band", F.coalesce("gcnt", F.lit(0)).alias("gcnt"))
        .select("band", F.sum("gcnt").over(wg).cast("long").alias("cum_glob"))
    )
    ntot = b.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    wp = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        "band"
    ).rowsBetween(Window.unboundedPreceding, 0)
    wfull = Window.partitionBy("c_nationkey", "c_mktsegment")
    cum = (
        cells.withColumn("cum_g", F.sum("cnt").over(wp).cast("long"))
        .withColumn("n_g", F.sum("cnt").over(wfull).cast("long"))
        .join(F.broadcast(globcum), "band")
        .crossJoin(F.broadcast(ntot))
    )
    dterm = F.abs(
        F.col("cum_g").cast("decimal(20,0)") * F.col("nt").cast("decimal(20,0)")
        - F.col("cum_glob").cast("decimal(20,0)") * F.col("n_g").cast("decimal(20,0)")
    )
    agg = cum.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n_g").alias("n_g"),
        F.max("nt").alias("nt"),
        F.sum(dterm).alias("sd"),
    )
    t = F.col("sd").cast("double") / (
        F.lit(9.0) * F.col("n_g").cast("double") * F.col("nt").cast("double")
    )
    return agg.select(
        "c_nationkey",
        "c_mktsegment",
        "n_g",
        t.alias("t_closeness"),
        F.when(t > 0.15, 1).otherwise(0).cast("int").alias("breach"),
    ).orderBy("c_nationkey", "c_mktsegment")


TCL1_SQL = """
WITH b AS (
    SELECT c_nationkey, c_mktsegment,
           least(greatest((CAST(round(c_acctbal * 100) AS BIGINT) + 100000)
                          // 110000, 0), 9) AS band
    FROM customer
),
counts AS (
    SELECT c_nationkey, c_mktsegment, band, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM b GROUP BY 1, 2, 3
),
groups AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM counts),
bands AS (SELECT CAST(range AS BIGINT) AS band FROM range(0, 10)),
cells AS (
    SELECT g.c_nationkey, g.c_mktsegment, bands.band,
           CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt
    FROM groups g CROSS JOIN bands
    LEFT JOIN counts c
      ON c.c_nationkey = g.c_nationkey
     AND c.c_mktsegment = g.c_mktsegment
     AND c.band = bands.band
),
globcum AS (
    SELECT band,
           CAST(SUM(gcnt) OVER (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum_glob
    FROM (
        SELECT bands.band, COALESCE(g.gcnt, 0) AS gcnt
        FROM bands LEFT JOIN (
            SELECT band, CAST(COUNT(*) AS BIGINT) AS gcnt FROM b GROUP BY band
        ) g USING (band)
    )
),
ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM b),
cum AS (
    SELECT c.c_nationkey, c.c_mktsegment, c.band, cnt,
           CAST(SUM(cnt) OVER (PARTITION BY c.c_nationkey, c.c_mktsegment
                               ORDER BY c.band ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum_g,
           CAST(SUM(cnt) OVER (PARTITION BY c.c_nationkey, c.c_mktsegment)
                AS BIGINT) AS n_g,
           cum_glob, nt
    FROM cells c JOIN globcum USING (band) CROSS JOIN ntot
)
SELECT c_nationkey, c_mktsegment, n_g,
       CAST(SUM(ABS(CAST(cum_g AS HUGEINT) * nt
                    - CAST(cum_glob AS HUGEINT) * n_g)) AS DOUBLE)
           / (9.0 * CAST(n_g AS DOUBLE) * CAST(nt AS DOUBLE)) AS t_closeness,
       CAST(CASE WHEN CAST(SUM(ABS(CAST(cum_g AS HUGEINT) * nt
                    - CAST(cum_glob AS HUGEINT) * n_g)) AS DOUBLE)
           / (9.0 * CAST(n_g AS DOUBLE) * CAST(nt AS DOUBLE)) > 0.15
           THEN 1 ELSE 0 END AS INT) AS breach
FROM cum
GROUP BY c_nationkey, c_mktsegment, n_g, nt
ORDER BY c_nationkey, c_mktsegment
"""


def hp1_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct-token count vs
    cumulative corpus size at ten decile checkpoints of the doc_id-ordered
    corpus. Each token collapses to its FIRST document position (one
    explode + min-groupBy), so "vocabulary at checkpoint j" is a count of
    tokens with first_pos ≤ cp_j — ten conditional sums via a broadcast
    ≤-join against the 10-row checkpoint table, NO corpus-sized window or
    cumulative-distinct anywhere. Document positions come from
    `with_global_index` (range partition + offsets, no single-task
    sort)."""
    from etl_oms_spark.operators.text import tokens, whitespace_token_count
    from etl_oms_spark.util import with_global_index

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # lazy barriers: pos feeds both the length table and the token
    # explode (each re-ran the scan + global index without it — 10 scans
    # in the round-13 executed-plan audit), and docs feeds both the
    # total count and the decile token sums (each re-ran the whitespace
    # tokenize). Both frames are narrow (pos+text / pos+dl).
    pos = with_global_index(d, ["doc_id"], index_col="__i").select(
        (F.col("__i") + 1).cast("long").alias("pos"), "text"
    ).localCheckpoint(eager=False)
    docs = pos.select(
        "pos", whitespace_token_count("text").cast("long").alias("dl")
    ).localCheckpoint(eager=False)
    toks = (
        pos.select("pos", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    fp = toks.groupBy("tok").agg(F.min("pos").alias("fp"))
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cps = (
        spark.range(1, 11)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("id").cast("long").alias("decile"),
            F.expr("CAST((n * id) DIV 10 AS BIGINT)").alias("cp"),
        )
    )
    vocab = (
        fp.join(F.broadcast(cps), F.col("fp") <= F.col("cp"))
        .groupBy("decile", "cp")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    )
    tokseen = (
        docs.join(F.broadcast(cps), F.col("pos") <= F.col("cp"))
        .groupBy("decile", "cp")
        .agg(F.sum("dl").cast("long").alias("tokens_seen"))
    )
    return (
        cps.join(vocab, ["decile", "cp"], "left")
        .join(tokseen, ["decile", "cp"], "left")
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("cp").alias("docs_seen"),
            F.coalesce("tokens_seen", F.lit(0)).cast("long").alias("tokens_seen"),
            F.coalesce("vocab", F.lit(0)).cast("long").alias("vocab"),
        )
        .orderBy("decile")
    )


HP1_SQL = f"""
WITH pos AS (
    SELECT row_number() OVER (ORDER BY doc_id) AS pos, text FROM documents
),
docs AS (SELECT pos, CAST({_WS} AS BIGINT) AS dl FROM pos),
toks AS (
    SELECT pos, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM pos
),
fp AS (SELECT tok, min(pos) AS fp FROM toks WHERE tok <> '' GROUP BY tok),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs),
cps AS (
    SELECT CAST(range + 1 AS BIGINT) AS decile,
           CAST((n * (range + 1)) // 10 AS BIGINT) AS cp
    FROM range(0, 10) CROSS JOIN tot
),
vocab AS (
    SELECT decile, cp, CAST(COUNT(*) AS BIGINT) AS vocab
    FROM fp JOIN cps ON fp.fp <= cps.cp GROUP BY decile, cp
),
tokseen AS (
    SELECT decile, cp, CAST(SUM(dl) AS BIGINT) AS tokens_seen
    FROM docs JOIN cps ON docs.pos <= cps.cp GROUP BY decile, cp
)
SELECT CAST(cps.decile AS INT) AS decile, cp AS docs_seen,
       CAST(COALESCE(tokens_seen, 0) AS BIGINT) AS tokens_seen,
       CAST(COALESCE(vocab, 0) AS BIGINT) AS vocab
FROM cps LEFT JOIN vocab USING (decile, cp) LEFT JOIN tokseen USING (decile, cp)
ORDER BY decile
"""


def sv1_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-churn survival analysis — the Nelson-Aalen cumulative
    hazard over customer lifetimes (first→last order), right-censored at
    the corpus horizon: a customer whose last order is within 90 days of
    the global max date is censored at the horizon, otherwise churned at
    their last order. Per event time t: d events, c censored, n_risk
    subjects with lifetime ≥ t, hazard d/n_risk as the exact integer
    (d·1e9) DIV n_risk, cumulated as BIGINTs — no ln/exp, so both engines
    agree bit-for-bit (int64-safe to d ≈ 9e9 events per day). The subject
    table is one customer-keyed groupBy; every window runs over the
    bounded event-time domain (date-range days)."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("fst"), F.max("o_orderdate").alias("lst")
    )
    cens = o.agg(F.max("o_orderdate").alias("censor"))
    j = per.crossJoin(F.broadcast(cens))
    churned = F.datediff(F.col("censor"), F.col("lst")) > 90
    subj = j.select(
        F.when(churned, F.datediff("lst", "fst"))
        .otherwise(F.datediff("censor", "fst"))
        .cast("long")
        .alias("t"),
        F.when(churned, 1).otherwise(0).alias("e"),
    )
    hist = subj.groupBy("t").agg(
        F.sum("e").cast("long").alias("d"),
        (F.count(F.lit(1)) - F.sum("e")).cast("long").alias("c"),
    )
    tot = subj.agg(F.count(F.lit(1)).cast("long").alias("ntot"))
    w_prior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    cum = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_risk",
            (
                F.col("ntot")
                - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prior), F.lit(0))
            ).cast("long"),
        )
    )
    ev = cum.filter(F.col("d") > 0).withColumn(
        "hq", F.expr("CAST((d * 1000000000) DIV n_risk AS BIGINT)")
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        F.col("t").alias("t_days"),
        F.col("d").alias("n_event"),
        F.col("c").alias("n_censored_at_t"),
        "n_risk",
        (F.col("hq").cast("double") / F.lit(1000000000.0)).alias("hazard"),
        (
            F.sum("hq").over(w_cum).cast("double") / F.lit(1000000000.0)
        ).alias("cum_hazard"),
    ).orderBy("t_days")


SV1_SQL = """
WITH per AS (
    SELECT o_custkey, min(o_orderdate) AS fst, max(o_orderdate) AS lst
    FROM orders GROUP BY o_custkey
),
cens AS (SELECT max(o_orderdate) AS censor FROM orders),
subj AS (
    SELECT CASE WHEN CAST(censor AS DATE) - CAST(lst AS DATE) > 90
                THEN CAST(CAST(lst AS DATE) - CAST(fst AS DATE) AS BIGINT)
                ELSE CAST(CAST(censor AS DATE) - CAST(fst AS DATE) AS BIGINT)
           END AS t,
           CASE WHEN CAST(censor AS DATE) - CAST(lst AS DATE) > 90
                THEN 1 ELSE 0 END AS e
    FROM per CROSS JOIN cens
),
hist AS (
    SELECT t, CAST(SUM(e) AS BIGINT) AS d,
           CAST(COUNT(*) - SUM(e) AS BIGINT) AS c
    FROM subj GROUP BY t
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntot FROM subj),
cum AS (
    SELECT t, d, c,
           CAST(ntot - COALESCE(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN
                UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
    FROM hist CROSS JOIN tot
),
ev AS (
    SELECT t, d, c, n_risk,
           CAST((d * 1000000000) // n_risk AS BIGINT) AS hq
    FROM cum WHERE d > 0
)
SELECT t AS t_days, d AS n_event, c AS n_censored_at_t, n_risk,
       CAST(hq AS DOUBLE) / 1000000000.0 AS hazard,
       CAST(SUM(hq) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
            CURRENT ROW) AS DOUBLE) / 1000000000.0 AS cum_hazard
FROM ev
ORDER BY t_days
"""


#: ndcg1's query terms (present in the synthetic document vocabulary)
_NDCG_TERMS = ["scan", "merge", "vector", "stream"]
_NDCG_TERMS_SQL = "('merge', 'scan', 'stream', 'vector')"


def ndcg1_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NDCG@20 for the BM25 ranker (completes the retrieval-eval
    family beside ir1/ap1/rrf1): graded relevance = number of distinct
    query terms present (1..4), ranking = ts1's exact-integer BM25,
    gain = (2^rel − 1)/log2(rank+1) with each per-rank term quantized to
    a 1e-6 integer (the shifted power is an exact integer; the log ratio
    is one shared IEEE expression) so DCG/IDCG accumulate as BIGINTs.
    Both rankings are TakeOrdered top-20 cuts; the cumulative windows run
    over 20 rows."""
    from etl_oms_spark.operators.search import bm25_scores

    # lazy barrier: sc feeds both the BM25 top-20 and the ideal top-20 —
    # each re-ran the per-doc score aggregation without it; matched-doc-
    # sized
    sc = bm25_scores(
        _t(spark, sf_dir, "documents"), _NDCG_TERMS
    ).localCheckpoint(eager=False)
    top = sc.orderBy(F.col("score_q").desc(), "doc_id").limit(20)
    w_rank = Window.orderBy(F.col("score_q").desc(), "doc_id")
    ranked = top.select(
        "doc_id",
        F.col("n_hits").alias("rel"),
        F.row_number().over(w_rank).alias("rnk"),
    )
    itop = sc.orderBy(F.col("n_hits").desc(), "doc_id").limit(20)
    w_ideal = Window.orderBy(F.col("n_hits").desc(), "doc_id")
    ideal = itop.select(
        F.col("n_hits").alias("irel"), F.row_number().over(w_ideal).alias("rnk")
    )

    def gain(rel_col: str) -> Column:
        return F.floor(
            F.expr(f"CAST(shiftleft(1, CAST({rel_col} AS INT)) - 1 AS DOUBLE)")
            * F.log(F.lit(2.0))
            / F.log((F.col("rnk") + 1).cast("double"))
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long")

    g = ranked.join(ideal, "rnk").select(
        "rnk", "doc_id", "rel", gain("rel").alias("gain_q"), gain("irel").alias("igain_q")
    )
    w_cum = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        F.col("rnk").cast("int").alias("rnk"),
        "doc_id",
        "rel",
        "gain_q",
        F.sum("gain_q").over(w_cum).cast("long").alias("dcg_q"),
        F.sum("igain_q").over(w_cum).cast("long").alias("idcg_q"),
        (
            F.sum("gain_q").over(w_cum).cast("double")
            / F.sum("igain_q").over(w_cum).cast("double")
        ).alias("ndcg"),
    ).orderBy("rnk")


NDCG1_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
gstats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_len
    FROM dl
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN {_NDCG_TERMS_SQL}
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
perdoc AS (
    SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(SUM(CAST(floor(
             ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
             * CAST(tf * 880 * total_len AS DOUBLE)
             / CAST(tf * 400 * total_len + 120 * total_len
                    + 360 * dl.dl * n_docs AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score_q
    FROM tf
    JOIN dfreq USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN gstats
    GROUP BY tf.doc_id
),
ranked AS (
    SELECT doc_id, n_hits AS rel,
           row_number() OVER (ORDER BY score_q DESC, doc_id) AS rnk
    FROM perdoc QUALIFY rnk <= 20
),
ideal AS (
    SELECT n_hits AS irel,
           row_number() OVER (ORDER BY n_hits DESC, doc_id) AS rnk
    FROM perdoc QUALIFY rnk <= 20
),
gains AS (
    SELECT r.rnk, r.doc_id, r.rel,
           CAST(floor(CAST((1 << CAST(r.rel AS INT)) - 1 AS DOUBLE) * ln(2.0)
                / ln(CAST(r.rnk + 1 AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT) AS gain_q,
           CAST(floor(CAST((1 << CAST(i.irel AS INT)) - 1 AS DOUBLE) * ln(2.0)
                / ln(CAST(i.rnk + 1 AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT) AS igain_q
    FROM ranked r JOIN ideal i USING (rnk)
)
SELECT CAST(rnk AS INT) AS rnk, doc_id, rel, gain_q,
       CAST(SUM(gain_q) OVER w AS BIGINT) AS dcg_q,
       CAST(SUM(igain_q) OVER w AS BIGINT) AS idcg_q,
       CAST(SUM(gain_q) OVER w AS DOUBLE)
           / CAST(SUM(igain_q) OVER w AS DOUBLE) AS ndcg
FROM gains
WINDOW w AS (ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY rnk
"""


#: mrr1's query set: (qid, terms); a doc is relevant iff it contains ALL terms
_MRR_QUERIES = [
    ("q1", ("vector", "merge")),
    ("q2", ("stream", "filter")),
    ("q3", ("scan", "sort", "hash")),
    ("q4", ("big", "small")),
    ("q5", ("column", "batch")),
]


def mrr1_reciprocal_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query first-relevant rank and reciprocal rank for a 5-query
    BM25 benchmark — the MRR building block. ONE postings build scores
    every (query, doc) pair (a term's BM25 contribution is
    query-independent, so `bm25_term_scores` is shared and re-aggregated
    per query through a broadcast query-terms join). The first relevant
    document's rank is computed WITHOUT sorting any ranking: argmax of
    (score, −doc_id) over the relevant set, then one count of candidates
    strictly ahead of it — two bounded aggregates per query. Queries with
    no relevant document report rank NULL / rr 0."""
    from etl_oms_spark.operators.search import bm25_term_scores
    from etl_oms_spark.util import local_rows

    all_terms = sorted({t for _, ts in _MRR_QUERIES for t in ts})
    per_term = bm25_term_scores(_t(spark, sf_dir, "documents"), all_terms)
    qt = local_rows(
        spark,
        [(q, t) for q, ts in _MRR_QUERIES for t in ts],
        "qid string, term string",
    )
    qmeta = local_rows(
        spark, [(q, len(ts)) for q, ts in _MRR_QUERIES], "qid string, n_terms long"
    )
    # lazy barrier: scored feeds THREE consumers (cand, best, ahead) —
    # without it each re-ran the whole postings build (16 scans in the
    # executed plan, round-13 plan audit); it is (query, matched-doc)-
    # sized, so the materialization is bounded by the candidate set
    scored = (
        per_term.join(F.broadcast(qt), "term")
        .groupBy("qid", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit"),
            F.sum("term_q").alias("score_q"),
        )
        .localCheckpoint(eager=False)
    )
    cand = scored.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    rel = scored.join(F.broadcast(qmeta.select("qid", "n_terms")), "qid").filter(
        F.col("n_hit") == F.col("n_terms")
    )
    best = (
        rel.groupBy("qid")
        .agg(
            F.min(
                F.struct((-F.col("score_q")).alias("ns"), F.col("doc_id").alias("bd"))
            ).alias("b")
        )
        .select("qid", (-F.col("b.ns")).alias("bs"), F.col("b.bd").alias("bd"))
    )
    ahead = (
        scored.join(F.broadcast(best), "qid")
        .filter(
            (F.col("score_q") > F.col("bs"))
            | ((F.col("score_q") == F.col("bs")) & (F.col("doc_id") < F.col("bd")))
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ahead"))
    )
    return (
        qmeta.join(cand, "qid", "left")
        .join(best, "qid", "left")
        .join(ahead, "qid", "left")
        .select(
            "qid",
            "n_terms",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.col("bd").alias("best_doc"),
            F.when(
                F.col("bs").isNotNull(),
                F.coalesce(F.col("n_ahead"), F.lit(0)) + 1,
            )
            .cast("long")
            .alias("first_rel_rank"),
            F.when(
                F.col("bs").isNotNull(),
                F.lit(1.0)
                / (F.coalesce(F.col("n_ahead"), F.lit(0)) + 1).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("rr"),
        )
        .orderBy("qid")
    )


_MRR_QT_SQL = ", ".join(
    f"('{q}', '{t}')" for q, ts in _MRR_QUERIES for t in ts
)
_MRR_QMETA_SQL = ", ".join(f"('{q}', {len(ts)})" for q, ts in _MRR_QUERIES)
_MRR_TERMS_SQL = (
    "(" + ", ".join(f"'{t}'" for t in sorted({t for _, ts in _MRR_QUERIES for t in ts})) + ")"
)

MRR1_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
gstats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_len
    FROM dl
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN {_MRR_TERMS_SQL}
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
perterm AS (
    SELECT tf.doc_id, term,
           CAST(floor(
             ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
             * CAST(tf * 880 * total_len AS DOUBLE)
             / CAST(tf * 400 * total_len + 120 * total_len
                    + 360 * dl.dl * n_docs AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS term_q
    FROM tf
    JOIN dfreq USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN gstats
),
qt(qid, term) AS (VALUES {_MRR_QT_SQL}),
qmeta(qid, n_terms) AS (VALUES {_MRR_QMETA_SQL}),
scored AS (
    SELECT qid, doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
           CAST(SUM(term_q) AS BIGINT) AS score_q
    FROM perterm JOIN qt USING (term)
    GROUP BY qid, doc_id
),
cand AS (
    SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_candidates
    FROM scored GROUP BY qid
),
rel AS (
    SELECT s.* FROM scored s JOIN qmeta USING (qid) WHERE n_hit = n_terms
),
best AS (
    SELECT r.qid, m.bs, min(r.doc_id) AS bd
    FROM rel r
    JOIN (SELECT qid, max(score_q) AS bs FROM rel GROUP BY qid) m
      ON r.qid = m.qid AND r.score_q = m.bs
    GROUP BY r.qid, m.bs
),
ahead AS (
    SELECT s.qid, CAST(COUNT(*) AS BIGINT) AS n_ahead
    FROM scored s JOIN best b ON s.qid = b.qid
    WHERE s.score_q > b.bs OR (s.score_q = b.bs AND s.doc_id < b.bd)
    GROUP BY s.qid
)
SELECT q.qid, CAST(q.n_terms AS BIGINT) AS n_terms,
       CAST(COALESCE(c.n_candidates, 0) AS BIGINT) AS n_candidates,
       b.bd AS best_doc,
       CAST(CASE WHEN b.bs IS NOT NULL
            THEN COALESCE(a.n_ahead, 0) + 1 END AS BIGINT) AS first_rel_rank,
       CASE WHEN b.bs IS NOT NULL
            THEN CAST(1 AS DOUBLE) / CAST(COALESCE(a.n_ahead, 0) + 1 AS DOUBLE)
            ELSE 0.0 END AS rr
FROM qmeta q
LEFT JOIN cand c USING (qid)
LEFT JOIN best b ON q.qid = b.qid
LEFT JOIN ahead a ON q.qid = a.qid
ORDER BY qid
"""


def bpe1_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT iterative BPE training, first 8 merges
    (operators/tokenize.bpe_train_exact): pair statistics RETRAINED after
    every merge (true Sennrich — v2_bigram_merge_rank is the one-scan
    statistic for merge #1 only). Corpus-scale work is one word-frequency
    rollup; the 8 rounds run on the deterministic top-256-word sample
    (count DESC, word ASC) — the e11/pc2 bounded-sample portable-twin
    pattern, so the DuckDB oracle replays every round bit-exactly via an
    unrolled MATERIALIZED-CTE chain. The merge rewrite is CANONICAL
    greedy-left BPE on every engine via the double-space symbol form
    (one plain replace per round; see bpe_train_exact's contract)."""
    from etl_oms_spark.operators.tokenize import bpe_train_exact

    merges = bpe_train_exact(
        _t(spark, sf_dir, "documents"), n_merges=8, sample_words=256
    )
    from etl_oms_spark.util import local_rows

    return local_rows(
        spark,
        [
            (m["rank"], m["lhs"], m["rhs"], m["merged"], m["weight"])
            for m in merges
        ],
        "merge_rank long, lhs string, rhs string, merged string, weight long",
    ).orderBy("merge_rank")


def _bpe_learn_ctes(n_merges: int = 8, sample_words: int = 256) -> str:
    """Shared unrolled learn chain for BPE1/BPE2: words -> top sample ->
    n_merges rounds of (pair count, argmax, single-pass rewrite). Every
    CTE is MATERIALIZED — DuckDB inlines CTE references, and an unrolled
    iterative chain referenced twice per round re-expands exponentially
    without it (the k-core/pc2 lesson)."""
    parts = [
        f"""words AS MATERIALIZED (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents)
    WHERE w <> '' AND length(w) >= 2
    GROUP BY w
), w0 AS MATERIALIZED (
    SELECT ' ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s, n
    FROM words ORDER BY n DESC, w LIMIT {sample_words}
)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""p{r} AS MATERIALIZED (
    SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(n) AS BIGINT) AS wt
    FROM (SELECT regexp_split_to_array(trim(s), ' +') AS t, n FROM w{r - 1}),
         LATERAL unnest(range(1, len(t))) u(i)
    GROUP BY a, b
), b{r} AS MATERIALIZED (
    SELECT a, b, wt FROM p{r} ORDER BY wt DESC, a, b LIMIT 1
), w{r} AS MATERIALIZED (
    SELECT replace(s, ' ' || b{r}.a || '  ' || b{r}.b || ' ',
                   ' ' || b{r}.a || b{r}.b || ' ') AS s, n
    FROM w{r - 1} CROSS JOIN b{r}
)"""
        )
    return ",\n".join(parts)


def _bpe1_sql(n_merges: int = 8) -> str:
    unions = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({r} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
           a || b AS merged, wt AS weight FROM b{r}"""
        for r in range(1, n_merges + 1)
    )
    return f"""WITH {_bpe_learn_ctes(n_merges)}
SELECT * FROM (
{unions}
) ORDER BY merge_rank
"""


def bpe2_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit readout per source: train the 8 exact merges (bpe1's
    chain), then APPLY them corpus-wide with zero Python in the row path
    (operators/tokenize.bpe_fertility): one char-spacing regexp_replace
    into the double-gap symbol form (word boundaries widen to 5 spaces
    so the two-space merge patterns cannot cross words — no explode) +
    8 JVM F.replace calls, all inside whole-stage codegen, then one
    source rollup. Reports BPE tokens per
    whitespace word (fertility) and chars per BPE token — the "which
    source does this tokenizer fit worst?" curation signal. Exact BIGINT
    sums; the two ratios are the only doubles."""
    from etl_oms_spark.operators.tokenize import bpe_fertility, bpe_train_exact

    d = _t(spark, sf_dir, "documents")
    merges = bpe_train_exact(d, n_merges=8, sample_words=256)
    return bpe_fertility(d, merges).orderBy("source")


def _bpe2_sql(n_merges: int = 8) -> str:
    # Each learn round joins with LEFT JOIN ON TRUE (not CROSS JOIN) and
    # COALESCEs an exhausted round's pattern to chr(1) -- a byte the
    # normalized text can never contain -- so an empty b{r} degrades that
    # round's replace to identity instead of emptying the whole corpus
    # CTE. Mirrors bpe_train_exact's early ``break`` when fewer than
    # n_merges pairs are learnable (degenerate/tiny corpora).
    applied = "' ' || regexp_replace(t, '(.)', '\\1  ', 'g')"
    for r in range(1, n_merges + 1):
        applied = (
            f"replace({applied},\n            "
            f"COALESCE(' ' || b{r}.a || '  ' || b{r}.b || ' ', chr(1)), "
            f"COALESCE(' ' || b{r}.a || b{r}.b || ' ', ''))"
        )
    crosses = " ".join(
        f"LEFT JOIN b{r} ON TRUE" for r in range(1, n_merges + 1)
    )
    return f"""WITH {_bpe_learn_ctes(n_merges)},
docs AS MATERIALIZED (
    SELECT source, {_NORM_SQL} AS t FROM documents
), applied AS (
    SELECT source, t,
           {applied} AS s2
    FROM docs {crosses}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN t = '' THEN 0
                ELSE len(regexp_split_to_array(trim(s2), '\\s+')) END)
            AS BIGINT) AS bpe_tokens,
       CAST(SUM(CASE WHEN t = '' THEN 0
                ELSE len(string_split(t, ' ')) END) AS BIGINT) AS ws_tokens,
       CAST(SUM(length(replace(t, ' ', ''))) AS BIGINT) AS chars,
       CAST(SUM(CASE WHEN t = '' THEN 0
                ELSE len(regexp_split_to_array(trim(s2), '\\s+')) END)
            AS DOUBLE)
         / CAST(SUM(CASE WHEN t = '' THEN 0
                    ELSE len(string_split(t, ' ')) END) AS DOUBLE)
         AS fertility,
       CAST(SUM(length(replace(t, ' ', ''))) AS DOUBLE)
         / CAST(SUM(CASE WHEN t = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(s2), '\\s+')) END)
                AS DOUBLE) AS chars_per_token
FROM applied
GROUP BY source
ORDER BY source
"""


def sdd1_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once-per-key dedup capstone
    (streaming/events.dedup_stream): the events stream plus a replayed
    duplicate wave (every event_id % 7 == 0 re-emitted — the at-least-
    once-delivery simulation) runs END TO END through Structured
    Streaming — availableNow, parquet sink, checkpoint — with
    ``dropDuplicatesWithinWatermark`` holding per-key state, then rolls
    up per event type. Exactness argument (the sj1/stp1 pattern): the
    contract run sets the watermark delay beyond the dataset's time
    span, so no key's state is evicted mid-run and every replayed row
    meets its original inside the state store; replays are byte-exact
    copies, so whichever row wins, the surviving set EQUALS one row per
    event_id over the source — exactly what SDD1_SQL's ROW_NUMBER
    subquery computes (the oracle does NOT assume event_id is unique in
    the source table; byte-exact duplicates make the tiebreak moot).
    In production the watermark is the state-size knob (state is
    O(keys per watermark window), the A2 keep-last twin for streams);
    exactness degrades only for replays arriving later than the delay.
    Sources-sized result is materialized eagerly so the temp dirs are
    removed before returning."""
    import os
    import shutil
    import tempfile

    from etl_oms_spark.streaming.events import dedup_stream

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    tmp = tempfile.mkdtemp(prefix="sdd1_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "deduped")
        ev.write.mode("overwrite").parquet(src)
        # the replay wave: exact copies, appended as separate files so
        # availableNow may deliver them in the same or a later micro-batch
        ev.filter(F.col("event_id") % 7 == 0).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = (
            dedup_stream(stream, keys=["event_id"], watermark="876000 hours")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        result = (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.count_distinct("user_id").cast("long").alias("n_users"),
                F.sum(F.round(F.col("value") * 100).cast("long"))
                .cast("long")
                .alias("value_cents"),
            )
            .orderBy("event_type")
        )
        # eager JVM-side materialization detaching the result from the
        # temp dir about to be removed; localCheckpoint instead of
        # collect+createDataFrame — the list path re-parallelizes the
        # rows into defaultParallelism pickled slices (~0.4-0.8s of
        # Python-worker round trips per materialization, measured)
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# The oracle encodes the stream's actual contract -- ONE surviving row
# per event_id -- rather than assuming event_id is unique in the source
# table (it is in the testdata, but a source with natural duplicate
# event_ids would make the stream collapse rows a plain rollup still
# counts). ROW_NUMBER's tiebreak order is immaterial whenever duplicates
# are byte-exact copies (the documented exactness precondition); if they
# ever differed, neither engine would be deterministic about which row
# wins, and this oracle makes that visible instead of silently diverging.
SDD1_SQL = """
WITH one_per_key AS (
    SELECT event_id, user_id, event_type, ts, value FROM (
        SELECT event_id, user_id, event_type, ts, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_id
                   ORDER BY ts, user_id, event_type, value
               ) AS rn
        FROM events
    ) WHERE rn = 1
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM one_per_key
GROUP BY event_type
ORDER BY event_type
"""


def wp1_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT iterative WordPiece training, first 8 merges
    (operators/tokenize.wordpiece_train_exact): bpe1's machinery — one
    corpus word-frequency rollup, then 8 rounds on the deterministic
    top-256-word sample in the double-space symbol form — with the BERT
    selection statistic: merge the pair maximizing
    count(ab)/(count(lhs)·count(rhs)) over the CURRENT segmentation,
    both counts retrained every round. The ratio is integer-quantized
    (``(wt·10^12) // (ca·cb)``, floor division on both engines) so the
    DuckDB oracle replays each round's argmax bit-exactly; ties by
    (lhs, rhs) ASC. Reports the merge plus its full evidence row
    (pair weight, both unigram counts, quantized score)."""
    from etl_oms_spark.operators.tokenize import wordpiece_train_exact

    merges = wordpiece_train_exact(
        _t(spark, sf_dir, "documents"), n_merges=8, sample_words=256
    )
    from etl_oms_spark.util import local_rows

    return local_rows(
        spark,
        [
            (
                m["rank"],
                m["lhs"],
                m["rhs"],
                m["merged"],
                m["pair_weight"],
                m["lhs_count"],
                m["rhs_count"],
                m["score_q"],
            )
            for m in merges
        ],
        "merge_rank long, lhs string, rhs string, merged string, "
        "pair_weight long, lhs_count long, rhs_count long, score_q long",
    ).orderBy("merge_rank")


def _wp_learn_ctes(n_merges: int = 8, sample_words: int = 256) -> str:
    """Unrolled WordPiece learn chain: the bpe `_bpe_learn_ctes` shape
    plus a per-round unigram-count CTE (``u{r}``: position counts over
    the current segmentation, word-frequency weighted — the exact
    likelihood denominator) and an argmax by the shared integer-
    quantized score. Every CTE MATERIALIZED (the k-core/pc2 lesson)."""
    parts = [
        f"""words AS MATERIALIZED (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents)
    WHERE w <> '' AND length(w) >= 2
    GROUP BY w
), w0 AS MATERIALIZED (
    SELECT ' ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s, n
    FROM words ORDER BY n DESC, w LIMIT {sample_words}
)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""p{r} AS MATERIALIZED (
    SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(n) AS BIGINT) AS wt
    FROM (SELECT regexp_split_to_array(trim(s), ' +') AS t, n FROM w{r - 1}),
         LATERAL unnest(range(1, len(t))) u(i)
    GROUP BY a, b
), u{r} AS MATERIALIZED (
    SELECT t[i] AS sym, CAST(SUM(n) AS BIGINT) AS c
    FROM (SELECT regexp_split_to_array(trim(s), ' +') AS t, n FROM w{r - 1}),
         LATERAL unnest(range(1, len(t) + 1)) u(i)
    GROUP BY sym
), b{r} AS MATERIALIZED (
    SELECT a, b, wt, ca, cb,
           CAST((CAST(wt AS HUGEINT) * 1000000000000)
                // (CAST(ca AS HUGEINT) * CAST(cb AS HUGEINT))
                AS BIGINT) AS score_q
    FROM (SELECT p.a, p.b, p.wt, ua.c AS ca, ub.c AS cb
          FROM p{r} p
          JOIN u{r} ua ON ua.sym = p.a
          JOIN u{r} ub ON ub.sym = p.b)
    ORDER BY score_q DESC, a, b LIMIT 1
), w{r} AS MATERIALIZED (
    SELECT replace(s, ' ' || b{r}.a || '  ' || b{r}.b || ' ',
                   ' ' || b{r}.a || b{r}.b || ' ') AS s, n
    FROM w{r - 1} CROSS JOIN b{r}
)"""
        )
    return ",\n".join(parts)


def _wp1_sql(n_merges: int = 8) -> str:
    unions = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({r} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
           a || b AS merged, wt AS pair_weight, ca AS lhs_count,
           cb AS rhs_count, score_q FROM b{r}"""
        for r in range(1, n_merges + 1)
    )
    return f"""WITH {_wp_learn_ctes(n_merges)}
SELECT * FROM (
{unions}
) ORDER BY merge_rank
"""


def kcs1_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the embeddings table
    (operators/coreset.kcenter_greedy, Gonzalez 1985): 8 rounds, each
    ONE distributed scan computing the exact quantized-BIGINT min
    squared-L2 to the ≤8 driver-held centers (literal arrays, codegen)
    + a 1-row TakeOrdered — the diversity-selection step of a curation
    pipeline, no pairwise join anywhere. Output is the selection order
    with the non-increasing covering-radius sequence; first center =
    lowest vec_id, every argmax tie-broken by lowest id, so the DuckDB
    oracle (8 unrolled rounds over the same shifted-integer domain)
    replays it bit-exactly."""
    from etl_oms_spark.operators.coreset import kcenter_greedy

    return kcenter_greedy(_t(spark, sf_dir, "embeddings"), k=8)


def _kcs1_sql(k: int = 8) -> str:
    """Unrolled greedy k-center replay: e11's shifted-integer
    quantization, exact list-algebra squared-L2, per-round max-min
    argmax with lowest-id ties."""
    dist = (
        "list_sum(list_transform(list_zip(q.qv, ch.qv), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    parts = [
        """q AS MATERIALIZED (
  SELECT vec_id AS vid,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                  + 1000000) AS qv
  FROM embeddings
),
c1 AS MATERIALIZED (
  SELECT vid, qv, CAST(0 AS BIGINT) AS d FROM q ORDER BY vid LIMIT 1
)"""
    ]
    for r in range(2, k + 1):
        chosen = " UNION ALL ".join(
            f"SELECT qv FROM c{i}" for i in range(1, r)
        )
        parts.append(
            f"""m{r} AS MATERIALIZED (
  SELECT q.vid, MIN({dist}) AS d
  FROM q CROSS JOIN ({chosen}) ch
  GROUP BY q.vid
),
c{r} AS MATERIALIZED (
  SELECT q.vid, q.qv, CAST(m.d AS BIGINT) AS d
  FROM m{r} m JOIN q ON q.vid = m.vid
  ORDER BY m.d DESC, q.vid LIMIT 1
)"""
        )
    unions = "\n  UNION ALL\n".join(
        f"""  SELECT CAST({r} AS BIGINT) AS round, vid AS vec_id,
         d AS radius_d2 FROM c{r}"""
        for r in range(1, k + 1)
    )
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT * FROM (
{unions}
) ORDER BY round
"""


#: session gap for ssw1 — fixed so batch oracle and stream agree.
_SSW1_GAP_SEC = 6 * 3600


def ssw1_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION-WINDOW aggregation capstone
    (streaming/events.session_window_agg): per-user 6-hour-gap sessions
    over the events stream run END TO END through Structured Streaming
    — availableNow, append mode, parquet sink, checkpoint — with
    ``session_window`` merge state per user, then a session-length
    histogram rollup. Exactness argument (the sdd1 pattern, inverted:
    append-mode windows must FINALIZE to emit, so the watermark must
    PASS them; collapsed to ONE availableNow run in round 13 —
    streaming/events.single_run_sentinel_flush): all files — the real
    events plus one far-future sentinel row (user_id = -1) — form one
    micro-batch under watermark 0, so no row is late and no session
    closes mid-batch; after it the watermark advances past every real
    session end (sentinel_ts - delay > max real session end) and the
    trailing no-data micro-batch flushes the finalized state — so every
    real session is emitted exactly once
    (the sentinel's own session stays open and is filtered). Batch twin:
    the classic islands SQL — new session when the per-user event-time
    gap is STRICTLY over 6 h in exact microseconds (exactly 6 h still
    merges — Spark's session ranges are end-inclusive when merging), the
    strictness `tests/test_round9_ops.py` pins on the engine itself. In
    production the watermark is the lateness-tolerance/state knob; the
    sentinel dance is exactly what a real stream's ongoing traffic does
    for free. Sources-sized result materialized eagerly; temp dirs
    removed before returning."""
    import os
    import shutil
    import tempfile

    from etl_oms_spark.streaming.events import (
        session_window_agg,
        single_run_sentinel_flush,
    )

    ev = _events(spark, sf_dir).select("user_id", "ts")
    tmp = tempfile.mkdtemp(prefix="ssw1_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "sessions")
        ckpt = os.path.join(tmp, "ckpt")
        ev.write.mode("overwrite").parquet(src)
        src_schema = spark.read.parquet(src).schema
        bounds = spark.read.parquet(src).agg(
            F.min("ts").alias("mn"), F.max("ts").alias("mx")
        ).collect()[0]
        span_sec = int(
            (bounds["mx"] - bounds["mn"]).total_seconds()
        )
        delay_sec = span_sec + 3600

        # watermark after the data batch = sentinel_ts - delay
        # = mx + GAP + 3600: strictly past every real session end
        # (last event <= mx, so session end <= mx + GAP).
        # spark.range, not createDataFrame-from-list: the list path
        # parallelizes one row into defaultParallelism pickled slices
        # and its write paid ~5s of Python-worker round trips per run
        # (measured sf0.1, local[32]); range(1) is pure JVM
        sentinel = spark.range(1).select(
            F.lit(-1).cast(src_schema["user_id"].dataType).alias("user_id"),
            (
                F.lit(bounds["mx"])
                + F.make_interval(
                    secs=F.lit(delay_sec + _SSW1_GAP_SEC + 3600)
                )
            )
            .cast(src_schema["ts"].dataType)
            .alias("ts"),
        )
        single_run_sentinel_flush(
            spark,
            src,
            sentinel,
            lambda stream: session_window_agg(
                stream,
                gap=f"{_SSW1_GAP_SEC} seconds",
                watermark=f"{delay_sec} seconds",
            ),
            out,
            ckpt,
            schema=src_schema,
        )
        sess = spark.read.parquet(out).filter(F.col("user_id") >= 0)
        result = (
            sess.groupBy(F.col("n_events").alias("session_events"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sessions"),
                F.count_distinct("user_id").cast("long").alias("n_users"),
                F.sum(
                    F.unix_micros("last_ts") - F.unix_micros("first_ts")
                )
                .cast("long")
                .alias("total_duration_us"),
            )
            .orderBy("session_events")
        )
        # eager JVM-side materialization detaching the result from the
        # temp dir about to be removed; localCheckpoint instead of
        # collect+createDataFrame — the list path re-parallelizes the
        # rows into defaultParallelism pickled slices (~0.4-0.8s of
        # Python-worker round trips per materialization, measured)
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# Islands formulation of the SAME session semantics session_window
# implements: successive per-user events merge while the event-time gap
# is AT MOST 6 h (a gap of exactly 6 h still merges — Spark's session
# ranges are end-inclusive when merging, pinned against the engine in
# tests/test_round9_ops.py::test_session_window_gap_boundary); only a
# STRICTLY larger gap opens a new session. event_id makes both window
# orders total, so the flag and its running sum agree on duplicate
# timestamps.
SSW1_SQL = f"""
WITH ev AS (
    SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
), lagd AS (
    SELECT user_id, tu,
           LAG(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS pu,
           event_id
    FROM ev
), sid AS (
    SELECT user_id, tu,
           SUM(CASE WHEN pu IS NULL
                    OR tu - pu > {_SSW1_GAP_SEC}::BIGINT * 1000000
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY tu, event_id
                   ROWS UNBOUNDED PRECEDING) AS s
    FROM lagd
), sess AS (
    SELECT user_id, s, CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(tu) - MIN(tu) AS dur_us
    FROM sid GROUP BY user_id, s
)
SELECT n_events AS session_events,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(dur_us) AS BIGINT) AS total_duration_us
FROM sess
GROUP BY n_events
ORDER BY session_events
"""


#: rag1 context budget (whitespace tokens) and per-query candidate cut
_RAG1_BUDGET = 512
_RAG1_TOPK = 20


def rag1_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly capstone: retrieval → rank → token-budget
    packing, the step between a retriever and an LLM prompt. For each
    of the 5 benchmark queries (_MRR_QUERIES), candidates are scored by
    the SHARED BM25 postings build (mrr1's one-postings-serves-all
    shape: one corpus scan, term contributions re-aggregated per query
    through a broadcast query-terms join), ranked (score_q DESC, doc_id
    ASC), cut to the top-20 with one row_number window over the
    candidate set (per-query domain, never the corpus), then greedily
    PACKED into a 512-whitespace-token context: documents enter in rank
    order while the running token total stays ≤ 512 and packing stops
    at the first overflow — PREFIX packing, the cumulative-sum form
    both engines express exactly (pk1 covers bin-continuation packing;
    a prompt has one bin). Reports per query the candidate count,
    packed count, packed token total and the comma-joined packed doc
    ids in rank order. All integers exact; queries with no candidate
    report zeros and an empty context."""
    from etl_oms_spark.operators.search import bm25_term_scores, corpus_stats

    docs = _t(spark, sf_dir, "documents")
    from etl_oms_spark.util import local_rows

    all_terms = sorted({t for _, ts in _MRR_QUERIES for t in ts})
    # ONE shared doc-length frame for the BM25 build and the budget
    # packing join below (was two independent corpus tokenize passes)
    dl = corpus_stats(docs).localCheckpoint(eager=False)
    per_term = bm25_term_scores(docs, all_terms, doc_lengths=dl)
    qt = local_rows(
        spark,
        [(q, t) for q, ts in _MRR_QUERIES for t in ts],
        "qid string, term string",
    )
    qmeta = local_rows(
        spark, [(q,) for q, _ in _MRR_QUERIES], "qid string"
    )
    # lazy barrier: scored feeds both cand and ranked (mrr1's lesson)
    scored = (
        per_term.join(F.broadcast(qt), "term")
        .groupBy("qid", "doc_id")
        .agg(F.sum("term_q").alias("score_q"))
        .localCheckpoint(eager=False)
    )
    cand = scored.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    ranked = (
        scored.join(dl, "doc_id")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.desc("score_q"), "doc_id"
                )
            ),
        )
        .filter(F.col("rnk") <= _RAG1_TOPK)
        .withColumn(
            "cum_tokens",
            F.sum("dl").over(
                Window.partitionBy("qid")
                .orderBy("rnk")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter(F.col("cum_tokens") <= _RAG1_BUDGET)
    )
    packed = ranked.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_packed"),
        F.max("cum_tokens").cast("long").alias("tokens_packed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rnk", "doc_id"))
                ),
                lambda s: s["doc_id"].cast("string"),
            ),
            ",",
        ).alias("context_ids"),
    )
    return (
        qmeta.join(cand, "qid", "left")
        .join(packed, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce("n_packed", F.lit(0)).cast("long").alias("n_packed"),
            F.coalesce("tokens_packed", F.lit(0)).cast("long").alias(
                "tokens_packed"
            ),
            F.coalesce("context_ids", F.lit("")).alias("context_ids"),
        )
        .orderBy("qid")
    )


RAG1_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
gstats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_len
    FROM dl
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN {_MRR_TERMS_SQL}
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
perterm AS (
    SELECT tf.doc_id, term,
           CAST(floor(
             ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
             * CAST(tf * 880 * total_len AS DOUBLE)
             / CAST(tf * 400 * total_len + 120 * total_len
                    + 360 * dl.dl * n_docs AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS term_q
    FROM tf
    JOIN dfreq USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN gstats
),
qt(qid, term) AS (VALUES {_MRR_QT_SQL}),
qmeta(qid) AS (SELECT DISTINCT qid FROM qt),
scored AS (
    SELECT qid, doc_id, CAST(SUM(term_q) AS BIGINT) AS score_q
    FROM perterm JOIN qt USING (term)
    GROUP BY qid, doc_id
),
cand AS (
    SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_candidates
    FROM scored GROUP BY qid
),
ranked AS (
    SELECT qid, doc_id, dl.dl,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY score_q DESC, doc_id) AS rnk
    FROM scored JOIN dl USING (doc_id)
    QUALIFY rnk <= {_RAG1_TOPK}
),
packed AS (
    SELECT qid, doc_id, rnk, cum_tokens FROM (
        SELECT qid, doc_id, rnk,
               SUM(dl) OVER (PARTITION BY qid ORDER BY rnk
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM ranked
    ) WHERE cum_tokens <= {_RAG1_BUDGET}
),
agg AS (
    SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_packed,
           CAST(MAX(cum_tokens) AS BIGINT) AS tokens_packed,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rnk)
             AS context_ids
    FROM packed GROUP BY qid
)
SELECT q.qid,
       COALESCE(c.n_candidates, 0) AS n_candidates,
       COALESCE(a.n_packed, 0) AS n_packed,
       COALESCE(a.tokens_packed, 0) AS tokens_packed,
       COALESCE(a.context_ids, '') AS context_ids
FROM qmeta q
LEFT JOIN cand c USING (qid)
LEFT JOIN agg a USING (qid)
ORDER BY q.qid
"""


def prf1_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance-feedback expansion terms
    (operators/search.prf_expansion, Lavrenko & Croft 2001 / RM3) for
    the 5 _MRR_QUERIES: top-3 BM25 feedback docs per query from ONE
    shared postings build, expansion weight w_q(q,t) =
    Σ_d (tf·score_q)//dl floored per (doc, term) before the sum, the
    query's own terms excluded, top-5 terms per query by (w_q DESC,
    term ASC). Second tokenization pass is semi-join-pruned to the ≤15
    feedback docs before its groupBy — feedback-sized, never
    corpus-sized."""
    from etl_oms_spark.operators.search import prf_expansion

    return prf_expansion(
        _t(spark, sf_dir, "documents"), _MRR_QUERIES, k_docs=3, k_terms=5
    )


PRF1_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
gstats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_len
    FROM dl
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN {_MRR_TERMS_SQL}
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
perterm AS (
    SELECT tf.doc_id, term,
           CAST(floor(
             ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
             * CAST(tf * 880 * total_len AS DOUBLE)
             / CAST(tf * 400 * total_len + 120 * total_len
                    + 360 * dl.dl * n_docs AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS term_q
    FROM tf
    JOIN dfreq USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN gstats
),
qt(qid, term) AS (VALUES {_MRR_QT_SQL}),
scored AS (
    SELECT qid, doc_id, CAST(SUM(term_q) AS BIGINT) AS score_q
    FROM perterm JOIN qt USING (term)
    GROUP BY qid, doc_id
),
fb AS (
    SELECT qid, doc_id, score_q,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY score_q DESC, doc_id) AS rnk
    FROM scored
    QUALIFY rnk <= 3
),
ftf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE doc_id IN (SELECT DISTINCT doc_id FROM fb)
    GROUP BY doc_id, term
),
contrib AS (
    SELECT fb.qid, ftf.term, (ftf.tf * fb.score_q) // dl.dl AS c
    FROM fb
    JOIN ftf USING (doc_id)
    JOIN dl USING (doc_id)
    WHERE NOT EXISTS (
        SELECT 1 FROM qt WHERE qt.qid = fb.qid AND qt.term = ftf.term
    )
),
w AS (
    SELECT qid, term, CAST(SUM(c) AS BIGINT) AS w_q
    FROM contrib GROUP BY 1, 2
)
SELECT qid, term, w_q, CAST(rnk AS INT) AS rnk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY w_q DESC, term) AS rnk
    FROM w
) WHERE rnk <= 5
ORDER BY qid, rnk
"""


def uni1_unigram_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Unigram-LM Viterbi segmentation
    (operators/tokenize.unigram_segment_exact, Kudo 2018's inference
    step with a frequency-estimated piece LM) — completes the tokenizer
    triad: bpe1 merges by raw pair count, wp1 by pair likelihood, uni1
    segments whole words against a substring VOCABULARY by maximum
    quantized log-likelihood. One distributed word rollup (the bpe1
    bounded-sample pattern); vocabulary, scores and the per-word DP run
    on the top-256 sample, so the DuckDB oracle replays every stage —
    including the 12-position unrolled Viterbi DP with its
    (score DESC, pieces ASC, split DESC) tie order and the backtrack —
    bit-exactly. Reports the piece usage table."""
    from etl_oms_spark.operators.tokenize import unigram_segment_exact

    segs = unigram_segment_exact(_t(spark, sf_dir, "documents"))
    from etl_oms_spark.util import local_rows

    return local_rows(
        spark,
        [
            (d["piece"], d["vocab_weight"], d["score_q"], d["usage"])
            for d in segs
        ],
        "piece string, vocab_weight long, score_q long, usage long",
    ).orderBy(F.desc("usage"), "piece")


def _uni_prelude_parts(
    sample_words: int, max_word: int, max_piece: int, vocab_k: int
) -> list[str]:
    """Shared uni1/uniT oracle prelude: corpus word rollup → bounded
    sample → substring-candidate rollup → top-``vocab_k``+chars initial
    vocabulary → quantized log-prob scores → the 2..``max_word``-char
    segmentable-word set (`_uni_word_sample` + `_uni_vocab_scores`)."""
    return [
        f"""words AS MATERIALIZED (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents)
    WHERE w <> '' AND length(w) >= 2
    GROUP BY w
), w0 AS MATERIALIZED (
    SELECT w, n FROM words ORDER BY n DESC, w LIMIT {sample_words}
), cand AS MATERIALIZED (
    SELECT substr(w, i, l) AS piece, CAST(SUM(n) AS BIGINT) AS wt
    FROM (
        SELECT w, n, l, u.i AS i
        FROM w0,
             generate_series(1, {max_piece}) ls(l),
             LATERAL unnest(range(1, length(w) - l + 2)) u(i)
    )
    GROUP BY piece
), multi AS MATERIALIZED (
    SELECT piece, wt FROM cand WHERE length(piece) >= 2
    ORDER BY wt DESC, piece LIMIT {vocab_k}
), vocab AS MATERIALIZED (
    SELECT piece, wt FROM multi
    UNION ALL
    SELECT piece, wt FROM cand WHERE length(piece) = 1
), tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS t FROM vocab),
scores AS MATERIALIZED (
    SELECT piece, wt,
           CAST(floor(ln(CAST(wt AS DOUBLE) / CAST(t AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS s
    FROM vocab CROSS JOIN tot
), sw AS MATERIALIZED (
    SELECT w, n FROM w0 WHERE length(w) BETWEEN 2 AND {max_word}
)"""
    ]


def _uni_viterbi_parts(
    tag: str,
    scores_cte: str,
    max_word: int,
    max_piece: int,
    sw_cte: str = "sw",
    with_backtrack: bool = True,
) -> list[str]:
    """One unrolled Viterbi pass for the uni1/uniT/uni2 oracles
    (`_viterbi_usage`'s replay): a MATERIALIZED best-state CTE per
    position (same (score DESC, pieces ASC, split DESC) tie order as
    the Python DP), then — when ``with_backtrack`` — the backtrack
    chain and the piece usage rollup. CTE names are suffixed with
    ``tag`` so uniT can run the pass twice against different score
    tables; ``sw_cte(w, n)`` is the word table (uni2 points it at the
    full distinct corpus vocabulary instead of the sample). Final CTE:
    ``usage{tag}(piece, usage)`` with backtrack; without it the caller
    reads the per-position states ``d{tag}{{i}}`` directly (uni2 needs
    only the final ``np``, which rides the DP state)."""
    parts = [
        f"""d{tag}0 AS MATERIALIZED (
    SELECT w, n, CAST(0 AS BIGINT) AS score, 0 AS np, -1 AS j,
           '' AS piece, 0 AS i
    FROM {sw_cte}
)"""
    ]
    for i in range(1, max_word + 1):
        prev = " UNION ALL ".join(
            f"SELECT * FROM d{tag}{j}"
            for j in range(max(0, i - max_piece), i)
        )
        parts.append(
            f"""d{tag}{i} AS MATERIALIZED (
    SELECT w, n, score, np, j, piece, {i} AS i FROM (
        SELECT prev.w, prev.n,
               prev.score + sc.s AS score,
               prev.np + 1 AS np,
               prev.i AS j,
               sc.piece AS piece,
               ROW_NUMBER() OVER (
                   PARTITION BY prev.w
                   ORDER BY prev.score + sc.s DESC, prev.np + 1 ASC,
                            prev.i DESC
               ) AS rn
        FROM ({prev}) prev
        JOIN {scores_cte} sc
          ON sc.piece = substr(prev.w, prev.i + 1, {i} - prev.i)
        WHERE length(prev.w) >= {i}
    ) WHERE rn = 1
)"""
        )
    if not with_backtrack:
        return parts
    dall = " UNION ALL ".join(
        f"SELECT * FROM d{tag}{i}" for i in range(1, max_word + 1)
    )
    finals = " UNION ALL ".join(
        f"SELECT w, n, j, piece FROM d{tag}{i} WHERE length(w) = {i}"
        for i in range(2, max_word + 1)
    )
    parts.append(
        f"""dall{tag} AS MATERIALIZED ({dall}),
b{tag}1 AS MATERIALIZED ({finals})"""
    )
    for k in range(2, max_word + 1):
        parts.append(
            f"""b{tag}{k} AS MATERIALIZED (
    SELECT b.w, b.n, d.j, d.piece
    FROM b{tag}{k - 1} b JOIN dall{tag} d ON d.w = b.w AND d.i = b.j
    WHERE b.j > 0
)"""
        )
    ball = " UNION ALL ".join(
        f"SELECT piece, n FROM b{tag}{k}" for k in range(1, max_word + 1)
    )
    parts.append(
        f"""usage{tag} AS MATERIALIZED (
    SELECT piece, CAST(SUM(n) AS BIGINT) AS usage
    FROM ({ball}) GROUP BY piece
)"""
    )
    return parts


def _uni1_sql(
    sample_words: int = 256,
    max_word: int = 12,
    max_piece: int = 4,
    vocab_k: int = 64,
) -> str:
    """DuckDB replay of uni1: substring-candidate rollup → top-64+chars
    vocabulary → quantized log-prob scores → 12-position unrolled
    Viterbi DP (one MATERIALIZED best-state CTE per position, same
    lexicographic tie order as the Python DP) → 12-step backtrack chain
    → piece usage rollup."""
    parts = _uni_prelude_parts(sample_words, max_word, max_piece, vocab_k)
    parts += _uni_viterbi_parts("", "scores", max_word, max_piece)
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT u.piece, s.wt AS vocab_weight, s.s AS score_q, u.usage
FROM usage u JOIN scores s ON s.piece = u.piece
ORDER BY u.usage DESC, u.piece
"""


def uniT_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Unigram-LM EM training round
    (operators/tokenize.unigram_em_train, Kudo 2018 §3.2 hard-EM) —
    completes the tokenizer triad as TRAINERS: bpe1/wp1 train merge
    lists iteratively; uniT re-estimates the piece LM uni1 only scores
    with. E-step = Viterbi piece counts under the frequency-estimated
    initial LM (exact BIGINTs — the deterministic hard-EM variant),
    M-step = top-48 usage-ranked multi-char pieces (the vocabulary
    prune) + all single chars at weight max(usage, 1), re-quantized
    log-probs, then a second Viterbi pass under the trained LM. One
    distributed word rollup (bpe1's bounded-sample pattern); the DuckDB
    oracle replays BOTH 12-position unrolled DPs, the prune, and the
    re-quantization bit-exactly."""
    from etl_oms_spark.operators.tokenize import unigram_em_train

    rows = unigram_em_train(_t(spark, sf_dir, "documents"))
    from etl_oms_spark.util import local_rows

    return local_rows(
        spark,
        [
            (
                d["piece"],
                d["em_weight"],
                d["score_q"],
                d["usage_init"],
                d["usage"],
            )
            for d in rows
        ],
        "piece string, em_weight long, score_q long, usage_init long,"
        " usage long",
    ).orderBy(F.desc("usage"), "piece")


def _uniT_sql(
    sample_words: int = 256,
    max_word: int = 12,
    max_piece: int = 4,
    vocab_k: int = 64,
    prune_schedule: tuple = (48,),
) -> str:
    """DuckDB replay of uniT/uniT2: the uni1 prelude, then ONE unrolled
    Viterbi DP + hard-EM M-step (usage-ranked top-``prune_schedule[r]``
    multi-char prune + single-char floor of 1 + re-quantized log-probs)
    PER ROUND, and a final re-segmentation DP under the trained scores
    — every count an exact BIGINT, all DPs sharing `_uni_viterbi_parts`
    (tags a, b, c, …). usage_init always reads tag-a (round-1 E-step)."""
    tags = "abcdefgh"
    n_rounds = len(prune_schedule)
    assert n_rounds + 1 <= len(tags)
    parts = _uni_prelude_parts(sample_words, max_word, max_piece, vocab_k)
    scores_cte = "scores"
    for r, keep in enumerate(prune_schedule, start=1):
        tag = tags[r - 1]
        parts += _uni_viterbi_parts(tag, scores_cte, max_word, max_piece)
        parts.append(
            f"""multi{r} AS MATERIALIZED (
    SELECT piece, usage AS wt FROM usage{tag}
    WHERE length(piece) >= 2
    ORDER BY usage DESC, piece LIMIT {keep}
), singles{r} AS MATERIALIZED (
    SELECT v.piece, GREATEST(COALESCE(u.usage, 0), 1) AS wt
    FROM (SELECT piece FROM vocab WHERE length(piece) = 1) v
    LEFT JOIN usage{tag} u ON u.piece = v.piece
), vocab{r} AS MATERIALIZED (
    SELECT piece, wt FROM multi{r}
    UNION ALL
    SELECT piece, wt FROM singles{r}
), tot{r} AS (SELECT CAST(SUM(wt) AS BIGINT) AS t FROM vocab{r}),
scores{r} AS MATERIALIZED (
    SELECT piece, wt,
           CAST(floor(ln(CAST(wt AS DOUBLE) / CAST(t AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS s
    FROM vocab{r} CROSS JOIN tot{r}
)"""
        )
        scores_cte = f"scores{r}"
    final_tag = tags[n_rounds]
    parts += _uni_viterbi_parts(final_tag, scores_cte, max_word, max_piece)
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT u.piece, s.wt AS em_weight, s.s AS score_q,
       COALESCE(a.usage, 0) AS usage_init, u.usage
FROM usage{final_tag} u
JOIN {scores_cte} s ON s.piece = u.piece
LEFT JOIN usagea a ON a.piece = u.piece
ORDER BY u.usage DESC, u.piece
"""


def uniT2_unigram_em_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round Unigram-LM EM with a prune schedule toward a target
    vocabulary (VERDICT r10 item 3; Kudo 2018 §3.2's full recipe
    iterates EM + prune): two hard-EM rounds on the bounded sample —
    round 1 keeps the top-48 multi-char pieces by Viterbi usage, round
    2 re-segments under the round-1 LM and prunes to 32 — then a final
    re-segmentation under the trained scores. Same bounded-sample
    scale-flat posture as uniT; the oracle unrolls all THREE Viterbi
    passes and both M-steps (shared `_uni_viterbi_parts`, tags a/b/c)."""
    from etl_oms_spark.operators.tokenize import unigram_em_train

    rows = unigram_em_train(
        _t(spark, sf_dir, "documents"),
        n_rounds=2,
        prune_schedule=[48, 32],
    )
    from etl_oms_spark.util import local_rows

    return local_rows(
        spark,
        [
            (
                d["piece"],
                d["em_weight"],
                d["score_q"],
                d["usage_init"],
                d["usage"],
            )
            for d in rows
        ],
        "piece string, em_weight long, score_q long, usage_init long,"
        " usage long",
    ).orderBy(F.desc("usage"), "piece")


def uni2_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide unigram-LM segmentation + per-source fertility
    (operators/tokenize.unigram_fertility) — the APPLY side of the
    unigram triad member, bpe2's counterpart: train the piece LM on the
    bounded sample (uni1's machinery), then segment EVERY corpus word
    with zero Python — the corpus collapses to (source, word, count)
    once, the 12-level Viterbi runs per DISTINCT word as stacked
    codegen projections over a literal score map, and the per-word
    piece counts join back for the rollup. 1-char/>12-char/
    out-of-vocab words are passthrough (1 piece, tallied). The oracle
    replays the same DP relationally (shared `_uni_viterbi_parts`, no
    backtrack — ``np`` rides the DP state) over the full distinct
    vocabulary."""
    from etl_oms_spark.operators.tokenize import unigram_fertility

    return unigram_fertility(_t(spark, sf_dir, "documents")).orderBy(
        "source"
    )


def _uni2_sql(
    sample_words: int = 256,
    max_word: int = 12,
    max_piece: int = 4,
    vocab_k: int = 64,
) -> str:
    """DuckDB replay of uni2: the shared uni1 prelude (sample →
    vocabulary → quantized scores), then the backtrack-free unrolled DP
    over the FULL distinct 2..12-char corpus vocabulary (``dpw``), the
    per-word ``np`` read off the final-position states, and the
    per-source passthrough-aware fertility rollup."""
    parts = _uni_prelude_parts(sample_words, max_word, max_piece, vocab_k)
    parts.append(
        f"""tokw AS MATERIALIZED (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS w
        FROM documents
    )
    WHERE w <> ''
    GROUP BY source, w
), dpw AS MATERIALIZED (
    SELECT w, CAST(1 AS BIGINT) AS n
    FROM (SELECT DISTINCT w FROM tokw
          WHERE length(w) BETWEEN 2 AND {max_word})
)"""
    )
    parts += _uni_viterbi_parts(
        "f", "scores", max_word, max_piece, sw_cte="dpw",
        with_backtrack=False,
    )
    finals = " UNION ALL ".join(
        f"SELECT w, np FROM df{i} WHERE length(w) = {i}"
        for i in range(2, max_word + 1)
    )
    parts.append(f"word_np AS MATERIALIZED ({finals})")
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT t.source,
       CAST(SUM(t.n) AS BIGINT) AS n_words,
       CAST(SUM(t.n * COALESCE(p.np, 1)) AS BIGINT) AS pieces,
       CAST(SUM(CASE WHEN p.np IS NULL THEN t.n ELSE 0 END) AS BIGINT)
           AS passthrough,
       CAST(SUM(t.n * COALESCE(p.np, 1)) AS DOUBLE)
           / CAST(SUM(t.n) AS DOUBLE) AS fertility
FROM tokw t LEFT JOIN word_np p ON p.w = t.w
GROUP BY t.source
ORDER BY t.source
"""


_JL_QUERY_IDS = (0, 1, 2)
_JL_M = 16
_JL_K = 10


def jl1_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality-reduction quality report
    (operators/similarity.jl_recall_report): project the 64-dim
    embeddings onto 16 md5-derived integer JL axes (Achlioptas-style
    bounded entries — `jl_components`, the portable seed policy), then
    for each of three query vectors compare exact cosine top-10 in FULL
    space vs the PROJECTED space and report recall@10 + both ranked id
    lists. Every projected coordinate is an exact long (1e3-quantized
    vectors × [-1000,1000) components, sized so the 16-term projected
    dot stays inside BIGINT under ANSI); full-space ranking is e1's
    exact machinery. This is the measurement that decides whether a
    100 TB ANN/clustering pipeline can run on 4× smaller vectors —
    corpus scanned twice, queries broadcast, no corpus shuffle."""
    from etl_oms_spark.operators.similarity import jl_recall_report

    return jl_recall_report(
        _t(spark, sf_dir, "embeddings"),
        list(_JL_QUERY_IDS),
        m=_JL_M,
        k=_JL_K,
    )


def _jl1_sql(m: int = _JL_M, k: int = _JL_K, dim: int = 64) -> str:
    """jl1 oracle: the projection matrix inlined as a VALUES table from
    the SAME `jl_components` call that builds the Spark literals (the
    kcs1 literal-centers pattern), e1's full-space cosine block, the
    projected-space twin over exact long coordinates, and the per-query
    recall/ranked-list rollup."""
    from etl_oms_spark.operators.similarity import JL_QUANT, jl_components

    comps = jl_components(m, dim)
    values = ",".join(
        f"({kk},{i + 1},{c})"
        for kk, row in enumerate(comps)
        for i, c in enumerate(row)
    )
    qids = ", ".join(str(q) for q in _JL_QUERY_IDS)
    qe = _QE  # e1's 1e6 quantizer: {v}[t.i]
    return f"""
WITH comp(k, i, c) AS (VALUES {values}),
q AS (
    SELECT vec_id AS query_id, embedding AS qe
    FROM embeddings WHERE vec_id IN ({qids})
),
fpairs AS (
    SELECT q.query_id, e.vec_id,
           SUM({qe.format(v='e.embedding')} * {qe.format(v='q.qe')}) AS dot,
           SUM({qe.format(v='e.embedding')} * {qe.format(v='e.embedding')}) AS na,
           SUM({qe.format(v='q.qe')} * {qe.format(v='q.qe')}) AS nb
    FROM embeddings e, q, range(1, {dim + 1}) t(i)
    GROUP BY 1, 2
),
ftop AS MATERIALIZED (
    SELECT query_id, vec_id, rn FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY CAST(dot AS DOUBLE)
                            / (sqrt(CAST(na AS DOUBLE))
                               * sqrt(CAST(nb AS DOUBLE))) DESC,
                            vec_id
               ) AS rn
        FROM fpairs
    ) WHERE rn <= {k}
),
proj AS MATERIALIZED (
    SELECT e.vec_id, c.k,
           CAST(SUM(CAST(round(CAST(e.embedding[c.i] AS DOUBLE)
                                * {JL_QUANT}) AS BIGINT) * c.c)
                AS BIGINT) AS y
    FROM embeddings e, comp c
    GROUP BY 1, 2
),
pn AS (SELECT vec_id, CAST(SUM(y * y) AS BIGINT) AS n2 FROM proj GROUP BY 1),
ppairs AS (
    SELECT qp.vec_id AS query_id, p.vec_id,
           CAST(SUM(p.y * qp.y) AS BIGINT) AS dot
    FROM proj p
    JOIN proj qp ON p.k = qp.k AND qp.vec_id IN ({qids})
    GROUP BY 1, 2
),
ptop AS MATERIALIZED (
    SELECT query_id, vec_id, rn FROM (
        SELECT pp.query_id, pp.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY pp.query_id
                   ORDER BY CAST(pp.dot AS DOUBLE)
                            / (sqrt(CAST(a.n2 AS DOUBLE))
                               * sqrt(CAST(b.n2 AS DOUBLE))) DESC,
                            pp.vec_id
               ) AS rn
        FROM ppairs pp
        JOIN pn a ON a.vec_id = pp.vec_id
        JOIN pn b ON b.vec_id = pp.query_id
    ) WHERE rn <= {k}
),
rec AS (
    SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS recall_at_k
    FROM ftop f JOIN ptop p USING (query_id, vec_id)
    GROUP BY 1
),
fagg AS (
    SELECT query_id,
           string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rn) AS full_top
    FROM ftop GROUP BY 1
),
pagg AS (
    SELECT query_id,
           string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rn) AS proj_top
    FROM ptop GROUP BY 1
)
SELECT f.query_id, COALESCE(r.recall_at_k, 0) AS recall_at_k,
       f.full_top, p.proj_top
FROM fagg f
JOIN pagg p USING (query_id)
LEFT JOIN rec r USING (query_id)
ORDER BY f.query_id
"""


def kn1_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM per-source quality scores
    (operators/domain.kneser_ney_source_scores) — the smoothing upgrade
    of pp1's add-1 CCNet-style fluency model: absolute discounting plus
    the continuation distribution N1+(·w)/N1+(··), which ranks
    frequent-but-single-context words below equally frequent versatile
    ones. One corpus rollup to (source, v, w, count); all smoothing
    tables are bigram-type-domain-sized; per-type quantized log-probs
    weight exact occurrence counts, so every aggregate is an
    order-independent BIGINT."""
    from etl_oms_spark.operators.domain import kneser_ney_source_scores

    return kneser_ney_source_scores(_t(spark, sf_dir, "documents"))


from etl_oms_spark.operators.domain import KN_DISCOUNT as _KN_D

KN1_SQL = f"""
WITH norm AS (
    SELECT source, regexp_split_to_array({_NORM_SQL}, ' ') AS arr
    FROM documents
), base AS (
    SELECT source, arr FROM norm WHERE len(arr) >= 2
), gcnt AS MATERIALIZED (
    SELECT source, split_part(bg, ' ', 1) AS w1,
           split_part(bg, ' ', 2) AS w2,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM (
        SELECT source,
               unnest(list_transform(range(1, len(arr)),
                      i -> arr[i] || ' ' || arr[i+1])) AS bg
        FROM base
    )
    GROUP BY 1, 2, 3
), tcnt AS MATERIALIZED (
    SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS cvw FROM gcnt GROUP BY 1, 2
), cv AS (
    SELECT w1, CAST(SUM(cvw) AS BIGINT) AS cv FROM tcnt GROUP BY 1
), n1v AS (
    SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1v FROM tcnt GROUP BY 1
), n1w AS (
    SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1w FROM tcnt GROUP BY 1
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n1all FROM tcnt
), scored AS MATERIALIZED (
    SELECT t.w1, t.w2,
           CAST(floor(ln(
               (CAST(t.cvw AS DOUBLE) - {_KN_D}) / CAST(cv.cv AS DOUBLE)
               + ({_KN_D} * CAST(n1v.n1v AS DOUBLE) / CAST(cv.cv AS DOUBLE))
               * (CAST(n1w.n1w AS DOUBLE) / CAST(tot.n1all AS DOUBLE))
           ) * 1000000 + 0.5) AS BIGINT) AS score_q
    FROM tcnt t
    JOIN cv ON cv.w1 = t.w1
    JOIN n1v ON n1v.w1 = t.w1
    JOIN n1w ON n1w.w2 = t.w2, tot
)
SELECT g.source,
       CAST(SUM(g.c) AS BIGINT) AS n_bigrams,
       CAST(SUM(g.c * s.score_q) AS BIGINT) AS sum_logq,
       CAST(SUM(g.c * s.score_q) AS DOUBLE) / CAST(SUM(g.c) AS DOUBLE)
           AS mean_logq
FROM gcnt g
JOIN scored s ON s.w1 = g.w1 AND s.w2 = g.w2
GROUP BY g.source
ORDER BY g.source
"""


# ---------------------------------------------------------------------------
# round-11 operators: Good-Turing mass, clustering internal validity,
# rank correlation, changepoint detection, conformal calibration


def gt1_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency re-estimation (operators/vocab.
    good_turing_counts; Good 1953, Gale & Sampson 1995): the
    frequency-of-frequencies histogram N_r over the corpus word counts,
    the plain Turing adjusted count r* = (r+1)·N_{r+1}/N_r and
    per-word probability per row, and the unseen mass p0 = N_1/T — the
    smoothing statistic a tokenizer/LM pipeline reads beside hp1's
    Heaps exponent and zipf1's rank-frequency fit. Pure integer
    algebra: exact BIGINT histogram, one truncating division per
    estimator at 1e-9. One map-side-combined word rollup, then a
    count-domain-sized histogram; the N_{r+1} lookup is a broadcast
    self-join on that tiny histogram."""
    from etl_oms_spark.operators.vocab import good_turing_counts

    return good_turing_counts(_t(spark, sf_dir, "documents"))


GT1_SQL = f"""
WITH counts AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (
        SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
        FROM documents
    )
    GROUP BY term
), hist AS (
    SELECT tf AS r, CAST(COUNT(*) AS BIGINT) AS n_r
    FROM counts GROUP BY tf
), tot AS (
    SELECT CAST(SUM(r * n_r) AS BIGINT) AS t FROM hist
), n1 AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT)
        AS n_1
    FROM hist
)
SELECT CAST(h.r AS BIGINT) AS r, h.n_r,
       CAST(((h.r + 1) * COALESCE(nx.n_r, 0) * CAST(1000000000 AS HUGEINT))
            // h.n_r AS BIGINT) AS r_star_q9,
       CAST(((h.r + 1) * COALESCE(nx.n_r, 0) * CAST(1000000000 AS HUGEINT))
            // (CAST(h.n_r AS HUGEINT) * t.t) AS BIGINT) AS p_r_q9,
       CAST((CAST(n1.n_1 AS HUGEINT) * 1000000000) // t.t AS BIGINT)
           AS p0_q9
FROM (SELECT * FROM hist ORDER BY r LIMIT 15) h
LEFT JOIN hist nx ON nx.r = h.r + 1
CROSS JOIN tot t CROSS JOIN n1
ORDER BY h.r
"""


def db1_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin internal clustering validity
    (operators/clustering.davies_bouldin, Davies & Bouldin 1979) over
    the exact k-means partition — the NO-LABELS validity score beside
    ari1's label-based ARI/NMI: per-cluster scatter s_i (mean member
    distance, per-member 1e-6-quantized before the integer sum), the
    worst separation ratio max_j (s_i+s_j)/d(c_i,c_j) per cluster, and
    the DB index (mean of the maxima, 1e-9 truncating divisions). One
    cluster-keyed groupBy; the k² pair table comes from the driver-held
    centroid list and broadcasts back."""
    from etl_oms_spark.operators.clustering import (
        davies_bouldin,
        kmeans_assign,
        kmeans_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, n_iter=2)
    return davies_bouldin(kmeans_assign(emb, cents), cents)


DB1_SQL = f"""
WITH RECURSIVE {_kmeans_cte_sql(8, 2)},
cents AS (SELECT cents FROM it WHERE iter = 2),
s AS (
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(sqrt(CAST(dist2 AS DOUBLE)) * 1000000
                                + 0.5) AS HUGEINT))
                // COUNT(*) AS BIGINT) AS s_q6
    FROM final_assign GROUP BY cluster
), cd AS (
    SELECT i.cid AS ci, j.cid AS cj,
           CAST(floor(sqrt(CAST((
               SELECT SUM((c.cents[i.cid + 1][t] - c.cents[j.cid + 1][t])
                          * (c.cents[i.cid + 1][t] - c.cents[j.cid + 1][t]))
               FROM generate_series(1, 64) g(t)
           ) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS d_q6
    FROM cents c, generate_series(0, 7) i(cid), generate_series(0, 7) j(cid)
    WHERE i.cid <> j.cid
), r AS (
    SELECT cd.ci,
           CASE WHEN cd.d_q6 = 0 THEN CAST(1000000000000000000 AS BIGINT)
                ELSE CAST((CAST(si.s_q6 + sj.s_q6 AS HUGEINT) * 1000000000)
                          // cd.d_q6 AS BIGINT)
           END AS r_q9
    FROM cd
    JOIN s si ON si.cluster = cd.ci
    JOIN s sj ON sj.cluster = cd.cj
), dmax AS (
    SELECT ci AS cluster, CAST(MAX(r_q9) AS BIGINT) AS r_max_q9
    FROM r GROUP BY ci
), db AS (
    SELECT CAST(CAST(SUM(r_max_q9) AS HUGEINT) // COUNT(*) AS BIGINT)
        AS db_q9
    FROM dmax
)
SELECT CAST(s.cluster AS INT) AS cluster, s.n, s.s_q6,
       dmax.r_max_q9, db.db_q9
FROM s JOIN dmax USING (cluster) CROSS JOIN db
ORDER BY cluster
"""


def sr1_spearman_quality_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between document quality
    (t2's 1e-6-quantized score) and length (whitespace token count) —
    operators/classifier.spearman_from_pairs (Spearman 1904; Pearson
    over average ranks under ties, Kendall 1948 §3). The
    monotone-association companion to st2's Pearson and mwu1's rank
    test: all rank algebra is exact integers over the two value-DOMAIN
    histograms (doubled average ranks, mwu1's trick), Pearson sums are
    decimal(38), rho is one double expression. Two bounded-domain
    windows, two broadcast joins, one corpus scan."""
    from etl_oms_spark.operators.classifier import spearman_from_pairs
    from etl_oms_spark.operators.text import (
        quality_score,
        whitespace_token_count,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = d.select(
        F.coalesce(
            F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
            F.lit(-1),
        ).alias("sq"),
        whitespace_token_count("text").cast("long").alias("nt"),
    )
    return spearman_from_pairs(pairs, "sq", "nt")


SR1_SQL = f"""
WITH p AS (
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) AS sq,
           CAST({_WS} AS BIGINT) AS nt
    FROM documents
), hx AS (
    SELECT sq, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY sq
), rx AS (
    SELECT sq, CAST(2 * SUM(c) OVER (ORDER BY sq ROWS UNBOUNDED PRECEDING)
                    - c + 1 AS BIGINT) AS r_sq
    FROM hx
), hy AS (
    SELECT nt, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY nt
), ry AS (
    SELECT nt, CAST(2 * SUM(c) OVER (ORDER BY nt ROWS UNBOUNDED PRECEDING)
                    - c + 1 AS BIGINT) AS r_nt
    FROM hy
), j AS (
    SELECT CAST(rx.r_sq AS HUGEINT) AS x, CAST(ry.r_nt AS HUGEINT) AS y
    FROM p JOIN rx USING (sq) JOIN ry USING (nt)
), a AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM j
)
SELECT CAST(n AS BIGINT) AS n,
       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS rho
FROM a
"""


def cusum1_event_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift changepoint over the daily event-count series
    (operators/temporal.cusum_changepoint, Page 1954) — the rate-jump
    monitor beside dr1's PSI and an1's residual outliers. Page's
    recursion is rewritten as prefix sums minus running extrema (two
    cumulative windows over the ≤n_days frame, the mwu1
    histogram-first discipline), deviations scaled by N so every
    statistic is an exact BIGINT; argmax days tie-break earliest."""
    from etl_oms_spark.operators.temporal import cusum_changepoint

    return cusum_changepoint(_events(spark, sf_dir))


CUSUM1_SQL = """
WITH days AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(x) AS BIGINT) AS t
    FROM days
), e AS (
    SELECT day, nd, t, CAST(nd * x - t AS BIGINT) AS e
    FROM days CROSS JOIN tot
), p AS (
    SELECT day, nd, t,
           CAST(SUM(e) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS p
    FROM e
), s AS (
    SELECT day, nd, t,
           p - LEAST(0, COALESCE(MIN(p) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               AS s_up,
           GREATEST(0, COALESCE(MAX(p) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               - p AS s_down
    FROM p
)
SELECT CAST(MAX(nd) AS BIGINT) AS n_days, CAST(MAX(t) AS BIGINT) AS total,
       CAST(MAX(s_up) AS BIGINT) AS s_up_max,
       CAST((min(struct_pack(ns := -s_up, d := day))).d AS TIMESTAMP)
           AS cp_up,
       CAST(MAX(s_down) AS BIGINT) AS s_down_max,
       CAST((min(struct_pack(ns := -s_down, d := day))).d AS TIMESTAMP)
           AS cp_down
FROM s
"""


def cf1_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal lower bound on document quality with its
    finite-sample coverage check (operators/classifier.
    conformal_lower_bound; Vovk et al. 2005 / Papadopoulos et al. 2002
    split form) — the distribution-free guarantee beside iso1/bs1:
    calibration = even doc_ids, α = 1/10, threshold = the
    ⌊α(n_cal+1)⌋-th smallest 1e-6-quantized quality score (an exact
    order statistic off the bounded score histogram), coverage measured
    on the odd-id half. One corpus scan, score-domain windows only."""
    from etl_oms_spark.operators.classifier import conformal_lower_bound
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.coalesce(
            F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
            F.lit(-1),
        ).alias("sq"),
        (F.col("doc_id") % 2 == 0).alias("is_cal"),
    )
    return conformal_lower_bound(scored, "sq", "is_cal", 1, 10)


CF1_SQL = f"""
WITH p AS (
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) AS sq,
           doc_id % 2 = 0 AS is_cal
    FROM documents
), hist AS (
    SELECT sq AS s, CAST(COUNT(*) AS BIGINT) AS c
    FROM p WHERE is_cal GROUP BY sq
), cum AS (
    SELECT s, CAST(SUM(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cum
    FROM hist
), nk AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n_cal,
           GREATEST(CAST(1 AS BIGINT),
                    CAST(((SUM(c) + 1) * 1) // 10 AS BIGINT)) AS k
    FROM hist
), thr AS (
    SELECT nk.n_cal, nk.k, CAST(MIN(cum.s) AS BIGINT) AS thr
    FROM cum CROSS JOIN nk
    WHERE cum.cum >= nk.k
    GROUP BY nk.n_cal, nk.k
)
SELECT thr.n_cal,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       thr.k, thr.thr,
       CAST(SUM(CASE WHEN p.sq >= thr.thr THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered,
       CAST((CAST(SUM(CASE WHEN p.sq >= thr.thr THEN 1 ELSE 0 END)
                  AS HUGEINT) * 1000000000) // COUNT(*) AS BIGINT)
           AS coverage_q9
FROM p CROSS JOIN thr
WHERE NOT p.is_cal
GROUP BY thr.n_cal, thr.k, thr.thr
"""


def ot1_wasserstein_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between the en and non-en
    quality-score distributions (public: the 1-D closed form W1 =
    ∫|F_A − F_B| dx — Vallender 1974; the "how far", integral companion
    to ks1's "how high" max-gap): over the shared score histogram,
    Σ over consecutive bins of |CDF_pos − CDF_neg| · bin gap. Exact
    integers end-to-end: the CDF difference is |cp·nn − cn·np| (ks1's
    cross-multiplied form), the gap is the next-bin sq delta (LEAD over
    the bounded histogram; the last bin's difference is identically 0),
    and ONE truncating division at the end lands w1_q9 in 1e-9 score
    units (scaled·1e9 / (np·nn·1e6) = scaled·1000 // (np·nn)).
    decimal(38) carries the Σ (≈ n²·1e6·bins). Same bounded-domain
    window as ks1/mwu1 — never the corpus."""
    hist = _quality_label_hist(spark, sf_dir)
    wc = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("sq")
    cum = hist.select(
        "sq",
        F.sum("n_pos").over(wc).cast("decimal(38,0)").alias("cp"),
        F.sum("n_neg").over(wc).cast("decimal(38,0)").alias("cn"),
        (F.lead("sq").over(wl) - F.col("sq"))
        .cast("decimal(38,0)")
        .alias("gap"),
    )
    tot = hist.agg(
        F.sum("n_pos").cast("long").alias("np"),
        F.sum("n_neg").cast("long").alias("nn"),
    )
    d38 = "decimal(38,0)"
    term = (
        F.abs(
            F.col("cp") * F.col("nn").cast(d38)
            - F.col("cn") * F.col("np").cast(d38)
        )
        * F.col("gap")
    )
    scaled = F.coalesce(
        F.sum(F.when(F.col("gap").isNotNull(), term)),
        F.lit(0).cast(d38),
    )
    num = scaled * F.lit(1000).cast(d38)
    den = F.first("np").cast(d38) * F.first("nn").cast(d38)
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.first("np").alias("n_pos"),
            F.first("nn").alias("n_neg"),
            ((num - num % den) / den).cast("long").alias("w1_q9"),
        )
    )


OT1_SQL = f"""
WITH hist AS (
{_QHIST_SQL}
), cum AS (
    SELECT sq,
           CAST(SUM(n_pos) OVER (ORDER BY sq ROWS UNBOUNDED PRECEDING)
                AS HUGEINT) AS cp,
           CAST(SUM(n_neg) OVER (ORDER BY sq ROWS UNBOUNDED PRECEDING)
                AS HUGEINT) AS cn,
           CAST(LEAD(sq) OVER (ORDER BY sq) - sq AS HUGEINT) AS gap
    FROM hist
), tot AS (
    SELECT CAST(SUM(n_pos) AS BIGINT) AS np, CAST(SUM(n_neg) AS BIGINT) AS nn
    FROM hist
)
SELECT tot.np AS n_pos, tot.nn AS n_neg,
       CAST((COALESCE(SUM(CASE WHEN gap IS NOT NULL
                 THEN abs(cp * tot.nn - cn * tot.np) * gap END), 0) * 1000)
            // (CAST(tot.np AS HUGEINT) * tot.nn) AS BIGINT) AS w1_q9
FROM cum CROSS JOIN tot
GROUP BY tot.np, tot.nn
"""


def qq1_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Q-Q table: the nine deciles of the en vs non-en
    quality-score distributions as EXACT nearest-rank order statistics
    (q_p = min score whose cumulative count ≥ ⌈p·n/10⌉; for integers
    cum ≥ ⌈p·n/10⌉ ⟺ 10·cum ≥ p·n, so NO division appears anywhere)
    off the shared bounded histogram — the full-distribution comparison
    ks1 (max gap) and ot1 (integral) summarize to one number. Nine
    broadcast rank targets against the cumulative histogram; one
    conditional-min aggregate per group."""
    hist = _quality_label_hist(spark, sf_dir)
    wc = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "sq",
        F.sum("n_pos").over(wc).cast("long").alias("cp"),
        F.sum("n_neg").over(wc).cast("long").alias("cn"),
    )
    tot = hist.agg(
        F.sum("n_pos").cast("long").alias("np"),
        F.sum("n_neg").cast("long").alias("nn"),
    )
    ps = spark.range(1, 10).select(F.col("id").cast("long").alias("p"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ps))
        .groupBy("p")
        .agg(
            F.min(
                F.when(
                    F.col("cp") * 10 >= F.col("p") * F.col("np"),
                    F.col("sq"),
                )
            )
            .cast("long")
            .alias("q_pos"),
            F.min(
                F.when(
                    F.col("cn") * 10 >= F.col("p") * F.col("nn"),
                    F.col("sq"),
                )
            )
            .cast("long")
            .alias("q_neg"),
        )
        .orderBy("p")
    )


QQ1_SQL = f"""
WITH hist AS (
{_QHIST_SQL}
), cum AS (
    SELECT sq,
           CAST(SUM(n_pos) OVER (ORDER BY sq ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cp,
           CAST(SUM(n_neg) OVER (ORDER BY sq ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cn
    FROM hist
), tot AS (
    SELECT CAST(SUM(n_pos) AS BIGINT) AS np, CAST(SUM(n_neg) AS BIGINT) AS nn
    FROM hist
)
SELECT CAST(p AS BIGINT) AS p,
       CAST(MIN(CASE WHEN cp * 10 >= p * np THEN sq END) AS BIGINT)
           AS q_pos,
       CAST(MIN(CASE WHEN cn * 10 >= p * nn THEN sq END) AS BIGINT)
           AS q_neg
FROM cum CROSS JOIN tot CROSS JOIN generate_series(1, 9) g(p)
GROUP BY p
ORDER BY p
"""


def eta1_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation ratio η² of document quality across sources (public:
    Pearson's correlation ratio / the one-way-ANOVA effect size
    SS_between/SS_total) — "how much of the quality variance do source
    labels explain?", the categorical companion to sr1's rank
    correlation and js1's divergence. With per-source sums S_g over the
    1e-6-quantized scores and n·multiplied-through algebra:

        η² = (n·Σ_g S_g²/n_g − S²) / (n·Σx² − S²)

    the only non-integer, Σ S_g²/n_g, is quantized per GROUP at 1e-9
    by one truncating division each (b_g = S_g²·1e9 // n_g — signed:
    S_g can be negative but S_g² is not, so operands stay
    non-negative), summed exactly, and η² is ONE double expression
    from decimal(38) integers (headroom to n ≈ 3·10⁸; zero total
    variance pins 0.0). One map-side-combined source rollup — the
    groups frame is source-domain-sized."""
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    d38 = "decimal(38,0)"
    g = d.select(F.col("source").alias("g"), sq.alias("x")).groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("x").cast("long").alias("sg"),
        F.sum(F.col("x") * F.col("x")).cast(d38).alias("qg"),
    )
    sg2 = (F.col("sg").cast(d38) * F.col("sg").cast(d38)) * F.lit(
        1_000_000_000
    ).cast(d38)
    bg = (sg2 - sg2 % F.col("ng").cast(d38)) / F.col("ng").cast(d38)
    a = g.agg(
        F.sum("ng").cast(d38).alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("sg").cast(d38).alias("s"),
        F.sum("qg").cast(d38).alias("q"),
        F.sum(bg).cast(d38).alias("b"),
    )
    k9 = F.lit(1_000_000_000).cast(d38)
    num = F.col("n") * F.col("b") - k9 * F.col("s") * F.col("s")
    den = k9 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    return a.select(
        F.col("n").cast("long").alias("n"),
        "n_groups",
        F.when(den == 0, F.lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("eta2"),
    )


ETA1_SQL = f"""
WITH p AS (
    SELECT source AS g,
           COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) AS x
    FROM documents
), grp AS (
    SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng,
           CAST(SUM(x) AS HUGEINT) AS sg,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qg
    FROM p GROUP BY g
), a AS (
    SELECT CAST(SUM(ng) AS HUGEINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sg) AS HUGEINT) AS s,
           CAST(SUM(qg) AS HUGEINT) AS q,
           CAST(SUM((sg * sg * 1000000000) // ng) AS HUGEINT) AS b
    FROM grp
)
SELECT CAST(n AS BIGINT) AS n, n_groups,
       CASE WHEN 1000000000 * (n * q - s * s) = 0 THEN 0.0
            ELSE CAST(n * b - 1000000000 * s * s AS DOUBLE)
                 / CAST(1000000000 * (n * q - s * s) AS DOUBLE)
       END AS eta2
FROM a
"""


def scs1_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM rate monitor: the daily event counts are
    maintained by a Structured Streaming tumbling-window aggregation
    (streaming/events.windowed_total_counts — availableNow, append
    mode, parquet sink, checkpoint), then Page's changepoint statistic
    runs over the emitted day-domain frame
    (operators/temporal.cusum_from_daily) — exactly how a production
    monitor works: the STREAM maintains the bounded histogram, the
    monitor recomputes the O(n_days) windows per trigger. Exactness
    argument (ssw1's sentinel dance, collapsed to ONE availableNow run
    in round 13 — streaming/events.single_run_sentinel_flush): the
    real events plus one far-future sentinel file form one micro-batch
    under watermark 0 (nothing is late, nothing drops); after it the
    watermark advances past the last real day's window END
    (delay + 86400 s margin) and the trailing no-data micro-batch
    flushes the finalized state — so every real day's count is emitted
    exactly once, with the query-start/state-store machinery paid once
    instead of three times (SCALING.md round-13 optimization table);
    sentinel windows (start > real max ts) are filtered. The emitted counts then EQUAL
    the batch day rollup, so cusum1's oracle is this query's oracle
    too (the sdd1 twin pattern). Day-domain result materialized
    eagerly; temp dirs removed."""
    import os
    import shutil
    import tempfile

    from etl_oms_spark.operators.temporal import cusum_from_daily
    from etl_oms_spark.streaming.events import (
        single_run_sentinel_flush,
        windowed_total_counts,
    )

    ev = _events(spark, sf_dir).select("event_id", "ts")
    tmp = tempfile.mkdtemp(prefix="scs1_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "daily")
        ckpt = os.path.join(tmp, "ckpt")
        ev.write.mode("overwrite").parquet(src)
        src_schema = spark.read.parquet(src).schema
        bounds = spark.read.parquet(src).agg(
            F.min("ts").alias("mn"), F.max("ts").alias("mx")
        ).collect()[0]
        span_sec = int((bounds["mx"] - bounds["mn"]).total_seconds())
        delay_sec = span_sec + 3600

        # sentinel: watermark = sentinel_ts - delay must pass the END
        # of the last real day window (up to 86400 s after mx); columns
        # CAST to the CAPTURED source schema (not a literal DDL): a
        # differently-typed events table (int32 event_id, say) must not
        # yield mixed-schema parquet files under the fixed-schema
        # streaming read
        sentinel = spark.range(1).select(
            F.lit(-1)
            .cast(src_schema["event_id"].dataType)
            .alias("event_id"),
            (
                F.lit(bounds["mx"])
                + F.make_interval(secs=F.lit(delay_sec + 86400 + 3600))
            )
            .cast(src_schema["ts"].dataType)
            .alias("ts"),
        )
        single_run_sentinel_flush(
            spark,
            src,
            sentinel,
            lambda stream: windowed_total_counts(
                stream, window="1 day", watermark=f"{delay_sec} seconds"
            ),
            out,
            ckpt,
            schema=src_schema,
        )
        daily = (
            spark.read.parquet(out)
            .filter(F.col("window_start") <= F.lit(bounds["mx"]))
            .select(
                F.to_date("window_start").alias("day"),
                F.col("n").cast("long").alias("x"),
            )
        )
        result = cusum_from_daily(daily)
        # eager JVM-side materialization detaching the result from the
        # temp dir about to be removed; localCheckpoint instead of
        # collect+createDataFrame — the list path re-parallelizes the
        # rows into defaultParallelism pickled slices (~0.4-0.8s of
        # Python-worker round trips per materialization, measured)
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def sps1_streaming_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor (VERDICT r11 item 6 — scs1's pattern
    applied to dr1): the per-day VALUE histogram of event cents is
    maintained by a Structured Streaming tumbling-window aggregation
    (streaming/events.windowed_value_counts — availableNow, append mode,
    parquet sink, checkpoint; state keyed on (day, value)), then the
    Population Stability Index runs over the emitted day×value frame
    with dr1's exact algebra (operators/validate.psi_from_value_counts:
    same bucket edges, Laplace smoothing, 1e-9-quantized contributions).
    Exactness (ssw1/scs1's sentinel dance, collapsed to ONE availableNow
    run in round 13 — streaming/events.single_run_sentinel_flush):
    the real events plus one far-future sentinel file form one
    micro-batch under watermark 0 (nothing is late); the watermark then
    advances past the last real day's window end and the trailing
    no-data micro-batch flushes every real day's histogram exactly
    once; sentinel windows (start > real max ts) are filtered. Summed per
    (value, side-of-cut), the streamed daily histograms EQUAL dr1's
    batch value rollup — day windows are midnight-aligned and the cut is
    a day boundary — so DR1_SQL is this query's oracle too (the
    sdd1/scs1 shared-oracle twin pattern). Day×value-domain result
    materialized eagerly; temp dirs removed."""
    import os
    import shutil
    import tempfile

    from etl_oms_spark.operators.validate import psi_from_value_counts
    from etl_oms_spark.streaming.events import (
        single_run_sentinel_flush,
        windowed_value_counts,
    )

    ev = _events(spark, sf_dir).select(
        "ts", _cents(F.col("value")).alias("cents")
    )
    tmp = tempfile.mkdtemp(prefix="sps1_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "hist")
        ckpt = os.path.join(tmp, "ckpt")
        ev.write.mode("overwrite").parquet(src)
        src_schema = spark.read.parquet(src).schema
        bounds = spark.read.parquet(src).agg(
            F.min("ts").alias("mn"), F.max("ts").alias("mx")
        ).collect()[0]
        span_sec = int((bounds["mx"] - bounds["mn"]).total_seconds())
        delay_sec = span_sec + 3600

        # sentinel built from the CAPTURED source schema (scs1's ADVICE
        # lesson); watermark = sentinel_ts - delay must pass the END of
        # the last real day window
        sentinel = spark.range(1).select(
            (
                F.lit(bounds["mx"])
                + F.make_interval(secs=F.lit(delay_sec + 86400 + 3600))
            )
            .cast(src_schema["ts"].dataType)
            .alias("ts"),
            F.lit(0).cast(src_schema["cents"].dataType).alias("cents"),
        )
        single_run_sentinel_flush(
            spark,
            src,
            sentinel,
            lambda stream: windowed_value_counts(
                stream, "cents", window="1 day",
                watermark=f"{delay_sec} seconds",
            ),
            out,
            ckpt,
            schema=src_schema,
        )
        cut = F.lit("2024-01-08").cast("timestamp")
        vcounts = (
            spark.read.parquet(out)
            .filter(F.col("window_start") <= F.lit(bounds["mx"]))
            .groupBy("v")
            .agg(
                F.sum(
                    F.when(F.col("window_start") < cut, F.col("n")).otherwise(
                        F.lit(0)
                    )
                )
                .cast("long")
                .alias("n_base"),
                F.sum(
                    F.when(
                        F.col("window_start") >= cut, F.col("n")
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("n_cur"),
            )
        )
        result = psi_from_value_counts(vcounts).orderBy("bucket")
        # eager JVM-side materialization detaching the result from the
        # temp dir about to be removed; localCheckpoint instead of
        # collect+createDataFrame — the list path re-parallelizes the
        # rows into defaultParallelism pickled slices (~0.4-0.8s of
        # Python-worker round trips per materialization, measured)
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def mk2_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test over the daily event-count
    series (operators/temporal.mann_kendall_trend; Mann 1945, Kendall
    1948, Hirsch et al. 1982 tie correction) — the nonparametric "is
    the rate drifting?" beside cusum1's level-shift and lr1's
    parametric slope. S and the ×18-scaled tie-corrected variance are
    exact BIGINTs off the day-domain pair join and tie histogram; Z is
    one double expression."""
    from etl_oms_spark.operators.temporal import mann_kendall_trend

    return mann_kendall_trend(_events(spark, sf_dir))


MK2_SQL = """
WITH days AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
), sstat AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN b.x > a.x THEN 1
                                  WHEN b.x < a.x THEN -1
                                  ELSE 0 END), 0) AS BIGINT) AS s
    FROM days a JOIN days b ON a.day < b.day
), ties AS (
    SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM days GROUP BY x
), base AS (
    SELECT CAST(SUM(t) AS BIGINT) AS n_days,
           CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
    FROM ties
)
SELECT n_days, s,
       CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
            AS BIGINT) AS var18,
       CASE WHEN s = 0
              OR n_days * (n_days - 1) * (2 * n_days + 5) - tie_term = 0
            THEN 0.0
            ELSE CAST(s - (CASE WHEN s > 0 THEN 1 ELSE -1 END) AS DOUBLE)
                 / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                             - tie_term AS DOUBLE) / 18.0)
       END AS z
FROM base CROSS JOIN sstat
"""


def ts2_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of the daily event-count series
    (operators/temporal.theil_sen_trend; Theil 1950, Sen 1968): the
    MEDIAN pairwise slope, 29%-breakdown companion to lr1's
    least-squares line. Slopes quantized exactly ((Δx·1e9) trunc-div
    Δdays — DuckDB // semantics), median = qq1's divisionless
    nearest-rank order statistic over the slope-domain cumulative
    histogram."""
    from etl_oms_spark.operators.temporal import theil_sen_trend

    return theil_sen_trend(_events(spark, sf_dir))


TS2_SQL = """
WITH days AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
), p AS (
    SELECT ((b.x - a.x) * 1000000000) // CAST(b.day - a.day AS BIGINT)
               AS slope_q9
    FROM days a JOIN days b ON a.day < b.day
), h AS (
    SELECT slope_q9, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY 1
), m AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS m FROM h),
cum AS (
    SELECT slope_q9,
           SUM(c) OVER (ORDER BY slope_q9 ROWS UNBOUNDED PRECEDING) AS cum
    FROM h
), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM days),
med AS (
    SELECT CAST(MIN(slope_q9) AS BIGINT) AS slope_q9
    FROM cum CROSS JOIN m WHERE 2 * cum >= m
)
SELECT n_days, m AS n_pairs, slope_q9
FROM nd CROSS JOIN m CROSS JOIN med
"""


def kp1_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two cheap document gates
    (operators/classifier.cohens_kappa; Cohen 1960): rater A =
    blocklist-clean (t12's C4-style badword pass), rater B = quality
    score ≥ 0.5 (t2's quantized score) — the two-rater agreement audit
    beside fk1's Fleiss kappa. Do the gates agree beyond their base
    rates, i.e. is the blocklist adding signal over the quality score?
    All exact: 2×2 conditional counts off ONE corpus scan, po/pe/kappa
    single signed truncating divisions at 1e-9."""
    from etl_oms_spark.operators.classifier import cohens_kappa
    from etl_oms_spark.operators.text import quality_score, tokens

    d = _t(spark, sf_dir, "documents")
    clean = F.coalesce(
        F.size(
            F.array_intersect(
                tokens("text"), F.array(*[F.lit(w) for w in _BLOCKLIST])
            )
        )
        == 0,
        F.lit(False),
    )
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    return cohens_kappa(
        d.select(clean.alias("a"), (sq >= 500000).alias("b")), "a", "b"
    )


KP1_SQL = f"""
WITH p AS (
    SELECT COALESCE(len(list_intersect(
               list_distinct(string_split({_NORM_SQL}, ' ')),
               ['slow', 'big'])) = 0, FALSE) AS a,
           COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) >= 500000 AS b
    FROM documents
), c AS (
    SELECT
      CAST(COALESCE(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS n11,
      CAST(COALESCE(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS n10,
      CAST(COALESCE(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS n01,
      CAST(COALESCE(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS n00
    FROM p
), k AS (
    SELECT n11, n10, n01, n00,
           n11 + n10 + n01 + n00 AS n,
           n11 + n00 AS agree,
           (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS pe_num
    FROM c
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
       CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
       CASE WHEN n = 0 THEN NULL
            ELSE CAST((agree * 1000000000) // n AS BIGINT) END AS po_q9,
       CASE WHEN n = 0 THEN NULL
            ELSE CAST((pe_num * 1000000000) // (n * n) AS BIGINT)
       END AS pe_q9,
       CASE WHEN n = 0 THEN NULL
            WHEN n * n - pe_num = 0 THEN 1000000000
            ELSE CAST(((n * agree - pe_num) * 1000000000)
                      // (n * n - pe_num) AS BIGINT)
       END AS kappa_q9
FROM k
"""


def crv1_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between document source and language
    (operators/validate.cramers_v; Cramér 1946 §21.9) — the
    nominal-nominal member of the association suite (st2
    numeric-numeric, eta1 categorical-numeric, sr1/kt1 rank): does the
    source distribution pin the language mix? χ² is exact-rational per
    cell ((n·O − r·c)²/(n·r·c), STAGED 1e-9 quantization so headroom
    holds to n ≈ 2·10⁹), V one double expression."""
    from etl_oms_spark.operators.validate import cramers_v

    return cramers_v(_t(spark, sf_dir, "documents"), "source", "lang")


CRV1_SQL = """
WITH cells AS (
    SELECT source AS a, lang AS b, CAST(COUNT(*) AS HUGEINT) AS o
    FROM documents GROUP BY 1, 2
), ra AS (SELECT a, CAST(SUM(o) AS HUGEINT) AS ra FROM cells GROUP BY a),
cb AS (SELECT b, CAST(SUM(o) AS HUGEINT) AS cb FROM cells GROUP BY b),
tot AS (SELECT CAST(COALESCE(SUM(o), 0) AS HUGEINT) AS n FROM cells),
dims AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ra) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cb) AS n_cols,
           (SELECT n FROM tot) AS n
), j AS (
    SELECT (n * o - ra.ra * cb.cb) AS dev,
           n * ra.ra * cb.cb AS bb,
           ra.ra * cb.cb AS rc,
           n AS nn
    FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot
), chi AS (
    -- observed-cells rewrite of the FULL-table chi-square (empty cells
    -- contribute only their expectation, and the expectations over all
    -- R*C cells sum to n, added back in the final select)
    SELECT CAST(COALESCE(SUM(
               ((dev * dev) // bb) * 1000000000
               + (((dev * dev) % bb) * 1000000000) // bb
               - (rc * 1000000000) // nn), 0)
           AS HUGEINT) AS chi_part
    FROM j
)
SELECT CAST(n AS BIGINT) AS n, n_rows, n_cols,
       CAST(GREATEST(chi_part + n * 1000000000, 0) AS BIGINT) AS chi2_q9,
       CASE WHEN n = 0 OR LEAST(n_rows, n_cols) <= 1 THEN 0.0
            ELSE sqrt((CAST(GREATEST(chi_part + n * 1000000000, 0)
                            AS DOUBLE) / 1000000000.0)
                      / CAST(n * (LEAST(n_rows, n_cols) - 1) AS DOUBLE))
       END AS v
FROM dims CROSS JOIN chi
"""


def kt1_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kendall τ-b between quality decile and
    length-magnitude buckets (operators/classifier.
    kendall_tau_b_from_cells; Kendall 1945, contingency-table form) —
    the concordance companion to sr1's Spearman over the same two
    signals, on GROUPED data: x = fixed-edge quality decile (sq //
    100000 capped at 9, −1 for null text — no bounds pass needed), y =
    decimal digit count of the whitespace token count (an exact
    integer log bucket both engines compute identically). One
    map-side-combined corpus rollup to the ≤11×8 contingency table;
    C/D from the tiny cell self-join, ties from the marginals — all
    exact BIGINTs, τ-b one double expression."""
    from etl_oms_spark.operators.classifier import (
        kendall_tau_b_from_cells,
    )
    from etl_oms_spark.operators.text import (
        quality_score,
        whitespace_token_count,
    )

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    xb = F.when(sq < 0, F.lit(-1).cast("long")).otherwise(
        F.least(
            ((sq - sq % 100000) / 100000).cast("long"), F.lit(9).cast("long")
        )
    )
    yb = F.length(
        whitespace_token_count("text").cast("long").cast("string")
    ).cast("long")
    cells = (
        d.select(xb.alias("x"), yb.alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return kendall_tau_b_from_cells(cells)


KT1_SQL = f"""
WITH p AS (
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) AS sq,
           CAST({_WS} AS BIGINT) AS nt
    FROM documents
), bk AS (
    SELECT CASE WHEN sq < 0 THEN -1
                ELSE LEAST(sq // 100000, 9) END AS x,
           CAST(length(CAST(nt AS VARCHAR)) AS BIGINT) AS y
    FROM p
), cells AS (
    SELECT x, y, CAST(COUNT(*) AS HUGEINT) AS c FROM bk GROUP BY 1, 2
), pr AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN b.y > a.y THEN a.c * b.c
                                  ELSE 0 END), 0) AS HUGEINT) AS conc,
           CAST(COALESCE(SUM(CASE WHEN b.y < a.y THEN a.c * b.c
                                  ELSE 0 END), 0) AS HUGEINT) AS disc
    FROM cells a JOIN cells b ON b.x > a.x
), tx AS (
    SELECT CAST(COALESCE(SUM(t * (t - 1)), 0) AS HUGEINT) AS tx
    FROM (SELECT SUM(c) AS t FROM cells GROUP BY x)
), uy AS (
    SELECT CAST(COALESCE(SUM(t * (t - 1)), 0) AS HUGEINT) AS uy
    FROM (SELECT SUM(c) AS t FROM cells GROUP BY y)
), tot AS (SELECT CAST(COALESCE(SUM(c), 0) AS HUGEINT) AS n FROM cells)
SELECT CAST(n AS BIGINT) AS n,
       CAST(conc AS BIGINT) AS conc, CAST(disc AS BIGINT) AS disc,
       CAST(n * (n - 1) - tx AS BIGINT) AS d1,
       CAST(n * (n - 1) - uy AS BIGINT) AS d2,
       CASE WHEN n * (n - 1) - tx = 0 OR n * (n - 1) - uy = 0 THEN 0.0
            ELSE 2.0 * CAST(conc - disc AS DOUBLE)
                 / sqrt(CAST(n * (n - 1) - tx AS DOUBLE)
                        * CAST(n * (n - 1) - uy AS DOUBLE))
       END AS tau_b
FROM tot CROSS JOIN tx CROSS JOIN uy CROSS JOIN pr
"""


def cld1_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size between the en and non-en
    quality-score distributions (public: Cliff 1993) — the MAGNITUDE
    companion to mwu1's significance test, off the same shared score
    histogram: δ = (#(A>B) − #(A<B)) / (n_A·n_B), with the pair counts
    exact BIGINTs from one cumulative window over the score DOMAIN
    (never the corpus): #(A>B) = Σ n_pos·cum_neg_below, and
    #(A<B) = n_A·n_B − Σ n_pos·cum_neg_at_or_below. delta_q9 is one
    signed truncating division (DuckDB // parity); an empty side pins
    NULL."""
    from pyspark.sql import Window

    hist = _quality_label_hist(spark, sf_dir)
    w = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, 0)
    wb = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, -1)
    d38 = "decimal(38,0)"
    cum = hist.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(wb), F.lit(0)).alias("cb"),
        F.sum("n_neg").over(w).alias("cle"),
    )
    a = cum.agg(
        F.coalesce(F.sum("n_pos"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("n_neg"), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.col("n_pos").cast(d38) * F.col("cb").cast(d38)),
                   F.lit(0).cast(d38)).alias("s_gt"),
        F.coalesce(F.sum(F.col("n_pos").cast(d38) * F.col("cle").cast(d38)),
                   F.lit(0).cast(d38)).alias("s_le"),
    )
    nab = F.col("n_a").cast(d38) * F.col("n_b").cast(d38)
    gt = F.col("s_gt")
    lt = nab - F.col("s_le")
    k9 = F.lit(1_000_000_000).cast(d38)
    num = (gt - lt) * k9
    return a.select(
        "n_a",
        "n_b",
        gt.cast("long").alias("n_gt"),
        lt.cast("long").alias("n_lt"),
        F.when(nab == 0, F.lit(None).cast("long"))
        .otherwise(((num - num % nab) / nab).cast("long"))
        .alias("delta_q9"),
    )


CLD1_SQL = f"""
WITH hist AS (
{_QHIST_SQL}
), cum AS (
    SELECT n_pos, n_neg,
           CAST(COALESCE(SUM(n_neg) OVER (
               ORDER BY sq ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS HUGEINT) AS cb,
           CAST(SUM(n_neg) OVER (
               ORDER BY sq ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cle
    FROM hist
), a AS (
    SELECT CAST(COALESCE(SUM(n_pos), 0) AS HUGEINT) AS n_a,
           CAST(COALESCE(SUM(n_neg), 0) AS HUGEINT) AS n_b,
           CAST(COALESCE(SUM(n_pos * cb), 0) AS HUGEINT) AS s_gt,
           CAST(COALESCE(SUM(n_pos * cle), 0) AS HUGEINT) AS s_le
    FROM cum
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(s_gt AS BIGINT) AS n_gt,
       CAST(n_a * n_b - s_le AS BIGINT) AS n_lt,
       CASE WHEN n_a * n_b = 0 THEN NULL
            ELSE CAST(((s_gt - (n_a * n_b - s_le)) * 1000000000)
                      // (n_a * n_b) AS BIGINT)
       END AS delta_q9
FROM a
"""


def dlg1_auc_delong_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong standard error of auc1's exact ROC-AUC (public: DeLong,
    DeLong & Clarke-Pearson 1988; Sun & Xu 2014 for the placement-value
    formulation) — the confidence layer over the quality-as-classifier
    suite: AUC ± z·SE is the report line every eval ships.

    Placement values off the shared score histogram, all exact
    integers: each positive in bin v has DOUBLED placement
    q = 2·cum_neg_below + n_neg_at (units of 2·n_neg), each negative
    r = 2·pos_above + n_pos_at (units of 2·n_pos); AUC = mean
    placement on either side (the doubled sums coincide: Σn_pos·q =
    Σn_neg·r = u2 — asserted in pytest). DeLong's components are the
    SAMPLE variances of the placements:

        S10 = (m·Σq²w − (Σqw)²) / (m(m−1)·4n²)     (w = bin weights)
        S01 = (n·Σr²w − (Σrw)²) / (n(n−1)·4m²)
        SE  = √(S10/m + S01/n)

    The variance numerators are exact decimal(38) sums; SE is ONE
    double expression with identical association on both engines.
    m < 2 or n < 2 pins SE NULL. Both cumulative windows share ONE
    sort over the ≤1e6-bin histogram (the wf1 shared-exchange fact).
    Returns one row: (n_pos, n_neg, u2, auc, se)."""
    hist = _quality_label_hist(spark, sf_dir)
    wb = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, -1)
    d38 = "decimal(38,0)"
    cum = hist.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(wb), F.lit(0)).alias("cnb"),
        F.coalesce(F.sum("n_pos").over(wb), F.lit(0)).alias("cpb"),
    )
    tot = cum.agg(
        F.coalesce(F.sum("n_pos"), F.lit(0)).cast("long").alias("m"),
        F.coalesce(F.sum("n_neg"), F.lit(0)).cast("long").alias("n"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    q = (2 * F.col("cnb") + F.col("n_neg")).cast(d38)
    r = (
        2 * (F.col("m") - F.col("cpb") - F.col("n_pos"))
        + F.col("n_pos")
    ).cast(d38)
    a = j.agg(
        F.first("m").alias("m"),
        F.first("n").alias("n"),
        F.coalesce(F.sum(F.col("n_pos").cast(d38) * q), F.lit(0).cast(d38))
        .alias("b"),
        F.coalesce(
            F.sum(F.col("n_pos").cast(d38) * q * q), F.lit(0).cast(d38)
        ).alias("aa"),
        F.coalesce(F.sum(F.col("n_neg").cast(d38) * r), F.lit(0).cast(d38))
        .alias("d"),
        F.coalesce(
            F.sum(F.col("n_neg").cast(d38) * r * r), F.lit(0).cast(d38)
        ).alias("cc"),
    )
    md = F.col("m").cast("double")
    nd = F.col("n").cast("double")
    s10num = (F.col("m").cast(d38) * F.col("aa") - F.col("b") * F.col("b"))
    s01num = (F.col("n").cast(d38) * F.col("cc") - F.col("d") * F.col("d"))
    term1 = s10num.cast("double") / (
        F.lit(4.0) * md * md * (md - F.lit(1.0)) * nd * nd
    )
    term2 = s01num.cast("double") / (
        F.lit(4.0) * nd * nd * (nd - F.lit(1.0)) * md * md
    )
    return a.select(
        F.col("m").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.col("b").cast("long").alias("u2"),
        F.when((F.col("m") == 0) | (F.col("n") == 0), F.lit(None).cast("double"))
        .otherwise(
            F.col("b").cast("double") / (F.lit(2.0) * md * nd)
        )
        .alias("auc"),
        F.when(
            (F.col("m") < 2) | (F.col("n") < 2),
            F.lit(None).cast("double"),
        )
        .otherwise(F.sqrt(term1 + term2))
        .alias("se"),
    )


DLG1_SQL = f"""
WITH hist AS (
{_QHIST_SQL}
), cum AS (
    SELECT n_pos, n_neg,
           CAST(COALESCE(SUM(n_neg) OVER (
               ORDER BY sq ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS HUGEINT) AS cnb,
           CAST(COALESCE(SUM(n_pos) OVER (
               ORDER BY sq ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS HUGEINT) AS cpb
    FROM hist
), tot AS (
    SELECT CAST(COALESCE(SUM(n_pos), 0) AS HUGEINT) AS m,
           CAST(COALESCE(SUM(n_neg), 0) AS HUGEINT) AS n
    FROM cum
), a AS (
    SELECT m, n,
           CAST(COALESCE(SUM(n_pos * (2 * cnb + n_neg)), 0)
                AS HUGEINT) AS b,
           CAST(COALESCE(SUM(n_pos * (2 * cnb + n_neg)
                                   * (2 * cnb + n_neg)), 0)
                AS HUGEINT) AS aa,
           CAST(COALESCE(SUM(n_neg * (2 * (m - cpb - n_pos) + n_pos)), 0)
                AS HUGEINT) AS d,
           CAST(COALESCE(SUM(n_neg * (2 * (m - cpb - n_pos) + n_pos)
                                   * (2 * (m - cpb - n_pos) + n_pos)), 0)
                AS HUGEINT) AS cc
    FROM cum CROSS JOIN tot
    GROUP BY m, n
)
SELECT CAST(m AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
       CAST(b AS BIGINT) AS u2,
       CASE WHEN m = 0 OR n = 0 THEN NULL
            ELSE CAST(b AS DOUBLE)
                 / (2.0 * CAST(m AS DOUBLE) * CAST(n AS DOUBLE))
       END AS auc,
       CASE WHEN m < 2 OR n < 2 THEN NULL
            ELSE sqrt(
                CAST(m * aa - b * b AS DOUBLE)
                / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                   * (CAST(m AS DOUBLE) - 1.0)
                   * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                + CAST(n * cc - d * d AS DOUBLE)
                / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   * (CAST(n AS DOUBLE) - 1.0)
                   * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
            )
       END AS se
FROM a
"""


def rbo1_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (RBO@10, p=9/10) between rrf1's two rankers —
    the BM25 lexical top-10 and the dense cosine top-10 for probe
    vector 0 (operators/search.rbo_from_ranks; Webber, Moffat & Zobel
    2010): the ranker-AGREEMENT audit beside rrf1's fusion. With
    p = 9/10 every term is exactly rational ((1−p)p^{d−1} = 9^{d−1}/10^d),
    so RBO is pure integer algebra — no floating pow — quantized at
    1e-12. All cost lives in the two upstream rankers; the RBO tail is
    k²-sized."""
    from etl_oms_spark.operators.search import bm25_topk, rbo_from_ranks
    from etl_oms_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["join", "hash", "window", "spark"], k=10)
    wlex = Window.orderBy(F.col("score_q").desc(), F.col("doc_id"))
    lex_r = lex.select("doc_id", F.row_number().over(wlex).alias("rank"))
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = cosine_topk(emb, probe, k=10)
    wden = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    dense_r = dense.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wden).alias("rank"),
    )
    return rbo_from_ranks(lex_r, dense_r, k=10)


_RBO_DEPTHS = ", ".join(
    f"({d}, {9 ** (d - 1)}, {10 ** (12 - d)})" for d in range(1, 11)
)

RBO1_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
gstats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_len
    FROM dl
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN {_BM25_TERMS}
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored_bm AS (
    SELECT tf.doc_id,
           CAST(floor(
             ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
             * CAST(tf * 880 * total_len AS DOUBLE)
             / CAST(tf * 400 * total_len + 120 * total_len
                    + 360 * dl.dl * n_docs AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS term_q
    FROM tf
    JOIN dfreq USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN gstats
),
bm AS (
    SELECT doc_id, CAST(SUM(term_q) AS BIGINT) AS score_q
    FROM scored_bm GROUP BY doc_id
    ORDER BY score_q DESC, doc_id LIMIT 10
),
bmr AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS rank
    FROM bm
),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
    SELECT e.vec_id,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='qv.qe')}) AS dot,
           SUM({_QE.format(v='e.embedding')} * {_QE.format(v='e.embedding')}) AS na,
           SUM({_QE.format(v='qv.qe')} * {_QE.format(v='qv.qe')}) AS nb
    FROM embeddings e, qv, range(1, 65) t(i)
    GROUP BY e.vec_id
),
den AS (
    SELECT vec_id,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
    FROM pairs
    ORDER BY cosine DESC, vec_id LIMIT 10
),
denr AS (
    SELECT vec_id AS doc_id,
           ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
    FROM den
),
ov AS (
    SELECT bmr.rank AS ra, denr.rank AS rb
    FROM bmr JOIN denr USING (doc_id)
),
depths(d, p9, p10) AS (VALUES {_RBO_DEPTHS}),
xd AS (
    SELECT d, p9, p10,
           CAST(COALESCE(SUM(CASE WHEN ra <= d AND rb <= d THEN 1
                                  ELSE 0 END), 0) AS BIGINT) AS x
    FROM depths LEFT JOIN ov ON TRUE
    GROUP BY d, p9, p10
)
SELECT CAST(10 AS BIGINT) AS k,
       CAST(MAX(CASE WHEN d = 10 THEN x END) AS BIGINT) AS overlap_at_k,
       CAST(COALESCE(SUM((CAST(x AS HUGEINT) * p9 * p10) // d), 0)
            AS BIGINT) AS rbo_q12
FROM xd
"""



# ---------------------------------------------------------------------------
# round-13 additions: 13-gram decontamination, quality-canonical dedup,
# Kruskal-Wallis, Matthews correlation, Cochran-Armitage, Ljung-Box,
# Lin's concordance


def x13_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """13-gram test-set decontamination (the Gopher / GPT-3 / Llama-2
    production recipe; operators/dedup.ngram_decontaminate): train docs
    whose distinct 13-grams overlap the benchmark side's gram set, with
    the per-doc hit fraction and the >= 80% contamination flag. The
    benchmark here is sp1's md5 'test' split of the same corpus (the
    cx2 framing, lexical instead of embedding) so the oracle is
    self-contained; a real run passes the eval-suite grams, which are
    TINY -- AQE broadcasts them and the probe is map-side. ONE corpus
    scan: the exploded gram frame carries the split label and is
    lazily checkpointed, so the bench-distinct and the train
    totals/hits all reuse it (sr1's one-scan lesson)."""
    from etl_oms_spark.operators.dedup import ngram_decontaminate, shingles
    from etl_oms_spark.operators.sampling import _md5_bucket
    from etl_oms_spark.operators.text import normalize_text

    d = _t(spark, sf_dir, "documents")
    is_test = _md5_bucket(F.col("doc_id"), "split") < 200_000
    g = (
        d.filter(
            F.coalesce(F.length(normalize_text("text")), F.lit(0)) > 0
        )
        .select(
            "doc_id",
            is_test.alias("is_test"),
            F.explode(shingles("text", 13)).alias("gram"),
        )
        .localCheckpoint(eager=False)
    )
    bench = g.filter(F.col("is_test")).select("gram")
    train = g.filter(~F.col("is_test")).select("doc_id", "gram")
    return ngram_decontaminate(train, bench, threshold_q6=800_000).orderBy(
        "doc_id"
    )


X13_SQL = f"""
WITH toked AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks,
           CAST('0x' || substring(md5('split|' || CAST(doc_id AS VARCHAR)),
                1, 15) AS BIGINT) % 1000000 < 200000 AS is_test
    FROM documents
    WHERE COALESCE(length({_NORM_SQL}), 0) > 0
), grams AS (
    SELECT DISTINCT doc_id, is_test,
           array_to_string(toks[i:i+12], ' ') AS gram
    FROM (SELECT doc_id, is_test, toks,
                 unnest(generate_series(1, greatest(len(toks) - 12, 1))) AS i
          FROM toked)
), bench AS (SELECT DISTINCT gram FROM grams WHERE is_test),
tr AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM bench))
                AS BIGINT) AS hit_grams
    FROM grams WHERE NOT is_test GROUP BY doc_id
)
SELECT doc_id, n_grams, hit_grams,
       (hit_grams * 1000000) // n_grams AS hit_frac_q6,
       (hit_grams * 1000000) // n_grams >= 800000 AS contaminated
FROM tr WHERE hit_grams > 0
ORDER BY doc_id
"""


def d14_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the highest-QUALITY member per duplicate
    group (operators/dedup.quality_canonical_dedup) instead of d1's
    min-id: within a canonical-fingerprint group the raw texts differ
    in case/whitespace/punctuation, so t2's quantized quality score
    breaks the tie toward the member a curation run should train on
    (min doc_id on exact score ties keeps the choice total). Same
    single fingerprint shuffle as d1 -- the window partition is
    dup-group-sized."""
    from etl_oms_spark.operators.dedup import quality_canonical_dedup
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    return quality_canonical_dedup(d, sq).orderBy("doc_id")


D14_SQL = f"""
WITH p AS (
    SELECT doc_id,
           COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) AS q,
           {_NORM_SQL} AS fp
    FROM documents
), r AS (
    SELECT doc_id, q,
           ROW_NUMBER() OVER (PARTITION BY fp
                              ORDER BY q DESC, doc_id ASC) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS dup_count
    FROM p
)
SELECT doc_id, dup_count, q AS quality_q6
FROM r WHERE rn = 1
ORDER BY doc_id
"""


def kwh1_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H across the five language groups'
    quality-score distributions (operators/classifier.
    kruskal_wallis_from_hist; Kruskal & Wallis 1952) -- the k-group
    extension of mwu1's two-sample rank test: is quality flat across
    languages, judged purely on ranks? One map-side-combined corpus
    rollup to the (score-bin, lang) histogram; all rank algebra runs
    over the bounded score domain with mwu1's doubled-rank integers and
    crv1's staged 1e-9 division."""
    from etl_oms_spark.operators.classifier import kruskal_wallis_from_hist
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    hist = (
        d.select(sq.alias("sq"), F.col("lang").alias("g"))
        .groupBy("sq", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return kruskal_wallis_from_hist(hist)


KWH1_SQL = f"""
WITH hist AS (
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) AS sq,
           lang AS g, CAST(COUNT(*) AS HUGEINT) AS c
    FROM documents GROUP BY 1, 2
), bysq AS (
    SELECT sq, SUM(c) AS ct FROM hist GROUP BY sq
), cum AS (
    SELECT sq, ct,
           SUM(ct) OVER (ORDER BY sq ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) - ct AS cumb
    FROM bysq
), contrib AS (
    SELECT h.g, h.c, h.c * (2 * cum.cumb + cum.ct + 1) AS r2t
    FROM hist h JOIN cum ON h.sq = cum.sq
), grp AS (
    SELECT g, SUM(c) AS ng, SUM(r2t) AS r2g FROM contrib GROUP BY g
), ties AS (
    SELECT CAST(COALESCE(SUM(ct * ct * ct - ct), 0) AS HUGEINT) AS ties
    FROM bysq
), tot AS (
    SELECT CAST(COALESCE(SUM(ng), 0) AS HUGEINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_groups
    FROM grp
), terms AS (
    SELECT CAST(COALESCE(SUM(
               ((3 * r2g * r2g) // (ng * n * (n + 1))) * 1000000000
               + (((3 * r2g * r2g) % (ng * n * (n + 1))) * 1000000000)
                 // (ng * n * (n + 1))), 0) AS HUGEINT) AS sum_q9
    FROM grp CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n, n_groups,
       CAST(ties AS BIGINT) AS ties_cubed,
       CASE WHEN n = 0 THEN NULL
            ELSE CAST(sum_q9 - 3 * (n + 1) * 1000000000 AS BIGINT)
       END AS h_q9,
       CASE WHEN n = 0 THEN NULL
            WHEN (n * n * n - n) - ties = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                CAST(sum_q9 - 3 * (n + 1) * 1000000000 AS DOUBLE)
                / 1000000000.0
                * (CAST(n * n * n - n AS DOUBLE)
                   / CAST((n * n * n - n) - ties AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT)
       END AS h_tied_q6
FROM tot CROSS JOIN ties CROSS JOIN terms
"""


def mcc1_matthews_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation of the quality gate (score >= 0.5) against
    the en-vs-rest label (operators/classifier.matthews_corr; Matthews
    1975) -- the imbalance-honest effect size beside kp1's agreement
    and auc1's ranking view of the SAME classifier framing. One
    map-side-combined corpus scan to the 2x2 confusion; mcc_q6 is one
    double expression from exact integers with the split-sqrt device
    (two exact n^2-bounded pair products, never the 4-way product)."""
    from etl_oms_spark.operators.classifier import matthews_corr
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    return matthews_corr(
        d.select(
            F.coalesce(F.col("lang") == "en", F.lit(False)).alias("t"),
            (sq >= 500_000).alias("p"),
        ),
        "t",
        "p",
    )


MCC1_SQL = f"""
WITH p AS (
    SELECT COALESCE(lang = 'en', FALSE) AS t,
           COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) >= 500000 AS pr
    FROM documents
), c AS (
    SELECT
      CAST(COALESCE(SUM(CASE WHEN t AND pr THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS tp,
      CAST(COALESCE(SUM(CASE WHEN t AND NOT pr THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS fn,
      CAST(COALESCE(SUM(CASE WHEN NOT t AND pr THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS fp,
      CAST(COALESCE(SUM(CASE WHEN NOT t AND NOT pr THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS tn
    FROM p
)
SELECT CAST(tp + fn + fp + tn AS BIGINT) AS n,
       CAST(tp AS BIGINT) AS tp, CAST(fn AS BIGINT) AS fn,
       CAST(fp AS BIGINT) AS fp, CAST(tn AS BIGINT) AS tn,
       CASE WHEN (tp + fp) * (tp + fn) = 0 OR (tn + fn) * (tn + fp) = 0
            THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                CAST(tp * tn - fp * fn AS DOUBLE)
                / (sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE))
                   * sqrt(CAST((tn + fn) * (tn + fp) AS DOUBLE)))
                * 1000000 + 0.5) AS BIGINT)
       END AS mcc_q6
FROM c
"""


def ca1_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test of the en-share across ordered
    quality deciles (operators/validate.cochran_armitage; Cochran 1954,
    Armitage 1955) -- the ordered-groups member of the association
    suite (crv1 nominal, eta1 categorical-numeric, kt1 rank): does the
    positive rate trend MONOTONICALLY with the decile? Buckets are
    kt1's fixed-edge deciles (sq // 100000 capped at 9, -1 for null
    text) used directly as the integer scores; one corpus rollup to the
    <= 11-cell table, exact decimal(38) sums, z one double expression."""
    from etl_oms_spark.operators.validate import cochran_armitage
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    xb = F.when(sq < 0, F.lit(-1).cast("long")).otherwise(
        F.least(
            ((sq - sq % 100000) / 100000).cast("long"), F.lit(9).cast("long")
        )
    )
    pos = F.when(
        F.coalesce(F.col("lang") == "en", F.lit(False)), F.lit(1)
    ).otherwise(F.lit(0))
    return cochran_armitage(
        d.select(xb.alias("w"), pos.alias("pos")), "w", "pos"
    )


CA1_SQL = f"""
WITH p AS (
    SELECT CASE WHEN sq < 0 THEN -1 ELSE LEAST(sq // 100000, 9) END AS w,
           CASE WHEN COALESCE(lang = 'en', FALSE) THEN 1 ELSE 0 END AS pos
    FROM (SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                          AS BIGINT), -1) AS sq, lang
          FROM documents)
), cells AS (
    SELECT w, CAST(COUNT(*) AS HUGEINT) AS nj,
           CAST(COALESCE(SUM(pos), 0) AS HUGEINT) AS rj
    FROM p GROUP BY w
), agg AS (
    SELECT CAST(COALESCE(SUM(nj), 0) AS HUGEINT) AS n,
           CAST(COALESCE(SUM(rj), 0) AS HUGEINT) AS r,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COALESCE(SUM(w * nj), 0) AS HUGEINT) AS sw,
           CAST(COALESCE(SUM(w * rj), 0) AS HUGEINT) AS swr,
           CAST(COALESCE(SUM(w * w * nj), 0) AS HUGEINT) AS sw2
    FROM cells
)
SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r, n_groups,
       CAST(n * swr - r * sw AS BIGINT) AS trend_num,
       CASE WHEN r * (n - r) * (n * sw2 - sw * sw) = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                CAST(n * swr - r * sw AS DOUBLE)
                / sqrt(CAST(r * (n - r) * (n * sw2 - sw * sw) AS DOUBLE)
                       / CAST(n AS DOUBLE))
                * 1000000 + 0.5) AS BIGINT)
       END AS z_q6
FROM agg
"""


def lb1_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box whiteness test over the daily revenue series
    (operators/temporal.ljung_box; Ljung & Box 1978) -- the scalar
    verdict on acf1's per-lag diagnostic: are the first 10
    autocorrelations JOINTLY white? Same exact integer centering and
    bounded-grid lag join as acf1; each lag term is quantized to an
    exact BIGINT BEFORE the sum so Q is order-free."""
    from etl_oms_spark.operators.temporal import ljung_box

    return ljung_box(
        _daily_revk(spark, sf_dir).select("t", "rev_k"), max_lag=10
    )


LB1_SQL = f"""
WITH {_SERIES_SQL},
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COALESCE(SUM(rev_k), 0) AS BIGINT) AS s
    FROM series
),
y AS (
    SELECT t, n, CAST(n * rev_k - s AS HUGEINT) AS y
    FROM series CROSS JOIN tot
),
den AS (SELECT CAST(COALESCE(SUM(y * y), 0) AS HUGEINT) AS den FROM y),
lags AS (SELECT CAST(range AS BIGINT) + 1 AS lag FROM range(0, 10)),
num AS (
    SELECT lag, SUM(a.y * b.y2) AS num, MAX(a.n) AS n
    FROM y a CROSS JOIN lags
    JOIN (SELECT t AS t2, y AS y2 FROM y) b ON a.t + lag = b.t2
    GROUP BY lag
), terms AS (
    SELECT n,
           CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(
                    (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                    * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                    / CAST(n - lag AS DOUBLE)
                    * 1000000000000.0 + 0.5) AS BIGINT)
           END AS tq12
    FROM num CROSS JOIN den WHERE n > lag
), g AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n_days, CAST(10 AS INT) AS h,
           CAST(COALESCE(SUM(tq12), 0) AS BIGINT) AS q_sum_q12
    FROM terms
)
SELECT n_days, h, q_sum_q12,
       CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0)
       * CAST(q_sum_q12 AS DOUBLE) / 1000000000000.0 AS q_lb
FROM g
"""


def ccc1_lins_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance between t2's quality score and the pure
    length-based scorer, both on the 1e6 scale (operators/classifier.
    lins_ccc; Lin 1989) -- the agreement statistic that punishes BOTH
    scatter and bias where Pearson (st2) forgives a systematic offset:
    could the cheap length score substitute for the full quality
    score? Exactly rational in six decimal(38) sums off ONE corpus
    scan (q9 headroom ~3*10^8 docs; past that, pre-aggregate the
    (x, y) joint histogram first -- the sums are identical)."""
    from etl_oms_spark.operators.classifier import lins_ccc
    from etl_oms_spark.operators.text import (
        quality_score,
        whitespace_token_count,
    )

    d = _t(spark, sf_dir, "documents")
    x = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(0),
    )
    y = F.least(
        whitespace_token_count("text").cast("long") * 10000,
        F.lit(1_000_000).cast("long"),
    )
    return lins_ccc(d.select(x.alias("x"), y.alias("y")), "x", "y")


CCC1_SQL = f"""
WITH p AS (
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), 0) AS x,
           LEAST(CAST({_WS} AS BIGINT) * 10000, 1000000) AS y
    FROM documents
), m AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(COALESCE(SUM(x), 0) AS HUGEINT) AS sx,
           CAST(COALESCE(SUM(y), 0) AS HUGEINT) AS sy,
           CAST(COALESCE(SUM(x * x), 0) AS HUGEINT) AS sxx,
           CAST(COALESCE(SUM(y * y), 0) AS HUGEINT) AS syy,
           CAST(COALESCE(SUM(x * y), 0) AS HUGEINT) AS sxy
    FROM p
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
       CASE WHEN n = 0 THEN NULL
            WHEN n * sxx - sx * sx + n * syy - sy * sy
                 + (sx - sy) * (sx - sy) = 0
            THEN CAST(1000000000 AS BIGINT)
            ELSE CAST((2 * (n * sxy - sx * sy) * 1000000000)
                      // (n * sxx - sx * sx + n * syy - sy * sy
                          + (sx - sy) * (sx - sy)) AS BIGINT)
       END AS ccc_q9
FROM m
"""


def mcn1_mcnemar_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between the quality gate (score >= 0.5,
    mcc1's predictor) and the length gate (n_chars >= 200) on the SAME
    documents (operators/classifier.mcnemar_test; McNemar 1947) -- do
    the two curation gates pass different fractions, judged on the
    discordant docs only? One map-side-combined corpus scan to the
    paired 2x2; chi2 and the continuity-corrected form are exact
    remainder-trick rationals of BIGINTs, no doubles anywhere."""
    from etl_oms_spark.operators.classifier import mcnemar_test
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    return mcnemar_test(
        d.select(
            (sq >= 500_000).alias("a"),
            F.coalesce(F.col("n_chars") >= 200, F.lit(False)).alias("b"),
        ),
        "a",
        "b",
    )


MCN1_SQL = f"""
WITH p AS (
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) >= 500000 AS a,
           COALESCE(n_chars >= 200, FALSE) AS b
    FROM documents
), c AS (
    SELECT
      CAST(COALESCE(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS "both",
      CAST(COALESCE(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS a_only,
      CAST(COALESCE(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS b_only,
      CAST(COALESCE(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END), 0)
           AS HUGEINT) AS neither
    FROM p
)
SELECT CAST("both" + a_only + b_only + neither AS BIGINT) AS n,
       CAST("both" AS BIGINT) AS "both", CAST(a_only AS BIGINT) AS a_only,
       CAST(b_only AS BIGINT) AS b_only,
       CAST(neither AS BIGINT) AS neither,
       CASE WHEN a_only + b_only = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((a_only - b_only) * (a_only - b_only) * 1000000
                      // (a_only + b_only) AS BIGINT)
       END AS chi2_q6,
       CASE WHEN a_only + b_only = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(GREATEST(ABS(a_only - b_only) - 1,
                               CAST(0 AS HUGEINT))
                      * GREATEST(ABS(a_only - b_only) - 1,
                                 CAST(0 AS HUGEINT)) * 1000000
                      // (a_only + b_only) AS BIGINT)
       END AS chi2_cc_q6
FROM c
"""


def aov1_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of the quality score across sources (operators/
    classifier.anova_f; Fisher 1925) -- the parametric companion to
    kwh1's rank test and eta1's effect size on the SAME
    categorical-to-numeric framing: do the source means differ beyond
    within-source variance? One map-side-combined corpus scan to the
    per-source moment triples; SSB/SSW land as exact staged-q9
    decimals, F is one double expression on the k-row domain frame.
    Null-text docs (sq < 0 sentinel) are excluded."""
    from etl_oms_spark.operators.classifier import anova_f
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    return anova_f(
        d.select(F.col("source").alias("g"), sq.alias("x")).filter(
            F.col("x") >= 0
        ),
        "g",
        "x",
    )


AOV1_SQL = f"""
WITH p AS (
    SELECT source AS g,
           COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) AS x
    FROM documents
), f AS (SELECT g, CAST(x AS HUGEINT) AS x FROM p WHERE x >= 0),
per AS (
    SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng,
           CAST(COALESCE(SUM(x), 0) AS HUGEINT) AS sg,
           CAST(COALESCE(SUM(x * x), 0) AS HUGEINT) AS qg
    FROM f GROUP BY g
), terms AS (
    SELECT ng, sg, qg,
           ((sg * sg) // ng) * 1000000000
           + (((sg * sg) % ng) * 1000000000) // ng AS sg2q9
    FROM per
), agg AS (
    SELECT CAST(COALESCE(SUM(ng), 0) AS HUGEINT) AS n,
           CAST(COUNT(*) AS HUGEINT) AS k,
           CAST(COALESCE(SUM(sg), 0) AS HUGEINT) AS s,
           CAST(COALESCE(SUM(qg), 0) AS HUGEINT) AS q,
           CAST(COALESCE(SUM(sg2q9), 0) AS HUGEINT) AS ssum
    FROM terms
), ss AS (
    SELECT n, k,
           GREATEST(ssum - (((s * s) // n) * 1000000000
                            + (((s * s) % n) * 1000000000) // n),
                    CAST(0 AS HUGEINT)) AS ssb,
           GREATEST(q * 1000000000 - ssum, CAST(0 AS HUGEINT)) AS ssw
    FROM agg
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       CASE WHEN k < 2 THEN CAST(0 AS BIGINT)
            ELSE CAST(ssb // ((k - 1) * 1000) AS BIGINT) END AS msb_q6,
       CASE WHEN n <= k THEN CAST(0 AS BIGINT)
            ELSE CAST(ssw // ((n - k) * 1000) AS BIGINT) END AS msw_q6,
       CASE WHEN k < 2 OR n <= k OR ssw = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                CAST(ssb AS DOUBLE) * CAST(n - k AS DOUBLE)
                / (CAST(ssw AS DOUBLE) * CAST(k - 1 AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT)
       END AS f_q6
FROM ss
"""


def wel1_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t between en and non-en token counts
    (operators/classifier.welch_t; Welch 1947) -- the parametric
    companion to mwu1's rank test and cld1's ordinal effect size on
    the SAME two-group framing, with the Welch-Satterthwaite df. One
    conditional-aggregation corpus scan to both moment triples; t and
    df are single double expressions over exact decimals."""
    from etl_oms_spark.operators.classifier import welch_t
    from etl_oms_spark.operators.text import whitespace_token_count

    d = _t(spark, sf_dir, "documents")
    return welch_t(
        d.select(
            F.coalesce(F.col("lang") == "en", F.lit(False)).alias("f"),
            whitespace_token_count("text").cast("long").alias("x"),
        ),
        "f",
        "x",
    )


WEL1_SQL = f"""
WITH p AS (
    SELECT COALESCE(lang = 'en', FALSE) AS f,
           CAST({_WS} AS HUGEINT) AS x
    FROM documents
), m AS (
    SELECT
      CAST(COALESCE(SUM(CASE WHEN f THEN 1 ELSE 0 END), 0) AS HUGEINT)
          AS n1,
      CAST(COALESCE(SUM(CASE WHEN NOT f THEN 1 ELSE 0 END), 0)
          AS HUGEINT) AS n2,
      CAST(COALESCE(SUM(CASE WHEN f THEN x END), 0) AS HUGEINT) AS s1,
      CAST(COALESCE(SUM(CASE WHEN NOT f THEN x END), 0) AS HUGEINT) AS s2,
      CAST(COALESCE(SUM(CASE WHEN f THEN x * x END), 0) AS HUGEINT) AS q1,
      CAST(COALESCE(SUM(CASE WHEN NOT f THEN x * x END), 0) AS HUGEINT)
          AS q2
    FROM p
), a AS (
    SELECT n1, n2, s1, s2,
           CAST(n1 * q1 - s1 * s1 AS DOUBLE)
           / CAST(n1 * n1 * (n1 - 1) AS DOUBLE) AS a1,
           CAST(n2 * q2 - s2 * s2 AS DOUBLE)
           / CAST(n2 * n2 * (n2 - 1) AS DOUBLE) AS a2,
           (n1 < 2 OR n2 < 2
            OR (n1 * q1 - s1 * s1 = 0 AND n2 * q2 - s2 * s2 = 0))
               AS degen
    FROM m
)
SELECT CAST(n1 AS BIGINT) AS n_true, CAST(n2 AS BIGINT) AS n_false,
       CAST(s1 AS BIGINT) AS sum_true, CAST(s2 AS BIGINT) AS sum_false,
       CASE WHEN degen THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                / sqrt(a1 + a2) * 1000000.0 + 0.5) AS BIGINT)
       END AS t_q6,
       CASE WHEN degen THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                ((a1 + a2) * (a1 + a2))
                / (a1 * a1 / CAST(n1 - 1 AS DOUBLE)
                   + a2 * a2 / CAST(n2 - 1 AS DOUBLE))
                * 1000.0 + 0.5) AS BIGINT)
       END AS df_q3
FROM a
"""


def jt1_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered trend of token count across the
    fixed-edge quality deciles (operators/validate.
    jonckheere_terpstra; Jonckheere 1954 / Terpstra 1952) -- the
    k-group monotone-shift companion to kt1's concordance and ca1's
    binary-rate trend over the same decile ordering. One
    map-side-combined corpus rollup to the (decile, token-count)
    histogram; the doubled pair statistic comes from per-group
    cumulative counts on the dense value grid -- value-DOMAIN work,
    never pairs over rows. Null-text docs (sq < 0) are excluded."""
    from etl_oms_spark.operators.text import (
        quality_score,
        whitespace_token_count,
    )
    from etl_oms_spark.operators.validate import jonckheere_terpstra

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    hist = (
        d.select(
            sq.alias("sq"),
            whitespace_token_count("text").cast("long").alias("v"),
        )
        .filter(F.col("sq") >= 0)
        .select(
            F.least(
                ((F.col("sq") - F.col("sq") % 100000) / 100000).cast("long"),
                F.lit(9).cast("long"),
            ).alias("g"),
            "v",
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return jonckheere_terpstra(hist)


JT1_SQL = f"""
WITH p AS (
    SELECT COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) AS sq,
           CAST({_WS} AS BIGINT) AS v
    FROM documents
), h AS (
    SELECT LEAST(sq // 100000, 9) AS g, v,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM p WHERE sq >= 0 GROUP BY 1, 2
), vals AS (SELECT DISTINCT v FROM h),
grps AS (SELECT DISTINCT g FROM h),
grid AS (
    SELECT grps.g, vals.v, COALESCE(h.c, 0) AS c
    FROM grps CROSS JOIN vals
    LEFT JOIN h ON h.g = grps.g AND h.v = vals.v
), cum AS (
    SELECT g, v, c,
           COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
    FROM grid
), pr AS (
    SELECT CAST(COALESCE(SUM(CAST(hj.c AS HUGEINT)
               * (2 * CAST(lo.cum AS HUGEINT) + lo.c)), 0) AS HUGEINT)
               AS u2
    FROM cum lo JOIN h hj ON lo.v = hj.v AND lo.g < hj.g
), sizes AS (
    SELECT g, CAST(SUM(c) AS HUGEINT) AS ng FROM h GROUP BY g
), mom AS (
    SELECT CAST(COALESCE(SUM(ng), 0) AS HUGEINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COALESCE(SUM(ng * ng), 0) AS HUGEINT) AS sn2,
           CAST(COALESCE(SUM(ng * ng * (2 * ng + 3)), 0) AS HUGEINT)
               AS sn23
    FROM sizes
)
SELECT CAST(n AS BIGINT) AS n, n_groups,
       CAST(u2 AS BIGINT) AS u2,
       CAST(n * n - sn2 AS BIGINT) AS mu4,
       CASE WHEN n * n * (2 * n + 3) - sn23 <= 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                CAST(2 * u2 - (n * n - sn2) AS DOUBLE)
                / (4.0 * sqrt(
                    CAST(n * n * (2 * n + 3) - sn23 AS DOUBLE) / 72.0))
                * 1000000.0 + 0.5) AS BIGINT)
       END AS z_q6
FROM mom CROSS JOIN pr
"""


def dw1_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson lag-1 serial correlation of the daily revenue
    series (operators/temporal.durbin_watson; Durbin & Watson 1950) --
    the first-lag companion to lb1's joint whiteness verdict over the
    SAME exactly-centered day grid. The statistic is a fully exact
    rational (the mean cancels in the differences; acf1's integer
    centering handles the denominator), quantized by one
    remainder-trick division -- no doubles anywhere."""
    from etl_oms_spark.operators.temporal import durbin_watson

    return durbin_watson(_daily_revk(spark, sf_dir).select("t", "rev_k"))


DW1_SQL = f"""
WITH {_SERIES_SQL},
tot AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(COALESCE(SUM(rev_k), 0) AS HUGEINT) AS s,
           CAST(COALESCE(SUM(CAST(rev_k AS HUGEINT) * rev_k), 0)
                AS HUGEINT) AS q
    FROM series
), d2 AS (
    SELECT CAST(COALESCE(SUM(
               CAST(b.rev_k - a.rev_k AS HUGEINT)
               * CAST(b.rev_k - a.rev_k AS HUGEINT)), 0) AS HUGEINT)
               AS diff2
    FROM series a JOIN series b ON b.t = a.t + 1
)
SELECT CAST(n AS BIGINT) AS n_days, CAST(diff2 AS BIGINT) AS diff2,
       CASE WHEN n * q - s * s = 0 OR n < 2 THEN CAST(0 AS BIGINT)
            ELSE CAST(
                ((diff2 * n) // (n * q - s * s)) * 1000000000
                + (((diff2 * n) % (n * q - s * s)) * 1000000000)
                  // (n * q - s * s) AS BIGINT)
       END AS dw_q9
FROM tot CROSS JOIN d2
"""


def rns1_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of the daily revenue series about its
    nearest-rank median (operators/temporal.runs_test; Wald &
    Wolfowitz 1940) -- the distribution-free randomness companion to
    dw1 on the SAME day grid: too few above/below-median runs means
    persistence, too many means oscillation. Median, sign sequence and
    the lag window all run on the bounded daily grid; z is one double
    expression over exact integers."""
    from etl_oms_spark.operators.temporal import runs_test

    return runs_test(_daily_revk(spark, sf_dir).select("t", "rev_k"))


RNS1_SQL = f"""
WITH {_SERIES_SQL},
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM series),
med AS (
    SELECT rev_k AS med
    FROM (SELECT rev_k,
                 ROW_NUMBER() OVER (ORDER BY rev_k, t) AS r
          FROM series) CROSS JOIN tot
    WHERE r = (n_days + 1) // 2
), sgn AS (
    SELECT t, CAST(rev_k > med AS INT) AS sgn
    FROM series CROSS JOIN med
    WHERE rev_k <> med
), rn AS (
    SELECT CAST(COALESCE(SUM(CAST(sgn AS BIGINT)), 0) AS HUGEINT)
               AS n_above,
           CAST(COALESCE(SUM(1 - CAST(sgn AS BIGINT)), 0) AS HUGEINT)
               AS n_below,
           CAST(COALESCE(SUM(CASE WHEN prev IS NULL OR prev <> sgn
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_runs
    FROM (SELECT sgn, LAG(sgn) OVER (ORDER BY t) AS prev FROM sgn)
)
SELECT n_days,
       CAST(n_above AS BIGINT) AS n_above,
       CAST(n_below AS BIGINT) AS n_below,
       n_runs AS runs,
       CASE WHEN n_above + n_below < 2
                 OR 2 * n_above * n_below
                    * (2 * n_above * n_below - (n_above + n_below)) <= 0
            THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                (CAST(n_runs AS DOUBLE)
                 - (CAST(2 * n_above * n_below AS DOUBLE)
                    / CAST(n_above + n_below AS DOUBLE) + 1.0))
                / sqrt(
                    CAST(2 * n_above * n_below
                         * (2 * n_above * n_below - (n_above + n_below))
                         AS DOUBLE)
                    / CAST((n_above + n_below) * (n_above + n_below)
                           * (n_above + n_below - 1) AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT)
       END AS z_q6
FROM tot CROSS JOIN rn
"""


def lev1_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe spread-homogeneity test of the quality score
    across sources (operators/classifier.brown_forsythe_from_hist;
    Brown & Forsythe 1974) -- the variance check UNDER aov1's
    mean-comparison on the SAME framing: do sources differ in quality
    SPREAD, judged on deviations from each source's nearest-rank
    median? One corpus rollup to the (source, sq) histogram; medians,
    transformed moments and the staged-q9 F all run on the
    group-by-value-domain frame. Null-text docs (sq < 0) excluded."""
    from etl_oms_spark.operators.classifier import brown_forsythe_from_hist
    from etl_oms_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    sq = F.coalesce(
        F.floor(quality_score("text") * 1e6 + F.lit(0.5)).cast("long"),
        F.lit(-1),
    )
    hist = (
        d.select(F.col("source").alias("g"), sq.alias("v"))
        .filter(F.col("v") >= 0)
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return brown_forsythe_from_hist(hist)


LEV1_SQL = f"""
WITH p AS (
    SELECT source AS g,
           COALESCE(CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000 + 0.5)
                    AS BIGINT), -1) AS v
    FROM documents
), h AS (
    SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
    FROM p WHERE v >= 0 GROUP BY 1, 2
), sizes AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng FROM h GROUP BY g),
wc AS (
    SELECT h.g, h.v, h.c,
           SUM(h.c) OVER (PARTITION BY h.g ORDER BY h.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           (sizes.ng + 1) // 2 AS target
    FROM h JOIN sizes ON h.g = sizes.g
), med AS (
    SELECT g, MIN(v) AS med FROM wc WHERE cum >= target GROUP BY g
), per AS (
    SELECT h.g, CAST(SUM(h.c) AS HUGEINT) AS ng,
           CAST(COALESCE(SUM(CAST(h.c AS HUGEINT)
                * ABS(h.v - med.med)), 0) AS HUGEINT) AS sg,
           CAST(COALESCE(SUM(CAST(h.c AS HUGEINT)
                * ABS(h.v - med.med) * ABS(h.v - med.med)), 0)
               AS HUGEINT) AS qg
    FROM h JOIN med ON h.g = med.g GROUP BY h.g
), terms AS (
    SELECT ng, sg, qg,
           ((sg * sg) // ng) * 1000000000
           + (((sg * sg) % ng) * 1000000000) // ng AS sg2q9
    FROM per
), agg AS (
    SELECT CAST(COALESCE(SUM(ng), 0) AS HUGEINT) AS n,
           CAST(COUNT(*) AS HUGEINT) AS k,
           CAST(COALESCE(SUM(sg), 0) AS HUGEINT) AS s,
           CAST(COALESCE(SUM(qg), 0) AS HUGEINT) AS q,
           CAST(COALESCE(SUM(sg2q9), 0) AS HUGEINT) AS ssum
    FROM terms
), ss AS (
    SELECT n, k,
           GREATEST(ssum - (((s * s) // n) * 1000000000
                            + (((s * s) % n) * 1000000000) // n),
                    CAST(0 AS HUGEINT)) AS ssb,
           GREATEST(q * 1000000000 - ssum, CAST(0 AS HUGEINT)) AS ssw
    FROM agg
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       CASE WHEN k < 2 THEN CAST(0 AS BIGINT)
            ELSE CAST(ssb // ((k - 1) * 1000) AS BIGINT) END AS msb_q6,
       CASE WHEN n <= k THEN CAST(0 AS BIGINT)
            ELSE CAST(ssw // ((n - k) * 1000) AS BIGINT) END AS msw_q6,
       CASE WHEN k < 2 OR n <= k OR ssw = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                CAST(ssb AS DOUBLE) * CAST(n - k AS DOUBLE)
                / (CAST(ssw AS DOUBLE) * CAST(k - 1 AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT)
       END AS f_q6
FROM ss
"""


def wsr1_weekly_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test of the week-over-week daily revenue
    shift (operators/temporal.wilcoxon_signed_rank, lag=7; Wilcoxon
    1945) -- the PAIRED companion to mwu1: pairing each day with the
    same weekday one week back cancels the weekly cycle an1 models,
    so the test sees pure level drift. Doubled ranks off the |d|
    histogram keep ties exact; the tie-corrected variance is an exact
    integer; z is one double expression. Day-domain work throughout."""
    from etl_oms_spark.operators.temporal import wilcoxon_signed_rank

    return wilcoxon_signed_rank(
        _daily_revk(spark, sf_dir).select("t", "rev_k"), lag=7
    )


WSR1_SQL = f"""
WITH {_SERIES_SQL},
d AS (
    SELECT CAST(b.rev_k - a.rev_k AS BIGINT) AS d
    FROM series a JOIN series b ON b.t = a.t + 7
), nz AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_zero
    FROM d
), h AS (
    SELECT ABS(d) AS av, CAST(COUNT(*) AS BIGINT) AS c,
           CAST(COALESCE(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS cpos
    FROM d WHERE d <> 0 GROUP BY 1
), r AS (
    SELECT av, c, cpos,
           2 * COALESCE(SUM(c) OVER (ORDER BY av
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1 AS r2
    FROM h
), agg AS (
    SELECT CAST(COALESCE(SUM(c), 0) AS HUGEINT) AS m,
           CAST(COALESCE(SUM(CAST(cpos AS HUGEINT) * r2), 0) AS HUGEINT)
               AS w2p,
           CAST(COALESCE(SUM(CAST(c AS HUGEINT) * c * c - c), 0)
               AS HUGEINT) AS ties
    FROM r
)
SELECT CAST(m AS BIGINT) AS n_pairs, n_zero,
       CAST(w2p AS BIGINT) AS w2_plus,
       CASE WHEN 2 * m * (m + 1) * (2 * m + 1) - ties <= 0
            THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
                CAST(w2p - m * (m + 1) / 2 AS DOUBLE)
                / sqrt(CAST(2 * m * (m + 1) * (2 * m + 1) - ties
                            AS DOUBLE) / 12.0)
                * 1000000.0 + 0.5) AS BIGINT)
       END AS z_q6
FROM agg CROSS JOIN nz
"""


def fr1_friedman_daytype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test of event-type volume across days (operators/
    validate.friedman_from_cells; Friedman 1937, tie-corrected) -- do
    the event TYPES rank consistently within each day? Blocks = days,
    treatments = event types, response = the daily count of that type
    on the ZERO-FILLED complete grid, so busy-day level shifts cancel
    by construction (the within-block companion to kwh1). One corpus
    rollup to the day-by-type counts; ranks, R_j sums and the staged
    chi2 all run on the (days x types) domain frame."""
    from etl_oms_spark.operators.validate import friedman_from_cells

    ev = _events(spark, sf_dir).select(
        F.to_date("ts").alias("b"), F.col("event_type").alias("g")
    )
    counts = (
        ev.groupBy("b", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        # checkpoint barrier: days/types/grid all branch off this
        # rollup — without it the corpus scan re-executes per branch
        .localCheckpoint(eager=False)
    )
    days = counts.select("b").distinct()
    types = counts.select("g").distinct()
    grid = (
        days.crossJoin(types)
        .join(F.broadcast(counts), ["b", "g"], "left")
        .select("b", "g", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
    )
    return friedman_from_cells(grid)


FR1_SQL = """
WITH raw AS (SELECT CAST(ts AS DATE) AS b, event_type AS g FROM events),
cnt AS (
    SELECT b, g, CAST(COUNT(*) AS BIGINT) AS x FROM raw GROUP BY 1, 2
), days AS (SELECT DISTINCT b FROM cnt),
types AS (SELECT DISTINCT g FROM cnt),
grid AS (
    SELECT days.b, types.g, COALESCE(cnt.x, 0) AS x
    FROM days CROSS JOIN types
    LEFT JOIN cnt ON cnt.b = days.b AND cnt.g = types.g
), ranked AS (
    SELECT a.b, a.g,
           CAST(SUM(CASE WHEN o.x < a.x THEN 2 ELSE 0 END)
                + SUM(CASE WHEN o.x = a.x AND o.g <> a.g THEN 1 ELSE 0 END)
                + 2 AS BIGINT) AS r2
    FROM grid a JOIN grid o ON a.b = o.b
    GROUP BY a.b, a.g, a.x
), dims AS (
    SELECT CAST(COUNT(DISTINCT b) AS HUGEINT) AS nb,
           CAST(COUNT(DISTINCT g) AS HUGEINT) AS k
    FROM grid
), sums AS (
    SELECT g, CAST(SUM(r2) AS HUGEINT) AS rj FROM ranked GROUP BY g
), a4 AS (
    SELECT CAST(COALESCE(SUM(CAST(r2 AS HUGEINT) * r2), 0) AS HUGEINT)
               AS a4
    FROM ranked
), num AS (
    SELECT CAST(COALESCE(SUM((rj - nb * (k + 1)) * (rj - nb * (k + 1))),
                         0) AS HUGEINT) AS ssdev
    FROM sums CROSS JOIN dims
)
SELECT CAST(nb AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
       CASE WHEN a4 - nb * k * (k + 1) * (k + 1) <= 0
            THEN CAST(0 AS BIGINT)
            ELSE CAST(((k - 1) * ssdev * 1000000)
                      // (a4 - nb * k * (k + 1) * (k + 1)) AS BIGINT)
       END AS chi2_q6
FROM dims CROSS JOIN a4 CROSS JOIN num
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Order matters: the driver's CORRECTNESS check covers the
        # FIRST 50 entries. Round-13 rotation (VERDICT r12 item 1):
        # staleness control — round-13 additions first (first driver
        # check), then the two continuity anchors, then the 9 r05 rows
        # displaced at the r12 close, then the 23 alphabetically-first
        # of the 48 r07-stale rows.
        # ---- round-13 additions, first driver check ----
        "x13_ngram_decontamination": x13_ngram_decontamination,
        "d14_quality_canonical": d14_quality_canonical,
        "kwh1_kruskal_wallis": kwh1_kruskal_wallis,
        "mcc1_matthews_corr": mcc1_matthews_corr,
        "ca1_cochran_armitage": ca1_cochran_armitage,
        "lb1_ljung_box": lb1_ljung_box,
        "ccc1_lins_concordance": ccc1_lins_concordance,
        "mcn1_mcnemar_gates": mcn1_mcnemar_gates,
        "aov1_anova_f": aov1_anova_f,
        "wel1_welch_t": wel1_welch_t,
        "jt1_jonckheere": jt1_jonckheere,
        "dw1_durbin_watson": dw1_durbin_watson,
        "rns1_runs_test": rns1_runs_test,
        "lev1_brown_forsythe": lev1_brown_forsythe,
        "wsr1_weekly_shift": wsr1_weekly_shift,
        "fr1_friedman_daytype": fr1_friedman_daytype,
        # ---- continuity anchors (green every round) ----
        "q1_pricing_summary": q1_pricing_summary,
        "star_fact_rollup": star_fact_rollup,
        # ---- window fill, positions 19-50: the 32 rows = the 9 r05
        #      rows displaced past the window by the round-12 additions
        #      (they led the refill pool), then the 23 alphabetically-
        #      first of the 48 exact-oracle rows last driver-checked in
        #      r07 (6 rounds stale; a17 leads) ----
        "tm2_temperature_apply": tm2_temperature_apply,
        "tp3_repair_pipeline": tp3_repair_pipeline,
        "tp4_release_pipeline": tp4_release_pipeline,
        "tr1_triangles": tr1_triangles,
        "u4_llm_annotate": u4_llm_annotate,
        "un1_unicode_normalize": un1_unicode_normalize,
        "url1_canonical_urls": url1_canonical_urls,
        "x1_chi2_keywords": x1_chi2_keywords,
        "yoy1_revenue_growth": yoy1_revenue_growth,
        "a17_trimmed_mean": a17_trimmed_mean,
        "a18_hierarchy_share": a18_hierarchy_share,
        "a19_group_mode": a19_group_mode,
        "at1_last_touch": at1_last_touch,
        "bf1_bloom_decontamination": bf1_bloom_decontamination,
        "bfs1_copurchase_hops": bfs1_copurchase_hops,
        "cal1_calendar_dim": cal1_calendar_dim,
        "cm1_cms_heavyhitters": cm1_cms_heavyhitters,
        "cp1_compaction_plan": cp1_compaction_plan,
        "csd1_cluster_size_histogram": csd1_cluster_size_histogram,
        "er1_entity_resolution": er1_entity_resolution,
        "fn2_cohort_funnel": fn2_cohort_funnel,
        "ga1_activity_islands": ga1_activity_islands,
        "h2_time_heatmap": h2_time_heatmap,
        "hl2_exact_rollup": hl2_exact_rollup,
        "hw1_holt_forecast": hw1_holt_forecast,
        "im1_mode_impute": im1_mode_impute,
        "ivm1_incremental_rollup": ivm1_incremental_rollup,
        "je1_join_explosion": je1_join_explosion,
        "ka1_k_anonymity": ka1_k_anonymity,
        "kc1_kcore": kc1_kcore,
        "knn1_label_transfer": knn1_label_transfer,
        "lp1_label_propagation": lp1_label_propagation,
        # ---- positions 51-60: documented rows-only entries, pinned
        #      permanently BEHIND the window (a no_oracle row would
        #      waste a driver slot); each has an exact twin or
        #      pytest-vs-numpy verification ----
        "a11_approx_distinct": a11_approx_distinct,
        "d3_minhash_candidates": d3_minhash_candidates,
        "d4_simhash": d4_simhash,
        "e2_ann_lsh": e2_ann_lsh,
        "e3_embedding_neardup": e3_embedding_neardup,
        "tp1_curation_pipeline": tp1_curation_pipeline,
        "hl1_sketch_rollup": hl1_sketch_rollup,
        "pc1_pca_projection": pc1_pca_projection,
        "e9_pq_topk": e9_pq_topk,
        "dq2_profile_approx": dq2_profile_approx,
        # ---- refill-pool head: the 25 r07 rows displaced past 50 by
        #      the round-13 additions — they lead the r14 window fill ----
        "lr1_revenue_trend": lr1_revenue_trend,
        "lt1_conversion_latency": lt1_conversion_latency,
        "mk1_event_transitions": mk1_event_transitions,
        "nv1_ngram_novelty": nv1_ngram_novelty,
        "o4_topk_with_ties": o4_topk_with_ties,
        "pa1_top_paths": pa1_top_paths,
        "pj1_prefix_jaccard": pj1_prefix_jaccard,
        "pm1_pmi_collocations": pm1_pmi_collocations,
        "pn1_pseudonymize": pn1_pseudonymize,
        "ps1_supply_relation": ps1_supply_relation,
        "qa1_revenue_momentum": qa1_revenue_momentum,
        "rc1_order_reconciliation": rc1_order_reconciliation,
        "rr1_reorder_rate": rr1_reorder_rate,
        "sc2_pit_join": sc2_pit_join,
        "sj1_stream_stream_join": sj1_stream_stream_join,
        "so1_set_ops": so1_set_ops,
        "ss1_repeated_substrings": ss1_repeated_substrings,
        "ss2_span_repair": ss2_span_repair,
        "stp1_streaming_ingest": stp1_streaming_ingest,
        "t11_dup_block_rate": t11_dup_block_rate,
        "tp5_decontaminated_release": tp5_decontaminated_release,
        "tw1_time_weighted_avg": tw1_time_weighted_avg,
        "uq1_user_similarity": uq1_user_similarity,
        "zf1_zipf_slope": zf1_zipf_slope,
        "zo1_zorder_key": zo1_zorder_key,
        # ---- remainder: rotated-out cohorts (the r12 window, the r05
        #      fill, and younger rows) in their prior relative order ----
        "sps1_streaming_psi": sps1_streaming_psi,
        "mk2_mann_kendall": mk2_mann_kendall,
        "ts2_theil_sen": ts2_theil_sen,
        "kp1_cohens_kappa": kp1_cohens_kappa,
        "crv1_cramers_v": crv1_cramers_v,
        "kt1_kendall_tau": kt1_kendall_tau,
        "cld1_cliffs_delta": cld1_cliffs_delta,
        "dlg1_auc_delong_se": dlg1_auc_delong_se,
        "rbo1_rank_overlap": rbo1_rank_overlap,
        "a20_abc_analysis": a20_abc_analysis,
        "an1_revenue_anomalies": an1_revenue_anomalies,
        "br1_bounce_rate": br1_bounce_rate,
        "cc2_dup_hubs": cc2_dup_hubs,
        "ck1_table_checksum": ck1_table_checksum,
        "cl2_cluster_keywords": cl2_cluster_keywords,
        "cx2_split_leakage": cx2_split_leakage,
        "d10_incremental_dedup": d10_incremental_dedup,
        "d11_minhash_calibration": d11_minhash_calibration,
        "d12_url_dedup": d12_url_dedup,
        "d13_dup_rate_by_source": d13_dup_rate_by_source,
        "d9_priority_dedup": d9_priority_dedup,
        "dc1_dataset_card": dc1_dataset_card,
        "dr2_quality_drift": dr2_quality_drift,
        "e10_cosine_topk_arrow": e10_cosine_topk_arrow,
        "e8_sq_topk": e8_sq_topk,
        "em1_embedding_covariance": em1_embedding_covariance,
        "f13_map_funcs": f13_map_funcs,
        "fi1_frequent_pairs": fi1_frequent_pairs,
        "fi2_association_rules": fi2_association_rules,
        "gn1_revenue_gini": gn1_revenue_gini,
        "hh1_supplier_concentration": hh1_supplier_concentration,
        "hn1_hard_negatives": hn1_hard_negatives,
        "iet1_interpurchase_histogram": iet1_interpurchase_histogram,
        "ir1_retrieval_report": ir1_retrieval_report,
        "ln1_lorenz_deciles": ln1_lorenz_deciles,
        "mm1_media_similarity": mm1_media_similarity,
        "pf1_top_values": pf1_top_values,
        "pk2_packing_report": pk2_packing_report,
        "pr1_pagerank": pr1_pagerank,
        "qn1_percent_rank": qn1_percent_rank,
        "qsel1_classifier_topfrac": qsel1_classifier_topfrac,
        "rfm1_customer_segments": rfm1_customer_segments,
        "rrf1_rank_fusion": rrf1_rank_fusion,
        "t10_gopher_gate": t10_gopher_gate,
        "t12_blocklist_gate": t12_blocklist_gate,
        "tc1_table_diff": tc1_table_diff,
        "tj4_asof_tolerance": tj4_asof_tolerance,
        "tm1_temperature_mix": tm1_temperature_mix,
        "ct1p_rank_langid_prefix": ct1p_rank_langid_prefix,
        "uniT2_unigram_em_pruned": uniT2_unigram_em_pruned,
        "gt1_good_turing": gt1_good_turing,
        "db1_davies_bouldin": db1_davies_bouldin,
        "sr1_spearman_quality_length": sr1_spearman_quality_length,
        "cusum1_event_changepoint": cusum1_event_changepoint,
        "cf1_conformal_coverage": cf1_conformal_coverage,
        "ot1_wasserstein_quality": ot1_wasserstein_quality,
        "qq1_quality_deciles": qq1_quality_deciles,
        "eta1_quality_by_source": eta1_quality_by_source,
        "scs1_streaming_cusum": scs1_streaming_cusum,
        "dr1_drift_psi": dr1_drift_psi,
        "ds1_domain_score": ds1_domain_score,
        "dv1_constraints": dv1_constraints,
        "ev_hopping": ev_hopping,
        "fn1_funnel": fn1_funnel,
        "fz1_fuzzy_pairs": fz1_fuzzy_pairs,
        "h1_histogram": h1_histogram,
        "iv1_interval_overlap": iv1_interval_overlap,
        "ix1_global_index": ix1_global_index,
        "kw1_keywords": kw1_keywords,
        "mx1_mix_plan": mx1_mix_plan,
        "mx2_mix_apply": mx2_mix_apply,
        "o3_topk_per_group": o3_topk_per_group,
        "pp1_lm_fluency": pp1_lm_fluency,
        "pp2_perplexity_buckets": pp2_perplexity_buckets,
        "qc1_quality_classifier": qc1_quality_classifier,
        "r4_pivot_multi": r4_pivot_multi,
        "rs1_resample_ffill": rs1_resample_ffill,
        "rt1_retention": rt1_retention,
        "sc1_scd2": sc1_scd2,
        "sk1_salted_join": sk1_salted_join,
        "sk2_skew_report": sk2_skew_report,
        "sp3_domain_cap": sp3_domain_cap,
        "st1_grouped_stats": st1_grouped_stats,
        "st2_correlation": st2_correlation,
        "st3_entropy": st3_entropy,
        "t9_intra_dedup": t9_intra_dedup,
        "tj3_asof_forward": tj3_asof_forward,
        "ts1_bm25": ts1_bm25,
        "v1_vocab_topk": v1_vocab_topk,
        "v2_bigram_merge_rank": v2_bigram_merge_rank,
        "vs1_source_overlap": vs1_source_overlap,
        "w4_winsorize": w4_winsorize,
        "w5_range_frame": w5_range_frame,
        "w6_rolling_distinct": w6_rolling_distinct,
        "w7_mad_outliers": w7_mad_outliers,
        "wt1_weighted_sample": wt1_weighted_sample,
        "uniT_unigram_em": uniT_unigram_em,
        "pj1c_prefix_jaccard_capped": pj1c_prefix_jaccard_capped,
        "uni2_unigram_fertility": uni2_unigram_fertility,
        "jl1_random_projection": jl1_random_projection,
        "kn1_kneser_ney": kn1_kneser_ney,
        "iso1_isotonic_calibration": iso1_isotonic_calibration,
        "bs1_brier_calibration": bs1_brier_calibration,
        "ct1_rank_langid": ct1_rank_langid,
        "pt1_prototype_prune": pt1_prototype_prune,
        "prf1_rm3_expansion": prf1_rm3_expansion,
        "mmr1_diversified_topk": mmr1_diversified_topk,
        "wf1_winnow_matches": wf1_winnow_matches,
        "ari1_cluster_agreement": ari1_cluster_agreement,
        "fk1_annotator_agreement": fk1_annotator_agreement,
        "mwu1_rank_sum": mwu1_rank_sum,
        "a4_guard_derive": a4_guard_derive,
        "cx1_contamination": cx1_contamination,
        "d6_simhash_portable": d6_simhash_portable,
        "d7_minhash_portable": d7_minhash_portable,
        "e1_cosine_topk": e1_cosine_topk,
        "e4_ivf_topk": e4_ivf_topk,
        "e5_ann_portable": e5_ann_portable,
        "e6_neardup_portable": e6_neardup_portable,
        "e7_kmeans": e7_kmeans,
        "f11_variant_json": f11_variant_json,
        "m1_media_metadata": m1_media_metadata,
        "pk1_token_packing": pk1_token_packing,
        "q12_late_priority": q12_late_priority,
        "sd1_semantic_dedup": sd1_semantic_dedup,
        "sh1_deterministic_shuffle": sh1_deterministic_shuffle,
        "sp2_stratified_sample": sp2_stratified_sample,
        "t2_quality_score": t2_quality_score,
        "t3_language_id": t3_language_id,
        "t4_fingerprint": t4_fingerprint,
        "t7_repetition_stats": t7_repetition_stats,
        "t8_pii_redaction": t8_pii_redaction,
        "tp2_curation_portable": tp2_curation_portable,
        "a14_grouping_sets": a14_grouping_sets,
        "a15_conditional_aggs": a15_conditional_aggs,
        "a16_group_percentiles": a16_group_percentiles,
        "ag1_ordered_string_agg": ag1_ordered_string_agg,
        "cc1_dup_clusters": cc1_dup_clusters,
        "cd1_cdc_snapshot": cd1_cdc_snapshot,
        "cl1_cluster_stats": cl1_cluster_stats,
        "cs1_centroid_similarity": cs1_centroid_similarity,
        "cv1_coverage_curve": cv1_coverage_curve,
        "d8_block_dedup": d8_block_dedup,
        "dq1_profile": dq1_profile,
        "bpe1_bpe_merges": bpe1_bpe_merges,
        "bpe2_bpe_fertility": bpe2_bpe_fertility,
        "sdd1_streaming_dedup": sdd1_streaming_dedup,
        "wp1_wordpiece_merges": wp1_wordpiece_merges,
        "kcs1_kcenter_coreset": kcs1_kcenter_coreset,
        "ssw1_streaming_sessions": ssw1_streaming_sessions,
        "rag1_context_assembly": rag1_context_assembly,
        "uni1_unigram_segments": uni1_unigram_segments,
        "q9_product_type_profit": q9_product_type_profit,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q13_customer_distribution": q13_customer_distribution,
        "s_set_ops": s_set_ops,
        "f9_string_funcs": f9_string_funcs,
        "a9_having_filter": a9_having_filter,
        "q4_order_priority": q4_order_priority,
        "q19_disjunctive": q19_disjunctive,
        "q22_global_avg_filter": q22_global_avg_filter,
        "n1_null_semantics": n1_null_semantics,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q10_returned_items": q10_returned_items,
        "q14_promo_ratio": q14_promo_ratio,
        "q18_large_volume": q18_large_volume,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q11_important_parts": q11_important_parts,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_part_count": q16_supplier_part_count,
        "q20_potential_promotion": q20_potential_promotion,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "ar1_array_funcs": ar1_array_funcs,
        "ar2_explode_wordcount": ar2_explode_wordcount,
        "w3_rank_functions": w3_rank_functions,
        "t5_regex_extract": t5_regex_extract,
        "f10_date_funcs": f10_date_funcs,
        "tj1_asof_join": tj1_asof_join,
        "tj2_range_join": tj2_range_join,
        "rl1_time_rollup": rl1_time_rollup,
        "ev_sessionize": ev_sessionize,
        "a10_distinct_agg": a10_distinct_agg,
        "a12_cube": a12_cube,
        "a13_exact_median": a13_exact_median,
        "u2_grouped_ema": u2_grouped_ema,
        "d1_exact_dedup": d1_exact_dedup,
        "d2_ngram_jaccard": d2_ngram_jaccard,
        "d5_containment": d5_containment,
        "t6_quality_filter": t6_quality_filter,
        "sp1_deterministic_split": sp1_deterministic_split,
        "t1_token_stats": t1_token_stats,
        "auc1_quality_auc": auc1_quality_auc,
        "ks1_score_ks": ks1_score_ks,
        "rb1_reliability_bins": rb1_reliability_bins,
        "ap1_average_precision": ap1_average_precision,
        "sw1_soft_dedup_weights": sw1_soft_dedup_weights,
        "ld1_l_diversity": ld1_l_diversity,
        "bd1_benford_audit": bd1_benford_audit,
        "js1_source_divergence": js1_source_divergence,
        "en1_char_entropy": en1_char_entropy,
        "fl1_readability": fl1_readability,
        "zipf1_token_zipf": zipf1_token_zipf,
        "sb1_release_scorecard": sb1_release_scorecard,
        "ndcg1_retrieval_ndcg": ndcg1_retrieval_ndcg,
        "mrr1_reciprocal_rank": mrr1_reciprocal_rank,
        "tcl1_t_closeness": tcl1_t_closeness,
        "acf1_autocorrelation": acf1_autocorrelation,
        "cpd1_change_point": cpd1_change_point,
        "hp1_heaps_law": hp1_heaps_law,
        "sv1_survival_hazard": sv1_survival_hazard,
        "e11_pq_portable": e11_pq_portable,
        "pc2_pca_portable": pc2_pca_portable,
        "p2_p3_reconcile": p2_p3_reconcile,
        "p6_p7_filters": p6_p7_filters,
        "j1_dim_join": j1_dim_join,
        "j2_multikey_join": j2_multikey_join,
        "p9_semi_join": p9_semi_join,
        "j4_anti_join": j4_anti_join,
        "a1_a6_surrogate_dim": a1_a6_surrogate_dim,
        "a2_keep_last": a2_keep_last,
        "w1_lag_diff": w1_lag_diff,
        "o1_topk": o1_topk,
        "r1_unpivot": r1_unpivot,
        "r2_pivot": r2_pivot,
        "r2_pivot_roundtrip": r2_pivot_roundtrip,
        "f1_tolerant_dates": f1_tolerant_dates,
        "f5_f6_rate_math": f5_f6_rate_math,
        "f7_unit_map": f7_unit_map,
        "f8_json_extract": f8_json_extract,
        "f12_decimal_sums": f12_decimal_sums,
        "u3_chunk_udtf": u3_chunk_udtf,
        "s4_source_classify": s4_source_classify,
        "j5_upsert_merge": j5_upsert_merge,
        "ev_window_agg": ev_window_agg,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_supplier_volume": q5_supplier_volume,
        "q17_avg_quantity_filter": q17_avg_quantity_filter,
        "a8_rollup": a8_rollup,
        "w2_window_frames": w2_window_frames,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": Q1_SQL,
        "bpe1_bpe_merges": _bpe1_sql(),
        "bpe2_bpe_fertility": _bpe2_sql(),
        "sdd1_streaming_dedup": SDD1_SQL,
        "wp1_wordpiece_merges": _wp1_sql(),
        "kcs1_kcenter_coreset": _kcs1_sql(),
        "ssw1_streaming_sessions": SSW1_SQL,
        "rag1_context_assembly": RAG1_SQL,
        "uni1_unigram_segments": _uni1_sql(),
        "uniT_unigram_em": _uniT_sql(),
        "uniT2_unigram_em_pruned": _uniT_sql(prune_schedule=(48, 32)),
        "gt1_good_turing": GT1_SQL,
        "db1_davies_bouldin": DB1_SQL,
        "sr1_spearman_quality_length": SR1_SQL,
        "cusum1_event_changepoint": CUSUM1_SQL,
        "cf1_conformal_coverage": CF1_SQL,
        "ot1_wasserstein_quality": OT1_SQL,
        "qq1_quality_deciles": QQ1_SQL,
        "eta1_quality_by_source": ETA1_SQL,
        "scs1_streaming_cusum": CUSUM1_SQL,
        # sps1 streams the daily value histogram; summed per side it
        # equals dr1's batch rollup (watermark > span), so dr1's oracle
        # is sps1's oracle (the sdd1/scs1 shared-oracle twin pattern)
        "sps1_streaming_psi": DR1_SQL,
        "mk2_mann_kendall": MK2_SQL,
        "ts2_theil_sen": TS2_SQL,
        "kp1_cohens_kappa": KP1_SQL,
        "crv1_cramers_v": CRV1_SQL,
        "kt1_kendall_tau": KT1_SQL,
        "cld1_cliffs_delta": CLD1_SQL,
        "dlg1_auc_delong_se": DLG1_SQL,
        "rbo1_rank_overlap": RBO1_SQL,
        "x13_ngram_decontamination": X13_SQL,
        "d14_quality_canonical": D14_SQL,
        "kwh1_kruskal_wallis": KWH1_SQL,
        "mcc1_matthews_corr": MCC1_SQL,
        "ca1_cochran_armitage": CA1_SQL,
        "lb1_ljung_box": LB1_SQL,
        "ccc1_lins_concordance": CCC1_SQL,
        "mcn1_mcnemar_gates": MCN1_SQL,
        "aov1_anova_f": AOV1_SQL,
        "wel1_welch_t": WEL1_SQL,
        "jt1_jonckheere": JT1_SQL,
        "dw1_durbin_watson": DW1_SQL,
        "rns1_runs_test": RNS1_SQL,
        "lev1_brown_forsythe": LEV1_SQL,
        "wsr1_weekly_shift": WSR1_SQL,
        "fr1_friedman_daytype": FR1_SQL,
        "pj1c_prefix_jaccard_capped": PJ1C_SQL,
        "uni2_unigram_fertility": _uni2_sql(),
        "jl1_random_projection": _jl1_sql(),
        "kn1_kneser_ney": KN1_SQL,
        "iso1_isotonic_calibration": ISO1_SQL,
        "bs1_brier_calibration": BS1_SQL,
        "ct1_rank_langid": CT1_SQL,
        "ct1p_rank_langid_prefix": CT1P_SQL,
        "pt1_prototype_prune": PT1_SQL,
        "prf1_rm3_expansion": PRF1_SQL,
        "mmr1_diversified_topk": MMR1_SQL,
        "wf1_winnow_matches": WF1_SQL,
        "ari1_cluster_agreement": ARI1_SQL,
        "fk1_annotator_agreement": FK1_SQL,
        "mwu1_rank_sum": MWU1_SQL,
        "p2_p3_reconcile": P2_P3_SQL,
        "p6_p7_filters": P6_P7_SQL,
        "j1_dim_join": J1_SQL,
        "j2_multikey_join": J2_SQL,
        "p9_semi_join": P9_SQL,
        "j4_anti_join": J4_SQL,
        "a1_a6_surrogate_dim": A1_A6_SQL,
        "a2_keep_last": A2_SQL,
        "w1_lag_diff": W1_SQL,
        "a4_guard_derive": A4_SQL,
        "o1_topk": O1_SQL,
        "r1_unpivot": R1_SQL,
        "r2_pivot": R2_SQL,
        "r2_pivot_roundtrip": R2_RT_SQL,
        "f1_tolerant_dates": F1_SQL,
        "f5_f6_rate_math": F5_F6_SQL,
        "f7_unit_map": F7_SQL,
        "f8_json_extract": F8_SQL,
        "f11_variant_json": F11_SQL,
        "f12_decimal_sums": F12_SQL,
        "u3_chunk_udtf": U3_SQL,
        "s4_source_classify": S4_SQL,
        "star_fact_rollup": STAR_SQL,
        "j5_upsert_merge": J5_SQL,
        "ev_window_agg": EV_WINDOW_SQL,
        "e11_pq_portable": E11_SQL,
        "pc2_pca_portable": PC2_SQL,
        "q3_shipping_priority": Q3_SQL,
        "q5_supplier_volume": Q5_SQL,
        "q17_avg_quantity_filter": Q17_SQL,
        "a8_rollup": A8_SQL,
        "w2_window_frames": W2_SQL,
        "s_set_ops": SETOPS_SQL,
        "f9_string_funcs": F9_SQL,
        "a9_having_filter": A9_SQL,
        "q4_order_priority": Q4_SQL,
        "q13_customer_distribution": Q13_SQL,
        "q19_disjunctive": Q19_SQL,
        "q22_global_avg_filter": Q22_SQL,
        "n1_null_semantics": N1_SQL,
        "q7_volume_shipping": Q7_SQL,
        "q8_market_share": Q8_SQL,
        "q10_returned_items": Q10_SQL,
        "q14_promo_ratio": Q14_SQL,
        "q18_large_volume": Q18_SQL,
        "q2_min_cost_supplier": Q2_SQL,
        "q6_forecast_revenue": Q6_SQL,
        "q9_product_type_profit": Q9_SQL,
        "q11_important_parts": Q11_SQL,
        "q12_late_priority": Q12_SQL,
        "q15_top_supplier": Q15_SQL,
        "ap1_average_precision": AP1_SQL,
        "sw1_soft_dedup_weights": SW1_SQL,
        "ld1_l_diversity": LD1_SQL,
        "bd1_benford_audit": BD1_SQL,
        "js1_source_divergence": JS1_SQL,
        "en1_char_entropy": EN1_SQL,
        "fl1_readability": FL1_SQL,
        "zipf1_token_zipf": ZIPF1_SQL,
        "sb1_release_scorecard": SB1_SQL,
        "q16_supplier_part_count": Q16_SQL,
        "q20_potential_promotion": Q20_SQL,
        "q21_waiting_suppliers": Q21_SQL,
        "ar1_array_funcs": AR1_SQL,
        "ar2_explode_wordcount": AR2_SQL,
        "w3_rank_functions": W3_SQL,
        "t5_regex_extract": T5_SQL,
        "f10_date_funcs": F10_SQL,
        "tj1_asof_join": TJ1_SQL,
        "tj2_range_join": TJ2_SQL,
        "rl1_time_rollup": RL1_SQL,
        "ev_sessionize": EV_SESSION_SQL,
        "a10_distinct_agg": A10_SQL,
        "a12_cube": A12_SQL,
        "a13_exact_median": A13_SQL,
        "u2_grouped_ema": U2_SQL,
        "sp1_deterministic_split": SP1_SQL,
        "sp2_stratified_sample": SP2_SQL,
        "e7_kmeans": E7_SQL,
        "sd1_semantic_dedup": SD1_SQL,
        "d8_block_dedup": D8_SQL,
        "cc1_dup_clusters": CC1_SQL,
        "fn1_funnel": FN1_SQL,
        "pp1_lm_fluency": PP1_SQL,
        "ts1_bm25": TS1_SQL,
        "kw1_keywords": KW1_SQL,
        "v1_vocab_topk": V1_SQL,
        "v2_bigram_merge_rank": V2_SQL,
        "cv1_coverage_curve": CV1_SQL,
        "cl1_cluster_stats": CL1_SQL,
        "ds1_domain_score": DS1_SQL,
        "qc1_quality_classifier": QC1_SQL,
        "mx1_mix_plan": MX1_SQL,
        "dq1_profile": DQ1_SQL,
        "sc1_scd2": SC1_SQL,
        "ev_hopping": EV_HOPPING_SQL,
        "w5_range_frame": W5_SQL,
        "w4_winsorize": W4_SQL,
        "sp3_domain_cap": SP3_SQL,
        "rs1_resample_ffill": RS1_SQL,
        "sk1_salted_join": SK1_SQL,
        "fz1_fuzzy_pairs": FZ1_SQL,
        "rt1_retention": RT1_SQL,
        "cd1_cdc_snapshot": CD1_SQL,
        "h1_histogram": H1_SQL,
        "dv1_constraints": DV1_SQL,
        "pp2_perplexity_buckets": PP2_SQL,
        "a14_grouping_sets": A14_SQL,
        "ag1_ordered_string_agg": AG1_SQL,
        "a15_conditional_aggs": A15_SQL,
        "dr1_drift_psi": DR1_SQL,
        "st1_grouped_stats": ST1_SQL,
        "o3_topk_per_group": O3_SQL,
        "tj3_asof_forward": TJ3_SQL,
        "mx2_mix_apply": MX2_SQL,
        "iv1_interval_overlap": IV1_SQL,
        "wt1_weighted_sample": WT1_SQL,
        "w6_rolling_distinct": W6_SQL,
        "st2_correlation": ST2_SQL,
        "st3_entropy": ST3_SQL,
        "vs1_source_overlap": VS1_SQL,
        "a16_group_percentiles": A16_SQL,
        "w7_mad_outliers": W7_SQL,
        "sk2_skew_report": SK2_SQL,
        "ix1_global_index": IX1_SQL,
        "t9_intra_dedup": T9_SQL,
        "r4_pivot_multi": R4_SQL,
        "cs1_centroid_similarity": CS1_SQL,
        "t7_repetition_stats": T7_SQL,
        "t8_pii_redaction": T8_SQL,
        "sh1_deterministic_shuffle": SH1_SQL,
        "pk1_token_packing": PK1_SQL,
        "cx1_contamination": CX1_SQL,
        "d6_simhash_portable": D6_SQL,
        "d7_minhash_portable": D7_SQL,
        "e5_ann_portable": E5_SQL,
        "e6_neardup_portable": E6_SQL,
        "tp2_curation_portable": TP2_SQL,
        # a11 (HLL sketch): rows-only by design
        "d1_exact_dedup": D1_SQL,
        "d2_ngram_jaccard": D2_SQL,
        # d3/d4/e2/e3: engine-specific hashes / approximate by design →
        # rows-only checks; exact twins are d2 (Jaccard) and e1 (cosine).
        "d5_containment": D5_SQL,
        "t6_quality_filter": T6_SQL,
        "t1_token_stats": T1_SQL,
        "t2_quality_score": T2_SQL,
        "t3_language_id": T3_SQL,
        "t4_fingerprint": T4_SQL,
        "e1_cosine_topk": E1_SQL,
        "e4_ivf_topk": E1_SQL,  # full probe == exact brute force
        "m1_media_metadata": M1_SQL,
        "qn1_percent_rank": QN1_SQL,
        "t10_gopher_gate": T10_SQL,
        "fi1_frequent_pairs": FI1_SQL,
        "pf1_top_values": PF1_SQL,
        "tc1_table_diff": TC1_SQL,
        "tj4_asof_tolerance": TJ4_SQL,
        "em1_embedding_covariance": EM1_SQL,
        "ga1_activity_islands": GA1_SQL,
        "mk1_event_transitions": MK1_SQL,
        "tw1_time_weighted_avg": TW1_SQL,
        "zo1_zorder_key": _zo1_sql(),
        "cp1_compaction_plan": CP1_SQL,
        "nv1_ngram_novelty": NV1_SQL,
        "x1_chi2_keywords": X1_SQL,
        "so1_set_ops": SO1_SQL,
        "hl2_exact_rollup": HL2_SQL,
        "h2_time_heatmap": H2_SQL,
        "ps1_supply_relation": PS1_SQL,
        "qa1_revenue_momentum": QA1_SQL,
        "t11_dup_block_rate": T11_SQL,
        "zf1_zipf_slope": ZF1_SQL,
        "a17_trimmed_mean": A17_SQL,
        "cc2_dup_hubs": CC2_SQL,
        "a18_hierarchy_share": A18_SQL,
        "o4_topk_with_ties": O4_SQL,
        "a19_group_mode": A19_SQL,
        "im1_mode_impute": IM1_SQL,
        "e8_sq_topk": E8_SQL,
        "dc1_dataset_card": DC1_SQL,
        "uq1_user_similarity": UQ1_SQL,
        "fn2_cohort_funnel": FN2_SQL,
        "a20_abc_analysis": A20_SQL,
        "tr1_triangles": TR1_SQL,
        "pr1_pagerank": PR1_SQL,
        "cm1_cms_heavyhitters": CM1_SQL,
        "tp3_repair_pipeline": TP3_SQL,
        "e10_cosine_topk_arrow": E10_SQL,
        "cal1_calendar_dim": CAL1_SQL,
        "lp1_label_propagation": LP1_SQL,
        "knn1_label_transfer": KNN1_SQL,
        "lt1_conversion_latency": LT1_SQL,
        "rc1_order_reconciliation": RC1_SQL,
        "rr1_reorder_rate": RR1_SQL,
        "un1_unicode_normalize": UN1_SQL,
        "url1_canonical_urls": URL1_SQL,
        "d9_priority_dedup": D9_SQL,
        "tm1_temperature_mix": TM1_SQL,
        "hn1_hard_negatives": HN1_SQL,
        "ir1_retrieval_report": IR1_SQL,
        "rrf1_rank_fusion": RRF1_SQL,
        "qsel1_classifier_topfrac": QSEL1_SQL,
        "cx2_split_leakage": CX2_SQL,
        "d10_incremental_dedup": D10_SQL,
        "mm1_media_similarity": MM1_SQL,
        "t12_blocklist_gate": T12_SQL,
        "u4_llm_annotate": U4_SQL,
        "ck1_table_checksum": CK1_SQL,
        "pk2_packing_report": PK2_SQL,
        "d11_minhash_calibration": D11_SQL,
        "d12_url_dedup": D12_SQL,
        "f13_map_funcs": F13_SQL,
        "tm2_temperature_apply": TM2_SQL,
        "an1_revenue_anomalies": AN1_SQL,
        "rfm1_customer_segments": RFM1_SQL,
        "fi2_association_rules": FI2_SQL,
        "tp4_release_pipeline": TP4_SQL,
        "gn1_revenue_gini": GN1_SQL,
        "ln1_lorenz_deciles": LN1_SQL,
        "cl2_cluster_keywords": CL2_SQL,
        "br1_bounce_rate": BR1_SQL,
        "dr2_quality_drift": DR2_SQL,
        "iet1_interpurchase_histogram": IET1_SQL,
        "hh1_supplier_concentration": HH1_SQL,
        "yoy1_revenue_growth": YOY1_SQL,
        "d13_dup_rate_by_source": D13_SQL,
        "stp1_streaming_ingest": STP1_SQL,
        "er1_entity_resolution": ER1_SQL,
        "ivm1_incremental_rollup": IVM1_SQL,
        "kc1_kcore": KC1_SQL,
        "pa1_top_paths": PA1_SQL,
        "hw1_holt_forecast": HW1_SQL,
        "je1_join_explosion": JE1_SQL,
        "at1_last_touch": AT1_SQL,
        "ka1_k_anonymity": KA1_SQL,
        "csd1_cluster_size_histogram": CSD1_SQL,
        "bf1_bloom_decontamination": BF1_SQL,
        "ss1_repeated_substrings": SS1_SQL,
        "bfs1_copurchase_hops": BFS1_SQL,
        "lr1_revenue_trend": LR1_SQL,
        "sj1_stream_stream_join": SJ1_SQL,
        "pj1_prefix_jaccard": PJ1_SQL,
        "sc2_pit_join": SC2_SQL,
        "pm1_pmi_collocations": PM1_SQL,
        "ss2_span_repair": SS2_SQL,
        "tp5_decontaminated_release": TP5_SQL,
        "pn1_pseudonymize": PN1_SQL,
        "auc1_quality_auc": AUC1_SQL,
        "ks1_score_ks": KS1_SQL,
        "rb1_reliability_bins": RB1_SQL,
        "ndcg1_retrieval_ndcg": NDCG1_SQL,
        "mrr1_reciprocal_rank": MRR1_SQL,
        "tcl1_t_closeness": TCL1_SQL,
        "acf1_autocorrelation": ACF1_SQL,
        "cpd1_change_point": CPD1_SQL,
        "hp1_heaps_law": HP1_SQL,
        "sv1_survival_hazard": SV1_SQL,
    }

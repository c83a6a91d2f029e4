"""Scale toolkit: plan-shape assertions for bucketing, pruning, salting.

These tests assert on the PHYSICAL PLAN, not just results — the properties
that decide whether a query survives a 100× scale-up.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_oms_spark.sources.writers import write_bucketed_table
from etl_oms_spark.util import physical_plan, salted_join


def test_filter_pushdown_and_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") >= "1997-01-01").select("l_orderkey", "l_quantity")
    plan = physical_plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: scan reads only the 3 needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate" in plan


def test_partition_pruning(spark, tmp_path):
    df = spark.range(1000).withColumn("part", (F.col("id") % 10).cast("int"))
    path = str(tmp_path / "parted")
    df.write.partitionBy("part").parquet(path)
    q = spark.read.parquet(path).filter(F.col("part") == 3)
    plan = physical_plan(q)
    assert "PartitionFilters: [isnotnull(part" in plan
    assert q.count() == 100


def test_bucketed_join_no_shuffle(spark, tmp_path):
    # tables land in the default spark-warehouse dir (gitignored)
    big1 = spark.range(10_000).withColumn("v1", F.col("id") * 2)
    big2 = spark.range(10_000).withColumn("v2", F.col("id") * 3)
    write_bucketed_table(big1, "b1", ["id"], num_buckets=8, sort_cols=["id"])
    write_bucketed_table(big2, "b2", ["id"], num_buckets=8, sort_cols=["id"])
    t1, t2 = spark.table("b1"), spark.table("b2")
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = t1.join(t2, "id")
        plan = physical_plan(joined)
        assert "Exchange" not in plan, "bucketed join must be shuffle-free"
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b1")
        spark.sql("DROP TABLE IF EXISTS b2")


def test_salted_join_correctness(spark):
    # hot key: 5000 of 5100 rows share key 1
    skewed = spark.range(5000).select(F.lit(1).alias("k"), F.col("id").alias("v")).union(
        spark.range(100).select((F.col("id") + 2).alias("k"), F.col("id").alias("v"))
    )
    dim = spark.createDataFrame([(k, f"name{k}") for k in range(1, 102)], "k long, name string")
    out = salted_join(skewed, dim, "k", salt_buckets=8)
    assert out.count() == 5100  # every row matched exactly once
    assert out.filter(F.col("k") == 1).count() == 5000
    plain = skewed.join(dim, "k")
    assert out.count() == plain.count()


def test_salted_join_left_semantics(spark):
    skewed = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    dim = spark.createDataFrame([(1, "x")], "k long, name string")
    out = salted_join(skewed, dim, "k", salt_buckets=4, how="left")
    rows = {r["k"]: r["name"] for r in out.collect()}
    assert rows == {1: "x", 2: None}


def test_parse_bytes_conf_suffixes():
    from etl_oms_spark.util import _parse_bytes_conf

    assert _parse_bytes_conf("134217728") == 134217728
    assert _parse_bytes_conf("134217728b") == 134217728
    assert _parse_bytes_conf("128m") == 128 << 20
    assert _parse_bytes_conf("128MB") == 128 << 20
    assert _parse_bytes_conf("1g") == 1 << 30
    assert _parse_bytes_conf("64k") == 64 << 10
    assert _parse_bytes_conf("garbage") is None


def test_ensure_parallelism_with_human_readable_conf(spark, sf_dir):
    from etl_oms_spark.util import ensure_parallelism

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    try:
        df = spark.read.parquet(f"{sf_dir}/nation.parquet")
        # must not raise on the human-readable conf form
        assert ensure_parallelism(df).count() == df.count()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_with_global_index_contiguous_and_deterministic(spark):
    from pyspark.sql import functions as F

    from etl_oms_spark.util import with_global_index

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(300)], "id LONG, grp LONG"
    ).repartition(11)
    out = with_global_index(df, ["grp", "id"], n_parts=5)
    rows = sorted((r["row_idx"], r["grp"], r["id"]) for r in out.collect())
    # contiguous 0..N-1
    assert [r[0] for r in rows] == list(range(300))
    # index order == total (grp, id) order
    assert rows == sorted(rows, key=lambda r: (r[1], r[2]))
    # identical on a different input partitioning
    out2 = with_global_index(df.repartition(3), ["grp", "id"], n_parts=5)
    assert sorted((r["row_idx"], r["grp"], r["id"]) for r in out2.collect()) == rows
    # no single-partition exchange of the data in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


def test_local_rows_matches_createdataframe(spark):
    """local_rows is a drop-in for tiny createDataFrame lists: same rows,
    same dtypes, but a pure-JVM literal plan — no Python-worker
    parallelize (the 32-pickled-slices boundary tax on local[32])."""
    from etl_oms_spark.util import local_rows

    rows = [
        ("a", 1, [1, 2], None),
        ("b", None, None, 2.5),
        # SQL-literal escaping hazards: quotes, backslashes, newline/tab,
        # unicode — corpus-derived tokens can contain any of these
        ("it's a \\ 'quoted'\nline\twith émojis ☃", 7, [0], 0.1),
    ]
    ddl = "k string, v long, arr array<bigint>, x double"
    ref = spark.createDataFrame(rows, ddl)
    got = local_rows(spark, rows, ddl)
    assert got.dtypes == ref.dtypes
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    # the literal path must not appear as a parallelized RDD scan
    from etl_oms_spark.util import physical_plan

    assert "Scan ExistingRDD" not in physical_plan(got)
    # empty input stays a valid empty frame
    assert local_rows(spark, [], ddl).count() == 0


def test_local_rows_large_input_falls_back(spark):
    """Past the literal cell budget local_rows must fall back to
    createDataFrame — k=1000 x dim=64 centroid frames as inline literals
    produce multi-hundred-KB plans (the kmeans_assign plan-size pin)."""
    from etl_oms_spark.util import local_rows, physical_plan

    rows = [(i, list(range(64))) for i in range(200)]
    df = local_rows(spark, rows, "cluster int, qc array<bigint>")
    assert "Scan ExistingRDD" in physical_plan(df)
    assert df.count() == 200


def test_sql_literal_control_chars_and_nonfinite(spark):
    """_sql_literal must render (not crash on) scraped-corpus hazards:
    control chars < 0x20 beyond \\n/\\r/\\t (ESC, NUL — normalize_text
    only collapses \\s, so they survive into tokens) and non-finite
    floats from degenerate training runs (ADVICE r13). Values must
    round-trip exactly vs createDataFrame."""
    import math

    from pyspark.sql import functions as F

    from etl_oms_spark.util import _sql_literal

    hazards = ["esc\x1bseq", "nul\x00byte", "bell\x07", "a\x1fb"]
    for s in hazards:
        got = spark.range(1).select(F.expr(_sql_literal(s)).alias("v")).first()["v"]
        assert got == s, repr(s)
    for v, check in [
        (float("nan"), math.isnan),
        (float("inf"), lambda x: x == float("inf")),
        (float("-inf"), lambda x: x == float("-inf")),
    ]:
        got = spark.range(1).select(F.expr(_sql_literal(v)).alias("v")).first()["v"]
        assert check(got), (v, got)
    # list branch (the bloom bitmap path) renders ints with the L suffix
    assert _sql_literal([1, 2]) == "array(1L,2L)"

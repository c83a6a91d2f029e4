"""Imputation, schema drift reporting, and plan-stats introspection."""

from __future__ import annotations

from pyspark.sql import functions as F


def _df(spark):
    return spark.createDataFrame(
        [
            ("a", 1.0, "x"), ("a", 3.0, "x"), ("a", None, None),
            ("b", 10.0, "y"), ("b", None, "z"), ("b", None, "z"),
        ],
        "g STRING, v DOUBLE, s STRING",
    )


def test_impute_mean_per_group(spark):
    from etl_oms_spark.transform import impute_columns

    got = impute_columns(_df(spark), ["v"], "mean", ["g"]).collect()
    vals = sorted((r["g"], r["v"]) for r in got)
    assert vals == [("a", 1.0), ("a", 2.0), ("a", 3.0),
                    ("b", 10.0), ("b", 10.0), ("b", 10.0)]


def test_impute_mode_and_const(spark):
    from etl_oms_spark.transform import impute_columns

    got = {(r["g"], r["v"]): r["s"]
           for r in impute_columns(_df(spark), ["s"], "mode", ["g"]).collect()}
    assert got[("a", None)] == "x"          # mode of group a
    c = impute_columns(_df(spark), ["v"], "const", fill_value=0.0)
    assert c.filter(F.col("v").isNull()).count() == 0


def test_impute_global_median(spark):
    from etl_oms_spark.transform import impute_columns

    out = impute_columns(_df(spark), ["v"], "median")
    assert out.filter(F.col("v").isNull()).count() == 0
    # all rows preserved
    assert out.count() == 6


def test_plan_stats_counts(spark, sf_dir):
    from etl_oms_spark.util import plan_stats

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    simple = df.select("l_orderkey")
    assert plan_stats(simple)["exchanges"] == 0
    grouped = df.groupBy("l_returnflag").count()
    st = plan_stats(grouped)
    assert st["exchanges"] >= 1 and st["scans"] >= 1
    # broadcast join shows a broadcast, not a shuffle of the small side
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    j = df.join(F.broadcast(n), df["l_suppkey"] == n["n_nationkey"])
    assert plan_stats(j)["broadcasts"] >= 1

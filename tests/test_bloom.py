"""Bloom-prefiltered decontamination: exactness (no false negatives,
false positives killed by the confirm join), parameter independence,
sizing rule, and Spark's own runtime bloom-filter injection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_oms_spark.operators.dedup import (
    bloom_decontamination,
    contamination_ids,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a totally unrelated document about spark shuffles"),
        (3, "quick brown fox jumps over fences all day long"),
        (4, ""),  # empty text
        (5, None),  # NULL text
        (6, "the quick brown fox jumps over the lazy dog again and again"),
        (89, "benchmark doc the quick brown fox jumps over the lazy dog"),
        (178, "benchmark two spark shuffles are expensive at scale"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _split(docs):
    bench = docs.filter(F.col("doc_id") % 89 == 0)
    corpus = docs.filter(F.col("doc_id") % 89 != 0)
    return corpus, bench


def test_bloom_matches_exact_contamination_ids(docs):
    corpus, bench = _split(docs)
    got = bloom_decontamination(corpus, bench, k=3)
    ids = {r["doc_id"] for r in got.collect()}
    want = {r["doc_id"] for r in contamination_ids(corpus, bench, k=3).collect()}
    assert ids == want
    # doc 1 and 6 share "quick brown fox" shingles with bench doc 89;
    # doc 2 shares "spark shuffles" context with 178 only at k<=2, so k=3
    # keeps it only if a full trigram matches
    assert 1 in ids and 6 in ids
    assert 4 not in ids and 5 not in ids  # empty/NULL never contaminate


def test_bloom_output_independent_of_parameters(docs):
    corpus, bench = _split(docs)
    base = sorted(
        bloom_decontamination(corpus, bench, k=3).collect(),
        key=lambda r: r["doc_id"],
    )
    for bits, hashes in ((1 << 10, 1), (1 << 12, 2), (1 << 18, 6)):
        got = sorted(
            bloom_decontamination(
                corpus, bench, k=3, num_bits=bits, num_hashes=hashes
            ).collect(),
            key=lambda r: r["doc_id"],
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in base]


def test_bloom_matched_counts_are_exact(spark):
    # doc 10 shares exactly two distinct 2-shingles with the benchmark:
    # "alpha beta" and "beta gamma"
    docs = spark.createDataFrame(
        [
            (10, "alpha beta gamma"),
            (89, "alpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    corpus, bench = _split(docs)
    rows = bloom_decontamination(corpus, bench, k=2).collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 10 and rows[0]["n_matched_shingles"] == 2


def test_spark_runtime_bloom_filter_injection(spark, sf_dir):
    """Spark's Catalyst-injected runtime bloom filter — the engine-native
    twin of bf1: with the optimizer rule enabled and thresholds lowered to
    test scale, a selective build side injects `bloom_filter_agg` /
    `might_contain` into the probe-side scan of a shuffle join."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # creation side must be UNDER this, application side scan OVER that
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1b",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_quantity").alias("qty"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan or "bloom_filter" in plan.lower(), plan[:2000]
        joined.collect()  # and it still executes correctly
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

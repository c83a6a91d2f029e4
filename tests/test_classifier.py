"""Hashed linear quality classifier semantics."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from etl_oms_spark.operators.classifier import (
    W_SCALE,
    hashed_term_counts,
    linear_scores,
    synthetic_weights,
)


def _py_bucket(term: str, n_buckets: int, salt: str = "qc") -> int:
    h = hashlib.md5(f"{salt}|{term}".encode()).hexdigest()[:15]
    return int(h, 16) % n_buckets


def test_term_bucket_matches_python_md5(spark):
    df = spark.createDataFrame([(1, "alpha beta gamma")], ["doc_id", "text"])
    rows = hashed_term_counts(df, n_buckets=64).collect()
    got = sorted(r.bucket for r in rows)
    want = sorted(_py_bucket(t, 64) for t in ["alpha", "beta", "gamma"])
    assert got == want


def test_synthetic_weights_shape_and_range(spark):
    w = synthetic_weights(spark, n_buckets=128).collect()
    assert len(w) == 128
    assert all(-10 * W_SCALE <= r.w_q <= 10 * W_SCALE for r in w)
    again = synthetic_weights(spark, n_buckets=128).collect()
    assert sorted((r.bucket, r.w_q) for r in w) == sorted(
        (r.bucket, r.w_q) for r in again
    )


def test_linear_scores_exact_sum(spark):
    df = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "")], ["doc_id", "text"]
    )
    w = synthetic_weights(spark, n_buckets=64)
    wmap = {r.bucket: r.w_q for r in w.collect()}
    rows = {r.doc_id: r for r in linear_scores(df, w, n_buckets=64).collect()}
    expect = 2 * wmap[_py_bucket("alpha", 64)] + wmap[_py_bucket("beta", 64)]
    assert rows[1].margin_q == expect
    assert rows[1].n_tokens == 3
    assert rows[1].margin == expect / W_SCALE
    # "" normalizes to a single empty token — still scored, still present
    assert rows[2].n_tokens == 1


def test_linear_scores_partitioning_invariant(spark):
    df = spark.createDataFrame(
        [(i, f"word{i % 7} word{i % 3} filler") for i in range(40)],
        ["doc_id", "text"],
    )
    w = synthetic_weights(spark, n_buckets=256)
    a = sorted((r.doc_id, r.margin_q) for r in linear_scores(df, w, 256).collect())
    b = sorted(
        (r.doc_id, r.margin_q)
        for r in linear_scores(df.repartition(11), w, 256).collect()
    )
    assert a == b

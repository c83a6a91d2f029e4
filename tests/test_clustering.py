"""k-means + semantic-dedup invariants (operators/clustering)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_oms_spark.operators.clustering import (
    SHIFT,
    kmeans_assign,
    kmeans_fit,
    semantic_dedup_pairs,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_kmeans_partitions_entire_corpus(emb):
    cents = kmeans_fit(emb, k=4, n_iter=2)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    out = kmeans_assign(emb, cents)
    n = emb.count()
    assert out.count() == n
    assert out.select("vec_id").distinct().count() == n
    clusters = {r["cluster"] for r in out.select("cluster").distinct().collect()}
    assert clusters <= set(range(4))


def test_kmeans_deterministic_and_partitioning_invariant(emb):
    c1 = kmeans_fit(emb, k=4, n_iter=2)
    c2 = kmeans_fit(emb.repartition(13), k=4, n_iter=2)
    assert c1 == c2  # exact integer math: bit-identical on any layout
    a1 = sorted(
        (r["vec_id"], r["cluster"]) for r in kmeans_assign(emb, c1).collect()
    )
    a2 = sorted(
        (r["vec_id"], r["cluster"])
        for r in kmeans_assign(emb.repartition(7), c2).collect()
    )
    assert a1 == a2


def test_kmeans_iterations_tighten_clusters(emb):
    """More Lloyd iterations never worsen total within-cluster distance."""
    def sse(n_iter):
        cents = kmeans_fit(emb, k=4, n_iter=n_iter)
        return (
            kmeans_assign(emb, cents)
            .agg(F.sum("dist2").alias("s"))
            .collect()[0]["s"]
        )

    assert sse(2) <= sse(0)


def test_kmeans_matches_numpy_reference(emb):
    """Spark's distributed Lloyd == a local NumPy run of the same exact
    integer policy (quantize+shift, half-up mean, low-cluster ties)."""
    import numpy as np

    rows = emb.orderBy("vec_id").collect()
    Q = np.array(
        [
            np.round(np.array(r["embedding"], dtype=np.float64) * 1e6).astype(np.int64)
            + SHIFT
            for r in rows
        ]
    )
    k = 4
    cents = Q[:k].copy()
    for _ in range(2):
        d = ((Q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        asg = np.argmin(d, axis=1)
        new = cents.copy()
        for c in range(k):
            m = asg == c
            if m.sum():
                s = Q[m].sum(axis=0)
                n = int(m.sum())
                new[c] = (2 * s + n) // (2 * n)
        cents = new
    spark_cents = kmeans_fit(emb, k=k, n_iter=2)
    assert [list(c) for c in cents] == spark_cents


def test_semantic_dedup_prunes_within_clusters(emb):
    pairs = semantic_dedup_pairs(emb, k=4, n_iter=1, threshold=0.3)
    got = pairs.limit(50).collect()
    assert all(r["id_a"] < r["id_b"] for r in got)
    assert all(r["cosine"] >= 0.3 for r in got)


def test_cluster_stats_consistency(emb):
    from etl_oms_spark.operators.clustering import cluster_stats

    cents = kmeans_fit(emb, k=4, n_iter=2)
    assigned = kmeans_assign(emb, cents).cache()
    stats = {r["cluster"]: r for r in cluster_stats(assigned).collect()}
    raw = assigned.collect()
    n = emb.count()
    assert sum(r["n"] for r in stats.values()) == n
    for cid, s in stats.items():
        members = [r for r in raw if r["cluster"] == cid]
        assert s["n"] == len(members)
        assert s["sum_dist2"] == sum(r["dist2"] for r in members)
        proto = min((r["dist2"], r["vec_id"]) for r in members)
        assert (s["prototype_dist2"], s["prototype_id"]) == proto
        expect_out = sum(
            1 for r in members if r["dist2"] * s["n"] > 2 * s["sum_dist2"]
        )
        assert s["n_outliers"] == expect_out
    assigned.unpersist()


def test_kmeans_assign_join_path_matches_inline(emb):
    """The broadcast-join argmin (large-k path) must reproduce the inlined
    SQL-literal assignment bit-for-bit, including dist2 and tie-breaks."""
    cents = kmeans_fit(emb, k=4, n_iter=1)
    inline = kmeans_assign(emb, cents)                       # k=4 <= INLINE_MAX_K
    joined = kmeans_assign(emb, cents, max_inline_k=0)       # force join path
    a = sorted((r["vec_id"], r["cluster"], r["dist2"]) for r in inline.collect())
    b = sorted((r["vec_id"], r["cluster"], r["dist2"]) for r in joined.collect())
    assert a == b


def test_kmeans_fit_join_path_matches_inline(emb):
    cents_inline = kmeans_fit(emb, k=4, n_iter=2)
    cents_join = kmeans_fit(emb, k=4, n_iter=2, max_inline_k=0)
    assert cents_inline == cents_join


def test_kmeans_assign_k1000_plan_bounded(emb):
    """k=1000 must not inline O(k*dim) expression text: the join-path plan
    stays small and the assignment still runs end-to-end."""
    import random

    from etl_oms_spark.operators.clustering import _centroids_df
    from etl_oms_spark.util import physical_plan

    rng = random.Random(3)
    k, dim = 1000, 64
    cents = [[SHIFT + rng.randint(-1000, 1000) for _ in range(dim)] for _ in range(k)]
    cdf = _centroids_df(emb.sparkSession, cents)
    out = kmeans_assign(emb.limit(50), cdf)
    plan = physical_plan(out)
    assert len(plan) < 100_000  # the inline form would be ~1.5 MB of literals
    rows = out.collect()
    assert len(rows) == 50
    assert all(0 <= r["cluster"] < k for r in rows)

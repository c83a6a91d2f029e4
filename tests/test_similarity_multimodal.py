"""Similarity search + multimodal plumbing."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_oms_spark.operators.multimodal import (
    decode_media_metadata,
    extract_features,
    make_fake_payload,
    with_media_column,
)
from etl_oms_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_quantized,
    cosine_topk,
    embedding_near_dup_pairs,
)


def _vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),   # opposite
        (4, [0.7, 0.7, 0.0, 0.0]),    # 45 degrees
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_quantized_exact(spark):
    df = _vectors(spark)
    out = df.select(
        cosine_quantized(F.col("embedding"), F.array([F.lit(1.0), F.lit(0.0), F.lit(0.0), F.lit(0.0)])).alias("c"),
        "vec_id",
    ).collect()
    cos = {r["vec_id"]: r["c"] for r in out}
    assert cos[0] == 1.0
    assert math.isclose(cos[4], math.cos(math.pi / 4), rel_tol=1e-6)
    assert cos[3] == -1.0


def test_cosine_topk_order_and_k(spark):
    df = _vectors(spark)
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(df, q, k=3).orderBy(F.col("cosine").desc()).collect()
    assert [r["vec_id"] for r in out] == [0, 1, 4]


def test_ann_lsh_recall_on_testdata(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=5).collect()}
    approx = {r["vec_id"] for r in ann_lsh_topk(emb, q, k=5, num_planes=2).collect()}
    # 2 planes → 4 buckets; the query's own vector is always recalled and
    # overlap with exact top-5 should be nonzero on 500 vectors
    assert 0 in approx
    assert len(exact & approx) >= 1


def test_embedding_near_dup_detects_duplicate(spark):
    df = _vectors(spark)
    dup = spark.createDataFrame([(10, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs(df.union(dup), threshold=0.999, num_planes=2)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 10) in pairs


def test_decode_media_metadata(spark):
    payloads = [(1, make_fake_payload(640, 480, 3)), (2, b"not-a-media")]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {r["doc_id"]: r["meta"] for r in decode_media_metadata(df).collect()}
    assert out[1]["width"] == 640 and out[1]["height"] == 480 and out[1]["channels"] == 3
    assert out[1]["media_type"] == "image"
    assert out[2]["media_type"] == "unknown" and out[2]["width"] is None


def test_decode_real_codec_gated_on_import(spark):
    df = spark.createDataFrame([(1, b"")], "doc_id long, payload binary")
    try:
        import PIL  # noqa: F401
    except ImportError:
        # no Pillow here → the pil decoder must fail loudly at plan time
        try:
            decode_media_metadata(df, decoder="pil")
            raise AssertionError("expected NotImplementedError")
        except NotImplementedError:
            pass
    # unknown decoders always fail loudly
    try:
        decode_media_metadata(df, decoder="ffmpeg")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_decode_pil_smoke(spark):
    """Runs only where Pillow exists (skipped in this container): a real
    PNG decodes through the SAME mapInPandas plumbing as the fake path."""
    import io

    import pytest

    pytest.importorskip("PIL")
    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (4, 3)).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, b"junk")], "doc_id long, payload binary"
    )
    out = {r["doc_id"]: r["meta"] for r in
           decode_media_metadata(df, decoder="pil").collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) == (4, 3, 3)
    assert out[1]["format"] == "png"
    assert out[2]["media_type"] == "unknown"


def test_extract_features_shape_and_determinism(spark):
    df = spark.createDataFrame(
        [(1, make_fake_payload(10, 10)), (2, make_fake_payload(10, 10))],
        "doc_id long, payload binary",
    )
    out = extract_features(df, dim=8).collect()
    feats = {r["doc_id"]: r["features"] for r in out}
    assert len(feats[1]) == 8
    assert feats[1] == feats[2]  # deterministic
    assert abs(sum(feats[1]) - 1.0) < 1e-6  # normalized histogram


def test_with_media_column_roundtrip(spark):
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    out = decode_media_metadata(with_media_column(df)).first()
    assert out["meta"]["media_type"] == "image"
    assert out["meta"]["width"] == 11  # n_chars


def test_ivf_assign_and_topk(spark, sf_dir):
    from etl_oms_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_centroids_sample,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids_sample(emb, k=8)
    assert cents.count() == 8
    assigned = ivf_assign(emb, cents)
    assert assigned.count() == emb.count()  # every vector lands in one list
    assert assigned.select("centroid_id").distinct().count() <= 8

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = ivf_topk(emb, q, cents, k=5, n_probe=3)
    ids = {r["vec_id"] for r in approx.collect()}
    assert 0 in ids  # query's own vector always recalled (it is in a probed list)
    # full-probe IVF degenerates to exact brute force
    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=5).collect()}
    full = {r["vec_id"] for r in ivf_topk(emb, q, cents, k=5, n_probe=8).collect()}
    assert full == exact


def test_ivf_centroid_seed_uses_takeordered(spark, sf_dir):
    """The deterministic centroid seed must lower to TakeOrdered (per-
    partition top-k + k-row merge), never a single-partition global sort
    of the whole vector corpus."""
    from etl_oms_spark.operators.similarity import ivf_centroids_sample
    from etl_oms_spark.util import physical_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids_sample(emb, k=8)
    plan = physical_plan(cents)
    assert "TakeOrderedAndProject" in plan
    rows = cents.collect()
    assert sorted(r["centroid_id"] for r in rows) == list(range(8))


def test_portable_lsh_bucket_deterministic(spark, sf_dir):
    """md5-derived integer hyperplanes: identical buckets on any
    partitioning, and hashlib reproduces the same plane constants the
    SQL oracle derives from md5()."""
    import hashlib

    from pyspark.sql import functions as F

    from etl_oms_spark.operators.similarity import (
        hyperplane_components,
        lsh_bucket_portable,
    )

    comps = hyperplane_components(2, 4)
    for p in range(2):
        for i in range(4):
            expect = int(hashlib.md5(f"{p}|{i}".encode()).hexdigest()[:15], 16) % 1_000_000 - 500_000
            assert comps[p][i] == expect
            assert -500_000 <= comps[p][i] < 500_000

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.select("vec_id", lsh_bucket_portable(F.col("embedding"), 64, 4).alias("b"))
    b = emb.repartition(7).select(
        "vec_id", lsh_bucket_portable(F.col("embedding"), 64, 4).alias("b")
    )
    assert {(r["vec_id"], r["b"]) for r in a.collect()} == \
           {(r["vec_id"], r["b"]) for r in b.collect()}


def test_ann_md5_requires_dim(spark, sf_dir):
    import pytest

    from etl_oms_spark.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.limit(1).selectExpr("vec_id AS query_id", "embedding")
    with pytest.raises(ValueError):
        ann_lsh_topk(emb, q, hash_method="md5")


def test_sq_topk_tracks_exact_cosine(spark, sf_dir):
    """int8 quantization must preserve the exact top-1 neighbor and keep
    high recall@5 against the float cosine path on real embeddings."""
    from etl_oms_spark.operators.similarity import cosine_topk, sq_cosine_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    sq = {(r["query_id"], r["vec_id"]) for r in sq_cosine_topk(emb, q, k=5).collect()}
    # self-match (top-1) must survive quantization
    assert {(0, 0), (1, 1)} <= sq
    # recall@5 >= 0.8 on both queries combined
    assert len(exact & sq) >= 8


def test_pq_roundtrip_and_recall(spark, sf_dir):
    """PQ codes must reconstruct with bounded distortion and ADC top-5 must
    overlap the exact float cosine top-5 (self-match always survives)."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_oms_spark.operators.similarity import (
        cosine_topk, pq_encode, pq_train, pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, m=8, k=16, sample=500)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8

    # distortion: reconstruction error well below vector norm
    rows = emb.select("vec_id", "embedding",
                      pq_encode(F.col("embedding"), books).alias("code")).limit(50).collect()
    errs, norms = [], []
    for r in rows:
        x = np.asarray(r["embedding"], dtype="float64")
        rec = np.concatenate([np.asarray(books[s][r["code"][s]]) for s in range(8)])
        errs.append(np.linalg.norm(x - rec)); norms.append(np.linalg.norm(x))
    assert np.mean(errs) < 0.8 * np.mean(norms)

    q = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    pq = {(r["query_id"], r["vec_id"]) for r in pq_topk(emb, q, books, k=5).collect()}
    assert {(0, 0), (1, 1)} <= pq  # self-match survives compression
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    assert len(exact & pq) >= 4  # recall@5 >= 0.4 at 32x compression


def test_pq_encode_partitioning_invariant(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_oms_spark.operators.similarity import pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    books = pq_train(emb, m=8, k=16, sample=100)
    a = {r["vec_id"]: r["c"] for r in emb.select(
        "vec_id", pq_encode(F.col("embedding"), books).alias("c")).collect()}
    b = {r["vec_id"]: r["c"] for r in emb.repartition(7).select(
        "vec_id", pq_encode(F.col("embedding"), books).alias("c")).collect()}
    assert a == b


def test_ivfpq_composition(spark, sf_dir):
    """IVF-PQ: probed-list pruning + code scoring must still find the
    self-match and overlap exact top-5."""
    from pyspark.sql import functions as F

    from etl_oms_spark.operators.similarity import (
        cosine_topk, ivf_centroids_sample, ivfpq_topk, pq_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids_sample(emb, k=8)
    books = pq_train(emb, m=8, k=16, sample=500)
    q = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = {(r["query_id"], r["vec_id"])
           for r in ivfpq_topk(emb, q, cents, books, k=5, n_probe=4).collect()}
    assert {(0, 0), (1, 1)} <= got
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    assert len(exact & got) >= 3


def test_cosine_topk_arrow_bit_parity_with_column_form(spark, sf_dir):
    """The Arrow/numpy physical path must return EXACTLY the column-
    algebra path's rows and cosines (shared quantization + expression)."""
    from pyspark.sql import functions as F

    from etl_oms_spark.operators.similarity import cosine_topk, cosine_topk_arrow

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    a = {(r["query_id"], r["vec_id"]): r["cosine"]
         for r in cosine_topk(emb, q, k=7).collect()}
    b = {(r["query_id"], r["vec_id"]): r["cosine"]
         for r in cosine_topk_arrow(emb, q, k=7).collect()}
    assert a == b  # exact equality, including the doubles


def test_suggest_num_planes_scale_rule():
    from etl_oms_spark.operators.similarity import suggest_num_planes

    assert suggest_num_planes(100) == 1           # fits one bucket
    assert suggest_num_planes(2_000) == 3         # 2000/256 -> 8 buckets
    assert suggest_num_planes(20_000) == 7        # 10x data -> +3-4 planes
    assert suggest_num_planes(20_000_000) == 17   # keeps occupancy ~256
    # occupancy bound: n / 2^planes <= target
    for n in (1_000, 50_000, 10**7):
        p = suggest_num_planes(n)
        assert n / (2 ** p) <= 256

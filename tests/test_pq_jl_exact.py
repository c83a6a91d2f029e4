"""Bit-exactness and construction-budget pins for the PQ and JL scorers
(similarity.pq_encode / pq_topk / ivfpq_topk / jl_project).

The golden outputs below were captured from the per-centroid unrolled
builders that preceded `_score_rows`; the one-transform form must
reproduce them bit for bit (floats compared via ``float.hex``). The
seeded fixture plants duplicate centroids and duplicate vectors so that
argmin ties (lowest code wins) and distance ties (lowest id wins) are
exercised, not just possible.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

DIM, M, K = 16, 4, 4
SUB = DIM // M
N = 24


def _fixture():
    rng = np.random.RandomState(20261017)
    vecs = rng.uniform(-1, 1, size=(N, DIM)).astype(np.float32)
    books = rng.uniform(-1, 1, size=(M, K, SUB)).astype(np.float32)
    books[:, 3, :] = books[:, 1, :]  # duplicate centroid: code 1 must win
    vecs[2, :SUB] = books[0, 1]      # exact hit on the duplicated pair
    vecs[5, SUB:2 * SUB] = books[1, 3]
    vecs[7] = vecs[4]                # duplicate vector: pq_dist ties on id
    vecs[11] = vecs[0]
    codebooks = [[[float(v) for v in c] for c in b] for b in books]
    return vecs, codebooks


def _frames(spark):
    vecs, codebooks = _fixture()
    emb = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(N)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    query = emb.filter(F.col("vec_id").isin(0, 4)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return emb, query, cents, codebooks


def _outputs(spark) -> dict:
    from etl_oms_spark.operators.similarity import (
        ivfpq_topk,
        jl_project,
        pq_encode,
        pq_topk,
    )

    emb, query, cents, books = _frames(spark)
    codes = emb.select(
        "vec_id", pq_encode(F.col("embedding"), books).alias("c")
    ).collect()
    jl = emb.select(
        "vec_id", jl_project(F.col("embedding"), DIM, m=4).alias("p")
    ).collect()

    def rows(df):
        return sorted(
            (r["query_id"], r["vec_id"], r["pq_dist"].hex()) for r in df.collect()
        )

    return {
        "codes": [list(r["c"]) for r in sorted(codes)],
        "pq_topk": rows(pq_topk(emb, query, books, k=5)),
        "ivfpq_topk": rows(ivfpq_topk(emb, query, cents, books, k=5, n_probe=2)),
        "jl": [list(r["p"]) for r in sorted(jl)],
    }


# captured from the unrolled builders (see module docstring)
GOLDEN_CODES = [[0, 2, 1, 0], [2, 1, 1, 2], [1, 1, 0, 2], [0, 1, 0, 1], [2, 0, 1, 0],
 [2, 1, 0, 2], [2, 2, 0, 2], [2, 0, 1, 0], [0, 2, 1, 1], [2, 1, 0, 0],
 [2, 2, 1, 0], [0, 2, 1, 0], [2, 2, 2, 1], [2, 0, 0, 2], [0, 2, 0, 2],
 [2, 2, 1, 2], [1, 2, 1, 1], [0, 2, 1, 0], [2, 2, 1, 2], [2, 2, 1, 2],
 [2, 2, 0, 0], [0, 2, 0, 0], [1, 0, 1, 2], [2, 2, 2, 1]]
GOLDEN_PQ_TOPK = [(0, 0, '0x1.4b23c48712462p+3'),
 (0, 10, '0x1.4b5e771f4e395p+3'),
 (0, 11, '0x1.4b23c48712462p+3'),
 (0, 17, '0x1.4b23c48712462p+3'),
 (0, 21, '0x1.4d6f1e57c77f8p+3'),
 (4, 1, '0x1.3333577b2c706p+3'),
 (4, 4, '0x1.19209173a1899p+3'),
 (4, 7, '0x1.19209173a1899p+3'),
 (4, 10, '0x1.3794a91836073p+3'),
 (4, 22, '0x1.3ad4f1d086053p+3')]
GOLDEN_IVFPQ_TOPK = [(0, 0, '0x1.4b23c48712462p+3'),
 (0, 10, '0x1.4b5e771f4e395p+3'),
 (0, 11, '0x1.4b23c48712462p+3'),
 (0, 17, '0x1.4b23c48712462p+3'),
 (0, 21, '0x1.4d6f1e57c77f8p+3'),
 (4, 0, '0x1.3e931645ce4fcp+3'),
 (4, 1, '0x1.3333577b2c706p+3'),
 (4, 4, '0x1.19209173a1899p+3'),
 (4, 7, '0x1.19209173a1899p+3'),
 (4, 10, '0x1.3794a91836073p+3')]
GOLDEN_JL = [[1015444, -556967, -2122057, 1756601], [794138, 701029, -62030, -892398],
 [-2328490, -1869381, -2633985, -812395], [-737901, -114034, 143356, 638514],
 [-1112947, -1072199, 714158, -2625108],
 [-2504805, -1636406, -209999, -3839019], [736109, -1123542, 167906, -758689],
 [-1112947, -1072199, 714158, -2625108], [2278563, -691034, 545258, 614315],
 [1197143, -1699020, 345458, 1211990], [1604566, 470823, 3744388, -308808],
 [1015444, -556967, -2122057, 1756601], [-1031425, -844986, 1365973, -884611],
 [-173031, -2675834, -1558490, 849006], [1636791, -1385206, -1201271, 394947],
 [3546962, -720377, -676538, -1070380], [-618085, 1989383, 710226, 1227542],
 [-259294, -537915, -963559, 934006], [2267227, 789136, -2432624, 2104261],
 [1539050, 2904677, 1722610, 2273116], [-78418, 200602, 58901, 996285],
 [-1423000, 82239, -279578, 1140853], [-785647, -905982, -3291433, 1423857],
 [1345093, -473157, 935125, 1640729]]


def test_pq_and_jl_outputs_match_golden_bit_for_bit(spark):
    out = _outputs(spark)
    assert out["codes"] == GOLDEN_CODES
    assert out["pq_topk"] == GOLDEN_PQ_TOPK
    assert out["ivfpq_topk"] == GOLDEN_IVFPQ_TOPK
    assert out["jl"] == GOLDEN_JL


def test_pq_encode_numpy_replay_lowest_index_ties():
    """Replay the encoder in numpy: float32 components widened to double,
    squared differences summed left to right, argmin taking the FIRST
    minimum. The fixture's duplicated centroid 3 must never win."""
    vecs, books = _fixture()
    x = vecs.astype(np.float64).reshape(N, M, 1, SUB)
    t = (x - np.asarray(books)[None]) ** 2  # (N, M, K, SUB)
    d = np.zeros(t.shape[:3])
    for j in range(SUB):
        d = d + t[..., j]
    codes = d.argmin(axis=2)
    assert codes.tolist() == GOLDEN_CODES
    assert d[2, 0, 1] == d[2, 0, 3] == 0.0 and codes[2, 0] == 1
    assert d[5, 1, 1] == d[5, 1, 3] == 0.0 and codes[5, 1] == 1
    assert not (codes == 3).any()


def test_pq_and_jl_construction_py4j_budget(spark):
    """Building e9's shape (m=8, k=16 over 64 dims) and a 16-axis JL
    projection must not unroll one Column tree per centroid/axis: the
    unrolled builders cost ~43k and ~2.8k py4j calls here."""
    from py4j.java_gateway import GatewayClient

    from etl_oms_spark.operators.similarity import jl_project, pq_topk

    rng = np.random.RandomState(5)
    emb = spark.createDataFrame(
        [(i, rng.uniform(-1, 1, 64).tolist()) for i in range(8)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    query = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = rng.uniform(-1, 1, (8, 16, 8)).tolist()
    calls = [0]
    send = GatewayClient.send_command

    def counted(self, *a, **kw):
        calls[0] += 1
        return send(self, *a, **kw)

    GatewayClient.send_command = counted
    try:
        pq_topk(emb, query, books, k=5)
        pq_calls = calls[0]
        emb.select(jl_project(F.col("embedding"), 64, m=16))
        jl_calls = calls[0] - pq_calls
    finally:
        GatewayClient.send_command = send
    assert pq_calls <= 5000, pq_calls
    assert jl_calls <= 300, jl_calls

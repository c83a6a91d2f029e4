"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN.

Embeddings are ``array<float>`` columns. Two paths:

- `cosine_topk` — exact brute force: one scan, per-row array fold
  (``zip_with`` + ``aggregate``, JVM-side), TakeOrdered top-k. The baseline
  and the correctness oracle. O(n·d) per query.
- `ann_lsh_topk` — random-hyperplane LSH: deterministic pseudo-hyperplanes
  derived from xxhash64 (no RNG state to ship), sign-bit bucket key, search
  only the query's bucket (+ optional multi-probe), exact re-rank inside.
  The 100 TB path: bucket the corpus ONCE (write bucketed/partitioned by
  ``bucket``), then each query touches 1/2^bits of the data.

Integer-quantized arithmetic (`QUANT`-scaled round → long) makes dot
products exact and therefore bit-identical across engines/partitionings —
the same determinism policy as the aggregate queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import _sql_literal, ensure_parallelism

#: quantization scale: float32 embeddings in [-1, 1] keep ~6 significant
#: digits; products stay far inside long range (64 dims × (2e6)² ≈ 2.6e14).
QUANT = 1_000_000.0


def _quant(x: Column) -> Column:
    return F.round(x.cast("double") * F.lit(QUANT)).cast("long")


def dot_quantized(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _quant(x) * _quant(y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def norm2_quantized(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: _quant(x) * _quant(x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _score_rows(vec: Column, matrix, term, zero: Column) -> Column:
    """Fold ``vec`` against every row of a matrix: ``transform(matrix,
    row -> aggregate(zip_with(vec, row, term), zero, (acc, x) -> acc +
    x))``. A Python matrix becomes ONE parsed SQL literal; a Column is an
    outer lambda's variable. Either way the fold is ONE lambda tree, so
    the build costs a fixed couple of hundred py4j calls whatever the
    row count (one unrolled fold per row cost ~170 calls each: ~43k for
    e9's 8×16 encoder plus its query tables). Per row the arithmetic is
    the unrolled form's: same ``term``, same typed ``zero``, same
    left-to-right sum, so results are bit-identical.
    """
    if not isinstance(matrix, Column):
        matrix = F.expr(_sql_literal(matrix))
    return F.transform(
        matrix,
        lambda row: F.aggregate(
            F.zip_with(vec, row, term), zero, lambda acc, x: acc + x
        ),
    )


def cosine_quantized(a: Column, b: Column) -> Column:
    """Deterministic cosine: exact integer dot / sqrt(exact norms)."""
    return dot_quantized(a, b).cast("double") / (
        F.sqrt(norm2_quantized(a).cast("double")) * F.sqrt(norm2_quantized(b).cast("double"))
    )


def _cosine_scored(
    corpus: DataFrame,
    q: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    join_on: list[str] | None = None,
) -> DataFrame:
    """(query_id, id, cosine) with norms precomputed PER VECTOR, not per
    pair — higher-order array folds run interpreted (outside codegen), so
    computing each side's norm once instead of per pair cuts the fold work
    3×. The cosine value is bit-identical: same exact-integer operands,
    same ``dot / (sqrt(na) * sqrt(nb))`` shape as the oracle SQL."""
    left = corpus.withColumn("__na", norm2_quantized(F.col(vec_col)))
    right = F.broadcast(
        q.withColumn("__nb", norm2_quantized(F.col("__qvec")))
    )
    joined = left.join(right, join_on) if join_on else left.crossJoin(right)
    return joined.select(
        F.col(query_id_col),
        F.col(id_col),
        (
            dot_quantized(F.col(vec_col), F.col("__qvec")).cast("double")
            / (
                F.sqrt(F.col("__na").cast("double"))
                * F.sqrt(F.col("__nb").cast("double"))
            )
        ).alias("cosine"),
    )


def _topk(scored: DataFrame, k: int, id_col: str, query_id_col: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        # a NULL cosine (NULL/empty/zero-norm vector) must not consume a
        # result slot — desc ordering puts NULLs last, but they still
        # surface whenever fewer than k real matches exist
        scored.filter(F.col("cosine").isNotNull())
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .drop("__rank")
    )


def cosine_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force cosine top-k per query vector.

    ``query`` is a (query_id, embedding) DataFrame — broadcast, so the big
    side streams once with no shuffle; TakeOrdered handles the top-k without
    a global sort. Ties break on id for determinism.
    """
    q = query.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    scored = _cosine_scored(
        ensure_parallelism(df, id_col), q, id_col, vec_col, query_id_col
    )
    return _topk(scored, k, id_col, query_id_col)


# ---------------------------------------------------------------------------
# LSH ANN


def _hyperplane_component(plane: int, dim_index: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    derived from xxhash64(plane, dim) — reproducible on any cluster with no
    RNG state or broadcast weights."""
    h = F.xxhash64(F.lit(plane), dim_index)
    return (F.pmod(h, F.lit(1_000_000)).cast("double") / F.lit(1_000_000.0)) - F.lit(0.5)


def suggest_num_planes(n_vectors: int, target_bucket_size: int = 256) -> int:
    """Scale rule for sign-bit LSH: planes must GROW with the corpus or
    the bucket count stays constant and candidate pairs grow
    quadratically (measured: fixed planes=4 made the cx2 pair build 33×
    super-linear on a 10× scale-up — SCALING.md). ``ceil(log2(n /
    target))`` keeps expected bucket occupancy ≈ target, so per-bucket
    self-join work is bounded and total candidates scale ~linearly.
    Recall falls as planes rise; compensate with band OR-ing (multiple
    independent bucket keys) exactly as minhash banding does."""
    import math

    if n_vectors <= target_bucket_size:
        return 1
    return max(1, math.ceil(math.log2(n_vectors / target_bucket_size)))


def lsh_bucket(vec: Column, num_planes: int = 8) -> Column:
    """Sign-bit bucket key: bit p = sign of <vec, hyperplane_p>."""
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.transform(vec, lambda _x, i: _hyperplane_component(p, i)),
                lambda x, h: x.cast("double") * h,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(0)
    return bucket


def hyperplane_components(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic integer hyperplane components in [-500000, 500000),
    derived from ``md5(f"{plane}|{dim_index}")`` — the portable seed
    policy: hashlib here, ``md5()`` in any SQL engine, same constants.
    Integer components + quantized vectors make the projection an exact
    integer sum (order-independent, bit-identical across engines)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}|{i}".encode()).hexdigest()[:15], 16)
            % 1_000_000
            - 500_000
            for i in range(dim)
        ]
        for p in range(num_planes)
    ]


def lsh_bucket_portable(vec: Column, dim: int, num_planes: int = 8) -> Column:
    """Sign-bit bucket key from md5-derived INTEGER hyperplanes: proj_p =
    Σ quant(vec_i)·comp(p,i) is an exact long sum, so the bucket is
    reproducible in any engine (`hyperplane_components`). The plane
    constants are inlined as array literals — zero per-row hashing, one
    fold per plane."""
    from ..util import let_

    arrs = [
        # one parsed literal array per plane, not dim F.lit().cast() py4j
        # round-trips (dim=64 × 8 planes ≈ 1k calls ≈ 1s of driver latency)
        F.expr("array(" + ",".join(f"{c}L" for c in comps) + ")")
        for comps in hyperplane_components(num_planes, dim)
    ]

    # let_-bind the QUANTIZED vector once per row: quantizing inside each
    # plane's fold re-runs round+cast dim×planes times per row (8× the
    # needed work at planes=8) — same exact longs, one quantize pass
    def body(qv: Column) -> Column:
        bucket = F.lit(0).cast("long")
        for p, arr in enumerate(arrs):
            proj = F.aggregate(
                F.zip_with(qv, arr, lambda x, h: x * h),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            bucket = bucket + F.when(
                proj > 0, F.shiftleft(F.lit(1).cast("long"), p)
            ).otherwise(0)
        return bucket

    return let_(F.transform(vec, _quant), body)


def ann_lsh_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    hash_method: str = "xxhash64",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank inside the query's LSH bucket.

    Recall/cost knob = ``num_planes`` (2^p buckets). At scale: persist
    ``df.withColumn("bucket", lsh_bucket(...))`` partitioned by bucket, and
    the per-query scan prunes to one partition.

    ``hash_method="md5"`` (requires ``dim``) uses the portable integer
    hyperplanes — identical buckets in any engine (the oracle variant).
    """
    if hash_method == "md5":
        if dim is None:
            raise ValueError("hash_method='md5' requires the embedding dim")
        bucket_of = lambda c: lsh_bucket_portable(c, dim, num_planes)  # noqa: E731
    else:
        bucket_of = lambda c: lsh_bucket(c, num_planes)  # noqa: E731
    corpus = ensure_parallelism(df, id_col).withColumn(
        "__bucket", bucket_of(F.col(vec_col))
    )
    q = query.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        bucket_of(F.col(vec_col)).alias("__bucket"),
    )
    scored = _cosine_scored(
        corpus, q, id_col, vec_col, query_id_col, join_on=["__bucket"]
    )
    return _topk(scored, k, id_col, query_id_col)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_method: str = "xxhash64",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup candidate pairs: LSH bucket self-join +
    exact cosine filter. The vector-space sibling of minhash_dedup.
    ``hash_method="md5"`` + ``dim`` → portable buckets (see
    `lsh_bucket_portable`)."""
    if hash_method == "md5":
        if dim is None:
            raise ValueError("hash_method='md5' requires the embedding dim")
        bucket = lsh_bucket_portable(F.col(vec_col), dim, num_planes)
    else:
        bucket = lsh_bucket(F.col(vec_col), num_planes)
    # norms precomputed PER VECTOR (the _cosine_scored trick): the
    # higher-order folds run interpreted, so folding each vector once
    # instead of once per candidate pair cuts the fold work 3× — the
    # dominant cost of the bucket self-join. Cosine stays bit-identical:
    # same exact-integer operands, same sqrt(na)·sqrt(nb) form.
    # lazy barrier: bucketed feeds BOTH sides of the bucket self-join —
    # each side re-ran the scan + the LSH projection + the quantized-norm
    # fold without it (cx2/e6/e3 showed 4 scans and double fold cost in
    # the r14 executed-plan audit). The materialization is one row per
    # vector with its embedding — the same columns the pair join must
    # move anyway; self-join sides defeat exchange reuse (the
    # winnow_match_pairs lesson, guide §2.4).
    bucketed = ensure_parallelism(df, id_col).select(
        F.col(id_col),
        F.col(vec_col),
        bucket.alias("__bucket"),
        norm2_quantized(F.col(vec_col)).alias("__n2"),
    ).localCheckpoint(eager=False)
    a = bucketed.select(
        F.col("__bucket"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__n2").alias("__na"),
    )
    b = bucketed.select(
        F.col("__bucket"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__n2").alias("__nb"),
    )
    cos = dot_quantized(F.col("__va"), F.col("__vb")).cast("double") / (
        F.sqrt(F.col("__na").cast("double")) * F.sqrt(F.col("__nb").cast("double"))
    )
    return (
        a.join(b, "__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (IVF list).

    ``centroids`` is (centroid_id, embedding) — small, broadcast. One scan
    of the corpus, argmax by exact quantized cosine, deterministic
    tie-break on centroid_id. At scale, persist the output partitioned by
    ``centroid_id``: that is the inverted file.
    """
    from pyspark.sql import Window

    c = F.broadcast(
        centroids.select(F.col("centroid_id"), F.col(vec_col).alias("__cvec"))
        .withColumn("__ncb", norm2_quantized(F.col("__cvec")))
    )
    scored = (
        ensure_parallelism(df, id_col)
        .withColumn("__nv", norm2_quantized(F.col(vec_col)))
        .crossJoin(c)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("centroid_id"),
            (
                dot_quantized(F.col(vec_col), F.col("__cvec")).cast("double")
                / (F.sqrt(F.col("__nv").cast("double")) * F.sqrt(F.col("__ncb").cast("double")))
            ).alias("__sim"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(id_col, vec_col, "centroid_id")
    )


def ivf_centroids_sample(
    df: DataFrame, k: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroid seed: the k lowest-id vectors.

    A real deployment would run k-means (or k-means||) here; the seed
    variant keeps the operator fully deterministic for oracles/tests while
    exercising the identical assign/probe machinery.

    ``orderBy(id).limit(k)`` lowers to TakeOrdered — a per-partition top-k
    then a k-row driver merge — NOT a single-partition global sort of every
    vector; the row_number window that numbers the centroids runs over the
    already-limited k rows only.
    """
    from pyspark.sql import Window

    seeds = df.select(id_col, vec_col).orderBy(id_col).limit(k)
    w = Window.orderBy(id_col)
    return (
        seeds.withColumn("centroid_id", F.row_number().over(w) - 1)
        .select("centroid_id", F.col(vec_col))
    )


def ivf_topk(
    df: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` nearest inverted lists,
    exact cosine re-rank inside.

    With the corpus pre-assigned and partitioned by ``centroid_id``, a
    query touches n_probe/k_centroids of the data. Recall knob = n_probe
    (n_probe = k_centroids → exact brute force).
    """
    from pyspark.sql import Window

    assigned = ivf_assign(df, centroids, id_col, vec_col)
    c = centroids.select(F.col("centroid_id"), F.col(vec_col).alias("__cvec"))
    q_scored = query.crossJoin(F.broadcast(c)).select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.col("centroid_id"),
        cosine_quantized(F.col(vec_col), F.col("__cvec")).alias("__sim"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.col("__sim").desc(), F.col("centroid_id"))
    probes = (
        q_scored.withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= n_probe)
        .select(query_id_col, F.col("__qvec"), "centroid_id")
    )
    scored = _cosine_scored(
        assigned, probes, id_col, vec_col, query_id_col, join_on=["centroid_id"]
    )
    return _topk(scored, k, id_col, query_id_col)


# ---------------------------------------------------------------------------
# int8 scalar quantization (memory-bound ANN path)


def scalar_quant_scales(
    df: DataFrame, vec_col: str = "embedding"
) -> list[float]:
    """Per-dimension absolute-max scales for symmetric int8 quantization:
    one posexplode + max aggregate, d rows collected (dim-bounded driver
    state, same budget class as centroids/PCA components)."""
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("i", "x"))
        .groupBy("i")
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("m"))
        .orderBy("i")
        .collect()
    )
    return [float(r["m"]) for r in rows]


def sq_encode(vec: Column, scales: list[float]) -> Column:
    """Symmetric int8 encode: ``q_i = round(x_i / s_i * 127)`` (0 where the
    dimension is constant-zero). 4× smaller than float32 — the memory-
    bound corpus representation; pure array math in one pass."""
    # ONE parsed SQL array literal, not dim F.lit py4j round trips per
    # call (round-13; the util.local_rows lesson — CAST('repr' AS DOUBLE)
    # round-trips IEEE doubles exactly)
    s = F.expr(_sql_literal([float(v) for v in scales]))
    return F.zip_with(
        vec,
        s,
        lambda x, m: F.when(m == 0.0, F.lit(0)).otherwise(
            F.round(x.cast("double") / m * F.lit(127.0)).cast("int")
        ),
    )


def sq_cosine_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scales: list[float] | None = None,
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors: integer dot
    and integer norms of the int8 codes (exact arithmetic on the codes →
    bit-identical scores cross-engine; the approximation is entirely in
    the quantization). The corpus streams once with the query side
    broadcast, same plan shape as the float path — the win is 4× smaller
    shuffle/cache footprint at identical plan cost."""
    if scales is None:
        scales = scalar_quant_scales(df, vec_col)
    q = query.select(
        F.col(query_id_col), sq_encode(F.col(vec_col), scales).alias("__qq")
    )
    corp = ensure_parallelism(df, id_col).select(
        F.col(id_col), sq_encode(F.col(vec_col), scales).alias("__cq")
    )

    def idot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    corp = corp.withColumn("__na", idot(F.col("__cq"), F.col("__cq")))
    q = F.broadcast(q.withColumn("__nb", idot(F.col("__qq"), F.col("__qq"))))
    scored = corp.crossJoin(q).select(
        query_id_col,
        id_col,
        (
            idot(F.col("__cq"), F.col("__qq")).cast("double")
            / (
                F.sqrt(F.col("__na").cast("double"))
                * F.sqrt(F.col("__nb").cast("double"))
            )
        ).alias("sq_cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sq_cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .drop("__rank")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ): codebook compression + ADC scoring


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample: int = 2048,
    iters: int = 10,
) -> "list":
    """Train PQ codebooks: split dims into ``m`` subspaces, k-means each
    on a DETERMINISTIC sample (first ``sample`` vectors by id order —
    TakeOrdered, no shuffle of the corpus; PQ codebooks are classically
    trained on a subsample since they only need the subspace density
    shape, not every point). Lloyd runs in numpy on the driver over
    sample×(d/m) — k·m·(d/m) = k·d floats of output state, the same
    dim-bounded budget class as centroids/PCA. Deterministic: sample is
    id-ordered, init takes the first k distinct rows per subspace,
    ties in assignment break toward the lower centroid index.

    Returns ``codebooks[m][k][d/m]``.
    """
    import numpy as np

    id_col = df.columns[0]
    rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    x = np.stack([np.asarray(r[vec_col], dtype="float64") for r in rows])
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = []
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        # deterministic init: first k distinct subvectors
        seen: list = []
        for row in xs:
            t = tuple(row)
            if t not in seen:
                seen.append(t)
            if len(seen) == k:
                break
        cents = np.array(seen[:k])
        if cents.shape[0] < k:  # degenerate tiny input: pad by repeat
            reps = (k + cents.shape[0] - 1) // cents.shape[0]
            cents = np.tile(cents, (reps, 1))[:k]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)  # numpy argmin: first (lowest) index wins ties
            for c in range(k):
                pts = xs[assign == c]
                if len(pts):
                    cents[c] = pts.mean(0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def _pq_dists(vec: Column, codebooks: "list") -> Column:
    """The m×k table of exact squared L2 distances from each subvector
    of ``vec`` to its subspace's centroids (``array<array<double>>``):
    the encoder's argmin input and, for a query, its ADC lookup table.
    One transform over the whole m×k×sub codebook literal."""
    sub = len(codebooks[0][0])
    books = [[[float(v) for v in c] for c in book] for book in codebooks]
    return F.transform(
        F.expr(_sql_literal(books)),
        lambda book, s: _score_rows(
            F.slice(vec, s * sub + 1, sub),
            book,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            F.lit(0.0),
        ),
    )


def pq_encode(vec: Column, codebooks: "list") -> Column:
    """Encode a vector to ``m`` int8 codes: per subspace, argmin L2 to the
    codebook centroids — pure column algebra (argmin over each row of
    the `_pq_dists` table); ties break toward the lower code
    (``array_position`` finds the first minimum), matching
    pq_train. m bytes per vector (64-dim float32 → 8 bytes = 32×)."""
    return F.transform(
        _pq_dists(vec, codebooks),
        lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
    )


def _adc_dist(m: int) -> Column:
    """ADC distance of a row's ``__code`` under a query's ``__lut``: the
    m looked-up subspace distances summed left to right."""
    dist = None
    for s in range(m):
        term = F.element_at(
            F.element_at("__lut", s + 1), F.element_at("__code", s + 1) + 1
        )
        dist = term if dist is None else dist + term
    return dist


def _nearest_k(
    scored: DataFrame, k: int, dist_col: str, id_col: str, query_id_col: str
) -> DataFrame:
    """Keep each query's ``k`` smallest distances; ties break on id."""
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.asc(dist_col), F.asc(id_col))
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .drop("__rank")
    )


def pq_topk(
    df: DataFrame,
    query: DataFrame,
    codebooks: "list",
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the corpus is scored through its
    PQ codes only — per query, a (m × k) lookup table of exact
    query-subvector→centroid distances (`_pq_dists`, the encoder's own
    distance table), and each corpus row costs m ``element_at`` lookups
    + a sum. The corpus streams once (codes can be precomputed and cached
    at 32× compression); the query table rides the broadcast. Ties break
    on id."""
    corp = ensure_parallelism(df, id_col).select(
        F.col(id_col), pq_encode(F.col(vec_col), codebooks).alias("__code")
    )
    q = F.broadcast(
        query.select(
            F.col(query_id_col), _pq_dists(F.col(vec_col), codebooks).alias("__lut")
        )
    )
    scored = corp.crossJoin(q).select(
        query_id_col, id_col, _adc_dist(len(codebooks)).alias("pq_dist")
    )
    return _nearest_k(scored, k, "pq_dist", id_col, query_id_col)


def pq_train_quantized(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    sample: int = 256,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list":
    """Integer-arithmetic PQ codebooks — ``pq_train``'s portable twin
    (the d7-for-d3 pattern: same algorithm, engine-portable arithmetic).

    Training data = the first ``sample`` vectors in id order, quantized
    to the shared shifted-integer domain (clustering.quantize_shifted);
    per subspace, Lloyd runs with exact integer squared distances,
    lowest-index tie-breaks, and exact half-up integer centroid means
    ``(2s + n) // (2n)`` — every operation is bit-reproducible in DuckDB
    SQL, which is what makes an EXACT oracle possible where pq_train's
    numpy float means cannot be replicated (summation order). Seeds are
    the first ``k`` DISTINCT subvectors in id order. The driver holds
    sample×dim longs (≤ 256×64) — the same budget class as the k·dim
    centroid state any distributed k-means must materialize.

    Returns shifted-integer ``codebooks[m][k][dim/m]``.
    """
    from .clustering import quantize_shifted

    rows = (
        df.select(F.col(id_col), quantize_shifted(F.col(vec_col)).alias("__q"))
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    xs = [list(r["__q"]) for r in rows]
    dim = len(xs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for s in range(m):
        svs = [x[s * sub : (s + 1) * sub] for x in xs]
        seen: set = set()
        cents: list = []
        for v in svs:
            t = tuple(v)
            if t not in seen:
                seen.add(t)
                cents.append(list(v))
            if len(cents) == k:
                break
        if len(cents) < k:
            raise ValueError(
                f"subspace {s}: only {len(cents)} distinct subvectors in "
                f"the {len(svs)}-row sample; need k={k}"
            )
        for _ in range(n_iter):
            sums = [[0] * sub for _ in range(k)]
            counts = [0] * k
            for v in svs:
                best_c = 0
                best_d = None
                for c in range(k):
                    cent = cents[c]
                    d2 = 0
                    for j in range(sub):
                        t = v[j] - cent[j]
                        d2 += t * t
                    if best_d is None or d2 < best_d:
                        best_d = d2
                        best_c = c
                counts[best_c] += 1
                for j in range(sub):
                    sums[best_c][j] += v[j]
            for c in range(k):
                if counts[c]:
                    cents[c] = [
                        (2 * sums[c][j] + counts[c]) // (2 * counts[c])
                        for j in range(sub)
                    ]
        books.append(cents)
    return books


def _pq_int_dist_sql(qcol: str, s: int, sub: int, cent: "list") -> str:
    """Exact integer d² between ``slice(qcol, s·sub+1, sub)`` (a
    shifted-quantized array<long> column) and an inlined centroid."""
    arr = ",".join(f"{int(v)}L" for v in cent)
    return (
        f"aggregate(zip_with(slice({qcol}, {s * sub + 1}, {sub}), "
        f"array({arr}), (x, c) -> (x - c) * (x - c)), 0L, "
        "(acc, x) -> acc + x)"
    )


def pq_topk_quantized(
    df: DataFrame,
    query: DataFrame,
    codebooks: "list",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC top-k over integer codebooks (``pq_topk``'s portable twin):
    corpus rows carry m int codes (argmin over inlined centroid
    literals, lowest-index ties — array_min over (d, c) structs), each
    query rides the broadcast with m exact-integer LUT arrays, and the
    per-row score is m ``element_at`` lookups summed into one BIGINT.
    Every distance is an exact integer, so the whole path — codes, LUTs,
    scores, (dist, id)-tie-broken top-k — is bit-reproducible in SQL."""
    from .clustering import quantize_shifted

    m = len(codebooks)
    kk = len(codebooks[0])
    sub = len(codebooks[0][0])
    corp = ensure_parallelism(df, id_col).withColumn(
        "__q", quantize_shifted(F.col(vec_col))
    )
    code_cols = []
    for s in range(m):
        structs = [
            f"named_struct('d', {_pq_int_dist_sql('__q', s, sub, codebooks[s][c])}, 'c', {c})"
            for c in range(kk)
        ]
        code_cols.append(
            F.expr(f"array_min(array({','.join(structs)}))")["c"].alias(
                f"__code{s}"
            )
        )
    corp = corp.select(F.col(id_col), *code_cols)
    qx = query.withColumn("__q", quantize_shifted(F.col(vec_col)))
    luts = [
        F.expr(
            "array("
            + ",".join(
                _pq_int_dist_sql("__q", s, sub, codebooks[s][c])
                for c in range(kk)
            )
            + ")"
        ).alias(f"__lut{s}")
        for s in range(m)
    ]
    qx = F.broadcast(qx.select(F.col(query_id_col), *luts))
    dist = None
    for s in range(m):
        term = F.element_at(F.col(f"__lut{s}"), F.col(f"__code{s}") + 1)
        dist = term if dist is None else dist + term
    scored = corp.crossJoin(qx).select(
        query_id_col, id_col, dist.alias("adc_dist2")
    )
    return _nearest_k(scored, k, "adc_dist2", id_col, query_id_col)


def ivfpq_topk(
    df: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    codebooks: "list",
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ (the FAISS-standard composition): IVF bounds WHAT is
    scanned (only the ``n_probe`` probed inverted lists), PQ bounds the
    BYTES per scanned row (8 int8 codes instead of a float vector), and
    scoring is ADC lookup-table sums. At 100 TB this is the shape that
    matters: the corpus lives as (centroid_id, code) — ~9 bytes/vector —
    partitioned by list, and a query moves only its lookup tables.

    Candidates come back by ADC distance; for production use, rerank the
    top candidates with the exact path (`cosine_topk` on the candidate
    ids) — the compose-don't-compete pattern in SCALING.md.
    """
    from pyspark.sql import Window

    assigned = ivf_assign(df, centroids, id_col, vec_col).select(
        F.col(id_col), F.col("centroid_id"),
        pq_encode(F.col(vec_col), codebooks).alias("__code"),
    )
    c = centroids.select(F.col("centroid_id"), F.col(vec_col).alias("__cvec"))
    q_scored = query.crossJoin(F.broadcast(c)).select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.col("centroid_id"),
        cosine_quantized(F.col(vec_col), F.col("__cvec")).alias("__sim"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__sim").desc(), F.col("centroid_id")
    )
    probes = (
        q_scored.withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= n_probe)
        .select(
            query_id_col,
            "centroid_id",
            _pq_dists(F.col("__qvec"), codebooks).alias("__lut"),
        )
    )
    scored = assigned.join(F.broadcast(probes), "centroid_id").select(
        query_id_col, id_col, _adc_dist(len(codebooks)).alias("pq_dist")
    )
    return _nearest_k(scored, k, "pq_dist", id_col, query_id_col)


def cosine_topk_arrow(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Arrow-vectorized twin of :func:`cosine_topk`: the higher-order
    array folds of the column form run interpreted (outside codegen);
    this path hands each Arrow batch to numpy — one int64 matmul scores
    a whole batch against ALL queries at once, then a per-batch partial
    top-k cuts the emitted rows to ≤ k per query per batch before the
    final exact top-k window.

    Bit-parity: vectors are quantized with the SAME half-away-from-zero
    integer rule and the cosine is the same ``dot / (sqrt(na)·sqrt(nb))``
    expression on exact int64 sums, so results are IDENTICAL to the
    column form and the two physical paths share one oracle (E1's SQL).
    The query matrix rides the closure (driver-side k×dim numpy array —
    the broadcast-small contract), the corpus streams once.
    """
    import numpy as np
    import pandas as pd

    q_rows = query.select(query_id_col, vec_col).collect()
    q_ids = [r[query_id_col] for r in q_rows]
    qv = np.stack([np.asarray(r[vec_col], dtype="float64") for r in q_rows]) * QUANT
    qm = (np.sign(qv) * np.floor(np.abs(qv) + 0.5)).astype("int64")
    qnorm = np.sqrt((qm * qm).sum(axis=1).astype("float64"))

    schema = f"{query_id_col} long, {id_col} long, cosine double"

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype("float64") * QUANT
            m = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64")
            na = np.sqrt((m * m).sum(axis=1).astype("float64"))
            dots = m @ qm.T  # exact int64
            cos = dots.astype("float64") / (na[:, None] * qnorm[None, :])
            ids = pdf[id_col].to_numpy()
            out = []
            for qi, qid in enumerate(q_ids):
                col = cos[:, qi]
                take = min(k, len(col))
                top = np.argpartition(-col, take - 1)[:take]
                out.append(
                    pd.DataFrame(
                        {
                            query_id_col: qid,
                            id_col: ids[top],
                            "cosine": col[top],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partials = ensure_parallelism(df, id_col).select(id_col, vec_col).mapInPandas(
        score, schema
    )
    return _topk(partials, k, id_col, query_id_col)


# ---------------------------------------------------------------------------
# contrastive mining + retrieval evaluation


def hard_negatives(
    df: DataFrame,
    query: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Contrastive hard-negative mining: per query vector, the top-k most
    cosine-similar corpus items whose label DIFFERS from the query's —
    the negatives that sit closest to the decision boundary, the standard
    selection for embedding-model contrastive training (in-batch randoms
    are too easy).

    Same physical shape as `cosine_topk`: queries broadcast with their
    labels, corpus streams once (norms precomputed per vector, not per
    pair), label-mismatch filter runs before the rank window so positives
    never enter the top-k state. Ties break on id.
    """
    q = F.broadcast(
        query.select(
            F.col(query_id_col),
            F.col(label_col).alias("__qlabel"),
            F.col(vec_col).alias("__qvec"),
        ).withColumn("__nb", norm2_quantized(F.col("__qvec")))
    )
    left = ensure_parallelism(df, id_col).withColumn(
        "__na", norm2_quantized(F.col(vec_col))
    )
    scored = (
        left.crossJoin(q)
        .filter(F.col(label_col) != F.col("__qlabel"))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.col(label_col),
            (
                dot_quantized(F.col(vec_col), F.col("__qvec")).cast("double")
                / (
                    F.sqrt(F.col("__na").cast("double"))
                    * F.sqrt(F.col("__nb").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    return _topk(scored, k, id_col, query_id_col)


def retrieval_report(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    rr_scale: int = 1_000_000_000,
) -> DataFrame:
    """Label-based retrieval evaluation of the exact cosine ranking: per
    query, hits@k / precision@k / recall@k / reciprocal rank, where an
    item is relevant iff it shares the query's label — the standard
    offline quality gate for an embedding index (run it on the IVF/LSH
    variant vs this exact baseline to measure recall loss).

    All metrics derive from exact integers: ranks come from the
    deterministic (cosine DESC, id) order; the reciprocal rank is
    quantized ``round(rr_scale / first_hit_rank)`` so downstream mean-RR
    aggregation stays order-independent. first_hit_rank is 0 when no
    relevant item lands in the top k. Corpus streams once; the per-label
    relevant-count side is a labels-sized broadcast.
    """
    q = query.select(
        F.col(query_id_col),
        F.col(label_col).alias("__qlabel"),
        F.col(vec_col).alias("__qvec"),
    )
    left = ensure_parallelism(df, id_col).withColumn(
        "__na", norm2_quantized(F.col(vec_col))
    )
    scored = left.crossJoin(
        F.broadcast(q.withColumn("__nb", norm2_quantized(F.col("__qvec"))))
    ).select(
        F.col(query_id_col),
        F.col("__qlabel"),
        F.col(id_col),
        F.col(label_col),
        (
            dot_quantized(F.col(vec_col), F.col("__qvec")).cast("double")
            / (
                F.sqrt(F.col("__na").cast("double"))
                * F.sqrt(F.col("__nb").cast("double"))
            )
        ).alias("cosine"),
    )
    topk = _topk(scored, k, id_col, query_id_col)
    rel = F.col(label_col) == F.col("__qlabel")
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    ranked = topk.withColumn("__rank", F.row_number().over(w))
    per_label = F.broadcast(
        df.groupBy(label_col).agg(F.count(F.lit(1)).alias("__n_label"))
    )
    agg = ranked.groupBy(query_id_col, "__qlabel").agg(
        F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("hits_at_k"),
        F.coalesce(
            F.min(F.when(rel, F.col("__rank"))), F.lit(0)
        ).cast("long").alias("first_hit_rank"),
    )
    # LEFT join: a probe whose label has no corpus representative must
    # still report (n_relevant 0, recall 0), not silently vanish
    return (
        agg.join(per_label, agg["__qlabel"] == per_label[label_col], "left")
        .select(
            F.col(query_id_col),
            F.col("__qlabel").alias(label_col),
            F.coalesce(F.col("__n_label"), F.lit(0))
            .cast("long")
            .alias("n_relevant"),
            F.col("hits_at_k"),
            (F.col("hits_at_k").cast("double") / F.lit(float(k))).alias(
                "precision_at_k"
            ),
            F.when(
                F.coalesce(F.col("__n_label"), F.lit(0)) > 0,
                F.col("hits_at_k").cast("double")
                / F.col("__n_label").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall_at_k"),
            F.col("first_hit_rank"),
            F.when(F.col("first_hit_rank") > 0,
                   F.round(F.lit(float(rr_scale)) / F.col("first_hit_rank"))
                   .cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("rr_q"),
        )
        .withColumn("rr", F.col("rr_q").cast("double") / F.lit(float(rr_scale)))
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection

#: JL contract constants (shared with the jl1 oracle): vectors quantize
#: at 1e3 (coarser than QUANT on purpose — the 16-dim projected dot
#: product of 64-term sums must stay inside BIGINT under ANSI mode:
#: |y_k| <= 64·1e3·1e3 = 6.4e7, dot <= 16·(6.4e7)^2 ≈ 6.6e16 < 2^63),
#: and projection components are md5-derived ints in [-1000, 1000).
JL_QUANT = 1000
JL_COMP_SCALE = 1000


def jl_components(m: int, dim: int, scale: int = JL_COMP_SCALE) -> list[list[int]]:
    """Deterministic JL projection matrix: component (k, i) derived from
    ``md5(f"jl|{k}|{i}")`` — the `hyperplane_components` portable seed
    policy with an independent namespace. Bounded iid-ish integer
    entries give the same distance-preservation guarantee as Gaussian
    JL (Achlioptas 2003 shows even ±1 suffices); integer entries keep
    every projected coordinate an exact long."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"jl|{k}|{i}".encode()).hexdigest()[:15], 16)
            % (2 * scale)
            - scale
            for i in range(dim)
        ]
        for k in range(m)
    ]


def jl_project(vec: Column, dim: int, m: int = 16) -> Column:
    """Project a float embedding onto ``m`` JL axes as an exact
    ``array<long>``: y_k = Σ_i round(x_i·1e3)·c(k,i). The m×dim
    component matrix is one inlined literal folded by `_score_rows` (the
    `lsh_bucket_portable` pattern — zero per-row hashing), all folds
    JVM-side; reproducible on any engine."""
    from ..util import let_

    # let_-bind the quantized vector once: quantizing inside each axis
    # fold re-runs round+cast dim×m times per row (16× the needed work
    # at m=16) — same exact longs, one quantize pass
    return let_(
        F.transform(
            vec,
            lambda x: F.round(
                x.cast("double") * F.lit(float(JL_QUANT))
            ).cast("long"),
        ),
        lambda qv: _score_rows(
            qv, jl_components(m, dim), lambda x, h: x * h, F.lit(0).cast("long")
        ),
    )


def jl_recall_report(
    df: DataFrame,
    query_ids: list[int],
    m: int = 16,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dimensionality-reduction quality report: for each query vector,
    exact cosine top-k in FULL space vs top-k in the m-dim JL-projected
    space, with the overlap count (recall@k) — the measurement that
    decides whether a 100 TB ANN/clustering pipeline can run on 4×
    smaller vectors. Full-space ranking reuses the e1 machinery
    (quantized integer dot + double cosine); projected ranking runs the
    identical shape on the exact long projections. Corpus scanned
    twice, queries broadcast, top-k via per-query windows over
    k-bounded frames — no corpus shuffle beyond the two TakeOrdered
    tops.

    Returns per query: ``query_id, recall_at_k`` (long),
    ``full_top`` / ``proj_top`` (comma-joined id strings in rank
    order — scalarized for the driver-contract hash)."""
    from pyspark.sql import Window

    q = df.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col)
    )
    full = cosine_topk(df, q, k=k, id_col=id_col, vec_col=vec_col)

    proj = df.select(
        F.col(id_col), jl_project(F.col(vec_col), dim, m).alias("__p")
    )
    pq = F.broadcast(
        proj.filter(F.col(id_col).isin(*query_ids)).select(
            F.col(id_col).alias("query_id"), F.col("__p").alias("__q")
        ).withColumn(
            "__nb",
            F.aggregate(
                F.transform(F.col("__q"), lambda x: x * x),
                F.lit(0).cast("long"),
                lambda a, b: a + b,
            ),
        )
    )
    scored = (
        proj.withColumn(
            "__na",
            F.aggregate(
                F.transform(F.col("__p"), lambda x: x * x),
                F.lit(0).cast("long"),
                lambda a, b: a + b,
            ),
        )
        .crossJoin(pq)
        .select(
            "query_id",
            F.col(id_col),
            (
                F.aggregate(
                    F.zip_with(F.col("__p"), F.col("__q"), lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda a, b: a + b,
                ).cast("double")
                / (
                    F.sqrt(F.col("__na").cast("double"))
                    * F.sqrt(F.col("__nb").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    ptop = (
        scored.filter(F.col("cosine").isNotNull())
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
    )

    def ranked_ids(topdf: DataFrame, rank_col: str) -> DataFrame:
        return topdf.groupBy("query_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(rank_col), F.col(id_col)))
                    ),
                    lambda s: s[id_col].cast("string"),
                ),
                ",",
            ).alias("ids"),
            F.collect_set(F.col(id_col)).alias("idset"),
        )

    # same spec as `w` on purpose: the full-space and projected-space
    # rankings must share one tie order
    full_r = full.withColumn("__rank", F.row_number().over(w))
    f = ranked_ids(full_r, "__rank").select(
        "query_id",
        F.col("ids").alias("full_top"),
        F.col("idset").alias("__fset"),
    )
    p = ranked_ids(ptop, "__rank").select(
        "query_id",
        F.col("ids").alias("proj_top"),
        F.col("idset").alias("__pset"),
    )
    return (
        f.join(p, "query_id")
        .select(
            "query_id",
            F.size(F.array_intersect("__fset", "__pset"))
            .cast("long")
            .alias("recall_at_k"),
            "full_top",
            "proj_top",
        )
        .orderBy("query_id")
    )


def mmr_topk(
    df: DataFrame,
    query: DataFrame,
    k_cand: int = 8,
    k_select: int = 4,
    lam_tenths: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (public: Carbonell
    & Goldstein 1998, SIGIR) — re-rank each query's top-``k_cand``
    cosine candidates into ``k_select`` picks that trade relevance
    against redundancy:

        MMR = argmax_c [ λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) ]

    All scores are 1e-9-quantized integers (rel_q9/sim_q9 =
    floor(cosine·1e9 + 0.5) from the exact-integer dot/norm operands),
    so with λ in tenths the objective is pure integer algebra —
    ``lam·rel_q9 − (10−lam)·msim_q9`` — and every argmax (score DESC,
    id ASC) is bit-identical on any engine. Round 1 has an empty
    selected set: its MMR is defined as ``lam·rel_q9``.

    Scale shape (ADVICE r10 — stated precisely): the corpus is SCANNED
    twice but shuffled narrow and only once. The relevance pass
    (broadcast query cross-join → per-query top-k_cand window) sends
    only (query_id, id, rel_q9) through the rank exchange; the
    ≤ |queries|·k_cand winners then fetch their embedding vectors via a
    second, broadcast-hash join back to the source scan — map-side, no
    corpus shuffle. That is the deliberate trade: carrying the wide
    vector column through the corpus-sized rank exchange would multiply
    the one unavoidable shuffle's width by the embedding size, while a
    second columnar scan joined against a broadcast candidate set costs
    only IO (and prunes to the two needed columns). Everything after —
    pairwise sims among candidates (≤ k_cand² per query) and the
    k_select−1 unrolled selection rounds — runs on
    |queries|·k_cand-bounded frames behind lazy-checkpoint barriers
    (graph.py's lineage-truncation pattern), so the selection never
    re-shuffles the corpus.

    Returns (query_id, rank, id, rel_q9, mmr_q9) ordered by
    (query_id, rank).
    """
    from pyspark.sql import Window

    lam = int(lam_tenths)
    q = query.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    rel = _cosine_scored(
        ensure_parallelism(df, id_col), q, id_col, vec_col, query_id_col
    )
    rel_q = F.floor(F.col("cosine") * F.lit(1e9) + F.lit(0.5)).cast("long")
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("rel_q9"), F.asc(id_col)
    )
    cand = (
        rel.filter(F.col("cosine").isNotNull())
        .select(query_id_col, id_col, rel_q.alias("rel_q9"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_cand)
        .drop("rn")
        .join(df.select(F.col(id_col), F.col(vec_col)), id_col)
        .localCheckpoint(eager=False)
    )
    a = cand.select(
        F.col(query_id_col),
        F.col(id_col).alias("__ca"),
        F.col(vec_col).alias("__va"),
    )
    b = cand.select(
        F.col(query_id_col),
        F.col(id_col).alias("__cb"),
        F.col(vec_col).alias("__vb"),
    )
    sims = (
        a.join(b, query_id_col)
        .filter(F.col("__ca") != F.col("__cb"))
        .select(
            query_id_col,
            "__ca",
            "__cb",
            F.floor(
                cosine_quantized(F.col("__va"), F.col("__vb")) * F.lit(1e9)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("sim_q9"),
        )
        .localCheckpoint(eager=False)
    )
    pick_w = Window.partitionBy(query_id_col).orderBy(
        F.desc("mmr_q9"), F.asc(id_col)
    )
    selected = (
        cand.select(
            query_id_col,
            id_col,
            "rel_q9",
            (F.lit(lam) * F.col("rel_q9")).alias("mmr_q9"),
        )
        .withColumn("rn", F.row_number().over(pick_w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("rank", F.lit(1))
        .localCheckpoint(eager=False)
    )
    for t in range(2, k_select + 1):
        remaining = cand.join(
            selected.select(query_id_col, id_col),
            [query_id_col, id_col],
            "left_anti",
        )
        ms = (
            sims.join(
                selected.select(
                    query_id_col, F.col(id_col).alias("__cb")
                ),
                [query_id_col, "__cb"],
            )
            .groupBy(query_id_col, "__ca")
            .agg(F.max("sim_q9").alias("msim"))
            .withColumnRenamed("__ca", id_col)
        )
        pick = (
            remaining.join(ms, [query_id_col, id_col])
            .select(
                query_id_col,
                id_col,
                "rel_q9",
                (
                    F.lit(lam) * F.col("rel_q9")
                    - F.lit(10 - lam) * F.col("msim")
                ).alias("mmr_q9"),
            )
            .withColumn("rn", F.row_number().over(pick_w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .withColumn("rank", F.lit(t))
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected.select(
        query_id_col,
        F.col("rank").cast("int").alias("rank"),
        id_col,
        "rel_q9",
        "mmr_q9",
    ).orderBy(query_id_col, "rank")

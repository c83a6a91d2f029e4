"""Embedding clustering for data curation: Lloyd k-means + SemDeDup-style
semantic dedup.

The reference has no clustering (its similarity surface is pandas row
loops); this is the Spark-native embedding-curation layer a training-data
pipeline needs: cluster the corpus, then prune near-duplicates WITHIN
clusters (SemDeDup) so the pair search is Σ cluster² instead of n².

Determinism policy (same as operators/similarity.py): all per-vector
arithmetic is exact integer — components are quantized with
``round(x * 1e6)`` and SHIFTED non-negative, distances are exact long
sums, and the centroid update is an exact half-up integer division
``(2·s + n) // (2·n)``. Every engine (Spark, DuckDB, Python) recomputes
bit-identical centroids and assignments from the same data, which is what
makes the DuckDB oracle for the e7/sd1 queries exact rather than
rows-only.

Scale shape per Lloyd iteration:
- assignment: one corpus scan; the k quantized centroids are inlined as
  array literals (driver-held, k·dim longs — broadcast-scale, the same
  thing MLlib ships to executors), argmin via an array_min over
  (distance, cluster) structs — deterministic low-cluster tie-break.
- update: posexplode to (cluster, dim, component) with map-side partial
  sums — the shuffle carries only k·dim partial rows per task, never the
  corpus; the k·dim summed components collect to the driver (tiny).
Empty clusters keep their previous centroid (standard Lloyd handling).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import ensure_parallelism, local_rows
from .similarity import QUANT

#: shift added to quantized components so centroid-update division stays in
#: the non-negative domain, where Spark, DuckDB and Python integer division
#: agree (negative-operand rounding differs between engines).
SHIFT = 1_000_000


def quantize_shifted(vec: Column, shift: int = SHIFT) -> Column:
    """array<long>: round(x · 1e6) + shift per component (non-negative for
    embeddings with |x| ≤ shift/1e6)."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * F.lit(QUANT)).cast("long") + F.lit(shift)
    )


def _argmin_struct(qcol_name: str, centroids: list[list[int]]) -> Column:
    """(d, c) struct of the nearest centroid for the quantized vector column
    named ``qcol_name``; ties break to the LOWEST cluster id (array_min over
    (dist, cluster) structs — struct ordering is lexicographic, so equal
    distances compare on the id).

    Built as ONE SQL string with the k·dim centroid components inlined as
    array literals: the Column-API form (k·dim F.lit().cast() calls) costs
    ~0.5s of py4j round-trips per construction at k=8·dim=64, paid once per
    Lloyd iteration — parsing a 4 KB SQL string JVM-side is milliseconds."""
    structs = []
    for i, c in enumerate(centroids):
        arr = ",".join(f"{int(v)}L" for v in c)
        dist = (
            f"aggregate(zip_with({qcol_name}, array({arr}), "
            "(x, c) -> (x - c) * (x - c)), 0L, (acc, x) -> acc + x)"
        )
        structs.append(f"named_struct('d', {dist}, 'c', {i})")
    return F.expr(f"array_min(array({','.join(structs)}))")


#: largest k whose centroids are inlined as SQL array literals. The inline
#: form is one codegen'd projection (no row replication) but its expression
#: text is O(k·dim) — at SemDeDup scale (k ≈ 10k–100k, SCALING.md) a
#: multi-megabyte expression breaks analysis/codegen. Past this bound the
#: assignment switches to the broadcast-join lowering.
INLINE_MAX_K = 64


def _centroids_df(spark, centroids: list[list[int]]) -> DataFrame:
    """(cluster, __qc) frame from driver-held quantized centroids."""
    return local_rows(
        spark,
        [(i, [int(v) for v in c]) for i, c in enumerate(centroids)],
        "cluster INT, __qc ARRAY<BIGINT>",
    )


def _assign_join(qdf: DataFrame, centroids, carry: list[str], id_col: str) -> DataFrame:
    """Broadcast-join argmin: replicate each vector against the k broadcast
    centroids, exact integer dist2 per pair, then ``min(struct(d, c))`` per
    vector. Map-side partial aggregation collapses the k rows per vector
    BEFORE the shuffle (all replicas of a vector sit in one task under a
    broadcast join), so the exchange carries one row per vector — same
    bytes as the corpus, independent of k. Expression text is O(1) in k.

    ``centroids`` is a (cluster, __qc array<bigint>) DataFrame or a
    driver-held list; ``carry`` columns ride along via ``first`` (constant
    within a vector's replica group). Ties break to the lowest cluster id,
    identical to the inline ``array_min`` form.
    """
    cdf = (
        centroids
        if isinstance(centroids, DataFrame)
        else _centroids_df(qdf.sparkSession, centroids)
    )
    dist = F.aggregate(
        F.zip_with(F.col("__q"), F.col("__qc"), lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = qdf.crossJoin(F.broadcast(cdf)).select(
        F.col(id_col),
        *carry,
        F.struct(dist.alias("d"), F.col("cluster").alias("c")).alias("__dc"),
    )
    return pairs.groupBy(id_col).agg(
        F.min("__dc").alias("__best"),
        *[F.first(c).alias(c) for c in carry],
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_inline_k: int = INLINE_MAX_K,
) -> list[list[int]]:
    """Lloyd k-means over quantized embeddings; returns the final quantized
    (shifted) centroids as driver-held lists.

    Seed = the k lowest-id vectors (TakeOrdered — deterministic, no global
    sort); then ``n_iter`` iterations of assign → per-cluster exact integer
    mean. The only driver-side data is k·dim longs per iteration — the
    centroid set itself, which any distributed k-means must materialize to
    broadcast the next round (MLlib's collectAsMap does the same).
    """
    qdf = (
        ensure_parallelism(df, id_col)
        .select(F.col(id_col), quantize_shifted(F.col(vec_col)).alias("__q"))
    )
    # every iteration re-reads the quantized corpus: persist it once so
    # Lloyd pays one parquet scan + quantize, not n_iter+1 of them
    # (MEMORY_AND_DISK spill-safe default; freed before returning)
    qdf = qdf.persist()
    seeds = qdf.orderBy(id_col).limit(k).collect()
    centroids = [list(r["__q"]) for r in seeds]
    dim = len(centroids[0])
    for _ in range(n_iter):
        if k <= max_inline_k:
            assigned = qdf.select(
                F.col("__q"), _argmin_struct("__q", centroids)["c"].alias("cluster")
            )
        else:
            assigned = _assign_join(qdf, centroids, ["__q"], id_col).select(
                F.col("__q"), F.col("__best")["c"].alias("cluster")
            )
        sums = (
            assigned.select(
                F.col("cluster"), F.posexplode(F.col("__q")).alias("j", "v")
            )
            .groupBy("cluster", "j")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty cluster → keep
        by_cluster: dict[int, list[tuple[int, int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster"], []).append((r["j"], r["s"], r["n"]))
        for cid, rows in by_cluster.items():
            vec = [0] * dim
            for j, s, n in rows:
                vec[j] = (2 * s + n) // (2 * n)  # exact half-up mean
            new_centroids[cid] = vec
        centroids = new_centroids
    qdf.unpersist()
    return centroids


def kmeans_assign(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_inline_k: int = INLINE_MAX_K,
) -> DataFrame:
    """(id, embedding, cluster, dist2): nearest final centroid per vector.

    ``centroids`` may be a driver-held list (k ≤ ``max_inline_k`` →
    inlined as SQL literals: one codegen'd scan, no shuffle) or a
    (cluster, __qc) DataFrame / larger list (→ broadcast-join argmin with
    O(1)-in-k expression text; one map-side-combined exchange of one row
    per vector). Both lowerings produce identical assignments (exact
    integer dist2, lowest-cluster tie-break). At scale, persist the result
    partitioned by ``cluster``: that is the semantic shard layout."""
    qdf = ensure_parallelism(df, id_col).withColumn(
        "__q", quantize_shifted(F.col(vec_col))
    )
    if not isinstance(centroids, DataFrame) and len(centroids) <= max_inline_k:
        best = _argmin_struct("__q", centroids)
        return qdf.select(
            F.col(id_col),
            F.col(vec_col),
            best["c"].alias("cluster"),
            best["d"].alias("dist2"),
        )
    out = _assign_join(qdf, centroids, [vec_col], id_col)
    return out.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__best")["c"].alias("cluster"),
        F.col("__best")["d"].alias("dist2"),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style near-dup pairs: k-means cluster the corpus, then
    exact quantized cosine over pairs WITHIN each cluster only.

    (id_a, id_b, cluster, cosine) with id_a < id_b and cosine ≥ threshold.
    The cluster equi-join bounds pair generation at Σ cluster² — the
    semantic analogue of LSH bucketing, but with tunable k and data-adaptive
    boundaries.

    Per-pair work is ONE integer dot fold: each vector is quantized and its
    norm² computed ONCE before the self-join (higher-order array folds run
    interpreted, so hoisting the per-side quantize+norm out of the O(Σc²)
    pair stage cuts the fold work ~4× — same move as similarity's
    `_cosine_scored`). The cosine is bit-identical to `cosine_quantized`:
    identical integer operands, identical ``dot / (sqrt·sqrt)`` shape.
    """
    from .similarity import _quant, dot_quantized, norm2_quantized

    cents = kmeans_fit(df, k, n_iter, id_col, vec_col)
    assigned = kmeans_assign(df, cents, id_col, vec_col)
    # lazy barrier: quantized feeds BOTH sides of the within-cluster pair
    # join — each side re-ran the scan + k-way argmin + quantize/norm
    # folds without it (round-13); at scale persisting the assignment is
    # the documented posture (kmeans_assign docstring)
    quantized = assigned.select(
        F.col("cluster"),
        F.col(id_col),
        F.transform(F.col(vec_col), _quant).alias("__qv"),
        norm2_quantized(F.col(vec_col)).alias("__n2"),
    ).localCheckpoint(eager=False)
    a = quantized.select(
        F.col("cluster"), F.col(id_col).alias("id_a"),
        F.col("__qv").alias("__qa"), F.col("__n2").alias("__na"),
    )
    b = quantized.select(
        F.col("cluster"), F.col(id_col).alias("id_b"),
        F.col("__qv").alias("__qb"), F.col("__n2").alias("__nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("__qa"), F.col("__qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "cluster",
            (
                dot.cast("double")
                / (
                    F.sqrt(F.col("__na").cast("double"))
                    * F.sqrt(F.col("__nb").cast("double"))
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cluster_stats(
    assigned: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cluster diagnostics over a `kmeans_assign` result: size, exact
    dist2 sum, the prototype (min-dist2 member, id tie-break — the
    cluster's most representative vector, cf. SemDeDup's keep-policy),
    and how many members the `2× mean dist2` outlier rule would prune.

    The outlier test is exact integer algebra — ``dist2 · n > 2 · Σdist2``
    avoids the mean's division entirely — so every engine agrees
    bit-for-bit. One map-side-combined groupBy(cluster); k rows out.

    ANSI overflow bound: worst-case quantized dist2 ≈ 2.6e14 (64 dims,
    |x| ≤ 1), so ``dist2 · n`` stays in BIGINT for clusters up to ~3.5e4
    members at worst-case spread (far larger for realistic dist2 ≈ 1e12).
    Past that, recast the two products to DECIMAL(38,0) — still exact.
    """
    # lazy barrier: assigned feeds both the per-cluster rollup and the
    # outlier re-scan (round-13; 2 scan+argmin passes -> 1)
    assigned = assigned.localCheckpoint(eager=False)
    per = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dist2").alias("sum_dist2"),
        F.min(F.struct(F.col("dist2").alias("d"), F.col(id_col).alias("i"))).alias(
            "__p"
        ),
    )
    outliers = (
        assigned.join(F.broadcast(per.select("cluster", "n", "sum_dist2")), "cluster")
        .filter(F.col("dist2") * F.col("n") > F.lit(2) * F.col("sum_dist2"))
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        per.join(outliers, "cluster", "left")
        .select(
            "cluster",
            F.col("n").cast("long").alias("n"),
            F.col("sum_dist2").cast("long").alias("sum_dist2"),
            F.col("__p.i").alias("prototype_id"),
            F.col("__p.d").cast("long").alias("prototype_dist2"),
            F.coalesce(F.col("n_outliers"), F.lit(0)).cast("long").alias("n_outliers"),
        )
    )


def label_centroid_similarity(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Pairwise cosine similarity between LABEL CENTROIDS — the
    class-separation diagnostic (SemDeDup-adjacent: near-identical
    centroids flag redundant label groups; orthogonal ones, clean
    separation).

    Exactness discipline: float centroids summed in partition order are
    not reproducible, so components are quantized to integers
    (``round(x·scale)``) and summed as BIGINTs via posexplode →
    groupBy(label, dim) — labels×dims-sized, order-independent. Cosine
    then needs only BIGINT dot products of the per-label sum vectors
    (cos of the sum is cos of the mean — the 1/n factors cancel), so
    every double in the output is one IEEE op on exact integers.
    ``scale`` bounds the products: |Σq| ≤ n·|x|max·scale must stay
    under 2^63/ (dims·|Σq|) — scale 1e3 holds through sf1 for unit-norm
    embeddings.
    """
    comps = df.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * F.lit(scale)).cast("long"),
            )
        ).alias("dim", "q"),
    )
    sums = comps.groupBy("lbl", "dim").agg(F.sum("q").alias("s"))
    norms = sums.groupBy("lbl").agg(F.sum(F.col("s") * F.col("s")).alias("dot_self"))
    a = sums.select(F.col("lbl").alias("label_a"), "dim", F.col("s").alias("sa"))
    b = sums.select(F.col("lbl").alias("label_b"), "dim", F.col("s").alias("sb"))
    dots = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot_ab"))
    )
    na = norms.select(F.col("lbl").alias("label_a"), F.col("dot_self").alias("na"))
    nb = norms.select(F.col("lbl").alias("label_b"), F.col("dot_self").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            (
                F.col("dot_ab").cast("double")
                / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")))
            ).alias("centroid_cosine"),
        )
    )


def prototype_prune(
    assigned: DataFrame,
    id_col: str = "vec_id",
    frac_num: int = 1,
    frac_den: int = 4,
) -> DataFrame:
    """D4-style prototypicality pruning flags (public: Tirumala et al.
    2023, "D4: Improving LLM Pretraining via Document De-Duplication and
    Diversification", arXiv 2308.12284 — SemDeDup removes near-duplicate
    PAIRS; the diversification step then drops each cluster's densest,
    most PROTOTYPICAL points wholesale): within every k-means cluster,
    rank members by (dist2 ASC, id ASC) and flag the closest
    ``floor(n_k · frac_num / frac_den)`` to the centroid as dropped.

    The drop count is exact integer floor division of the cluster size —
    no ratio ever touches a double — and the rank is a row_number over a
    total order, so the flag set is bit-identical on any
    engine/partitioning. Two cluster-keyed windows over the assignment
    (already cluster-partitioned data, no corpus-wide shuffle beyond the
    one groupBy kmeans_assign produced); state per task is one cluster.

    Returns ``id, cluster, dist2, rn, n, dropped`` — the per-member flag
    frame; callers aggregate or anti-join to materialize the pruned
    corpus.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("cluster").orderBy(
        F.asc("dist2"), F.asc(id_col)
    )
    wn = Window.partitionBy("cluster")
    return assigned.select(
        F.col(id_col),
        "cluster",
        F.col("dist2").cast("long").alias("dist2"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    ).withColumn(
        "dropped",
        F.col("rn")
        <= F.expr(f"(n * {int(frac_num)}) div {int(frac_den)}"),
    )


def _divtrunc(a: Column, b: Column) -> Column:
    """Exact integer division truncating TOWARD ZERO for decimal
    operands with b > 0 and either-sign a — DuckDB's ``//`` semantics
    (measured: (-7)//2 = -3, i.e. trunc, not floor). Spark's % carries
    the dividend's sign, so (a − a%b) is exactly divisible and the
    quotient truncates the same way on both engines."""
    return (a - a % b) / b


def cluster_label_agreement(
    assigned: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """External-validity scorecard for a clustering against ground-truth
    labels: Adjusted Rand Index (Hubert & Arabie 1985) and mutual
    information / entropies (for NMI) — the eval step after e7/sd1/pt1
    decide anything based on the k-means partition.

    ARI is EXACT integer algebra end-to-end: with doubled pair counts
    p2(x) = x(x−1) = 2·C(x,2) over the contingency table n_ij, row sums
    a_i, column sums b_j, and big2 = n(n−1), Hubert & Arabie's form
    multiplies through by 4·C(n,2) = 2·big2 into pure integer products:

        ARI = (2·big2·Σp2(n_ij) − 2·Σp2(a)·Σp2(b))
            / (big2·(Σp2(a) + Σp2(b)) − 2·Σp2(a)·Σp2(b))

    then ONE exact integer division quantizes to 1e-9 — ari_q9 can be
    NEGATIVE (worse-than-chance agreement), and the division TRUNCATES
    toward zero on both engines (DuckDB ``//`` truncates on negatives;
    Spark's remainder trick does the same by construction).
    decimal(38) headroom: the cross products are ~n⁴, exact to
    n ≈ 3·10⁹ vectors; degenerate den = 0 (single cluster AND single
    label) is pinned to ARI = 1 — and the SAME case zeroes both
    entropies, so nmi is pinned to 1.0 there too (trivial identical
    partitions agree perfectly; 0/0 would otherwise read NaN).

    MI/entropy terms are quantized per contingency CELL at 1e-9
    (en1's per-term discipline): t_ij = n_ij·ln(n·n_ij/(a_i·b_j)),
    h-terms likewise — integer sums, so mi_q9/h_*_q9 are
    order-independent; nmi = mi/(0.5·(h_c+h_l)) is one double from
    three ints. One groupBy to the k×L contingency table; everything
    after is domain-sized.

    Returns one row: n, n_clusters, n_labels, ari_q9, mi_q9,
    h_cluster_q9, h_label_q9, nmi.
    """
    ct = (
        assigned.select("cluster", F.col(id_col))
        .join(labels.select(F.col(id_col), F.col(label_col).alias("lbl")), id_col)
        .groupBy("cluster", "lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .localCheckpoint(eager=False)
    )
    a = ct.groupBy("cluster").agg(F.sum("nij").alias("ai"))
    b = ct.groupBy("lbl").agg(F.sum("nij").alias("bj"))

    def p2(x: Column) -> Column:
        # x(x-1) = 2*C(x,2): the halves cancel analytically below, so
        # no decimal division (and its scale bookkeeping) ever happens
        return x.cast("decimal(19,0)") * (x - 1).cast("decimal(19,0)")

    sums = (
        ct.agg(
            F.sum("nij").cast("long").alias("n"),
            F.sum(p2(F.col("nij"))).cast("decimal(38,0)").alias("sidx2"),
            F.countDistinct("cluster").cast("long").alias("n_clusters"),
            F.countDistinct("lbl").cast("long").alias("n_labels"),
        )
        .crossJoin(
            a.agg(F.sum(p2(F.col("ai"))).cast("decimal(38,0)").alias("sa2"))
        )
        .crossJoin(
            b.agg(F.sum(p2(F.col("bj"))).cast("decimal(38,0)").alias("sb2"))
        )
    )
    # MI / entropy: per-cell quantized terms, integer sums
    cell = (
        ct.join(F.broadcast(a), "cluster")
        .join(F.broadcast(b), "lbl")
        .crossJoin(F.broadcast(sums.select("n")))
    )
    mi_t = F.floor(
        F.col("nij").cast("double")
        * F.log(
            F.col("n").cast("double")
            * F.col("nij").cast("double")
            / (F.col("ai").cast("double") * F.col("bj").cast("double"))
        )
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    mi = cell.agg(F.sum(mi_t).cast("long").alias("mi_s"))

    def h_terms(counts: DataFrame, col: str) -> DataFrame:
        t = F.floor(
            -(
                F.col(col).cast("double")
                * F.log(F.col(col).cast("double") / F.col("n").cast("double"))
            )
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long")
        return counts.crossJoin(F.broadcast(sums.select("n"))).agg(
            F.sum(t).cast("long").alias(f"h_{col}")
        )

    ha = h_terms(a, "ai")
    hb = h_terms(b, "bj")
    g = sums.crossJoin(mi).crossJoin(ha).crossJoin(hb)
    nn = F.col("n").cast("decimal(19,0)")
    big2 = nn * (nn - 1)  # 2*C(n,2)
    # ARI = (sidx2/2 - sa2*sb2/(2*big2)) / ((sa2+sb2)/4 - sa2*sb2/(2*big2))
    # multiplied through by 4*big2 -> pure integer products:
    num = (
        F.lit(2).cast("decimal(19,0)") * big2 * F.col("sidx2")
        - F.lit(2).cast("decimal(19,0)") * F.col("sa2") * F.col("sb2")
    )
    den = big2 * (F.col("sa2") + F.col("sb2")) - F.lit(2).cast(
        "decimal(19,0)"
    ) * F.col("sa2") * F.col("sb2")
    k1e9 = F.lit(1_000_000_000).cast("decimal(19,0)")
    ari_q9 = F.when(den == 0, F.lit(1_000_000_000)).otherwise(
        _divtrunc(num * k1e9, den).cast("long")
    )
    # per-doc MI/H sums are n-scaled: divide by n once at the end.
    # mi_s is clamped at 0 first — MI >= 0 mathematically, but the
    # per-cell floors can leave a tiny negative residue, and negative
    # operands would expose div-vs-// sign semantics
    mi_q9 = F.expr("greatest(mi_s, 0L) div n")
    h_c = F.expr("h_ai div n")
    h_l = F.expr("h_bj div n")
    return g.select(
        "n",
        "n_clusters",
        "n_labels",
        ari_q9.cast("long").alias("ari_q9"),
        mi_q9.cast("long").alias("mi_q9"),
        h_c.cast("long").alias("h_cluster_q9"),
        h_l.cast("long").alias("h_label_q9"),
        # degenerate guard (ADVICE r10): single cluster AND single label
        # zeroes BOTH entropies — the same case ari_q9 pins to 1 — and
        # 0/0 would yield NaN. Pin nmi = 1.0 when the quantized
        # denominator is 0 (trivial identical partitions agree
        # perfectly), mirrored as a CASE in the DuckDB oracle.
        F.when(
            F.expr("h_ai div n") + F.expr("h_bj div n") == 0, F.lit(1.0)
        )
        .otherwise(
            F.expr("greatest(mi_s, 0L) div n").cast("double")
            / (
                (
                    F.expr("h_ai div n") + F.expr("h_bj div n")
                ).cast("double")
                / F.lit(2.0)
            )
        )
        .alias("nmi"),
    )


def davies_bouldin(
    assigned: DataFrame,
    centroids: "list[list[int]]",
) -> DataFrame:
    """Davies-Bouldin internal clustering validity (public: Davies &
    Bouldin 1979, IEEE TPAMI) — the no-labels companion to
    cluster_label_agreement's ARI/NMI: how separated are the k-means
    clusters relative to their own scatter?

        s_i  = mean member distance to centroid i
        R_ij = (s_i + s_j) / d(c_i, c_j)
        DB   = (1/k) Σ_i max_{j≠i} R_ij        (lower is better)

    Exactness: dist2 and the centroid coordinates are exact integers,
    so every distance is sqrt(exact int) — one correctly-rounded IEEE
    double per value, quantized half-up at 1e-6 BEFORE any aggregation
    (en1's per-term discipline: s_i sums exact longs, never doubles).
    R_ij and DB are then single truncating divisions at 1e-9 over
    integer sums (the ari1 contract). Identical centroid pair
    (d_q6 = 0) pins R_ij to 10^18 — the degenerate dominates the max
    on both engines instead of dividing by zero. decimal(38) carries
    the s_i sums (Σ per-member 1e6-quantized distances ~ n·1.6e13
    passes int64 only to ~10^5 members).

    Scale shape: ONE cluster-keyed groupBy over the assignment; the
    k² pair table is computed driver-side from the k·dim centroid
    list every distributed k-means already holds (kmeans_fit's
    contract) and broadcast back. Returns one row per non-empty
    cluster: (cluster, n, s_q6, r_max_q9, db_q9) with db_q9 repeated
    (gt1's summary-on-every-row pattern), ordered by cluster.
    """
    import math

    spark = assigned.sparkSession
    k = len(centroids)
    mq6 = F.floor(
        F.sqrt(F.col("dist2").cast("double")) * F.lit(1e6) + F.lit(0.5)
    ).cast("decimal(38,0)")
    # lazy barrier: s (k rows) feeds the si/sj pair sides and the DB
    # rollup — each re-ran the whole assignment scan without it (round-13)
    s = (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(mq6).cast("decimal(38,0)").alias("sm"),
        )
        .select(
            "cluster",
            "n",
            _divtrunc(F.col("sm"), F.col("n").cast("decimal(38,0)"))
            .cast("long")
            .alias("s_q6"),
        )
        .localCheckpoint(eager=False)
    )
    pairs = []
    for i in range(k):
        for j in range(k):
            if i == j:
                continue
            d2 = sum(
                (a - b) * (a - b)
                for a, b in zip(centroids[i], centroids[j])
            )
            pairs.append(
                (i, j, int(math.floor(math.sqrt(d2) * 1e6 + 0.5)))
            )
    cd = local_rows(spark, pairs, "ci int, cj int, d_q6 long")
    si = s.select(
        F.col("cluster").alias("ci"), F.col("s_q6").alias("si_q6")
    )
    sj = s.select(
        F.col("cluster").alias("cj"), F.col("s_q6").alias("sj_q6")
    )
    k9 = F.lit(1_000_000_000).cast("decimal(38,0)")
    r = (
        cd.join(F.broadcast(si), "ci")
        .join(F.broadcast(sj), "cj")
        .select(
            "ci",
            F.when(
                F.col("d_q6") == 0, F.lit(10**18).cast("long")
            )
            .otherwise(
                _divtrunc(
                    (F.col("si_q6") + F.col("sj_q6")).cast("decimal(38,0)")
                    * k9,
                    F.col("d_q6").cast("decimal(38,0)"),
                ).cast("long")
            )
            .alias("r_q9"),
        )
    )
    dmax = r.groupBy(F.col("ci").alias("cluster")).agg(
        F.max("r_q9").alias("r_max_q9")
    )
    db = dmax.agg(
        _divtrunc(
            F.sum("r_max_q9").cast("decimal(38,0)"),
            F.count(F.lit(1)).cast("decimal(38,0)"),
        )
        .cast("long")
        .alias("db_q9")
    )
    return (
        s.join(dmax, "cluster")
        .crossJoin(F.broadcast(db))
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "n",
            "s_q6",
            "r_max_q9",
            "db_q9",
        )
        .orderBy("cluster")
    )

"""Full-text relevance search over a document corpus.

Training-data curation constantly needs "find the documents most like
this query" — seeding topic filters, pulling eval-adjacent documents,
building retrieval sets. The reference has no search operator; this is
part of the LLM-data-pipeline surface (SURVEY.md §2 extension), built
Spark-first: the inverted index is an explode + groupBy, scoring is pure
column algebra, and the top-k is a TakeOrdered — no UDFs, no collect.

Scale shape (the part that must survive 100 TB):
- tokens are filtered to the query's terms BEFORE any shuffle, so the
  per-(doc, term) aggregation runs at matched-posting cardinality, not
  corpus-token cardinality;
- document frequencies and corpus stats (N, avgdl) are term-count-sized
  aggregates broadcast back into the plan;
- the only corpus-wide shuffle is the per-doc score groupBy at matched-
  document cardinality, immediately cut by TakeOrdered(k).

BM25 scoring is quantized to exact integers before the per-document sum
(the repo-wide portability pattern, cf. similarity.cosine_quantized):
per-(doc, term) scores round half-up to 1e-6 and accumulate as BIGINTs,
so the aggregate is order-independent and bit-identical on any engine —
the float sum that would otherwise make BM25 nondeterministic never
happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_oms_spark.operators.text import tokens
from etl_oms_spark.util import ensure_parallelism, local_rows

SCORE_SCALE = 1_000_000


def _postings(
    df: DataFrame, terms: list[str], text_col: str, id_col: str
) -> DataFrame:
    """(doc, term, tf) for query terms only — the filter runs inside the
    explode projection, so non-matching tokens never reach a shuffle."""
    tok = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term").isin(terms))
    )
    return tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def corpus_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per document: (id, dl); used with a 1-row global aggregate
    for (N, total_len) — both from a single corpus scan."""
    return df.select(
        F.col(id_col), F.size(tokens(text_col)).cast("long").alias("dl")
    )


def bm25_term_scores(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    doc_lengths: DataFrame | None = None,
) -> DataFrame:
    """Per-(document, term) BM25 contributions: (id, term, tf, term_q)
    where ``term_q`` is the exact 1e-6-quantized integer contribution of
    one matched term to the document's score. ``bm25_scores`` sums these
    per document; multi-query rankers (mrr1) re-aggregate them per
    (query, document) instead — one postings build serves every query
    whose terms are in ``terms``, because a term's contribution does not
    depend on which query asked for it.

    idf is the Robertson form ln(1 + (N - df + 0.5)/(df + 0.5)); the tf
    saturation term is computed as an exact rational before one final
    double multiply + half-up rounding per (doc, term).

    ``doc_lengths`` lets a caller that ALSO needs the per-doc length
    table (rag1's budget packing, prf1's ML term probabilities) pass one
    shared — ideally localCheckpoint-ed — ``corpus_stats`` frame so the
    corpus is tokenized once for it, not once per consumer.

    The two internal dual-use frames are lazily localCheckpoint-ed:
    ``dl`` feeds both the (N, total_len) global aggregate and the
    per-doc join, and the postings ``tf`` feeds both the df count and
    the scored join — without the barrier each pair re-ran its corpus
    scan + tokenize (the round-13 plan audit measured 16 scans in mrr1's
    executed plan for what is logically 2 passes). The checkpointed
    frames are narrow ((id, dl) and matched postings), so the trade is a
    doc-count-sized materialization against a full corpus re-tokenize —
    the right side of the trade at any scale.
    """
    if doc_lengths is None:
        dl = corpus_stats(
            ensure_parallelism(df, id_col), text_col, id_col
        ).localCheckpoint(eager=False)
    else:
        dl = doc_lengths
    glob = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    tf = _postings(df, terms, text_col, id_col).localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(glob))
    )
    n, total = F.col("n_docs"), F.col("total_len")
    idf = F.log(
        F.lit(1.0)
        + (n.cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    # tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with avgdl = total/n,
    # multiplied through by 400*total (k1, b must be expressible in
    # 20ths — 1.2 and 0.75 are) so numerator and denominator are exact
    # BIGINTs. ANSI overflow bound: tf * total < 2.3e16 — holds to
    # ~10^12 corpus tokens; beyond that flip these two expressions to
    # double (per-term products stay deterministic IEEE either way).
    k1_20, b_20 = int(round(k1 * 20)), int(round(b * 20))
    num = F.col("tf") * F.lit(20 * (20 + k1_20)) * total
    den = (
        F.col("tf") * F.lit(400) * total
        + F.lit(k1_20 * (20 - b_20)) * total
        + F.lit(k1_20 * b_20) * F.col("dl") * n
    )
    term_q = F.floor(
        (idf * num.cast("double") / den.cast("double")) * SCORE_SCALE
        + F.lit(0.5)
    ).cast("long")
    return scored.select(
        F.col(id_col), "term", F.col("tf").cast("long").alias("tf"),
        term_q.alias("term_q"),
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 over ``terms``: returns (id, n_hits, score_q,
    score) where ``score_q`` is the exact 1e-6-quantized integer score
    (sum of per-term quantized contributions — deterministic under any
    aggregation order) and ``score = score_q / 1e6``.
    """
    per_term = bm25_term_scores(df, terms, text_col, id_col, k1=k1, b=b)
    per_doc = per_term.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum("term_q").alias("score_q"),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.col("score_q"),
        (F.col("score_q") / SCORE_SCALE).alias("score"),
    )


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 search: deterministic (score_q DESC, id ASC) cut via
    orderBy+limit — Spark lowers it to TakeOrdered, so the k-cut happens
    map-side per partition and only k rows per partition reach the
    driver-side merge."""
    scores = bm25_scores(df, terms, text_col, id_col, k1=k1, b=b)
    return scores.orderBy(F.col("score_q").desc(), F.col(id_col)).limit(k)


def tfidf_vectors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Sparse TF-IDF postings for the whole corpus: (id, term, tf, df,
    tfidf_q) with tfidf_q = round_half_up(tf * ln(N/df) * 1e6) as BIGINT.
    The building block for corpus-level similarity / clustering on text;
    ``max_df`` drops stopword-like terms (and bounds any downstream
    term-keyed self-join, cf. dedup.ngram_jaccard_pairs)."""
    base = ensure_parallelism(df, id_col)
    tok = base.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    # lazy barrier: tf feeds both the df count and the final join — one
    # corpus tokenize instead of two (same trade as bm25_term_scores)
    tf = tok.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    dfreq = dfreq.filter(F.col("df") >= min_df)
    n_docs = base.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            F.floor(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * SCORE_SCALE
                + F.lit(0.5)
            ).cast("long").alias("tfidf_q"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_rrf: int = 60,
    top: int = 20,
    rrf_scale: int = 1_000_000_000,
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings (Cormack et al., SIGIR'09):
    fused score = Σ_lists 1/(k + rank). The standard zero-tuning hybrid
    of lexical (BM25) and dense (embedding cosine) retrieval.

    Each input is (id, rank) with ranks from a deterministic order.
    Contributions are quantized ``round(rrf_scale/(k+rank))`` BIGINTs
    before the sum — order-independent, bit-identical across engines.
    Inputs are top-k lists (tiny); the union + groupBy is k·N-bounded, so
    at corpus scale the cost lives entirely in the upstream rankers.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contrib = [
        r.select(
            F.col(id_col),
            F.round(
                F.lit(float(rrf_scale)) / (F.lit(k_rrf) + F.col(rank_col))
            )
            .cast("long")
            .alias("__c"),
        )
        for r in rankings
    ]
    u = contrib[0]
    for c in contrib[1:]:
        u = u.unionByName(c)
    return (
        u.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.sum("__c").alias("rrf_q"),
        )
        .withColumn("rrf_score", F.col("rrf_q").cast("double") / F.lit(float(rrf_scale)))
        .orderBy(F.col("rrf_q").desc(), F.col(id_col))
        .limit(top)
    )


def prf_expansion(
    df: DataFrame,
    queries: list[tuple[str, tuple[str, ...]]],
    k_docs: int = 3,
    k_terms: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM3 family — public:
    Lavrenko & Croft 2001 relevance models; Abdul-Jaleel et al. 2004
    RM3): for each query, retrieve the top ``k_docs`` feedback
    documents by BM25, estimate an expansion-term relevance weight
    from them, and emit the top ``k_terms`` new terms per query —
    (qid, term, w_q, rnk).

    The relevance-model estimate P(t|R) ≈ Σ_d P(t|d)·P(d|q) is
    quantized EXACTLY per (doc, term):

        w_q(q, t) = Σ_{d in fb(q)}  (tf(t, d) · score_q(d)) // dl(d)

    i.e. the doc's maximum-likelihood term probability times its
    1e-6-quantized BM25 score, floored to an integer BEFORE the sum —
    order-independent, bit-identical on any engine (the repo-wide
    portability pattern; ts1's score_q is already exact). The query's
    own terms are excluded (RM3's interpolation with the original query
    is a re-ranking concern; the expansion TERMS are the artifact a
    pipeline stores).

    Scale shape: ONE shared postings build scores all queries (mrr1's
    one-postings-serves-all shape); the second tokenization pass is
    semi-join-pruned to the |queries|·k_docs feedback documents BEFORE
    the groupBy, so its shuffle is feedback-sized, not corpus-sized.
    All windows partition by qid over candidate/term domains. Queries
    with no BM25 candidate emit no rows (nothing to feed back from).

    Overflow: tf·score_q ≤ dl·score_q — int64-safe while per-doc
    BM25 score_q · doc length < 9.2e18 (score_q is ~#terms·1e6).
    """
    spark = df.sparkSession
    all_terms = sorted({t for _, ts in queries for t in ts})
    # ONE shared doc-length frame for the BM25 build and the ML term
    # probabilities below (was two independent corpus tokenize passes)
    dl = corpus_stats(
        ensure_parallelism(df, id_col), text_col, id_col
    ).localCheckpoint(eager=False)
    per_term = bm25_term_scores(
        df, all_terms, text_col, id_col, doc_lengths=dl
    )
    qt = local_rows(
        spark, [(q, t) for q, ts in queries for t in ts], "qid string, term string"
    )
    scored = (
        per_term.join(F.broadcast(qt), "term")
        .groupBy("qid", id_col)
        .agg(F.sum("term_q").alias("score_q"))
    )
    # fb feeds both the feedback-doc semi filter and the contrib join;
    # it is (queries × k_docs)-sized, so the lazy barrier is ~free
    fb = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("score_q"), id_col)
        ),
    ).filter(F.col("rnk") <= k_docs).localCheckpoint(eager=False)
    fb_docs = fb.select(id_col).distinct()
    ftf = (
        df.join(F.broadcast(fb_docs), id_col, "left_semi")
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    contrib = (
        fb.join(ftf, id_col)
        .join(dl, id_col)
        .join(F.broadcast(qt), ["qid", "term"], "left_anti")
        .select(
            "qid",
            "term",
            F.expr("(tf * score_q) div dl").alias("c"),
        )
    )
    w = contrib.groupBy("qid", "term").agg(
        F.sum("c").cast("long").alias("w_q")
    )
    return (
        w.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("w_q"), "term")
            ),
        )
        .filter(F.col("rnk") <= k_terms)
        .orderBy("qid", "rnk")
    )


def rbo_from_ranks(
    a: DataFrame,
    b: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-biased overlap between two top-k rankings (public: Webber,
    Moffat & Zobel 2010, "A similarity measure for indefinite
    rankings") — the ranking-SIMILARITY companion to rrf1's fusion and
    the ndcg/mrr/ap effectiveness metrics: how much do two rankers
    agree, weighted toward the top?

        RBO@k = (1−p) Σ_{d=1..k} p^{d−1} · |A_d ∩ B_d| / d

    With the canonical p = 9/10 every term is EXACTLY rational:
    (1−p)·p^{d−1} = 9^{d−1}/10^d, so

        term_q12 = X_d · 9^{d−1} · 10^{12−d} // d      (exact integers)

    — no floating pow, no ln; the 10 (d, 9^{d−1}, 10^{12−d}) constants
    are driver-side literals (requires k ≤ 12 so 10^{12−d} stays
    integral; k=10 canonical). X_d = |top-d(A) ∩ top-d(B)| comes from
    the ≤k-row join of the two rank lists against a k-row depth frame.
    Returns one row: (k, overlap_at_k, rbo_q12). This is the TRUNCATED
    RBO@k (no extrapolation tail), so identical top-k prefixes yield
    (1−p^k)·1e12 — ≈ 6.513e11 at k=10 — and the range is
    [0, (1−p^k)·1e12], NOT [0, 1e12] (test_rbo_pins pins exactly this);
    divide by (1−p^k) if a normalized [0,1] agreement score is wanted.

    Scale shape: the two inputs are already top-k frames (TakeOrdered
    upstream); everything here is k- and k²-sized.
    """
    if not 1 <= k <= 12:
        raise ValueError(f"k must be in [1, 12] (10^(12-d) integrality), got {k}")
    spark = a.sparkSession
    d38 = "decimal(38,0)"
    ov = (
        a.select(F.col(id_col).alias("__id"), F.col(rank_col).alias("ra"))
        .filter(F.col("ra") <= k)
        .join(
            b.select(
                F.col(id_col).alias("__id"), F.col(rank_col).alias("rb")
            ).filter(F.col("rb") <= k),
            "__id",
        )
    )
    depths = local_rows(
        spark,
        [(d, 9 ** (d - 1), 10 ** (12 - d)) for d in range(1, k + 1)],
        "d long, p9 long, p10 long",
    )
    xd = (
        depths.join(F.broadcast(ov), F.lit(True), "left")
        .groupBy("d", "p9", "p10")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("ra") <= F.col("d"))
                        & (F.col("rb") <= F.col("d")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("x")
        )
    )
    num = (
        F.col("x").cast(d38) * F.col("p9").cast(d38) * F.col("p10").cast(d38)
    )
    dd = F.col("d").cast(d38)
    term = (num - num % dd) / dd
    return xd.agg(
        F.lit(k).cast("long").alias("k"),
        F.max(F.when(F.col("d") == k, F.col("x"))).cast("long").alias(
            "overlap_at_k"
        ),
        F.coalesce(F.sum(term.cast(d38)), F.lit(0).cast(d38))
        .cast("long")
        .alias("rbo_q12"),
    )

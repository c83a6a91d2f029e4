"""Hashed linear text classifier — the quality-filter scoring pass.

Production curation pipelines (GPT-3, LLaMA, Falcon data papers — all
public) filter web text with a cheap linear classifier over hashed
bag-of-words features (fastText architecture: hash terms into B buckets,
sum per-bucket weights, threshold the margin). This module is the
Spark-native scorer: the model is a (bucket, w_q) weight table with
integer (1e-6-quantized) weights, scoring is an explode → broadcast
weight join → exact BIGINT margin sum — order-independent and
bit-identical on any engine, the repo-wide portability pattern.

Training the weights is out of scope (no ML libs in this container, and
the scorer is where the 100 TB cost sits); ``synthetic_weights`` builds
a deterministic stand-in table with the exact shape a real exported
fastText/logistic model would have, so swapping in trained weights is a
one-DataFrame change.

Feature hash: the portable md5 bucket (same family as
sampling._md5_bucket) so any engine — and the training job that
produced the weights — computes identical buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_oms_spark.operators.text import tokens
from etl_oms_spark.util import ensure_parallelism

W_SCALE = 1_000_000


def term_bucket(term: Column, n_buckets: int, salt: str = "qc") -> Column:
    """Portable feature hash: first 60 bits of md5(salt|term) mod B —
    reproducible in DuckDB/Python byte-for-byte (cf. sampling._md5_bucket)."""
    h = F.conv(F.substring(F.md5(F.concat_ws("|", F.lit(salt), term)), 1, 15), 16, 10)
    return (h.cast("long") % n_buckets).alias("bucket")


def synthetic_weights(
    spark: SparkSession, n_buckets: int = 1024, seed_salt: str = "w"
) -> DataFrame:
    """Deterministic stand-in weight table (bucket, w_q): w_q spans
    [-10, 10] · 1e6 via the same portable hash over the bucket id.
    Replace with an exported trained model's weights in deployment —
    identical schema, identical scoring plan."""
    b = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(seed_salt), F.col("bucket"))), 1, 15),
        16,
        10,
    ).cast("long")
    return b.select("bucket", ((h % 21 - 10) * W_SCALE).alias("w_q"))


def hashed_term_counts(
    df: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "qc",
) -> DataFrame:
    """(id, bucket, tf): hashed bag-of-words counts — one explode + one
    map-side-combined groupBy at (doc × distinct-bucket) cardinality."""
    tok = ensure_parallelism(df, id_col).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    return (
        tok.select(F.col(id_col), term_bucket(F.col("term"), n_buckets, salt))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def linear_scores(
    df: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1024,
    bias_q: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "qc",
) -> DataFrame:
    """(id, n_tokens, margin_q, margin): exact integer margin
    bias_q + Σ tf·w_q per document. The weight table is broadcast (B
    rows ≪ corpus); every input doc appears in the output (empty docs
    score the bias)."""
    feats = hashed_term_counts(df, n_buckets, text_col, id_col, salt)
    scored = feats.join(F.broadcast(weights), "bucket").groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        (F.sum(F.col("tf") * F.col("w_q")) + F.lit(bias_q)).alias("margin_q"),
    )
    return (
        ensure_parallelism(df, id_col)
        .select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("margin_q"), F.lit(bias_q)).cast("long").alias("margin_q"),
            (F.coalesce(F.col("margin_q"), F.lit(bias_q)) / W_SCALE).alias("margin"),
        )
    )


def select_top_fraction(
    df: DataFrame,
    weights: DataFrame,
    frac: float = 0.2,
    group_col: str = "source",
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``frac`` of each group by classifier margin — the
    DCLM / FineWeb-Edu selection step ("train on the top 20% by quality
    score, balanced per source").

    Scale-safe threshold finding (NO per-group ranking window over docs):
    (1) histogram the integer margins per (group, margin_q) — a
    distinct-values-sized aggregate; (2) a descending cumulative count
    over that histogram (window partitions are NDV(margin)-sized, not
    corpus-sized); (3) the per-group threshold is the k-th largest margin
    (nearest-rank, k = ceil(frac·n)); (4) broadcast thresholds back and
    filter ``margin_q >= T``. Boundary ties are all kept (threshold
    semantics — what score-based curation actually ships — so a group can
    exceed k by its tie count).
    """
    from pyspark.sql import Window

    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    scored = linear_scores(
        df, weights, n_buckets, text_col=text_col, id_col=id_col
    ).select(id_col, "margin_q")
    # lazy barrier: keyed is folded THREE times (hist, tot, final
    # filter) and each fold re-ran the whole classifier scoring pass
    # (corpus tokenize + feature hash + margin) without it — 8 scans in
    # qsel1's round-13 executed-plan audit. Three narrow columns, so the
    # materialization is the cheap side of the trade at any scale.
    keyed = df.select(id_col, group_col).join(scored, id_col).localCheckpoint(
        eager=False
    )
    hist = keyed.groupBy(group_col, "margin_q").agg(
        F.count(F.lit(1)).alias("__n")
    )
    w = Window.partitionBy(group_col).orderBy(F.col("margin_q").desc())
    cum = hist.withColumn("__cnt_ge", F.sum("__n").over(w))
    tot = keyed.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n_docs"))
    k = F.ceil(F.lit(float(frac)) * F.col("__n_docs")).cast("long")
    thr = (
        cum.join(F.broadcast(tot), group_col)
        .filter(F.col("__cnt_ge") >= k)
        .groupBy(group_col)
        .agg(F.max("margin_q").alias("__thr"))
    )
    return (
        keyed.join(F.broadcast(thr), group_col)
        .filter(F.col("margin_q") >= F.col("__thr"))
        .select(id_col, group_col, "margin_q")
    )


def isotonic_calibration(
    bins: DataFrame,
    bin_col: str = "bin",
    n_col: str = "n",
    pos_col: str = "n_pos",
) -> DataFrame:
    """Weighted isotonic regression (PAV) over a binned reliability
    table — the calibration map rb1's diagram motivates (public: the
    pool-adjacent-violators algorithm; Platt's alternative is
    parametric, isotonic is the standard non-parametric choice).

    Instead of replaying PAV's sequential pooling, both this operator
    and its oracle use the MINIMAX closed form of the (unique) L2
    isotonic solution:

        fitted(i) = max_{j<=i} min_{k>=i}  Σpos[j..k] / Σn[j..k]

    which is pure joins/aggregations over the bin domain — no
    iteration, no merge-order questions (the solution's uniqueness is
    what lets two engines agree without replaying the same pooling
    order). All range sums are exact longs; the ratio is one double
    division per (j,k) range, so min/max pick identical values on any
    engine. The bin table is domain-sized (the corpus stage is the
    caller's groupBy), so every join here is over ≤bins² rows.

    Returns ``bin, n, n_pos, rate_q, fitted_q`` (both 1e-6-quantized
    BIGINTs), ordered by bin; fitted_q is non-decreasing.
    """
    b = bins.select(
        F.col(bin_col).alias("bin"),
        F.col(n_col).cast("long").alias("n"),
        F.col(pos_col).cast("long").alias("pos"),
        # Lazy checkpoint: the bin table is referenced four times below
        # (j/k/i projections + the range sum); without the barrier each
        # reference re-runs the caller's corpus groupBy (measured: 5
        # FileScans in the unfixed iso1 plan). Domain-sized (≤ bins
        # rows), so the barrier is free; the corpus is scanned once.
    ).localCheckpoint(eager=False)
    jb = b.select(F.col("bin").alias("j"))
    kb = b.select(F.col("bin").alias("k"))
    ranges = (
        jb.crossJoin(kb)
        .filter(F.col("j") <= F.col("k"))
        .join(b, (F.col("bin") >= F.col("j")) & (F.col("bin") <= F.col("k")))
        .groupBy("j", "k")
        .agg(
            F.sum("pos").cast("long").alias("rp"),
            F.sum("n").cast("long").alias("rn"),
        )
        .withColumn(
            "avg", F.col("rp").cast("double") / F.col("rn").cast("double")
        )
    )
    ib = b.select(F.col("bin").alias("i"))
    inner = (
        ranges.join(
            ib, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i"))
        )
        .groupBy("j", "i")
        .agg(F.min("avg").alias("mn"))
    )
    fitted = inner.groupBy("i").agg(F.max("mn").alias("fitted"))
    return (
        b.join(fitted, b["bin"] == fitted["i"])
        .select(
            "bin",
            "n",
            F.col("pos").alias("n_pos"),
            F.floor(
                F.col("pos").cast("double") / F.col("n").cast("double") * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("rate_q"),
            F.floor(F.col("fitted") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("fitted_q"),
        )
        .orderBy("bin")
    )


def _floordiv_dec(a: Column, b: Column) -> Column:
    """Exact integer division via the remainder trick (same device as
    ap1's ratio quantization): subtract the exact remainder first so
    the decimal division hits an integer — no HALF_UP-then-floor edge
    case. Spark's % carries the dividend's sign, so the quotient
    TRUNCATES toward zero — exactly DuckDB's ``//`` semantics
    (measured: (-7)//2 = -3). For a >= 0 truncation equals floor;
    signed numerators (ari1/fk1's kappa-style statistics) get the
    trunc contract on both engines. Requires b > 0."""
    return (a - a % b) / b


def calibration_summary(
    scored: DataFrame,
    sq_col: str = "sq",
    pos_col: str = "pos",
    n_bins: int = 10,
    bin_width_q: int = 100_000,
) -> DataFrame:
    """One-row exact calibration scorecard for a binary classifier:
    Brier score, Murphy (1973) reliability / resolution / uncertainty,
    expected calibration error (ECE) and maximum calibration error
    (MCE) — the scalar summaries of rb1's reliability diagram and the
    quantities a curation pipeline watches before trusting iso1's
    calibration map (all public: Murphy 1973 "A new vector partition of
    the probability score"; Naeini et al. 2015 for ECE/MCE).

    Input is per-example ``(sq, pos)`` where ``sq`` is the
    1e-6-quantized predicted probability (BIGINT in [0, 1e6]) and
    ``pos`` the 0/1 outcome. Every statistic reduces to exact integer
    arithmetic over ONE corpus groupBy into ``n_bins`` equal-width
    score bins (the Brier sum is bin-decomposable, so no second scan):

    - brier  = Σ (sq - pos·1e6)² / (N·1e12)          (exact per-doc terms)
    - ece    = Σ_k |d_k| / (N·1e6),  d_k = Σsq_k - pos_k·1e6
      (n_k·|mean_score_k - rate_k| telescopes to |d_k|/1e6 — exact)
    - mce    = max_k |d_k| / (n_k·1e6)               (exact floor-div/bin)
    - rel    = Σ_k d_k²/n_k / (N·1e12)               (Murphy reliability)
    - res    = (Σ_k pos_k²/n_k - P²/N) / N           (Murphy resolution)
    - unc    = P·(N-P)/N²                            (Murphy uncertainty)

    All ratios are quantized to 1e-9 integers by EXACT floor division
    (decimal remainder trick — bit-identical to DuckDB HUGEINT ``//``),
    never by rounding doubles, so the row is reproducible on any
    engine/partitioning. int64/decimal(38) headroom: per-bin sums stay
    exact while n_k < 9·10¹² and the resolution numerator while
    N < ~3·10⁹ examples (pos_k²·10¹² ≤ n_k²·10¹²; document-count scales
    beyond that want a wider decimal, same remark as rc1). res_scaled
    is clamped at 0: the two floor-divisions it differences can leave a
    ≤ n_bins-ulp negative residue when resolution is exactly 0.

    Returns columns ``n, n_pos, brier_q9, ece_q9, mce_q9, rel_q9,
    res_q9, unc_q9, brier, ece``.
    """
    sq = F.col(sq_col).cast("long")
    pos = F.col(pos_col).cast("long")
    bin_ = F.least(
        F.greatest((sq / F.lit(bin_width_q)).cast("long"), F.lit(0)),
        F.lit(n_bins - 1),
    )
    dterm = sq - pos * F.lit(1_000_000)
    bins = (
        scored.select(
            bin_.alias("bin"),
            sq.alias("sq"),
            pos.alias("pos"),
            (dterm * dterm).cast("decimal(38,0)").alias("bt"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("pos"),
            F.sum("sq").cast("long").alias("ssq"),
            F.sum("bt").cast("decimal(38,0)").alias("brier_sum"),
        )
    )
    d = (F.col("ssq") - F.col("pos") * F.lit(1_000_000)).alias("d")
    ddec = d.cast("decimal(19,0)")
    ndec = F.col("n").cast("decimal(19,0)")
    posdec = F.col("pos").cast("decimal(19,0)")
    per_bin = bins.select(
        "n",
        "pos",
        "brier_sum",
        F.abs(d).alias("abs_d"),
        # |d_k|·1000 // n_k  ==  (|d_k| / (n_k·1e6)) · 1e9, exact
        F.expr(
            f"(abs(ssq - pos * 1000000) * 1000) div n"
        ).alias("gap_q9"),
        _floordiv_dec(ddec * ddec, ndec).cast("decimal(38,0)").alias("rel_t"),
        _floordiv_dec(
            posdec * posdec * F.lit(1_000_000_000_000).cast("decimal(19,0)"),
            ndec,
        ).cast("decimal(38,0)").alias("res_t"),
    )
    g = per_bin.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("brier_sum").cast("decimal(38,0)").alias("brier_tot"),
        F.sum("abs_d").cast("long").alias("ece_num"),
        F.max("gap_q9").cast("long").alias("mce_q9"),
        F.sum("rel_t").cast("decimal(38,0)").alias("rel_sc"),
        F.sum("res_t").cast("decimal(38,0)").alias("res_sum"),
    )
    ntot = F.col("n").cast("decimal(19,0)")
    ptot = F.col("n_pos").cast("decimal(19,0)")
    k1e3 = F.lit(1000).cast("decimal(19,0)")
    k1e12 = F.lit(1_000_000_000_000).cast("decimal(19,0)")
    res_sc = F.greatest(
        (
            F.col("res_sum") - _floordiv_dec(ptot * ptot * k1e12, ntot)
        ).cast("decimal(38,0)"),
        F.lit(0).cast("decimal(38,0)"),
    )
    brier_q9 = _floordiv_dec(F.col("brier_tot"), ntot * k1e3).cast("long")
    ece_q9 = _floordiv_dec(
        F.col("ece_num").cast("decimal(38,0)") * k1e3, ntot
    ).cast("long")
    return g.select(
        "n",
        "n_pos",
        brier_q9.alias("brier_q9"),
        ece_q9.alias("ece_q9"),
        "mce_q9",
        _floordiv_dec(F.col("rel_sc"), ntot * k1e3).cast("long").alias("rel_q9"),
        _floordiv_dec(res_sc, ntot * k1e3).cast("long").alias("res_q9"),
        _floordiv_dec(
            ptot * (ntot - ptot) * F.lit(1_000_000_000).cast("decimal(19,0)"),
            ntot * ntot,
        )
        .cast("long")
        .alias("unc_q9"),
        (brier_q9.cast("double") / F.lit(1e9)).alias("brier"),
        (ece_q9.cast("double") / F.lit(1e9)).alias("ece"),
    )


def fleiss_kappa(
    ratings: DataFrame,
    item_col: str = "item_id",
    cat_col: str = "category",
    n_raters: int | None = None,
) -> DataFrame:
    """Fleiss' kappa (1971, public) — chance-corrected agreement among
    a fixed number of raters per item, the QC statistic for annotation
    / weak-supervision pipelines (do the labeling functions agree more
    than chance before their votes are trusted?).

    Input is one row PER RATING (item, category); rater identity is
    irrelevant to Fleiss. With n raters/item, k categories, n_ij the
    per-(item, category) counts, b_j = Σ_i n_ij and N items:

        P̄   = (Σ_ij n_ij² − N·n) / (N·n·(n−1))
        P̄_e = Σ_j b_j² / (N·n)²
        κ    = (P̄ − P̄_e) / (1 − P̄_e)
             = (a·D2 − e·D1) / (D1·(D2 − e))      -- pure integers
          with a = Σ n_ij² − N·n, e = Σ b_j²,
               D1 = N·n·(n−1), D2 = (N·n)²

    Everything reduces to exact integer sums over ONE groupBy to the
    (item, category) counts; κ is quantized to 1e-9 by ONE exact
    integer division TRUNCATING toward zero (κ can be negative —
    worse-than-chance — and DuckDB ``//`` truncates on negatives, the
    ari1 contract). The degenerate P̄_e = 1 (every rating in one
    category → D2 = e, also P̄ = 1) is pinned to κ = 1.
    decimal(38) headroom: e ≤ (N·n)², exact to N·n ≈ 3·10⁹ ratings.

    ``n_raters`` fixes n; when omitted it is taken as max per-item
    rating count, and items with fewer ratings are EXCLUDED (Fleiss
    requires constant n) — the row reports both totals so silent
    exclusion is visible.

    Returns one row: n_items, n_excluded, n_raters, p_bar_q9, p_e_q9,
    kappa_q9.
    """
    nij = ratings.groupBy(item_col, cat_col).agg(
        F.count(F.lit(1)).cast("long").alias("nij")
    ).localCheckpoint(eager=False)
    per_item = nij.groupBy(item_col).agg(
        F.sum("nij").cast("long").alias("ni"),
        F.sum(F.col("nij") * F.col("nij")).cast("long").alias("sq"),
    )
    if n_raters is None:
        n_col = per_item.agg(F.max("ni").alias("n")).localCheckpoint(
            eager=False
        )
    else:
        n_col = ratings.sparkSession.range(1).select(
            F.lit(int(n_raters)).cast("long").alias("n")
        )
    kept = per_item.crossJoin(F.broadcast(n_col)).filter(
        F.col("ni") == F.col("n")
    )
    excluded = per_item.crossJoin(F.broadcast(n_col)).filter(
        F.col("ni") != F.col("n")
    )
    bj = (
        nij.join(
            kept.select(item_col), item_col, "left_semi"
        )
        .groupBy(cat_col)
        .agg(F.sum("nij").cast("long").alias("bj"))
    )
    g = (
        kept.agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("sq").cast("decimal(38,0)").alias("ssq"),
        )
        .crossJoin(
            F.broadcast(
                excluded.agg(
                    F.count(F.lit(1)).cast("long").alias("n_excluded")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                bj.agg(
                    F.sum(
                        F.col("bj").cast("decimal(19,0)")
                        * F.col("bj").cast("decimal(19,0)")
                    )
                    .cast("decimal(38,0)")
                    .alias("e")
                )
            )
        )
        .crossJoin(F.broadcast(n_col))
    )
    nn = F.col("n_items").cast("decimal(19,0)")
    nr = F.col("n").cast("decimal(19,0)")
    a = F.col("ssq") - nn * nr
    d1 = nn * nr * (nr - 1)
    d2 = nn * nr * nn * nr
    k1e9 = F.lit(1_000_000_000).cast("decimal(19,0)")
    num = a * d2 - F.col("e") * d1
    den = d1 * (d2 - F.col("e"))
    kappa_q9 = F.when(den == 0, F.lit(1_000_000_000)).otherwise(
        _floordiv_dec(num * k1e9, den).cast("long")
    )
    return g.select(
        "n_items",
        "n_excluded",
        F.col("n").alias("n_raters"),
        _floordiv_dec(a * k1e9, d1).cast("long").alias("p_bar_q9"),
        _floordiv_dec(F.col("e") * k1e9, d2).cast("long").alias("p_e_q9"),
        kappa_q9.alias("kappa_q9"),
    )


def spearman_from_pairs(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Tie-corrected Spearman rank correlation between two integer
    columns (public: Spearman 1904; with ties the estimator is Pearson
    over AVERAGE ranks, not the 6Σd² shortcut — Kendall 1948 §3) — the
    monotone-association companion to st2's Pearson and mwu1's rank-sum
    location test: does document quality rise with length, with no
    linearity assumption?

    Rank algebra is mwu1's: per-value histograms give DOUBLED average
    ranks as exact integers (2·r̄(v) = 2·cum_below + c + 1, one bounded
    window over each value DOMAIN, never the corpus), and Pearson over
    (2rx, 2ry) is exact decimal(38) sums with ONE double expression at
    the end:

        ρ = (n·Σxy − Σx·Σy) / √(n·Σx² − (Σx)²) / √(n·Σy² − (Σy)²)

    (the doubling cancels — ρ is scale-invariant). n·Σxy ≈ 4n⁴ passes
    decimal(38) to n ≈ 2·10⁹ rows (ari1's headroom argument). Constant
    x or y (zero variance) pins rho = 0.0 on both engines. Returns one
    row: (n, rho).

    Scale shape (VERDICT r11 item 4): ONE map-side-combined corpus scan
    builds the JOINT (x, y) value histogram behind a lazy-checkpoint
    barrier; both marginal histograms, their doubled-rank windows, and
    the count-weighted Pearson rollup all derive from that DOMAIN-sized
    frame — the former three column-pruned corpus scans (two marginal
    groupBys + the pair join) collapse to one.
    """
    from pyspark.sql import Window

    joint = (
        df.groupBy(
            F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=False)
    )

    def ranks(col: str) -> DataFrame:
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return (
            joint.groupBy(col)
            .agg(F.sum("__c").cast("long").alias("__cc"))
            .select(
                col,
                (
                    2 * F.sum("__cc").over(w) - F.col("__cc") + 1
                ).cast("long").alias(f"r_{col}"),
            )
        )

    d38 = "decimal(38,0)"
    joined = (
        joint.join(F.broadcast(ranks("__x")), "__x")
        .join(F.broadcast(ranks("__y")), "__y")
        .select(
            F.col("__c").cast(d38).alias("c"),
            F.col("r___x").cast(d38).alias("rx"),
            F.col("r___y").cast(d38).alias("ry"),
        )
    )
    # coalesce keeps the empty-input pin (n=0, rho=0.0) now that n is a
    # weighted sum rather than a count
    zero = F.lit(0).cast(d38)
    a = joined.agg(
        F.coalesce(F.sum("c"), zero).cast(d38).alias("n"),
        F.coalesce(F.sum(F.col("c") * F.col("rx")), zero)
        .cast(d38)
        .alias("sx"),
        F.coalesce(F.sum(F.col("c") * F.col("ry")), zero)
        .cast(d38)
        .alias("sy"),
        F.coalesce(
            F.sum(F.col("c") * F.col("rx") * F.col("ry")), zero
        )
        .cast(d38)
        .alias("sxy"),
        F.coalesce(
            F.sum(F.col("c") * F.col("rx") * F.col("rx")), zero
        )
        .cast(d38)
        .alias("sxx"),
        F.coalesce(
            F.sum(F.col("c") * F.col("ry") * F.col("ry")), zero
        )
        .cast(d38)
        .alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return a.select(
        F.col("n").cast("long").alias("n"),
        F.when((vx == 0) | (vy == 0), F.lit(0.0))
        .otherwise(
            num.cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
        )
        .alias("rho"),
    )


def conformal_lower_bound(
    df: DataFrame,
    score_col: str = "sq",
    cal_col: str = "is_cal",
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Split-conformal lower prediction bound with finite-sample
    coverage (public: Vovk et al. 2005, "Algorithmic Learning in a
    Random World"; Papadopoulos et al. 2002 split/inductive form; Lei
    et al. 2018 popularized the quantile recipe) — the
    distribution-free guarantee layer over the quality classifier,
    beside iso1's calibration and bs1's scorecard: from a calibration
    split, the threshold q̂ such that P(score ≥ q̂) ≥ 1 − α for
    exchangeable future documents.

    The split-conformal quantile is an ORDER STATISTIC, so everything
    is exact integers over the 1e6-quantized score domain:

        k        = max(1, ⌊α·(n_cal + 1)⌋)       (exact: (n_cal+1)·αn // αd)
        q̂        = k-th smallest calibration score
                   (min score whose cumulative histogram count ≥ k)
        coverage = #{test: score ≥ q̂} / n_test   (1e-9 truncating div)

    Scale shape: ONE corpus scan feeds both splits (conditional
    aggregates), the calibration histogram is score-domain-sized and
    its cumulative window bounded (mwu1's discipline), and the
    threshold broadcasts back to the test-side aggregate. Returns one
    row: (n_cal, n_test, k, thr, n_covered, coverage_q9).

    Degenerate splits are pinned (not oracle territory — the CF1 oracle
    presumes both splits non-empty): an EMPTY calibration split yields
    n_cal=0, k=1, thr=NULL, n_covered=NULL, coverage_q9=NULL (no
    threshold exists, so coverage is undefined); an EMPTY test split
    yields n_test=0 and coverage_q9=NULL.
    """
    from pyspark.sql import Window

    cal = df.filter(F.col(cal_col)).select(F.col(score_col).alias("s"))
    # score-domain-sized, referenced three times (cum window, n_cal,
    # threshold probe): the lazy checkpoint keeps the calibration-side
    # corpus scan at ONE (the test half is its own scan by necessity)
    hist = (
        cal.groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    wcum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "s", F.sum("c").over(wcum).cast("long").alias("cum")
    )
    ncal = hist.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_cal")
    )
    ka = ((F.col("n_cal") + 1) * alpha_num).cast("decimal(38,0)")
    kd = F.lit(alpha_den).cast("decimal(38,0)")
    k = ncal.select(
        "n_cal",
        F.greatest(
            F.lit(1).cast("long"),
            ((ka - ka % kd) / kd).cast("long"),
        ).alias("k"),
    )
    # probe and carrier split so an EMPTY calibration split still
    # yields ONE row (thr=NULL) instead of an all-NULL agg row that
    # loses n_cal/k — k always has one row; the probe agg always has
    # one row (min over empty = NULL)
    thr_probe = (
        cum.crossJoin(F.broadcast(k))
        .filter(F.col("cum") >= F.col("k"))
        .agg(F.min("s").cast("long").alias("thr"))
    )
    thr = k.crossJoin(F.broadcast(thr_probe))
    test = df.filter(~F.col(cal_col)).select(
        F.col(score_col).alias("s")
    )
    k9 = F.lit(1_000_000_000).cast("decimal(38,0)")
    # test aggregated on its own, then joined to the always-one-row
    # carrier: an EMPTY test split must not NULL out n_cal/k/thr via
    # first() over zero rows
    test_agg = test.crossJoin(F.broadcast(thr.select("thr"))).agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.when(F.col("s") >= F.col("thr"), 1).otherwise(0))
        .cast("long")
        .alias("n_covered"),
    )
    return (
        thr.crossJoin(F.broadcast(test_agg))
        .select(
            "n_cal",
            "n_test",
            "k",
            "thr",
            # no threshold (empty calibration split) → coverage column
            # pinned NULL, not a spurious 0 count
            F.when(F.col("thr").isNull(), F.lit(None).cast("long"))
            .otherwise(F.col("n_covered"))
            .alias("n_covered"),
            F.when(
                F.col("thr").isNull() | (F.col("n_test") == 0),
                F.lit(None).cast("long"),
            )
            .otherwise(
                (
                    (
                        F.col("n_covered").cast("decimal(38,0)") * k9
                        - (F.col("n_covered").cast("decimal(38,0)") * k9)
                        % F.col("n_test").cast("decimal(38,0)")
                    )
                    / F.col("n_test").cast("decimal(38,0)")
                ).cast("long")
            )
            .alias("coverage_q9"),
        )
    )


def cohens_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cohen's kappa chance-corrected agreement between two BINARY
    raters (public: Cohen 1960) — the two-rater companion to fk1's
    Fleiss kappa: how much do two cheap document gates agree beyond
    what their base rates force?

    With the 2×2 confusion (n11, n10, n01, n00), marginals a1/a0 (rater
    A) and b1/b0 (rater B), kappa is exactly rational:

        kappa = (n·(n11 + n00) − (a1·b1 + a0·b0))
                / (n² − (a1·b1 + a0·b0))

    so po/pe/kappa are all single truncating divisions at 1e-9
    (`_floordiv_dec` — signed: kappa < 0 when agreement is below
    chance, and truncation matches DuckDB ``//``). Perfect forced
    agreement (pe = 1, zero denominator) pins kappa_q9 = 1e9, the
    fk1 convention. Returns one row:
    (n, n11, n10, n01, n00, po_q9, pe_q9, kappa_q9).

    Scale shape: ONE map-side-combined corpus scan into four
    conditional counts; everything after is scalar algebra.
    """
    a = F.col(a_col).cast("boolean")
    b = F.col(b_col).cast("boolean")
    cell = lambda pa, pb: F.coalesce(  # noqa: E731
        F.sum(
            F.when((a == F.lit(pa)) & (b == F.lit(pb)), 1).otherwise(0)
        ),
        F.lit(0),
    ).cast("long")
    conf = df.agg(
        cell(True, True).alias("n11"),
        cell(True, False).alias("n10"),
        cell(False, True).alias("n01"),
        cell(False, False).alias("n00"),
    )
    d38 = "decimal(38,0)"
    n11, n10, n01, n00 = (
        F.col(c).cast(d38) for c in ("n11", "n10", "n01", "n00")
    )
    n = n11 + n10 + n01 + n00
    agree = n11 + n00
    pe_num = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
    num = n * agree - pe_num
    den = n * n - pe_num
    k9 = F.lit(1_000_000_000).cast(d38)
    return conf.select(
        n.cast("long").alias("n"),
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(n == 0, F.lit(None).cast("long"))
        .otherwise(_floordiv_dec(agree * k9, n).cast("long"))
        .alias("po_q9"),
        F.when(n == 0, F.lit(None).cast("long"))
        .otherwise(_floordiv_dec(pe_num * k9, n * n).cast("long"))
        .alias("pe_q9"),
        F.when(n == 0, F.lit(None).cast("long"))
        .when(den == 0, F.lit(1_000_000_000))
        .otherwise(_floordiv_dec(num * k9, den).cast("long"))
        .alias("kappa_q9"),
    )


def kendall_tau_b_from_cells(
    cells: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    count_col: str = "c",
) -> DataFrame:
    """Tie-corrected Kendall τ-b over a CONTINGENCY table (public:
    Kendall 1945 for τ-b; the contingency form is the standard
    grouped-data recipe, e.g. Agresti, "Analysis of Ordinal Categorical
    Data") — the concordance companion to sr1's Spearman: τ counts
    order agreements pair-by-pair, so it is robust where Spearman's
    rank-variance algebra is leveraged by outlying ranks.

    Over cells (x, y, c):

        C  = Σ c_ij · c_i'j'  over i' > i, j' > j   (concordant pairs)
        D  = Σ c_ij · c_i'j'  over i' > i, j' < j   (discordant pairs)
        d1 = n(n−1) − Σ_x t_x(t_x−1)   (2·(n0−n1), row-tie corrected)
        d2 = n(n−1) − Σ_y u_y(u_y−1)
        τb = 2(C − D) / √(d1·d2)

    C/D/d1/d2 are exact BIGINTs (headroom n ≤ 3·10⁹); τb is ONE double
    expression, pinned 0.0 when either tie-corrected variance is 0
    (constant margin). Returns one row: (n, conc, disc, d1, d2, tau_b).

    Scale shape: the contingency frame is DOMAIN-sized (callers build
    it with one map-side-combined corpus rollup), so the pair self-join
    is cells² — trivial and broadcast; marginals are two more
    domain-sized groupBys off the same checkpointed frame.
    """
    cells = cells.select(
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
        F.col(count_col).cast("long").alias("__c"),
    ).localCheckpoint(eager=False)
    d38 = "decimal(38,0)"
    b = cells.select(
        F.col("__x").alias("__x2"),
        F.col("__y").alias("__y2"),
        F.col("__c").alias("__c2"),
    )
    pairs = cells.join(F.broadcast(b), F.col("__x2") > F.col("__x")).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__y2") > F.col("__y"),
                    F.col("__c").cast(d38) * F.col("__c2").cast(d38),
                ).otherwise(F.lit(0).cast(d38))
            ),
            F.lit(0).cast(d38),
        ).alias("conc"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__y2") < F.col("__y"),
                    F.col("__c").cast(d38) * F.col("__c2").cast(d38),
                ).otherwise(F.lit(0).cast(d38))
            ),
            F.lit(0).cast(d38),
        ).alias("disc"),
    )

    def tie_sum(col: str, alias: str):
        t = F.col("__t").cast(d38)
        return (
            cells.groupBy(col)
            .agg(F.sum("__c").cast(d38).alias("__t"))
            .agg(
                F.coalesce(F.sum(t * (t - 1)), F.lit(0).cast(d38)).alias(
                    alias
                )
            )
        )

    tot = cells.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast(d38).alias("n")
    )
    nn = F.col("n")
    base = (
        tot.crossJoin(F.broadcast(tie_sum("__x", "tx")))
        .crossJoin(F.broadcast(tie_sum("__y", "uy")))
        .crossJoin(F.broadcast(pairs))
        .select(
            nn.cast("long").alias("n"),
            F.col("conc").cast("long").alias("conc"),
            F.col("disc").cast("long").alias("disc"),
            (nn * (nn - 1) - F.col("tx")).cast("long").alias("d1"),
            (nn * (nn - 1) - F.col("uy")).cast("long").alias("d2"),
        )
    )
    return base.select(
        "n",
        "conc",
        "disc",
        "d1",
        "d2",
        F.when((F.col("d1") == 0) | (F.col("d2") == 0), F.lit(0.0))
        .otherwise(
            2.0
            * (F.col("conc") - F.col("disc")).cast("double")
            / F.sqrt(
                F.col("d1").cast("double") * F.col("d2").cast("double")
            )
        )
        .alias("tau_b"),
    )


def matthews_corr(
    df: DataFrame,
    truth_col: str,
    pred_col: str,
) -> DataFrame:
    """Matthews correlation coefficient for a binary classifier (public:
    Matthews 1975; the balanced single-number confusion summary) — the
    effect-size companion to kp1's chance-corrected agreement: kappa
    asks "do the gates agree beyond base rates", MCC asks "how well
    does the prediction CORRELATE with the truth" and stays honest
    under class imbalance where accuracy saturates.

    With the 2×2 confusion (tp, fn, fp, tn) and marginals
    p1 = tp+fp, t1 = tp+fn, p0 = tn+fn, t0 = tn+fp:

        MCC = (tp·tn − fp·fn) / √(p1·t1·p0·t0)

    The numerator and all four marginals are exact BIGINT/decimal(38)
    off ONE map-side-combined corpus scan. The √ product would pass
    decimal(38) around n ≈ 3·10⁹ if formed whole, so it is split into
    two exact decimal(38) pair-products (each ≤ n²) cast to double —
    √(p1·t1)·√(p0·t0), the identical expression on both engines. Any
    zero marginal (degenerate truth or prediction margin) pins
    mcc_q6 = 0, the scikit-learn convention. Returns one row:
    (n, tp, fn, fp, tn, mcc_q6).
    """
    t = F.col(truth_col).cast("boolean")
    p = F.col(pred_col).cast("boolean")
    cell = lambda pt, pp: F.coalesce(  # noqa: E731
        F.sum(
            F.when((t == F.lit(pt)) & (p == F.lit(pp)), 1).otherwise(0)
        ),
        F.lit(0),
    ).cast("long")
    conf = df.agg(
        cell(True, True).alias("tp"),
        cell(True, False).alias("fn"),
        cell(False, True).alias("fp"),
        cell(False, False).alias("tn"),
    )
    d38 = "decimal(38,0)"
    tp, fn, fp, tn = (
        F.col(c).cast(d38) for c in ("tp", "fn", "fp", "tn")
    )
    num = tp * tn - fp * fn
    pt1 = (tp + fp) * (tp + fn)
    pt0 = (tn + fn) * (tn + fp)
    return conf.select(
        (tp + fn + fp + tn).cast("long").alias("n"),
        "tp",
        "fn",
        "fp",
        "tn",
        F.when((pt1 == 0) | (pt0 == 0), F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                num.cast("double")
                / (F.sqrt(pt1.cast("double")) * F.sqrt(pt0.cast("double")))
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("mcc_q6"),
    )


def kruskal_wallis_from_hist(
    hist: DataFrame,
    sq_col: str = "sq",
    group_col: str = "g",
    count_col: str = "c",
) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H test over a per-group score
    HISTOGRAM (public: Kruskal & Wallis 1952) — the k-group extension
    of mwu1's two-sample rank test: do the k populations share a
    location, judged purely on ranks?

    Input is (sq, g, c): per-(score-bin, group) counts — one map-side-
    combined corpus rollup; everything below runs over the bounded
    score domain, never the corpus (the a13 histogram-first lesson).
    With per-bin totals ct and cum_before the ranks below the bin,
    DOUBLED average ranks are integers (mwu1's device), so the doubled
    per-group rank sum r2_g = Σ_bins c_g·(2·cum_before + ct + 1) is an
    exact integer, and

        H = 12/(n(n+1)) · Σ_g R_g²/n_g − 3(n+1)
          = Σ_g 3·r2_g²/(n_g·n·(n+1)) − 3(n+1)          (r2_g = 2R_g)

    Each group term is quantized at 1e-9 by the STAGED exact division
    (q·1e9 + (rem·1e9)//B, crv1's device — decimal(38) headroom holds
    to n ≈ 10⁹ since 3·r2_g² ≤ 12n⁴). The tie correction divides by
    1 − Σ(ct³−ct)/(n³−n); h_tied_q6 is ONE double expression from the
    exact integers, half-up at 1e-6, pinned 0 when everything is tied
    (correction denominator 0). n = 0 pins both statistics NULL.
    Returns one row: (n, n_groups, ties_cubed, h_q9, h_tied_q6).
    """
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    cells = hist.select(
        F.col(sq_col).alias("__sq"),
        F.col(group_col).alias("__g"),
        F.col(count_col).cast("long").alias("__c"),
    ).localCheckpoint(eager=False)
    by_sq = cells.groupBy("__sq").agg(F.sum("__c").alias("__ct"))
    w = Window.orderBy("__sq").rowsBetween(Window.unboundedPreceding, 0)
    cum = by_sq.select(
        "__sq",
        "__ct",
        (F.sum("__ct").over(w) - F.col("__ct")).alias("__cumb"),
    )
    contrib = cells.join(cum, "__sq").select(
        "__g",
        "__c",
        (
            F.col("__c").cast(d38)
            * (2 * F.col("__cumb").cast(d38) + F.col("__ct").cast(d38) + 1)
        ).alias("__r2t"),
    )
    grp = contrib.groupBy("__g").agg(
        F.sum("__c").cast(d38).alias("__ng"),
        F.sum("__r2t").cast(d38).alias("__r2g"),
    )
    ties = by_sq.agg(
        F.coalesce(
            F.sum(
                F.col("__ct").cast(d38)
                * F.col("__ct").cast(d38)
                * F.col("__ct").cast(d38)
                - F.col("__ct").cast(d38)
            ),
            F.lit(0).cast(d38),
        ).alias("ties")
    )
    tot = grp.agg(
        F.coalesce(F.sum("__ng"), F.lit(0).cast(d38)).cast(d38).alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )
    k9 = F.lit(1_000_000_000).cast(d38)
    a_num = 3 * F.col("__r2g") * F.col("__r2g")
    b_den = F.col("__ng") * F.col("n") * (F.col("n") + 1)
    terms = (
        grp.crossJoin(F.broadcast(tot))
        .select(
            (
                # staged floor(3·r2_g²·1e9 / (n_g·n·(n+1))): quotient
                # then remainder, so the 1e9 scale never multiplies the
                # full numerator (decimal(38) headroom to n ≈ 1e9)
                _floordiv_dec(a_num, b_den).cast(d38) * k9
                + _floordiv_dec((a_num % b_den) * k9, b_den).cast(d38)
            ).alias("__tq9")
        )
        .agg(
            F.coalesce(F.sum("__tq9"), F.lit(0).cast(d38)).alias("__sum_q9")
        )
    )
    nn = F.col("n")
    corr_den = nn * nn * nn - nn
    corr_num = corr_den - F.col("ties")
    h_q9 = (F.col("__sum_q9") - 3 * (nn + 1) * k9).cast("long")
    return (
        tot.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(terms))
        .select(
            nn.cast("long").alias("n"),
            "n_groups",
            F.col("ties").cast("long").alias("ties_cubed"),
            F.when(nn == 0, F.lit(None).cast("long"))
            .otherwise(h_q9)
            .alias("h_q9"),
            F.when(nn == 0, F.lit(None).cast("long"))
            .when(corr_num == 0, F.lit(0).cast("long"))
            .otherwise(
                F.floor(
                    h_q9.cast("double")
                    / F.lit(1e9)
                    * (corr_den.cast("double") / corr_num.cast("double"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("long")
            )
            .alias("h_tied_q6"),
        )
    )


def lins_ccc(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Lin's concordance correlation coefficient between two integer-
    quantized scores on the same scale (public: Lin 1989) — the
    agreement statistic that punishes BOTH scatter and bias, where
    Pearson forgives a systematic offset: do two quality scorers
    actually produce interchangeable numbers?

    With population moments, CCC is exactly rational in the raw sums:

        ccc = 2·(n·Σxy − Σx·Σy)
              / (n·Σx² − (Σx)² + n·Σy² − (Σy)² + (Σx − Σy)²)

    All five sums are exact decimal(38) off ONE map-side-combined
    corpus scan (headroom: scores ≤ 1e6 keep n·Σxy below 1e38 until
    n ≈ 10¹³ rows); ccc_q9 is one signed truncating division
    (`_floordiv_dec`, DuckDB ``//`` parity). A zero denominator means
    both scores are constant AND equal — perfect agreement, pinned
    ccc_q9 = 1e9. n = 0 pins NULL. Returns one row:
    (n, sum_x, sum_y, ccc_q9).
    """
    d38 = "decimal(38,0)"
    x = F.col(x_col).cast(d38)
    y = F.col(y_col).cast(d38)
    mom = df.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.coalesce(F.sum(x), F.lit(0).cast(d38)).alias("sx"),
        F.coalesce(F.sum(y), F.lit(0).cast(d38)).alias("sy"),
        F.coalesce(F.sum(x * x), F.lit(0).cast(d38)).alias("sxx"),
        F.coalesce(F.sum(y * y), F.lit(0).cast(d38)).alias("syy"),
        F.coalesce(F.sum(x * y), F.lit(0).cast(d38)).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = 2 * (n * F.col("sxy") - sx * sy)
    den = (
        n * F.col("sxx")
        - sx * sx
        + n * F.col("syy")
        - sy * sy
        + (sx - sy) * (sx - sy)
    )
    k9 = F.lit(1_000_000_000).cast(d38)
    return mom.select(
        n.cast("long").alias("n"),
        sx.cast("long").alias("sum_x"),
        sy.cast("long").alias("sum_y"),
        F.when(n == 0, F.lit(None).cast("long"))
        .when(den == 0, F.lit(1_000_000_000))
        .otherwise(_floordiv_dec(num * k9, den).cast("long"))
        .alias("ccc_q9"),
    )


def mcnemar_test(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """McNemar's test for two PAIRED binary gates on the same rows
    (public: McNemar 1947) — the within-subjects companion to kp1/mcc1:
    those ask how well two signals agree or correlate; McNemar asks
    whether gate A passes a DIFFERENT fraction than gate B, judged only
    on the discordant pairs (rows where exactly one gate fires).

    With the paired 2×2 (both, a_only, b_only, neither):

        χ²   = (b − c)² / (b + c)          b = a_only, c = b_only
        χ²cc = (|b − c| − 1)² / (b + c)    (Edwards continuity corr.)

    Both statistics are exact rationals of BIGINTs off ONE
    map-side-combined corpus scan; they are emitted as 1e-6-quantized
    BIGINTs via the exact remainder-trick division (numerators are
    ≤ n²·1e6 — decimal(38) headroom to n ≈ 10¹⁵). No discordant pairs
    (b + c = 0) pins both to 0; |b − c| ≤ 1 pins the corrected form
    to 0 (the correction clamps at zero, the standard convention).
    Returns one row: (n, both, a_only, b_only, neither, chi2_q6,
    chi2_cc_q6).
    """
    a = F.col(a_col).cast("boolean")
    b = F.col(b_col).cast("boolean")
    cell = lambda pa, pb: F.coalesce(  # noqa: E731
        F.sum(
            F.when((a == F.lit(pa)) & (b == F.lit(pb)), 1).otherwise(0)
        ),
        F.lit(0),
    ).cast("long")
    conf = df.agg(
        cell(True, True).alias("both"),
        cell(True, False).alias("a_only"),
        cell(False, True).alias("b_only"),
        cell(False, False).alias("neither"),
    )
    d38 = "decimal(38,0)"
    bo = F.col("a_only").cast(d38)
    co = F.col("b_only").cast(d38)
    disc = bo + co
    k6 = F.lit(1_000_000).cast(d38)
    dev = bo - co
    adev = F.abs(dev)
    adev1 = F.greatest(adev - 1, F.lit(0).cast(d38))
    return conf.select(
        (F.col("both") + F.col("a_only") + F.col("b_only") + F.col("neither"))
        .cast("long")
        .alias("n"),
        "both",
        "a_only",
        "b_only",
        "neither",
        F.when(disc == 0, F.lit(0).cast("long"))
        .otherwise(_floordiv_dec(dev * dev * k6, disc).cast("long"))
        .alias("chi2_q6"),
        F.when(disc == 0, F.lit(0).cast("long"))
        .otherwise(_floordiv_dec(adev1 * adev1 * k6, disc).cast("long"))
        .alias("chi2_cc_q6"),
    )


def anova_f(
    df: DataFrame,
    group_col: str,
    x_col: str,
) -> DataFrame:
    """One-way ANOVA F over an INTEGER response (public: Fisher 1925)
    — the parametric companion to kwh1's rank test on the same k-group
    question: do the group MEANS differ, judged on variance decomposed
    between vs within groups?

        SSB = Σ_g S_g²/n_g − S²/N      SSW = Q − Σ_g S_g²/n_g
        F   = (SSB/(k−1)) / (SSW/(N−k))

    One map-side-combined corpus scan to the per-group moment triple
    (n_g, S_g = Σx, Q_g = Σx²); everything below runs on the k-row
    domain frame. Each S_g²/n_g term and S²/N are quantized at 1e-9 by
    the STAGED exact division (q·1e9 + (rem·1e9) trunc-div n — never
    forming S_g²·1e9, so decimal(38) holds while S_g² < 10³⁸, i.e.
    x ≤ 1e6-scaled responses to N ≈ 10¹³ rows). SSB can land a few
    1e-9 below 0 on exactly-equal group means from the floor artifacts
    — clamped to 0. The EMITTED sums of squares are the MEAN squares
    msb_q6 = ⌊SSB·1e9/((k−1)·1e3)⌋ and msw_q6 = ⌊SSW·1e9/((N−k)·1e3)⌋:
    mean squares are variance-scaled, so the q6 BIGINTs are
    N-INDEPENDENT (raw SS·1e9 overflows int64 on any real corpus —
    caught at sf0.01). F is ONE double expression from the exact q9
    sums; degenerate designs (k < 2, N ≤ k, or SSW = 0) pin the
    affected outputs to 0. Returns one row:
    (n, k, msb_q6, msw_q6, f_q6).
    """
    d38 = "decimal(38,0)"
    x = F.col(x_col).cast(d38)
    per = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast(d38).alias("ng"),
        F.coalesce(F.sum(x), F.lit(0).cast(d38)).alias("sg"),
        F.coalesce(F.sum(x * x), F.lit(0).cast(d38)).alias("qg"),
    )
    k9 = F.lit(1_000_000_000).cast(d38)

    def staged_q9(num2: Column, den: Column) -> Column:
        # floor(num2·1e9/den) without forming num2·1e9: exact while
        # num2 itself fits decimal(38)
        q = _floordiv_dec(num2, den)
        return q * k9 + _floordiv_dec((num2 % den) * k9, den)

    agg = per.agg(
        F.coalesce(F.sum("ng"), F.lit(0).cast(d38)).alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.coalesce(F.sum("sg"), F.lit(0).cast(d38)).alias("s"),
        F.coalesce(F.sum("qg"), F.lit(0).cast(d38)).alias("q"),
        F.coalesce(
            F.sum(staged_q9(F.col("sg") * F.col("sg"), F.col("ng"))),
            F.lit(0).cast(d38),
        ).alias("sum_sg2_q9"),
    )
    n, k = F.col("n"), F.col("k").cast(d38)
    ssb = F.greatest(
        F.col("sum_sg2_q9") - staged_q9(F.col("s") * F.col("s"), n),
        F.lit(0).cast(d38),
    )
    ssw = F.greatest(
        F.col("q") * k9 - F.col("sum_sg2_q9"), F.lit(0).cast(d38)
    )
    f_expr = (
        ssb.cast("double")
        * (n - k).cast("double")
        / (ssw.cast("double") * (k - 1).cast("double"))
    )
    k3 = F.lit(1_000).cast(d38)
    return agg.select(
        n.cast("long").alias("n"),
        "k",
        F.when(F.col("k") < 2, F.lit(0).cast("long"))
        .otherwise(_floordiv_dec(ssb, (k - 1) * k3).cast("long"))
        .alias("msb_q6"),
        F.when(n <= k, F.lit(0).cast("long"))
        .otherwise(_floordiv_dec(ssw, (n - k) * k3).cast("long"))
        .alias("msw_q6"),
        F.when(
            (F.col("k") < 2) | (n <= k) | (ssw == 0), F.lit(0).cast("long")
        )
        .otherwise(
            F.floor(f_expr * F.lit(1e6) + F.lit(0.5)).cast("long")
        )
        .alias("f_q6"),
    )


def welch_t(
    df: DataFrame,
    flag_col: str,
    x_col: str,
) -> DataFrame:
    """Welch's unequal-variance two-sample t (public: Welch 1947) with
    the Welch–Satterthwaite degrees of freedom — the parametric
    companion to mwu1's rank test and cld1's ordinal effect size on the
    same two-group framing, robust to the variance imbalance a
    pooled-variance t assumes away.

    One map-side-combined corpus scan to both groups' exact moment
    triples (n_i, S_i, Q_i) via conditional aggregation. With the exact
    decimal variance numerator v_i = n_i·Q_i − S_i², the per-group
    squared standard error is the ONE double expression
    a_i = v_i / (n_i²·(n_i−1)), and

        t  = (S₁/n₁ − S₂/n₂) / √(a₁ + a₂)
        df = (a₁ + a₂)² / (a₁²/(n₁−1) + a₂²/(n₂−1))

    — both single double expressions over exact integers, identical on
    both engines. Degenerate framings (either n_i < 2, or a₁ + a₂ = 0)
    pin t_q6 = 0 and df_q3 = 0. Returns one row:
    (n_true, n_false, sum_true, sum_false, t_q6, df_q3).
    """
    d38 = "decimal(38,0)"
    flag = F.col(flag_col).cast("boolean")
    x = F.col(x_col).cast(d38)
    side = lambda pf, e: F.coalesce(  # noqa: E731
        F.sum(F.when(flag == F.lit(pf), e)), F.lit(0).cast(d38)
    )
    mom = df.agg(
        side(True, F.lit(1).cast(d38)).alias("n1"),
        side(False, F.lit(1).cast(d38)).alias("n2"),
        side(True, x).alias("s1"),
        side(False, x).alias("s2"),
        side(True, x * x).alias("q1"),
        side(False, x * x).alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    a1 = (n1 * F.col("q1") - F.col("s1") * F.col("s1")).cast("double") / (
        n1 * n1 * (n1 - 1)
    ).cast("double")
    a2 = (n2 * F.col("q2") - F.col("s2") * F.col("s2")).cast("double") / (
        n2 * n2 * (n2 - 1)
    ).cast("double")
    t_expr = (
        F.col("s1").cast("double") / n1.cast("double")
        - F.col("s2").cast("double") / n2.cast("double")
    ) / F.sqrt(a1 + a2)
    df_expr = ((a1 + a2) * (a1 + a2)) / (
        a1 * a1 / (n1 - 1).cast("double") + a2 * a2 / (n2 - 1).cast("double")
    )
    # the zero-variance pin must be part of the CASE: with a1+a2 = 0 the
    # t expression is ±Inf/NaN and an ANSI-mode cast to long would throw
    v1 = n1 * F.col("q1") - F.col("s1") * F.col("s1")
    v2 = n2 * F.col("q2") - F.col("s2") * F.col("s2")
    degenerate = (n1 < 2) | (n2 < 2) | ((v1 == 0) & (v2 == 0))
    return mom.select(
        n1.cast("long").alias("n_true"),
        n2.cast("long").alias("n_false"),
        F.col("s1").cast("long").alias("sum_true"),
        F.col("s2").cast("long").alias("sum_false"),
        F.when(degenerate, F.lit(0).cast("long"))
        .otherwise(F.floor(t_expr * F.lit(1e6) + F.lit(0.5)).cast("long"))
        .alias("t_q6"),
        F.when(degenerate, F.lit(0).cast("long"))
        .otherwise(F.floor(df_expr * F.lit(1e3) + F.lit(0.5)).cast("long"))
        .alias("df_q3"),
    )


def brown_forsythe_from_hist(
    hist: DataFrame,
    group_col: str = "g",
    value_col: str = "v",
    count_col: str = "c",
) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test over a per-group value
    HISTOGRAM (public: Brown & Forsythe 1974; Levene 1960 with the
    median center) — the missing check UNDER aov1: ANOVA's F compares
    means assuming similar spreads; Brown–Forsythe asks whether the
    spreads themselves differ, robustly (deviations from the group
    MEDIAN, not the mean).

    Off the (g, v, c) histogram everything is group-domain work:

    1. per-group lower nearest-rank median (order statistic
       ⌈n_g/2⌉ — ts2's device) from the cumulative histogram;
    2. transformed moments n_g, S_g = Σc·|v−med_g|, Q_g = Σc·(v−med_g)²
       — |v−med_g| is an exact BIGINT;
    3. aov1's one-way F on the transformed response: staged-q9 SSB/SSW
       (exact remainder-trick divisions), N-independent mean squares
       msb_q6/msw_q6, F one double expression.

    Degenerate designs (k < 2, N ≤ k, SSW = 0) pin the affected
    outputs to 0. Returns one row: (n, k, msb_q6, msw_q6, f_q6).

    Scale shape: the corpus contact is whatever one rollup built the
    histogram; the cumulative-median window and both aggregates below
    run on the (group × value-domain) frame.
    """
    d38 = "decimal(38,0)"
    from pyspark.sql import Window

    h = hist.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("long").alias("v"),
        F.col(count_col).cast("long").alias("c"),
    ).localCheckpoint(eager=False)
    w_cum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sizes = h.groupBy("g").agg(F.sum("c").cast("long").alias("ng"))
    with_cum = h.join(F.broadcast(sizes), "g").select(
        "g",
        "v",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.expr("(ng + 1) div 2").alias("target"),
    )
    med = (
        with_cum.filter(F.col("cum") >= F.col("target"))
        .groupBy("g")
        .agg(F.min("v").alias("med"))
    )
    a = F.abs(F.col("v") - F.col("med")).cast(d38)
    c = F.col("c").cast(d38)
    per = (
        h.join(F.broadcast(med), "g")
        .groupBy("g")
        .agg(
            F.sum(c).alias("ng"),
            F.coalesce(F.sum(c * a), F.lit(0).cast(d38)).alias("sg"),
            F.coalesce(F.sum(c * a * a), F.lit(0).cast(d38)).alias("qg"),
        )
    )
    k9 = F.lit(1_000_000_000).cast(d38)

    def staged_q9(num2: Column, den: Column) -> Column:
        q = _floordiv_dec(num2, den)
        return q * k9 + _floordiv_dec((num2 % den) * k9, den)

    agg = per.agg(
        F.coalesce(F.sum("ng"), F.lit(0).cast(d38)).alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.coalesce(F.sum("qg"), F.lit(0).cast(d38)).alias("q"),
        F.coalesce(F.sum(staged_q9(F.col("sg") * F.col("sg"), F.col("ng"))),
                   F.lit(0).cast(d38)).alias("sum_sg2_q9"),
        F.coalesce(F.sum("sg"), F.lit(0).cast(d38)).alias("s"),
    )
    n, k = F.col("n"), F.col("k").cast(d38)
    ssb = F.greatest(
        F.col("sum_sg2_q9") - staged_q9(F.col("s") * F.col("s"), n),
        F.lit(0).cast(d38),
    )
    ssw = F.greatest(
        F.col("q") * k9 - F.col("sum_sg2_q9"), F.lit(0).cast(d38)
    )
    f_expr = (
        ssb.cast("double")
        * (n - k).cast("double")
        / (ssw.cast("double") * (k - 1).cast("double"))
    )
    k3 = F.lit(1_000).cast(d38)
    return agg.select(
        n.cast("long").alias("n"),
        "k",
        F.when(F.col("k") < 2, F.lit(0).cast("long"))
        .otherwise(_floordiv_dec(ssb, (k - 1) * k3).cast("long"))
        .alias("msb_q6"),
        F.when(n <= k, F.lit(0).cast("long"))
        .otherwise(_floordiv_dec(ssw, (n - k) * k3).cast("long"))
        .alias("msw_q6"),
        F.when(
            (F.col("k") < 2) | (n <= k) | (ssw == 0), F.lit(0).cast("long")
        )
        .otherwise(F.floor(f_expr * F.lit(1e6) + F.lit(0.5)).cast("long"))
        .alias("f_q6"),
    )

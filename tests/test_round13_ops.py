"""Round-13 operators: brute-force replays and semantic pins for the
13-gram decontamination gate, quality-canonical dedup, and the
Kruskal-Wallis / Matthews / Cochran-Armitage / Ljung-Box / Lin's-CCC
statistics."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- kwh1
def _kw_brute(groups: dict[str, list[int]]):
    """Literal Kruskal-Wallis with average ranks and tie correction."""
    allv = sorted(v for vs in groups.values() for v in vs)
    n = len(allv)
    # average rank per value
    rank = {}
    i = 0
    while i < len(allv):
        j = i
        while j < len(allv) and allv[j] == allv[i]:
            j += 1
        rank[allv[i]] = (i + 1 + j) / 2.0
        i = j
    h = 0.0
    for vs in groups.values():
        rg = sum(rank[v] for v in vs)
        h += rg * rg / len(vs)
    h = 12.0 / (n * (n + 1)) * h - 3 * (n + 1)
    from collections import Counter

    ties = sum(c**3 - c for c in Counter(allv).values())
    corr = 1 - ties / (n**3 - n)
    return h, (h / corr if corr else 0.0), ties


def test_kruskal_wallis_vs_brute_replay(spark):
    from etl_oms_spark.operators.classifier import kruskal_wallis_from_hist

    groups = {
        "a": [1, 2, 2, 5, 7, 7, 7],
        "b": [2, 3, 3, 8, 9],
        "c": [1, 1, 4, 6, 6, 10, 11, 12],
    }
    rows = [
        (v, g, sum(1 for x in vs if x == v))
        for g, vs in groups.items()
        for v in sorted(set(vs))
    ]
    hist = spark.createDataFrame(rows, "sq long, g string, c long")
    got = kruskal_wallis_from_hist(hist).collect()[0]
    h, h_tied, ties = _kw_brute(groups)
    assert got["n"] == 20
    assert got["n_groups"] == 3
    assert got["ties_cubed"] == ties
    assert abs(got["h_q9"] / 1e9 - h) < 2e-8
    assert abs(got["h_tied_q6"] / 1e6 - h_tied) < 2e-5


def test_kruskal_wallis_single_group_is_zero(spark):
    """One group: every rank belongs to it, H collapses to 0 exactly
    (up to the 1e-9 staged-floor artifact on each group term)."""
    from etl_oms_spark.operators.classifier import kruskal_wallis_from_hist

    hist = spark.createDataFrame(
        [(1, "a", 3), (2, "a", 4), (5, "a", 2)], "sq long, g string, c long"
    )
    got = kruskal_wallis_from_hist(hist).collect()[0]
    assert abs(got["h_q9"]) <= 1
    assert abs(got["h_tied_q6"]) <= 1


# ------------------------------------------------------------- mcc1
def test_matthews_corr_vs_direct(spark):
    from etl_oms_spark.operators.classifier import matthews_corr

    # tp=4 fn=2 fp=1 tn=5
    rows = (
        [(True, True)] * 4
        + [(True, False)] * 2
        + [(False, True)] * 1
        + [(False, False)] * 5
    )
    df = spark.createDataFrame(rows, "t boolean, p boolean")
    got = matthews_corr(df, "t", "p").collect()[0]
    assert (got["tp"], got["fn"], got["fp"], got["tn"]) == (4, 2, 1, 5)
    want = (4 * 5 - 1 * 2) / math.sqrt((4 + 1) * (4 + 2) * (5 + 2) * (5 + 1))
    assert abs(got["mcc_q6"] / 1e6 - want) < 2e-6


def test_matthews_corr_degenerate_margin_pins_zero(spark):
    from etl_oms_spark.operators.classifier import matthews_corr

    df = spark.createDataFrame(
        [(True, True), (True, False), (True, True)], "t boolean, p boolean"
    )
    got = matthews_corr(df, "t", "p").collect()[0]
    assert got["mcc_q6"] == 0  # no negative truths: tn+fp margin is 0


# ------------------------------------------------------------- ca1
def test_cochran_armitage_vs_direct(spark):
    from etl_oms_spark.operators.validate import cochran_armitage

    # dose groups 0/1/2 with rising positive rates
    data = [(0, 10, 1), (1, 10, 4), (2, 10, 8)]  # (w, n_j, r_j)
    rows = []
    for w, nj, rj in data:
        rows += [(w, 1)] * rj + [(w, 0)] * (nj - rj)
    df = spark.createDataFrame(rows, "w long, pos long")
    got = cochran_armitage(df, "w", "pos").collect()[0]
    n = sum(nj for _, nj, _ in data)
    r = sum(rj for _, _, rj in data)
    sw = sum(w * nj for w, nj, _ in data)
    swr = sum(w * rj for w, _, rj in data)
    sw2 = sum(w * w * nj for w, nj, _ in data)
    a = n * swr - r * sw
    var_prod = r * (n - r) * (n * sw2 - sw * sw)
    z = a / math.sqrt(var_prod / n)
    assert got["n"] == n and got["r"] == r and got["n_groups"] == 3
    assert got["trend_num"] == a
    assert abs(got["z_q6"] / 1e6 - z) < 2e-6
    # a genuinely rising trend must be strongly positive
    assert got["z_q6"] > 2_000_000


def test_cochran_armitage_constant_outcome_pins_zero(spark):
    from etl_oms_spark.operators.validate import cochran_armitage

    df = spark.createDataFrame(
        [(0, 1), (1, 1), (2, 1)], "w long, pos long"
    )
    got = cochran_armitage(df, "w", "pos").collect()[0]
    assert got["z_q6"] == 0  # r = n: variance 0


# ------------------------------------------------------------- lb1
def test_ljung_box_vs_direct(spark):
    from etl_oms_spark.operators.temporal import ljung_box

    vals = [3, 7, 4, 9, 1, 6, 8, 2, 5, 10, 4, 7, 3, 8]
    df = spark.createDataFrame(
        [(t, v) for t, v in enumerate(vals)], "t long, rev_k long"
    )
    h = 4
    got = ljung_box(df, max_lag=h).collect()[0]
    n = len(vals)
    mean = sum(vals) / n
    den = sum((v - mean) ** 2 for v in vals)
    q = 0.0
    for k in range(1, h + 1):
        rho = (
            sum((vals[t] - mean) * (vals[t + k] - mean) for t in range(n - k))
            / den
        )
        q += rho * rho / (n - k)
    q *= n * (n + 2)
    assert got["n_days"] == n and got["h"] == h
    assert abs(got["q_lb"] - q) < 1e-4


def test_ljung_box_constant_series_is_zero(spark):
    from etl_oms_spark.operators.temporal import ljung_box

    df = spark.createDataFrame(
        [(t, 5) for t in range(20)], "t long, rev_k long"
    )
    got = ljung_box(df, max_lag=5).collect()[0]
    assert got["q_sum_q12"] == 0
    assert got["q_lb"] == 0.0


# ------------------------------------------------------------- ccc1
def test_lins_ccc_identity_and_shift(spark):
    from etl_oms_spark.operators.classifier import lins_ccc

    xs = [10, 20, 30, 40, 50]
    same = spark.createDataFrame([(x, x) for x in xs], "x long, y long")
    assert lins_ccc(same, "x", "y").collect()[0]["ccc_q9"] == 10**9

    shifted = spark.createDataFrame(
        [(x, x + 15) for x in xs], "x long, y long"
    )
    got = lins_ccc(shifted, "x", "y").collect()[0]
    n = len(xs)
    mx = sum(xs) / n
    my = mx + 15
    sxy = sum((x - mx) * (x + 15 - my) for x in xs) / n
    sx2 = sum((x - mx) ** 2 for x in xs) / n
    want = 2 * sxy / (sx2 + sx2 + 15**2)
    assert abs(got["ccc_q9"] / 1e9 - want) < 2e-9
    # bias punished: Pearson here is 1.0, CCC strictly below
    assert got["ccc_q9"] < 10**9


def test_lins_ccc_constant_equal_pins_one(spark):
    from etl_oms_spark.operators.classifier import lins_ccc

    df = spark.createDataFrame([(7, 7), (7, 7)], "x long, y long")
    assert lins_ccc(df, "x", "y").collect()[0]["ccc_q9"] == 10**9


# ------------------------------------------------------------- x13
def test_ngram_decontaminate_exact_copy_and_partial(spark):
    """An exact 13+-token copy of a benchmark doc is 100% contaminated;
    a doc sharing only a prefix has the matching fraction; a disjoint
    doc does not appear in the report."""
    from etl_oms_spark.operators.dedup import doc_ngrams, ngram_decontaminate

    bench_text = " ".join(f"w{i}" for i in range(20))  # 8 13-grams
    half = " ".join(f"w{i}" for i in range(13)) + " zz yy xx"
    other = " ".join(f"q{i}" for i in range(20))
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, bench_text), (2, half), (3, other)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in ngram_decontaminate(
            doc_ngrams(train), doc_ngrams(bench)
        ).collect()
    }
    assert set(got) == {1, 2}
    assert got[1]["n_grams"] == 8 and got[1]["hit_grams"] == 8
    assert got[1]["hit_frac_q6"] == 1_000_000 and got[1]["contaminated"]
    # doc 2 has 16 tokens -> 4 13-grams, exactly one (w0..w12) in bench
    assert got[2]["n_grams"] == 4 and got[2]["hit_grams"] == 1
    assert got[2]["hit_frac_q6"] == 250_000 and not got[2]["contaminated"]


def test_ngram_decontaminate_short_doc_whole_text_gram(spark):
    """Docs under 13 tokens fall back to their whole normalized text as
    the single gram — a verbatim short eval item still matches."""
    from etl_oms_spark.operators.dedup import doc_ngrams, ngram_decontaminate

    bench = spark.createDataFrame(
        [(100, "Short  Eval Item")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [(1, "short eval item"), (2, "different tiny doc")],
        "doc_id long, text string",
    )
    got = ngram_decontaminate(doc_ngrams(train), doc_ngrams(bench)).collect()
    assert len(got) == 1
    r = got[0]
    assert r["doc_id"] == 1 and r["contaminated"]


# ------------------------------------------------------------- d14
def test_quality_canonical_keeps_best_scoring_member(spark):
    """Within a canonical-fingerprint group the survivor is the max-
    score member (min id on ties), NOT d1's min id."""
    from etl_oms_spark.operators.dedup import quality_canonical_dedup

    rows = [
        (1, "Hello   World", 10),  # same fingerprint, low score
        (2, "hello world", 90),    # same fingerprint, best score
        (3, "HELLO WORLD", 90),    # tie on score -> loses to min id 2
        (4, "unique doc", 50),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q long")
    got = {
        r["doc_id"]: r
        for r in quality_canonical_dedup(df, F.col("q")).collect()
    }
    assert set(got) == {2, 4}
    assert got[2]["dup_count"] == 3 and got[2]["quality_q6"] == 90
    assert got[4]["dup_count"] == 1


def test_d14_survivors_partition_same_groups_as_d1(spark):
    """d14 and d1 must agree on the GROUPS (same fingerprint, same
    dup_count multiset) even when they disagree on the representative."""
    import __spark_entry__ as entry_mod

    d1 = entry_mod.d1_exact_dedup(spark, SF)
    d14 = entry_mod.d14_quality_canonical(spark, SF)
    c1 = sorted(r["dup_count"] for r in d1.collect())
    c14 = sorted(r["dup_count"] for r in d14.collect())
    assert c1 == c14


# ------------------------------------------------------- pack_shard guard
def test_pack_sequences_rejects_preexisting_pack_shard(spark):
    """AUTO_SHARD must refuse to clobber a caller's own pack_shard
    column (ADVICE r12) — and packing WITHIN it must stay available."""
    import pytest

    from etl_oms_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(1, 10, 0), (2, 10, 1)], "doc_id long, n_tok long, pack_shard int"
    )
    with pytest.raises(ValueError, match="pack_shard"):
        pack_sequences(df, "n_tok", budget=16)
    # explicit shard_col over the caller's column still works
    out = pack_sequences(df, "n_tok", budget=16, shard_col="pack_shard")
    assert out.count() == 2


# ------------------------------------------------------------- mcn1
def test_mcnemar_vs_direct(spark):
    from etl_oms_spark.operators.classifier import mcnemar_test

    # both=5, a_only=7, b_only=2, neither=6
    rows = (
        [(True, True)] * 5
        + [(True, False)] * 7
        + [(False, True)] * 2
        + [(False, False)] * 6
    )
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    got = mcnemar_test(df, "a", "b").collect()[0]
    assert (got["both"], got["a_only"], got["b_only"], got["neither"]) == (
        5, 7, 2, 6,
    )
    assert got["n"] == 20
    # chi2 = (7-2)^2/9 = 25/9; cc = (|5|-1)^2/9 = 16/9 — exact floors
    assert got["chi2_q6"] == 25 * 1_000_000 // 9
    assert got["chi2_cc_q6"] == 16 * 1_000_000 // 9


def test_mcnemar_no_discordant_pins_zero(spark):
    from etl_oms_spark.operators.classifier import mcnemar_test

    df = spark.createDataFrame(
        [(True, True), (False, False)], "a boolean, b boolean"
    )
    got = mcnemar_test(df, "a", "b").collect()[0]
    assert got["chi2_q6"] == 0 and got["chi2_cc_q6"] == 0


def test_mcnemar_cc_clamps_at_single_discordant(spark):
    from etl_oms_spark.operators.classifier import mcnemar_test

    df = spark.createDataFrame([(True, False)], "a boolean, b boolean")
    got = mcnemar_test(df, "a", "b").collect()[0]
    assert got["chi2_q6"] == 1_000_000  # 1/1
    assert got["chi2_cc_q6"] == 0  # (|1|-1)^2 clamped


# ------------------------------------------------------------- aov1
def test_anova_f_vs_direct(spark):
    from etl_oms_spark.operators.classifier import anova_f

    groups = {"a": [10, 12, 14], "b": [20, 22, 24, 26], "c": [15, 15]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, x long")
    got = anova_f(df, "g", "x").collect()[0]
    allv = [v for vs in groups.values() for v in vs]
    n, k = len(allv), len(groups)
    gm = sum(allv) / n
    ssb = sum(
        len(vs) * (sum(vs) / len(vs) - gm) ** 2 for vs in groups.values()
    )
    ssw = sum(
        (v - sum(vs) / len(vs)) ** 2
        for vs in groups.values()
        for v in vs
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert got["n"] == n and got["k"] == k
    assert abs(got["msb_q6"] / 1e6 - ssb / (k - 1)) < 2e-5
    assert abs(got["msw_q6"] / 1e6 - ssw / (n - k)) < 2e-5
    assert abs(got["f_q6"] / 1e6 - f) < 2e-5


def test_anova_f_equal_means_pins_near_zero(spark):
    from etl_oms_spark.operators.classifier import anova_f

    df = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 5), ("b", 7)], "g string, x long"
    )
    got = anova_f(df, "g", "x").collect()[0]
    assert got["msb_q6"] == 0  # floor artifacts clamped then truncated
    assert got["f_q6"] == 0


def test_anova_f_single_group_pins_zero(spark):
    from etl_oms_spark.operators.classifier import anova_f

    df = spark.createDataFrame([("a", 1), ("a", 9)], "g string, x long")
    assert anova_f(df, "g", "x").collect()[0]["f_q6"] == 0


# ------------------------------------------------------------- wt1
def test_welch_t_vs_direct(spark):
    import math

    from etl_oms_spark.operators.classifier import welch_t

    g1, g2 = [12, 15, 19, 24, 30], [8, 9, 11, 12]
    rows = [(True, v) for v in g1] + [(False, v) for v in g2]
    df = spark.createDataFrame(rows, "f boolean, x long")
    got = welch_t(df, "f", "x").collect()[0]
    n1, n2 = len(g1), len(g2)
    m1, m2 = sum(g1) / n1, sum(g2) / n2
    v1 = sum((v - m1) ** 2 for v in g1) / (n1 - 1)
    v2 = sum((v - m2) ** 2 for v in g2) / (n2 - 1)
    a1, a2 = v1 / n1, v2 / n2
    t = (m1 - m2) / math.sqrt(a1 + a2)
    dfree = (a1 + a2) ** 2 / (a1**2 / (n1 - 1) + a2**2 / (n2 - 1))
    assert (got["n_true"], got["n_false"]) == (n1, n2)
    assert abs(got["t_q6"] / 1e6 - t) < 2e-6
    assert abs(got["df_q3"] / 1e3 - dfree) < 2e-3


def test_welch_t_zero_variance_pins_zero(spark):
    from etl_oms_spark.operators.classifier import welch_t

    df = spark.createDataFrame(
        [(True, 5), (True, 5), (False, 9), (False, 9)], "f boolean, x long"
    )
    got = welch_t(df, "f", "x").collect()[0]
    assert got["t_q6"] == 0 and got["df_q3"] == 0


def test_welch_t_tiny_group_pins_zero(spark):
    from etl_oms_spark.operators.classifier import welch_t

    df = spark.createDataFrame(
        [(True, 5), (False, 1), (False, 9)], "f boolean, x long"
    )
    got = welch_t(df, "f", "x").collect()[0]
    assert got["t_q6"] == 0 and got["df_q3"] == 0


# ------------------------------------------------------------- jt1
def test_jonckheere_vs_brute(spark):
    import math

    from etl_oms_spark.operators.validate import jonckheere_terpstra

    groups = {0: [1, 3, 3, 5], 1: [2, 4, 6, 6], 2: [5, 7, 8]}
    rows = [
        (g, v, sum(1 for x in vs if x == v))
        for g, vs in groups.items()
        for v in sorted(set(vs))
    ]
    hist = spark.createDataFrame(rows, "g long, v long, c long")
    got = jonckheere_terpstra(hist).collect()[0]
    u2 = 0
    keys = sorted(groups)
    for i_pos, gi in enumerate(keys):
        for gj in keys[i_pos + 1 :]:
            for x in groups[gi]:
                for y in groups[gj]:
                    u2 += 2 if x < y else (1 if x == y else 0)
    ns = [len(groups[g]) for g in keys]
    n = sum(ns)
    mu4 = n * n - sum(m * m for m in ns)
    var = (
        n * n * (2 * n + 3) - sum(m * m * (2 * m + 3) for m in ns)
    ) / 72.0
    z = (2 * u2 - mu4) / (4.0 * math.sqrt(var))
    assert got["n"] == n and got["n_groups"] == 3
    assert got["u2"] == u2 and got["mu4"] == mu4
    assert abs(got["z_q6"] / 1e6 - z) < 2e-6
    # rising groups: strongly positive
    assert got["z_q6"] > 1_000_000


def test_jonckheere_single_group_pins_zero(spark):
    from etl_oms_spark.operators.validate import jonckheere_terpstra

    hist = spark.createDataFrame(
        [(0, 1, 3), (0, 5, 2)], "g long, v long, c long"
    )
    got = jonckheere_terpstra(hist).collect()[0]
    assert got["u2"] == 0 and got["z_q6"] == 0


def test_jonckheere_all_ties_zero_numerator(spark):
    """All mass on one value: u2 = mu4/2 exactly, so z = 0 through the
    numerator (the untied variance is positive)."""
    from etl_oms_spark.operators.validate import jonckheere_terpstra

    hist = spark.createDataFrame(
        [(0, 7, 4), (1, 7, 5), (2, 7, 2)], "g long, v long, c long"
    )
    got = jonckheere_terpstra(hist).collect()[0]
    assert 2 * got["u2"] == got["mu4"]
    assert got["z_q6"] == 0


# ------------------------------------------------------------- dw1
def test_durbin_watson_vs_direct(spark):
    from etl_oms_spark.operators.temporal import durbin_watson

    vals = [3, 7, 4, 9, 1, 6, 8, 2, 5, 10]
    df = spark.createDataFrame(
        [(t, v) for t, v in enumerate(vals)], "t long, rev_k long"
    )
    got = durbin_watson(df).collect()[0]
    n = len(vals)
    mean = sum(vals) / n
    num = sum(
        (vals[t] - vals[t - 1]) ** 2 for t in range(1, n)
    )
    den = sum((v - mean) ** 2 for v in vals)
    assert got["n_days"] == n and got["diff2"] == num
    assert abs(got["dw_q9"] / 1e9 - num / den) < 2e-9


def test_durbin_watson_constant_series_pins_zero(spark):
    from etl_oms_spark.operators.temporal import durbin_watson

    df = spark.createDataFrame(
        [(t, 4) for t in range(12)], "t long, rev_k long"
    )
    got = durbin_watson(df).collect()[0]
    assert got["diff2"] == 0 and got["dw_q9"] == 0


def test_durbin_watson_alternating_series_hits_four(spark):
    """A perfectly alternating series is the DW = 4 extreme (strong
    negative lag-1 correlation) up to the 1/n end effect."""
    from etl_oms_spark.operators.temporal import durbin_watson

    vals = [0, 10] * 10
    df = spark.createDataFrame(
        [(t, v) for t, v in enumerate(vals)], "t long, rev_k long"
    )
    got = durbin_watson(df).collect()[0]
    assert got["dw_q9"] > 3_500_000_000


# ------------------------------------------------------------- rns1
def test_runs_test_vs_direct(spark):
    import math

    from etl_oms_spark.operators.temporal import runs_test

    vals = [3, 8, 9, 2, 7, 1, 1, 9, 4, 6, 2, 8]
    df = spark.createDataFrame(
        [(t, v) for t, v in enumerate(vals)], "t long, rev_k long"
    )
    got = runs_test(df).collect()[0]
    med = sorted(vals)[(len(vals) + 1) // 2 - 1]
    signs = [1 if v > med else 0 for v in vals if v != med]
    n1, n2 = sum(signs), len(signs) - sum(signs)
    runs = 1 + sum(
        1 for i in range(1, len(signs)) if signs[i] != signs[i - 1]
    )
    m = n1 + n2
    mu = 2 * n1 * n2 / m + 1
    var = 2 * n1 * n2 * (2 * n1 * n2 - m) / (m * m * (m - 1))
    z = (runs - mu) / math.sqrt(var)
    assert got["n_days"] == len(vals)
    assert (got["n_above"], got["n_below"], got["runs"]) == (n1, n2, runs)
    assert abs(got["z_q6"] / 1e6 - z) < 2e-6


def test_runs_test_one_sided_pins_zero(spark):
    """Median excludes all equal days; with every survivor on one side
    the variance is 0 and z pins 0."""
    from etl_oms_spark.operators.temporal import runs_test

    df = spark.createDataFrame(
        [(0, 5), (1, 5), (2, 5), (3, 9)], "t long, rev_k long"
    )
    got = runs_test(df).collect()[0]
    assert got["n_below"] == 0 and got["z_q6"] == 0


def test_runs_test_alternating_maximal_runs(spark):
    from etl_oms_spark.operators.temporal import runs_test

    vals = [1, 9] * 8
    df = spark.createDataFrame(
        [(t, v) for t, v in enumerate(vals)], "t long, rev_k long"
    )
    got = runs_test(df).collect()[0]
    # median = 1 (lower nearest-rank), so the 1-days are excluded and
    # only the 9-days survive: one side only -> pinned 0
    assert got["n_below"] == 0 and got["z_q6"] == 0


# ------------------------------------------------------------- lev1
def test_brown_forsythe_vs_direct(spark):
    from etl_oms_spark.operators.classifier import brown_forsythe_from_hist

    groups = {"a": [1, 2, 2, 9, 10, 11], "b": [5, 5, 6, 6], "c": [0, 4, 8, 20]}
    rows = [
        (g, v, sum(1 for x in vs if x == v))
        for g, vs in groups.items()
        for v in sorted(set(vs))
    ]
    hist = spark.createDataFrame(rows, "g string, v long, c long")
    got = brown_forsythe_from_hist(hist).collect()[0]
    # lower nearest-rank median per group, then plain ANOVA on |v-med|
    trans = {}
    for g, vs in groups.items():
        med = sorted(vs)[(len(vs) + 1) // 2 - 1]
        trans[g] = [abs(v - med) for v in vs]
    allv = [v for vs in trans.values() for v in vs]
    n, k = len(allv), len(trans)
    gm = sum(allv) / n
    ssb = sum(
        len(vs) * (sum(vs) / len(vs) - gm) ** 2 for vs in trans.values()
    )
    ssw = sum(
        (v - sum(vs) / len(vs)) ** 2 for vs in trans.values() for v in vs
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert got["n"] == n and got["k"] == k
    assert abs(got["msb_q6"] / 1e6 - ssb / (k - 1)) < 2e-5
    assert abs(got["msw_q6"] / 1e6 - ssw / (n - k)) < 2e-5
    assert abs(got["f_q6"] / 1e6 - f) < 2e-5


def test_brown_forsythe_equal_spreads_small_f(spark):
    """Identically-shaped groups at different LEVELS: deviations from
    each group's median coincide, SSB = 0 exactly — the level shift
    aov1 would flag is invisible to the spread test."""
    from etl_oms_spark.operators.classifier import brown_forsythe_from_hist

    rows = [
        ("a", 10, 1), ("a", 12, 1), ("a", 14, 1),
        ("b", 100, 1), ("b", 102, 1), ("b", 104, 1),
    ]
    hist = spark.createDataFrame(rows, "g string, v long, c long")
    got = brown_forsythe_from_hist(hist).collect()[0]
    assert got["msb_q6"] == 0 and got["f_q6"] == 0


def test_brown_forsythe_single_group_pins_zero(spark):
    from etl_oms_spark.operators.classifier import brown_forsythe_from_hist

    hist = spark.createDataFrame(
        [("a", 3, 2), ("a", 9, 1)], "g string, v long, c long"
    )
    got = brown_forsythe_from_hist(hist).collect()[0]
    assert got["msb_q6"] == 0 and got["f_q6"] == 0


# ------------------------------------------------------------- wsr1
def test_wilcoxon_signed_rank_vs_direct(spark):
    import math

    from etl_oms_spark.operators.temporal import wilcoxon_signed_rank

    vals = [10, 12, 9, 15, 11, 14, 13, 16, 10, 21, 9, 18, 13, 22]
    df = spark.createDataFrame(
        [(t, v) for t, v in enumerate(vals)], "t long, rev_k long"
    )
    lag = 7
    got = wilcoxon_signed_rank(df, lag=lag).collect()[0]
    diffs = [vals[t] - vals[t - lag] for t in range(lag, len(vals))]
    nonzero = [d for d in diffs if d != 0]
    m = len(nonzero)
    # average ranks of |d| with ties
    byabs = sorted(nonzero, key=abs)
    ranks = {}
    i = 0
    while i < m:
        j = i
        while j < m and abs(byabs[j]) == abs(byabs[i]):
            j += 1
        for t in range(i, j):
            ranks.setdefault(abs(byabs[t]), (i + 1 + j) / 2)
        i = j
    wplus = sum(ranks[abs(d)] for d in nonzero if d > 0)
    from collections import Counter

    ties = sum(
        c**3 - c for c in Counter(abs(d) for d in nonzero).values()
    )
    var = (m * (m + 1) * (2 * m + 1) / 24) - ties / 48
    z = (wplus - m * (m + 1) / 4) / math.sqrt(var)
    assert got["n_pairs"] == m
    assert got["n_zero"] == len(diffs) - m
    assert got["w2_plus"] == int(2 * wplus)
    assert abs(got["z_q6"] / 1e6 - z) < 2e-6


def test_wilcoxon_all_zero_diffs_pins_zero(spark):
    from etl_oms_spark.operators.temporal import wilcoxon_signed_rank

    vals = [5, 6, 7, 5, 6, 7]  # period-3 series, lag 3: all diffs 0
    df = spark.createDataFrame(
        [(t, v) for t, v in enumerate(vals)], "t long, rev_k long"
    )
    got = wilcoxon_signed_rank(df, lag=3).collect()[0]
    assert got["n_pairs"] == 0 and got["n_zero"] == 3
    assert got["w2_plus"] == 0 and got["z_q6"] == 0


def test_wilcoxon_all_positive_maximal_w(spark):
    from etl_oms_spark.operators.temporal import wilcoxon_signed_rank

    vals = [1, 2, 3, 11, 22, 33]  # lag 3: diffs 10, 20, 30 all positive
    df = spark.createDataFrame(
        [(t, v) for t, v in enumerate(vals)], "t long, rev_k long"
    )
    got = wilcoxon_signed_rank(df, lag=3).collect()[0]
    m = 3
    assert got["w2_plus"] == m * (m + 1)  # 2 * m(m+1)/2 — every rank up
    assert got["z_q6"] > 1_500_000


# ------------------------------------------------------------- fr1
def test_friedman_vs_direct(spark):
    from etl_oms_spark.operators.validate import friedman_from_cells

    # 4 blocks x 3 treatments with ties inside block 3
    data = {
        1: {"x": 10, "y": 20, "z": 30},
        2: {"x": 12, "y": 25, "z": 27},
        3: {"x": 5, "y": 5, "z": 9},
        4: {"x": 8, "y": 14, "z": 11},
    }
    rows = [(b, g, v) for b, tv in data.items() for g, v in tv.items()]
    cells = spark.createDataFrame(rows, "b long, g string, x long")
    got = friedman_from_cells(cells).collect()[0]
    # doubled average ranks within each block
    import itertools

    r2 = {}
    for b, tv in data.items():
        for g, v in tv.items():
            lt = sum(1 for o in tv.values() if o < v)
            eq = sum(1 for o in tv.values() if o == v)  # includes self
            r2[(b, g)] = 2 * lt + eq + 1
    k = 3
    nb = 4
    rj = {
        g: sum(r2[(b, g)] for b in data)
        for g in ("x", "y", "z")
    }
    a4 = sum(v * v for v in r2.values())
    c4 = nb * k * (k + 1) ** 2
    ssdev = sum((v - nb * (k + 1)) ** 2 for v in rj.values())
    chi2 = (k - 1) * ssdev / (a4 - c4)
    assert got["n_blocks"] == nb and got["k"] == k
    assert got["chi2_q6"] == int((k - 1) * ssdev * 1_000_000 // (a4 - c4))
    assert abs(got["chi2_q6"] / 1e6 - chi2) < 2e-6


def test_friedman_fully_tied_blocks_pin_zero(spark):
    from etl_oms_spark.operators.validate import friedman_from_cells

    rows = [
        (b, g, 7) for b in (1, 2, 3) for g in ("x", "y")
    ]
    cells = spark.createDataFrame(rows, "b long, g string, x long")
    got = friedman_from_cells(cells).collect()[0]
    assert got["chi2_q6"] == 0  # A4 = C4: no rank variation anywhere


def test_friedman_perfect_ordering_hits_max(spark):
    """With z > y > x in every block and no ties, chi2 = b(k-1) — the
    maximum for a complete design."""
    from etl_oms_spark.operators.validate import friedman_from_cells

    rows = []
    for b in range(1, 6):
        rows += [(b, "x", b), (b, "y", b + 10), (b, "z", b + 20)]
    cells = spark.createDataFrame(rows, "b long, g string, x long")
    got = friedman_from_cells(cells).collect()[0]
    assert got["chi2_q6"] == 5 * 2 * 1_000_000

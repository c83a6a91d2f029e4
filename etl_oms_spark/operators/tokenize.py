"""BPE tokenization at corpus scale: train merges with the vocab
operators, APPLY them here.

`vocab.bigram_topk` ranks merge candidates (the statistic inside a BPE
training step); this module closes the loop with the apply side — encode
every document with a trained merge list, the step a training pipeline
runs on 100 TB after the (tiny, driver-side) tokenizer is frozen.

Design:
- merges are a broadcast-sized artifact (30–100k pairs ≈ a few MB) —
  shipped inside the UDF closure, loaded into a rank dict once per
  executor worker, never per row.
- the encode loop is the classic greedy lowest-rank-pair merge — pure
  Python, but Arrow-batched (``pandas_udf``) so per-batch overhead is
  amortized; this is the one operator class (iterative data-dependent
  string rewriting) where column algebra genuinely cannot express the
  semantics, the repo's stated bar for dropping into Python.
- output is token COUNT + joined token string by default; the raw
  array form is available for downstream packing but kept out of the
  driver-contract queries (list cells break row-sort hashing).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE for one word: repeatedly merge the lowest-rank adjacent
    pair until none is mergeable. Deterministic: rank ties cannot occur
    (ranks are list positions); leftmost occurrence merges first."""
    parts = list(word)
    while len(parts) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
    return parts


def bpe_tokens_udf(merges: list[tuple[str, str]], sep: str = " "):
    """Arrow-batched encoder: text → space-joined BPE tokens (words split
    on whitespace, each word encoded independently, `sep`-joined with the
    word boundary marker kept implicit by the outer join)."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @pandas_udf("string")
    def encode(texts: pd.Series) -> pd.Series:
        def enc(t: str | None) -> str | None:
            if t is None:
                return None
            out: list[str] = []
            for w in t.split():
                out.extend(bpe_encode_word(w, ranks))
            return sep.join(out)

        return texts.map(enc)

    return encode


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode a corpus with a frozen merge list: adds ``out_col`` (the
    space-joined BPE token string) and ``{out_col}_n`` (token count).
    One scan, zero shuffle; the merge table rides the UDF closure."""
    enc = bpe_tokens_udf(merges)
    tok = enc(F.lower(F.col(text_col)))
    return df.withColumn(out_col, tok).withColumn(
        f"{out_col}_n",
        F.when(F.col(out_col) == "", 0).otherwise(
            F.size(F.split(F.col(out_col), " "))
        ),
    )


def train_merges(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[str, str]]:
    """Single-pass approximate BPE training: take the top adjacent
    CHARACTER pairs by corpus frequency as the merge list, ranked once
    (true BPE retrains counts after every merge; the single-pass variant
    is the standard distributed approximation — each additional exact
    iteration is another corpus scan, a cost knob not a correctness one).
    Heavy work is one explode + count groupBy; the returned artifact is
    driver-sized (n_merges pairs)."""
    pairs = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"))
        .filter(F.length("w") >= 2)
        .select(
            F.posexplode(F.split(F.col("w"), "")).alias("i", "c"),
            F.col("w"),
        )
        .filter(F.col("i") < F.length("w") - 1)
        .select(
            F.col("c").alias("a"),
            F.substring(F.col("w"), F.col("i") + 2, 1).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(n_merges)
        .collect()
    )
    return [(r["a"], r["b"]) for r in pairs]


def bpe_train_exact(
    df: DataFrame,
    n_merges: int = 8,
    sample_words: int = 256,
    text_col: str = "text",
) -> list[dict]:
    """EXACT iterative BPE training (Sennrich et al. 2016: pair counts
    retrained after EVERY merge — `train_merges` above is the one-scan
    approximation) over a bounded deterministic word sample, the
    e11/pc2 "portable twin" pattern: the corpus-scale work is ONE
    word-frequency rollup (map-side combined — the only part that
    touches 100 TB); the iterations then run on the top-``sample_words``
    words by (count DESC, word ASC), a driver-sized working set, so an
    unrolled MATERIALIZED-CTE DuckDB oracle can replay them bit-exactly.

    Determinism contract (shared with the oracle, verified cross-engine):
    - words = whitespace tokens of text.normalize_text, length >= 2;
    - symbol form is the DOUBLE-space-delimited char string
      ``' h  e  l  l  o '``. The double gap makes one plain
      left-to-right ``str.replace(' a  b ', ' ab ')`` pass EXACTLY
      canonical greedy-left BPE: each match consumes one space from
      each two-space gap (the invariant self-restores), so an adjacent
      occurrence of the same pair still has its boundary space and
      merges too — ``banana`` → ``[b, an, an, a]`` and ``aaaaa`` →
      ``[aa, aa, a]``, verified identical in Python, Spark
      ``F.replace`` and DuckDB ``replace()`` (single-space delimiters
      get both cases wrong: non-overlapping matching eats the shared
      boundary space);
    - pair weight = Σ word_count × (# adjacent occurrences), overlaps
      counted (the Sennrich statistic);
    - best pair = max weight, ties by (left ASC, right ASC).

    Returns ``n_merges`` dicts: rank, lhs, rhs, merged, weight (fewer if
    the sample runs out of repeated pairs).
    """
    from etl_oms_spark.operators.text import tokens

    rows = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(sample_words)
        .collect()
    )
    sample = [
        (" " + "  ".join(list(r["w"])) + " ", int(r["n"])) for r in rows
    ]
    merges: list[dict] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for s, n in sample:
            syms = s.split()
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + n
        if not counts:
            break
        (a, b), wt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append(
            {"rank": rank, "lhs": a, "rhs": b, "merged": a + b, "weight": wt}
        )
        pat, rep = f" {a}  {b} ", f" {a}{b} "
        sample = [(s.replace(pat, rep), n) for s, n in sample]
    return merges


def bpe_fertility(
    df: DataFrame,
    merges: list[dict] | list[tuple[str, str]],
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Distributed APPLY of a frozen merge list + per-group tokenizer
    fertility report — the "how well does this tokenizer fit each
    source?" curation readout. 100 TB posture: the whole document is
    char-spaced with ONE regexp_replace into the canonical double-gap
    symbol form (word boundaries widen to 5 spaces, so the two-space
    merge patterns can never cross words — no explode, no per-word
    shuffle), then each merge is one JVM ``F.replace``; everything up
    to the final group rollup stays inside whole-stage codegen. Zero
    Python in the row path (contrast
    ``bpe_apply``'s greedy rank-priority encoder, which needs Python:
    a FIXED merge sequence lowers to pure column algebra).

    Fertility = BPE tokens per whitespace word (lower = the tokenizer
    compresses that group better); also reports chars per BPE token.
    Exact-integer sums; the two ratios are the only doubles.
    """
    from etl_oms_spark.operators.text import normalize_text

    norm = normalize_text(text_col)
    spaced = F.concat(
        F.lit(" "), F.regexp_replace(norm, r"(.)", r"$1  ")
    )
    for m in merges:
        a, b = (m["lhs"], m["rhs"]) if isinstance(m, dict) else (m[0], m[1])
        spaced = F.replace(
            spaced, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
        )
    bpe_n = F.size(F.split(F.trim(spaced), r"\s+"))
    ws_n = F.size(F.split(norm, " "))
    chars_n = F.length(F.regexp_replace(norm, " ", ""))
    per_doc = df.select(
        F.col(group_col).alias("grp"),
        F.when(norm == "", 0).otherwise(bpe_n).cast("long").alias("bpe_n"),
        F.when(norm == "", 0).otherwise(ws_n).cast("long").alias("ws_n"),
        chars_n.cast("long").alias("chars_n"),
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("bpe_n").cast("long").alias("bpe_tokens"),
            F.sum("ws_n").cast("long").alias("ws_tokens"),
            F.sum("chars_n").cast("long").alias("chars"),
        )
        .withColumn(
            "fertility",
            F.col("bpe_tokens").cast("double")
            / F.col("ws_tokens").cast("double"),
        )
        .withColumn(
            "chars_per_token",
            F.col("chars").cast("double")
            / F.col("bpe_tokens").cast("double"),
        )
        .withColumnRenamed("grp", group_col)
    )


WP_SCORE_SCALE = 10**12


def wordpiece_train_exact(
    df: DataFrame,
    n_merges: int = 8,
    sample_words: int = 256,
    text_col: str = "text",
) -> list[dict]:
    """EXACT iterative WordPiece training (Schuster & Nakajima 2012 /
    the BERT tokenizer): same greedy merge machinery as
    ``bpe_train_exact`` — one distributed word-frequency rollup, then
    ``n_merges`` rounds on the deterministic top-``sample_words`` sample
    in the double-space symbol form — but the selection statistic is the
    pair LIKELIHOOD score count(ab) / (count(a)·count(b)), not the raw
    pair count (BPE merges the most frequent pair; WordPiece merges the
    pair whose parts co-occur most above chance, so rare-but-exclusive
    pairs win over frequent-but-promiscuous ones).

    Determinism contract (shared with the DuckDB oracle, `_wp1_sql`):
    the ratio is never computed in floats — it is quantized to
    ``score_q = (pair_weight · 10^12) // (count(lhs) · count(rhs))``
    (integer floor division on both engines; all quantities positive),
    best pair = max ``score_q``, ties by (lhs ASC, rhs ASC). Symbol
    counts are position counts over the CURRENT segmentation, weighted
    by word frequency, retrained after every merge — the exact
    likelihood denominator, not a one-scan approximation. Continuation
    markers (``##``) are presentation, not algebra, and are omitted.

    Returns dicts: rank, lhs, rhs, merged, pair_weight, lhs_count,
    rhs_count, score_q (fewer than ``n_merges`` if the sample runs dry).
    """
    from etl_oms_spark.operators.text import tokens

    rows = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(sample_words)
        .collect()
    )
    sample = [
        (" " + "  ".join(list(r["w"])) + " ", int(r["n"])) for r in rows
    ]
    merges: list[dict] = []
    for rank in range(1, n_merges + 1):
        pair_counts: dict[tuple[str, str], int] = {}
        sym_counts: dict[str, int] = {}
        for s, n in sample:
            syms = s.split()
            for sym in syms:
                sym_counts[sym] = sym_counts.get(sym, 0) + n
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                pair_counts[key] = pair_counts.get(key, 0) + n
        if not pair_counts:
            break
        scored = [
            (
                (wt * WP_SCORE_SCALE) // (sym_counts[a] * sym_counts[b]),
                a,
                b,
                wt,
            )
            for (a, b), wt in pair_counts.items()
        ]
        score_q, a, b, wt = min(scored, key=lambda t: (-t[0], t[1], t[2]))
        merges.append(
            {
                "rank": rank,
                "lhs": a,
                "rhs": b,
                "merged": a + b,
                "pair_weight": wt,
                "lhs_count": sym_counts[a],
                "rhs_count": sym_counts[b],
                "score_q": score_q,
            }
        )
        pat, rep = f" {a}  {b} ", f" {a}{b} "
        sample = [(s.replace(pat, rep), n) for s, n in sample]
    return merges


#: unigram segmentation contract bounds (shared with the uni1 oracle):
#: words of 2..UNI_MAX_WORD chars are segmented; candidate pieces are
#: 2..UNI_MAX_PIECE chars; vocabulary = top UNI_VOCAB multi-char pieces
#: by weighted occurrence + every single char seen in the sample.
UNI_MAX_WORD = 12
UNI_MAX_PIECE = 4
UNI_VOCAB = 64
UNI_LOG_SCALE = 10**6
#: EM vocabulary-reduction bound (uniT): after the E-step, keep only
#: the top UNI_EM_KEEP multi-char pieces by Viterbi usage — the pruning
#: step that makes the round *training*, not just re-scoring.
UNI_EM_KEEP = 48


def _uni_word_sample(
    df: DataFrame, sample_words: int, text_col: str
) -> list[tuple[str, int]]:
    """The ONE distributed stage of the unigram family (bpe1's bounded-
    sample pattern): corpus word-frequency rollup, top-``sample_words``
    by (count DESC, word ASC), driver-sized."""
    from etl_oms_spark.operators.text import tokens

    rows = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(sample_words)
        .collect()
    )
    return [(r["w"], int(r["n"])) for r in rows]


def _quantized_log_scores(vocab: dict[str, int]) -> dict[str, int]:
    """score(p) = round-half-up(1e6 · ln(weight / total_weight)) — an
    exact BIGINT once rounded; weights and total are exact ints, and the
    double ln/division agree across engines (the ts1/mrr1 precedent)."""
    import math

    total = sum(vocab.values())
    return {
        p: math.floor(math.log(c / total) * UNI_LOG_SCALE + 0.5)
        for p, c in vocab.items()
    }


def _uni_vocab_scores(
    sample: list[tuple[str, int]]
) -> tuple[dict[str, int], dict[str, int]]:
    """Frequency-estimated initial piece LM: candidate pieces are all
    2..UNI_MAX_PIECE-char substrings of sample words, occurrence-
    weighted by word count (overlaps counted); vocabulary = top-
    UNI_VOCAB multi-char pieces by (weight DESC, piece ASC) PLUS every
    single char seen (guarantees every word segments)."""
    weights: dict[str, int] = {}
    for w, n in sample:
        for ln_ in range(1, UNI_MAX_PIECE + 1):
            for i in range(len(w) - ln_ + 1):
                p = w[i : i + ln_]
                weights[p] = weights.get(p, 0) + n
    multi = sorted(
        ((p, c) for p, c in weights.items() if len(p) >= 2),
        key=lambda t: (-t[1], t[0]),
    )[:UNI_VOCAB]
    vocab = {p: c for p, c in multi}
    vocab.update({p: c for p, c in weights.items() if len(p) == 1})
    return vocab, _quantized_log_scores(vocab)


def _viterbi_usage(
    sample: list[tuple[str, int]], score: dict[str, int]
) -> dict[str, int]:
    """Exact per-word Viterbi DP shared by uni1 (inference) and uniT
    (EM training): maximize Σ piece score, ties broken by fewer pieces,
    then by the largest split point j (shortest last piece) — the order
    the unrolled DuckDB oracle CTEs replay via
    ``ROW_NUMBER() OVER (ORDER BY score DESC, np ASC, j DESC)``. Only
    words of 2..UNI_MAX_WORD chars segment (the oracle unroll bound).
    Returns piece → Σ word_count × times-used."""
    usage: dict[str, int] = {}
    for w, n in sample:
        if not (2 <= len(w) <= UNI_MAX_WORD):
            continue
        # dp[i] = (sum_score, -n_pieces, j, piece) best over prefixes
        dp: list[tuple | None] = [None] * (len(w) + 1)
        dp[0] = (0, 0, -1, "")
        for i in range(1, len(w) + 1):
            best = None
            for j in range(max(0, i - UNI_MAX_PIECE), i):
                piece = w[j:i]
                if dp[j] is None or piece not in score:
                    continue
                cand = (
                    dp[j][0] + score[piece],
                    dp[j][1] - 1,
                    j,
                    piece,
                )
                # maximize (score, -n_pieces, j): on full ties the
                # largest split point (shortest last piece) wins
                if best is None or cand[:3] > best[:3]:
                    best = cand
            dp[i] = best
        i = len(w)
        while i > 0:
            _, _, j, piece = dp[i]
            usage[piece] = usage.get(piece, 0) + n
            i = j
    return usage


def unigram_segment_exact(
    df: DataFrame,
    sample_words: int = 256,
    text_col: str = "text",
) -> list[dict]:
    """EXACT Unigram-LM Viterbi segmentation over the bounded word
    sample (Kudo 2018's inference step with a frequency-estimated piece
    LM — the full EM loop re-estimates the same statistic; one round is
    the deterministic, oracle-replayable core). Completes the tokenizer
    triad: bpe1 merges by raw pair count, wp1 by pair likelihood, uni1
    segments against a PIECE vocabulary by maximum log-likelihood.

    Pipeline (every stage shared bit-for-bit with the DuckDB oracle):
    1. corpus word rollup (the ONE distributed stage — bpe1's pattern),
       top-``sample_words`` by (count DESC, word ASC);
    2. candidate pieces = all 2..4-char substrings of sample words,
       occurrence-weighted by word count (overlaps counted); vocabulary
       = top-64 by (weight DESC, piece ASC) PLUS every single char seen
       (guarantees every word segments);
    3. piece score = round-half-up(1e6 · ln(weight / total_weight)) —
       an exact BIGINT once rounded; weight and total are exact ints,
       and the double ln/division agree across engines (the ts1/mrr1
       precedent, verified by the oracle sweep);
    4. per-word Viterbi DP maximizing Σ score, ties broken by fewer
       pieces, then by the largest split point j (i.e. the shortest
       last piece); words of 2..12 chars only (the oracle unroll
       bound).

    Returns the usage table: for each piece used by any segmentation,
    ``piece, vocab_weight, score_q, usage`` where usage = Σ word_count
    × (times used in that word's best segmentation).
    """
    sample = _uni_word_sample(df, sample_words, text_col)
    vocab, score = _uni_vocab_scores(sample)
    usage = _viterbi_usage(sample, score)
    return sorted(
        (
            {
                "piece": p,
                "vocab_weight": vocab[p],
                "score_q": score[p],
                "usage": u,
            }
            for p, u in usage.items()
        ),
        key=lambda d: (-d["usage"], d["piece"]),
    )


def unigram_fertility(
    df: DataFrame,
    sample_words: int = 256,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Corpus-wide unigram-LM segmentation + per-group tokenizer
    fertility report — the APPLY side of the unigram triad member,
    mirroring ``bpe_fertility`` for BPE: train on the bounded sample
    (uni1's frequency-estimated LM), then segment EVERY corpus word
    with ZERO Python in the row path.

    The distributed trick is word-level deduplication + an unrolled
    in-expression Viterbi: the corpus collapses to (group, word, count)
    with one map-side-combined rollup (Heaps' law: distinct words ≪
    corpus), the DP then runs once per DISTINCT word as 12 stacked
    projections over a literal score map — each level is
    ``greatest()`` over ≤4 candidate (score, -n_pieces) structs, all
    inside whole-stage codegen, no shuffle, no UDF (CollapseProject
    leaves the levels stacked: each is non-cheap and referenced up to
    4 times). Tie order matches `_viterbi_usage`: struct max =
    (score DESC, pieces ASC); the split point never affects the
    propagated state, so the backtrack-free DP is exact for counts.

    Contract (shared with the DuckDB oracle): words are
    whitespace tokens of the normalized text; words of 2..UNI_MAX_WORD
    chars whose characters the vocabulary covers segment via the DP;
    everything else (1-char words, >12-char words, out-of-vocab chars)
    is PASSTHROUGH — counted as one piece, tallied in ``passthrough``.
    Returns per group: ``n_words, pieces, passthrough, fertility``
    (= pieces/words, the only double — an IEEE quotient of two exact
    longs, the bpe2 precedent)."""
    from etl_oms_spark.operators.text import tokens

    sample = _uni_word_sample(df, sample_words, text_col)
    _, score = _uni_vocab_scores(sample)
    # ONE parsed SQL map literal, not ~2·|vocab| F.lit py4j round trips
    # (round-13; the util.local_rows lesson)
    from etl_oms_spark.util import _sql_literal

    smap = F.expr(
        "map("
        + ",".join(
            f"{_sql_literal(p)},{int(score[p])}L" for p in sorted(score)
        )
        + ")"
    )

    tokw = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(text_col)).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("grp", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # Lazy checkpoint: tokw feeds both the distinct-word DP input
        # and the final rollup join — the barrier keeps the corpus
        # token explode at exactly one scan; tokw itself is
        # (group × word)-domain-sized (Heaps' law)
        .localCheckpoint(eager=False)
    )
    words = (
        tokw.select("w")
        .distinct()
        .filter(
            (F.length("w") >= 2) & (F.length("w") <= UNI_MAX_WORD)
        )
    )
    ln = F.length("w")
    cur = words
    dp0 = F.struct(
        F.lit(0).cast("long").alias("score"), F.lit(0).alias("negnp")
    )
    for i in range(1, UNI_MAX_WORD + 1):
        cands = []
        for j in range(max(0, i - UNI_MAX_PIECE), i):
            piece = F.substring(F.col("w"), j + 1, i - j)
            s = F.element_at(smap, piece)
            prev = dp0 if j == 0 else F.col(f"__dp{j}")
            cands.append(
                F.when(
                    prev.isNotNull() & s.isNotNull(),
                    F.struct(
                        (prev.getField("score") + s)
                        .cast("long")
                        .alias("score"),
                        (prev.getField("negnp") - 1).alias("negnp"),
                    ),
                )
            )
        best = cands[0] if len(cands) == 1 else F.greatest(*cands)
        cur = cur.withColumn(f"__dp{i}", F.when(ln >= i, best))
    np_col = F.lit(None).cast("int")
    for i in range(2, UNI_MAX_WORD + 1):
        np_col = F.when(
            ln == i, -F.col(f"__dp{i}").getField("negnp")
        ).otherwise(np_col)
    word_np = cur.select("w", np_col.cast("long").alias("np"))

    return (
        tokw.join(word_np, "w", "left")
        .groupBy("grp")
        .agg(
            F.sum("n").cast("long").alias("n_words"),
            F.sum(F.col("n") * F.coalesce(F.col("np"), F.lit(1)))
            .cast("long")
            .alias("pieces"),
            F.sum(
                F.when(F.col("np").isNull(), F.col("n")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("passthrough"),
        )
        .withColumn(
            "fertility",
            F.col("pieces").cast("double") / F.col("n_words").cast("double"),
        )
        .withColumnRenamed("grp", group_col)
    )


def unigram_em_train(
    df: DataFrame,
    sample_words: int = 256,
    keep_multi: int = UNI_EM_KEEP,
    text_col: str = "text",
    n_rounds: int = 1,
    prune_schedule: "list[int] | None" = None,
) -> list[dict]:
    """EXACT Unigram-LM EM training round (Kudo 2018, "Subword
    Regularization", §3.2) — the piece that makes the unigram member of
    the tokenizer triad a *trainer* like bpe1/wp1, not just a scorer:

    0. frequency-estimated initial LM — ``_uni_vocab_scores``, the same
       vocabulary + quantized log-probs uni1 segments with;
    1. **E-step**: Viterbi-segment the bounded word sample under the
       current scores and count expected piece occurrences. This is
       hard-EM (Viterbi counts, the argmax posterior) rather than
       forward–backward soft counts — the standard deterministic
       variant, and the one whose counts are exact BIGINTs a DuckDB
       oracle can replay bit-for-bit (soft counts are sums of float
       products with engine-dependent association order);
    2. **M-step + prune**: re-estimate piece weights from the E-step
       counts and drop the tail — keep the top ``keep_multi``
       multi-char pieces by (usage DESC, piece ASC) (zero-usage pieces
       go first, Kudo's vocabulary-reduction step) while EVERY single
       char stays with weight ``max(usage, 1)`` (the smoothing floor
       keeps ln defined and every word segmentable; a word's pass-1
       best segmentation uses only usage>0 pieces, so pruning to the
       used set can never orphan a word). New scores are the same
       round-half-up(1e6·ln(w/total)) quantization;
    3. re-segment under the re-estimated LM (the next E-step, reported
       as the trained tokenizer's usage table).

    **Multi-round EM (round 11)**: Kudo's full recipe iterates EM +
    prune toward a target vocabulary. ``n_rounds``/``prune_schedule``
    run the E/M cycle that many times — round *r* Viterbi-segments
    under round *r−1*'s scores, keeps the top ``prune_schedule[r-1]``
    multi-char pieces by (usage DESC, piece ASC), floors every
    ORIGINAL single char at max(usage, 1) (the segmentability
    guarantee must survive every prune), and re-quantizes. The default
    schedule is ``[keep_multi] * n_rounds``; a decreasing schedule
    (e.g. [48, 32]) is the prune-toward-target-vocab form. At a
    converged LM an extra round is a NO-OP: identical usage ranks →
    identical vocab → identical scores (the fixed-point test).

    Corpus-scale posture: identical to uni1 — the ONE distributed stage
    is the word-frequency rollup (map-side combined); ALL EM passes
    run on the driver-sized top-256 sample, so the cost is scale-flat
    and the unrolled (n_rounds+1)-pass DuckDB oracle replays every
    stage.

    Returns, for each piece used by the FINAL segmentation:
    ``piece, em_weight`` (the last M-step weight), ``score_q`` (the
    trained quantized log-prob), ``usage_init`` (round-1 E-step Viterbi
    count; 0 for a single char unused there), ``usage`` (final-pass
    count), ordered by (usage DESC, piece ASC).
    """
    schedule = (
        list(prune_schedule)
        if prune_schedule is not None
        else [keep_multi] * n_rounds
    )
    if len(schedule) != n_rounds:
        raise ValueError(
            f"prune_schedule has {len(schedule)} entries for "
            f"n_rounds={n_rounds}"
        )
    sample = _uni_word_sample(df, sample_words, text_col)
    vocab0, score = _uni_vocab_scores(sample)
    singles = [p for p in vocab0 if len(p) == 1]

    usage_init: dict[str, int] = {}
    vocab: dict[str, int] = vocab0
    for r, keep_r in enumerate(schedule):
        usage = _viterbi_usage(sample, score)  # E-step
        if r == 0:
            usage_init = usage
        # M-step + prune: multi-char pieces survive only with usage,
        # capped at this round's budget; single chars keep a floor of 1
        multi = sorted(
            ((p, u) for p, u in usage.items() if len(p) >= 2),
            key=lambda t: (-t[1], t[0]),
        )[:keep_r]
        vocab = {p: u for p, u in multi}
        vocab.update({p: max(usage.get(p, 0), 1) for p in singles})
        score = _quantized_log_scores(vocab)

    final = _viterbi_usage(sample, score)  # re-segment
    return sorted(
        (
            {
                "piece": p,
                "em_weight": vocab[p],
                "score_q": score[p],
                "usage_init": usage_init.get(p, 0),
                "usage": u,
            }
            for p, u in final.items()
        ),
        key=lambda d: (-d["usage"], d["piece"]),
    )

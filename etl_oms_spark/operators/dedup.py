"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All implemented as native DataFrame algebra (explode / groupBy / self-join /
window) — no MLlib vector overhead, no Python UDFs — so every stage is a
plain shuffle-bounded Spark job that scales horizontally:

- exact:    one hash-groupBy on the canonical fingerprint. One shuffle.
- minhash:  shingle → 64 seeded min-hashes → banded LSH buckets →
            candidate pairs → signature-estimated Jaccard. The 100 TB path:
            cost is O(total shingles) + one shuffle per stage; no O(n²).
- simhash:  per-token hashes → 64 weighted bit sums → fingerprint;
            near-dups = pairs at small Hamming distance within LSH bands.
- n-gram Jaccard: exact token/shingle-set join — quadratic in docs *sharing
  a shingle*; the small-scale oracle twin of the minhash path. Frequent-
  shingle capping (`max_df`) keeps the blowup bounded.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import ensure_parallelism, let_
from .text import fingerprint_md5, normalize_text, tokens


# ---------------------------------------------------------------------------
# exact


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on canonical text: keep the min-id representative per
    fingerprint group (hash-groupBy — one shuffle, map-side partial agg)."""
    return (
        df.withColumn("__fp", fingerprint_md5(text_col))
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__fp")
    )


# ---------------------------------------------------------------------------
# shingles + minhash

def _minhash_params(j: int) -> tuple[int, int]:
    """Deterministic (a, b) for derived hash j: 31-bit odd multiplier and
    31-bit offset, so ``a * h32 + b < 2^63`` — no long overflow, ANSI-safe."""
    a = ((j * 0x9E3779B9 + 0x7F4A7C15) & 0x7FFFFFFF) | 1
    b = (j * 0x85EBCA6B + 0xC2B2AE35) & 0x7FFFFFFF
    return a, b


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles of the normalized text (array<string>).

    Built with sequence/transform/slice — array expressions, no explode yet,
    no UDF. Documents shorter than k words yield their whole text as the
    single shingle.

    The token array is let_-bound (util.let_) so the per-shingle lambda
    references a VARIABLE, not the tokenize subtree — captured subtrees
    re-evaluate per element, which made every shingle pay the normalize
    regex (measured 8.5x on the sf0.1 explode: 3.4s -> 0.4s, round 11).
    """

    def body(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        )

    return let_(tokens(col), body)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    k: int = 3,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures: explode distinct shingles, take the min of
    ``num_hashes`` derived hash values per doc.

    Universal-hashing trick: ONE xxhash64 string hash per shingle (masked
    to 32 bits), then ``h_j = a_j * h32 + b_j`` with 31-bit constants — 64
    multiply-adds instead of 64 string hashes per shingle, ~10× cheaper on
    long documents, and products stay below 2^63 so the arithmetic is safe
    under ANSI mode. One explode + one groupBy (map-side partial min), all
    JVM-side. Returns (id, minhash array<long>) — the signature is ONE
    array column, giving narrow shuffles and cheap array compares
    downstream instead of 64 separate columns.
    """
    if hash_method == "md5":
        # 8 hex chars = exactly 32 bits — portable: any engine recomputes
        # the identical base hash, hence identical signatures
        h32 = F.conv(F.substring(F.md5(F.col("__shingle")), 1, 8), 16, 10).cast("long")
    elif hash_method == "xxhash64":
        h32 = F.xxhash64(F.col("__shingle")).bitwiseAND(F.lit(0xFFFFFFFF))
    else:
        raise ValueError(f"unknown hash_method {hash_method!r}")
    base = ensure_parallelism(df, id_col).select(
        F.col(id_col), F.explode(shingles(text_col, k)).alias("__shingle")
    ).select(F.col(id_col), h32.alias("__h32"))
    prime = (1 << 31) - 1  # Mersenne prime: the mod makes each h_j a
    # genuinely different permutation — without it a*h+b is monotone in h
    # and every h_j would pick the same min-shingle (degenerate signature).
    # Aggregates are parsed from SQL strings, not built as Column chains:
    # one py4j round-trip total instead of ~5 per derived hash (see simhash)
    aggs = []
    for j in range(num_hashes):
        a, b = _minhash_params(j)
        aggs.append(F.expr(f"min((__h32 * {a} + {b}) % {prime}) AS h{j}"))
    agg = base.groupBy(id_col).agg(*aggs)
    return agg.select(
        F.col(id_col),
        F.expr("array(" + ",".join(f"h{j}" for j in range(num_hashes)) + ")").alias("minhash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Banded LSH: docs sharing any band-hash become a candidate pair.

    rows-per-band r = num_hashes/bands tunes the sensitivity curve
    (threshold ≈ (1/b)^(1/r)). Pairs are deduped by (a < b); the self-join
    happens only within buckets, so cost is Σ bucket² not n².

    ``hash_method="md5"`` keys buckets on the literal
    ``'band,h_i,...,h_j'`` string instead of an xxhash64 of the slice —
    wider shuffle keys, but any engine joining on the same string finds
    the same buckets (the cross-engine-auditable variant).
    """
    r = num_hashes // bands
    if hash_method == "md5":
        band_cols = [
            F.concat_ws(
                ",",
                F.lit(str(b)),
                F.slice(F.col("minhash"), b * r + 1, r).cast("array<string>"),
            ).alias(f"band{b}")
            for b in range(bands)
        ]
    else:
        band_cols = [
            F.xxhash64(F.lit(b), F.slice(F.col("minhash"), b * r + 1, r)).alias(f"band{b}")
            for b in range(bands)
        ]
    banded = signatures.select(F.col(id_col), *band_cols)
    stacked = banded.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias(
            "__band", "__bucket"
        ),
    )
    left = stacked.alias("a")
    right = stacked.alias("b")
    return (
        left.join(
            right,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def estimate_jaccard(
    signatures: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
) -> DataFrame:
    """Signature-estimated Jaccard: fraction of agreeing minhash components
    (``zip_with`` element compare over the two signature arrays)."""
    sig_a = signatures.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("__sa"))
    sig_b = signatures.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("__sb"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", (agree / F.lit(float(num_hashes))).alias("est_jaccard"))
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Near-dedup: drop any doc that is ≥threshold-similar to a lower-id doc.

    Greedy single-pass victim selection (standard at-scale practice — full
    transitive closure would need iterative connected components; the
    min-id-survives rule is deterministic and one extra shuffle).
    """
    # cache: the signature table is tiny (num_hashes longs per doc) but its
    # lineage re-scans the corpus; it feeds the bucket self-join (twice) and
    # both sides of the similarity join — 4 recomputes without the cache.
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, k, hash_method).cache()
    pairs = lsh_candidate_pairs(sigs, id_col, num_hashes, bands, hash_method)
    sims = estimate_jaccard(sigs, pairs, id_col, num_hashes)
    victims = (
        sims.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(victims, id_col, "left_anti")


# ---------------------------------------------------------------------------
# simhash


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash fingerprints.

    explode tokens → xxhash64 per token → pre-aggregate (id, hash) → count
    (shrinks the row set to distinct tokens per doc — 3× faster here, the
    ±1-per-occurrence sum equals ±count per distinct token) → per-bit
    weighted sums (``bits`` conditional aggregates, map-side combined) →
    assemble the fingerprint as a signed long (bit 63 included → may be
    negative; it's an opaque fingerprint). Near-dup = small Hamming
    distance; pair generation should go through LSH bands over fingerprint
    chunks, not all-pairs.

    ``hash_method="md5"`` derives the token hash from the md5 hex prefix
    (60 bits max) instead of xxhash64 — ~2× slower, but any engine can
    recompute the identical fingerprint (the cross-engine-auditable /
    oracle variant). xxhash64 stays the production default.
    """
    if hash_method == "md5":
        if bits > 60:
            raise ValueError("md5 hash_method yields 60 usable bits (15 hex chars)")
        token_hash = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10).cast("long")
    elif hash_method == "xxhash64":
        token_hash = F.xxhash64(F.col("__tok"))
    else:
        raise ValueError(f"unknown hash_method {hash_method!r}")
    # NULL text folds to '' so the doc keeps a fingerprint instead of
    # silently vanishing from the dedup surface (explode drops NULL
    # arrays) — same policy as block_dedup's NULL guard
    exploded = ensure_parallelism(df, id_col).select(
        F.col(id_col),
        F.explode(
            tokens(
                F.coalesce(
                    F.col(text_col) if isinstance(text_col, str) else text_col,
                    F.lit(""),
                )
            )
        ).alias("__tok"),
    ).select(F.col(id_col), token_hash.alias("__h"))
    counted = exploded.groupBy(id_col, "__h").agg(F.count(F.lit(1)).alias("__n"))
    # the per-bit aggregates and the fingerprint assembly are built as SQL
    # strings (one parse each) rather than `bits`-long chains of Column
    # calls: each F.* call is a py4j round-trip, and at bits=64 the Column
    # form costs ~1.7s of pure driver latency per plan construction
    bit_sums = [
        F.expr(
            f"sum(if((shiftright(__h, {b}) & 1) = 1, __n, -__n)) AS b{b}"
        )
        for b in range(bits)
    ]
    agg = counted.groupBy(id_col).agg(*bit_sums)
    fingerprint = F.expr(
        " + ".join(f"if(b{b} > 0, shiftleft(CAST(1 AS BIGINT), {b}), CAST(0 AS BIGINT))" for b in range(bits))
    )
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# exact n-gram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 1,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard-similar pairs over word k-shingle sets.

    Token-inverted-index self-join: distinct (doc, shingle) → join on
    shingle → common counts → |A∪B| = |A|+|B|-common. Quadratic in docs
    sharing a shingle — ``max_df`` drops shingles present in more than
    max_df docs (stopword-shingle capping), the standard bound at scale;
    the true scale path is `minhash_dedup`.

    ``max_df`` defaults to a FINITE 1000 so a naive call on a corpus with
    a ubiquitous shingle cannot detonate into an all-pairs join (a single
    stopword shared by n docs costs n² join rows). When the cap engages,
    capped shingles simply don't count toward |A∩B| or the set sizes —
    pass ``max_df=None`` explicitly for the uncapped exact oracle.
    """
    if max_df is not None:
        logging.getLogger(__name__).info(
            "ngram_jaccard_pairs: shingles with document frequency > %d are "
            "excluded from similarity (pass max_df=None for exact)", max_df
        )
    sh = shingles(text_col, k) if k > 1 else F.array_distinct(tokens(text_col))
    toks = ensure_parallelism(df, id_col).select(F.col(id_col), F.explode(sh).alias("tok"))
    if max_df is not None:
        rare = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("tok")
        )
        toks = toks.join(rare, "tok")
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = toks.select(F.col(id_col).alias("id_a"), "tok")
    b = toks.select(F.col(id_col).alias("id_b"), "tok")
    common = (
        a.join(b, ["tok"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    k: int = 1,
    max_df: int | None = 1000,
) -> DataFrame:
    """Asymmetric containment: |A∩B| / |A| — detects documents that are
    near-subsets of another (boilerplate wrapping, quote-inclusion), which
    symmetric Jaccard under-scores when sizes differ. Same inverted-index
    machinery as `ngram_jaccard_pairs`; emits directed pairs
    (id_contained, id_container, containment). ``max_df`` defaults finite
    (see `ngram_jaccard_pairs`) so a ubiquitous shingle can't go quadratic;
    pass ``max_df=None`` for the uncapped exact oracle."""
    if max_df is not None:
        logging.getLogger(__name__).info(
            "containment_pairs: shingles with document frequency > %d are "
            "excluded from similarity (pass max_df=None for exact)", max_df
        )
    sh = shingles(text_col, k) if k > 1 else F.array_distinct(tokens(text_col))
    toks = ensure_parallelism(df, id_col).select(F.col(id_col), F.explode(sh).alias("tok"))
    if max_df is not None:
        rare = (
            toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df).select("tok")
        )
        toks = toks.join(rare, "tok")
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = toks.select(F.col(id_col).alias("id_contained"), "tok")
    b = toks.select(F.col(id_col).alias("id_container"), "tok")
    common = (
        a.join(b, ["tok"])
        .filter(F.col("id_contained") != F.col("id_container"))
        .groupBy("id_contained", "id_container")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col(id_col).alias("id_contained"), F.col("n").alias("n_a"))
    return (
        common.join(na, "id_contained")
        .select(
            "id_contained",
            "id_container",
            (F.col("common").cast("double") / F.col("n_a")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def block_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 16,
) -> DataFrame:
    """Sub-document exact dedup: chunk every document into consecutive
    ``block_words``-word blocks, keep only the globally-FIRST occurrence of
    each distinct block (ordered by (doc, position)), and reassemble each
    document from its surviving blocks.

    This is the chunk-granular exact-substring dedup pass training
    pipelines run between whole-doc dedup and near-dedup: it strips
    repeated boilerplate (headers, license blocks, navigation text) that
    whole-document fingerprints can't see without dropping the documents
    that contain it.

    Shape: one explode (corpus blocks) → one hash-groupBy on the block
    (min (doc, pos) winner — map-side combined, the same one-shuffle
    pattern as `exact_dedup`) → broadcast-free equi-join back on the block
    → one groupBy(doc) to reassemble (sorted struct array, JVM-side).
    Block text itself never leaves the executors twice: the winner table
    carries (block, winner-struct) only.

    Returns (id, n_blocks, n_kept, kept_text) for every input document —
    a fully-deduped document keeps 0 blocks and an empty text.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    n_blocks = F.greatest(F.ceil(n / F.lit(block_words)), F.lit(1)).cast("long")
    # let_-bound (util.let_): a captured subtree re-evaluates per
    # element, so without the binding every block re-tokenized the
    # whole document (the round-11 shingles lesson)
    block_arr = let_(
        tokens(text_col),
        lambda tk: F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(
                    F.ceil(F.size(tk) / F.lit(block_words)), F.lit(1)
                ).cast("long"),
            ),
            lambda i: F.concat_ws(
                " ",
                F.slice(tk, (i - F.lit(1)) * block_words + F.lit(1), block_words),
            ),
        ),
    )
    base = ensure_parallelism(df, id_col).select(
        F.col(id_col), n_blocks.alias("n_blocks"), block_arr.alias("__blocks")
    )
    # lazy barrier: exploded feeds both the winner groupBy and the kept
    # join — each re-ran the tokenize + block build without it (3 full
    # block passes for the operator; 2 after). Rows carry each block
    # once, so the materialization is ~corpus-text-sized — the same
    # trade as repeated_substring_spans' window-md5 barrier.
    exploded = base.select(
        F.col(id_col), F.posexplode(F.col("__blocks")).alias("pos", "block")
    ).localCheckpoint(eager=False)
    winners = exploded.groupBy("block").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("__w")
    )
    kept = (
        exploded.join(winners, "block")
        .filter((F.col(id_col) == F.col("__w.d")) & (F.col("pos") == F.col("__w.p")))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "block"))),
                    lambda s: s["block"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )
    return (
        base.select(id_col, "n_blocks")
        .join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_blocks"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
        )
    )


def contamination_ids(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: ids of corpus documents sharing any
    word ``k``-shingle with a held-out benchmark/eval set — the standard
    n-gram-overlap decontamination pass before training.

    The benchmark side is small by construction (an eval set), so its
    distinct shingles broadcast; the corpus side explodes shingles and
    left-semi joins — one scan, no corpus shuffle, early-out per match.
    """
    doc_sh = ensure_parallelism(df, id_col).select(
        F.col(id_col), F.explode(shingles(text_col, k)).alias("sh")
    )
    bench_sh = benchmark.select(
        F.explode(shingles(text_col, k)).alias("sh")
    ).distinct()
    return (
        doc_sh.join(F.broadcast(bench_sh), "sh", "left_semi")
        .select(id_col)
        .distinct()
    )


def _bloom_positions(col: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """The ``num_hashes`` deterministic bit positions of a value: seeded
    xxhash64 (JVM, no UDF) reduced mod ``num_bits``. Purely internal — the
    final answer never depends on these (no false negatives + exact confirm
    join), so the fast non-portable hash is safe here even under an exact
    oracle."""
    return [
        F.pmod(F.xxhash64(col, F.lit(j)), F.lit(num_bits)).cast("long")
        for j in range(num_hashes)
    ]


def bloom_decontamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_bits: int = 1 << 17,
    num_hashes: int = 4,
) -> DataFrame:
    """Benchmark decontamination with a Bloom-filter prefilter: returns
    ``(id_col, n_matched_shingles)`` for every corpus document sharing at
    least one word ``k``-shingle with the benchmark — EXACTLY, independent
    of the Bloom parameters, because Bloom filters have no false negatives
    and the surviving candidates are confirmed by an exact equi-join.

    Why this exists next to `contamination_ids`: the raw broadcast of the
    benchmark shingle SET stops working when the held-out suite is large
    (10⁸-10⁹ distinct shingles at frontier-eval scale — tens of GB as
    strings), but the same set as a Bloom bitmap is a few hundred MB at 1%
    fpp. The bitmap is built with one aggregation on the (small) benchmark
    side, collected as packed 64-bit words, and applied JVM-side as literal
    array lookups — so the 100 TB corpus stream is pruned to ~fpp of its
    exploded shingles BEFORE the distinct/confirm join ever shuffles.
    The confirm join then runs on candidates only; at test scale AQE
    broadcasts the benchmark side, at 100 TB it degrades gracefully to a
    shuffle join whose left side the Bloom already decimated.

    Reference parity: the decontamination semantics (shared k-shingle ⇒
    contaminated) match `contamination_ids`; this is its
    large-benchmark execution strategy.
    """
    bench_sh = benchmark.select(
        F.explode(shingles(text_col, k)).alias("sh")
    ).distinct()

    # build the bitmap: k bit positions per shingle -> OR-packed 64-bit words
    pos = F.explode(F.array(*_bloom_positions(F.col("sh"), num_bits, num_hashes)))
    words = (
        bench_sh.select(pos.alias("pos"))
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            (F.col("pos") % 64).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(1L, bit)")).alias("bits"))
        .collect()
    )
    bitmap = [0] * (num_bits // 64)
    for r in words:
        bitmap[int(r["word"])] = int(r["bits"])
    # ONE parsed SQL literal, not num_bits/64 (= 2048 at the default)
    # F.lit() py4j round trips per call (round-13; the util.local_rows
    # lesson applied to the bitmap literal). _sql_literal's list branch
    # emits the same array(...L) string WITH the BIGINT range guard —
    # no hand-rolled int rendering to drift (ADVICE r13).
    from ..util import _sql_literal

    bloom = F.expr(_sql_literal(bitmap))

    doc_sh = (
        ensure_parallelism(df, id_col)
        .select(F.col(id_col), F.explode(shingles(text_col, k)).alias("sh"))
        .withColumn("_bloom", bloom)
    )
    for j, p in enumerate(_bloom_positions(F.col("sh"), num_bits, num_hashes)):
        doc_sh = doc_sh.withColumn(f"_p{j}", p)
    # (word >> bit) & 1 per hash; SQL-level shiftright takes a column shift
    might_contain = " AND ".join(
        f"(shiftright(element_at(_bloom, cast(_p{j} / 64 as int) + 1), "
        f"cast(_p{j} % 64 as int)) & 1) = 1"
        for j in range(num_hashes)
    )
    candidates = doc_sh.filter(F.expr(might_contain)).select(id_col, "sh")

    return (
        candidates.join(bench_sh, "sh")  # exact confirm: kills false positives
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matched_shingles"))
    )


def intra_doc_block_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 8,
) -> DataFrame:
    """WITHIN-document repetition repair: chunk each document into
    consecutive ``block_words``-word blocks and drop repeats of a block
    inside the SAME document (first occurrence kept, other documents
    unaffected) — the fix-don't-drop counterpart to Gopher-style
    repetition filters, and the per-doc complement of `block_dedup`'s
    cross-corpus pass.

    Entirely partition-local after the explode: winner selection and
    reassembly both group by (doc, block)/(doc), so the only shuffle key
    is the document id — no corpus-global state at all.

    Returns (id, n_blocks, n_kept, kept_text).
    """
    from .text import normalize_text

    # NULL text would make size(split) = -1 → sequence(0, -1) runs
    # DESCENDING (Spark defaults to step -1 when start > stop), inventing
    # bogus positions; coalesce to '' and clamp like block_dedup does.
    toks = F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
    n_blocks = F.greatest(
        F.ceil(F.size(toks) / F.lit(block_words)), F.lit(1)
    ).cast("int")
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_blocks - 1)).alias("__pos"),
    ).select(
        id_col,
        "__pos",
        F.array_join(
            F.slice(F.col("__toks"), F.col("__pos") * block_words + 1, block_words),
            " ",
        ).alias("__block"),
    )
    winners = base.groupBy(id_col, "__block").agg(F.min("__pos").alias("__pos"))
    return (
        base.groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_blocks"))
        .join(
            winners.groupBy(id_col).agg(
                F.count(F.lit(1)).cast("long").alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__pos", "__block"))
                        ),
                        lambda s: s["__block"],
                    ),
                    " ",
                ).alias("kept_text"),
            ),
            id_col,
        )
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    k-word shingles that appear in NO document with a smaller id — the
    "new information" score curation pipelines use to rank near-duplicate
    survivors and detect template-heavy sources (novelty → 0 as a source
    repeats itself).

    Lowering: per-doc totals are just ``size(shingles(text))`` — array
    math, no explode, no shuffle. The explode feeds ONLY the global
    min-doc-per-shingle aggregate (the one shingle-sized exchange,
    combiner-reduced), whose winners are re-grouped by the winning doc to
    give per-doc novel counts WITHOUT ever joining shingle-sized frames:
    the novelty join is doc×doc. A first cut that joined the min back
    onto the exploded frame measured 6.2× on 10× data; this form is
    bounded by the single distinct-shingle aggregation. Shingles are reduced to a portable 60-bit md5 key before
    the shuffle so the exchange moves longs, not strings, and the DuckDB
    oracle recomputes identical keys. Collision risk at 60 bits is
    ~n²/2^61 — negligible below ~10^8 distinct shingles per collision; at
    100 TB use the full md5 string (portability unchanged) if that
    matters.
    """
    par = ensure_parallelism(df, id_col)
    ex = par.select(
        F.col(id_col), F.explode(shingles(text_col, k)).alias("__shingle")
    ).select(
        id_col,
        F.conv(F.substring(F.md5(F.col("__shingle")), 1, 15), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    totals = par.select(
        F.col(id_col), F.size(shingles(text_col, k)).cast("long").alias("n_shingles")
    )
    novel = (
        ex.groupBy("__h")
        .agg(F.min(id_col).alias("__first_doc"))
        .groupBy(F.col("__first_doc").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        totals.join(novel, id_col, "left")
        .withColumn("n_novel", F.coalesce(F.col("n_novel"), F.lit(0)))
        .withColumn("novelty", F.col("n_novel") / F.col("n_shingles").cast("double"))
    )


def dup_block_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    block_words: int = 8,
) -> DataFrame:
    """Corpus-health metric: per group (source), the share of its text
    blocks that are duplicated ANYWHERE in the corpus — the dashboard
    number behind boilerplate/template contamination (block_dedup is the
    repair; this is the monitor).

    Lowering keeps every frame NDV-bounded after the one explode: blocks
    reduce to portable 60-bit md5 keys, counts aggregate per (block,
    group) and per block (both map-side combined), and the duplicate
    classification joins those two COUNT frames — never the instance
    frame (the nv1 lesson: joining exploded data back is the scale trap).
    """
    # let_-bound (util.let_): a captured subtree re-evaluates per
    # element, so without the binding every block re-tokenized the
    # whole document (the round-11 shingles lesson)
    block_arr = let_(
        tokens(text_col),
        lambda tk: F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(
                    F.ceil(F.size(tk) / F.lit(block_words)), F.lit(1)
                ).cast("long"),
            ),
            lambda i: F.concat_ws(
                " ",
                F.slice(tk, (i - F.lit(1)) * block_words + F.lit(1), block_words),
            ),
        ),
    )
    blocks = ensure_parallelism(df, id_col).select(
        F.col(group_col),
        F.explode(block_arr).alias("__b"),
    ).select(
        group_col,
        F.conv(F.substring(F.md5(F.col("__b")), 1, 15), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    hs = blocks.groupBy("__h", group_col).agg(F.count(F.lit(1)).alias("__n_hs"))
    hh = hs.groupBy("__h").agg(F.sum("__n_hs").alias("__n_h"))
    return (
        hs.join(hh, "__h")
        .groupBy(group_col)
        .agg(
            F.sum("__n_hs").alias("n_blocks"),
            F.sum(F.when(F.col("__n_h") > 1, F.col("__n_hs")).otherwise(0)).alias(
                "n_dup"
            ),
        )
        .withColumn("dup_rate", F.col("n_dup") / F.col("n_blocks").cast("double"))
    )


def priority_dedup(
    df: DataFrame,
    priority: dict[str, int],
    key: Column | None = None,
    source_col: str = "source",
    id_col: str = "doc_id",
    default_priority: int = 1_000_000,
) -> DataFrame:
    """Cross-source dedup that keeps the most-trusted copy: within each
    duplicate group the winner is the row with the smallest
    (source priority, id) — the standard "prefer curated over crawled"
    rule when assembling a corpus from overlapping dumps (the same doc
    scraped from Wikipedia and CommonCrawl should survive as the
    Wikipedia copy, regardless of which id is smaller).

    ``key`` defaults to the exact canonical-text fingerprint; any
    grouping column works (canonical URL, minhash cluster id, ...).
    One hash-groupBy shuffle on the key; the min-struct argmin is a
    map-side partial aggregate, so no group ever materializes.
    Output: one row per group — winner id/source plus ``dup_count`` and
    ``n_sources`` diagnostics.
    """
    from ..transform import map_lookup

    fp = key if key is not None else fingerprint_md5("text")
    rank = map_lookup(
        source_col, {k: str(v) for k, v in priority.items()}, str(default_priority)
    ).cast("int")
    best = F.min(
        F.struct(
            rank.alias("p"),
            F.col(id_col).alias("i"),
            F.col(source_col).alias("s"),
        )
    )
    return (
        df.withColumn("__fp", fp)
        .groupBy("__fp")
        .agg(
            best.alias("__b"),
            F.count(F.lit(1)).alias("dup_count"),
            F.countDistinct(source_col).alias("n_sources"),
        )
        .select(
            F.col("__b.i").alias(id_col),
            F.col("__b.s").alias(source_col),
            F.col("dup_count").cast("long").alias("dup_count"),
            F.col("n_sources").cast("long").alias("n_sources"),
        )
    )


def corpus_fingerprints(
    df: DataFrame, key: Column | None = None, text_col: str = "text"
) -> DataFrame:
    """Distinct fingerprint ledger of a corpus — the state an incremental
    ingest pipeline persists between batches (one column ``fp``)."""
    fp = key if key is not None else fingerprint_md5(text_col)
    return df.select(fp.alias("fp")).distinct()


def incremental_dedup(
    batch: DataFrame,
    ledger: DataFrame,
    key: Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a new batch against an existing corpus ledger, then within
    itself — the daily-ingest shape: "drop everything we've already got,
    then collapse the batch's own duplicates".

    Scale posture is the whole point: the LEDGER is the 100 TB side and
    must never shuffle. The batch's distinct fingerprints broadcast into
    a left-semi probe of the ledger (one ledger scan, zero ledger
    movement); the resulting hit set is batch-bounded and broadcasts back
    into the batch anti-join. The final keep-first-occurrence groupBy
    shuffles only the batch. Output matches ``exact_dedup``:
    (id, dup_count) — dup_count counts copies WITHIN the batch; ledger
    hits are dropped entirely.
    """
    fp = key if key is not None else fingerprint_md5(text_col)
    b = batch.withColumn("__fp", fp)
    hits = ledger.join(
        F.broadcast(b.select("__fp").distinct()),
        ledger["fp"] == F.col("__fp"),
        "left_semi",
    )
    fresh = b.join(F.broadcast(hits), b["__fp"] == hits["fp"], "left_anti")
    return (
        fresh.groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__fp")
    )


def repeated_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document EXACT-substring detection, the span-level dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): every ``min_len_tokens``-token window that occurs verbatim in
    at least ``min_docs`` distinct documents is located, and overlapping /
    adjacent qualifying windows are merged into maximal spans per document.
    Returns ``(id_col, span_start, span_len)`` with 1-based token offsets —
    the spans a substring-dedup pass would cut (vs the doc-level drop of
    `minhash_dedup`).

    Distributed suffix-array stand-in: the corpus explodes to one row per
    token position carrying only the md5 of its window text (32 bytes, not
    the window itself), window keys are counted by DISTINCT doc, and the
    occurrence stream is left-semi joined back against the qualifying keys
    — two key-hashed shuffles of O(total tokens) rows, never doc×doc.
    Span merging is a doc-keyed window (islands by running window reach:
    a new span starts when the gap since the previous qualifying position
    exceeds the window length), so the final shuffle is id-keyed only.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    base = (
        ensure_parallelism(df, id_col)
        .select(F.col(id_col), toks.alias("__toks"))
        .filter(n >= min_len_tokens)
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - F.lit(min_len_tokens - 1))
            ).alias("pos"),
            F.col("__toks"),
        )
        .select(
            id_col,
            "pos",
            F.md5(
                F.concat_ws(" ", F.slice("__toks", F.col("pos"), min_len_tokens))
            ).alias("wkey"),
        )
        # lazy barrier: base feeds both the qualifying-key count and the
        # hit semi-join — each re-ran the per-position window md5 (the
        # operator's dominant CPU) without it; rows are (id, pos, 32-char
        # key) — narrow relative to re-hashing every window
        .localCheckpoint(eager=False)
    )
    qualifying = (
        base.groupBy("wkey")
        .agg(F.count_distinct(F.col(id_col)).alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("wkey")
    )
    hits = base.join(qualifying, "wkey", "left_semi").select(id_col, "pos").distinct()

    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        hits.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new_span",
            F.when(
                F.col("__prev").isNull()
                | (F.col("pos") - F.col("__prev") > min_len_tokens),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("__island", F.sum("__new_span").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
        .groupBy(id_col, "__island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + min_len_tokens).cast("long").alias(
                "span_len"
            ),
        )
        .drop("__island")
    )
    return spans


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    per_token_cap: int | None = None,
) -> DataFrame:
    """EXACT Jaccard-similar pairs via PPJoin-style prefix filtering
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW'08) — same answer as `ngram_jaccard_pairs` with
    ``max_df=None``, radically cheaper plan at scale.

    The theorem: under any global token order, two sets with
    Jaccard ≥ t MUST share a token within each set's first
    ``|S| - ceil(t·|S|) + 1`` tokens. Ordering tokens by ascending
    document frequency makes those prefixes the RAREST tokens, so the
    candidate self-join runs over the low-fan-out end of the inverted
    index — ubiquitous tokens never enter the join at all, which is why
    this needs no ``max_df`` cap to stay bounded: the frequent-token n²
    blowup is filtered by construction, not by approximation.

    Stages (all key-hashed shuffles): df count → per-doc (df, tok) rank
    window → prefix self-join → exact verify by array_intersect against
    the per-doc sorted token arrays. The prefix here is one token longer
    than the theorem needs (floor instead of ceil) — immune to float
    edge cases, still no false negatives, and the exact verify kills all
    false positives.

    Scale bound (the round-9 100× finding): even with perfect
    filtering, EXACT pairwise output is Θ(Σ cluster_size²) — a corpus
    whose duplicate clusters grow with the corpus (every re-crawl
    multiplies each cluster) grows its TRUE ANSWER quadratically per
    cluster, and no plan beats its own output size. ``per_token_cap``
    is the production knob for that regime: the LEFT side of the
    candidate self-join keeps only each token's ``per_token_cap``
    lowest-id postings (the right side keeps every doc), so fan-out per
    token drops from df² to df·cap while every doc still pairs with its
    tokens' min-id hub docs — a CLIQUE-shaped duplicate cluster (every
    member pairwise ≥ t, the re-crawl regime the knob exists for)
    shrinks to a hub-and-spoke pair set that a downstream
    connected-components consumer still sees as ONE cluster
    (`test_pj1c_equals_pj1_on_clique_clusters`). Chain-shaped clusters
    (a~b~c with a≁c) have no such guarantee: a bridge doc's hub
    candidates can all fail the exact verify while its true partner sat
    past the cap, so a chain may SPLIT — never merge — into multiple
    components (`test_pj1c_refines_pj1_clusters` pins refinement-only).
    ``None`` (the default, and the pj1 oracle contract) stays exact;
    with a cap the result is a documented SUBSET of the exact pair
    list, never a false positive (the verify stage is unchanged).
    """
    from pyspark.sql import Window

    toks = (
        ensure_parallelism(df, id_col)
        .select(F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    w_rank = Window.partitionBy(id_col).orderBy("__df", "tok")
    w_size = Window.partitionBy(id_col)
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn("__rnk", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(w_size))
    )
    prefix = ranked.filter(
        F.col("__rnk")
        <= F.col("__n") - F.floor(F.lit(threshold) * F.col("__n")) + 1
    ).select(id_col, "tok")
    left = prefix
    if per_token_cap is not None:
        # Cap ONLY the left (hub) side of the self-join: every doc's
        # postings stay live on the right, but each token contributes at
        # most cap hub partners (the token's lowest ids) — fan-out per
        # token drops from df² to df·cap, and every doc in a giant
        # duplicate cluster still pairs with the cluster's min-id hubs,
        # so a downstream connected-components consumer keeps the
        # cluster in one piece. Deterministic under any partitioning.
        w_cap = Window.partitionBy("tok").orderBy(id_col)
        left = (
            prefix.withColumn("__pr", F.row_number().over(w_cap))
            .filter(F.col("__pr") <= per_token_cap)
            .drop("__pr")
        )
    # Lazy checkpoint: cand is referenced three times below (the pair
    # join itself plus both sides of the candidate-doc semi filter);
    # without it each reference would re-run the prefix self-join.
    # eager=False keeps the operator lazy — nothing runs until the
    # caller's first action, which materializes cand once.
    cand = (
        left.select(F.col(id_col).alias("id_a"), "tok")
        .join(prefix.select(F.col(id_col).alias("id_b"), "tok"), "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Verify-stage pruning: collect the sorted token array ONLY for docs
    # that appear in some candidate pair — at sf0.1 that is ~5% of the
    # corpus, and at 100 TB candidates ≪ corpus is exactly the regime
    # PPJoin is chosen for. The unfiltered groupBy would pay the
    # collect_list shuffle for every doc and discard ~95% in the join.
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    arrays = toks.join(cand_ids, id_col, "left_semi").groupBy(id_col).agg(
        F.sort_array(F.collect_list("tok")).alias("__toks"),
        F.count(F.lit(1)).alias("__n"),
    )
    a = arrays.select(
        F.col(id_col).alias("id_a"),
        F.col("__toks").alias("__ta"),
        F.col("__n").alias("__na"),
    )
    b = arrays.select(
        F.col(id_col).alias("id_b"),
        F.col("__toks").alias("__tb"),
        F.col("__n").alias("__nb"),
    )
    common = F.size(F.array_intersect("__ta", "__tb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                common.cast("double")
                / (F.col("__na") + F.col("__nb") - common)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def strip_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span surgery — the REPAIR half of `repeated_substring_spans`
    (Lee et al. cut duplicated substrings instead of dropping whole
    docs): remove the token ranges listed in ``spans`` (``span_start``,
    ``span_len``, 1-based token offsets on the NORMALIZED text) from each
    document, returning ``(id, kept_text, n_tokens_removed)`` for every
    document that had at least one span. Which occurrences to cut is the
    caller's policy (pass the span table through a winner filter first to
    keep one canonical copy corpus-wide).

    All JVM higher-order functions: spans collect to one array per doc
    (an id-keyed agg), the doc's tokens are position-zipped and filtered
    with an exists() over that array, then rejoined with a space — no
    UDF, no explode of the corpus tokens, one id-keyed shuffle.
    """
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("lo"),
                (F.col("span_start") + F.col("span_len") - 1).alias("hi"),
            )
        ).alias("__spans")
    )
    toks = tokens(text_col)
    kept = F.filter(
        F.arrays_zip(toks, F.sequence(F.lit(1), F.size(toks))),
        lambda x: ~F.exists(
            F.col("__spans"),
            lambda s: (x["1"] >= s["lo"]) & (x["1"] <= s["hi"]),
        ),
    )
    return (
        df.join(sp, id_col)  # inner: only docs with spans
        .select(
            id_col,
            F.concat_ws(" ", F.transform(kept, lambda x: x["0"])).alias(
                "kept_text"
            ),
            (F.size(toks) - F.size(kept)).cast("long").alias("n_tokens_removed"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (public: Schleimer, Wilkerson &
    Aiken 2003, "Winnowing: Local Algorithms for Document
    Fingerprinting" — the MOSS algorithm): hash every token ``k``-gram,
    slide a window of ``w`` consecutive k-gram hashes over each
    document, and select the minimum hash per window (ties to the
    RIGHTMOST position, the paper's rule). The guarantee: any shared
    substring of at least w+k−1 tokens yields at least one shared
    fingerprint, while only ~2/(w+1) of the k-grams are kept.

    Hashes are the repo's portable 60-bit md5 prefix
    (``conv(substring(md5(kgram),1,15),16,10)`` — d6/d7's recipe), so
    any engine recomputes the identical fingerprint set. The window-min
    is ``min(struct(h, -pos))`` over a doc-partitioned frame — pure
    column algebra, deterministic; only FULL windows select (trailing
    partial windows would re-select with weaker guarantees).

    Scale shape: one corpus scan; both windows partition BY DOCUMENT
    (state = w rows), so no corpus-wide shuffle beyond the doc-keyed
    exchange the posexplode already implies. Returns the DISTINCT
    selected (id, h, pos) triples; documents with fewer than w+k−1
    tokens yield no fingerprints (no full window exists).
    """
    from pyspark.sql import Window

    base = ensure_parallelism(df, id_col)
    pos_tok = base.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    ow = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", i).over(ow) for i in range(1, k)
    ]
    kgrams = (
        pos_tok.withColumn("__last", F.lead("tok", k - 1).over(ow))
        .withColumn("__kg", F.concat_ws(" ", *parts))
        .filter(F.col("__last").isNotNull())
        .select(
            F.col(id_col),
            "pos",
            F.conv(F.substring(F.md5(F.col("__kg")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    fw = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    sel = kgrams.select(
        F.col(id_col),
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(fw).alias("__s"),
        F.count(F.lit(1)).over(fw).alias("__cnt"),
    ).filter(F.col("__cnt") == w)
    return sel.select(
        F.col(id_col),
        F.col("__s.h").alias("h"),
        (-F.col("__s.np")).cast("long").alias("pos"),
    ).distinct()


def winnow_match_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    max_df: int = 64,
    min_shared: int = 2,
) -> DataFrame:
    """Cross-document matches over winnowed fingerprints: pairs of
    documents sharing at least ``min_shared`` distinct fingerprint
    hashes — (id_a, id_b, n_shared), id_a < id_b.

    Fingerprints seen in more than ``max_df`` documents are dropped
    BEFORE pairing (MOSS's ignore-ubiquitous-fingerprints rule — they
    are boilerplate, and they are also exactly the hub keys that would
    make the hash-keyed self-join quadratic; same posture as d8's block
    cap). The join is posting-list-bounded: Σ df² over surviving
    hashes, each df ≤ max_df.
    """
    # lazy barriers: sets feeds both the df count and the semi filter
    # (each re-ran the upstream winnowing windows without it — 4 scans
    # in wf1's round-13 executed-plan audit), and pruned feeds both
    # sides of the pair self-join whose diverging projections defeat
    # exchange reuse. Both are fingerprint-sized (≈ 2/(w+1) of kgrams).
    sets = fps.select(id_col, "h").distinct().localCheckpoint(eager=False)
    small = (
        sets.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("h")
    )
    pruned = sets.join(small, "h", "left_semi").localCheckpoint(eager=False)
    a = pruned.select(F.col("h"), F.col(id_col).alias("id_a"))
    b = pruned.select(F.col("h"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# n-gram test-set decontamination (x13) + quality-aware canonicalization


def doc_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
) -> DataFrame:
    """Distinct word k-shingles per document, exploded to (id, gram)
    rows — the decontamination feed. Reuses the let_-bound shingle
    builder (one normalize pass per doc, not per shingle); documents
    shorter than k words contribute their whole normalized text as a
    single gram, so short eval items still match their verbatim
    copies. NULL/empty texts contribute nothing."""
    return (
        ensure_parallelism(df, id_col)
        .filter(F.coalesce(F.length(normalize_text(text_col)), F.lit(0)) > 0)
        .select(F.col(id_col), F.explode(shingles(text_col, k)).alias("gram"))
    )


def ngram_decontaminate(
    train_grams: DataFrame,
    bench_grams: DataFrame,
    id_col: str = "doc_id",
    threshold_q6: int = 800_000,
) -> DataFrame:
    """Shingle-level test-set decontamination (the Gopher / GPT-3 /
    Llama-2 production recipe, all public): a training document is
    contaminated when ≥ threshold of its distinct 13-grams appear in
    the benchmark set. Doc-level exact matching (bf1) misses partial
    inclusions; split-leakage (cx2) audits embeddings — this is the
    standard lexical overlap gate between them.

    Inputs are exploded (id, gram) frames (`doc_ngrams`). Per train
    doc: total = its distinct-gram count, hits = grams found in the
    DISTINCT benchmark gram set (left-semi join — never widens rows),
    hit_frac_q6 = ⌊hits·1e6/total⌋ exact. Only docs with ≥ 1 hit are
    returned — the audit list a curation run quarantines.

    Scale shape: one groupBy for totals, one semi join + groupBy for
    hits, both key-parallel on the gram/id hash. A REAL benchmark side
    is tiny (eval suites, not corpora) — AQE broadcasts it and the
    probe is map-side; the synthetic oracle feeds a corpus-sized split
    as the benchmark, which simply makes the semi join a shuffle join.
    Returns (id, n_grams, hit_grams, hit_frac_q6, contaminated).
    """
    totals = train_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    bench = bench_grams.select("gram").distinct()
    hits = (
        train_grams.join(bench, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("hit_grams"))
    )
    frac = (F.col("hit_grams") * 1_000_000 - (F.col("hit_grams") * 1_000_000) % F.col("n_grams")) / F.col("n_grams")
    return (
        totals.join(hits, id_col)
        .select(
            id_col,
            "n_grams",
            "hit_grams",
            frac.cast("long").alias("hit_frac_q6"),
        )
        .withColumn(
            "contaminated", F.col("hit_frac_q6") >= F.lit(threshold_q6)
        )
    )


def quality_canonical_dedup(
    df: DataFrame,
    score: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup keeping the HIGHEST-QUALITY representative per
    duplicate group instead of d1's min-id: raw texts differing only in
    case/whitespace/punctuation collapse to one canonical fingerprint,
    and the survivor is the member a curation pipeline would rather
    train on (ties broken min-id, so the choice is total and
    deterministic). ``score`` is any integer-quantized per-row quality
    column expression (callers pass t2's 1e-6-quantized score).

    One window over the fingerprint partition (same single shuffle as
    the groupBy form — the key is the md5 fingerprint, so the partition
    sizes are dup-group-sized and skew-free for real corpora).
    Returns (id, dup_count, quality_q6) for the surviving rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("__fp")
    wo = w.orderBy(F.col("__q").desc(), F.col(id_col).asc())
    return (
        df.select(
            F.col(id_col),
            fingerprint_md5(text_col).alias("__fp"),
            score.alias("__q"),
        )
        .withColumn("__rn", F.row_number().over(wo))
        .withColumn("dup_count", F.count(F.lit(1)).over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("dup_count").cast("long").alias("dup_count"),
            F.col("__q").cast("long").alias("quality_q6"),
        )
    )

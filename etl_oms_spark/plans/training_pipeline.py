"""End-to-end training-data curation pipeline.

The composition the LLM-pipeline operators exist for, in the canonical
order (cheap filters first so expensive stages see less data):

    raw documents
      → quality gate           (pure predicates, pushdown-friendly)
      → exact dedup            (fingerprint groupBy)
      → near dedup             (MinHash-LSH, greedy or transitive)
      → annotate               (language, token counts, quality score)
      → optional per-language stratified sampling
      → hash-stable train/test split
      → partitioned parquet    (split/lang layout → downstream pruning)

Every stage is lazy DataFrame algebra; the whole pipeline is a handful of
shuffles (dedup groupBys/joins) over one scan of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import exact_dedup, minhash_dedup
from ..operators.sampling import _BUCKETS, _bucket, stratified_sample, train_test_split
from ..operators.text import quality_filter, with_text_stats


def curate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    near_dup_threshold: float = 0.8,
    transitive: bool = False,
    lang_rates: dict[str, float] | None = None,
    test_rate: float = 0.05,
    hash_method: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """(train, test) curated corpora with annotation columns attached.

    ``hash_method="md5"`` routes the near-dedup signatures/banding AND the
    split buckets through the portable md5 derivations, making the entire
    pipeline's membership reproducible outside Spark (the exact-oracle
    twin); xxhash64 stays the cheaper production default.
    """
    gated = quality_filter(df, text_col, min_tokens=min_tokens)

    survivors = exact_dedup(gated, text_col, id_col).select(id_col)
    deduped = gated.join(survivors, id_col, "left_semi")

    if transitive:
        from ..operators.graph import transitive_minhash_dedup

        deduped = transitive_minhash_dedup(
            deduped, text_col, id_col, threshold=near_dup_threshold
        )
    else:
        deduped = minhash_dedup(
            deduped, text_col, id_col, threshold=near_dup_threshold,
            hash_method=hash_method,
        )

    annotated = with_text_stats(deduped, text_col)

    if lang_rates:
        annotated = stratified_sample(
            annotated, "lang_pred", lang_rates, key_col=id_col, default_rate=1.0
        )

    return train_test_split(
        annotated, test_rate=test_rate, key_col=id_col, method=hash_method
    )


def curate_documents_with_split(
    df: DataFrame,
    **kwargs,
) -> DataFrame:
    """Single-frame variant: the same pipeline with ``split`` as a COLUMN
    instead of two filtered frames. Prefer this whenever both splits flow
    to the same sink — the two-frame form re-evaluates the entire
    upstream pipeline once per side before any union (tp3 measured
    14.2s → 2.9s at sf0.1 switching forms). Membership is identical:
    the same hash bucket rule decides the column value."""
    test_rate = kwargs.pop("test_rate", 0.05)
    hash_method = kwargs.get("hash_method", "xxhash64")
    id_col = kwargs.get("id_col", "doc_id")
    train, _ = curate_documents(df, test_rate=0.0, **kwargs)
    cut = int(test_rate * _BUCKETS)
    bucket = _bucket(F.col(id_col), "split", hash_method)
    return train.withColumn(
        "split", F.when(bucket < cut, "test").otherwise("train")
    )


def write_curated_single(
    curated: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
) -> None:
    """Write the single-frame (split-column) pipeline output — one
    evaluation of the pipeline, same split/lang layout."""
    partition_cols = partition_cols or ["split", "lang_pred"]
    curated.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def eval_safe_release(
    docs: DataFrame,
    benchmark: DataFrame,
    shingle_k: int = 5,
    repair: bool = True,
    dedup: bool = True,
    span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The tp5 composition as a reusable pipeline: Bloom-prefiltered
    decontamination against ``benchmark`` → (optional) cross-document
    repeated-span repair → (optional) exact dedup re-keyed on the
    REPAIRED text. Returns one row per surviving document:
    ``(id, all original non-text columns…, fin, was_repaired)`` where
    ``fin`` is the normalized release text.

    Why repair precedes dedup: after span surgery, documents that
    differed only by shared boilerplate become byte-identical, so exact
    dedup catches them — the ordering real curation stacks use.
    The shared ``clean`` subtree is localCheckpointed (measured 1.7× at
    sf0.1, SCALING.md round-4b).
    """
    from ..operators.dedup import (
        bloom_decontamination,
        repeated_substring_spans,
        strip_spans,
    )
    from ..operators.text import normalize_text

    contaminated = bloom_decontamination(
        docs, benchmark, text_col=text_col, id_col=id_col, k=shingle_k
    ).select(id_col)
    clean = docs.join(contaminated, id_col, "left_anti").localCheckpoint(
        eager=False
    )
    if repair:
        spans = repeated_substring_spans(
            clean, text_col=text_col, id_col=id_col,
            min_len_tokens=span_tokens, min_docs=2,
        )
        repaired = strip_spans(
            clean, spans, text_col=text_col, id_col=id_col
        ).select(id_col, "kept_text")
        base = clean.join(repaired, id_col, "left")
    else:
        base = clean.withColumn("kept_text", F.lit(None).cast("string"))
    passthrough = [c for c in docs.columns if c not in (id_col, text_col)]
    final = base.select(
        id_col,
        *passthrough,
        F.coalesce(
            F.col("kept_text"), F.coalesce(normalize_text(text_col), F.lit(""))
        ).alias("fin"),
        F.col("kept_text").isNotNull().alias("was_repaired"),
    )
    if not dedup:
        return final
    # lazy barrier: keyed feeds both the winner groupBy and the final
    # join — each re-ran the repair join + release normalization
    # without it (round-13)
    keyed = final.withColumn("fp", F.md5("fin")).localCheckpoint(eager=False)
    winners = keyed.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return keyed.join(winners, ["fp", id_col]).drop("fp")

"""Text-analysis operators for training-data pipelines.

All pure column expressions (JVM-side, whole-stage codegen) — no Python UDFs:
language-ID (marker-word heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), document fingerprinting (md5 canonical +
Karp-Rabin rolling hash). These extend the reference's north-star text seam
(`llm_client.py:6-41` is its only text hook) with distributed-scale
primitives; each scales linearly with no shuffle.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 - resolves pandas_udf type hints (unicode_normalize)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: marker words per language for the n-gram/stopword language heuristic.
#: Deliberately small + high-frequency; ties broken alphabetically by code.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "en": ["the", "and", "of", "to", "is", "you"],
    "es": ["el", "la", "los", "las", "que", "es"],
    "fr": ["le", "la", "les", "des", "est", "que"],
}

#: BPE-ish tokenization: word pieces OR single non-space symbols — the same
#: class split GPT-style tokenizers apply before merges.
BPE_REGEX = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def normalize_text(col: Column | str) -> Column:
    """lower + trim + collapse whitespace — the canonical form every text
    operator keys on (dedup, fingerprint, shingles)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def whitespace_token_count(col: Column | str) -> Column:
    # NULL text counts 0, not size(NULL)=-1 — a negative count silently
    # corrupts every downstream token budget (mix plans, packing, gates)
    c = normalize_text(col)
    return F.when(
        F.coalesce(F.length(c), F.lit(0)) == 0, F.lit(0)
    ).otherwise(F.size(F.split(c, " ")))


def bpe_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_REGEX))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text, as array<string>."""
    return F.split(normalize_text(col), " ")


def marker_hits(col: Column | str, words: list[str]) -> Column:
    """Occurrences of any marker word (word-boundary regex count)."""
    c = F.col(col) if isinstance(col, str) else col
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(c), F.lit(pattern))


def language_id(col: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language-ID: argmax of marker-word hit counts.

    Deterministic: ties resolve to the alphabetically-first language code;
    zero hits everywhere → 'und' (undetermined). Pure expressions — one
    regexp_count per language, no shuffle, no UDF.
    """
    markers = markers or LANG_MARKERS
    codes = sorted(markers)
    hits = {code: marker_hits(col, markers[code]) for code in codes}
    best = F.greatest(*hits.values()) if len(codes) > 1 else hits[codes[0]]
    expr: Column | None = None
    for code in codes:  # alphabetical → first max wins
        cond = hits[code] == best
        expr = F.when(cond, F.lit(code)) if expr is None else expr.when(cond, F.lit(code))
    return F.when(best == 0, F.lit("und")).otherwise(expr)


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-signal features: length, token count, mean token length,
    punctuation ratio, stopword ratio. All exact integer counts divided at
    the end → deterministic doubles."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_tokens = whitespace_token_count(c)
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    n_stop = marker_hits(c, STOPWORDS_EN)
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": n_chars.cast("double") / safe_tokens,
        "punct_ratio": n_punct.cast("double") / safe_chars,
        "stopword_ratio": n_stop.cast("double") / safe_tokens,
    }


def quality_score(col: Column | str) -> Column:
    """Scalar quality score in [0,1]-ish: rewards mid-length docs with
    natural stopword density, penalizes punctuation soup. The exact weights
    are heuristic; determinism (same doc → same score on any engine) is the
    contract."""
    f = quality_features(col)
    length_term = F.least(f["n_tokens"].cast("double") / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(f["stopword_ratio"] * F.lit(5.0), F.lit(1.0))
    punct_pen = F.least(f["punct_ratio"] * F.lit(10.0), F.lit(1.0))
    return length_term * F.lit(0.4) + stop_term * F.lit(0.4) + (F.lit(1.0) - punct_pen) * F.lit(0.2)


def gopher_rules(
    col: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> dict[str, Column]:
    """Gopher-style document quality gates (arXiv 2112.11446 §A1.1),
    each as a boolean column plus the conjunctive ``pass`` — the
    rule-based pre-filter every web-scale curation pipeline runs before
    model-based scoring. Pure column expressions, zero shuffle.

    Rules (thresholds are the published defaults, parameterized):
    - ``ok_n_words``: whitespace word count in [min_words, max_words];
    - ``ok_mean_word_len``: mean word length in [min, max] (exact: on the
      single-spaced normalized text, Σ word lens = len − (n−1));
    - ``ok_symbol_ratio``: (# of '#' or ellipsis) / words ≤ max;
    - ``ok_alpha_words``: fraction of words containing ≥1 ASCII letter
      ≥ min (array filter, no explode);
    - ``ok_stopwords``: ≥ ``min_stop_hits`` English stopword occurrences
      (the Gopher "contains 2 of 8 common words" proxy).

    Distinct from `quality_score` (a soft heuristic scalar): these are the
    hard published gates, individually reportable for filter-loss audits.
    """
    norm = normalize_text(col)
    n_words = whitespace_token_count(col)
    safe_words = F.greatest(n_words, F.lit(1))
    mean_wl = (
        (F.length(norm) - (n_words - 1)).cast("double") / safe_words.cast("double")
    )
    n_symbols = F.regexp_count(norm, F.lit(r"#|\.\.\.")) + F.regexp_count(
        norm, F.lit("…")
    )
    n_alpha_words = F.size(
        F.filter(F.split(norm, " "), lambda t: t.rlike("[a-z]"))
    )
    stop_hits = marker_hits(col, STOPWORDS_EN)
    rules = {
        "ok_n_words": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "ok_symbol_ratio": n_symbols.cast("double") / safe_words.cast("double")
        <= max_symbol_ratio,
        "ok_alpha_words": n_alpha_words.cast("double") / safe_words.cast("double")
        >= min_alpha_word_ratio,
        "ok_stopwords": stop_hits >= min_stop_hits,
    }
    gate = F.lit(True)
    for r in rules.values():
        gate = gate & r
    rules["pass"] = gate
    return rules


def fingerprint_md5(col: Column | str) -> Column:
    """Canonical-form md5 fingerprint — the exact-dedup key."""
    return F.md5(normalize_text(col))


def rolling_hash(col: Column | str, base: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Karp-Rabin polynomial rolling hash over whitespace tokens.

    Left-fold ``h = (h*base + (xxhash64(token) & 0xFFFFFFFF)) mod m`` via
    ``F.aggregate`` — order-sensitive by construction (that's the point of
    a rolling hash), deterministic, no UDF. Intermediate values stay below
    2^37 (mod 2^31, 32-bit token hashes), so the arithmetic never
    overflows a long even under ANSI mode. Token hashes are xxhash64 →
    engine-specific; use `fingerprint_md5` for cross-engine comparability.
    """
    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: (
            acc * F.lit(base) + F.xxhash64(x).bitwiseAND(F.lit(0xFFFFFFFF))
        ) % F.lit(mod),
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column set in one projection."""
    feats = quality_features(text_col)
    return df.withColumns(
        {
            "ws_tokens": whitespace_token_count(text_col),
            "bpe_tokens": bpe_token_count(text_col),
            "lang_pred": language_id(text_col),
            "quality": quality_score(text_col),
            "fingerprint": fingerprint_md5(text_col),
            **{k: v for k, v in feats.items() if k not in ("n_tokens",)},
        }
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    max_punct_ratio: float = 0.3,
    min_stopword_ratio: float = 0.01,
) -> DataFrame:
    """Gopher-style heuristic quality gate: keep documents inside token-
    count bounds with natural punctuation and stopword density. Pure
    predicate pushdown-friendly column expressions — composes with any
    upstream scan."""
    f = quality_features(text_col)
    keep = (
        (f["n_tokens"] >= min_tokens)
        & (f["n_tokens"] <= max_tokens)
        & (f["punct_ratio"] <= max_punct_ratio)
        & (f["stopword_ratio"] >= min_stopword_ratio)
    )
    return df.filter(keep)


def chunk_documents_udtf():
    """Python UDTF (Spark 4) that splits a document into overlapping
    token-window chunks — the table-function shape for context-window
    packing in training pipelines: one input row → N chunk rows with
    provenance (doc_id, chunk_id, span).

    A UDTF is the right surface when the fan-out arity is data-dependent
    and each output row needs constructed metadata; for fixed-arity
    splits prefer native explode (see ar2 in the contract), which stays
    in codegen. Returns the decorated class; register with
    ``spark.udtf.register("chunk_documents", chunk_documents_udtf())`` or
    call directly in the DataFrame API.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_id int, start_tok int, end_tok int, chunk string")
    class ChunkDocuments:
        def eval(self, doc_id: int, text: str, window: int = 64, overlap: int = 16):
            if text is None:
                return
            toks = text.split()
            if not toks:
                return
            step = max(window - overlap, 1)
            cid = 0
            for start in range(0, len(toks), step):
                end = min(start + window, len(toks))
                yield doc_id, cid, start, end, " ".join(toks[start:end])
                cid += 1
                if end == len(toks):
                    break

    return ChunkDocuments


# ---------------------------------------------------------------------------
# repetition / PII — Gopher-style quality signals and C4-style scrubbing

#: cross-engine-safe PII patterns (valid in Java regex AND RE2/DuckDB):
#: order matters — emails redact before the phone pattern can eat digits.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9][0-9() .-]{7,}[0-9]",
}


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document word-repetition signals (Gopher-style quality rules):
    total/distinct word counts, the most-frequent word's share, and the
    duplicate-word fraction. High top_word_fraction or dup_word_fraction
    flags boilerplate/spam for the curation gate.

    explode → two hash aggregates with map-side partial combine — one
    shuffle keyed (doc, word), one keyed (doc); linear at any corpus size.
    Documents with zero words are absent from the output (no word rows).
    """
    toks = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
    )
    per_word = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_word.groupBy(id_col)
        .agg(
            F.sum("n").alias("total_words"),
            F.count(F.lit(1)).alias("distinct_words"),
            F.max("n").alias("top_word_count"),
        )
        .withColumn(
            "top_word_fraction",
            F.col("top_word_count").cast("double") / F.col("total_words"),
        )
        .withColumn(
            "dup_word_fraction",
            F.lit(1.0) - F.col("distinct_words").cast("double") / F.col("total_words"),
        )
    )


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    marker: str = "<REDACTED>",
) -> DataFrame:
    """Scrub PII-shaped substrings (emails, IPs, phone numbers) and count
    what was removed — the C4/RefinedWeb-style cleaning pass.

    Pure column expressions: one ``regexp_count`` + ``regexp_replace``
    chain per pattern, zero shuffle, whole-stage codegen. Adds
    ``n_redactions`` (total matches) and rewrites ``text_col`` in place;
    patterns must stay in the Java∩RE2 regex subset so the DuckDB oracle
    can recompute them (see PII_PATTERNS).
    """
    patterns = patterns or PII_PATTERNS
    c = F.col(text_col)
    n = F.lit(0)
    for pat in patterns.values():
        n = n + F.regexp_count(c, F.lit(pat))
    cleaned = F.col(text_col)
    for pat in patterns.values():
        cleaned = F.regexp_replace(cleaned, pat, marker)
    return df.withColumn("n_redactions", n.cast("long")).withColumn(text_col, cleaned)


# ---------------------------------------------------------------------------
# Unicode normalization (curation pre-pass)

def unicode_normalize(col: Column | str, form: str = "NFC") -> Column:
    """Unicode-normalize a string column (NFC/NFKC/NFD/NFKD).

    The one text op that genuinely needs Python (the JVM SQL surface has
    no normalization builtin), so it runs as an Arrow-batched pandas UDF —
    vectorized transfer, zero shuffle, linear scan. Web corpora mix
    composed and decomposed forms (é vs e+U+0301); every hash-keyed
    operator downstream (dedup fingerprints, shingles, splits) silently
    treats them as distinct documents unless this pass runs first.
    DuckDB's ``nfc_normalize`` recomputes the NFC form exactly, so the
    query keeps an exact oracle.
    """
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: x if x is None else unicodedata.normalize(form, x)
        )

    c = F.col(col) if isinstance(col, str) else col
    return _norm(c)


# ---------------------------------------------------------------------------
# URL canonicalization (web-corpus curation)

#: scheme://host path ?query #fragment — RE2∩Java subset (no lookarounds)
#: so the DuckDB oracle runs the identical pattern.
URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def url_parts(col: Column | str) -> dict[str, Column]:
    """Split a URL column into scheme/host/path/query/fragment columns —
    pure ``regexp_extract`` (codegen, zero shuffle). Non-matching rows
    yield empty strings (both engines' regexp_extract default)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "scheme": F.lower(F.regexp_extract(c, URL_RE, 1)),
        "host": F.lower(F.regexp_extract(c, URL_RE, 2)),
        "path": F.regexp_extract(c, URL_RE, 3),
        "query": F.regexp_replace(F.regexp_extract(c, URL_RE, 4), r"^\?", ""),
        "fragment": F.regexp_replace(F.regexp_extract(c, URL_RE, 5), r"^#", ""),
    }


def registered_domain(host: Column) -> Column:
    """Last two dot-labels of the host — the dedup/blocking key for
    per-site caps and URL-level dedup (public-suffix-list accuracy is out
    of scope; two labels is the standard approximation)."""
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)


def canonicalize_url(col: Column | str, drop_param_prefix: str = "utm_") -> Column:
    """Canonical URL form for URL-keyed dedup (the first dedup pass of
    every web-crawl pipeline — cheaper than any content hash):

    - scheme and host lowercased; leading ``www.`` stripped
    - fragment dropped; tracking params (``utm_*``) dropped
    - trailing slashes trimmed (bare root becomes ``/``)

    Pure column algebra (regexp + split/filter/array_join), zero shuffle,
    whole-stage codegen; the DuckDB twin recomputes it with the same
    regexes and list functions.
    """
    import re as _re

    p = url_parts(col)
    host = F.regexp_replace(p["host"], r"^www\.", "")
    path = F.regexp_replace(p["path"], r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    kept = F.filter(
        F.split(p["query"], "&"),
        lambda kv: (~kv.rlike("^" + _re.escape(drop_param_prefix)))
        & (kv != ""),
    )
    q = F.array_join(kept, "&")
    return F.concat(
        p["scheme"],
        F.lit("://"),
        host,
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


def rank_langid_confusion(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    profile_size: int = 20,
    prefix_chars: int | None = None,
) -> DataFrame:
    """Cavnar-Trenkle (1994, public: "N-Gram-Based Text
    Categorization") rank-order language ID, self-scored as a confusion
    matrix — the trained-profile upgrade of the marker-word heuristic
    (language_id above): train per-language top-``profile_size``
    character-trigram rank profiles from the corpus's own labels, score
    every document against every profile by out-of-place distance, and
    report (true_lang, pred_lang, n_docs).

    ``prefix_chars`` is the production form: trigrams come from only
    the first ``prefix_chars`` characters of the NORMALIZED text —
    Cavnar-Trenkle's own profiles saturate after a few hundred
    characters, so classifying (and profiling) full documents buys no
    accuracy while the trigram explode scales with document length.
    Truncation happens on the normalized string (then the trigram
    builder re-normalizes, which can only trim a trailing space the cut
    exposed), so the semantics are a pure function of the canonical
    text and an oracle can replay them with substr + the same
    normalization. ``None`` = full documents (the exact-parity form).

    distance(doc, lang) = Σ over the doc's profile trigrams of
    |rank_doc - rank_lang|, with the ``profile_size`` penalty when the
    trigram is absent from the language profile. Written as
    base + correction — base = |doc profile| · P, each MATCHED trigram
    contributing (|rd - rl| - P) — every matched term is STRICTLY
    negative (ranks live in 1..P, so |rd - rl| ≤ P−1 < P). That
    domination argument is load-bearing for the plan: a language with
    ≥ 1 matched trigram strictly beats every unmatched language, and
    base is constant per document, so the argmin needs ONLY the
    matched-correction rows — argmin(corr, lang) per doc — with the
    alphabetically-first language as the fallback for documents whose
    profile matches nothing. No docs × langs cross join, no
    corpus-sized shuffle join (the earlier N·L formulation planned a
    SortMergeJoin of two corpus-sized frames; this one is pure
    doc-keyed aggregation). Ranks are row_number over (count DESC,
    trigram ASC) — a total order, so both engines rank identically.

    Scale shape: trigram explodes collapse immediately into
    (lang, trigram) — domain-sized — and (doc, trigram) — doc-bounded —
    groupBys; the L·P profile table broadcasts to the match join; the
    fallback is a broadcast anti-join plus a 1-row cross join. Argmin
    ties break lang-ASC (min struct). Documents with an empty trigram
    profile (NULL or < 3 chars of normalized text) are unclassifiable
    and excluded.
    """
    from pyspark.sql import Window

    p = profile_size
    # HOIST the canonical text into a projected ATTRIBUTE before the
    # trigram transform (round-11 plan audit): a transform lambda
    # re-evaluates its captured subtree PER ELEMENT, so inlining
    # normalize_text into the trigram transform pays the whitespace regex
    # once per TRIGRAM, not once per document — measured 6.5x on the sf0.1
    # explode (13.2s -> 2.0s; the prefix form's double normalization
    # made it 2x worse still). Spark does not collapse this projection
    # into the Generate's lambda.
    nt = (
        normalize_text(text_col)
        if prefix_chars is None
        else normalize_text(
            F.substring(normalize_text(text_col), 1, int(prefix_chars))
        )
    )
    # lazy barrier: base feeds FOUR consumers (the two trigram groupBys,
    # the docs-with-profile sentinel filter, and the truth join) — each
    # re-ran the scan + the normalization regex without it (5 scans in
    # the round-13 executed-plan audit). (doc, lang, canonical-text)-
    # sized: one narrow materialization against three re-normalizations.
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("true_lang"),
        nt.alias("__nt"),
    ).localCheckpoint(eager=False)
    tri_col = F.when(
        F.coalesce(F.length("__nt"), F.lit(0)) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length("__nt") - F.lit(2)),
            lambda i: F.substring(F.col("__nt"), i, 3),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri = base.select(
        "doc_id",
        "true_lang",
        F.explode(tri_col).alias("tri"),
    )
    # Two DIRECT groupBys over the explode, not a shared (doc, lang,
    # tri) pre-aggregation: per-doc trigram counts are mostly 1, so a
    # shared pre-agg barely combines and then re-shuffles its full
    # volume TWICE (measured at sf0.1: 3.58M vs 1.31M shuffle records,
    # 42 MB vs 13 MB). The lang-keyed groupBy map-side-combines the
    # explode straight down to the trigram domain — that is the win.
    lang_prof = (
        tri.groupBy(F.col("true_lang").alias("lang"), "tri")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rl",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("tri"))
            ),
        )
        .filter(F.col("rl") <= p)
        .select("lang", "tri", "rl")
    )
    doc_prof = (
        tri.groupBy("doc_id", "tri")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rd",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("c"), F.asc("tri")
                )
            ),
        )
        .filter(F.col("rd") <= p)
        .select("doc_id", "tri", "rd")
    )
    # the sentinel's doc universe comes straight off the scan — a doc
    # has a non-empty profile iff it has >= 1 trigram — NOT from
    # doc_prof.distinct(): that re-consumes (and re-shuffles) the whole
    # doc-profile exchange (measured at sf0.1: 2.51M vs 1.31M shuffle
    # records), while this filter is shuffle-free
    # a doc has >= 1 trigram iff its canonical text has >= 3 chars —
    # length() on the hoisted attribute, never a size(transform(...))
    # that would rebuild the whole trigram array per row just to test
    # emptiness
    docs_with_profile = base.filter(
        F.coalesce(F.length("__nt"), F.lit(0)) >= 3
    ).select("doc_id")
    corr = (
        doc_prof.join(F.broadcast(lang_prof), "tri")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.abs(F.col("rd") - F.col("rl")) - F.lit(p)
            ).alias("corr")
        )
    )
    # matched languages strictly dominate unmatched ones (see
    # docstring), and base = np·P is per-doc constant — so the argmin
    # reduces to (corr, lang) over the matched rows. The all-langs-tied
    # fallback (no profile trigram matched anything) rides the SAME
    # argmin as a per-doc sentinel row with corr = +1: every real
    # correction is < 0, so the sentinel only wins when nothing
    # matched — no anti-join, no docs × langs frame, ONE doc-keyed
    # groupBy decides every document.
    first_lang = lang_prof.agg(F.min("lang").alias("lang"))
    sentinel = docs_with_profile.crossJoin(F.broadcast(first_lang)).select(
        "doc_id", "lang", F.lit(1).cast("long").alias("corr")
    )
    pred = (
        corr.select("doc_id", "lang", F.col("corr").cast("long").alias("corr"))
        .unionByName(sentinel)
        .groupBy("doc_id")
        .agg(
            F.min(F.struct(F.col("corr"), F.col("lang").alias("l"))).alias("b")
        )
        .select("doc_id", F.col("b.l").alias("pred_lang"))
    )
    # truth off the checkpointed base (a pure projection of df — same
    # rows, same values), not a fourth scan of the source
    truth = base.select("doc_id", "true_lang")
    return (
        pred.join(truth, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )

"""Text-analysis operators for LLM-data pipelines (north-star surface).

All native Column expressions (JVM-side, codegen'd) unless noted:
language-ID via marker n-grams, quality scoring, token counting
(whitespace + BPE-ish regex), and rolling-hash fingerprinting.
Designed to run over trillions of documents: every function is a pure
per-row projection — no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import tokens

# Tiny per-language marker lexicons (public-knowledge stopwords).
# Real deployments would swap in fastText/CLD3 via a Pandas UDF; the
# heuristic keeps the hot path JVM-side and dependency-free.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "dans"],
    "es": ["el", "la", "los", "que", "es", "una", "con", "para"],
}


def marker_hits(text: str | Column, markers: list[str]) -> Column:
    """Count of marker-word occurrences (word-boundary regex)."""
    c = F.col(text) if isinstance(text, str) else text
    pat = r"\b(" + "|".join(markers) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pat), F.lit(0)))


def lang_id(text: str | Column, default: str = "unknown") -> Column:
    """Heuristic language-ID: argmax of marker-hit rate.

    Deterministic tie-break: languages are compared in sorted order
    and strictly-greater wins, so the first (alphabetical) language
    with the max score is chosen.
    """
    c = F.col(text) if isinstance(text, str) else text
    best_lang = F.lit(default)
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS):
        score = marker_hits(c, LANG_MARKERS[lang])
        take = score > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return best_lang


def token_count_ws(text: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text, lowercase=False))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count_bpe_ish(text: str | Column) -> Column:
    """BPE-ish token estimate: letter runs, single digits, punctuation.

    Mirrors the pre-tokenizer split of GPT-style BPE (letters / digits
    / punctuation classes) without a vocab — a standard cheap proxy
    for LLM token budgeting at corpus scale.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def quality_score(text: str | Column) -> Column:
    """Composite quality score in [0,1] as a single Column expression
    (reward letter-heavy, stopword-bearing, mid-length docs) — usable
    in batch projections AND streaming plans. Same expression tree as
    ``quality_features``'s quality_score column."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_tokens = F.size(toks)
    nonspace = F.length(F.regexp_replace(c, r"\s+", ""))
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    stop_hits = marker_hits(c, LANG_MARKERS["en"])
    alpha_ratio = F.when(nonspace > 0, alpha / nonspace).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    length_ok = (
        F.when(n_tokens >= 5, F.lit(1.0)).otherwise(n_tokens / F.lit(5.0))
    )
    return F.least(
        F.lit(1.0),
        F.lit(0.4) * alpha_ratio + F.lit(0.4) * length_ok + F.lit(0.2)
        * F.least(F.lit(1.0), stop_ratio * 4),
    )


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features (pure projection):

    n_chars, n_tokens, avg_token_len, alpha_ratio (fraction of
    non-space chars that are letters), punct_ratio, stopword_ratio
    (English markers), plus a composite ``quality_score`` in [0,1].
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    nonspace = F.length(F.regexp_replace(c, r"\s+", ""))
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    stop_hits = marker_hits(c, LANG_MARKERS["en"])
    avg_tok = F.when(n_tokens > 0, nonspace / n_tokens).otherwise(F.lit(0.0))
    alpha_ratio = F.when(nonspace > 0, alpha / nonspace).otherwise(F.lit(0.0))
    punct_ratio = F.when(nonspace > 0, punct / nonspace).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    score = quality_score(c)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.cast("int").alias("n_tokens"),
        F.round(avg_tok, 4).alias("avg_token_len"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def repetition_features(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    tokens taken by the single most frequent unigram / bigram, and the
    distinct-token ratio. High top-n-gram fractions flag boilerplate,
    keyword stuffing, and degenerate generations; low distinct ratios
    flag loops — standard pretraining quality filters.

    Unlike the projections above, these need per-(doc, gram) counts.
    SINGLE corpus scan: unigrams and bigrams explode together as
    type-tagged grams, so the text is read and tokenized once (at
    100 TB a second scan is the dominant cost, not the shuffle —
    same single-pass discipline as benchmark_contamination). Both
    aggregations partial-aggregate map-side and shuffle on
    (id, type, gram); the doc id prefixes every grouping key, so
    there is no global hot key and partitions stay balanced.

    Output: (id_col, n_tokens, top_unigram_frac, top_bigram_frac,
    distinct_ratio) — fractions rounded to 4, 0.0 when no grams.
    """
    from ..operators.dedup import fan_out_narrow_input

    toks = fan_out_narrow_input(df).select(
        F.col(id_col), tokens(text_col).alias("w")
    )

    from ..operators.dedup import ngram_array

    bigrams = ngram_array(F.col("w"), 2)
    tag = lambda col, t: F.transform(  # noqa: E731
        col, lambda g: F.struct(g.alias("g"), F.lit(t).alias("t"))
    )
    grams = toks.select(
        F.col(id_col),
        F.explode(F.concat(tag(F.col("w"), 0), tag(bigrams, 1))).alias("gt"),
    ).select(id_col, F.col("gt.g").alias("g"), F.col("gt.t").alias("t"))

    per_gram = grams.groupBy(id_col, "t", "g").agg(F.count("*").alias("c"))
    is_uni, is_bi = F.col("t") == 0, F.col("t") == 1
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum(F.when(is_uni, F.col("c"))).alias("uni_total"),
        F.max(F.when(is_uni, F.col("c"))).alias("uni_top"),
        F.count(F.when(is_uni, F.lit(1))).alias("uni_distinct"),
        F.sum(F.when(is_bi, F.col("c"))).alias("bi_total"),
        F.max(F.when(is_bi, F.col("c"))).alias("bi_top"),
    )
    frac = lambda top, total: F.round(  # noqa: E731
        F.when(F.col(total) > 0, F.col(top) / F.col(total)).otherwise(
            F.lit(0.0)
        ),
        4,
    )
    return per_doc.select(
        F.col(id_col),
        F.col("uni_total").cast("int").alias("n_tokens"),
        frac("uni_top", "uni_total").alias("top_unigram_frac"),
        F.coalesce(frac("bi_top", "bi_total"), F.lit(0.0)).alias(
            "top_bigram_frac"
        ),
        frac("uni_distinct", "uni_total").alias("distinct_ratio"),
    )


def fingerprint_md5(text: str | Column, normalize: bool = True) -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text — the exact-dedup / lineage id used across the corpus."""
    c = F.col(text) if isinstance(text, str) else text
    if normalize:
        c = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(c)


def hashed_bucket(term: Column, n_buckets: int) -> Column:
    """Engine-portable hashed feature bucket: first 8 md5 hex chars as
    an integer, mod ``n_buckets`` (the same md5→int trick
    `orders_group_checksum` uses — Spark's murmur/xxhash built-ins
    have no DuckDB twin, md5 does)."""
    return (
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def dsir_log_weights(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by log p_target(x)/p_raw(x) under bag-of-hashed-unigram
    models fitted on the corpus itself — ``target`` marks the rows
    that define the target distribution (e.g. a trusted domain).
    Downstream, resampling by these weights is exactly the
    `weighted_doc_sample` A-ES operator (weight = exp(log_weight)).

    Scale shape: bucket counts are two tiny aggregations (≤ n_buckets
    rows) broadcast back as ONE map row; scoring is then a pure
    per-row projection over each doc's token array — no shuffle, no
    UDF, O(corpus) total work.

    Determinism: Laplace-smoothed probabilities are fixed double
    expressions of exact integer counts; each token's contribution
    ln p_t − ln p_r is computed identically in both engines, and the
    per-doc sum folds the doc's OWN token array in array order (the
    `doc_unigram_logprob` pattern — additions only, so no FMA
    contraction risk).
    """
    toks = tokens(text_col)
    t = df.select(
        F.col(id_col),
        F.transform(toks, lambda w: hashed_bucket(w, n_buckets)).alias("b"),
        target.alias("is_target"),
    ).where(F.size("b") > 0)
    stats = (
        t.select(F.explode("b").alias("bucket"), "is_target")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("r_cnt"),
            F.sum(F.col("is_target").cast("long")).alias("t_cnt"),
        )
    )
    maps = stats.agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "r_cnt"))
        ).alias("rm"),
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "t_cnt"))
        ).alias("tm"),
        F.sum("r_cnt").alias("r_tot"),
        F.sum("t_cnt").alias("t_tot"),
    )
    contrib = lambda x: F.log(  # noqa: E731
        (F.element_at(F.col("tm"), x) + F.lit(1.0))
        / (F.col("t_tot") + F.lit(float(n_buckets)))
    ) - F.log(
        (F.element_at(F.col("rm"), x) + F.lit(1.0))
        / (F.col("r_tot") + F.lit(float(n_buckets)))
    )
    return t.crossJoin(F.broadcast(maps)).select(
        F.col(id_col),
        F.size("b").cast("int").alias("n_tokens"),
        F.col("is_target"),
        # + 0.0 canonicalizes IEEE negative zero (a near-neutral doc
        # can round to -0.0 on one engine and 0.0 on the other)
        (
            F.round(
                F.aggregate(
                    F.col("b"), F.lit(0.0), lambda acc, x: acc + contrib(x)
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("log_weight"),
    )


def jaro_winkler_py(a, b):
    """Scalar Jaro-Winkler (DuckDB 1.x convention) — the pure-
    Python kernel behind jaro_winkler_pandas_udf, exposed for
    direct differential testing against DuckDB's C++ one."""
    if a is None or b is None:
        return None
    la, lb = len(a), len(b)
    # DuckDB convention: ANY empty operand (including both) scores 0
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    amatch = [False] * la
    bmatch = [False] * lb
    m = 0
    for i in range(la):
        lo = i - window if i - window > 0 else 0
        hi = i + window + 1 if i + window + 1 < lb else lb
        for j in range(lo, hi):
            if not bmatch[j] and a[i] == b[j]:
                amatch[i] = True
                bmatch[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if amatch[i]:
            while not bmatch[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    if jaro > 0.7:
        prefix = 0
        for i in range(min(4, la, lb)):
            if a[i] == b[i]:
                prefix += 1
            else:
                break
        jaro = jaro + prefix * 0.1 * (1.0 - jaro)
    return jaro


def jaro_winkler_pandas_udf():
    """Arrow-batched Jaro-Winkler similarity (Winkler 1990), the
    fuzzy-matching primitive for entity resolution. Spark has no
    builtin (DuckDB does), so this is the engine's one deliberate
    scalar Pandas UDF: the differential gate checks a from-scratch
    Python implementation against DuckDB's independent C++ one —
    much stronger evidence than two calls into the same library.

    Convention (matches DuckDB 1.x): match window
    ``max(|a|,|b|)//2 − 1``, transpositions = half the mismatched
    aligned matches, and the Winkler prefix boost (≤4 chars, weight
    0.1) applied only when the Jaro score exceeds 0.7. Query layers
    must compare ROUND(sim, 6): sum association inside the Jaro
    average can differ from C++ by an ulp.

    Cost note (SURVEY §2.10): the per-pair loop is Python — fine on
    blocked candidate pairs (entity resolution always blocks first),
    never on a cross join.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    jw_one = jaro_winkler_py

    def jw(a, b):
        return pd.Series(
            [jw_one(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    # set REAL annotation objects: the module-wide `from __future__
    # import annotations` would stringify inline hints and pyspark's
    # hint parser cannot resolve the function-local `pd` alias
    jw.__annotations__ = {
        "a": pd.Series,
        "b": pd.Series,
        "return": pd.Series,
    }
    return pandas_udf(jw, "double")

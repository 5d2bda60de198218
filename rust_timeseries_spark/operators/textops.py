"""Text-analysis operators for training-data pipelines.

Everything here stays JVM-side (built-in ``pyspark.sql.functions``
column expressions inside whole-stage codegen) — no Python in the row
path, so these run at full scan speed over 100 TB document tables:

* token counting — whitespace tokens and a BPE-ish regex tokenization;
* quality scoring — length / punctuation / stopword / repetition ratios;
* language ID — stopword-hit n-gram heuristic over a small per-language
  lexicon (broadcast as literal arrays);
* document fingerprinting — 64-bit content hash + order-insensitive
  bag-of-words hash for near-canonical dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: words, numbers, or single non-space symbols
# (a simplified GPT-2-style pattern using Java regex classes).
BPE_SPLIT_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# tiny per-language stopword lexicons for the n-gram/stopword heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "que", "de", "es", "un", "una", "por", "para"],
}


def _check_reserved(df: DataFrame) -> None:
    """The operators below bind intermediates to ``_rts_*`` columns and
    drop them before returning, so a caller column with that prefix
    would be silently overwritten and then dropped: refuse it."""
    clash = [c for c in df.columns if c.lower().startswith("_rts_")]
    if clash:
        raise ValueError(
            f"columns {clash} use the '_rts_' prefix reserved for textops "
            "intermediates; rename them before calling"
        )


def words_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + regex token counts, distinct counts, type-token
    ratio. One projection, fully codegen'd."""
    _check_reserved(df)
    bpe = F.expr(f"regexp_extract_all({text_col}, '{BPE_SPLIT_PATTERN}', 0)")
    words = F.col("_rts_ws")
    return (
        df.withColumn("_rts_ws", words_col(text_col))
        .withColumn("n_ws_tokens", F.size(words).cast("long"))
        .withColumn("n_bpe_tokens", F.size(bpe).cast("long"))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(words)).cast("long"))
        .withColumn("ttr", F.col("n_distinct_tokens").cast("double") / F.col("n_ws_tokens"))
        .drop("_rts_ws")
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1]:
    mean word length sanity, stopword ratio, alphabetic ratio,
    duplicate-word ratio. Pure column math."""
    _check_reserved(df)
    # split bound once; every ratio below reads the attribute instead
    # of re-splitting (same arithmetic, same values)
    out = df.withColumn("_rts_ws", words_col(text_col))
    words = F.col("_rts_ws")
    n_words = F.size(words)
    text = F.col(text_col)
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^\.,;:!\?]", ""))
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(words, en_stop))
    dup_ratio = 1.0 - F.size(F.array_distinct(words)).cast("double") / n_words
    mean_word_len = (n_chars - (n_words - 1)).cast("double") / n_words
    word_len_ok = F.when((mean_word_len >= 2.0) & (mean_word_len <= 12.0), 1.0).otherwise(0.0)
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1))
    stop_frac = n_stop.cast("double") / F.lit(len(LANG_STOPWORDS["en"]))
    score = (
        0.3 * word_len_ok
        + 0.3 * alpha_ratio
        + 0.2 * stop_frac
        + 0.2 * (1.0 - dup_ratio)
    )
    return (
        out.withColumn("mean_word_len", mean_word_len)
        .withColumn("alpha_ratio", alpha_ratio)
        .withColumn("punct_ratio", n_punct.cast("double") / F.greatest(n_chars, F.lit(1)))
        .withColumn("dup_word_ratio", dup_ratio)
        .withColumn("quality_score", score)
        .drop("_rts_ws")
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID: count per-language lexicon hits in the
    word multiset, pick the argmax (ties → lexicographic via the
    ordered greatest chain); 'und' (undetermined) when no lexicon hits.
    """
    _check_reserved(df)
    # bind the split once (attribute, not re-split per lambda element)
    # and count each lexicon's hits with a set-membership predicate —
    # same multiset hit count as the array_contains scan, minus the
    # per-word 10-element array walk
    out = df.withColumn("_rts_ws", words_col(text_col))
    words = F.col("_rts_ws")
    hit_cols = []
    for lang, stops in sorted(LANG_STOPWORDS.items()):
        hits = F.size(F.filter(words, lambda w: w.isin(*stops)))
        hit_cols.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.greatest(*hit_cols) if len(hit_cols) > 1 else hit_cols[0]
    # bind the argmax struct too: it feeds both output columns, and
    # inlining it would re-run all four lexicon scans per consumer
    out = out.withColumn("_rts_best", best)
    best = F.col("_rts_best")
    return (
        out.withColumn(
            "lang_pred",
            F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
        )
        .withColumn("lang_hits", best["hits"].cast("long"))
        .drop("_rts_ws", "_rts_best")
    )


def with_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two 64-bit fingerprints:

    * ``fp_exact`` — xxhash64 of the normalized text (case-folded,
      whitespace-collapsed): catches trivially-reformatted duplicates;
    * ``fp_bag`` — xxhash64 of the sorted distinct word list: catches
      word-order shuffles (an order-insensitive rolling-hash analogue).
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    bag = F.array_join(F.array_sort(F.array_distinct(F.split(norm, " "))), " ")
    return df.withColumn("fp_exact", F.xxhash64(norm)).withColumn("fp_bag", F.xxhash64(bag))


def _ngram_arr(text_col: str, n: int) -> str:
    """SQL fragment: array of word n-grams (with internal spaces),
    empty when the doc has fewer than n words."""
    ws = f"split({text_col}, ' ')"
    return (
        f"CASE WHEN size({ws}) >= {n} THEN "
        f"transform(sequence(0, size({ws}) - {n}), "
        f"i -> array_join(slice({ws}, i + 1, {n}), ' ')) "
        f"ELSE array() END"
    )


def _top_share_sql(text_col: str, n: int) -> str:
    """SQL fragment: the top-n-gram character share — max over grams of
    ``count(g)·length(g) / length(text)`` via ONE run-length fold over
    the sorted gram array (equal grams are adjacent after the sort, so
    a run length IS the gram's count); 0.0 for docs under ``n`` words.
    Shared by ``with_repetition_stats`` and ``quality_filter``."""
    arr = _ngram_arr(text_col, n)
    best = (
        f"aggregate(array_sort({arr}), "
        f"struct('' AS prev, 0L AS run, 0L AS best), "
        f"(s, x) -> struct(x, "
        f"IF(x = s.prev, s.run + 1, 1L), "
        f"greatest(s.best, IF(x = s.prev, s.run + 1, 1L) * length(x))), "
        f"s -> s.best)"
    )
    return (
        f"CASE WHEN size({arr}) > 0 THEN "
        f"CAST({best} AS DOUBLE) / length({text_col}) ELSE 0.0 END"
    )


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 use
    duplicate-line and top-n-gram character fractions as quality
    filters; this is the word-n-gram form for single-line documents):

    * ``top2gram_frac`` / ``top3gram_frac`` — max over n-grams of
      ``count(g) · length(g) / length(text)``: the character share a
      single repeated phrase could cover.  Maximizing the product
      (not count alone) needs no tie-break and is the quantity the
      filter actually thresholds.
    * ``dup5gram_frac`` — fraction of 5-gram INSTANCES whose gram
      occurs more than once (0 for docs under 5 words).

    No shuffle, no Python: a projection that runs at scan speed even
    at 100 TB. Per-doc cost is O(m log m): each gram array is sorted
    once and every statistic falls out of ONE run-length pass with
    ``aggregate`` (equal grams are adjacent after the sort, so a run
    length IS the gram's count). The naive nested form —
    ``transform(array_distinct(g), x -> size(filter(g, y -> y = x)))``
    — is O(d·m) string comparisons per doc and measured **11×** slower
    at the sf0.1 corpus (19.8 s → 1.8 s for the 5k-doc gate; the gap
    widens with document length); identical results, since
    max-over-runs ≡ max-over-distinct-counts.

    r6 plan-shape note: the word split and each SORTED gram array are
    bound to intermediate columns instead of being inlined into every
    consumer. Inlined, the r5 physical plan evaluated the gram
    constructor 11× and ``split(text)`` 24× per row — and because
    higher-order functions are CodegenFallback, a ``split`` nested
    inside a lambda body is re-evaluated PER ARRAY ELEMENT (O(m²)
    splits per doc). Referenced-more-than-once non-cheap aliases are
    not re-inlined by CollapseProject, so each intermediate is now
    computed exactly once per row; the arithmetic (and therefore every
    output value) is unchanged.
    """
    _check_reserved(df)
    ws = "_rts_ws"
    out = df.withColumn(ws, words_col(text_col))
    n_ws = F.size(F.col(ws))

    def gram_sorted(n: int):
        # sorted n-gram array straight from the bound word array; the
        # CASE mirrors _ngram_arr (docs under n words → empty/1-gram)
        return F.expr(
            f"array_sort(CASE WHEN size({ws}) >= {n} THEN "
            f"transform(sequence(0, size({ws}) - {n}), "
            f"i -> array_join(slice({ws}, i + 1, {n}), ' ')) "
            f"ELSE array() END)"
        )

    for n, col in ((2, "_rts_s2"), (3, "_rts_s3"), (5, "_rts_s5")):
        out = out.withColumn(col, gram_sorted(n))
    # one run-length fold per statistic: state = (prev gram, current
    # run, best/singles) — identical fold arithmetic to r5
    best = (
        "aggregate({g}, struct('' AS prev, 0L AS run, 0L AS best), "
        "(s, x) -> struct(x, IF(x = s.prev, s.run + 1, 1L), "
        "greatest(s.best, IF(x = s.prev, s.run + 1, 1L) * length(x))), "
        "s -> s.best)"
    )
    for n, g, col in ((2, "_rts_s2", "top2gram_frac"), (3, "_rts_s3", "top3gram_frac")):
        out = out.withColumn(
            col,
            F.when(
                n_ws >= n,
                F.expr(best.format(g=g)).cast("double") / F.length(F.col(text_col)),
            ).otherwise(F.lit(0.0)),
        )
    # singles = runs of length exactly 1: +1 on each run start, −1 when
    # a run reaches length 2 (never adjusted again past that)
    singles = (
        "aggregate(_rts_s5, "
        "struct('' AS prev, 0L AS run, 0L AS singles), "
        "(s, x) -> struct(x, "
        "IF(x = s.prev, s.run + 1, 1L), "
        "s.singles + IF(x = s.prev, IF(s.run = 1, -1L, 0L), 1L)), "
        "s -> s.singles)"
    )
    g5_sz = F.size(F.col("_rts_s5")).cast("long")
    out = out.withColumn(
        "dup5gram_frac",
        F.when(
            F.size(F.col("_rts_s5")) > 0,
            (g5_sz - F.expr(singles)).cast("double") / g5_sz.cast("double"),
        ).otherwise(F.lit(0.0)),
    )
    return out.drop(ws, "_rts_s2", "_rts_s3", "_rts_s5")


# PII scrubbing patterns — deliberately conservative shapes that parse
# and match IDENTICALLY under Java regex (Spark), RE2 (DuckDB) and
# Python `re`: character classes, bounded quantifiers and `\b` only —
# no backreferences, no lookaround (absent from RE2), no alternation
# whose leftmost-first (Java) vs leftmost-longest (RE2) semantics could
# diverge. Order matters: emails are redacted before phones/IPs so a
# dotted/digit-bearing local part is consumed as one email match.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{4}", "<PHONE>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
}


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing — the redaction pass every LLM training corpus
    runs before anything else sees the text. Adds per-document match
    counts ``n_email`` / ``n_phone`` / ``n_ipv4`` (each counted against
    the INPUT text, independently — a doc is expected to trip one
    pattern class per span) and ``text_redacted`` with matches replaced
    by typed placeholder tokens, emails first (see ``PII_PATTERNS``).

    Pure ``regexp_count`` / ``regexp_replace`` column expressions — a
    shuffle-free codegen projection that runs at scan speed over
    100 TB; patterns are restricted to the Java∩RE2∩`re` common subset
    so any SQL engine reproduces the result byte-for-byte (the driver
    oracle recomputes it in DuckDB/RE2). Patterns go through the
    column-function API (never ``F.expr`` string literals), so no
    SQL-string escape processing touches ``\\b``.
    """
    out = df
    red = F.col(text_col)
    for name, (pat, token) in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        )
        red = F.regexp_replace(red, pat, token)
    return out.withColumn("text_redacted", red)


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    mean_word_len_lo: float = 2.0,
    mean_word_len_hi: float = 12.0,
    min_alpha_ratio: float = 0.6,
    max_dup_word_ratio: float = 0.6,
    max_top2gram_frac: float = 0.2,
) -> DataFrame:
    """The composite document quality FILTER step (C4 / Gopher-rule
    style — Raffel et al. 2020 §2.2, Rae et al. 2021 §A1.1): every doc
    gets ``keep`` plus a ``drop_reason`` naming the FIRST failing rule
    in a fixed precedence order, so downstream attrition reports
    (docs dropped per reason per source) are deterministic and
    auditable — the operational requirement that separates a filter
    PIPELINE from a boolean soup.

    Precedence: ``too_short`` → ``too_long`` → ``word_len`` (mean word
    length outside [lo, hi]) → ``alpha`` (alphabetic character ratio
    below min) → ``dup_words`` (duplicate-word ratio above max) →
    ``rep_2gram`` (top-2-gram character share above max) → ``keep``
    (reason ``'keep'``).

    Every signal is a pure projection (no shuffle, scan speed at any
    corpus size) built from exact int/int or two-op IEEE arithmetic,
    so any SQL engine reproduces the decisions bit-for-bit — the
    *quality_filter* driver gate value-compares the per-(source,
    reason) attrition counts AND the kept token mass against DuckDB.
    """
    _check_reserved(df)
    out = df.withColumn("_rts_ws", words_col(text_col))
    words = F.col("_rts_ws")
    n_words = F.size(words)
    text = F.col(text_col)
    n_chars = F.length(text)
    mean_word_len = (n_chars - (n_words - 1)).cast("double") / n_words
    n_alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1))
    dup_ratio = 1.0 - F.size(F.array_distinct(words)).cast("double") / n_words
    # top-2-gram share over the bound word array (same fold arithmetic
    # as with_repetition_stats; the bound attribute stops the
    # interpreted lambda from re-splitting the text per element)
    top2 = F.when(
        n_words >= 2,
        F.expr(
            "aggregate(array_sort(transform(sequence(0, size(_rts_ws) - 2), "
            "i -> array_join(slice(_rts_ws, i + 1, 2), ' '))), "
            "struct('' AS prev, 0L AS run, 0L AS best), "
            "(s, x) -> struct(x, IF(x = s.prev, s.run + 1, 1L), "
            "greatest(s.best, IF(x = s.prev, s.run + 1, 1L) * length(x))), "
            "s -> s.best)"
        ).cast("double")
        / F.length(text),
    ).otherwise(F.lit(0.0))
    reason = (
        F.when(n_words < min_words, "too_short")
        .when(n_words > max_words, "too_long")
        .when(
            (mean_word_len < mean_word_len_lo) | (mean_word_len > mean_word_len_hi),
            "word_len",
        )
        .when(alpha_ratio < min_alpha_ratio, "alpha")
        .when(dup_ratio > max_dup_word_ratio, "dup_words")
        .when(top2 > max_top2gram_frac, "rep_2gram")
        .otherwise("keep")
    )
    return (
        out.withColumn("drop_reason", reason)
        .withColumn("keep", F.col("drop_reason") == "keep")
        .drop("_rts_ws")
    )


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary top-k: global word frequencies, highest-count
    first with words as the deterministic tie-break — the vocab-build /
    Zipf-audit step of a tokenizer pipeline.

    Plan shape at scale: explode → two-phase hash count (partial
    map-side combine absorbs the Zipf head before the shuffle, so the
    exchange carries ≤ |vocab| rows per mapper, not |tokens|), then
    ``orderBy(...).limit(k)`` which Spark executes as
    TakeOrderedAndProject — every partition keeps only its own top-k,
    the driver merges k·partitions rows. No global sort ever
    materializes, so a 10⁸-type vocabulary costs one shuffle."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    words = words_col(text_col)
    return (
        df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(k)
    )


def with_char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Shannon character entropy per document (bits/char) — the
    classic gibberish/boilerplate quality signal: near-zero for
    repeated filler, ≈4.1 for natural English, ≈6 for base64 blobs.

    Stays a shuffle-free JVM projection: per-doc distinct characters ×
    a ``size(filter(...))`` count, folded with ``F.aggregate`` —
    O(m·distinct) per doc inside codegen, no (doc, char) explode and
    therefore no shuffle at any corpus size. Emits ``n_chars_total``,
    ``n_distinct_chars``, ``char_entropy``."""
    _check_reserved(df)
    # r6 plan shape: bind chars / distinct / per-char counts to
    # intermediate columns. Inlined, the interpreted higher-order fold
    # re-evaluated ``split(text, '')`` per distinct char AND counted
    # each char twice (once for p, once inside log2). The probability
    # terms and the fold order (first-occurrence order of the distinct
    # array) are unchanged, so the float accumulation — and the oracle
    # hash — is bit-identical.
    out = (
        df.withColumn("_rts_ch", F.split(F.col(text_col), ""))
        .withColumn("_rts_dc", F.array_distinct(F.col("_rts_ch")))
    )
    chars = F.col("_rts_ch")
    distinct = F.col("_rts_dc")
    m = F.size(chars)
    # per-distinct-char counts, each computed ONCE, in distinct order
    out = out.withColumn(
        "_rts_cnt",
        F.transform(distinct, lambda c: F.size(F.filter(chars, lambda x: x == c))),
    )
    ent = F.aggregate(
        F.col("_rts_cnt"),
        F.lit(0.0),
        lambda acc, n: acc
        - (n.cast("double") / m.cast("double"))
        * F.log2(n.cast("double") / m.cast("double")),
    )
    return (
        out.withColumn("n_chars_total", m.cast("long"))
        .withColumn("n_distinct_chars", F.size(distinct).cast("long"))
        .withColumn("char_entropy", ent)
        .drop("_rts_ch", "_rts_dc", "_rts_cnt")
    )

"""Text-analysis operators for training-data curation.

Language-ID (stopword n-gram heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and document fingerprinting
(rolling polynomial hash + md5). All pure Catalyst expressions — no
Python in the hot path; each has a bit-identical DuckDB twin in
``logzilla_spark.oracle_dataops`` (constants shared from HERE).

Float portability: every double in the outputs is either an exact
int/int division or a fixed-order sum of such terms, so the
differential oracle compares exact bits (see dedup.cosine_expr note).

Scale: all four are single narrow projections over the text column —
no shuffle, fully pipelined with the parquet scan, column-pruned to
(id, text). At 100 TB this is the ideal operator shape: scan-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from logzilla_spark.functions.caching import persist_tracked, truncate
from logzilla_spark.functions.hashing import P31, md5_long, md5_long_expr
from logzilla_spark.operators.dedup import normalize_text

# Stopword lists for the language-ID heuristic. Deterministic, tiny —
# broadcast as expression literals into both engines.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "del"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "im", "ein"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
}
LANG_PRIORITY = ["en", "es", "de", "fr"]  # deterministic tie-break order

# BPE-ish pre-tokenizer: letter runs | digit runs | single other glyph.
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _hits_expr(tokens_col: str, words: list[str]) -> str:
    lit = "array(" + ", ".join(f"'{w}'" for w in words) + ")"
    return f"size(filter({tokens_col}, t -> array_contains({lit}, t)))"


def _with_lang_pred(base: DataFrame) -> DataFrame:
    """Add hits_<lang> columns and the priority-tie-break prediction to
    a frame carrying ``_t`` (whitespace tokens of the normalized text).
    ONE builder shared by language_id and curate_corpus so the composed
    curation pass cannot drift from the unit operator."""
    for lang in LANG_PRIORITY:
        base = base.withColumn(
            f"hits_{lang}", F.expr(_hits_expr("_t", STOPWORDS[lang]))
        )
    # CASE chain in priority order — ties go to the earlier language.
    pred = F.when(
        (F.col("hits_en") >= F.col("hits_es"))
        & (F.col("hits_en") >= F.col("hits_de"))
        & (F.col("hits_en") >= F.col("hits_fr")),
        F.lit("en"),
    ).when(
        (F.col("hits_es") >= F.col("hits_de")) & (F.col("hits_es") >= F.col("hits_fr")),
        F.lit("es"),
    ).when(F.col("hits_de") >= F.col("hits_fr"), F.lit("de")).otherwise(F.lit("fr"))
    return base.withColumn("pred_lang", pred)


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-hit language classifier (n-gram heuristic).

    Counts per-language stopword hits over whitespace tokens; predicts
    the max-hit language with a fixed priority tie-break. Returns
    (id, hits_<lang>..., pred_lang).
    """
    base = df.select(
        F.col(id_col).alias("id"), normalize_text(text_col).alias("_n")
    ).withColumn("_t", F.split("_n", " "))
    return _with_lang_pred(base).select(
        "id", *[f"hits_{lang}" for lang in LANG_PRIORITY], "pred_lang"
    )


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic document quality: length, word-shape, stopword and
    digit ratios folded into one [0,1]-ish score.

    score = 0.5*min(words,100)/100 + 0.3*stop_ratio + 0.2*(1-digit_ratio)

    All terms are exact int/int divisions combined in a fixed order —
    bit-portable to the oracle.
    """
    base = _with_quality(
        df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .withColumn("_t", F.split("_n", " "))
    )
    return base.select(
        "id", "n_chars", "n_words", "avg_word_len",
        "stop_ratio", "digit_ratio", "quality", "quality_band",
    )


def _with_quality(base: DataFrame) -> DataFrame:
    """Add the quality columns (n_chars..quality_band) to a frame
    carrying ``_n``/``_t``. Shared by quality_score and curate_corpus
    (same non-drift rationale as _with_lang_pred)."""
    base = (
        base.withColumn("n_chars", F.length("_n"))
        .withColumn("n_words", F.size("_t"))
        .withColumn(
            "avg_word_len",
            (F.col("n_chars") - (F.col("n_words") - 1)).cast("double")
            / F.col("n_words").cast("double"),
        )
        .withColumn(
            "stop_ratio",
            F.expr(_hits_expr("_t", STOPWORDS["en"])).cast("double")
            / F.col("n_words").cast("double"),
        )
        .withColumn(
            "digit_ratio",
            # try_divide: an empty/whitespace-only doc has n_chars=0 and
            # ANSI `/` would THROW mid-corpus; the DuckDB twin returns
            # NULL for x/0, so try_divide is the bit-matching form. The
            # n_words divisions above stay plain `/`: split() never
            # returns an empty array (min is [""]), so n_words >= 1.
            F.try_divide(
                F.expr("size(regexp_extract_all(_n, '[0-9]', 0))").cast("double"),
                F.col("n_chars").cast("double"),
            ),
        )
    )
    score = (
        F.least(F.col("n_words"), F.lit(100)).cast("double") / F.lit(100.0) * F.lit(0.5)
        + F.col("stop_ratio") * F.lit(0.3)
        + (F.lit(1.0) - F.col("digit_ratio")) * F.lit(0.2)
    )
    return base.withColumn("quality", score).withColumn(
        "quality_band",
        F.when(F.col("quality") >= 0.6, "high")
        .when(F.col("quality") >= 0.4, "medium")
        .otherwise("low"),
    )


def token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens + chars-per-token."""
    return (
        df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .withColumn("ws_tokens", F.size(F.split("_n", " ")))
        .withColumn(
            "bpe_tokens", F.expr(f"size(regexp_extract_all(_n, '{BPE_RE}', 0))")
        )
        .withColumn("n_chars", F.length("_n"))
        .withColumn(
            "chars_per_token",
            # try_divide: empty docs have zero BPE tokens; ANSI `/`
            # throws, the DuckDB twin returns NULL for x/0.
            F.try_divide(
                F.col("n_chars").cast("double"), F.col("bpe_tokens").cast("double")
            ),
        )
        .select("id", "ws_tokens", "bpe_tokens", "n_chars", "chars_per_token")
    )


def fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprints: 60-bit md5 prefix + 31-bit rolling
    polynomial hash (h = (h*31 + code) mod 2^31-1 over code points).

    The rolling hash is the incremental-update primitive (winnowing /
    Rabin-Karp family); ASCII-safe — code points via ascii(). The md5
    fingerprint is the collision-resistant one.
    """
    roll = F.expr(
        "aggregate(transform(sequence(1, greatest(length(_n), 1)), "
        "i -> ascii(substring(_n, i, 1))), 0L, "
        f"(acc, c) -> pmod(acc * 31 + c, {P31}))"
    )
    return (
        df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .select(
            "id",
            md5_long(F.col("_n")).alias("fp_md5"),
            roll.alias("fp_roll"),
        )
    )


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.4,
) -> DataFrame:
    """One-pass corpus curation: the canonical LLM training-data shape
    (language gate -> quality gate -> exact-dedup keep-first), composed
    from the SAME expression builders as the unit operators.

    Plan shape for 100 TB: a single narrow projection computes language
    hits, quality and BPE token counts together (one scan, column-
    pruned to (id, text), fully codegen), the gates filter BEFORE the
    only shuffle, and the keep-first dedup is min_by over the content
    hash — ONE hash aggregation with map-side partial aggregation, so a
    hot duplicate (crawl boilerplate, the exact case dedup exists for)
    collapses to one partial row per map task instead of shipping every
    copy to a single reducer (a window over the hash would do exactly
    that, and AQE cannot split window skew). No joins, no second scan.
    The reference has no curation pass; this is the graft-mandated
    training-data extension (SURVEY.md §2 G-block context).

    Returns surviving docs: (id, pred_lang, quality, quality_band,
    bpe_tokens, n_copies) where n_copies counts the gated rows sharing
    the survivor's content hash (its duplicates were dropped).
    """
    base = (
        df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .withColumn("_t", F.split("_n", " "))
        .withColumn(
            "bpe_tokens", F.expr(f"size(regexp_extract_all(_n, '{BPE_RE}', 0))")
        )
    )
    gated = _with_quality(_with_lang_pred(base)).filter(
        (F.col("pred_lang") == lang) & (F.col("quality") >= min_quality)
    )
    out_cols = ["id", "pred_lang", "quality", "quality_band", "bpe_tokens"]
    return (
        gated.groupBy(F.md5("_n").alias("_h"))
        .agg(
            F.min_by(F.struct(*out_cols), F.col("id")).alias("_k"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(*[F.col(f"_k.{c}").alias(c) for c in out_cols], "n_copies")
    )


def corpus_report(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-(language, quality-band) corpus statistics — the stratified
    stats table a corpus data card publishes next to the funnel:
    (pred_lang, quality_band, n_docs, total_words, distinct_docs).
    ``distinct_docs`` counts distinct content hashes, so
    n_docs - distinct_docs is the per-stratum exact-duplicate mass.

    NULL-text docs emit no row (the module's contract) — counting them
    in a stratum would break both published invariants: md5(NULL) is
    excluded from count_distinct (phantom 'duplicates') and their NULL
    n_words can void total_words. Their count is input minus
    sum(n_docs), one subtraction away.

    One scan (the shared language + quality builders — cannot drift
    from the unit operators) and one small shuffle keyed by the
    (lang, band) stratum: count/sum/count-distinct aggregate with
    map-side partials; strata cardinality is tiny by construction.
    All outputs are exact integers.
    """
    base = _with_quality(
        _with_lang_pred(
            df.select(
                F.col(id_col).alias("id"), normalize_text(text_col).alias("_n")
            )
            .filter(F.col("_n").isNotNull())
            .withColumn("_t", F.split("_n", " "))
        )
    )
    return base.groupBy("pred_lang", "quality_band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.count_distinct(F.md5("_n")).alias("distinct_docs"),
    )


# Gopher document-quality rule thresholds (Rae et al. '21 A1.1) — the
# canonical web-crawl doc gate; repetition_stats covers the same
# paper's repetition signals, this is its doc-shape/content rule set.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOP_HITS = 2


def gopher_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = GOPHER_MIN_WORDS,
    min_stop_hits: int = GOPHER_MIN_STOP_HITS,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 A1.1), each signal exposed
    plus the combined ``keep`` verdict: word count in [50, 100k], mean
    word length in [3, 10], symbol-to-word ratio (# / ...) < 0.1,
    < 90% of lines bullet-started, < 30% ellipsis-ended, >= 80% of
    words containing an alphabetic character, and >= 2 distinct
    stopwords from the paper's 8-word list.

    All fractions are exact int/int divisions (try_divide for empty
    denominators), mean word length is the (chars - separators)/words
    identity quality_score already uses — bit-portable to the twin.
    One narrow projection over (id, text): scan-bound, no shuffle, no
    explode (line and word checks run inside array expressions).

    ``min_words`` / ``min_stop_hits`` default to the paper's values
    (tuned for real web pages); corpora with different document shapes
    pass their own (the curation funnel does, for the short synthetic
    demo docs).
    """
    base = _with_gopher(
        df.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), "\n").alias("_lines"),
            normalize_text(text_col).alias("_n"),
        ).withColumn("_t", F.split("_n", " ")),
        min_words=min_words,
        min_stop_hits=min_stop_hits,
    )
    return base.select(
        "id", "n_words", "mean_word_len", "symbol_ratio", "bullet_frac",
        "ellipsis_frac", "alpha_word_frac", "n_stop_hits",
        F.col("gopher_keep").alias("keep"),
    )


def _with_gopher(
    base: DataFrame,
    min_words: int = GOPHER_MIN_WORDS,
    min_stop_hits: int = GOPHER_MIN_STOP_HITS,
) -> DataFrame:
    """Add the Gopher A1.1 signal columns and the combined
    ``gopher_keep`` verdict to a frame carrying ``_lines``/``_n``/
    ``_t``. Shared by gopher_quality_filter and curation_funnel (the
    _with_lang_pred non-drift rationale: the composed funnel and the
    unit operator must gate on ONE definition)."""
    stop_lit = "array(" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + ")"
    base = (
        base.withColumn("n_words", F.size("_t"))
        .withColumn("n_lines", F.size("_lines"))
        .withColumn(
            "mean_word_len",
            F.try_divide(
                (F.length("_n") - (F.col("n_words") - 1)).cast("double"),
                F.col("n_words").cast("double"),
            ),
        )
        .withColumn(
            "symbol_ratio",
            F.try_divide(
                (
                    F.expr("size(regexp_extract_all(_n, '#', 0))")
                    + F.expr(r"size(regexp_extract_all(_n, '\\.\\.\\.', 0))")
                ).cast("double"),
                F.col("n_words").cast("double"),
            ),
        )
        .withColumn(
            "bullet_frac",
            F.try_divide(
                F.expr(
                    "size(filter(_lines, l -> "
                    "startswith(ltrim(l), '-') OR startswith(ltrim(l), '*') "
                    "OR startswith(ltrim(l), '•')))"
                ).cast("double"),
                F.col("n_lines").cast("double"),
            ),
        )
        .withColumn(
            "ellipsis_frac",
            F.try_divide(
                F.expr(
                    "size(filter(_lines, l -> "
                    "endswith(rtrim(l), '...') OR endswith(rtrim(l), '…')))"
                ).cast("double"),
                F.col("n_lines").cast("double"),
            ),
        )
        .withColumn(
            "alpha_word_frac",
            F.try_divide(
                F.expr("size(filter(_t, w -> w rlike '[a-z]'))").cast("double"),
                F.col("n_words").cast("double"),
            ),
        )
        .withColumn(
            "n_stop_hits",
            F.expr(f"size(filter({stop_lit}, s -> array_contains(_t, s)))"),
        )
    )
    keep = (
        (F.col("n_words") >= int(min_words))
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MIN_WORD_LEN)
        & (F.col("mean_word_len") <= GOPHER_MAX_WORD_LEN)
        & (F.col("symbol_ratio") < GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("bullet_frac") < GOPHER_MAX_BULLET_FRAC)
        & (F.col("ellipsis_frac") < GOPHER_MAX_ELLIPSIS_FRAC)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_FRAC)
        & (F.col("n_stop_hits") >= int(min_stop_hits))
    )
    return base.withColumn("gopher_keep", F.coalesce(keep, F.lit(False)))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. '21
    crawl-filtering rules; the standard LLM-corpus repetition gate):

    - ``dup_line_frac``: 1 - distinct/total over RAW text lines
      (boilerplate pages repeat nav/footer lines verbatim);
    - ``dup_token_frac``: 1 - distinct/total over normalized tokens;
    - ``top_bigram_frac``: occurrences of the most frequent token
      bigram / total bigrams (keyword-stuffing signal).

    Every fraction is an exact int/int division (bit-portable to the
    DuckDB twin); degenerate docs (NULL/empty/single-token) yield NULL
    fractions via try_divide on both engines.

    Plan shape for 100 TB: line/token stats are a narrow projection
    (scan-bound); the bigram mode is explode -> two hash aggregations
    keyed by (id, gram) then id — all codegen with map-side partials,
    uniform keys (id is unique, grams are per-doc), no interpreted
    per-element counting (the SimHash probe's lesson: nested aggregate
    lambdas are interpreted and O(n*d) per doc).
    """
    base = _with_repetition(
        df.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), "\n").alias("_lines"),
            normalize_text(text_col).alias("_n"),
        ).withColumn("_t", F.split("_n", " "))
    )
    return (
        base.join(_top_bigram_counts(base), "id", "left")
        .select(
            "id",
            "n_lines",
            "dup_line_frac",
            "n_tokens",
            "dup_token_frac",
            _top_bigram_frac().alias("top_bigram_frac"),
        )
    )


def _with_repetition(base: DataFrame) -> DataFrame:
    """Add the projection-shaped repetition signals (n_lines, n_tokens,
    dup_line_frac, dup_token_frac) to a frame carrying ``_lines``/
    ``_t``. Shared by repetition_stats and curation_funnel (the
    _with_lang_pred non-drift rationale); the top-bigram mode lives in
    :func:`_top_bigram_counts` because it alone needs an explode+agg."""
    return (
        base.withColumn("n_lines", F.size("_lines"))
        .withColumn("n_tokens", F.size("_t"))
        .withColumn(
            "dup_line_frac",
            F.try_divide(
                (F.col("n_lines") - F.size(F.array_distinct("_lines"))).cast("double"),
                F.col("n_lines").cast("double"),
            ),
        )
        .withColumn(
            "dup_token_frac",
            F.try_divide(
                (F.col("n_tokens") - F.size(F.array_distinct("_t"))).cast("double"),
                F.col("n_tokens").cast("double"),
            ),
        )
    )


def _top_bigram_counts(base: DataFrame) -> DataFrame:
    """(id, _top_cnt) — count of the most frequent token bigram per doc,
    over a frame carrying ``_t``. The ONLY repetition signal that needs
    an explode and aggregations (the other fractions are array
    expressions inside the scan projection)."""
    # bigram arrays: one interpreted transform per DOC (array build),
    # counting itself stays in codegen aggregations below
    bigrams = base.select(
        "id",
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.expr(
                    "transform(sequence(1, size(_t) - 1), "
                    "i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1)))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    return (
        bigrams.groupBy("id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("_top_cnt"))
    )


def _top_bigram_frac() -> Column:
    """``_top_cnt / (n_tokens - 1)`` — NULL for degenerate docs on both
    engines (try_divide; _top_cnt is NULL off the left join)."""
    return F.try_divide(
        F.col("_top_cnt").cast("double"),
        (F.col("n_tokens") - 1).cast("double"),
    )


# PII patterns shared with the DuckDB twin. Deliberately restricted to
# syntax Java regex and RE2 (DuckDB) interpret identically: character
# classes, bounded repetition, \b word boundaries; no lookaround, no
# \d (spelled [0-9] for dialect parity).
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
PII_PHONE_RE = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet/RefinedWeb-style PII scrub: emails, IPv4 addresses and
    phone-shaped digit runs replaced with typed tokens, plus per-doc
    match counts.

    Stages run SEQUENTIALLY (email -> ip -> phone), each counting and
    redacting on the previous stage's output, so a digit run inside an
    email is never double-counted as a phone — the same precedence
    order on both engines. Pure regex projections: scan-bound,
    no shuffle, NULL text passes through as NULL.
    """
    email, ipv4, phone = (
        F.lit(PII_EMAIL_RE), F.lit(PII_IPV4_RE), F.lit(PII_PHONE_RE)
    )
    t0 = F.col(text_col)
    base = (
        df.select(F.col(id_col).alias("id"), t0.alias("_t0"))
        .withColumn("n_emails", F.size(F.regexp_extract_all(F.col("_t0"), email, F.lit(0))))
        .withColumn("_t1", F.regexp_replace("_t0", PII_EMAIL_RE, "<EMAIL>"))
        .withColumn("n_ips", F.size(F.regexp_extract_all(F.col("_t1"), ipv4, F.lit(0))))
        .withColumn("_t2", F.regexp_replace("_t1", PII_IPV4_RE, "<IP>"))
        .withColumn("n_phones", F.size(F.regexp_extract_all(F.col("_t2"), phone, F.lit(0))))
        .withColumn("clean_text", F.regexp_replace("_t2", PII_PHONE_RE, "<PHONE>"))
    )
    return base.select("id", "n_emails", "n_ips", "n_phones", "clean_text")


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_kept_lines: int = 5,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. '20 §2.2): keep only
    lines that end in terminal punctuation, have >= ``min_words``
    words, and contain no 'lorem ipsum', no 'javascript', and no curly
    brace; a page then passes (``keep_doc``) iff >= ``min_kept_lines``
    lines survive. Returns every doc with the cleaned text and counts —
    filtering on keep_doc is the caller's cut, so the stats stay
    inspectable.

    One narrow projection over line ARRAYS (split -> filter ->
    array_join): no explode, no shuffle, scan-bound — the ideal 100 TB
    shape. The per-line lambda is an interpreted HOF, measured within
    ~25% of regex alternatives at 40x corpus (BENCH/DEDUP_SCALE.md
    round-3 addendum), so the no-shuffle shape wins.
    """
    keep = (
        "filter(_lines, l -> "
        "  l rlike '[.!?\"]\\\\s*$'"
        f" AND size(split(trim(l), ' +')) >= {min_words}"
        "  AND NOT contains(lower(l), 'lorem ipsum')"
        "  AND NOT contains(lower(l), 'javascript')"
        "  AND NOT contains(l, '{'))"
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), "\n").alias("_lines"),
        )
        .withColumn("_kept", F.expr(keep))
        .select(
            "id",
            F.size("_lines").alias("n_lines"),
            F.size("_kept").alias("n_lines_kept"),
            F.coalesce(
                F.size("_kept") >= min_kept_lines, F.lit(False)
            ).alias("keep_doc"),
            F.array_join("_kept", "\n").alias("clean_text"),
        )
    )


def proportional_token_sample(
    df: DataFrame,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Data-mixture sampling: deterministic proportional sampling to
    per-language token budgets (the training-mix step — GPT-3 Table
    2.2-style source weighting applied as a corpus cut).

    For each language with a budget B and corpus token total T the
    keep-rate is min(1, B/T); a doc is kept iff
    ``pmod(md5_long(id), 1e6) < floor(rate * 1e6)`` — a deterministic
    hash threshold, so the sample is reproducible, independent of
    partitioning/order, and hits the budget in expectation (an EXACT
    running-total cut would need a per-language cumulative-sum window:
    one reducer per language, a guaranteed straggler when one language
    dominates a 100 TB corpus). Languages without a budget are
    excluded. Returns kept rows as (id, lang, n_tokens).

    Shape: one tiny per-language aggregate (map-side partial), the
    rates broadcast back, then a pure filter projection — no window,
    no corpus shuffle.
    """
    from logzilla_spark.functions.hashing import md5_long

    toks = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        F.size(F.split(normalize_text(text_col), " ")).alias("n_tokens"),
    )
    totals = toks.groupBy("lang").agg(F.sum("n_tokens").alias("_total"))
    budget_map = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    # NB: filter on the raw budget BEFORE least() — Spark's least()
    # skips NULLs, so least(1.0, NULL) = 1.0 would silently keep
    # unbudgeted languages at full rate.
    rates = (
        totals.withColumn(
            "_budget", F.element_at(budget_map, F.col("lang")).cast("double")
        )
        .filter(F.col("_budget").isNotNull())
        .select(
            "lang",
            F.floor(
                F.least(F.lit(1.0), F.col("_budget") / F.col("_total").cast("double"))
                * F.lit(1_000_000.0)
            ).cast("bigint").alias("_keep_ppm"),
        )
    )
    return (
        toks.join(F.broadcast(rates), "lang")
        .filter(F.pmod(md5_long(F.col("id").cast("string")), F.lit(1_000_000)) < F.col("_keep_ppm"))
        .select("id", "lang", "n_tokens")
    )


def dyadic_pow_sql(x: str, alpha: float, max_denom: int = 16) -> str:
    """SQL text computing ``x ** alpha`` for a DYADIC alpha (a/2^k,
    k <= 4) via nested sqrt + multiplication only. IEEE-754 requires
    sqrt and multiply to be correctly rounded, so — unlike pow()/exp()/
    ln(), which are engine-dependent transcendentals — this expression
    produces IDENTICAL BITS in Spark and DuckDB (both dialects spell
    sqrt/* the same, so one builder serves both plans)."""
    if max_denom <= 0 or max_denom & (max_denom - 1):
        raise ValueError(f"max_denom must be a power of two; got {max_denom}")
    num = round(alpha * max_denom)
    if not (0 < num <= max_denom) or abs(alpha * max_denom - num) > 1e-9:
        raise ValueError(
            f"alpha must be a multiple of 1/{max_denom} in (0, 1]; got {alpha}"
        )
    k = max_denom.bit_length() - 1  # 16 -> 4
    terms = []
    for i in range(k + 1):  # bit i of num -> x^(2^i / 2^k) = sqrt^(k-i)(x)
        if num & (1 << i):
            t = x
            for _ in range(k - i):
                t = f"sqrt({t})"
            terms.append(t)
    return " * ".join(terms)


def temperature_token_sample(
    df: DataFrame,
    total_budget: int,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Temperature-based multilingual mixing (mT5/UNIMAX-style): the
    per-language sampling weight is ``tokens_l ** alpha`` — alpha < 1
    flattens the distribution, upsampling tail languages relative to
    the head (alpha = 1 recovers proportional sharing; alpha -> 0
    approaches uniform). A total token ``total_budget`` is split by
    the normalized weights and each language is cut to its share with
    the same deterministic hash threshold as
    ``proportional_token_sample``.

    Bit-portability: the ONLY float step is tokens^alpha, built from
    nested sqrt + multiply (``dyadic_pow_sql`` — correctly rounded by
    IEEE-754 on both engines, unlike pow()); it is floored to integer
    ppm immediately, the weight NORMALIZATION is an integer sum
    (order-independent, unlike a float sum), and shares/rates are
    integer div throughout.

    Shape: one tiny per-language aggregate, integer share arithmetic
    on the (few-row) language table, rates broadcast back, then a pure
    hash-threshold filter — no window, no corpus shuffle beyond the
    lang aggregate's map-side partials. Returns kept (id, lang,
    n_tokens).

    Integer headroom: the share products stay in BIGINT for
    per-language tokens^alpha <= 9.2e12 (~8e13 tokens/language at
    alpha = 1/2) and per-language budgets <= 9.2e12 tokens. alpha = 1
    callers should use ``proportional_token_sample`` (its exact path
    has no power step at all).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        F.size(F.split(normalize_text(text_col), " ")).alias("n_tokens"),
    )
    totals = toks.groupBy("lang").agg(F.sum("n_tokens").alias("_t"))
    w_expr = dyadic_pow_sql("cast(_t as double)", alpha)
    weights = totals.withColumn(
        "_w_ppm", F.expr(f"cast(floor(1000000 * ({w_expr})) as bigint)")
    )
    denom = weights.agg(F.sum("_w_ppm").alias("_denom"))
    rates = (
        weights.crossJoin(F.broadcast(denom))
        .withColumn(
            "_share_ppm", F.expr("(_w_ppm * 1000000) div _denom")
        )
        .withColumn(
            "_lang_budget",
            F.expr(f"({int(total_budget)} * _share_ppm) div 1000000"),
        )
        .select(
            "lang",
            F.expr(
                "least(1000000L, (_lang_budget * 1000000) div greatest(_t, 1L))"
            ).alias("_keep_ppm"),
        )
    )
    return (
        toks.join(F.broadcast(rates), "lang")
        .filter(
            F.pmod(md5_long(F.col("id").cast("string")), F.lit(1_000_000))
            < F.col("_keep_ppm")
        )
        .select("id", "lang", "n_tokens")
    )


def chunk_sequences(
    df: DataFrame,
    window: int = 128,
    min_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize-and-chunk: split each document's token stream into
    fixed-size windows (the training-example chunking stage that runs
    before sequence packing). Emits (id, chunk_id, n_tokens,
    chunk_text); a trailing partial window is kept iff it has at least
    ``min_tokens`` tokens (a 3-token tail makes a useless training
    example, but a 100-token one doesn't). NULL/empty docs emit no
    chunks.

    Shape: pure per-doc projection + ONE generator, no shuffle — at
    100 TB this is scan-bound. The chunk struct (chunk_id, tokens,
    text) is assembled INSIDE the generator expression: a sibling
    projection above the explode would be re-evaluated once per output
    chunk (the ngram_jaccard_pairs lesson — Catalyst hoists projections
    over Generate, and interpreted higher-order transforms then pay
    |output| re-evals).
    """
    w = int(window)
    chunks = (
        # one struct per window: i-th chunk covers tokens [i*w+1, i*w+w]
        f"filter(transform(sequence(0, int(floor((size(_t) - 1) / {w}))), "
        f"i -> struct(i AS chunk_id, "
        f"size(slice(_t, i * {w} + 1, {w})) AS n_tokens, "
        f"concat_ws(' ', slice(_t, i * {w} + 1, {w})) AS chunk_text)), "
        f"c -> c.n_tokens >= {int(min_tokens)})"
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .filter(F.col("_n") != "")
        .withColumn("_t", F.split("_n", " "))
        .select("id", F.explode(F.expr(chunks)).alias("c"))
        .select(
            "id",
            F.col("c.chunk_id").cast("int").alias("chunk_id"),
            F.col("c.n_tokens").cast("int").alias("n_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


# Curation-funnel gate defaults (the RefinedWeb-style macro pipeline):
# Gopher's repetition thresholds for the stage-4 gate.
FUNNEL_LANG = "en"
FUNNEL_MIN_QUALITY = 0.4
FUNNEL_MAX_DUP_LINE_FRAC = 0.30
FUNNEL_MAX_TOP_BIGRAM_FRAC = 0.20


def curation_funnel(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = FUNNEL_LANG,
    min_quality: float = FUNNEL_MIN_QUALITY,
    max_dup_line_frac: float = FUNNEL_MAX_DUP_LINE_FRAC,
    max_top_bigram_frac: float = FUNNEL_MAX_TOP_BIGRAM_FRAC,
    gopher_min_words: int = GOPHER_MIN_WORDS,
    gopher_min_stop_hits: int = GOPHER_MIN_STOP_HITS,
) -> DataFrame:
    """The full RefinedWeb-shaped curation pipeline as a FUNNEL REPORT:
    run every gate in sequence — language, heuristic quality, Gopher
    A1.1 rules, Gopher repetition, exact dedup (keep-first), near-dup
    cluster keep-best — and return the per-stage survivor counts
    (stage, label, n_docs), the data-card table every production
    curation run publishes. Composes the UNIT operators (shared
    builders, so the funnel cannot drift from them); the dedup stages
    run on the survivors of the gates, exactly like a staged pipeline
    (a keeper is chosen among surviving copies, not globally).

    Scale shape: stages 0-4 are flag columns built from the shared
    expression builders in ONE projection over ONE scan of the corpus
    (column-pruned to (id, text), fully codegen), counted in ONE
    aggregation (stack over a single row). The only per-stage lineage
    that survives is the top-bigram count — the one signal that
    genuinely needs an explode + aggregations — LEFT-joined by id
    (round-3 verdict: the previous shape built lang/quality/gopher/
    repetition as four separate lineages + id joins, ~5 corpus scans
    for THE report a curation run always produces). Stage 5 is one
    hash aggregation over gate survivors; stage 6 runs the ngram pair
    graph + CC + keep-best on the (already much smaller) exact
    survivors only — the cheapest place in the pipeline to put the
    quadratic-risk stage, which is why real pipelines order it last.
    """
    from logzilla_spark.operators.cluster import neardup_keep_best
    from logzilla_spark.operators.dedup import ngram_jaccard_pairs

    flags = _funnel_verdicts(
        df, id_col, text_col, lang, min_quality,
        max_dup_line_frac, max_top_bigram_frac,
        gopher_min_words, gopher_min_stop_hits,
    )
    # persisted (tracked — functions/caching.py): the verdict frame
    # has FOUR consumers (stage counts, exact-dedup keepers, the
    # keep-best score table, and the stage-6 survivor ids); without
    # the persist each consumer re-runs the whole flag expression
    # tree over its own corpus scan — exactly the multi-scan shape
    # this operator exists to avoid.
    flags = persist_tracked(flags)
    ids = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    head = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        *[
            F.sum(F.when(F.col(f"s{i}"), 1).otherwise(0)).alias(f"n{i}")
            for i in range(1, 5)
        ],
    )
    stages = head.selectExpr(
        "stack(5, 0, 'input', n0, 1, 'language', n1, 2, 'quality', n2, "
        "3, 'gopher_rules', n3, 4, 'repetition', n4) AS (stage, label, n_docs)"
    )
    # the content hash was computed in the verdict projection
    keepers = flags.filter("s4").groupBy("_h").agg(F.min("id").alias("id"))
    n5 = keepers.agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.lit(5).alias("stage"), F.lit("exact_dedup").alias("label"), "n_docs"
    )
    sub5 = keepers.select("id").join(ids, "id").select(
        F.col("id").alias("doc_id"), "text"
    )
    kb = neardup_keep_best(
        sub5,
        ngram_jaccard_pairs(sub5),
        flags.select("id", "quality").join(keepers.select("id"), "id"),
        # scored's lineage here reads the PERSISTED verdict frame, so
        # keep_best's own scored-persist would pay a materialization
        # job to save an already-cheap double-run
        cache_scored=False,
    )
    n6 = kb.filter("is_kept").agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.lit(6).alias("stage"),
        F.lit("neardup_keep_best").alias("label"),
        "n_docs",
    )
    return stages.unionByName(n5).unionByName(n6)


def _funnel_verdicts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = FUNNEL_LANG,
    min_quality: float = FUNNEL_MIN_QUALITY,
    max_dup_line_frac: float = FUNNEL_MAX_DUP_LINE_FRAC,
    max_top_bigram_frac: float = FUNNEL_MAX_TOP_BIGRAM_FRAC,
    gopher_min_words: int = GOPHER_MIN_WORDS,
    gopher_min_stop_hits: int = GOPHER_MIN_STOP_HITS,
) -> DataFrame:
    """The funnel's per-doc verdict frame: (id, s1..s4, quality, _h).

    ONE projection over ONE corpus scan builds every gate flag from the
    shared expression builders (language, quality, Gopher, repetition —
    the same definitions the unit operators gate on, so the funnel
    cannot drift from them), LEFT-joined with the top-bigram count —
    the only signal that genuinely needs an explode + aggregations.
    Exactly two scans of the corpus, pinned by a plan test
    (tests/test_plan_lint.py); every input row flows through
    (projections never drop rows), so stage 0 counts the true input
    and degenerate docs gate false via 3VL exactly as the unit
    operators decide them. The content hash is computed here so no
    downstream funnel stage ever recomputes corpus text.
    """
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), "\n").alias("_lines"),
            normalize_text(text_col).alias("_n"),
        ).withColumn("_t", F.split("_n", " "))
    )
    sig = _with_repetition(
        _with_gopher(
            _with_quality(_with_lang_pred(base)),
            min_words=gopher_min_words,
            min_stop_hits=gopher_min_stop_hits,
        )
    )
    return (
        sig.join(_top_bigram_counts(base), "id", "left")
        .withColumn("top_bigram_frac", _top_bigram_frac())
        .withColumn("s1", F.col("pred_lang") == lang)
        .withColumn("s2", F.col("s1") & (F.col("quality") >= min_quality))
        .withColumn("s3", F.col("s2") & F.col("gopher_keep"))
        .withColumn(
            "s4",
            F.col("s3")
            # degenerate docs have NULL repetition fractions; they are
            # already cut by s3 (Gopher word floor), so the repetition
            # gate passes NULLs through rather than double-deciding
            & F.coalesce(F.col("dup_line_frac") <= max_dup_line_frac, F.lit(True))
            & F.coalesce(
                F.col("top_bigram_frac") <= max_top_bigram_frac, F.lit(True)
            ),
        )
        # narrow per-doc verdict frame: booleans + quality + the
        # content hash — ~60 bytes/doc, cheap to persist/spill
        .select(
            "id", "s1", "s2", "s3", "s4", "quality",
            F.md5("_n").alias("_h"),
        )
    )


# Corpus-level line dedup: a line is boilerplate once it appears in
# more than MAX_LINE_DOCS distinct documents (nav bars, footers, cookie
# banners — RefinedWeb Penedo et al. '23 §G, CCNet Wenzek et al. '20
# dedup paragraphs the same way).
MAX_LINE_DOCS = 1


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = MAX_LINE_DOCS,
) -> DataFrame:
    """Global line-level dedup (RefinedWeb/CCNet boilerplate removal):
    drop EVERY occurrence of any line whose trimmed form appears in
    more than ``max_docs`` distinct documents, then reassemble each
    document from its surviving lines in original order. Returns
    (id, n_lines, n_lines_kept, clean_text); NULL-text docs emit no
    row (the chunk_sequences contract).

    Lines are keyed by ``md5_long(trim(line))`` — a 64-bit hash, so
    the shuffle carries 8-byte keys instead of full line text; distinct
    lines colliding on the hash merge (the standard trade, shared
    bit-for-bit with the DuckDB twin). The empty line trims to one
    global key and is dropped like any other boilerplate.

    Plan shape for 100 TB: the explode lineage feeds (a) the
    boilerplate-key aggregation — two-phase count-distinct on a
    uniform 64-bit key, map-side partials — and (b) a left join of the
    lines against that (small: only lines in >max_docs docs) key set,
    then ONE groupBy(id) reassembly whose per-group state is bounded
    by document size. The two consumers mean two corpus scans (Spark
    does not share unpersisted lineage across DeduplicateRelations'
    clones — the minhash operator's documented trade; persist upstream
    if the scan dominates). No window over the line key: a corpus-hot
    line would ship every copy to one reducer; the count-distinct
    aggregation pre-shrinks to one row per key before any join, and
    AQE broadcasts the key set when it is genuinely small.
    """
    lines = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("_h", F.expr(md5_long_expr("trim(line)")))
    bad = (
        lines.groupBy("_h")
        .agg(F.count_distinct("id").alias("_df"))
        .filter(F.col("_df") > int(max_docs))
        .select("_h", F.lit(True).alias("_bad"))
    )
    flagged = lines.join(bad, "_h", "left")
    keep = F.col("_bad").isNull()
    return flagged.groupBy("id").agg(
        F.count(F.lit(1)).cast("int").alias("n_lines"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("int").alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            keep,
                            F.struct(
                                F.col("pos").alias("pos"),
                                F.col("line").alias("line"),
                            ),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )


# Sequence packing defaults: token budget per training sequence and the
# number of independent packing streams (parallelism of the ordered
# cumsum — at cluster scale set n_groups ~ a few x total cores).
PACK_BUDGET = 2048
PACK_GROUPS = 64


def pack_sequences(
    df: DataFrame,
    budget: int = PACK_BUDGET,
    n_groups: int = PACK_GROUPS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing manifest: place every document's token stream
    into fixed-``budget`` training sequences (the concat-and-split
    step after chunking — GPT-style pipelines pack documents back to
    back and cut every ``budget`` tokens).

    Ordered packing is inherently sequential, so the corpus is first
    split into ``n_groups`` independent streams by a deterministic
    hash of the doc id; within a stream docs pack in id order. Each
    doc gets (grp, seq_no, seq_off): it starts in sequence ``seq_no``
    of its stream at token offset ``seq_off`` (docs straddle sequence
    boundaries, exactly like the training-time concat). The mapping is
    a pure function of (corpus, budget, n_groups) — independent of
    partitioning and order. NULL/empty docs emit no row
    (chunk_sequences' contract).

    Plan shape for 100 TB: one narrow token-count projection
    (scan-bound), then ONE window aggregation partitioned by the hash
    group — per-group state is a running sum (spillable sort), and
    parallelism is ``n_groups``, chosen by the caller to match the
    cluster. No global ordering, no single-reducer cumsum — the
    standard trade: packing is only deterministic per stream, so make
    the streams explicit and hash-balanced.
    """
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .filter(F.col("_n") != "")
        .select(
            "id",
            F.size(F.split("_n", " ")).alias("n_tokens"),
            F.pmod(
                F.expr(md5_long_expr("cast(id as string)")), F.lit(int(n_groups))
            ).cast("int").alias("grp"),
        )
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        "id",
        "grp",
        "n_tokens",
        F.floor(prev / F.lit(int(budget))).alias("seq_no"),
        F.pmod(prev, F.lit(int(budget))).alias("seq_off"),
    )


# --------------------------------------------------------------------------
# BPE merge-step pair counting (tokenizer training's distributed core)
# --------------------------------------------------------------------------

BPE_EOW = "</w>"  # end-of-word boundary symbol (Sennrich et al. 2016)
MIN_PAIR_FREQ = 2


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    min_freq: int = MIN_PAIR_FREQ,
) -> DataFrame:
    """Adjacent symbol-pair frequencies over the corpus — the first
    merge iteration of BPE tokenizer training (Sennrich et al. 2016:
    symbols start as characters, each word ends with a boundary
    marker; the merge candidate is the most frequent adjacent pair).

    Output: (lhs, rhs, freq) for every pair with corpus frequency
    >= ``min_freq`` — ``max_by(struct(freq, ...))`` over this frame IS
    the first merge decision; the full training loop re-runs the count
    on the merged vocab, which stays this exact shape.

    Scale shape (the trick every real BPE trainer uses): the corpus is
    touched ONCE — explode whitespace tokens, groupBy(word) count.
    That is the only corpus-sized shuffle, and it is a count
    aggregation (map-side partials, O(1) state), so Zipf-hot words are
    skew-free. Pair enumeration then runs over the DISTINCT-word table
    (vocab-sized — millions of rows at 100 TB, not trillions), each
    pair weighted by the word's corpus frequency. The transform/
    element_at lambdas are interpreted (no codegen), which is why they
    are confined to the vocab table rather than the corpus scan.
    """
    return (
        _bpe_word_symbols(df, text_col)
        .select(F.explode(F.expr(_SYM_PAIRS)).alias("p"), "wf")
        .select("p.lhs", "p.rhs", "wf")
        .groupBy("lhs", "rhs")
        .agg(F.sum("wf").alias("freq"))
        .filter(F.col("freq") >= int(min_freq))
    )


def _bpe_word_symbols(df: DataFrame, text_col: str) -> DataFrame:
    """(_s, wf): the frequency-weighted vocab with each word's initial
    symbolization (chars + the end-of-word marker, so the boundary
    pair (last_char, </w>) is counted like any other). ONE builder
    shared by bpe_pair_counts and bpe_train — the corpus-sized scan
    and the tokenization contract must not drift between the
    single-step operator and the training loop that tests assert
    agree on step 0."""
    return (
        df.select(normalize_text(text_col).alias("_n"))
        .select(F.explode(F.split("_n", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
        .select(
            F.expr(f"concat(split(w, ''), array('{BPE_EOW}'))").alias("_s"),
            "wf",
        )
    )


# adjacent symbol pairs of _s, gated on size: fresh symbolizations are
# always >= 2 symbols, but a fully-merged word in the training loop
# collapses to ONE — sequence(1, 0) would run DESCENDING and
# element_at(_s, 2) throws under ANSI
_SYM_PAIRS = (
    "CASE WHEN size(_s) >= 2 THEN transform(sequence(1, size(_s) - 1), "
    "i -> struct(element_at(_s, i) AS lhs, "
    "element_at(_s, cast(i + 1 AS INT)) AS rhs)) "
    "ELSE array() END"
)


DEFAULT_BPE_MERGES = 10


def bpe_candidate_scan(batch_size: int) -> int:
    """How deep into the sorted pair-count list a training round scans
    for pairwise-disjoint picks. Part of the ALGORITHM (mirrored by the
    reference trainer): a bounded prefix keeps the per-round collect
    O(batch) instead of O(vocab-pairs) — at 100 TB the full pair table
    is tens of millions of rows and must never reach the driver."""
    return 4 * int(batch_size) + 16


def bpe_train(
    df: DataFrame,
    n_merges: int = DEFAULT_BPE_MERGES,
    text_col: str = "text",
    min_freq: int = MIN_PAIR_FREQ,
    batch_size: int = 1,
) -> DataFrame:
    """Full BPE merge-table training (Sennrich et al. 2016): iterate
    ``bpe_pair_counts``' merge decision — count adjacent symbol pairs
    over the frequency-weighted vocab, take the most frequent pair
    (ties: lhs ASC, rhs ASC — deterministic), rewrite the vocab's
    symbolizations, repeat. Stops early when no pair reaches
    ``min_freq``. Returns the merge table (step, lhs, rhs, freq) — the
    tokenizer artifact, tiny by definition (one row per merge).

    ``batch_size`` > 1 is the production-scale path (round-3 verdict:
    one Spark job per merge makes a 30k-merge table 30k sequential
    jobs — hours of scheduler latency on vocab-sized work). Each round
    scans the top ``bpe_candidate_scan(batch_size)`` candidates of ONE
    pair count (sorted freq DESC, lhs, rhs) and greedily takes up to
    ``batch_size`` PAIRWISE-DISJOINT pairs — no symbol shared between
    picks and no pick's lhs/rhs equal to another's concatenation — then
    applies them all in ONE vocab rewrite. Disjointness makes each
    pick's count invariant under the others' application (a merge can
    only create or destroy pairs that contain one of its own symbols),
    so the recorded frequencies are exact; the deviation from the
    classic sequential trainer is only that a pair NEWLY CREATED by
    pick #1 cannot out-rank pick #2 until the next round — standard
    batched-BPE practice, and the differential reference trainer
    applies the identical rule. ``batch_size=1`` IS the classic
    sequential algorithm. Job count: O(n_merges / batch_size) rounds,
    two jobs per round (candidate collect + checkpointed rewrite).

    No DuckDB twin: the merge loop is iterative argmax-and-rewrite —
    correctness is pinned by a differential test against a pure-Python
    reference trainer (tests/test_dataops.py), the streaming-dedup
    verification pattern.

    Scale shape: the corpus is touched ONCE (the explode+count word
    shuffle inherited from bpe_pair_counts); every round runs on the
    DISTINCT-word vocab only — millions of rows at 100 TB, not
    trillions — with one O(batch)-row collect per round, so the driver
    coordinates the loop and never holds the vocab.
    Merge application is greedy left-to-right non-overlapping via ONE
    array fold per round whose lambda dispatches on the batch's pair
    set (a when-chain, not nested per-merge folds — one pass over each
    word regardless of batch size); the fold cannot cascade within a
    round because merged symbols are strictly longer than any lhs and
    disjoint from every pick's symbols. Per-round lineage is truncated
    (functions/caching.py: reliable checkpoint() when the deployment
    sets ``spark.checkpoint.dir``, localCheckpoint otherwise: speed
    against executor-loss recovery) and the loop REBINDS ``vocab`` each
    round, so superseded rounds are dereferenced immediately and the run holds
    ~2 vocab snapshots regardless of n_merges (reliable checkpoint
    files are deleted by the cleaner — session.py enables
    cleanCheckpoints).
    """
    spark = df.sparkSession
    vocab = truncate(_bpe_word_symbols(df, text_col))
    merges: list[tuple[int, str, str, int]] = []
    step, n_merges = 0, int(n_merges)
    while step < n_merges:
        want = min(int(batch_size), n_merges - step)
        top = (
            vocab.select(F.explode(F.expr(_SYM_PAIRS)).alias("p"), "wf")
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("wf").alias("freq"))
            .filter(F.col("freq") >= int(min_freq))
            .orderBy(F.col("freq").desc(), F.col("lhs").asc(), F.col("rhs").asc())
            .limit(bpe_candidate_scan(want))
            .collect()
        )
        picks: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for r in top:
            lhs, rhs, merged = r["lhs"], r["rhs"], r["lhs"] + r["rhs"]
            # disjointness: no symbol shared with an earlier pick, and
            # no symbol equal to an earlier pick's merged string (a
            # pre-existing 'ab' symbol must not be confused with the
            # 'ab' a concurrent (a,b) merge creates)
            if lhs in used or rhs in used or merged in used:
                continue
            picks.append((lhs, rhs, int(r["freq"])))
            used.update((lhs, rhs, merged))
            if len(picks) == want:
                break
        if not picks:
            break
        for lhs, rhs, freq in picks:
            merges.append((step, lhs, rhs, freq))
            step += 1

        # Column-API lambdas (not an expr string): lhs/rhs are
        # data-derived symbols — splicing them into SQL text would
        # need escaping and break on quotes/backslashes. F.get is the
        # ANSI-safe peek (element_at THROWS on out-of-bounds in
        # Spark 4's ANSI mode; get returns NULL, so the empty-acc
        # probe falls through to the otherwise branch). A concrete
        # adjacent pair matches at most ONE pick (symbol sets are
        # disjoint), so the when-chain order never decides anything.
        batch = list(picks)

        def apply_merges(acc, x):  # noqa: B023 — consumed before rebinding
            out = None
            tail = F.slice(acc, 1, F.size(acc) - 1)
            last = F.get(acc, F.size(acc) - 1)
            for lhs, rhs, _ in batch:
                hit = (last == F.lit(lhs)) & (x == F.lit(rhs))
                m = F.concat(tail, F.array(F.lit(lhs + rhs)))
                out = F.when(hit, m) if out is None else out.when(hit, m)
            return out.otherwise(F.concat(acc, F.array(x)))

        vocab = truncate(
            vocab.select(
                F.aggregate(
                    "_s", F.array().cast("array<string>"), apply_merges
                ).alias("_s"),
                "wf",
            )
        )
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, freq bigint"
    )


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_every: int = 16,
) -> DataFrame:
    """Tokenize the corpus with a TRAINED merge table (the encode side
    of bpe_train; together they close the tokenizer loop): apply the
    merges in rank order to each word's symbolization, then report the
    per-document BPE length. Output: (id, n_words, bpe_len) —
    ``bpe_len`` counts symbols incl. the per-word end-of-word marker,
    so an unmerged corpus has bpe_len = chars + words. ``merges`` is
    the driver-side artifact (``[(lhs, rhs), ...]`` in rank order —
    ``bpe_train``'s rows); tokenizer merge tables are small by
    definition. NULL-text and empty docs emit no row (the module's
    contract; an encoder has nothing to tokenize).

    Like training, encode runs on the DISTINCT-word vocab — each word
    is encoded once, not once per occurrence — then joins back to the
    (id, word) occurrence stream and aggregates per doc. The k merge
    folds build ONE lazy plan, truncated every ``checkpoint_every``
    merges (a 30k-merge production table would otherwise nest 30k
    aggregate() expressions into a single Catalyst tree; the truncation
    mode is the deployment's, see functions/caching.py).

    No SQL twin (the fold chain is the bpe_train class) — pinned by a
    differential test against the pure-Python reference encoder.
    """
    # persisted: the occurrence stream feeds BOTH the distinct-word
    # vocab lineage and the final per-doc join, and Spark recomputes
    # unpersisted lineage per consumer (the dsir_scores/minhash
    # rationale — without this the corpus explode runs twice)
    occ = (
        df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .select("id", F.explode(F.split("_n", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    occ = persist_tracked(occ)
    vocab = occ.select("w").distinct().select(
        "w", F.expr(f"concat(split(w, ''), array('{BPE_EOW}'))").alias("_s")
    )
    for i, (lhs, rhs) in enumerate(merges):
        lhs_c, rhs_c, merged_c = F.lit(lhs), F.lit(rhs), F.lit(lhs + rhs)

        def apply_merge(acc, x):  # noqa: B023 — consumed before rebinding
            hit = (F.get(acc, F.size(acc) - 1) == lhs_c) & (x == rhs_c)
            return F.when(
                hit,
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged_c)),
            ).otherwise(F.concat(acc, F.array(x)))

        vocab = vocab.select(
            "w",
            F.aggregate(
                "_s", F.array().cast("array<string>"), apply_merge
            ).alias("_s"),
        )
        if (i + 1) % int(checkpoint_every) == 0:
            vocab = truncate(vocab)
    enc = vocab.select("w", F.size("_s").alias("_n_sym"))
    return (
        occ.join(enc, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_n_sym").alias("bpe_len"),
        )
    )


# --------------------------------------------------------------------------
# Cross-document duplicated-passage stats (Lee et al. 2021's decision
# metric for substring-level dedup)
# --------------------------------------------------------------------------

DUP_WINDOW = 8  # tokens per passage window


def dup_passage_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = DUP_WINDOW,
) -> DataFrame:
    """Per document: how much of it is built from ``window``-token
    passages that ALSO occur in other documents — the metric behind
    substring-level dedup decisions ("Deduplicating Training Data
    Makes Language Models Better", Lee et al. 2021: documents whose
    spans are largely corpus-duplicated get cut or trimmed).

    Distinct from the neighbors in this module: repetition_stats is
    WITHIN-doc, line_dedup keys on LINES (boilerplate removal and
    returns cleaned text) — this keys on sliding token windows ACROSS
    docs and returns per-doc duplication measurements for a filter
    decision.

    Output: (id, n_windows, n_dup_windows, dup_fraction). Windows are
    the DISTINCT word n-grams of dedup._wordgrams_expr — one shared
    gram definition with ngram_jaccard_pairs, including its floor
    (docs shorter than the window emit one partial gram, so
    n_windows >= 1 and the fraction never divides by zero). A window
    counts as duplicated when its hash occurs in >= 2 distinct docs.

    Scale shape (line_dedup's, same argument): grams are hashed to
    64-bit keys so every shuffle carries 8 bytes, not passage text
    (hash collisions are computed identically by the DuckDB twin).
    The hot-window set is pre-shrunk by a two-phase count-distinct
    aggregation — never a window function over a corpus-hot key, which
    would ship every copy to one reducer — and joined back left; AQE
    broadcasts it when genuinely small. The gram lineage feeds both
    consumers (two corpus scans unless the caller persists upstream —
    the documented trade).
    """
    from logzilla_spark.operators.dedup import _wordgrams_expr

    grams = (
        df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        # NULL-text docs drop out entirely, matching the twin (DuckDB's
        # comprehension over a NULL token list unnests to zero rows;
        # Spark's _wordgrams floor would instead emit one '' gram that
        # falsely collides with genuinely-empty docs)
        .filter(F.col("_n").isNotNull())
        .withColumn("_t", F.split("_n", " "))
        .select("id", F.explode(F.expr(_wordgrams_expr("_t", int(window)))).alias("_g"))
        .select("id", F.expr(md5_long_expr("_g")).alias("_h"))
    )
    hot = (
        grams.groupBy("_h")
        .agg(F.count_distinct("id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_h", F.lit(1).alias("_dup"))
    )
    return (
        grams.join(hot, "_h", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup_windows"),
        )
        .withColumn(
            "dup_fraction",
            F.col("n_dup_windows").cast("double")
            / F.col("n_windows").cast("double"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = DUP_WINDOW,
) -> DataFrame:
    """Substring-level dedup REMOVAL (the action Lee et al. 2021's
    ExactSubstr takes, where ``dup_passage_stats`` is the decision
    metric): delete every token covered by a ``window``-token passage
    that also occurs in >= 2 distinct documents, and reassemble the
    survivors in original order. The reference implementation indexes
    a suffix array; at cluster scale the standard distributed stand-in
    is fixed-width sliding windows — every duplicated span of length
    >= window is covered by its duplicated sub-windows, so removal is
    equivalent on spans >= window (shorter duplicated spans are below
    the decision threshold by construction).

    Output: (id, n_tokens, n_removed, clean_text). NULL-text docs emit
    no row (dup_passage_stats' contract); a fully-duplicated doc keeps
    zero tokens and returns clean_text = ''. Docs shorter than the
    window emit ONE whole-doc window (the _wordgrams floor), so exact
    short-doc duplicates are removed rather than silently immune.

    Scale shape: positioned windows are hashed to 64-bit keys (every
    shuffle carries 8 bytes + two ints, never passage text); the hot
    set is pre-shrunk by a two-phase count-distinct aggregation (no
    window function over a corpus-hot key), the covered START
    positions come back via ONE bounded groupBy(id) whose state is at
    most the doc's window count, and the splice is a pure projection —
    covered positions expand inside array expressions per doc, not as
    rows. Two corpus scans (gram lineage + reassembly base), the
    module's documented trade; persist upstream if the scan dominates.
    """
    w = int(window)
    base = (
        df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .filter(F.col("_n").isNotNull())
        .withColumn("_t", F.split("_n", " "))
    )
    poswin = (
        f"transform(sequence(1, greatest(size(_t) - {w - 1}, 1)), "
        f"i -> struct(i AS pos, concat_ws(' ', slice(_t, i, {w})) AS g))"
    )
    grams = (
        base.select("id", F.explode(F.expr(poswin)).alias("_pw"))
        .select("id", F.col("_pw.pos").alias("pos"), F.expr(md5_long_expr("_pw.g")).alias("_h"))
    )
    hot = (
        grams.groupBy("_h")
        .agg(F.count_distinct("id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_h")
    )
    starts = (
        grams.join(hot, "_h")
        .groupBy("id")
        .agg(F.collect_list("pos").alias("_starts"))
    )
    joined = (
        base.join(starts, "id", "left")
        .withColumn("_nt", F.size("_t"))
        .withColumn(
            "_covered",
            F.expr(
                "array_distinct(flatten(transform("
                "coalesce(_starts, array()), "
                f"s -> sequence(s, least(s + {w - 1}, _nt)))))"
            ),
        )
    )
    return joined.select(
        "id",
        F.col("_nt").alias("n_tokens"),
        F.size("_covered").alias("n_removed"),
        F.expr(
            "concat_ws(' ', transform(array_except(sequence(1, _nt), _covered), "
            "p -> element_at(_t, p)))"
        ).alias("clean_text"),
    )


# --------------------------------------------------------------------------
# DSIR-style hashed n-gram importance scores (Xie et al. 2023)
# --------------------------------------------------------------------------

DSIR_BUCKETS = 256
DSIR_FRAC_BITS = 20  # fixed-point log2 precision (2^20 per bit)


def _log2_fp(x: int, frac_bits: int = DSIR_FRAC_BITS) -> int:
    """Integer fixed-point log2: exact msb + linear mantissa
    interpolation within the octave (monotone; max error ~0.086 bits).
    Pure integer ops, so Spark, DuckDB and Python compute identical
    bits — the reason the DSIR score avoids ln()."""
    m = x.bit_length() - 1
    mant = (x << frac_bits) // (1 << m)
    return m * (1 << frac_bits) + (mant - (1 << frac_bits))


# log2_fp of ratio 1.0 (= 1e6 ppm): subtracted so llr is signed around 0
DSIR_LOG2_FP_1M = _log2_fp(1_000_000)


def dsir_scores(
    df: DataFrame,
    target: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023)
    scores: hashed n-gram features (unigrams + bigrams folded into
    ``n_buckets`` hash buckets), per-bucket importance ratio between a
    small TARGET-domain sample and the raw corpus, per-doc score = the
    feature-frequency-weighted mean ratio.

    Fixed-point integer arithmetic instead of the paper's float
    log-space weights (ln() is not bit-portable across engines —
    the module's float-portability rule): bucket probabilities are
    Laplace-smoothed integer ppm (``floor(1e6 * (count + 1) /
    (total + B))``), the per-bucket ratio is ``floor(1e6 *
    p_target_ppm / max(p_raw_ppm, 1))``, and the doc score is the
    paper's log importance weight  log w = sum_f c_f * log(ratio_f)
    computed as ``sum(c_b * llr_b)`` with llr = fixed-point log2 of
    the ratio (exact integer msb + linear mantissa interpolation,
    ``_log2_fp`` — monotone, <= 0.086-bit error per feature, identical
    bits on every engine). Summing LOGS keeps the score
    order-equivalent to the paper's product weight — a doc with one
    10x bucket and one 0.01x bucket scores BELOW a doc with two 1x
    buckets, exactly as importance resampling requires (an arithmetic
    mean of raw ratios would invert that ordering).

    Output: (id, n_feats, logw_fp) — logw_fp / 2^20 ~ log2 of the
    importance weight; docs > 0 look like the target domain.
    NULL-text docs emit no row (the module's contract); every other
    doc has >= 1 feature (split() never returns an empty array).
    Integer headroom: per-bucket counts stay exact to ~9e12
    occurrences (1e6 * count must fit a BIGINT — a ~10^15-feature
    corpus at B=256); |llr| <= ~40 * 2^20, so per-doc sums stay exact
    to ~10^11 features per doc.

    Scale shape: the target side is tiny by contract (a domain sample)
    and aggregates to <= B rows. The raw side builds the (id, bucket)
    occurrence stream ONCE and persists it; global bucket counts are a
    B-group aggregation over it (map-side partials — a Zipf-hot gram
    spreads over B, not one reducer), the B-row ratio table broadcasts
    back, and scoring is a single groupBy(id) whose partials compress
    each doc's occurrences per task. No (id, bucket) pre-grouping (at
    B=256 it moved as many rows as the raw stream), no corpus
    self-join, nothing corpus-sized on the driver.
    """
    B = int(n_buckets)

    # unigrams + bigrams; single-token docs contribute the unigram only
    feats = (
        "concat(_t, CASE WHEN size(_t) >= 2 THEN "
        "transform(sequence(1, size(_t) - 1), "
        "i -> concat_ws(' ', slice(_t, i, 2))) "
        "ELSE array() END)"
    )

    def _features(frame: DataFrame) -> DataFrame:
        return (
            frame.select(
                F.col(id_col).alias("id"), normalize_text(text_col).alias("_n")
            )
            .filter(F.col("_n").isNotNull())
            .withColumn("_t", F.split("_n", " "))
            .select("id", F.explode(F.expr(feats)).alias("_g"))
            .select(
                "id",
                F.pmod(F.expr(md5_long_expr("_g")), F.lit(B)).alias("bucket"),
            )
        )

    # ONE corpus scan: the (id, bucket) occurrence stream is built once
    # and PERSISTED — it has two consumers (global raw counts and the
    # scoring aggregation) and Spark recomputes unpersisted lineage per
    # consumer (the lazy-plan policy, incl. the cache lifetime, is
    # documented in functions/caching.py). A separate global-count
    # explode was a 2nd full interpreted-bigram + md5 pass over every
    # gram. The cached row is 16 bytes; MEMORY_AND_DISK spills. No
    # (id, bucket) pre-grouping: per-doc distinct buckets ~ doc tokens
    # at B=256, so that shuffle moved as many rows as the raw stream —
    # measured pure overhead at the 40x probe scale.
    occ = persist_tracked(_features(df))
    raw_counts = occ.groupBy("bucket").agg(F.count(F.lit(1)).alias("_rc"))
    tgt_counts = _features(target).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("_tc")
    )
    # materialize ALL B buckets so absent-from-one-side buckets get the
    # same +1 Laplace smoothing as observed ones (a bare outer join of
    # the two count frames would silently score absent buckets as 0)
    buckets = df.sparkSession.range(B).select(F.col("id").alias("bucket"))
    sides = (
        buckets.join(raw_counts, "bucket", "left")
        .join(tgt_counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("_rc", F.lit(0)).alias("_rc"),
            F.coalesce("_tc", F.lit(0)).alias("_tc"),
        )
    )
    totals = sides.agg(
        F.sum("_rc").alias("_rtot"), F.sum("_tc").alias("_ttot")
    )
    # integer `div` throughout: double division would lose exactness
    # past 2^53 (1e6 * a 100 TB corpus's feature count overflows a
    # double's mantissa long before it overflows a BIGINT)
    fb = 1 << DSIR_FRAC_BITS
    ratios = (
        sides.crossJoin(F.broadcast(totals))
        .withColumn(
            "_raw_ppm",
            F.expr(f"(1000000 * (_rc + 1)) div (_rtot + {B})"),
        )
        .withColumn(
            "_tgt_ppm",
            F.expr(f"(1000000 * (_tc + 1)) div (_ttot + {B})"),
        )
        .withColumn(
            "_r1",
            F.expr("greatest((1000000 * _tgt_ppm) div greatest(_raw_ppm, 1L), 1L)"),
        )
        # fixed-point log2 of the ratio, centered at ratio 1.0:
        # msb via the binary-string length (exact), mantissa via one
        # integer division (linear interpolation within the octave)
        .withColumn("_m", F.expr("length(bin(_r1)) - 1"))
        .select(
            "bucket",
            F.expr(
                f"(cast(_m as bigint) * {fb} "
                f"+ (_r1 * {fb}) div shiftleft(cast(1 as bigint), _m) "
                f"- {fb}) - {DSIR_LOG2_FP_1M}"
            ).alias("_llr"),
        )
    )
    # per-occurrence llr sum == sum(c_b * llr_b): one aggregation keyed
    # by the doc id (map-side partials compress occurrences per doc)
    return (
        occ.join(F.broadcast(ratios), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("_llr").alias("logw_fp"),
        )
    )


# --------------------------------------------------------------------------
# CCNet-style LM perplexity gate (hashed bigram LM, fixed-point bits)
# --------------------------------------------------------------------------

LM_BUCKETS = 1024  # hashed vocab size (contexts AND next-tokens)


def lm_perplexity(
    df: DataFrame,
    train: DataFrame,
    n_buckets: int = LM_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
    head_bits: float = 9.0,
    tail_bits: float = 10.0,
) -> DataFrame:
    """CCNet's perplexity gate (Wenzek et al. 2020): score every doc by
    a reference-domain language model and bucket head / middle / tail.
    CCNet trains KenLM on Wikipedia; here the model is an add-one-
    smoothed HASHED bigram LM — contexts and next-tokens both hash into
    ``n_buckets``, so P(next | prev) = (c(bp, nb) + 1) / (c(bp) + B)
    sums to one per context by construction, and the whole model is two
    fixed-size count tables.

    Fixed-point bits instead of KenLM's float log10 (the module's
    float-portability rule): probabilities become integer ppm with a
    1e-6 floor (``greatest(p_ppm, 1)``), per-bigram log-probs are
    ``_log2_fp(p_ppm) - DSIR_LOG2_FP_1M`` (<= 0), and the doc score is
    their exact BIGINT sum. ``bits_per_token`` is the one IEEE division
    at the edge; the head/middle/tail CLASSIFICATION never touches
    floats — thresholds are integer fixed-point constants compared as
    ``-logp_fp <=> round(bits * 2^20) * n_bigrams``.

    Scale shape: the train side collapses to <= B + observed-pair rows
    (both broadcast); all log2 math runs on those model rows, never per
    corpus token. The corpus is touched ONCE: a bigram occurrence
    stream -> two broadcast joins (observed-pair llp, per-context
    unseen-pair default llp) -> one groupBy(id) with map-side partials.
    No shuffle ever carries token-grain data except that final id agg.

    Docs with < 2 tokens have no bigrams and emit no row (the DSIR
    NULL-text contract); thresholds are model-relative constants the
    caller calibrates once (CCNet computes its tercile cutoffs on the
    training distribution and applies them as constants too).

    Output: (id, n_bigrams, logp_fp, bits_per_token, bucket).
    """
    B = int(n_buckets)
    fb = 1 << DSIR_FRAC_BITS
    head_fp = round(head_bits * fb)
    tail_fp = round(tail_bits * fb)
    if not head_fp <= tail_fp:
        raise ValueError(f"head_bits {head_bits} must be <= tail_bits {tail_bits}")

    def _bigrams(frame: DataFrame) -> DataFrame:
        return (
            frame.select(
                F.col(id_col).alias("id"), normalize_text(text_col).alias("_n")
            )
            .filter(F.col("_n").isNotNull())
            .withColumn("_t", F.split("_n", " "))
            .filter(F.size("_t") >= 2)
            .select(
                "id",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(_t) - 1), "
                        "i -> struct(element_at(_t, i) AS p, "
                        "element_at(_t, i + 1) AS c))"
                    )
                ).alias("_bg"),
            )
            .select(
                "id",
                F.pmod(F.expr(md5_long_expr("_bg.p")), F.lit(B)).alias("bp"),
                F.pmod(F.expr(md5_long_expr("_bg.c")), F.lit(B)).alias("nb"),
            )
        )

    pair_counts = _bigrams(train).groupBy("bp", "nb").agg(
        F.count(F.lit(1)).alias("_cp")
    )
    ctx_counts = pair_counts.groupBy("bp").agg(F.sum("_cp").alias("_cc"))

    # llp per MODEL cell (fixed-point log2 of the ppm probability,
    # centered at 1.0): computed once on <= B^2 + B rows, never per
    # corpus occurrence. Unseen pairs share c=0, so their llp depends
    # only on the context -> a B-row default table.
    def _llp():
        # reads the _p1 column of the frame it is selected from
        return F.expr(
            f"(cast(length(bin(_p1)) - 1 as bigint) * {fb} "
            f"+ (_p1 * {fb}) div shiftleft(cast(1 as bigint), "
            f"length(bin(_p1)) - 1) - {fb}) - {DSIR_LOG2_FP_1M}"
        )

    obs = (
        pair_counts.join(ctx_counts, "bp")
        .withColumn(
            "_p1",
            F.expr(f"greatest((1000000 * (_cp + 1)) div (_cc + {B}), 1L)"),
        )
        .select("bp", "nb", _llp().alias("_llp_obs"))
    )
    dflt = ctx_counts.withColumn(
        "_p1", F.expr(f"greatest(1000000 div (_cc + {B}), 1L)")
    ).select("bp", _llp().alias("_llp_ctx"))
    # contexts never seen in training: c(bp)=0 -> P = 1/B, one constant
    unseen_ctx_llp = _log2_fp(max(1_000_000 // B, 1)) - DSIR_LOG2_FP_1M

    scored = (
        _bigrams(df)
        .join(F.broadcast(obs), ["bp", "nb"], "left")
        .join(F.broadcast(dflt), ["bp"], "left")
        .select(
            "id",
            F.coalesce(
                "_llp_obs", "_llp_ctx", F.lit(unseen_ctx_llp)
            ).alias("_llp"),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_llp").alias("logp_fp"),
        )
    )
    neg = -F.col("logp_fp")
    return scored.select(
        "id",
        "n_bigrams",
        "logp_fp",
        (
            neg.cast("double")
            / (F.col("n_bigrams") * F.lit(fb)).cast("double")
        ).alias("bits_per_token"),
        F.when(neg <= F.lit(head_fp) * F.col("n_bigrams"), F.lit("head"))
        .when(neg > F.lit(tail_fp) * F.col("n_bigrams"), F.lit("tail"))
        .otherwise(F.lit("middle"))
        .alias("bucket"),
    )


# --------------------------------------------------------------------------
# committed tokenizer (T80): the merge table as a versioned artifact
# --------------------------------------------------------------------------

BPE_MERGES_TABLE = "__bpe_merges"


def commit_bpe_model(
    corpus: DataFrame,
    catalog,
    n_merges: int = DEFAULT_BPE_MERGES,
    text_col: str = "text",
    min_freq: int = MIN_PAIR_FREQ,
    batch_size: int = 8,
) -> int:
    """Train on ``corpus`` and COMMIT the merge table as the
    snapshot-versioned catalog table ``__bpe_merges`` — the tokenizer
    becomes a governed artifact like the ANN index (T22) or the
    near-dup registry (T73): every training run is a snapshot, the
    snapshot summary records the training parameters (provenance),
    and TIME TRAVEL re-encodes any corpus with the EXACT tokenizer an
    earlier run used — the reproducibility contract an ML pipeline
    needs when a tokenizer is retrained mid-project. Returns the
    snapshot id (pin it in run manifests)."""
    merges_df = bpe_train(
        corpus, n_merges, text_col=text_col, min_freq=min_freq,
        batch_size=batch_size,
    )
    n_actual = merges_df.count()
    return catalog.overwrite(
        merges_df,
        BPE_MERGES_TABLE,
        summary={
            "kind": "bpe_merges", "n_merges": n_actual,
            "requested_merges": int(n_merges), "min_freq": int(min_freq),
            "batch_size": int(batch_size),
        },
    )


def load_bpe_merges(
    catalog, spark, snapshot_id: int | None = None
) -> list[tuple[str, str]]:
    """The committed merge table (head, or any historical snapshot) as
    ``bpe_apply``'s driver-side rank-ordered artifact."""
    rows = (
        catalog.read(spark, BPE_MERGES_TABLE, snapshot_id)
        .orderBy("step")
        .collect()  # tokenizer tables are tiny by definition
    )
    return [(r.lhs, r.rhs) for r in rows]


def bpe_apply_from_catalog(
    df: DataFrame,
    catalog,
    snapshot_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Encode with the COMMITTED tokenizer (head or a pinned
    snapshot) — bit-identical to ``bpe_apply`` with the same merge
    list by construction (one loader, one encoder)."""
    merges = load_bpe_merges(catalog, df.sparkSession, snapshot_id)
    return bpe_apply(df, merges, id_col=id_col, text_col=text_col, **kwargs)

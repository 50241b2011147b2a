"""Text analysis: language-ID, quality scoring, token counting,
document fingerprinting. All hot-path expressions are built-in
``pyspark.sql.functions`` (JVM-side, whole-stage-codegen) — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._exec import spread

_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "por", "para", "que"],
}

#: BPE-ish token regex: words, numbers, or single punctuation marks
TOKEN_REGEX = r"\w+|[^\w\s]"


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace and BPE-ish token counts as generated columns."""
    docs = spread(docs)
    t = F.col(text_col)
    ws = F.size(F.split(F.trim(t), r"\s+"))
    bpe = F.size(F.regexp_extract_all(t, F.lit(TOKEN_REGEX), 0))
    return docs.withColumn(
        "ws_tokens", F.when(F.length(F.trim(t)) == 0, 0).otherwise(ws)
    ).withColumn("bpe_tokens", bpe)


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length
    heuristics — the standard pretraining quality filters."""
    docs = spread(docs)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    words = F.split(F.lower(F.trim(t)), r"\s+")
    n_words = F.size(words)
    sw = F.array([F.lit(w) for w in _STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(words, sw))
    distinct_ratio = F.size(F.array_distinct(words)) / n_words
    return (
        docs.withColumn("n_chars_calc", n_chars)
        .withColumn("n_words", n_words)
        .withColumn("punct_ratio", n_punct / F.greatest(n_chars, F.lit(1)))
        .withColumn("stopword_hits", n_stop)
        .withColumn(
            "mean_word_len",
            (F.length(F.regexp_replace(t, r"\s+", "")) / F.greatest(n_words, F.lit(1))),
        )
        .withColumn("distinct_word_ratio", distinct_ratio)
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword heuristic language ID: count per-language stopword
    hits (JVM-side array_intersect of distinct words), pick the argmax
    (ties → lexicographically last language code, struct-max ordering)."""
    docs = spread(docs)
    words = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    scores = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(words, F.array([F.lit(w) for w in ws]))
                ).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, ws in sorted(_STOPWORDS.items())
        ]
    )
    best = F.array_max(scores)
    return docs.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def _words(t):
    """Non-empty lowercase whitespace tokens (shared tokenizer for the
    quality/repetition rules; mirrored by the DuckDB oracles)."""
    return F.filter(F.split(F.lower(F.trim(t)), r"\s+"), lambda w: w != "")


def _lines(t):
    """Non-empty trimmed lines."""
    return F.filter(
        F.transform(F.split(t, "\n"), lambda line: F.trim(line)),
        lambda line: line != "",
    )


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", appendix A1.1): word-count bounds, mean
    word length in [3, 10], symbol-to-word ratio (# and ellipsis) <= 0.1,
    bullet-started lines <= 90%, ellipsis-ended lines <= 30%, >= 80% of
    words contain an alphabetic character, and >= 2 distinct stop words.

    Entirely JVM-side higher-order-function expressions over per-row arrays
    — shuffle-free at scale (the one defensive repartition below only fires
    when a small corpus arrives as fewer splits than cores); every
    metric is mirrored bit-for-bit by an ANSI-SQL oracle."""
    docs = spread(docs)
    t = F.col(text_col)
    words = _words(t)
    n_words = F.size(words)
    nw1 = F.greatest(n_words, F.lit(1))
    sum_wlen = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w).cast("long")
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    n_hash = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    n_ell = (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / 3
    lines = _lines(t)
    n_lines = F.size(lines)
    nl1 = F.greatest(n_lines, F.lit(1))
    n_bullet = F.size(
        F.filter(
            lines,
            lambda line: line.startswith("-")
            | line.startswith("*")
            | line.startswith("•"),
        )
    )
    n_ell_lines = F.size(F.filter(lines, lambda line: line.endswith("...")))
    sw = F.array([F.lit(w) for w in _STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.array_distinct(words), sw))

    mean_word_len = sum_wlen / nw1
    symbol_word_ratio = (n_hash + n_ell) / nw1
    frac_alpha_words = n_alpha / nw1
    bullet_line_frac = n_bullet / nl1
    ellipsis_line_frac = n_ell_lines / nl1
    gopher_pass = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_len >= 3.0)
        & (mean_word_len <= 10.0)
        & (symbol_word_ratio <= 0.1)
        & (bullet_line_frac <= 0.9)
        & (ellipsis_line_frac <= 0.3)
        & (frac_alpha_words >= 0.8)
        & (stop_hits >= 2)
    )
    return (
        docs.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_word_len.cast("double"))
        .withColumn("symbol_word_ratio", symbol_word_ratio.cast("double"))
        .withColumn("bullet_line_frac", bullet_line_frac.cast("double"))
        .withColumn("ellipsis_line_frac", ellipsis_line_frac.cast("double"))
        .withColumn("frac_alpha_words", frac_alpha_words.cast("double"))
        .withColumn("stopword_hits", stop_hits.cast("long"))
        .withColumn("gopher_pass", gopher_pass)
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition metrics (the Gopher/MassiveText repetition
    filters): fraction of duplicate lines, fraction of characters in
    duplicate line occurrences (beyond each first), and the character
    fraction covered by the most frequent word 2-gram (ties broken toward
    the lexicographically smallest gram).

    Computed per row with sorted-array folds (``aggregate`` over
    ``array_sort``) — no explode-per-line, no shuffle: at 100 TB the
    repetition filter stays a map-only stage instead of a corpus-wide
    groupBy. Two plan-shape details matter: (1) 2-grams come from
    ``zip_with(words, slice(words, 2, ...))`` — both array arguments are
    bound ONCE, where an ``element_at(words, i+2)`` lambda would re-split
    the text per element (O(n²) interpreted evaluation); (2) all heavy
    intermediates ride through ONE single-element ``explode(array(struct))``
    Generate barrier, which CollapseProject cannot merge through, so each
    sort+fold is evaluated once per row instead of once per referencing
    output column (higher-order functions are CodegenFallback, and the
    duplicated trees' distinct lambda-variable ids defeat subexpression
    elimination)."""
    docs = spread(docs)
    t = F.col(text_col)
    lines = _lines(t)
    total_line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x).cast("long")
    )
    # chars in occurrences beyond the first of each distinct line: fold the
    # sorted array, adding length(x) whenever x repeats its predecessor
    dup_chars = F.aggregate(
        F.array_sort(lines),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("dup"),
        ),
        lambda s, x: F.struct(
            x.alias("prev"),
            (
                s["dup"]
                + F.when(x == s["prev"], F.length(x).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dup"),
        ),
        lambda s: s["dup"],
    )
    words = _words(t)
    n_words = F.size(words)
    # zip each word with its successor: slice pads the second array one
    # short, zip_with extends it with null, the null pair filters away
    grams = F.filter(
        F.zip_with(
            words,
            F.slice(words, F.lit(2), F.greatest(n_words - 1, F.lit(0))),
            lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b)),
        ),
        lambda g: g.isNotNull(),
    )

    def _merge(s, x):
        run = F.when(x == s["prev"], s["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = run > s["bc"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(s["bc"]).alias("bc"),
            F.when(better, x).otherwise(s["bg"]).alias("bg"),
        )

    top = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("bc"),
            F.lit(None).cast("string").alias("bg"),
        ),
        _merge,
        lambda s: F.struct(s["bc"].alias("bc"), s["bg"].alias("bg")),
    )
    # single-element Generate barrier: every heavy intermediate computed once
    rep = F.struct(
        F.size(lines).alias("nl"),
        F.size(F.array_distinct(lines)).alias("nd"),
        dup_chars.alias("dc"),
        total_line_chars.alias("tc"),
        top.alias("top"),
    )
    staged = docs.withColumn("_rep", F.explode(F.array(rep)))
    r = F.col("_rep")
    top2_frac = F.coalesce(
        r["top"]["bc"] * F.length(r["top"]["bg"]).cast("long"),
        F.lit(0).cast("long"),
    ) / F.greatest(F.length(t), F.lit(1))
    return (
        staged.withColumn("n_lines", r["nl"].cast("long"))
        .withColumn(
            "dup_line_frac",
            ((r["nl"] - r["nd"]) / F.greatest(r["nl"], F.lit(1))).cast("double"),
        )
        .withColumn(
            "dup_line_char_frac",
            (r["dc"] / F.greatest(r["tc"], F.lit(1))).cast("double"),
        )
        .withColumn("top_2gram", r["top"]["bg"])
        .withColumn("top_2gram_count", r["top"]["bc"].cast("long"))
        .withColumn("top_2gram_char_frac", top2_frac.cast("double"))
        .drop("_rep")
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: 64-bit from xxhash64 of the
    normalized text (rolling-hash analog, collision-safe for dedup keys)."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return docs.withColumn("fp64", F.xxhash64(norm))


def rolling_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Polynomial rolling-hash fingerprint over the character codes of the
    whitespace-normalized text: ``h = (h*31 + code) mod 1e9+7``. Entirely
    JVM-side (``aggregate`` over ``split``), and — unlike xxhash64 —
    expressible verbatim in ANSI SQL, so it is oracle-checkable bit-exactly
    (DuckDB ``list_reduce`` mirror verified). Use ``fingerprint`` (xxhash64)
    when collision resistance matters more than auditability."""
    d = spread(docs).withColumn(
        "_norm", F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    )
    return d.withColumn(
        "fp64",
        F.expr(
            "aggregate(filter(split(_norm, ''), c -> c <> ''), "
            "cast(0 as bigint), (h, c) -> (h * 31 + ascii(c)) % 1000000007)"
        ),
    ).drop("_norm")

"""Corpus-quality scoring beyond per-row ratios — the Gopher-rule
family of signals that need an aggregation, not just a Column.

Per-row signals (stopword ratio, unique-token ratio, language id) live
in functions/text.py as pure Columns; this module holds the ones whose
natural Spark shape is explode + groupBy, because that is what
distributes: a per-row higher-order fold over the n-gram array would
be O(grams^2) inside one task, while the exploded groupBy gets
map-side combine and AQE-sized shuffles for free.

Composite per-row RULESETS (gopher_quality) also live here: they stay
narrow maps, but they return a signal table + verdict rather than one
Column, so their natural surface is a DataFrame operator.

Every operator reads (doc_id, text) documents and keys its output on
doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_jl_spark.functions.text import ngrams_col, tokens_col

# Gopher rule-2 stopwords trimmed to function words that actually
# occur in web prose regardless of register (Rae et al. 2021 §A1.1
# uses the/be/to/of/and/that/have/with; 'a' added for short-text
# robustness).
GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "be", "that", "with")

# Gopher rule thresholds (Rae et al. 2021 §A1.1): ``keep`` needs
# n_words in [GOPHER_MIN_WORDS, GOPHER_MAX_WORDS], mean word length in
# [GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN], every ratio on
# the right side of its bound and >= GOPHER_MIN_STOP_HITS stopwords.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2

REPETITION_N = 2  # word n-gram size of repetition_scores
TFIDF_TOP = 3  # terms kept per document by tfidf_top_terms


def gopher_quality(
    docs: DataFrame,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Gopher-style composite document-quality filter (Rae et al. 2021
    §A1.1): per-document rule signals plus the conjunctive ``keep``
    verdict. Emits EVERY input row with its signals — filtering is the
    caller's one-line ``.where("keep")`` — because a pretraining
    pipeline wants the audit table (which rule killed how much) as
    much as the surviving corpus.

    ``keep_cols`` names input columns to carry through unchanged (a
    composite pipeline keeps its routing keys, e.g. host, without a
    join back).

    Signals: ``n_words`` (whitespace tokens), ``mean_word_len``,
    ``symbol_ratio`` ('#' chars + '...' occurrences per word),
    ``bullet_frac`` / ``ellipsis_frac`` (lines starting '- '/'* ' /
    ending '...'), ``alpha_frac`` (words containing a letter), and
    ``stop_hits`` (distinct GOPHER_STOPWORDS present).

    Plan: a pure NARROW map — zero exchanges, zero Python; every
    signal is a built-in string/array expression inside one projection
    so whole-stage codegen fuses the lot. At 100 TB this is the
    cheapest operator class there is: scan-bound, trivially
    partition-parallel, and column-pruned to (id, text) at the source.
    Ratios guard n_words = 0 / n_lines = 0 to NULL (no text ⇒ no
    signal ⇒ keep = false via NULL-safe conjunction).
    """
    text = F.col("text")
    lines = F.split(text, "\n")
    words = F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    n_lines = F.size(F.filter(lines, lambda l: l != F.lit("")))
    wchars = F.length(F.regexp_replace(text, r"\s+", ""))
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ell = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / 3
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* "),
        )
    )
    n_ellline = F.size(
        F.filter(F.filter(lines, lambda l: l != F.lit("")),
                 lambda l: l.endswith("...")),
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_hits = sum(
        F.array_contains(words, s).cast("int") for s in GOPHER_STOPWORDS
    )
    guard = n_words > 0
    lguard = n_lines > 0
    sig = docs.select(
        "doc_id",
        *[F.col(c) for c in keep_cols or []],
        n_words.cast("long").alias("n_words"),
        F.when(guard, wchars / n_words).alias("mean_word_len"),
        F.when(guard, (n_hash + n_ell) / n_words).alias("symbol_ratio"),
        F.when(lguard, n_bullet / n_lines).alias("bullet_frac"),
        F.when(lguard, n_ellline / n_lines).alias("ellipsis_frac"),
        F.when(guard, n_alpha / n_words).alias("alpha_frac"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    keep = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(GOPHER_MIN_MEAN_WORD_LEN,
                                         GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("symbol_ratio") < GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("bullet_frac") < GOPHER_MAX_BULLET_FRAC)
        & (F.col("ellipsis_frac") < GOPHER_MAX_ELLIPSIS_FRAC)
        & (F.col("alpha_frac") > GOPHER_MIN_ALPHA_FRAC)
        & (F.col("stop_hits") >= GOPHER_MIN_STOP_HITS)
    )
    return sig.withColumn("keep", F.coalesce(keep, F.lit(False)))


def repetition_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, top_ngram_count, ngram_total, repetition_ratio): the share
    of the document's word ``REPETITION_N``-grams taken by its single
    most frequent n-gram — the standard boilerplate/spam signal (a page
    that repeats one phrase scores near 1; clean prose scores low).
    Documents with fewer than ``REPETITION_N`` tokens produce no row
    (no n-grams to judge — callers treat absent as "no signal", not
    "clean").

    Plan: explode n-grams, count per (doc, gram) — a map-side
    combinable groupBy whose key cardinality is bounded by corpus
    token count — then a second tiny agg per doc. Both shuffles hash
    on doc id first, so the operator has no hot keys: the heaviest
    possible group is one document's own gram list.
    """
    grams = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(ngrams_col("text", REPETITION_N)).alias("gram"),
    )
    counts = grams.groupBy("id", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        counts.groupBy("id")
        .agg(
            F.max("c").alias("top_ngram_count"),
            F.sum("c").alias("ngram_total"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "top_ngram_count",
            F.col("ngram_total").cast("long").alias("ngram_total"),
            (F.col("top_ngram_count") / F.col("ngram_total"))
            .alias("repetition_ratio"),
        )
    )


def doc_repetition(docs: DataFrame) -> DataFrame:
    """Within-document line-repetition signals (the second half of the
    Gopher repetition family; ``repetition_scores`` covers the n-gram
    half): per document, ``dup_line_frac`` = lines that are repeats of
    an earlier line / total lines ((total−distinct)/total, first
    occurrence exempt), and ``dup_line_char_frac`` = characters on ALL
    occurrences of any repeated line / total line characters — the
    classic "page is mostly a repeated nav block" detector. Empty
    lines are exempt; a document with no non-empty lines emits no row
    (no signal), matching ``repetition_scores``.

    Plan: explode lines → count per (doc, line) → one tiny agg per
    doc; both aggregations are map-side combinable and every group is
    bounded by a single document's own line list, so there are no hot
    keys at any corpus size. Fractions are one int-over-int double
    division — bit-equal across engines.
    """
    lines = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.filter(F.split("text", "\n"), lambda l: l != F.lit(""))
        ).alias("line"),
    )
    per = lines.groupBy("id", "line").agg(F.count(F.lit(1)).alias("c"))
    chars = F.length("line") * F.col("c")
    agg = per.groupBy("id").agg(
        F.sum("c").alias("n_lines"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(chars).alias("chars_all"),
        F.sum(F.when(F.col("c") >= 2, chars).otherwise(F.lit(0)))
        .alias("chars_dup"),
    )
    return agg.select(
        F.col("id").alias("doc_id"),
        F.col("n_lines").cast("long").alias("n_lines"),
        ((F.col("n_lines") - F.col("n_distinct")) / F.col("n_lines"))
        .alias("dup_line_frac"),
        (F.col("chars_dup") / F.col("chars_all"))
        .alias("dup_line_char_frac"),
    )


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, token, tf, df, score, rk): each document's ``TFIDF_TOP``
    characteristic terms by tf·N/df — the log-free tf-idf variant, on
    purpose: tf·N is exact BIGINT and the score is then ONE float
    division, so rankings are bit-reproducible across engines and
    partitionings (ln() idf would tie the result to a libm).

    Plan: explode tokens -> tf per (doc, token) (map-side combinable),
    document frequency per token off the same aggregate, corpus size
    as a broadcast 1-row cross join, rank window per doc. The df join
    shuffles on token — vocabulary-sized, Zipf-headed by stopwords,
    which AQE's skew split handles; at web scale the df table is also
    the natural candidate for a broadcast once pruned to the
    per-corpus vocabulary.
    """
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(tokens_col("text")).alias("token"),
    )
    tf = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("score", (F.col("tf") * F.col("n")) / F.col("df"))
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP)
        .select(
            F.col("id").alias("doc_id"),
            "token",
            "tf",
            "df",
            "score",
            F.col("rk").cast("long").alias("rk"),
        )
    )

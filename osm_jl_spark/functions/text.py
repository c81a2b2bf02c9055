"""Text kernels: HTML text extraction, geoparsing, tokenization,
language-ID, quality scoring, fingerprints.

Every kernel is native ``pyspark.sql.functions`` column math, so it
stays inside whole-stage codegen; no Python runs per row or per batch.

extract_text_col and geoparse_col mirror oracle.extract_text and
oracle.geoparse — the per-url byte-identical invariant is pinned by
tests/test_text.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------- native ingest (no Python at all)

# ASCII digit class spelled out, matching oracle.GEO_RE exactly (a
# Java-regex \d is ASCII-only but a Python-str \d is Unicode-wide —
# [0-9] makes the two kernels agree by construction).
GEO_PATTERN = r"lat (-?[0-9]+\.[0-9]{5}) lon (-?[0-9]+\.[0-9]{5})"


def extract_text_col(html: Column | str) -> Column:
    """NATIVE text extraction — byte-identical to oracle.extract_text.

    Same three steps as the oracle (tag-strip, whitespace-collapse,
    strip), decoded first since Spark regexps operate on strings; for
    valid UTF-8 the results coincide byte-for-byte because both tag and
    whitespace patterns are pure-ASCII (Java \\s and Python bytes-mode
    \\s are the same ASCII class). Pinned against the stored ``text``
    column and the oracle by tests/test_text.py.
    """
    c = F.col(html) if isinstance(html, str) else html
    s = F.decode(c, "UTF-8")
    no_tags = F.regexp_replace(s, "<[^>]*>", " ")
    collapsed = F.regexp_replace(no_tags, r"\s+", " ")
    return F.regexp_replace(collapsed, "^ +| +$", "")


def geoparse_col(text: Column | str) -> Column:
    """NATIVE geoparse: array<struct<lon,lat>>, one element per match in
    text order — the same points as oracle.geoparse with zero Python.

    Two group extracts (group 2 is lon, group 1 is lat), each cast to
    array<double> and zipped element-wise: no higher-order function, so
    nothing evaluates interpreted per match. The array position is the
    oracle's pt_idx; callers posexplode it (pipeline._explode_points),
    so the parsed doubles come out of the Generate and any filter the
    optimizer infers above it reads struct fields instead of parsing
    the text again. String->double casts are correctly-rounded in both
    JVM and CPython, so values are bit-identical to the oracle's
    float(). At 10^12 docs this keeps the widest column (text) out of
    the JVM<->Python Arrow channel entirely.
    """
    c = F.col(text) if isinstance(text, str) else text

    def group(i: int) -> Column:
        return F.regexp_extract_all(c, F.lit(GEO_PATTERN), F.lit(i)).cast(
            "array<double>"
        )

    return F.arrays_zip(group(2).alias("lon"), group(1).alias("lat"))


# ------------------------------------------------- native text analysis

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "as", "with", "at", "by", "from", "that", "this",
]

# tiny per-language lexicons for the n-gram/stopword language heuristic
LANG_LEXICON = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "pt": ["o", "a", "de", "que", "e", "do"],
    "no": ["og", "i", "det", "som", "en", "av"],
}


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokenization as a native split (empty-safe)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))


def token_count_col(text: Column | str) -> Column:
    return F.size(tokens_col(text))


def bpe_ish_token_count_col(text: Column | str) -> Column:
    """Sub-word-ish token count: split on word/number/punct boundaries
    (a BPE-flavored regex approximation, all JVM-side)."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.filter(
        F.split(c, r"(?<=[a-z0-9])(?=[^a-z0-9\s])|(?<=[^a-z0-9\s])(?=[a-z0-9])|\s+"),
        lambda t: t != F.lit(""),
    )
    return F.size(pieces)


def stopword_ratio_col(text: Column | str) -> Column:
    toks = tokens_col(text)
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def uniq_token_ratio_col(text: Column | str) -> Column:
    toks = tokens_col(text)
    return F.when(
        F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks)
    ).otherwise(F.lit(0.0))


def lang_score_col(text: Column | str, lang: str) -> Column:
    """Stopword-hit count for one language's lexicon."""
    toks = tokens_col(text)
    lex = F.array(*[F.lit(s) for s in LANG_LEXICON[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(lex, t)))


def lang_id_col(text: Column | str) -> Column:
    """Argmax language by lexicon hits; ties resolved by language code
    order (deterministic). Unscored (all-zero) -> 'und'."""
    # array_max on structs compares fields lexicographically: (score,
    # rank) — rank = -index so ties pick the smallest language code
    ranked = F.array(
        *[
            F.struct(
                lang_score_col(text, lg).alias("score"),
                F.lit(-i).alias("rank"),
                F.lit(lg).alias("lang"),
            )
            for i, lg in enumerate(sorted(LANG_LEXICON))
        ]
    )
    top = F.array_max(ranked)
    return F.when(top["score"] > 0, top["lang"]).otherwise(F.lit("und"))


def fingerprint_col(text: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased
    text (md5 so DuckDB oracles reproduce it exactly)."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.md5(norm)


def ngrams_col(text: Column | str, n: int = 3) -> Column:
    """ALL word n-grams in order (space-joined), duplicates kept —
    the multiset the repetition-quality signal counts over."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array())


def shingles_col(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (space-joined), distinct."""
    return F.array_distinct(ngrams_col(text, n))


def normalize_text_col(text: Column | str) -> Column:
    """Web-text normalization (the CCNet/Dolma-style cleanup pass
    before hashing or tokenizing): curly quotes -> straight, en/em
    dashes -> '-', unicode ellipsis -> '...', NBSP -> space, C0
    control characters stripped, horizontal whitespace runs collapsed
    to one space, ends trimmed. Newlines are PRESERVED (line structure
    feeds line_dedup / doc_repetition downstream).

    Pure native expression chain (translate + three regexp_replace):
    fuses into the scan projection like every other signal here.
    """
    c = F.col(text) if isinstance(text, str) else text
    # 1:1 codepoint swaps in one translate pass
    c = F.translate(
        c,
        "“”„«»‘’‚"
        "–— ",
        "\"\"\"\"\"'''-- ",
    )
    c = F.regexp_replace(c, "…", "...")
    # strip C0 controls except \t (collapsed next) and \n (preserved)
    c = F.regexp_replace(c, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    c = F.regexp_replace(c, r"[ \t]+", " ")
    return F.trim(c)

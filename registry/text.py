"""Text-pipeline queries on the driver's ``documents`` view: quality
signals and filters, language id, PII and normalisation, sampling,
sequence packing, multimodal features."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_jl_spark.functions.text import (
    LANG_LEXICON,
    STOPWORDS,
    fingerprint_col,
    lang_id_col,
    stopword_ratio_col,
    token_count_col,
    uniq_token_ratio_col,
)
from osm_jl_spark.operators import dedup as D
from osm_jl_spark.operators import lm as LM
from osm_jl_spark.oracle import media_feature_sum
from registry.common import NORM, _pq, query


stop_list = "['" + "','".join(STOPWORDS) + "']"


@query("text_quality", f"""WITH
t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
)
SELECT doc_id,
       len(tk) AS n_tokens,
       CASE WHEN len(tk) > 0
            THEN len(list_distinct(tk)) / len(tk) ELSE 0.0 END AS uniq_ratio,
       CASE WHEN len(tk) > 0
            THEN len(list_filter(tk, x -> list_contains({stop_list}, x))) / len(tk)
            ELSE 0.0 END AS stop_ratio
FROM t""")
def text_quality_q(spark, sf_dir):
    docs = _pq(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col("text").alias("n_tokens"),
        uniq_token_ratio_col("text").alias("uniq_ratio"),
        stopword_ratio_col("text").alias("stop_ratio"),
    )


@query("repetition_scores", """WITH
t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
pos AS (SELECT range + 1 AS j FROM range(200)),
g AS (
  SELECT t.doc_id, array_to_string(list_slice(t.tk, p.j, p.j + 1), ' ') AS gram
  FROM t, pos p WHERE p.j <= len(t.tk) - 1
),
c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
SELECT doc_id,
       CAST(max(c) AS BIGINT) AS top_ngram_count,
       CAST(sum(c) AS BIGINT) AS ngram_total,
       CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS repetition_ratio
FROM c GROUP BY doc_id""")
def repetition_scores_q(spark, sf_dir):
    # Gopher-style repetition signal: share of a doc's 2-grams
    # taken by its most frequent 2-gram (operators/quality.py:
    # explode + two map-side-combinable aggs, no per-row fold)
    from osm_jl_spark.operators.quality import repetition_scores

    docs = _pq(spark, sf_dir, "documents")
    return repetition_scores(docs)


@query("tfidf_top_terms", """WITH
t AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
         AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
         (tf.tf * n.n) / dfq.df AS score
  FROM tf JOIN dfq ON dfq.token = tf.token CROSS JOIN n
),
r AS (
  SELECT doc_id, token, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, token ASC) AS rk
  FROM scored
)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 3""")
def tfidf_top_terms_q(spark, sf_dir):
    # per-doc characteristic terms by tf*N/df (log-free idf:
    # exact integer numerator, one float division -> bit-equal
    # rankings cross-engine); deterministic (score desc, token)
    from osm_jl_spark.operators.quality import tfidf_top_terms

    docs = _pq(spark, sf_dir, "documents")
    return tfidf_top_terms(docs)


@query("token_count_by_lang", """WITH
t AS (
  SELECT lang, len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
  FROM documents
)
SELECT lang, CAST(sum(nt) AS BIGINT) AS total_tokens, count(*) AS n_docs
FROM t GROUP BY lang""")
def token_count_by_lang_q(spark, sf_dir):
    docs = _pq(spark, sf_dir, "documents")
    return (
        docs.select("lang", token_count_col("text").alias("nt"))
        .groupBy("lang")
        .agg(
            F.sum("nt").alias("total_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


langs = sorted(LANG_LEXICON)
score_cols = ",\n       ".join(
    "len(list_filter(tk, x -> list_contains(['"
    + "','".join(LANG_LEXICON[lg])
    + f"'], x))) AS s_{lg}"
    for lg in langs
)
mx = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
pick = " ".join(f"WHEN s_{lg} = mx THEN '{lg}'" for lg in langs)


@query("lang_id", f"""WITH
t AS (
  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
s AS (
  SELECT lang,
       {score_cols}
  FROM t
),
p AS (
  SELECT lang, {mx} AS mx, * FROM s
),
pred AS (
  SELECT lang,
         CASE WHEN mx = 0 THEN 'und' ELSE CASE {pick} END END AS pred_lang
  FROM p
)
SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2""")
def lang_id_q(spark, sf_dir):
    docs = _pq(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id_col("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("doc_fingerprints", f"""SELECT source,
       count(DISTINCT md5({NORM})) AS n_fp
FROM documents GROUP BY source""")
def fingerprint_q(spark, sf_dir):
    docs = _pq(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.countDistinct(fingerprint_col("text")).alias("n_fp")
    )


# exact discrete quantiles: independent replay of the DEFINITION
# (smallest value whose cumulative count reaches ceil(pct*n/100))
# over the same histogram construction — all-integer rank test
@query("length_quantiles", """WITH
t AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
  FROM documents
),
h AS (SELECT lang, nt, count(*) AS cnt FROM t GROUP BY lang, nt),
c AS (
  SELECT lang, nt, cnt,
         sum(cnt) OVER (PARTITION BY lang ORDER BY nt) AS cum
  FROM h
),
n AS (SELECT lang, sum(cnt) AS n FROM h GROUP BY lang),
p AS (SELECT unnest([25, 50, 90, 99]) AS pct)
SELECT c.lang, p.pct, CAST(min(c.nt) AS BIGINT) AS q
FROM c
JOIN n USING (lang)
CROSS JOIN p
WHERE c.cum * 100 >= p.pct * n.n
GROUP BY c.lang, p.pct""")
def length_quantiles_q(spark, sf_dir):
    # exact per-language token-length quantiles over the
    # (lang, length) HISTOGRAM (operators/stats.py): the hot `en`
    # group never sorts its raw docs in one task — the corpus
    # shuffle is a uniform composite-key count, the window sees
    # only distinct lengths. Integer rank arithmetic
    # (100*cum >= pct*n) keeps the DuckDB definition replay
    # hash-exact.
    from osm_jl_spark.operators.stats import group_quantiles_exact

    docs = _pq(spark, sf_dir, "documents")
    out = group_quantiles_exact(
        docs, "lang", token_count_col("text"), [25, 50, 90, 99]
    )
    return out.select("lang", "pct", F.col("q").cast("long").alias("q"))


@query("pii_scrub", """
SELECT doc_id,
       md5(text || ' contact <EMAIL> or <PHONE> at <IP>') AS scrub_md5,
       1 AS n_email, 1 AS n_ip, 1 AS n_phone
FROM documents""")
def pii_scrub_q(spark, sf_dir):
    # pre-training PII scrub (operators/web.py): every doc gets a
    # deterministic synthetic email + phone + IPv4 appended (the
    # driver corpus itself is digit-free, verified), the operator
    # must redact exactly those; the oracle constructs the
    # expected scrubbed text independently and compares md5s.
    from osm_jl_spark.operators.web import pii_counts, scrub_pii

    docs = _pq(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"), d.cast("string"),
        F.lit("@ex"), (d % 7).cast("string"),
        F.lit(".com or +1 555 010 "),
        F.lpad((d % 1000).cast("string"), 4, "0"),
        F.lit(" at 10.0."), (d % 256).cast("string"),
        F.lit("."), (d % 100).cast("string"),
    )
    a = docs.select("doc_id", aug.alias("t"))
    return a.select(
        "doc_id",
        F.md5(scrub_pii(F.col("t"))).alias("scrub_md5"),
        pii_counts(F.col("t")).alias("pc"),
    ).select(
        "doc_id",
        "scrub_md5",
        F.col("pc.n_email").alias("n_email"),
        F.col("pc.n_ip").alias("n_ip"),
        F.col("pc.n_phone").alias("n_phone"),
    )


# text_normalize: expected CLEAN string constructed directly from
# the original text (leading NBSP+quote trims/normalizes to '"',
# the tab run collapses, en dash and ellipsis fold) — the oracle
# never executes the transform.
@query("text_normalize", """SELECT doc_id,
       md5('"' || text || '" t-tail...') AS norm_md5,
       CAST(len('"' || text || '" t-tail...') AS BIGINT) AS n_chars
FROM documents""")
def text_normalize_q(spark, sf_dir):
    # unicode web-text normalization (functions/text.py:
    # normalize_text_col). The corpus wraps documents text in known
    # dirt (NBSP, curly quotes, tab runs, en dash, ellipsis); the
    # oracle constructs the expected CLEAN string directly from the
    # original text by arithmetic — it never runs the transform.
    from osm_jl_spark.functions.text import normalize_text_col

    docs = _pq(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit(" “"), F.col("text"),
        F.lit("” \t\tt–tail…"),
    )
    corpus = docs.select("doc_id", dirty.alias("text"))
    clean = normalize_text_col("text")
    return corpus.select(
        "doc_id",
        F.md5(clean).alias("norm_md5"),
        F.length(clean).cast("long").alias("n_chars"),
    )


# doc_repetition: full line-string replay (split -> per-(doc,line)
# counts -> per-doc fractions); one int-over-int double division
# per fraction keeps cross-engine floats bit-equal.
@query("doc_repetition", """WITH corpus AS (
  SELECT doc_id,
         text || CASE doc_id % 3
           WHEN 0 THEN repeat(chr(10) || 'subscribe now', 3)
           WHEN 1 THEN chr(10) || 'subscribe now'
           ELSE '' END AS text
  FROM documents
),
lns AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, chr(10)),
                            l -> l <> '')) AS line
  FROM corpus
),
per AS (
  SELECT doc_id, line, count(*) AS c, len(line) AS ln
  FROM lns GROUP BY doc_id, line
),
agg AS (
  SELECT doc_id,
         sum(c) AS n_lines,
         count(*) AS n_distinct,
         sum(ln * c) AS chars_all,
         sum(CASE WHEN c >= 2 THEN ln * c ELSE 0 END) AS chars_dup
  FROM per GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       (n_lines - n_distinct) / n_lines AS dup_line_frac,
       chars_dup / chars_all AS dup_line_char_frac
FROM agg""")
def doc_repetition_q(spark, sf_dir):
    # within-doc line repetition (operators/quality.py:
    # doc_repetition): documents get 0/1/3 copies of a footer line
    # appended by doc_id % 3, so the duplicate-line and
    # duplicate-char fractions take all three regimes. Oracle
    # replays the whole computation over line STRINGS in DuckDB.
    from osm_jl_spark.operators.quality import doc_repetition

    docs = _pq(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    footer = (
        F.when(m == 0, F.lit(
            "\nsubscribe now\nsubscribe now\nsubscribe now"))
        .when(m == 1, F.lit("\nsubscribe now"))
        .otherwise(F.lit(""))
    )
    corpus = docs.select(
        "doc_id", F.concat(F.col("text"), footer).alias("text")
    )
    return doc_repetition(corpus)


# gopher_quality: every signal replayed independently in DuckDB
# list/regex SQL over the same deliberately-degraded corpus. All
# ratio columns are one int-over-int double division (or /3 of an
# exactly-divisible diff), so cross-engine floats are bit-equal.
stop_sum = " + ".join(
    f"CAST(list_contains(words, '{s}') AS BIGINT)"
    for s in ("the", "a", "and", "of", "to", "be", "that", "with")
)


# parts+sig CTE pair over any (doc_id, text) source — shared by the
# gopher_quality oracle and the pipeline_hygiene composite
def _gopher_sig(src: str) -> str:
    return f"""parts AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'),
                     w -> w <> '') AS words,
         string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)),
                     l -> l <> '') AS nlines
  FROM {src}
),
sig AS (
  SELECT doc_id,
         len(words) AS n_words,
         len(nlines) AS n_lines,
         len(regexp_replace(text, '\\s+', '', 'g')) AS wchars,
         len(text) - len(replace(text, '#', '')) AS n_hash,
         (len(text) - len(replace(text, '...', ''))) / 3 AS n_ell,
         len(list_filter(lines,
             l -> l LIKE '- %' OR l LIKE '* %')) AS n_bullet,
         len(list_filter(nlines, l -> l LIKE '%...')) AS n_ellline,
         len(list_filter(words,
             w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         {stop_sum} AS stop_hits
  FROM parts
)"""


@query("gopher_quality", f"""WITH webdocs AS (
  SELECT doc_id,
         CASE doc_id % 11
           WHEN 0 THEN repeat('- buy now' || chr(10), 19) || text
           WHEN 1 THEN '- a' || chr(10) || '- b' || chr(10)
                       || '- c' || chr(10) || text
           WHEN 2 THEN text || chr(10) || 'read more...'
                       || chr(10) || 'click here...'
           WHEN 3 THEN text || ' ' || repeat('# ', 40)
           WHEN 4 THEN substr(text, 1, 20)
           ELSE text END AS text
  FROM documents
),
{_gopher_sig('webdocs')}
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CASE WHEN n_words > 0 THEN wchars / n_words END
         AS mean_word_len,
       CASE WHEN n_words > 0 THEN (n_hash + n_ell) / n_words END
         AS symbol_ratio,
       CASE WHEN n_lines > 0 THEN n_bullet / n_lines END
         AS bullet_frac,
       CASE WHEN n_lines > 0 THEN n_ellline / n_lines END
         AS ellipsis_frac,
       CASE WHEN n_words > 0 THEN n_alpha / n_words END AS alpha_frac,
       stop_hits,
       coalesce(
         n_words BETWEEN 50 AND 100000
         AND (wchars / n_words) BETWEEN 3.0 AND 10.0
         AND (n_hash + n_ell) / n_words < 0.1
         AND n_bullet / n_lines < 0.9
         AND n_ellline / n_lines < 0.3
         AND n_alpha / n_words > 0.8
         AND stop_hits >= 2, false) AS keep
FROM sig""")
def gopher_quality_q(spark, sf_dir):
    # Gopher-rule composite quality filter (operators/quality.py:
    # gopher_quality). The corpus is documents text deliberately
    # degraded per doc_id % 11 — bullet walls, ellipsis footers,
    # symbol floods, truncation — so every rule fires on some
    # stratum and passes on others. The oracle replays every
    # signal independently in DuckDB list/regex SQL.
    from osm_jl_spark.operators.quality import gopher_quality

    docs = _pq(spark, sf_dir, "documents")
    m = F.col("doc_id") % 11
    nl = F.lit("\n")
    txt = (
        F.when(m == 0, F.concat(
            F.repeat(F.lit("- buy now\n"), 19), F.col("text")))
        .when(m == 1, F.concat(
            F.lit("- a\n- b\n- c\n"), F.col("text")))
        .when(m == 2, F.concat(
            F.col("text"), nl,
            F.lit("read more..."), nl, F.lit("click here...")))
        .when(m == 3, F.concat(
            F.col("text"), F.lit(" "), F.repeat(F.lit("# "), 40)))
        .when(m == 4, F.substring("text", 1, 20))
        .otherwise(F.col("text"))
    )
    corpus = docs.select("doc_id", txt.alias("text"))
    return gopher_quality(corpus)


_gopher_keep = """coalesce(
         n_words BETWEEN 50 AND 100000
         AND (wchars / n_words) BETWEEN 3.0 AND 10.0
         AND (n_hash + n_ell) / n_words < 0.1
         AND n_bullet / n_lines < 0.9
         AND n_ellline / n_lines < 0.3
         AND n_alpha / n_words > 0.8
         AND stop_hits >= 2, false)"""


# pipeline_hygiene: every stage re-derived in ONE SQL — arithmetic
# blocklist verdicts, the shared gopher signal replica, and the
# naive one-window cap the skew-safe two-stage plan must equal.
@query("pipeline_hygiene", f"""WITH v AS (
  SELECT doc_id, lang, text,
         'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
         CASE WHEN (doc_id % 50) % 4 = 0 THEN 'badlist'
              WHEN text LIKE '%customer%' AND lang = 'en'
                THEN 'kw_customer' END AS br
  FROM documents
),
kept AS (SELECT doc_id, host, text FROM v WHERE br IS NULL),
{_gopher_sig('kept')},
good AS (
  SELECT s.doc_id, k.host
  FROM sig s JOIN kept k USING (doc_id)
  WHERE {_gopher_keep}
)
SELECT doc_id, host, host_rank FROM (
  SELECT doc_id, host,
         row_number() OVER (PARTITION BY host ORDER BY doc_id)
           AS host_rank
  FROM good) t
WHERE host_rank <= 2""")
def pipeline_hygiene_q(spark, sf_dir):
    # the user-story composite: blocklist -> Gopher quality gate ->
    # per-domain cap chained through the LIBRARY operators into ONE
    # Catalyst plan (like corpus_clean, but over the round-4 web
    # hygiene suite). The oracle re-derives every stage in one SQL:
    # arithmetic blocklist verdicts, the independent gopher signal
    # replica, and the naive one-window cap.
    from osm_jl_spark.operators.quality import gopher_quality
    from osm_jl_spark.operators.web import blocklist_filter, domain_cap

    docs = _pq(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id", "lang", "text",
        F.concat(
            F.lit("h"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".example.org"),
        ).alias("host"),
    )
    bl = spark.createDataFrame(
        [(f"h{i}.example.org", "badlist") for i in range(0, 50, 4)],
        "host STRING, reason STRING",
    )
    kept = (
        blocklist_filter(
            corpus, bl,
            keyword_rules=[(
                "kw_customer",
                F.col("text").contains("customer")
                & (F.col("lang") == "en"),
            )],
        )
        .where("keep")
        .select("doc_id", "host", "text")
    )
    good = (
        gopher_quality(kept, keep_cols=["host"])
        .where("keep")
        .select("doc_id", "host")
    )
    out = domain_cap(good, max_per_host=2)
    return out.select(
        "doc_id", "host",
        F.col("host_rank").cast("long").alias("host_rank"),
    )


# full string-level replay of the CCNet-style LM filter: tokenize
# with the same \\s+ rule, recount the trigram/context/vocab
# statistics on the even-doc_id training half (the HAVING is the
# LM_MIN_COUNT prune), rescore every doc with the identical integer
# surprisal (bitlength(den // num) - 1 — DuckDB bin() and Spark
# bin() agree on minimal binary strings), and re-derive the
# per-lang band thresholds with the same exact histogram-quantile
# definition as length_quantiles. No hashing or floats anywhere,
# so the match is hash-exact by construction.
@query("lm_perplexity_filter", f"""WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
  FROM documents
),
tr AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(ts) - 1),
           i -> array_to_string(ts[i:i+2], ' '))) AS g3,
         unnest(list_transform(range(1, len(ts) - 1),
           i -> array_to_string(ts[i:i+1], ' '))) AS g2
  FROM toks WHERE len(ts) >= 3
),
train_tr AS (SELECT * FROM tr WHERE doc_id % 2 = 0),
c3 AS (
  SELECT lang, g3, count(*) AS c3 FROM train_tr
  GROUP BY lang, g3 HAVING count(*) >= {LM.LM_MIN_COUNT}
),
c2 AS (SELECT lang, g2, count(*) AS c2 FROM train_tr GROUP BY lang, g2),
v AS (
  SELECT lang, count(DISTINCT tok) AS v FROM (
    SELECT lang, unnest(ts) AS tok FROM toks WHERE doc_id % 2 = 0
  ) GROUP BY lang
),
s AS (
  SELECT tr.doc_id, tr.lang,
         CAST(coalesce(c3.c3, 0) + 1 AS BIGINT) AS num,
         CAST(coalesce(c2.c2, 0) + coalesce(v.v, 1) AS BIGINT) AS den
  FROM tr
  LEFT JOIN c3 ON tr.lang = c3.lang AND tr.g3 = c3.g3
  LEFT JOIN c2 ON tr.lang = c2.lang AND tr.g2 = c2.g2
  LEFT JOIN v ON tr.lang = v.lang
),
sc AS (
  SELECT doc_id, lang, count(*) AS n_tri,
         CAST(sum(length(bin(den // num)) - 1) AS BIGINT) AS bits,
         CAST(sum(length(bin(den // num)) - 1) AS BIGINT) * 1000
           // count(*) AS bpt_milli
  FROM s GROUP BY doc_id, lang
),
h AS (SELECT lang, bpt_milli AS vv, count(*) AS cnt FROM sc
      GROUP BY lang, bpt_milli),
c AS (
  SELECT lang, vv, cnt,
         sum(cnt) OVER (PARTITION BY lang ORDER BY vv) AS cum
  FROM h
),
n AS (SELECT lang, sum(cnt) AS n FROM h GROUP BY lang),
p AS (SELECT unnest([33, 66]) AS pct),
q AS (
  SELECT c.lang, p.pct, min(c.vv) AS q
  FROM c JOIN n USING (lang) CROSS JOIN p
  WHERE c.cum * 100 >= p.pct * n.n
  GROUP BY c.lang, p.pct
),
thr AS (
  SELECT lang,
         min(CASE WHEN pct = 33 THEN q END) AS q_lo,
         min(CASE WHEN pct = 66 THEN q END) AS q_hi
  FROM q GROUP BY lang
)
SELECT sc.doc_id, sc.lang, sc.n_tri, sc.bits,
       CAST(sc.bpt_milli AS BIGINT) AS bpt_milli,
       CASE WHEN sc.bpt_milli <= thr.q_lo THEN 'head'
            WHEN sc.bpt_milli <= thr.q_hi THEN 'middle'
            ELSE 'tail' END AS band,
       CASE WHEN sc.bpt_milli <= thr.q_hi THEN 1 ELSE 0 END AS keep
FROM sc JOIN thr ON sc.lang = thr.lang""")
def lm_perplexity_q(spark, sf_dir):
    # CCNet-style n-gram LM perplexity filtering (operators/lm.py)
    # in hash-exact integer arithmetic: train an add-1-smoothed
    # trigram LM on the even-doc_id half (LM_MIN_COUNT=2 prunes
    # singleton trigrams, so the oracle covers BOTH the seen and
    # the pruned/unseen smoothing paths on held-out docs), score
    # every doc's quantized surprisal (floor-log2 bits — computed
    # as bitlength(den DIV num) - 1, no float log anywhere), and
    # band per language by exact histogram quantiles of
    # bits-per-trigram. The DuckDB oracle replays the ENTIRE
    # pipeline string-level: tokenize, count, smooth, score, band.
    from osm_jl_spark.operators.lm import perplexity_filter

    docs = _pq(spark, sf_dir, "documents")
    out = perplexity_filter(docs)
    return out.select(
        F.col("id").alias("doc_id"), "lang", "n_tri", "bits",
        "bpt_milli", "band", "keep",
    )


# blocklist_filter: verdicts derived purely by ARITHMETIC (host
# index % 4) — the engine runs an actual broadcast dimension join,
# the oracle never builds the dimension at all.
@query("blocklist_filter", """WITH v AS (
  SELECT doc_id,
         'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
         CASE WHEN (doc_id % 50) % 4 = 0 THEN 'badlist'
              WHEN text LIKE '%customer%' AND lang = 'en'
                THEN 'kw_customer' END AS block_reason
  FROM documents
)
SELECT doc_id, host, block_reason,
       block_reason IS NULL AS keep
FROM v""")
def blocklist_filter_q(spark, sf_dir):
    # domain blocklist + keyword rules (operators/web.py:
    # blocklist_filter): hosts synthesized with the domain_stats
    # scheme; the blocklist is a REAL 13-row dimension DataFrame
    # broadcast-joined by the engine, while the oracle derives the
    # same verdicts purely by arithmetic — full implementation
    # independence.
    from osm_jl_spark.operators.web import blocklist_filter

    docs = _pq(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id", "lang", "text",
        F.concat(
            F.lit("h"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".example.org"),
        ).alias("host"),
    )
    bl = spark.createDataFrame(
        [(f"h{i}.example.org", "badlist") for i in range(0, 50, 4)],
        "host STRING, reason STRING",
    )
    out = blocklist_filter(
        corpus, bl,
        keyword_rules=[(
            "kw_customer",
            F.col("text").contains("customer")
            & (F.col("lang") == "en"),
        )],
    )
    return out.select("doc_id", "host", "block_reason", "keep")


# composite C4-style cleanup: quality gates + repetition gate ->
# exact-dedup keep-min -> deterministic 50% hash sample
@query("corpus_clean", f"""WITH
t AS (
  SELECT doc_id, lang, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
q AS (
  SELECT doc_id, lang, text, len(tk) AS nt,
         CASE WHEN len(tk) > 0
              THEN len(list_distinct(tk)) / len(tk) ELSE 0.0 END AS uq,
         CASE WHEN len(tk) > 0
              THEN len(list_filter(tk, x -> list_contains({stop_list}, x))) / len(tk)
              ELSE 0.0 END AS st
  FROM t
),
pos AS (SELECT range + 1 AS j FROM range(200)),
g AS (
  SELECT t.doc_id, array_to_string(list_slice(t.tk, p.j, p.j + 1), ' ') AS gram
  FROM t, pos p WHERE p.j <= len(t.tk) - 1
),
c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
r AS (
  SELECT doc_id,
         CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS rr
  FROM c GROUP BY doc_id
),
kept AS (
  SELECT q.doc_id, q.lang, q.text
  FROM q JOIN r ON r.doc_id = q.doc_id
  WHERE q.nt >= 10 AND q.uq >= 0.3 AND q.st >= 0.05 AND r.rr <= 0.2
),
k AS (
  SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
         min(doc_id) AS doc_id
  FROM kept GROUP BY 1
)
SELECT kept.doc_id, kept.lang
FROM kept JOIN k ON k.doc_id = kept.doc_id
WHERE CAST('0x' || substr(md5(CAST(kept.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      < {1 << 59}""")
def corpus_clean_q(spark, sf_dir):
    # the composite a C4-style cleanup runs as ONE plan: quality
    # gates (length / stopword / uniq-token / repetition) ->
    # exact dedup keep-min -> deterministic 50% hash sample.
    # Everything is native and the whole chain is a single
    # Catalyst plan: the quality gates fuse into the scan
    # projection, dedup is one shuffle, the sampler is a filter.
    from osm_jl_spark.operators.quality import repetition_scores
    from osm_jl_spark.operators.sampling import hash_sample

    docs = _pq(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        token_count_col("text").alias("nt"),
        uniq_token_ratio_col("text").alias("uq"),
        stopword_ratio_col("text").alias("st"),
    )
    rep = repetition_scores(docs).select(
        "doc_id", "repetition_ratio"
    )
    kept = (
        scored.join(rep, "doc_id")
        .filter(
            (F.col("nt") >= 10)
            & (F.col("uq") >= 0.3)
            & (F.col("st") >= 0.05)
            & (F.col("repetition_ratio") <= 0.2)
        )
    )
    deduped = D.exact_dedup(kept)
    return hash_sample(deduped, 0.5).select("doc_id", "lang")


# 60-bit md5-prefix rank, identical to sampling._rank_hash;
# 0.25 * 2^60 == 1 << 58 exactly
_rk = ("CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) "
       "AS BIGINT)")


@query("hash_sample", f"""SELECT doc_id, lang FROM documents
WHERE {_rk} < {1 << 58}""")
def hash_sample_q(spark, sf_dir):
    # deterministic rate sampling: hash(doc_id) < f*2^60 — a
    # narrow zero-shuffle filter whose membership is stable
    # across reruns and partition layouts, and nested across
    # rates (operators/sampling.py)
    from osm_jl_spark.operators.sampling import hash_sample

    docs = _pq(spark, sf_dir, "documents")
    return hash_sample(docs, 0.25).select("doc_id", "lang")


@query("stratified_sample", f"""WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {_rk}, doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang FROM r WHERE rk <= 20""")
def stratified_sample_q(spark, sf_dir):
    # exactly k docs per language, picked by hash rank — the
    # deterministic per-stratum cap a corpus-mixing step needs
    from osm_jl_spark.operators.sampling import stratified_sample

    docs = _pq(spark, sf_dir, "documents")
    return stratified_sample(docs, ["lang"], k=20).select(
        "doc_id", "lang"
    )


# temperature sampling: thresholds rebuilt from identical counts
# with identical correctly-rounded IEEE ops (sqrt/divide/multiply
# at alpha=0.5), then the same md5 rank filter as hash_sample;
# trunc() in DuckDB == floor() in Spark on these >= 0 ratios
@query("temperature_sample", f"""WITH
d AS (SELECT doc_id, lang FROM documents),
n AS (SELECT lang, count(*) AS n FROM d GROUP BY lang),
r AS (SELECT lang, sqrt(CAST(n AS DOUBLE)) / n AS r FROM n),
mx AS (SELECT max(r) AS mx FROM r),
thr AS (
  SELECT lang,
         CAST(trunc((r / mx) * CAST({1 << 60} AS DOUBLE)) AS BIGINT)
           AS thr
  FROM r, mx
)
SELECT d.doc_id, d.lang
FROM d JOIN thr t ON t.lang = d.lang
WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
           AS BIGINT) < t.thr""")
def temperature_sample_q(spark, sf_dir):
    # temperature-based multilingual rebalancing (operators/
    # sampling.py: temperature_sample, the XLM-R/mT5 sampler) at
    # alpha = 0.5: keep-prob per lang = (sqrt(n_l)/n_l) scaled so
    # the largest is 1; membership = the same 60-bit md5 rank as
    # hash_sample under an integer threshold. alpha = 0.5 uses
    # only correctly-rounded IEEE ops (sqrt, divide, multiply),
    # so the DuckDB oracle computes the IDENTICAL thresholds from
    # identical counts and the sample matches bit for bit.
    from osm_jl_spark.operators.sampling import temperature_sample

    docs = _pq(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_sample(docs)


# flat global-window spelling of the two-level prefix sum in
# operators/packing.py — integer token counts, so offsets must
# match bit for bit
@query("pack_sequences", """WITH
t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tokens,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS rk
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (
            ORDER BY rk, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS tok_offset,
       CAST(COALESCE(SUM(n_tokens) OVER (
            ORDER BY rk, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // 2048 AS BIGINT) AS seq_id
FROM t""")
def pack_sequences_q(spark, sf_dir):
    # LLM-pretraining sequence packing: deterministic corpus
    # order, exclusive cumulative token offsets, fixed-budget
    # sequence ids — two-level distributed prefix sum
    # (operators/packing.py); the oracle runs the flat global
    # window, results must be bit-equal
    from osm_jl_spark.operators.packing import pack_sequences

    docs = _pq(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=2048)


def _media_rows() -> str:
    """Expected feature sums recomputed by osm_jl_spark.oracle.
    media_feature_sum — a list-based pure-Python reimplementation of
    the sha256 fake-decode + block-mean resize (independent of the
    engine's NumPy path), rounded to 6 like the query."""
    rows = []
    for i in range(64):
        kind = ["image", "audio", "video"][i % 3]
        s = media_feature_sum(f"media-payload-{i}".encode(),
                              16 + (i % 4) * 8, 16 + (i % 3) * 8)
        rows.append(f"({i}, '{kind}', 8, 8, {round(s, 6)!r})")
    return ", ".join(rows)


@query("multimodal_features", f"""SELECT media_id, kind, out_width,
       out_height, CAST(feat_sum AS DOUBLE) AS feat_sum
FROM (VALUES {_media_rows()}) v(media_id, kind, out_width, out_height,
                                feat_sum)""")
def multimodal_q(spark, sf_dir):
    from osm_jl_spark.operators.multimodal import (
        decode_and_featurize,
        synthetic_media,
    )

    feats = decode_and_featurize(synthetic_media(spark))
    return feats.select(
        "media_id", "kind", "out_width", "out_height",
        F.round(
            F.aggregate("feat", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("feat_sum"),
    )


# the videos of synthetic_media (MEDIA_N = 64 items) and their frame counts
_VIDEOS = ", ".join(f"({i}, {30 + i})" for i in range(64) if i % 3 == 2)


@query("frame_sample", f"""WITH m(media_id, n_frames) AS (
  SELECT * FROM (VALUES {_VIDEOS}) v(media_id, n_frames)
),
j AS (SELECT range AS r FROM range(0, 10))
SELECT m.media_id, r * 10 AS frame_idx
FROM m, j WHERE r * 10 <= m.n_frames - 1""")
def frame_sample_q(spark, sf_dir):
    from osm_jl_spark.operators.multimodal import (
        frame_sample,
        synthetic_media,
    )

    return frame_sample(synthetic_media(spark))

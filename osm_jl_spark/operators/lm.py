"""n-gram LM perplexity filtering — the quality half of CCNet
(Wenzek et al. 2020; the line-dedup half is operators/dedup.py:
line_dedup): train count-based trigram statistics on a reference
corpus, score every document's tokens against them, and bucket
documents into per-language perplexity bands (head / middle / tail),
keeping head+middle. The reference repo has no text-quality layer;
this extends the engine's pretraining-hygiene side (SURVEY.md
extension table) alongside gopher_quality and doc_repetition.

Number representation — integer "quantized surprisal", not float log
probs. CCNet scores docs by KenLM perplexity; a distributed replica
needs per-doc scores a second engine can reproduce BIT-EXACTLY, and
``ln`` is not guaranteed correctly rounded in either the JVM or
DuckDB. So the per-trigram cost here is the add-1-smoothed
probability's surprisal floor-quantized to whole bits:

    p(w3 | w1 w2) = (c3 + 1) / (c2 + V)          (all integers)
    s = floor(log2(1/p)) = floor(log2(den / num))

and for integers den >= num >= 1, floor(log2(den/num)) equals
``length(bin(den DIV num)) - 1`` EXACTLY: with q = den DIV num, the
real ratio lies in [q, q+1), an interval that never crosses a power
of two, so its floor-log2 equals floor(log2(q)) = bitlength(q) - 1.
One integer division + one bin() + one length() — zero transcendental
calls, zero floats, hash-exact across engines. Bits-per-trigram is
kept scaled-integer the same way: bpt_milli = (1000 * bits) DIV n.
The quantization is monotone in true perplexity up to 1-bit
granularity — band membership, the thing the filter acts on, is the
preserved semantics.

Smoothing denominators: c2 counts the bigram's occurrences AS A
TRIGRAM CONTEXT (positions 1..len-2), so sum_w (c3+1)/(c2+V) = 1
exactly; V is the training vocabulary size per language. Trigrams
pruned by ``LM_MIN_COUNT`` (or never seen) fall back to the same formula
with c3 = 0 — and a context never seen contributes
floor(log2(V / 1)) bits, the uniform-over-vocab cost.

Scale shape at 10^12 docs:
- training: one narrow trigram explode, two uniform-key groupBys with
  map-side combine (trigram and context counts) + a per-lang distinct
  vocab count — the classic word-count profile;
- the LM is a DIMENSION: pruned to ``LM_MIN_COUNT`` it broadcasts, so
  scoring is broadcast-hash joins on the exploded token stream — the
  corpus-sized side shuffles exactly ONCE (the per-doc sum);
- banding reuses stats.group_quantiles_exact's histogram-first
  quantiles over the already-reduced per-doc scores (a hot language
  never sorts raw docs in one task), and the two thresholds per
  language broadcast back.
Plan pinned in tests/test_plans.py: no SortMergeJoin anywhere — every
LM/threshold join is a BroadcastHashJoin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_jl_spark.functions.text import tokens_col

_TRI_T = "array<struct<g3:string,g2:string>>"
BAND_PCTS = (33, 66)  # perplexity_filter's head/middle band percentiles
LM_MIN_COUNT = 2  # trigrams seen fewer times take the unseen path


def trigram_ctx_col(text: Column | str) -> Column:
    """All (trigram, context-bigram) pairs of ``text`` in order,
    duplicates kept, as array<struct<g3,g2>> — one pass over the
    token array, computed inside whole-stage codegen."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0)))
    tri = F.transform(
        idx,
        lambda i: F.struct(
            F.concat_ws(" ", F.slice(toks, i + 1, 3)).alias("g3"),
            F.concat_ws(" ", F.slice(toks, i + 1, 2)).alias("g2"),
        ),
    )
    return F.when(F.size(toks) >= 3, tri).otherwise(
        F.array().cast(_TRI_T)
    )


def trigram_stream(docs: DataFrame) -> DataFrame:
    """(id, lang, g3, g2) of (doc_id, lang, text) documents — one row
    per trigram OCCURRENCE (duplicates kept: counts are the LM
    statistic). Pure narrow map."""
    return docs.select(
        F.col("doc_id").alias("id"),
        "lang",
        F.explode(trigram_ctx_col("text")).alias("t"),
    ).select("id", "lang", F.col("t.g3").alias("g3"),
             F.col("t.g2").alias("g2"))


def train_trigram_lm(train_docs: DataFrame) -> dict[str, DataFrame]:
    """Count statistics for the per-language trigram LM:

    - ``tri``   (lang, g3, c3): trigram occurrence counts, pruned to
      c3 >= LM_MIN_COUNT (the broadcast-size knob: at corpus scale keep
      it high enough that the surviving table broadcasts —
      pruned trigrams take the unseen path, standard LM practice);
    - ``ctx``   (lang, g2, c2): context counts — occurrences of the
      bigram as positions 1-2 of a trigram (NOT raw bigram counts, so
      the smoothed distribution normalizes exactly);
    - ``vocab`` (lang, v): distinct training unigrams per language.
    """
    tris = trigram_stream(train_docs)
    tri = (
        tris.groupBy("lang", "g3")
        .agg(F.count(F.lit(1)).alias("c3"))
        .where(F.col("c3") >= LM_MIN_COUNT)
    )
    ctx = tris.groupBy("lang", "g2").agg(F.count(F.lit(1)).alias("c2"))
    vocab = (
        train_docs.select(
            "lang",
            F.explode(tokens_col("text")).alias("tok"),
        )
        .groupBy("lang")
        .agg(F.count_distinct("tok").alias("v"))
    )
    return {"tri": tri, "ctx": ctx, "vocab": vocab}


def score_docs(
    docs: DataFrame,
    lm: dict[str, DataFrame],
) -> DataFrame:
    """(id, lang, n_tri, bits, bpt_milli) per document with >= 1
    trigram: total quantized surprisal, trigram count, and the
    scaled-integer bits-per-trigram the band filter ranks on
    (bpt_milli = (1000 * bits) DIV n_tri — integer DIV, no float).

    Every join is an explicit broadcast: the token stream — the
    corpus-sized side — stays unshuffled until the single per-doc
    aggregation.
    """
    tris = trigram_stream(docs)
    j = (
        tris.join(F.broadcast(lm["tri"]), ["lang", "g3"], "left")
        .join(F.broadcast(lm["ctx"]), ["lang", "g2"], "left")
        .join(F.broadcast(lm["vocab"]), ["lang"], "left")
    )
    num = F.coalesce(F.col("c3"), F.lit(0)).cast("long") + F.lit(1)
    den = F.coalesce(F.col("c2"), F.lit(0)).cast("long") + F.coalesce(
        F.col("v"), F.lit(1)
    ).cast("long")
    # floor(log2(den/num)) exactly (module docstring): with
    # q = den DIV num >= 1, the ratio lies in [q, q+1) which never
    # crosses a power of two, so the answer is bitlength(q) - 1.
    per_doc = (
        j.select(
            "id", "lang", num.alias("_num"), den.alias("_den")
        )
        .withColumn(
            "s",
            F.expr("CAST(length(bin(_den DIV _num)) - 1 AS BIGINT)"),
        )
        .groupBy("id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum("s").alias("bits"),
        )
    )
    return per_doc.withColumn(
        "bpt_milli", F.expr("(bits * 1000) DIV n_tri")
    )


def perplexity_filter(docs: DataFrame) -> DataFrame:
    """The full CCNet-style pipeline: train on the even-``doc_id`` half
    of ``docs`` (a deterministic split so held-out scoring exercises
    the unseen-trigram path), score every doc, and band per language
    by exact bpt_milli quantiles:

        head   bpt_milli <= q(BAND_PCTS[0])
        middle bpt_milli <= q(BAND_PCTS[1])
        tail   otherwise

    ``keep`` = 1 for head+middle (CCNet keeps the low-perplexity
    bands). Thresholds come from stats.group_quantiles_exact over the
    ALREADY-REDUCED per-doc scores — histogram-first, so a hot
    language never sorts its raw docs in one task — and broadcast
    back (two longs per language).
    """
    from osm_jl_spark.operators.stats import group_quantiles_exact

    lm = train_trigram_lm(docs.where(F.col("doc_id") % 2 == 0))
    scored = score_docs(docs, lm)
    lo, hi = BAND_PCTS
    qs = group_quantiles_exact(scored, "lang", "bpt_milli", [lo, hi])
    thr = qs.groupBy("lang").agg(
        F.min(F.when(F.col("pct") == lo, F.col("q"))).alias("q_lo"),
        F.min(F.when(F.col("pct") == hi, F.col("q"))).alias("q_hi"),
    )
    band = (
        F.when(F.col("bpt_milli") <= F.col("q_lo"), F.lit("head"))
        .when(F.col("bpt_milli") <= F.col("q_hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .withColumn("band", band)
        .withColumn(
            "keep", (F.col("band") != "tail").cast("int")
        )
        .select("id", "lang", "n_tri", "bits", "bpt_milli", "band",
                "keep")
    )

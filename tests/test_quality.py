"""Repetition-quality signal (operators/quality.py)."""

from osm_jl_spark.operators import quality as Q
from osm_jl_spark.operators.quality import repetition_scores


def test_repetition_ratio_values(spark):
    docs = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),   # spam
            (2, "the quick brown fox jumps over dogs"),  # clean prose
            (3, "one"),                                # < 2 tokens
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r["doc_id"]: r for r in repetition_scores(docs).collect()}
    # doc 1: 7 bigrams, 'buy now' x4 -> 4/7
    assert got[1]["top_ngram_count"] == 4
    assert got[1]["ngram_total"] == 7
    assert abs(got[1]["repetition_ratio"] - 4 / 7) < 1e-12
    # doc 2: 6 distinct bigrams -> 1/6
    assert got[2]["top_ngram_count"] == 1
    assert got[2]["ngram_total"] == 6
    # doc 3: no bigrams -> no row (no signal)
    assert 3 not in got


def test_repetition_trigram_order(spark, monkeypatch):
    # n=3: "a b a b a" -> trigrams: 'a b a','b a b','a b a' -> top 2/3
    monkeypatch.setattr(Q, "REPETITION_N", 3)
    docs = spark.createDataFrame(
        [(1, "a b a b a")], "doc_id BIGINT, text STRING"
    )
    r = repetition_scores(docs).collect()[0]
    assert (r["top_ngram_count"], r["ngram_total"]) == (2, 3)


def test_tfidf_top_terms_ranks_distinctive_tokens(spark, monkeypatch):
    from osm_jl_spark.operators.quality import tfidf_top_terms

    monkeypatch.setattr(Q, "TFIDF_TOP", 2)
    docs = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common common yak yak"),
            (3, "common giraffe"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        (r["doc_id"], r["rk"]): (r["token"], r["score"])
        for r in tfidf_top_terms(docs).collect()
    }
    # 'common' appears in all 3 docs (df=3); unique animals (df=1)
    # dominate: zebra 1*3/1=3 > common 2*3/3=2
    assert got[(1, 1)] == ("zebra", 3.0)
    assert got[(1, 2)] == ("common", 2.0)
    assert got[(2, 1)] == ("yak", 6.0)
    assert got[(3, 1)] == ("giraffe", 3.0)


def test_gopher_quality_rules(spark):
    from osm_jl_spark.operators.quality import gopher_quality

    clean = "the quick brown fox jumps with vigour over a lazy dog " * 6
    docs = spark.createDataFrame(
        [
            (1, clean.strip()),                      # passes everything
            (2, ""),                                 # empty: NULLs, keep F
            (3, "- x\n" * 19 + clean.strip()),       # bullet wall
            (4, clean.strip() + " " + "# " * 40),    # symbol flood
            (5, "the fox with a dog"),               # too short
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    assert got[1]["keep"] is True
    assert got[1]["stop_hits"] >= 2
    # empty text: zero words, ratio signals NULL, verdict still False
    assert got[2]["n_words"] == 0
    assert got[2]["mean_word_len"] is None
    assert got[2]["keep"] is False
    # 19 bullet lines / 20 -> 0.95 > 0.9
    assert abs(got[3]["bullet_frac"] - 0.95) < 1e-12
    assert got[3]["keep"] is False
    # 40 '#' over (60 + 40) words -> 0.4 > 0.1, and mean length sinks
    assert got[4]["symbol_ratio"] > 0.1
    assert got[4]["keep"] is False
    assert got[5]["n_words"] == 5
    assert got[5]["keep"] is False


def test_doc_repetition_fractions(spark):
    from osm_jl_spark.operators.quality import doc_repetition

    docs = spark.createDataFrame(
        [
            (1, "nav\nbody text\nnav\nnav"),   # 'nav' x3 of 4 lines
            (2, "a\nb\nc"),                     # all distinct
            (3, "\n\n"),                        # only empty lines
            (4, "solo"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r["doc_id"]: r for r in doc_repetition(docs).collect()}
    # doc 1: 4 lines, 2 distinct -> (4-2)/4; chars: nav(3)*3 dup of
    # 3*3 + 9 total
    assert got[1]["n_lines"] == 4
    assert abs(got[1]["dup_line_frac"] - 0.5) < 1e-12
    assert abs(got[1]["dup_line_char_frac"] - 9 / 18) < 1e-12
    assert got[2]["dup_line_frac"] == 0.0
    assert got[2]["dup_line_char_frac"] == 0.0
    assert 3 not in got        # no non-empty lines -> no signal row
    assert got[4]["n_lines"] == 1

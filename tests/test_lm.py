"""n-gram LM perplexity filtering (operators/lm.py): exact-integer
surprisal arithmetic, smoothing normalization, held-out/unseen paths,
pruning, banding, and the broadcast-only plan pin."""

from __future__ import annotations

import math

import pytest

from osm_jl_spark.operators import lm as LM
from osm_jl_spark.operators.lm import (
    perplexity_filter,
    score_docs,
    train_trigram_lm,
    trigram_stream,
)
from osm_jl_spark.plans.digest import count_nodes, digest


@pytest.fixture(autouse=True)
def _no_pruning(monkeypatch):
    """The hand-computed counts below keep every trigram seen once."""
    monkeypatch.setattr(LM, "LM_MIN_COUNT", 1)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id BIGINT, lang STRING, text STRING"
    )


def test_trigram_stream_counts_and_contexts(spark):
    docs = _docs(spark, [(1, "en", "a b c d"), (2, "en", "x y")])
    got = [
        (r["id"], r["g3"], r["g2"])
        for r in trigram_stream(docs).orderBy("id", "g3").collect()
    ]
    # doc 2 has < 3 tokens: no trigrams at all
    assert got == [(1, "a b c", "a b"), (1, "b c d", "b c")]


def test_surprisal_is_exact_floor_log2(spark):
    """bits = floor(log2((c2+V)/(c3+1))) per trigram occurrence —
    checked against Python math.floor(math.log2(...)) on a corpus
    where the counts are hand-computable."""
    # train == score doc: "a b a b a" -> trigrams aba, bab, aba
    docs = _docs(spark, [(0, "en", "a b a b a")])
    lm = train_trigram_lm(docs)
    out = score_docs(docs, lm).collect()[0]
    # counts: c3(a b a)=2, c3(b a b)=1; contexts c2(a b)=2, c2(b a)=1
    # V=2. occurrences: 2x aba: (2+2)/(2+1)=4/3 -> floor log2 = 0;
    # 1x bab: (1+2)/(1+1)=3/2 -> 0. bits=0, n=3.
    assert (out["n_tri"], out["bits"]) == (3, 0)
    # independent arithmetic check of the formula on those ratios
    for num, den in [(3, 4), (2, 3)]:
        assert math.floor(math.log2(den / num)) == len(
            bin(den // num)
        ) - 3  # bin() prefixes '0b' (2 chars): bitlength-1 == len-3


def test_unseen_trigrams_pay_more_bits_than_seen(spark):
    """Held-out docs with trigrams absent from training fall back to
    the c3=0 path, which always costs >= the seen path for the same
    context; a doc of pure unseen vocabulary costs ~log2(V) bits per
    trigram."""
    train = _docs(spark, [(0, "en", "the cat sat on the mat " * 4)])
    seen = _docs(spark, [(1, "en", "the cat sat on the mat")])
    unseen = _docs(spark, [(2, "en", "zq xw vr pn lk jh gf")])
    lm = train_trigram_lm(train)
    b_seen = score_docs(seen, lm).collect()[0]
    b_unseen = score_docs(unseen, lm).collect()[0]
    per_seen = b_seen["bpt_milli"]
    per_unseen = b_unseen["bpt_milli"]
    assert per_unseen > per_seen
    # unseen context + unseen trigram: (0+1)/(0+V) with V=6 ->
    # floor(log2 6) = 2 bits per trigram exactly
    assert per_unseen == 2000


def test_min_count_pruning_takes_unseen_path(spark, monkeypatch):
    """A trigram seen once in training is pruned at LM_MIN_COUNT=2 and
    must score exactly like an unseen trigram (same context)."""
    train = _docs(
        spark,
        [(0, "en", "a b c"), (2, "en", "a b d a b d")],
    )
    probe = _docs(spark, [(1, "en", "a b c")])
    lm1 = train_trigram_lm(train)
    monkeypatch.setattr(LM, "LM_MIN_COUNT", 2)
    lm2 = train_trigram_lm(train)
    s1 = score_docs(probe, lm1).collect()[0]["bits"]
    s2 = score_docs(probe, lm2).collect()[0]["bits"]
    # pruned: "a b c" now scores as c3=0 with the same c2 — >= bits
    assert s2 >= s1
    # and exactly equals scoring a never-seen trigram w/ that context
    probe2 = _docs(spark, [(1, "en", "a b z")])
    s_unseen = score_docs(probe2, lm2).collect()[0]["bits"]
    assert s2 == s_unseen


def test_smoothing_normalizes_exactly(spark):
    """sum over the whole vocab of (c3+1)/(c2+V) == 1 for any seen
    context — the reason c2 counts CONTEXT occurrences, not raw
    bigrams. Checked in exact fractions for one context."""
    from fractions import Fraction

    train = _docs(spark, [(0, "en", "a b a b a")])
    lm = train_trigram_lm(train)
    tri = {
        (r["g3"]): r["c3"] for r in lm["tri"].collect()
    }
    ctx = {r["g2"]: r["c2"] for r in lm["ctx"].collect()}
    v = lm["vocab"].collect()[0]["v"]
    for g2 in ctx:
        total = Fraction(0)
        for w in ["a", "b"]:
            c3 = tri.get(f"{g2} {w}", 0)
            total += Fraction(c3 + 1, ctx[g2] + v)
        assert total == 1, g2


def test_band_split_and_keep(spark):
    """Bands partition each language ~1/3 by exact quantiles of
    bpt_milli; keep == (band != tail)."""
    rows = [
        (
            i,
            "en",
            "common words repeat common words repeat "
            + " ".join(f"r{i}x{j}" for j in range(i % 10)),
        )
        for i in range(60)
    ]
    out = perplexity_filter(_docs(spark, rows)).collect()
    bands = {r["band"] for r in out}
    assert bands == {"head", "middle", "tail"}
    for r in out:
        assert r["keep"] == (0 if r["band"] == "tail" else 1)
    # bits-per-trigram rises with the share of unseen rare tokens
    avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
    clean = avg([r["bpt_milli"] for r in out if r["id"] % 10 == 0])
    noisy = avg([r["bpt_milli"] for r in out if r["id"] % 10 == 9])
    assert clean < noisy


def test_lm_joins_are_all_broadcast(spark):
    """Plan pin: the LM is a broadcast DIMENSION — no SortMergeJoin
    anywhere in the full pipeline; the corpus-sized token stream
    shuffles only into the per-doc aggregation."""
    rows = [(i, "en", f"w{i} common text here now {i}") for i in range(20)]
    d = digest(perplexity_filter(_docs(spark, rows)))
    assert "SortMergeJoin" not in d.plan, d.plan
    assert count_nodes(d.plan, "BroadcastHashJoin") >= 4, d.plan
    assert d.python_ops == 0, d.plan

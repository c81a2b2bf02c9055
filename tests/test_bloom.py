"""Bloom-filter decontamination (operators/dedup.py:
bloom_contamination): the fixed-size-sketch sibling of
contamination_pairs — no false negatives ever, false positives at the
quantified (1 - exp(-k*n/m))^k rate, and a plan where the 100 TB
train side never shuffles before its one per-doc aggregation."""

from __future__ import annotations


from pyspark.sql import Row
from pyspark.sql import functions as F

from osm_jl_spark.operators import dedup as D
from osm_jl_spark.operators.dedup import bloom_bitmap, bloom_contamination
from osm_jl_spark.plans.digest import count_nodes, digest


def _corpus(spark, words, n_docs, doc_len=12, offset=0, seed=42):
    """Deterministic (seeded) word-soup docs from a given vocabulary
    — seeded sampling, not a linear stride, so the shingle set is
    diverse enough to actually load a small filter."""
    import random

    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        toks = [rng.choice(words) for _ in range(doc_len)]
        rows.append(Row(doc_id=d + offset, text=" ".join(toks)))
    return spark.createDataFrame(rows)


def test_no_false_negatives(spark, monkeypatch):
    """Every document whose shingles ALL fed the filter must come back
    fully hit and contaminated — Bloom filters cannot false-negative,
    and that is the direction a decontamination pass must not get
    wrong. Holds even at a deliberately overloaded 2^8-bit filter."""
    vocab = [f"w{i}" for i in range(40)]
    docs = _corpus(spark, vocab, 30)
    monkeypatch.setattr(D, "BLOOM_M_BITS", 1 << 8)
    out = bloom_contamination(docs, docs).collect()
    assert len(out) == 30
    for r in out:
        assert r.bloom_hits == r.n_shingles, r
        assert r.contaminated == 1, r


def test_false_positive_rate_within_bound(spark, monkeypatch):
    """Disjoint vocabularies: eval and train share NO shingle, so
    every hit is a false positive. The measured per-shingle FP rate
    must sit below 3x the fill^k prediction for the filter's ACTUAL
    measured fill (3x absorbs double-hashing correlation and
    small-sample noise) and above zero — otherwise the test isn't
    exercising the approximate half at all. The same corpus at a
    lightly-loaded 2^18 filter must produce zero FPs."""
    ev_vocab = [f"e{i}" for i in range(400)]
    tr_vocab = [f"t{i}" for i in range(400)]
    ev = _corpus(spark, ev_vocab, 40, seed=1)
    tr = _corpus(spark, tr_vocab, 120, offset=1000, seed=2)

    m, k = 1 << 10, D.BLOOM_K
    monkeypatch.setattr(D, "BLOOM_M_BITS", m)
    n_pos = (
        bloom_bitmap(ev)
        .agg(F.sum(F.bit_count("bits"))).collect()[0][0]
    )
    fill = float(n_pos) / m
    fpr_bound = fill ** k

    out = bloom_contamination(tr, ev).agg(
        F.sum("bloom_hits").alias("fp"),
        F.sum("n_shingles").alias("n"),
    ).collect()[0]
    measured = out.fp / out.n
    assert 0 < measured <= fpr_bound * 3.0, (measured, fpr_bound)

    monkeypatch.setattr(D, "BLOOM_M_BITS", 1 << 18)
    clean = bloom_contamination(tr, ev).agg(
        F.sum("bloom_hits")
    ).collect()[0][0]
    assert clean == 0


def test_bitmap_is_fixed_size(spark, monkeypatch):
    """The sketch's whole point: bitmap rows are bounded by m/64
    regardless of eval volume, and every word index is in range."""
    vocab = [f"v{i}" for i in range(200)]
    ev = _corpus(spark, vocab, 300)
    m = 1 << 10
    monkeypatch.setattr(D, "BLOOM_M_BITS", m)
    bm = bloom_bitmap(ev).collect()
    assert len(bm) <= m // 64
    assert all(0 <= r.word < m // 64 for r in bm)


def test_train_side_never_shuffles_before_doc_agg(spark):
    """Scale pin: the bitmap joins as a BROADCAST dim (k times); the
    only hashpartitioning exchange touching train rows is the final
    map-side-combinable per-doc count. No SortMergeJoin, no Python."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    d = digest(bloom_contamination(docs, ev))
    assert count_nodes(d.plan, "BroadcastHashJoin") == D.BLOOM_K, d.plan
    assert "SortMergeJoin" not in d.plan, d.plan
    # exchanges: ONE hashpartitioning on doc_id (final agg) plus the
    # bitmap build's own dim-side exchange on word — nothing else
    import re

    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", d.plan)
    assert sorted(set(hashparts)) == ["doc_id", "word"], d.plan
    assert d.python_ops == 0, d.plan


def test_empty_eval_set_flags_nothing(spark, monkeypatch):
    """An empty eval corpus builds an empty bitmap; every probe
    misses, so bloom_hits is 0 everywhere and nothing is flagged —
    the left join must tolerate the empty broadcast side."""
    vocab = [f"w{i}" for i in range(30)]
    docs = _corpus(spark, vocab, 20)
    ev = docs.filter("doc_id < 0")  # empty
    monkeypatch.setattr(D, "BLOOM_M_BITS", 1 << 10)
    out = bloom_contamination(docs, ev).agg(
        F.sum("bloom_hits"), F.max("contaminated")
    ).collect()[0]
    assert out[0] == 0 and out[1] == 0

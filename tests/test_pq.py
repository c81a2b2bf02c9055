"""Product quantization (operators/similarity.py): zero-shuffle
encode plan, the ADC = exact-reconstruction-distance identity (bit
level, same fold structure), Lloyd refinement's non-increasing
distortion, and self-reconstruction of codebook samples."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_jl_spark.operators import similarity
from osm_jl_spark.operators.similarity import (
    pq_adc_topk,
    pq_codebooks_from_samples,
    pq_encode,
    pq_train_codebooks,
)
from osm_jl_spark.plans.digest import digest

SF = "/root/testdata/sf0.001"
M = 8


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def _sample_books(spark, step=17):
    emb = _emb(spark)
    samples = [
        list(r.embedding)
        for r in emb.filter(F.col("vec_id") % step == 0)
        .orderBy("vec_id").collect()
    ]
    return pq_codebooks_from_samples(samples, M)


def test_encode_is_zero_shuffle(spark):
    """Codes are a pure narrow map against in-plan literal codebooks
    — the minhash-signature scale signature: zero exchanges, zero
    Python, or the 10^12-vector story is gone."""
    d = digest(pq_encode(_emb(spark), _sample_books(spark)))
    assert (d.exchanges, d.broadcasts, d.python_ops) == (0, 0, 0), d.plan


def test_adc_is_exact_reconstruction_distance(spark, monkeypatch):
    """The ADC identity, at the BIT level: d2_adc(q, codes(x)) equals
    squared L2 between q and x's codebook reconstruction when computed
    with the same fold structure (per-subspace inner fold from 0.0,
    then the j-ordered outer fold from 0.0 — replicated here in
    Python, whose floats are the same IEEE doubles)."""
    books = _sample_books(spark)
    emb = _emb(spark)
    codes = {r.id: list(r.codes)
             for r in pq_encode(emb, books).collect()}
    qs = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    qvecs = {r.query_id: list(r.qvec) for r in qs.collect()}
    monkeypatch.setattr(similarity, "PQ_TOPK", 3)
    got = pq_adc_topk(pq_encode(emb, books), books, qs).collect()
    s = len(books[0][0])
    for r in got:
        q, cs = qvecs[r.query_id], codes[r.neighbor_id]
        d2 = 0.0
        for j in range(M):
            sub = 0.0
            cw = books[j][cs[j]]
            for t in range(s):
                diff = q[j * s + t] - cw[t]
                sub += diff * diff
            d2 += sub
        assert r.d2_adc == d2, (r, d2)


def test_sample_vectors_reconstruct_themselves(spark, monkeypatch):
    """A vector whose slices ARE codewords encodes to itself: querying
    with it must return itself at rank 1 with d2_adc exactly 0."""
    books = _sample_books(spark)
    emb = _emb(spark)
    qs = emb.filter("vec_id % 17 = 0").limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    monkeypatch.setattr(similarity, "PQ_TOPK", 1)
    top = pq_adc_topk(pq_encode(emb, books), books, qs).collect()[0]
    assert top.neighbor_id == top.query_id and top.d2_adc == 0.0


def test_refine_non_increasing_distortion(spark):
    """Lloyd refinement on the trained codebooks must not increase
    total quantization distortion (sum over vectors and subspaces of
    the squared distance to the chosen codeword)."""
    emb = _emb(spark)

    def distortion(books):
        s = len(books[0][0])
        v = F.col("embedding")
        total = None
        from osm_jl_spark.operators.similarity import _nearest_centroid

        for j in range(M):
            d = _nearest_centroid(F.slice(v, j * s + 1, s), books[j])["d"]
            total = d if total is None else total + d
        return emb.agg(F.sum(total)).collect()[0][0]

    d0 = distortion(pq_train_codebooks(emb, refine=0))
    d2 = distortion(pq_train_codebooks(emb, refine=2))
    assert d2 <= d0, (d0, d2)

"""Deterministic samplers: reproducibility, nesting, stratum caps."""

import hashlib

from pyspark.sql import functions as F

from osm_jl_spark.operators.sampling import (
    HASH_SPACE,
    hash_sample,
    stratified_sample,
)


def _h60(i: int) -> int:
    return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)


def _docs(spark, n=400):
    rows = [(i, f"lang{i % 3}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id LONG, lang STRING")


def test_hash_sample_matches_python_oracle(spark):
    got = {r["doc_id"]
           for r in hash_sample(_docs(spark), 0.25).collect()}
    want = {i for i in range(400) if _h60(i) < 0.25 * HASH_SPACE}
    assert got == want
    assert 0 < len(got) < 400


def test_hash_sample_nested(spark):
    # a 5% sample must be a strict subset of a 25% sample
    d = _docs(spark)
    small = {r["doc_id"] for r in hash_sample(d, 0.05).collect()}
    big = {r["doc_id"] for r in hash_sample(d, 0.25).collect()}
    assert small < big


def test_stratified_sample_exact_k_per_stratum(spark):
    out = stratified_sample(_docs(spark), ["lang"], k=7).collect()
    per = {}
    for r in out:
        per[r["lang"]] = per.get(r["lang"], 0) + 1
    assert per == {"lang0": 7, "lang1": 7, "lang2": 7}
    # deterministic: the chosen ids are the 7 smallest by hash rank
    want = {
        lang: sorted(
            (i for i in range(400) if f"lang{i % 3}" == lang),
            key=lambda i: (_h60(i), i),
        )[:7]
        for lang in ("lang0", "lang1", "lang2")
    }
    got = {}
    for r in out:
        got.setdefault(r["lang"], []).append(r["doc_id"])
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in want.items()
    }


def test_stratified_sample_small_stratum_kept_whole(spark):
    d = _docs(spark).filter(
        (F.col("lang") != "lang2") | (F.col("doc_id") < 9)
    )
    out = stratified_sample(d, ["lang"], k=50).collect()
    n2 = sum(1 for r in out if r["lang"] == "lang2")
    assert n2 == 3  # doc_id 2, 5, 8 — all of them


def test_temperature_sample_properties(spark):
    """The head language downsamples hardest while the smallest
    language keeps everything (its w/n ratio is the max, threshold =
    full hash space); kept
    sets are deterministic (a rerun returns the identical rows)."""
    from osm_jl_spark.operators.sampling import temperature_sample

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang")
    n_by = {r.lang: r["count"]
            for r in docs.groupBy("lang").count().collect()}
    kept = temperature_sample(docs)
    k_by = {r.lang: r["count"]
            for r in kept.groupBy("lang").count().collect()}
    smallest = min(n_by, key=lambda x: (n_by[x], x))
    biggest = max(n_by, key=lambda x: (n_by[x], x))
    assert k_by[smallest] == n_by[smallest]  # max-ratio lang keeps all
    assert k_by[biggest] < n_by[biggest]     # head downsamples
    # exact membership: replay the threshold arithmetic and md5 rank
    # in Python (same IEEE doubles, same hash) — the kept set must
    # match bit for bit, which also proves rerun determinism
    import hashlib
    import math

    ratios = {g: math.sqrt(float(n)) / n for g, n in n_by.items()}
    mx = max(ratios.values())
    thr = {g: int((r / mx) * float(1 << 60)) for g, r in ratios.items()}

    def rank(doc_id):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:15], 16)

    want = {r.doc_id for r in docs.collect()
            if rank(r.doc_id) < thr[r.lang]}
    assert {r.doc_id for r in kept.collect()} == want

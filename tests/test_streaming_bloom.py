"""streaming_bloom_filter must equal the batch bloom_contamination
answer row-for-row across micro-batch boundaries — and run with ZERO
streaming state (it's a pure projection against a plan-constant
bitmap, so append mode needs no watermark and no state store)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _bitmap_words(spark):
    from osm_jl_spark.operators.dedup import bloom_bitmap, bloom_words

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    return bloom_words(bloom_bitmap(ev))


def test_streaming_bloom_matches_batch(spark, tmp_path):
    from osm_jl_spark.operators.dedup import bloom_contamination
    from osm_jl_spark.streaming.incremental import streaming_bloom_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    words = _bitmap_words(spark)

    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(
        src
    )
    q = (
        streaming_bloom_filter(stream, words)
        .writeStream.format("memory")
        .queryName("bloom_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # second micro-batch: the odd half — scores must not depend on
    # which batch a doc arrived in (the operator holds no state)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    # a pure projection keeps NO streaming state
    progress = q.lastProgress
    assert not progress["stateOperators"], progress["stateOperators"]
    q.stop()

    got = {
        r["doc_id"]: (r["n_shingles"], r["bloom_hits"], r["contaminated"])
        for r in spark.table("bloom_stream").collect()
    }
    want = {
        r["doc_id"]: (r["n_shingles"], r["bloom_hits"], r["contaminated"])
        for r in bloom_contamination(docs, ev).collect()
    }
    assert got == want
    assert len(got) > 50


def test_word_list_length_validated(spark):
    from osm_jl_spark.streaming.incremental import streaming_bloom_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(ValueError, match="BLOOM_M_BITS/64"):
        streaming_bloom_filter(docs, [0] * 10)

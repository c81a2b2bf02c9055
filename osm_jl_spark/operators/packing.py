"""Sequence packing — the "concatenate docs, split into fixed-token
sequences" step of an LLM pretraining pipeline, as a distributed
prefix sum.

The naive Spark spelling is a running sum over ONE global window
(`Window.orderBy(...)` with no partition key), which Catalyst executes
on a single partition — the whole corpus through one task. This module
does the textbook two-level scan instead:

1. range-bucket the deterministic order key (the md5 rank from
   operators/sampling.py) into B ordered buckets — a narrow map;
2. per-bucket token sums -> a B-row table; the exclusive prefix over
   THOSE is the only single-partition window, bounded at B rows
   regardless of corpus size;
3. per-doc exclusive running sum WITHIN each bucket (parallel window,
   partitioned by bucket) + broadcast-joined bucket offset.

Everything is integer arithmetic on BIGINT, so a DuckDB oracle running
one flat global window reproduces every offset exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_jl_spark.functions.text import token_count_col
from osm_jl_spark.operators.sampling import HASH_SPACE, _rank_hash

PACK_BUCKETS = 1024  # rows of pack_sequences' bucket table


def pack_sequences(docs: DataFrame, budget: int) -> DataFrame:
    """(doc_id, n_tokens, tok_offset, seq_id) of (doc_id, text)
    documents: lay the corpus out in the
    deterministic hash-rank order, give each doc its exclusive
    cumulative token offset, and assign it to the fixed-``budget``
    training sequence its first token lands in (greedy concatenation
    — docs may straddle a boundary, exactly like pretraining packing
    before the split step).

    ``PACK_BUCKETS`` (B) bounds the single-partition work: the global
    scan touches one B-row table, never the corpus. With B=8192 and
    10^12 docs, the heaviest window partition is corpus/B docs — tune
    B to the cluster, the result is identical for any B (pinned by
    tests).
    """
    width = HASH_SPACE // PACK_BUCKETS
    # rk is a Generate output (a one-element explode), so the join's
    # inferred isnotnull(bucket) filter reads it instead of running
    # md5 a second time per doc below the Project
    d = docs.select(
        F.col("doc_id").alias("id"),
        token_count_col("text").cast("long").alias("n_tokens"),
        F.explode(F.array(_rank_hash())).alias("rk"),
    ).withColumn("bucket", (F.col("rk") / F.lit(width)).cast("long"))

    bsums = d.groupBy("bucket").agg(F.sum("n_tokens").alias("bsum"))
    # exclusive prefix over the B-row bucket table: the ONLY global
    # window, bounded at `buckets` rows
    wb = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boffs = bsums.withColumn(
        "boff", F.coalesce(F.sum("bsum").over(wb), F.lit(0)).cast("long")
    ).select("bucket", "boff")

    # per-doc exclusive running sum inside each bucket: parallel
    ww = (
        Window.partitionBy("bucket")
        .orderBy(F.col("rk").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(F.broadcast(boffs), "bucket")
        .withColumn(
            "tok_offset",
            (
                F.col("boff")
                + F.coalesce(F.sum("n_tokens").over(ww), F.lit(0))
            ).cast("long"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            "tok_offset",
            F.expr(f"tok_offset DIV {int(budget)}").alias("seq_id"),
        )
    )

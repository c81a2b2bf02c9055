"""Deterministic sampling for training-data pipelines.

Training corpora need REPRODUCIBLE sampling — the same doc set must
come out on every rerun, on any cluster size, after any repartition.
`df.sample()` gives none of that (seed is per-partition-split), so
both operators here derive keep/rank decisions from a content hash of
the row's ``doc_id``: pure column math, no RNG, no state.

Cross-engine note: ranks/thresholds use the md5-hex prefix trick from
operators/dedup.py (`_hash60`) so a DuckDB oracle reproduces the
EXACT sample, bit for bit — that is what makes a sampler testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 60-bit hash space: top 15 md5 hex digits (see dedup._hash60)
HASH_SPACE = 1 << 60


def _rank_hash():
    """60-bit uniform hash of the ``doc_id``'s decimal string — identical in
    DuckDB: CAST('0x'||substr(md5(CAST(id AS VARCHAR)),1,15) AS BIGINT).
    """
    s = F.col("doc_id").cast("string")
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def hash_sample(df: DataFrame, fraction: float) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows: hash(id) < f·2^60.

    This is the ONLY sampler that scales without cost: a narrow
    filter, no shuffle, no window — it composes with any upstream scan
    and pushes to the row-group level when the id is a file-sort key.
    Membership depends only on the id, so reruns, retries, and
    different partition layouts all keep the same rows, and a 1%
    sample is a strict subset of a 10% sample (nested samples — the
    property ablation studies need).
    """
    return df.filter(_rank_hash() < int(fraction * HASH_SPACE))


def stratified_sample(
    df: DataFrame, strata_cols: list[str], k: int
) -> DataFrame:
    """Exactly ``k`` rows per stratum (fewer if the stratum is small),
    chosen by hash rank — deterministic across reruns and cluster
    sizes, with ``doc_id`` as the total-order tie-break.

    Plan: one shuffle on the strata key + a rank window. Right when
    strata counts are dimension-sized (languages, sources, buckets);
    a single hot stratum serializes into one partition's window sort,
    so for per-stratum *rates* over skewed strata use
    :func:`hash_sample` after a stratum filter instead.
    """
    w = Window.partitionBy(*strata_cols).orderBy(
        _rank_hash().asc(), F.col("doc_id").asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def temperature_sample(df: DataFrame) -> DataFrame:
    """Temperature-based multilingual rebalancing (the XLM-R/mT5
    sampler) at temperature alpha = 0.5: keep ``lang`` ``l`` with
    probability proportional to ``n_l^0.5 / n_l``, scaled so the
    largest resulting rate is 1 — low-resource languages keep (nearly)
    everything, the head language downsamples toward the tempered
    distribution.

    Determinism/exactness contract: membership is hash(doc_id) <
    trunc(p_l * 2^60) — the same 60-bit md5 rank as
    :func:`hash_sample`, so the sample is reproducible across reruns
    and partitionings AND bit-identical in a DuckDB oracle:
    p_l = (sqrt(n_l)/n_l) / max_m(...) uses only IEEE-correctly-rounded
    ops (sqrt, divide, multiply), so both engines compute the identical
    threshold from identical counts — no float tolerance anywhere (a
    general alpha would need pow(), which is NOT correctly rounded
    across libms).

    Plan: one map-side-combinable count per language (dimension-
    sized), thresholds broadcast back, then the same zero-shuffle
    narrow keep-filter as hash_sample — the 100 TB side never
    shuffles.
    """
    w_over_n = F.sqrt(F.col("n").cast("double")) / F.col("n")
    rates = (
        df.groupBy(F.col("lang").alias("_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_r", w_over_n)
    )
    mx = rates.agg(F.max("_r").alias("_mx"))
    thresholds = (
        rates.crossJoin(F.broadcast(mx))
        .select(
            "_lang",
            # floor == trunc-toward-zero here (the ratio is >= 0);
            # Spark's `trunc` is the DATE function, hence floor
            F.expr(f"CAST(floor((_r / _mx) * CAST({HASH_SPACE} AS "
                   "DOUBLE)) AS BIGINT)").alias("_thr"),
        )
    )
    return (
        df.join(
            F.broadcast(thresholds),
            df["lang"] == thresholds["_lang"],
        )
        .filter(_rank_hash() < F.col("_thr"))
        .drop("_lang", "_thr")
    )

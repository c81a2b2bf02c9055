"""Streaming as-of enrichment must equal the batch asof_join answer
with the policy/capture history SPANNING micro-batch boundaries (a
policy from batch 1 must enrich captures arriving in batch 2 from the
state store)."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_jl_spark.functions.timeutil import epoch_sec


def _split(crawls):
    pols = crawls.where(F.col("fetch_h") % 3 == 0).select(
        "url", "warc_ts", (F.col("fetch_h") % 1000).alias("policy_val")
    )
    caps = crawls.where(F.col("fetch_h") % 3 != 0)
    return caps, pols


def test_streaming_asof_matches_batch(spark, tmp_path):
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.temporal import asof_join
    from osm_jl_spark.streaming.incremental import streaming_asof_enrich

    crawls = G.load_crawls(spark, 80, caps=3)
    # per-url capture j has epoch base+u+j*n: j<2 -> batch 1, j=2 ->
    # batch 2, so every url's history crosses the boundary in order
    thresh = 1704067200 + 2 * 80  # base + n_urls*2: capture index j=2
    early = crawls.where(epoch_sec("warc_ts") < thresh)
    late = crawls.where(epoch_sec("warc_ts") >= thresh)
    assert early.count() > 0 and late.count() > 0

    cap_dir, pol_dir = str(tmp_path / "caps"), str(tmp_path / "pols")
    schema_caps = "url STRING, warc_ts TIMESTAMP_NTZ, fetch_h BIGINT"
    schema_pols = "url STRING, warc_ts TIMESTAMP_NTZ, policy_val BIGINT"

    e_caps, e_pols = _split(early)
    e_caps.coalesce(1).write.mode("append").parquet(cap_dir)
    e_pols.coalesce(1).write.mode("append").parquet(pol_dir)

    caps_s = spark.readStream.schema(schema_caps).parquet(cap_dir)
    pols_s = spark.readStream.schema(schema_pols).parquet(pol_dir)
    q = (
        streaming_asof_enrich(caps_s, pols_s)
        .writeStream.format("memory")
        .queryName("asof_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    n_mid = spark.table("asof_stream").count()

    l_caps, l_pols = _split(late)
    l_caps.coalesce(1).write.mode("append").parquet(cap_dir)
    l_pols.coalesce(1).write.mode("append").parquet(pol_dir)
    q.processAllAvailable()
    q.stop()

    got = {
        (r["url"], r["cap_epoch"], r["cap_id"], r["policy_epoch"],
         r["policy_val"])
        for r in spark.table("asof_stream").collect()
    }

    b_caps, b_pols = _split(crawls)
    want_df = asof_join(
        b_caps, b_pols, on="url", left_ts="warc_ts", right_ts="warc_ts",
    )
    want = {
        (r["url"], r["cap_epoch"], r["cap_id"], r["policy_epoch"],
         r["policy_val"])
        for r in want_df.select(
            "url",
            epoch_sec("warc_ts").alias("cap_epoch"),
            F.col("fetch_h").alias("cap_id"),
            epoch_sec(F.col("asof_ts")).alias("policy_epoch"),
            "policy_val",
        ).collect()
    }
    assert got == want
    # the boundary was real: batch 2 added rows, and at least one
    # batch-2 capture was enriched by a batch-1 policy held in state
    late_caps_enriched = {
        g for g in got
        if g[1] >= thresh and g[3] is not None and g[3] < thresh
    }
    assert spark.table("asof_stream").count() > n_mid
    assert late_caps_enriched, "no cross-boundary state carry"


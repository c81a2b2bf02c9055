"""Stateful streaming sessionization (applyInPandasWithState) must
converge to the batch events_sessionize answer when the stream delivers
events in time order across micro-batches — state carries open sessions
over the micro-batch boundary."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SPLIT = "2024-01-16 00:00:00"


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    from osm_jl_spark.streaming.incremental import streaming_sessionize

    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id", "ts"
    )
    src = str(tmp_path / "src")
    # micro-batch 1: first half of the month (single file so the file
    # source cannot reorder a user's events across micro-batches)
    events.filter(F.col("ts") < SPLIT).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(
        "user_id BIGINT, event_id BIGINT, ts TIMESTAMP_NTZ"
    ).parquet(src)
    sess = streaming_sessionize(stream)
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # micro-batch 2: second half — sessions open at the boundary must
    # continue from state, not restart
    events.filter(F.col("ts") >= SPLIT).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()

    # latest emission per session: n_events/end_epoch only grow,
    # start_epoch is fixed at session creation
    got = (
        spark.table("sess_stream")
        .groupBy("user_id", "session_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.min("start_epoch").alias("start_epoch"),
            F.max("end_epoch").alias("end_epoch"),
        )
    )

    import __spark_entry__ as entry

    want = entry.queries()["events_sessionize"](spark, SF)
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    assert len(got_rows) > 100  # real corpus, not a degenerate case

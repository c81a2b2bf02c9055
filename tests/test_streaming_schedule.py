"""streaming_fetch_schedule must equal the batch fetch_schedule
answer when each url arrives once and per-host arrivals are
(priority, url)-ordered across micro-batch boundaries — slot
counters carry across batches (one state row per host)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _stream_vs_batch(spark, tmp_path, frontier, first):
    """Stream ``frontier`` as two micro-batches (rows matching the SQL
    predicate ``first``, then the rest); return (streamed, batch)
    schedules keyed by url."""
    from osm_jl_spark.operators.web import fetch_schedule
    from osm_jl_spark.streaming.incremental import streaming_fetch_schedule

    schema = "url STRING, host STRING, priority BIGINT"
    src = str(tmp_path / "src")
    frontier.filter(first).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_fetch_schedule(stream)
        .writeStream.format("memory")
        .queryName("sched_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    frontier.filter(f"NOT ({first})").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()

    got = {
        r.url: (r.host, r.slot, r.fetch_at)
        for r in spark.table("sched_stream").collect()
    }
    want = {
        r.url: (r.host, r.slot, r.fetch_at)
        for r in fetch_schedule(frontier).collect()
    }
    return got, want


def test_streaming_schedule_matches_batch(spark, tmp_path):
    # deterministic frontier: 120 urls over 7 hosts, priority mostly
    # increasing per host so split-by-priority delivery is ordered
    rows = [
        (f"h{i % 7}.net/p/{i}", f"h{i % 7}.net", i // 7)
        for i in range(120)
    ]
    frontier = spark.createDataFrame(rows, "url STRING, host STRING, priority BIGINT")
    # batch 1: each host's LOW-priority half; batch 2: the rest —
    # per-host (priority, url) order holds across the boundary
    got, want = _stream_vs_batch(spark, tmp_path, frontier, "priority < 9")
    assert got == want
    assert len(got) == 120


def test_streaming_schedule_null_priorities_match_batch(spark, tmp_path):
    """NULL priorities schedule as batch ``fetch_schedule`` does: a
    url's best priority is NULL only when every proposal of it is NULL
    (``min``), and NULLs sort first. Duplicate proposals share the
    first micro-batch, where the streaming dedup-min is scoped."""
    rows = [
        (f"h{i % 3}.net/p/{i}", f"h{i % 3}.net",
         None if i % 4 == 0 else i // 3)
        for i in range(60)
    ]
    rows += [
        ("h1.net/p/1", "h1.net", None),   # NULL beside priority 0
        ("h2.net/p/5", "h2.net", None),   # NULL beside priority 1
        ("h0.net/p/0", "h0.net", None),   # NULL twice: stays NULL
    ]
    frontier = spark.createDataFrame(
        rows, "url STRING, host STRING, priority BIGINT")
    got, want = _stream_vs_batch(
        spark, tmp_path, frontier, "priority IS NULL OR priority < 8")
    assert got == want
    assert len(got) == 60

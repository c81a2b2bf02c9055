"""Checkpoint-manifest resume semantics and multimodal plumbing."""

import json
import os

from pyspark.sql import functions as F

from osm_jl_spark.datagen import load_pages_points
from osm_jl_spark.plans.manifest import Manifest, plan_units, run_with_manifest


def test_plan_units_cover_range():
    units = plan_units(-4036, -4025, 4)
    cells = []
    for u in units:
        cells.extend(range(u.lo, u.hi + 1))
    assert cells == list(range(-4036, -4024))


def test_manifest_resume_idempotent(spark, tmp_path):
    pts = load_pages_points(spark, 200).cache()
    from osm_jl_spark.functions.cells import with_cell

    cpts = with_cell(pts, 0)
    lo = cpts.agg(F.min("cx")).first()[0]
    hi = cpts.agg(F.max("cx")).first()[0]
    units = plan_units(lo, hi, 3)
    mpath = str(tmp_path / "manifest.jsonl")
    out = str(tmp_path / "out")

    def run_unit(u, obs):
        df = cpts.filter(F.col("cx").between(u.lo, u.hi))
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    r1 = run_with_manifest(spark, units, run_unit, out, mpath)
    assert set(r1["ran"]) == {u.unit_id for u in units}

    # full resume: nothing reruns
    r2 = run_with_manifest(spark, units, run_unit, out, mpath)
    assert r2["ran"] == [] and set(r2["skipped"]) == set(r1["ran"])

    # simulate a crash: drop the last unit's record -> only it reruns,
    # output row count unchanged (idempotent overwrite)
    recs = [json.loads(x) for x in open(mpath)]
    with open(mpath, "w") as f:
        for rec in recs[:-1]:
            f.write(json.dumps(rec) + "\n")
    before = spark.read.parquet(out).count()
    r3 = run_with_manifest(spark, units, run_unit, out, mpath)
    assert r3["ran"] == [recs[-1]["unit_id"]]
    assert spark.read.parquet(out).count() == before == pts.count()

    # lineage: every record carries observed row counts
    m = Manifest(mpath)
    recs = [json.loads(x) for x in open(mpath)]
    assert all("rows" in r["metrics"] for r in recs)
    assert sum(r["metrics"]["rows"] for r in {x["unit_id"]: x for x in recs}.values()) == before


def test_multimodal_featurize_deterministic(spark, monkeypatch):
    from osm_jl_spark.operators import multimodal
    from osm_jl_spark.operators.multimodal import (
        decode_and_featurize,
        frame_sample,
        synthetic_media,
    )

    monkeypatch.setattr(multimodal, "MEDIA_N", 30)
    media = synthetic_media(spark)
    f1 = decode_and_featurize(media).collect()
    f2 = decode_and_featurize(media).collect()
    k1 = sorted((r["media_id"], tuple(r["feat"])) for r in f1)
    k2 = sorted((r["media_id"], tuple(r["feat"])) for r in f2)
    assert k1 == k2
    assert all(len(r["feat"]) == 64 for r in f1)

    frames = frame_sample(media).collect()
    assert all(r["frame_idx"] % 10 == 0 for r in frames)
    assert len(frames) > 0


def test_streaming_tile_counts(spark, tmp_path):
    """Structured Streaming path: file source -> windowed cell counts."""
    from osm_jl_spark.streaming.incremental import streaming_tile_counts

    src = str(tmp_path / "stream_src")
    pts = [
        ("2024-01-01 00:00:10", 10.711, 59.921),
        ("2024-01-01 00:00:20", 10.712, 59.922),
        ("2024-01-01 00:05:00", -40.30, -20.25),
    ]
    (
        spark.createDataFrame(
            pts,
            "ts_s STRING, lon DOUBLE, lat DOUBLE",
        )
        .select(F.col("ts_s").cast("timestamp").alias("ts"), "lon", "lat")
        .write.mode("overwrite").parquet(src)
    )
    stream = spark.readStream.schema(
        "ts TIMESTAMP, lon DOUBLE, lat DOUBLE"
    ).parquet(src)
    agg = streaming_tile_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("tiles_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM tiles_stream").collect()
    got = {(r["cx"], r["cy"]): r["n_points"] for r in rows}
    from collections import Counter

    from osm_jl_spark.oracle import cell_of

    want = Counter(cell_of(lon, lat, 2) for _, lon, lat in pts)
    assert got == dict(want)
    assert sum(got.values()) == 3

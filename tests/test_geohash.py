"""Geohash encoding (functions/cells.py:geohash_col): known test
vectors, the parents-are-prefixes property, edge clamping, and the
pure-projection plan pin."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_jl_spark.functions.cells import geohash_col, with_geohash
from osm_jl_spark.plans.digest import digest


def test_known_vectors(spark):
    """Classic published geohashes: Wikipedia's ezs42, Palermo's
    sqc8b (the Redis geo example), London gcpvj; plus the origin and
    the domain corners (clamped into the first/last cell)."""
    rows = [
        (1, -5.6, 42.6, "ezs42"),
        (2, 13.361389, 38.115556, "sqc8b"),
        (3, -0.1278, 51.5074, "gcpvj"),
        (4, 0.0, 0.0, "s0000"),
        (5, -180.0, -90.0, "00000"),
        (6, 179.99999, 89.99999, "zzzzz"),
    ]
    df = spark.createDataFrame(
        [(i, lon, lat) for i, lon, lat, _ in rows],
        "id LONG, lon DOUBLE, lat DOUBLE",
    )
    got = {r["id"]: r["gh"] for r in with_geohash(df, 5).collect()}
    assert got == {i: gh for i, lon, lat, gh in rows}


def test_parents_are_prefixes(spark):
    """gh(length k) == substring(gh(length n), 1, k) for every row —
    scaling by powers of two is exact in IEEE doubles, so shorter
    hashes are literal prefixes (the property rollups rely on)."""
    import random

    rng = random.Random(3)
    rows = [
        (i, rng.uniform(-180, 180), rng.uniform(-90, 90))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id LONG, lon DOUBLE, lat DOUBLE")
    out = (
        df.select(
            geohash_col("lon", "lat", 7).alias("g7"),
            geohash_col("lon", "lat", 4).alias("g4"),
            geohash_col("lon", "lat", 1).alias("g1"),
        )
        .withColumn("ok", (F.col("g7").substr(1, 4) == F.col("g4"))
                    & (F.col("g7").substr(1, 1) == F.col("g1")))
        .collect()
    )
    assert all(r["ok"] for r in out)


def test_plan_is_pure_projection(spark):
    """Zero exchanges, zero Python: the encode is codegen'd scalar
    expressions fused into the scan projection."""
    df = spark.createDataFrame(
        [(1, 10.0, 59.0)], "id LONG, lon DOUBLE, lat DOUBLE")
    d = digest(with_geohash(df, 6))
    assert (d.exchanges, d.python_ops) == (0, 0), d.plan

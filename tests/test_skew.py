"""Skew handling: the salted two-stage tiling aggregation must be
exact under an adversarially hot cell (SURVEY.md §7.3 "dense cells blow
up the tiling groupBy") and its plan must actually be two-stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_jl_spark.functions.cells import with_cell
from osm_jl_spark.operators.tiling import tile_counts
from osm_jl_spark.plans.digest import digest


def _skewed_points(spark, n=20000):
    """90% of rows land in ONE cell (Oslo); the rest scatter."""
    return spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(10.715))
        .otherwise(F.col("id").cast("double") / 1000.0)
        .alias("lon"),
        F.when(F.col("id") % 10 < 9, F.lit(59.925))
        .otherwise(-(F.col("id").cast("double")) / 2000.0)
        .alias("lat"),
    )


def test_salted_tile_counts_exact_under_skew(spark):
    pts = _skewed_points(spark)
    got = {
        (r["cx"], r["cy"]): r["n_points"]
        for r in tile_counts(pts).collect()
    }
    naive = {
        (r["cx"], r["cy"]): r["n"]
        for r in with_cell(_skewed_points(spark), 2)
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == naive
    assert max(got.values()) == 18000  # the hot cell survived intact


def test_salted_plan_is_two_stage(spark):
    d = digest(tile_counts(_skewed_points(spark)))
    # stage 1 shuffles on (cx, cy, _salt), stage 2 merges per (cx, cy):
    # two exchanges, salt key visible in the first
    assert d.exchanges == 2, d.plan
    assert "_salt" in d.plan

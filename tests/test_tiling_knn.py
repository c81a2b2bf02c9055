"""Tiling aggregation (A1) and kNN ring expansion vs brute force."""

from collections import Counter

from pyspark.sql import functions as F

from osm_jl_spark.datagen import load_nodes, load_pages_points
from osm_jl_spark.operators.knn import knn_join
from osm_jl_spark.operators.tiling import (
    raster_to_vector,
    tile_counts,
    tile_ids,
    tile_rollup,
)
from osm_jl_spark.oracle import cell_of, knn_bruteforce

M = 400


def test_tile_counts_matches_bruteforce(spark):
    pts = load_pages_points(spark, 300)
    got = {
        (r["cx"], r["cy"]): r["n_points"]
        for r in tile_counts(pts, 2).collect()
    }
    want = Counter(
        cell_of(r["lon"], r["lat"], 2) for r in pts.collect()
    )
    assert got == dict(want)


def test_tile_ids_sorted_deterministic(spark):
    nodes = load_nodes(spark, M)
    t = tile_ids(nodes, 1).collect()
    for r in t:
        assert r["ids"] == sorted(r["ids"])
        assert r["n_points"] == len(r["ids"])


def test_rollup_consistency(spark):
    pts = load_pages_points(spark, 300)
    roll = tile_rollup(pts, [0, 1, 2]).collect()
    total = pts.count()
    by_p = Counter()
    for r in roll:
        by_p[r["precision"]] += r["n_points"]
    assert by_p[0] == by_p[1] == by_p[2] == total


def test_raster_to_vector_boxes(spark):
    pts = load_pages_points(spark, 300)
    tiles = tile_rollup(pts, [1])
    boxes = raster_to_vector(tiles, threshold=1).collect()
    pts_l = pts.collect()
    for b in boxes:
        # every point of the cell lies inside the emitted box
        n = 0
        for r in pts_l:
            if cell_of(r["lon"], r["lat"], 1) == (b["cx"], b["cy"]):
                assert b["min_lon"] <= r["lon"] <= b["max_lon"]
                assert b["min_lat"] <= r["lat"] <= b["max_lat"]
                n += 1
        assert n == b["n_points"]


def test_knn_matches_bruteforce(spark):
    nodes = load_nodes(spark, M)
    pts = [(r["id"], r["lon"], r["lat"]) for r in nodes.collect()]
    queries = nodes.filter(F.col("id") <= 12).select(
        F.col("id").alias("query_id"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
    )
    got = {}
    for r in knn_join(nodes, queries, k=5, precision=2).collect():
        got.setdefault(r["query_id"], {})[r["rank"]] = r["id"]
    for qid, qlon, qlat in [p for p in pts if p[0] <= 12]:
        want = knn_bruteforce(qlon, qlat, pts, 5)
        got_order = [got[qid][i] for i in sorted(got[qid])]
        assert got_order == want, (qid, got_order, want)


def _offset_queries(nodes, n):
    return nodes.filter(F.col("id") <= n).select(
        F.col("id").alias("query_id"),
        (F.col("lon") + 0.001).alias("qlon"),
        (F.col("lat") + 0.001).alias("qlat"),
    )


def test_knn_hierarchical_levels_match_bruteforce(spark):
    """A fine precision (3) on mixed dense/sparse data makes the world-
    noise queries fail the finest levels, so they finish at coarser
    ones. Results must still be EXACT."""
    nodes = load_nodes(spark, M)
    pts = [(r["id"], r["lon"], r["lat"]) for r in nodes.collect()]
    got = {}
    res = knn_join(nodes, _offset_queries(nodes, 24), k=5, precision=3)
    for r in res.collect():
        got.setdefault(r["query_id"], {})[r["rank"]] = r["id"]
    assert len(got) == 24
    for qid, qlon, qlat in [p for p in pts if p[0] <= 24]:
        want = knn_bruteforce(qlon + 0.001, qlat + 0.001, pts, 5)
        got_order = [got[qid][i] for i in sorted(got[qid])]
        assert got_order == want, (qid, got_order, want)


def test_knn_level_hook_sees_every_level(spark, monkeypatch):
    """Wrapped the way the traced benchmark wraps it, the module's
    level step is called once per precision, finest first, and leaves
    nothing pending after the last call."""
    from osm_jl_spark.operators import knn

    calls = []
    orig = knn._expand_level

    def level(*a, **kw):
        pending = orig(*a, **kw)
        calls.append((a[3], pending.count()))
        return pending

    monkeypatch.setattr(knn, "_expand_level", level)
    nodes = load_nodes(spark, M)
    knn.knn_join(nodes, _offset_queries(nodes, 24), k=5, precision=3)
    precs = [p for p, _ in calls]
    pending = [n for _, n in calls]
    assert precs == list(range(3, 3 - len(calls), -1))
    assert len(calls) > 1 and pending[-1] == 0
    assert all(n > 0 for n in pending[:-1])


def test_cover_budget_world_polygon_never_enumerates_on_driver(spark):
    """VERDICT r3 #3: a world-sized polygon must NOT enumerate its
    bbox cells into driver memory. cell_cover now RAISES past the
    shared budget (the old fallback built the very multi-million-cell
    set the budget existed to prevent); vector_to_raster routes such
    polygons through a distributed sequence-explode instead."""
    import time

    import pytest

    from osm_jl_spark.functions.geo import (
        COVER_BUDGET,
        CoverBudgetError,
        cell_bbox_range,
        cell_cover,
    )
    from osm_jl_spark.operators.tiling import vector_to_raster

    world = [(-180.0, -89.0), (180.0, -89.0), (180.0, 89.0),
             (-180.0, 89.0)]
    with pytest.raises(CoverBudgetError):
        cell_cover(world, 2)

    # distributed raster path: plan construction is instant (no
    # driver-side cell loop), rows materialize on executors. Use
    # precision 1 (~6.5M cells) to keep the executed check quick.
    t0 = time.time()
    rast = vector_to_raster({1: world, 2: [(0.0, 0.0), (0.2, 0.0),
                                           (0.2, 0.2)]}, spark, 1)
    assert time.time() - t0 < 5.0  # no driver enumeration happened
    xlo, xhi, ylo, yhi = cell_bbox_range(world, 1)
    n_bbox = (xhi - xlo + 1) * (yhi - ylo + 1)
    assert n_bbox > COVER_BUDGET
    got = rast.filter("polygon_id = 1").count()
    assert got == n_bbox
    # the small polygon still takes the exact driver-side cover, with
    # full/boundary classification intact
    small = rast.filter("polygon_id = 2").groupBy("coverage").count()
    assert {r["coverage"] for r in small.collect()} >= {"boundary"}

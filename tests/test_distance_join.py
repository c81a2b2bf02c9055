"""within_distance_join (operators/joins.py): exact-integer radius
join — micro-degree recovery, brute-force parity, boundary inclusion,
negative-coordinate cells, and the broadcast-dimension plan pin."""

from __future__ import annotations

import pytest

from osm_jl_spark.operators.joins import _micro, within_distance_join
from osm_jl_spark.plans.digest import count_nodes, digest


def _pts(spark, us):
    """DataFrame from integer micro-degree pairs, stored as the
    doubles datagen materializes (u / 1e5)."""
    return spark.createDataFrame(
        [(i, x / 100000.0, y / 100000.0) for i, (x, y) in enumerate(us)],
        "id BIGINT, lon DOUBLE, lat DOUBLE",
    )


def test_micro_recovery_is_exact(spark):
    """round(lon * 1e5) inverts datagen's u / 1e5 exactly — including
    negatives, the ±180/±85 extremes, and values whose double form is
    non-terminating binary."""
    us = [0, 1, -1, 7, -7, 99999, -99999, 1071003, -4035999,
          17999999, -18000000, 8499999, -8500000, 33333, -33333]
    df = _pts(spark, [(u, u if abs(u) <= 8500000 else 0) for u in us])
    got = df.select("id", _micro("lon").alias("u")).orderBy("id").collect()
    assert [r["u"] for r in got] == us


def test_matches_bruteforce(spark):
    """Pair set and d2 values equal the naive all-pairs computation on
    a mixed corpus (dense cluster + sparse + negative coords)."""
    import random

    rng = random.Random(7)
    pts = [(rng.randint(1071000, 1073000), rng.randint(5991900, 5992600))
           for _ in range(120)]
    pts += [(rng.randint(-18000000, 18000000),
             rng.randint(-8500000, 8500000)) for _ in range(80)]
    centers = pts[::17]
    r = 500
    points_df = _pts(spark, pts)
    centers_df = _pts(spark, centers)
    got = {
        (r_["center_id"], r_["point_id"]): r_["d2"]
        for r_ in within_distance_join(points_df, centers_df, r).collect()
    }
    want = {}
    for ci, (cx, cy) in enumerate(centers):
        for pi, (px, py) in enumerate(pts):
            d2 = (px - cx) ** 2 + (py - cy) ** 2
            if d2 <= r * r:
                want[(ci, pi)] = d2
    assert got == want
    assert len(want) > 50  # the dense cluster actually exercises pairs


def test_boundary_is_inclusive_and_exact(spark):
    """d2 == r² is included, d2 == r² + 1 is not — the predicate is
    integer arithmetic, no float boundary jitter possible."""
    r = 300
    # center at origin-ish; one point exactly r away on the x axis,
    # one at the closest strictly-outside integer point
    centers = [(1000000, 2000000)]
    pts = [(1000000 + r, 2000000),         # d2 = r*r exactly
           (1000000 + r, 2000001),         # d2 = r*r + 1
           (1000000 - r, 2000000)]         # d2 = r*r, other side
    out = within_distance_join(
        _pts(spark, pts), _pts(spark, centers), r
    ).orderBy("point_id").collect()
    assert [(r_["point_id"], r_["d2"]) for r_ in out] == [
        (0, r * r), (2, r * r)]


def test_negative_coordinate_cells_are_sound(spark):
    """floor-division cells (pmod form) cover correctly across the
    zero meridian/equator — a pair straddling 0 still matches."""
    r = 400
    centers = [(-100, -100)]
    pts = [(150, 150), (250, 250), (-399, -100), (5000, 5000)]
    out = within_distance_join(
        _pts(spark, pts), _pts(spark, centers), r
    ).collect()
    got = sorted(r_["point_id"] for r_ in out)
    # (150,150): d2 = 250² + 250² = 125000 <= 160000 ✓
    # (250,250): d2 = 350² + 350² = 245000 > 160000 ✗
    # (-399,-100): d2 = 299² = 89401 ✓ ; (5000,5000) far ✗
    assert got == [0, 2]


def test_radius_join_plan_is_broadcast_fact_never_shuffles(spark):
    """Plan pin: the exploded center ring BROADCASTS; the point side
    reaches the join with ZERO shuffle exchanges and zero Python —
    the polygon cell-cover join's shape (PLANS.md radius_join)."""
    points = _pts(spark, [(i * 1000, i * 500) for i in range(50)])
    centers = _pts(spark, [(0, 0), (10000, 5000)])
    d = digest(within_distance_join(points, centers, 500))
    assert count_nodes(d.plan, "BroadcastHashJoin") == 1, d.plan
    assert d.exchanges == 0, d.plan  # broadcast != shuffle
    assert "SortMergeJoin" not in d.plan
    assert d.python_ops == 0, d.plan


def test_rejects_nonpositive_radius(spark):
    with pytest.raises(ValueError):
        within_distance_join(_pts(spark, [(0, 0)]), _pts(spark, [(0, 0)]), 0)

"""SemDeDup-style cluster-bounded semantic dedup
(operators/similarity.py:semdedup): assignment, keep policy, the
cluster-bounding trade, determinism, and the plan shape."""

from __future__ import annotations

from osm_jl_spark.operators.similarity import semdedup
from osm_jl_spark.plans.digest import digest


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )


def test_exact_dups_dropped_lowest_id_survives(spark):
    """Identical vectors land in one cluster; every copy above the
    lowest id is dropped, the lowest kept — transitively: in a triple
    (1, 2, 3) of dups only 1 survives."""
    a = [1.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0]
    rows = [(1, a), (2, a), (3, a), (10, b), (11, b)]
    cents = _emb(spark, [(100, a), (200, b)])
    out = {
        r["id"]: (r["cluster"], r["keep"])
        for r in semdedup(_emb(spark, rows), centroids=cents).collect()
    }
    assert out == {
        1: (100, True), 2: (100, False), 3: (100, False),
        10: (200, True), 11: (200, False),
    }


def test_cross_cluster_pairs_are_not_searched(spark):
    """The documented SemDeDup trade: two near-identical vectors
    assigned to DIFFERENT clusters are never compared, so both are
    kept. (Exactly equidistant is impossible here: each sits closer
    to its own centroid.)"""
    va = [1.0, 0.0]
    vb = [0.999, 0.001]  # near-dup of va, but nearer centroid B
    cents = _emb(spark, [(100, [1.001, 0.0]), (200, [0.998, 0.001])])
    out = {
        r["id"]: (r["cluster"], r["keep"])
        for r in semdedup(
            _emb(spark, [(1, va), (2, vb)]), centroids=cents,
        ).collect()
    }
    assert out == {1: (100, True), 2: (200, True)}


def test_default_centroid_step(spark):
    """Without an explicit centroid table, ids divisible by
    CENTROID_STEP (125) are the medoids."""
    rows = [(i, [float(i % 3), 1.0]) for i in range(0, 260, 5)]
    out = semdedup(_emb(spark, rows))
    clusters = {r["id"]: r["cluster"] for r in out.collect()}
    assert set(clusters.values()) <= {0, 125, 250}
    assert clusters[0] == 0 and clusters[125] == 125


def test_deterministic(spark):
    rows = [(i, [float((i * 7) % 5), float((i * 3) % 4)])
            for i in range(40)]
    cents = _emb(spark, [(0, [0.0, 0.0]), (1, [4.0, 3.0])])
    df = _emb(spark, rows)
    r1 = sorted(map(tuple, semdedup(df, centroids=cents).collect()))
    r2 = sorted(map(tuple, semdedup(df, centroids=cents).collect()))
    assert r1 == r2


def test_plan_assignment_broadcasts_no_python(spark):
    """The medoid dimension broadcasts (BroadcastNestedLoopJoin — the
    same deliberate broadcast cross product as cosine_topk); the pair
    self-join runs on the cluster key; zero Python operators."""
    rows = [(i, [float(i), 1.0]) for i in range(50)]
    cents = _emb(spark, [(0, [0.0, 1.0]), (25, [25.0, 1.0])])
    d = digest(semdedup(_emb(spark, rows), centroids=cents))
    assert "BroadcastNestedLoopJoin" in d.plan, d.plan
    assert d.python_ops == 0, d.plan

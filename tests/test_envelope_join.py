"""envelope_join (operators/joins.py): grid-partitioned rectangle
overlap join — naive-equivalence, exact-once reporting-cell dedup, the
raise on an oversized rectangle, and the zero-nested-loop plan pin."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row

from osm_jl_spark.operators.joins import envelope_join
from osm_jl_spark.plans.digest import count_nodes, digest


def _rects(spark, n, seed, span=10_000, max_ext=900, n_oversized=0):
    """Seeded random integer rectangles; the last n_oversized get an
    x-extent far beyond any reasonable cell width."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        x, y = rng.randrange(-span, span), rng.randrange(-span, span)
        ex, ey = rng.randrange(0, max_ext), rng.randrange(0, max_ext)
        if i >= n - n_oversized:
            ex = span * 3
        rows.append(Row(id=i, minx=x, miny=y, maxx=x + ex, maxy=y + ey))
    return spark.createDataFrame(rows)


def _naive(a_rows, b_rows):
    out = set()
    for ra in a_rows:
        for rb in b_rows:
            if (ra.minx <= rb.maxx and rb.minx <= ra.maxx
                    and ra.miny <= rb.maxy and rb.miny <= ra.maxy):
                area = ((min(ra.maxx, rb.maxx) - max(ra.minx, rb.minx))
                        * (min(ra.maxy, rb.maxy) - max(ra.miny, rb.miny)))
                out.add((ra.id, rb.id, area))
    return out


def test_strict_all_compact_matches_naive(spark):
    a = _rects(spark, 80, seed=3)
    b = _rects(spark, 80, seed=4)
    got = envelope_join(a, b, cell_w=1000).collect()
    assert len(got) == len({(r.a_id, r.b_id) for r in got})
    assert {(r.a_id, r.b_id, r.ix_area) for r in got} == _naive(
        a.collect(), b.collect()
    )


def test_touching_edges_count_with_zero_area(spark):
    a = spark.createDataFrame([Row(id=1, minx=0, miny=0, maxx=10, maxy=10)])
    b = spark.createDataFrame(
        [Row(id=2, minx=10, miny=5, maxx=20, maxy=15),   # shared edge
         Row(id=3, minx=10, miny=10, maxx=20, maxy=20),  # shared corner
         Row(id=4, minx=11, miny=0, maxx=20, maxy=10)]   # disjoint
    )
    got = {(r.a_id, r.b_id): r.ix_area
           for r in envelope_join(a, b, cell_w=100).collect()}
    assert got == {(1, 2): 0, (1, 3): 0}


def test_strict_mode_raises_on_oversized(spark):
    a = _rects(spark, 10, seed=5, n_oversized=1)
    b = _rects(spark, 10, seed=6)
    with pytest.raises(Exception, match="envelope_join"):
        envelope_join(a, b, cell_w=1000).count()


def test_strict_plan_has_no_nested_loop_and_no_distinct(spark):
    """Scale pin: one equi-join on the cell key, reporting-cell dedup
    instead of a distinct (no extra exchange for dedup), no nested-loop
    branch anywhere."""
    a = _rects(spark, 30, seed=8)
    b = _rects(spark, 30, seed=9)
    d = digest(envelope_join(a, b, cell_w=1000))
    assert "BroadcastNestedLoopJoin" not in d.plan, d.plan
    assert "CartesianProduct" not in d.plan, d.plan
    assert count_nodes(d.plan, "HashAggregate") == 0, d.plan  # no distinct
    assert d.python_ops == 0, d.plan


def test_empty_side_yields_no_pairs(spark):
    a = _rects(spark, 20, seed=12)
    b = a.filter("id < 0")  # empty
    assert envelope_join(a, b, cell_w=1000).count() == 0
    assert envelope_join(b, a, cell_w=1000).count() == 0

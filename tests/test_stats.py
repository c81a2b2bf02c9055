"""Distribution profiling (operators/stats.py): exact histogram
quantiles vs brute force, the approx sketch path's accuracy contract,
and the skew-safety plan shape."""

from __future__ import annotations

import math
import random
from collections import defaultdict

import pytest

from osm_jl_spark.operators.stats import (
    group_quantiles_exact,
    group_quantiles_approx,
)
from osm_jl_spark.plans.digest import count_nodes, digest, nodes

PCTS = [25, 50, 90, 99]

@pytest.fixture(scope="module")
def skewed(spark):
    """90% of rows in one hot group — the shape that breaks a naive
    per-group sort."""
    rng = random.Random(11)
    rows = [
        ("en" if i % 10 else ("no" if i % 20 else "pt"),
         rng.randint(0, 300))
        for i in range(4000)
    ]
    return rows, spark.createDataFrame(rows, "lang STRING, nt LONG")


def _brute(rows):
    by = defaultdict(list)
    for g, v in rows:
        by[g].append(v)
    want = {}
    for g, vs in by.items():
        vs.sort()
        for p in PCTS:
            want[(g, p)] = vs[math.ceil(p * len(vs) / 100) - 1]
    return want


def test_exact_matches_brute_force(spark, skewed):
    rows, df = skewed
    got = {
        (r["lang"], r["pct"]): r["q"]
        for r in group_quantiles_exact(df, "lang", "nt", PCTS).collect()
    }
    assert got == _brute(rows)


def test_exact_handles_all_mass_at_one_value(spark):
    df = spark.createDataFrame([("a", 7)] * 50, "g STRING, v LONG")
    got = group_quantiles_exact(df, "g", "v", PCTS).collect()
    assert {(r["g"], r["pct"], r["q"]) for r in got} == {
        ("a", p, 7) for p in PCTS
    }


def test_approx_within_rank_error(spark, skewed):
    """percentile_approx (the unbounded-cardinality scale path) must
    land within its rank-error contract of the exact answer: at
    accuracy A the returned value's rank is within n/A of the target,
    so with A=10000 and n=4000 it must be exact here."""
    rows, df = skewed
    want = _brute(rows)
    got = group_quantiles_approx(df, "lang", "nt", PCTS).collect()
    assert len(got) == len(want)
    for r in got:
        assert r["q"] == want[(r["lang"], r["pct"])], r


def test_exact_plan_windows_histogram_not_corpus(spark, tmp_path):
    """Skew-safety pin: the corpus relation reaches ONE hash
    aggregation (the histogram) and the window sorts AFTER that
    aggregation — never the raw rows. Also zero Python."""
    path = str(tmp_path / "vals.parquet")
    spark.createDataFrame(
        [("g%d" % (i % 3), i % 97) for i in range(1000)],
        "g STRING, v LONG",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    d = digest(group_quantiles_exact(df, "g", "v", PCTS))
    assert d.python_ops == 0, d.plan
    # the Window node's subtree must contain the partial+final hash
    # aggregate pair (histogram) between it and the scan: assert the
    # first Window in the tree appears AFTER a HashAggregate when
    # reading leaves-first detail numbering (scan is node 1)
    order = nodes(d.plan)
    first_window = order.index("Window")
    assert "HashAggregate" in order[:first_window], order
    # exactly one scan of the corpus: quantile selection reuses the
    # histogram, it does not rescan the parquet
    assert count_nodes(d.plan, "Scan parquet") <= 2, d.plan

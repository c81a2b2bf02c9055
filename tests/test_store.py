"""Storage layer: canonical pages reader and the cell-clustered points
store whose directory layout makes bbox queries partition-pruned scans
(the physical form of the reference's index-slice query,
src/OSM.jl:246-257 / src/index.jl:74-87)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_jl_spark import datagen as G
from osm_jl_spark.functions.cells import bbox_filter, with_cell
from osm_jl_spark.plans.digest import digest
from osm_jl_spark.sources.store import (
    read_pages,
    read_points_bbox,
    write_points_clustered,
)


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "points")
    nodes = G.load_nodes(spark, 4000).select("id", "lon", "lat")
    write_points_clustered(nodes, path)
    return path


def test_read_pages_parquet_and_schema_guard(spark, tmp_path):
    p = str(tmp_path / "pages.parquet")
    G.load_pages(spark, 200).write.parquet(p)
    df = read_pages(spark, p)
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert df.count() == 200

    bad = str(tmp_path / "bad.parquet")
    G.load_pages(spark, 10).drop("html").write.parquet(bad)
    with pytest.raises(ValueError, match="html"):
        read_pages(spark, bad)


def test_repeat_read_infers_the_parquet_schema_once(spark, tmp_path,
                                                   monkeypatch):
    """Inferring a parquet schema runs a Spark job; read_pages runs it
    on the first read of a location only. A rewritten location (new
    file listing) and another Spark application infer again, and the
    schema guard still sees the rewritten columns."""
    sc = spark.sparkContext
    probes = iter(range(1000))

    def jobs(read):
        group = f"schema_probe_{next(probes)}"
        sc.setJobGroup(group, group)
        try:
            read()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    p = str(tmp_path / "pages.parquet")
    G.load_pages(spark, 30).write.parquet(p)
    assert jobs(lambda: read_pages(spark, p, fmt="parquet")) == 1
    assert jobs(lambda: read_pages(spark, p, fmt="parquet")) == 0
    assert read_pages(spark, p, fmt="parquet").count() == 30

    G.load_pages(spark, 20).write.mode("overwrite").parquet(p)
    assert jobs(lambda: read_pages(spark, p, fmt="parquet")) == 1
    assert read_pages(spark, p, fmt="parquet").count() == 20

    monkeypatch.setattr(type(sc), "applicationId",
                        property(lambda self: "restarted-application"))
    assert jobs(lambda: read_pages(spark, p, fmt="parquet")) == 1
    assert jobs(lambda: read_pages(spark, p, fmt="parquet")) == 0

    G.load_pages(spark, 10).drop("html").write.mode("overwrite").parquet(p)
    with pytest.raises(ValueError, match="html"):
        read_pages(spark, p, fmt="parquet")


def test_clustered_bbox_matches_unclustered(spark, clustered):
    got = {
        r["id"]
        for r in read_points_bbox(
            spark, clustered, G.VITORIA_UL, G.VITORIA_LR
        ).collect()
    }
    nodes = with_cell(G.load_nodes(spark, 4000).select("id", "lon", "lat"), 2)
    want = {
        r["id"]
        for r in bbox_filter(nodes, G.VITORIA_UL, G.VITORIA_LR, 2).collect()
    }
    assert got == want
    assert len(want) > 0  # fixture actually selects rows


def test_clustered_bbox_prunes_partitions(spark, clustered):
    """The bbox plan must show directory-level pruning on the stripe
    column AND pushed cell filters — and stay shuffle/Python-free."""
    d = digest(
        read_points_bbox(spark, clustered, G.VITORIA_UL, G.VITORIA_LR)
    )
    assert any("cx_stripe" in p for p in d.partition_filters), d.plan
    assert any("cx" in p and "cy" in p for p in d.pushed_filters), d.plan
    assert (d.exchanges, d.python_ops) == (0, 0), d.plan


@pytest.fixture(scope="module")
def qk_store(spark, tmp_path_factory):
    from osm_jl_spark.sources.store import write_points_quadkey

    path = str(tmp_path_factory.mktemp("store") / "points_qk")
    nodes = G.load_nodes(spark, 4000).select("id", "lon", "lat")
    write_points_quadkey(nodes, path)
    return path


def test_tile_read_matches_direct_filter(spark, qk_store):
    """Subtree semantics: reading tile '2110' (the Vitória z4 tile)
    from the store returns exactly the nodes whose zoom-12 quadkey
    starts with '2110' — including a tile SHALLOWER than the stripe
    ('2', z1), which must prune by stripe prefix instead of equality."""
    from osm_jl_spark.functions.cells import with_quadkey
    from osm_jl_spark.sources.store import read_points_tile

    nodes = with_quadkey(
        G.load_nodes(spark, 4000).select("id", "lon", "lat"), zoom=12
    )
    for prefix in ("2110", "2"):
        got = {
            r["id"]
            for r in read_points_tile(spark, qk_store, prefix).collect()
        }
        want = {
            r["id"]
            for r in nodes.filter(
                F.col("qk").startswith(prefix)
            ).collect()
        }
        assert got == want, prefix
        assert len(want) > 0, prefix
    # the Vitória cluster is 25% of nodes: the z4 tile must hold it
    assert len(got) >= 1000  # prefix '2' ⊇ Vitória cluster


def test_tile_read_prunes_and_pushes(spark, qk_store):
    """Tile reads are pruned scans: stripe equality in
    PartitionFilters, StringStartsWith on qk in PushedFilters, zero
    exchanges, zero Python."""
    from osm_jl_spark.sources.store import read_points_tile

    d = digest(read_points_tile(spark, qk_store, "2110"))
    assert any("qk_stripe" in p for p in d.partition_filters), d.plan
    assert any("StartsWith(qk,2110)" in p for p in d.pushed_filters), d.plan
    assert (d.exchanges, d.python_ops) == (0, 0), d.plan


def test_tile_serving_rollup_composes_with_pruned_read(spark, qk_store):
    """The serving composite (read_points_tile -> quadkey_rollup) is
    ONE plan: the pruned scan's PartitionFilters/StringStartsWith
    survive under the rollup, there are exactly the rollup's two
    uniform exchanges (salted partial agg + final agg) and nothing
    else — zero exchanges before the partial aggregation — and zero
    Python. Values: every zoom level's counts sum to the subtree row
    count, and each tile_qk is a prefix-of-'2110'-extension."""
    from osm_jl_spark.operators.tiling import quadkey_rollup
    from osm_jl_spark.sources.store import read_points_tile

    served = read_points_tile(spark, qk_store, "2110")
    out = quadkey_rollup(served, [4, 6, 8, 12])

    d = digest(out)
    assert any("qk_stripe" in p for p in d.partition_filters), d.plan
    assert any("StartsWith(qk,2110)" in p for p in d.pushed_filters), d.plan
    assert (d.exchanges, d.python_ops) == (2, 0), d.plan
    assert "SortMergeJoin" not in d.plan

    n = served.count()
    rows = out.collect()
    by_zoom = {}
    for r in rows:
        assert r["tile_qk"].startswith("2110"[: min(4, r["zoom"])]), r
        assert len(r["tile_qk"]) == r["zoom"], r
        by_zoom.setdefault(r["zoom"], 0)
        by_zoom[r["zoom"]] += r["n_points"]
    assert by_zoom == {4: n, 6: n, 8: n, 12: n}
    # z4 is exactly the requested tile, one row
    assert sum(1 for r in rows if r["zoom"] == 4) == 1

"""Driver-side plan building, pinned as counts.

Classic PySpark analyses every DataFrame transformation eagerly in the
JVM, and each step of building a plan is one or more py4j round trips.
The benchmark rebuilds the flagship plan on every pass, so this is
fixed cost per job. Round trips do not depend on host speed, so they
are pinned here as upper bounds — lower them when a change lowers the
count, never raise them to admit a regression.
"""

from __future__ import annotations

import contextlib

import pytest
from py4j import protocol
from py4j.clientserver import ClientServerConnection

# object-release messages share the channel but are sent whenever
# Python's garbage collector runs, so they are not counted
_RELEASE = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

# Upper bounds at the counts measured when they were set.
FLAGSHIP_MAX = 142
NODES_IN_POLYGONS_MAX = 52
WITH_CELL_MAX = 11
TRIANGLE_CENSUS_MAX = 305
PAGERANK_ROUND_MAX = 167
KNN_EXPAND_LEVEL_MAX = 214


@contextlib.contextmanager
def py4j_commands():
    """Collect every py4j command sent in the block, releases left out."""
    sent: list[str] = []
    orig = ClientServerConnection.send_command

    def spy(self, command):
        if not command.startswith(_RELEASE):
            sent.append(command)
        return orig(self, command)

    ClientServerConnection.send_command = spy
    try:
        yield sent
    finally:
        ClientServerConnection.send_command = orig


def build_round_trips(build) -> int:
    """py4j commands one ``build()`` sends, after a warm-up call; two
    more builds must send the same number."""
    build()
    counts = []
    for _ in range(2):
        with py4j_commands() as sent:
            build()
        counts.append(len(sent))
    assert counts[0] == counts[1], counts
    return counts[0]


@pytest.fixture(scope="module")
def stored_pages(spark, tmp_path_factory):
    from osm_jl_spark import datagen as G

    p = str(tmp_path_factory.mktemp("plan_build") / "pages.parquet")
    G.load_pages(spark, 200).write.parquet(p)
    return spark.read.parquet(p)


def test_flagship_build_round_trips(spark, stored_pages):
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.pipeline import flagship

    n = build_round_trips(lambda: flagship(stored_pages, G.POLYGONS, 2))
    assert 0 < n <= FLAGSHIP_MAX, n


def test_nodes_in_polygons_build_round_trips(spark, stored_pages):
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.joins import nodes_in_polygons
    from osm_jl_spark.operators.pipeline import geoparse_points

    pts = geoparse_points(stored_pages)
    n = build_round_trips(lambda: nodes_in_polygons(pts, G.POLYGONS, 2))
    assert 0 < n <= NODES_IN_POLYGONS_MAX, n


def test_with_cell_build_round_trips(spark, stored_pages):
    from osm_jl_spark.functions.cells import with_cell
    from osm_jl_spark.operators.pipeline import geoparse_points

    pts = geoparse_points(stored_pages)
    n = build_round_trips(lambda: with_cell(pts, 2))
    assert 0 < n <= WITH_CELL_MAX, n


def test_triangle_census_build_round_trips(spark):
    """The build runs one job, the oriented edges' localCheckpoint;
    its round trips are counted too."""
    from osm_jl_spark.operators.links import triangle_census

    edges = spark.createDataFrame(
        [(f"v{i % 7}", f"v{(i * 3) % 7}") for i in range(20)],
        "a STRING, b STRING",
    )
    n = build_round_trips(lambda: triangle_census(edges))
    assert 0 < n <= TRIANGLE_CENSUS_MAX, n


def test_pagerank_round_build_round_trips(spark, monkeypatch):
    """One pagerank_scaled round (PAGERANK_ITERS patched to 1): the
    degree join, one contribution join and sum, and the round's lazy
    localCheckpoint, which runs no job."""
    from osm_jl_spark.operators import links

    monkeypatch.setattr(links, "PAGERANK_ITERS", 1)
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 7) for i in range(7)], "src LONG, dst LONG"
    )
    nodes = spark.createDataFrame([(i,) for i in range(7)], "node LONG")
    n = build_round_trips(lambda: links.pagerank_scaled(edges, nodes))
    assert 0 < n <= PAGERANK_ROUND_MAX, n


def test_knn_expand_level_build_round_trips(spark):
    """One kNN level at the registered k and first precision (5, 3).
    The build runs one job, the level's localCheckpoint; its round
    trips are counted too."""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators import knn

    pts = G.load_nodes(spark, 200).select("id", "lon", "lat").cache()
    queries = pts.filter("id <= 8").selectExpr(
        "id AS query_id", "lon + 0.001 AS qlon", "lat + 0.001 AS qlat"
    )
    n = build_round_trips(lambda: knn._expand_level(pts, queries, 5, 3, []))
    pts.unpersist()
    assert 0 < n <= KNN_EXPAND_LEVEL_MAX, n


def test_call_site_capture_off_sql_errors_keep_fragment(spark):
    """Call-site capture (spark.python.sql.dataFrameDebugging.enabled)
    is off in get_spark. An ANSI failure raised from SQL text must still
    name its fragment: the parser records the text's origin on the JVM
    side, whatever Python captures."""
    from pyspark.errors import PySparkException
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F

    assert not is_debugging_enabled()
    df = spark.createDataFrame([("x",)], "s STRING")
    for bad, fragment in (
        (df.selectExpr("CAST(s AS INT) AS v"), "CAST(s AS INT)"),
        (df.select(F.expr("CAST(s AS INT)").alias("v")), "CAST(s AS INT)"),
        (spark.range(1).selectExpr("CAST('x' AS INT) AS v"),
         "CAST('x' AS INT)"),
    ):
        with pytest.raises(PySparkException) as err:
            bad.collect()
        assert "CAST_INVALID_INPUT" in str(err.value)
        assert fragment in str(err.value), str(err.value)

"""Physical-plan regression tests — pin the scale-critical plan shapes.

Correctness tests prove the operators compute the right rows; these
prove Catalyst plans them the way a 100 TB / 1000-executor run needs:
column pruning at the scan, broadcast (not shuffle) dimension joins,
pandas UDFs only where declared, and no surplus exchanges. If a
refactor silently turns the cover join into a sort-merge join or drags
the html binary column through the geoparse scan, these fail before the
benchmark does.
"""

from __future__ import annotations

import math
import re
import sys
from pathlib import Path

import pytest

from osm_jl_spark.plans.digest import count_nodes, digest, explain


def filter_conditions(plan: str) -> list[str]:
    """The Condition of every Filter node in a formatted explain."""
    return re.findall(
        r"\(\d+\) Filter[^\n]*\nInput[^\n]*\nCondition : ([^\n]*)", plan
    )


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from osm_jl_spark import datagen as G

    p = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    G.load_pages(spark, 500).write.parquet(p)
    return p


def test_flagship_scan_prunes_html(spark, pages_parquet):
    """The pages scan must read only text — html is the bulk of the
    bytes at production scale and this query never needs it; the
    flagship aggregates counts only, so Catalyst prunes even url."""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.pipeline import flagship

    d = digest(flagship(spark.read.parquet(pages_parquet), G.POLYGONS, 2))
    assert d.read_schemas == ["struct<text:string>"], d.plan


def test_flagship_cover_join_broadcasts(spark, pages_parquet):
    """The polygon cell cover is a dimension table: it must broadcast.
    A SortMergeJoin here would shuffle the full fact table."""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.pipeline import flagship

    plan = explain(flagship(spark.read.parquet(pages_parquet), G.POLYGONS, 2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_zero_python_operators(spark, pages_parquet):
    """The entire flagship plan is Python-free: geoparse is a JVM
    regexp kernel and the exact PIP test is the unrolled per-edge sum
    over broadcast edge-slot columns — everything runs in whole-stage
    codegen. The references live in oracle.py and run only in tests."""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.pipeline import flagship

    d = digest(flagship(spark.read.parquet(pages_parquet), G.POLYGONS, 2))
    assert d.python_ops == 0, d.plan  # no row-at-a-time Python, ever
    # whole-stage codegen active: AQE only finalizes the plan on
    # execution, so run it and check the executed plan's '*(n)' marks
    fl = flagship(spark.read.parquet(pages_parquet), G.POLYGONS, 2)
    fl.collect()  # count() would be a different query execution
    executed = fl._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed, executed
    assert "*(" in executed, executed


def test_flagship_parses_and_encodes_once(spark, pages_parquet):
    """Per-point work runs compiled and runs once: geoparse has no
    higher-order lambda (the parsed doubles come out of the Generate),
    the cells are encoded by one Project that the tile aggregate reuses,
    and the cover with its edge slots is the one broadcast. The join's
    inferred isnotnull filters must read the Generate's struct fields —
    a Filter holding split( or a string->double cast would parse every
    coordinate a second time."""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.pipeline import flagship

    d = digest(flagship(spark.read.parquet(pages_parquet), G.POLYGONS, 2))
    assert "lambdafunction" not in d.plan, d.plan
    for c in ("cx", "cy"):
        assert len(re.findall(rf"\* 100\.0\) as bigint\) AS {c}#", d.plan)) == 1, d.plan
    assert d.broadcasts == 1, d.plan
    conditions = filter_conditions(d.plan)
    assert conditions, d.plan
    for cond in conditions:
        assert "split(" not in cond and "as double)" not in cond, cond


def test_bbox_is_pure_filter_no_shuffle(spark):
    """J6 bbox = native range filter on cell columns: no join, no
    exchange, no Python. On a cell-clustered production table this is
    partition pruning + row-group skipping. (The bbox_vitoria_nodes
    query also returns the ways, whose any-ref semi-join shuffles.)"""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.joins import extract_bbox

    c = G.counts_for_sf(0.001)
    inside, _ = extract_bbox(
        G.load_nodes(spark, c["nodes"]),
        G.load_ways(spark, c["ways"], c["nodes"]),
        G.VITORIA_UL, G.VITORIA_LR, 2,
    )
    d = digest(inside.select("id", "lon", "lat"))
    assert "Exchange" not in d.plan, d.plan
    assert d.python_ops == 0, d.plan


def test_tpch_q3_broadcasts_dimension_and_pushes_filters(spark):
    import __spark_entry__ as entry

    df = entry.queries()["tpch_q3"](spark, "/root/testdata/sf0.01")
    d = digest(df)
    assert "BroadcastHashJoin" in d.plan
    assert any("BUILDING" in p for p in d.pushed_filters), d.pushed_filters


def test_sessionize_single_exchange(spark):
    """lag + running-sum windows and the final groupBy all cluster by
    user_id — Catalyst must plan exactly ONE shuffle (hash partition on
    user_id satisfies the (user_id, session_id) aggregation too)."""
    import __spark_entry__ as entry

    df = entry.queries()["events_sessionize"](spark, SF)
    d = digest(df)
    # one hashpartitioning(user_id) exchange feeds BOTH windows and the
    # final (user_id, session_id) aggregate — hash on user_id satisfies
    # the clustered distribution of the superset key
    assert d.exchanges == 1, d.plan


def test_pip_no_fact_shuffle(spark):
    """nodes_in_polygons: the point side must reach the exact-PIP filter
    with ZERO exchanges — prefilter is a broadcast join — and the
    broadcast dimensions are local relations. The exact test is the
    codegen slot test whatever the polygon count, reading edge slots
    that ride the cover rows: ONE broadcast. Only a ring wider than
    geo.SLOT_LIMIT takes the interpreted edges-array fold and its
    second, polygon-keyed edge dimension."""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.functions import geo
    from osm_jl_spark.operators.joins import nodes_in_polygons

    pts = G.load_nodes(spark, 2000).select(
        "id", "lon", "lat"
    )
    d = digest(nodes_in_polygons(pts, G.POLYGONS, 2))
    # '(N) Exchange' does not match BroadcastExchange detail headers
    assert (d.exchanges, d.broadcasts) == (0, 1), d.plan
    assert "BroadcastHashJoin" in d.plan
    # the driver-built cover, edge slots included, ships as ONE Arrow
    # local relation, not a pickled RDD: the one broadcast leaf is a
    # LocalTableScan
    assert count_nodes(d.plan, "LocalTableScan") == 1, d.plan
    assert "Scan ExistingRDD" not in d.plan, d.plan
    # the slot test is a flat per-edge sum, not an interpreted fold
    assert "_e0_ax" in d.plan and "aggregate(" not in d.plan, d.plan

    # 99 polygons keep the slot test: its size follows the widest ring
    polys = dict(G.POLYGONS)
    polys.update({100 + p: r for p, r in G.polygon_grid().items()})
    d = digest(nodes_in_polygons(pts, polys, 2))
    assert (d.exchanges, d.broadcasts) == (0, 1), d.plan
    assert count_nodes(d.plan, "LocalTableScan") == 1, d.plan
    assert "Scan ExistingRDD" not in d.plan, d.plan
    assert "_e0_ax" in d.plan and "aggregate(" not in d.plan, d.plan

    # a 12-vertex ring is wider than geo.SLOT_LIMIT: the edges-array
    # fold, its edge dimension a local relation too
    wide = dict(G.POLYGONS)
    wide[200] = [
        (10.7 + 0.05 * math.cos(math.tau * i / 12),
         59.9 + 0.03 * math.sin(math.tau * i / 12))
        for i in range(12)
    ]
    assert len(wide[200]) > geo.SLOT_LIMIT
    d = digest(nodes_in_polygons(pts, wide, 2))
    assert (d.exchanges, d.broadcasts) == (0, 2), d.plan
    assert count_nodes(d.plan, "LocalTableScan") == 2, d.plan
    assert "Scan ExistingRDD" not in d.plan, d.plan
    assert "aggregate(" in d.plan and "_e0_ax" not in d.plan, d.plan

    # past spark.sql.execution.arrow.localRelationThreshold Spark turns
    # the Arrow tables into RDD scans on its own; the rows must not move
    rows = lambda: sorted(  # noqa: E731
        tuple(r) for r in nodes_in_polygons(pts, polys, 2).collect()
    )
    want = rows()
    key = "spark.sql.execution.arrow.localRelationThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        assert "Scan ExistingRDD" in explain(nodes_in_polygons(pts, polys, 2))
        assert rows() == want and want
    finally:
        spark.conf.set(key, old)


def test_pip_broadcast_dimensions_are_not_null(spark):
    """Every broadcast dimension nodes_in_polygons builds (the cover
    with its edge slots, the range rows, the fold's edges) declares
    every field NOT NULL, nested ones included, so the join and the
    exact test compile without null branches."""
    from unittest import mock

    from pyspark.sql.types import ArrayType, StructType

    from osm_jl_spark import datagen as G
    from osm_jl_spark.functions import geo
    from osm_jl_spark.operators import joins as J

    def nullable(t):
        if isinstance(t, StructType):
            return [f.name for f in t.fields if f.nullable] + [
                n for f in t.fields for n in nullable(f.dataType)]
        if isinstance(t, ArrayType):
            return ["element"] * t.containsNull + nullable(t.elementType)
        return []

    dims = []
    real = J._local_table

    def spy(*args):
        dims.append(real(*args))
        return dims[-1]

    pts = G.load_nodes(spark, 200).select("id", "lon", "lat")
    with mock.patch.object(J, "_local_table", spy):
        J.nodes_in_polygons(pts, G.POLYGONS, 2)  # slot cover
        with mock.patch.object(geo, "SLOT_LIMIT", 0):
            J.nodes_in_polygons(pts, G.POLYGONS, 2)  # cover + edges
        with mock.patch.object(geo, "COVER_BUDGET", 1):
            J.nodes_in_polygons(pts, G.POLYGONS, 2)  # range rows
    assert len(dims) == 4
    for dim in dims:
        assert nullable(dim.schema) == [], dim.schema.simpleString()


def test_pack_sequences_global_window_bounded_to_buckets(spark):
    """pack_sequences' whole point (VERDICT r2 #5): the only
    single-partition window is the exclusive prefix over the B-row
    bucket table — the CORPUS running sum must be partitioned by
    bucket, so no plan node ever pulls the whole relation through one
    task as the naive global-window spelling would."""
    from osm_jl_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(SF + "/documents.parquet").selectExpr(
        "doc_id", "text"
    )
    plan = explain(pack_sequences(docs, budget=2048))
    # exactly ONE SinglePartition exchange: the bucket-table prefix
    # (its input is the PACK_BUCKETS-row groupBy("bucket") aggregate)
    single = re.findall(r"Arguments: SinglePartition", plan)
    assert len(single) == 1, plan
    # the corpus-side window sorts WITHIN hashpartitioning(bucket) —
    # the unbounded running sum over docs has a partition key
    assert re.search(r"hashpartitioning\(bucket", plan), plan
    # the md5 rank key is computed once per doc: the join's inferred
    # isnotnull(bucket) Filter reads it, it does not re-run md5
    conditions = filter_conditions(plan)
    assert conditions, plan
    assert not [c for c in conditions if "md5(" in c], plan


def test_minhash_signatures_zero_shuffle(spark):
    """Round-3's biggest scale win, pinned (VERDICT r3 #4): MinHash
    signatures are a pure NARROW map (array_min over transform) — the
    explode+collect_list formulation they replaced shuffled num_hashes
    longs PER SHINGLE (~300 GB at 8M docs, ~37 TB at 10^9). Zero
    Exchange nodes, zero Python, or the regression has come back."""
    from osm_jl_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(SF + "/documents.parquet").selectExpr(
        "doc_id", "text"
    )
    d = digest(minhash_signatures(docs))
    assert (d.exchanges, d.broadcasts, d.python_ops) == (0, 0, 0), d.plan


def test_simhash_signatures_zero_shuffle(spark):
    """Same pin for SimHash: the 64-long vote fold runs where the text
    already is — the old explode x 64-bit-positions spelling exchanged
    ~1 KB per document through two shuffles."""
    from osm_jl_spark.operators.dedup import simhash_signatures

    docs = spark.read.parquet(SF + "/documents.parquet").selectExpr(
        "doc_id", "text"
    )
    d = digest(simhash_signatures(docs))
    assert (d.exchanges, d.broadcasts, d.python_ops) == (0, 0, 0), d.plan


def test_line_dedup_two_uniform_shuffles_hot_dim_broadcasts(spark):
    """line_dedup's scale contract: exactly TWO exchanges — the
    map-side-combinable line-hash count (array_distinct BEFORE the
    explode, so no count_distinct expand) and the in-order reassembly
    groupBy on the doc id. The hot-line dim must BROADCAST, never
    shuffle the exploded corpus for the anti-membership test."""
    import __spark_entry__ as entry

    df = entry.queries()["line_dedup"](spark, SF.replace("0.001", "0.01"))
    d = digest(df)
    assert (d.exchanges, d.python_ops) == (2, 0), d.plan
    assert "BroadcastHashJoin" in d.plan, d.plan
    assert "SortMergeJoin" not in d.plan, d.plan


def test_window_dup_stats_two_uniform_shuffles(spark):
    """duplicated_window_stats' scale contract mirrors line_dedup:
    window hashes are array_distinct'd map-side BEFORE the explode
    (narrow map — no per-window shuffle of text), so exactly TWO
    exchanges survive: the uniform-key document-frequency count and
    the per-doc regroup of (id, hash) pairs. The hot-window dim must
    join back as a broadcast, and nothing drops to Python."""
    from osm_jl_spark.operators.dedup import duplicated_window_stats

    docs = spark.read.parquet(SF + "/documents.parquet").selectExpr(
        "doc_id", "text"
    )
    d = digest(duplicated_window_stats(docs))
    assert (d.exchanges, d.python_ops) == (2, 0), d.plan
    assert "BroadcastHashJoin" in d.plan, d.plan
    assert "SortMergeJoin" not in d.plan, d.plan


def test_way_lengths_no_extra_exchange(spark):
    """way_lengths rides the single J1 waynodes shuffle: the haversine
    and the in-order fold are post-join array math, so the plan must
    show exactly ONE Exchange (the regroup) and no window/sort over
    node sequences."""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.joins import way_lengths

    nodes = G.load_nodes(spark, 2000)
    ways = G.load_ways(spark, 400, 2000)
    d = digest(way_lengths(ways, nodes))
    assert (d.exchanges, d.python_ops) == (1, 0), d.plan
    assert count_nodes(d.plan, "Window") == 0, d.plan


def test_quadkey_tiles_one_shuffle_codegen_interleave(spark):
    """quadkey_tiles: the z/x/y arithmetic + unrolled bit-interleave
    stay in the scan-side codegen stage, leaving ONE map-side-
    combinable exchange on the quadkey; no Python anywhere."""
    import __spark_entry__ as entry

    df = entry.queries()["quadkey_tiles"](spark, SF)
    d = digest(df)
    assert (d.exchanges, d.python_ops) == (1, 0), d.plan


def test_window_dedup_clean_three_uniform_shuffles(spark):
    """remove_duplicated_windows' scale contract: THREE exchanges (df
    count, per-doc hot-array regroup, text join on the doc id), the
    hot-window dim as a broadcast, and the cut itself a pure narrow
    map — no Python, no window, no sort-merge."""
    from osm_jl_spark.operators.dedup import remove_duplicated_windows

    docs = spark.read.parquet(SF + "/documents.parquet").selectExpr(
        "doc_id", "text"
    )
    d = digest(remove_duplicated_windows(docs))
    assert d.exchanges <= 3, d.plan
    assert "BroadcastHashJoin" in d.plan, d.plan
    assert d.python_ops == 0, d.plan


def test_asof_join_single_exchange(spark):
    """asof_join's scale contract: the union + keyed window scan costs
    exactly ONE exchange (hash on the join key) — never a sort-merge
    or range join that materializes candidate pairs — and no Python."""
    from pyspark.sql import functions as F

    from osm_jl_spark.operators.temporal import asof_join

    left = spark.range(100).select(
        (F.col("id") % 10).alias("k"),
        F.col("id").alias("ts"),
        F.col("id").alias("lid"),
    )
    right = spark.range(20).select(
        (F.col("id") % 10).alias("k"),
        (F.col("id") * 3).alias("ts2"),
        F.col("id").alias("val"),
    )
    d = digest(asof_join(left, right, on="k", left_ts="ts",
                             right_ts="ts2"))
    assert (d.exchanges, d.python_ops) == (1, 0), d.plan
    assert "SortMergeJoin" not in d.plan and "CartesianProduct" not in d.plan


def test_gopher_quality_zero_shuffle(spark):
    """The Gopher ruleset is a pure narrow map: zero exchanges, zero
    Python — every signal fuses into one scan-side projection."""
    from osm_jl_spark.operators.quality import gopher_quality

    docs = spark.read.parquet(SF + "/documents.parquet").selectExpr(
        "doc_id", "text"
    )
    d = digest(gopher_quality(docs))
    assert (d.exchanges, d.broadcasts, d.python_ops) == (0, 0, 0), d.plan
    # column pruning: only (doc_id, text) leave the scan
    assert d.read_schemas and "lang" not in d.read_schemas[0], d.plan


def test_blocklist_filter_broadcasts_dimension(spark):
    """The blocklist is a dimension: BroadcastHashJoin, zero shuffles
    of the fact side, keyword predicates fused into the projection."""
    from pyspark.sql import functions as F

    from osm_jl_spark.operators.web import blocklist_filter

    docs = spark.read.parquet(SF + "/documents.parquet").selectExpr(
        "doc_id", "source AS host", "text"
    )
    bl = spark.createDataFrame(
        [("src1", "badlist")], "host STRING, reason STRING"
    )
    d = digest(blocklist_filter(
        docs, bl, keyword_rules=[("kw", F.col("text").contains("x"))],
    ))
    # the ONE exchange is the dimension-side reason-dedup groupBy
    # (bounded by blocklist size); the fact side never shuffles
    assert d.exchanges <= 1, d.plan
    assert "BroadcastHashJoin" in d.plan, d.plan
    assert "SortMergeJoin" not in d.plan, d.plan
    assert d.python_ops == 0, d.plan


def test_domain_cap_two_uniform_exchanges(spark):
    """domain_cap's skew contract: two exchanges — (host, shard) then
    host over the capped survivors — and no single skewed sort."""
    from osm_jl_spark.operators.web import domain_cap

    docs = spark.read.parquet(SF + "/documents.parquet").selectExpr(
        "doc_id", "source AS host"
    )
    d = digest(domain_cap(docs, max_per_host=3))
    assert (d.exchanges, d.python_ops) == (2, 0), d.plan


def test_doc_repetition_two_exchanges(spark):
    """doc_repetition: explode + two map-side-combinable aggs — two
    exchanges, both keyed by doc id (no hot keys), zero Python."""
    from osm_jl_spark.operators.quality import doc_repetition

    docs = spark.read.parquet(SF + "/documents.parquet").selectExpr(
        "doc_id", "text"
    )
    d = digest(doc_repetition(docs))
    assert (d.exchanges, d.python_ops) == (2, 0), d.plan


def test_fetch_schedule_two_exchanges_one_window(spark):
    """fetch_schedule's scale contract: ONE min-combine exchange for
    the frontier dedup plus ONE window exchange per host — nothing
    else, no join, no Python."""
    from pyspark.sql import Row

    from osm_jl_spark.operators.web import fetch_schedule

    fr = spark.createDataFrame(
        [Row(url=f"h{i % 3}.net/{i}", host=f"h{i % 3}.net", priority=i)
         for i in range(30)]
    )
    d = digest(fetch_schedule(fr))
    assert (d.exchanges, d.python_ops) == (2, 0), d.plan
    assert count_nodes(d.plan, "Window") == 1, d.plan
    assert "SortMergeJoin" not in d.plan, d.plan


def test_triangle_census_no_cartesian_no_python(spark):
    """triangle_census closes wedges with equi-joins only: whatever
    join strategy AQE picks per scale, there must never be a
    cartesian product, a nested loop, or Python in the plan."""
    from pyspark.sql import Row

    from osm_jl_spark.operators.links import triangle_census

    ed = spark.createDataFrame(
        [Row(a=f"v{i % 7}", b=f"v{(i * 3) % 7}") for i in range(20)]
    )
    d = digest(triangle_census(ed))
    assert "CartesianProduct" not in d.plan, d.plan
    assert "BroadcastNestedLoopJoin" not in d.plan, d.plan
    assert d.python_ops == 0, d.plan


def test_host_triangles_reads_oriented_edges_once(spark):
    """triangle_census materialises its oriented edge list once
    (localCheckpoint) and reads it three times, so the registered
    query's plan holds only the wedge join, the closing semi-join and
    the count: 5 exchanges (56 with the oriented lineage inlined into
    each read)."""
    import __spark_entry__ as entry

    d = digest(entry.queries()["host_triangles"](spark, SF))
    assert d.exchanges == 5, d.plan


def test_route_lengths_single_waynodes_shuffle_chain(spark):
    """route_lengths rides way_lengths' one J1 join + regroup and adds
    only the member explode + one reassembly aggregate — and never a
    Python operator (the haversine fold is native array math)."""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.joins import route_lengths

    nodes = G.load_nodes(spark, 200)
    ways = G.load_ways(spark, 60, 200)
    rels = G.load_relations(spark, 30, 60, 200)
    d = digest(route_lengths(rels, ways, nodes))
    assert d.python_ops == 0, d.plan
    assert "CartesianProduct" not in d.plan, d.plan


def test_plans_md_lists_exactly_the_audited_plans():
    """PLANS.md has one row per audited plan, in audit order: a plan
    added to tools/plan_audit.py without regenerating the file fails
    here. A why-text that states ``(N exchanges)`` states its row's
    exchange count."""
    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "tools"))
    from plan_audit import AUDITED

    rows = [line[2:].split(" | ")
            for line in (repo / "PLANS.md").read_text().splitlines()
            if line.startswith("| ")]
    assert [r[0] for r in rows[1:]] == [
        "flagship (stored pages table)", "write_jsonl (GeoJSON sink)",
        *(name for name, _ in AUDITED)]
    for cells in rows[1:]:
        stated = re.findall(r"\((\d+) exchanges?\)", cells[-1])
        assert all(int(n) == int(cells[1]) for n in stated), cells[0]


def test_python_operators_are_perfbench_python_operators():
    """The digest and perfbench's event-log parser name the same nodes
    Python operators."""
    from osm_jl_spark.plans import digest as D
    from perfbench import tracing

    assert D.PYTHON_OPS == tracing.PYTHON_OPS

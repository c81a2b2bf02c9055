"""Join operators J1-J6 against brute-force Python on the generated
tables (order preservation, dangling-ref semantics, bbox pruning
semantics, polygon way extraction)."""

from pyspark.sql import functions as F

from osm_jl_spark.datagen import (
    FROGNER,
    VITORIA_LR,
    VITORIA_UL,
    load_nodes,
    load_relations,
    load_ways,
)
from osm_jl_spark.operators import joins as J
from osm_jl_spark.oracle import cell_of, point_in_polygon

M = 500
W = 80
R = 30


def _node_map(spark):
    return {
        r["id"]: (r["lon"], r["lat"])
        for r in load_nodes(spark, M).collect()
    }


def test_waynodes_order_and_dangling(spark):
    ways = load_ways(spark, W, M)
    nodes = load_nodes(spark, M)
    wn = J.waynodes(ways, nodes).collect()
    refs = {r["id"]: r["node_refs"] for r in ways.collect()}
    nmap = _node_map(spark)
    got = {}
    for r in wn:
        got.setdefault(r["way_id"], []).append((r["pos"], r["node_id"]))
    for wid, reflist in refs.items():
        want = [
            (i + 1, ref) for i, ref in enumerate(reflist) if ref in nmap
        ]  # dangling refs drop (inner join)
        assert sorted(got.get(wid, [])) == want, wid
    # at least one dangling way exists in the fixture
    assert any(
        any(ref not in nmap for ref in reflist) for reflist in refs.values()
    )


def test_way_geometries_ordered(spark):
    ways = load_ways(spark, W, M)
    nodes = load_nodes(spark, M)
    geo = {r["way_id"]: r["coords"] for r in J.way_geometries(ways, nodes).collect()}
    nmap = _node_map(spark)
    for r in ways.collect():
        want = [nmap[ref] for ref in r["node_refs"] if ref in nmap]
        got = [(c["lon"], c["lat"]) for c in geo.get(r["id"], [])]
        assert got == want, r["id"]


def test_nodes_for_ways_semi(spark):
    ways = load_ways(spark, W, M).filter(F.col("id") <= 20)
    nodes = load_nodes(spark, M)
    got = {r["id"] for r in J.nodes_for_ways(nodes, ways).collect()}
    want = set()
    nmap = _node_map(spark)
    for r in ways.collect():
        want |= {ref for ref in r["node_refs"] if ref in nmap}
    assert got == want


def test_ways_in_polygon(spark):
    ways = load_ways(spark, W, M)
    nodes = load_nodes(spark, M)
    got = {r["id"] for r in J.ways_in_polygon(ways, nodes, FROGNER).collect()}
    nmap = _node_map(spark)
    inside = {
        nid for nid, (lon, lat) in nmap.items()
        if point_in_polygon(lon, lat, FROGNER)
    }
    want = {
        r["id"]
        for r in ways.collect()
        if any(ref in inside for ref in r["node_refs"])
    }
    assert got == want


def test_extract_bbox(spark):
    nodes = load_nodes(spark, M)
    ways = load_ways(spark, W, M)
    in_nodes, in_ways = J.extract_bbox(nodes, ways, VITORIA_UL, VITORIA_LR, 2)
    nmap = _node_map(spark)
    from osm_jl_spark.functions.cells import bbox_cell_range

    xlo, xhi, ylo, yhi = bbox_cell_range(VITORIA_UL, VITORIA_LR, 2)
    want_nodes = {
        nid
        for nid, (lon, lat) in nmap.items()
        if xlo <= cell_of(lon, lat, 2)[0] <= xhi
        and ylo <= cell_of(lon, lat, 2)[1] <= yhi
    }
    assert {r["id"] for r in in_nodes.collect()} == want_nodes
    want_ways = {
        r["id"]
        for r in ways.collect()
        if any(ref in want_nodes for ref in r["node_refs"])
    }
    assert {r["id"] for r in in_ways.collect()} == want_ways
    assert want_nodes and want_ways


def test_relation_members_and_ismember(spark):
    rels = load_relations(spark, R, W, M)
    mem = J.relation_members_exploded(rels).collect()
    raw = {r["id"]: r["members"] for r in rels.collect()}
    got = {}
    for r in mem:
        got.setdefault(r["relation_id"], []).append(
            (r["pos"], r["ref"], r["type"], r["role"])
        )
    for rid, members in raw.items():
        want = [
            (i + 1, m["ref"], m["type"], m["role"])
            for i, m in enumerate(members)
        ]
        assert sorted(got.get(rid, [])) == want
    # ismember: relations containing node refs <= 50
    ids = spark.createDataFrame([(i,) for i in range(1, 51)], "id BIGINT")
    got_rel = {r["id"] for r in J.ismember(rels, ids, "node").collect()}
    want_rel = {
        rid
        for rid, members in raw.items()
        if any(m["type"] == "node" and m["ref"] <= 50 for m in members)
    }
    assert got_rel == want_rel

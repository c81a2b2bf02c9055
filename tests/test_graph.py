"""Graph operators (operators/graph.py): edge construction semantics
against a hand-built fixture, and multi-source BFS hop distances
against a pure-Python BFS oracle on the generated ways table.

The reference declares routing (src/OSM.jl `path`) but ships an empty
stub; these tests pin the engine's BFS primitive instead.
"""

from collections import deque

from pyspark.sql import functions as F

from osm_jl_spark.datagen import load_ways
from osm_jl_spark.operators import graph
from osm_jl_spark.operators.graph import bfs_hops, way_edges

W = 120
M = 600


def _fixture_ways(spark):
    # way 1: open path a-b-c; way 2: closed ring d-e-f-d (not a
    # road: excluded); way 3: invisible (excluded); way 4: self-loop edge
    rows = [
        (1, True, [10, 11, 12]),
        (2, True, [20, 21, 22, 20]),
        (3, False, [30, 31]),
        (4, True, [40, 40, 41]),
    ]
    return spark.createDataFrame(
        rows, "id LONG, visible BOOLEAN, node_refs ARRAY<LONG>"
    )


def test_way_edges_semantics(spark):
    edges = way_edges(_fixture_ways(spark))
    got = sorted(map(tuple, edges.collect()))
    # open way 1 contributes both directions; closed way 2 and
    # invisible way 3 are dropped; way 4's self-loop pair (40,40) is
    # dropped but its real edge kept
    assert got == sorted(
        [(10, 11), (11, 10), (11, 12), (12, 11), (40, 41), (41, 40)]
    )


def _python_bfs(adj, sources, max_hops):
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        u = q.popleft()
        if dist[u] == max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def test_bfs_hops_matches_python_oracle(spark, monkeypatch):
    ways = load_ways(spark, W, M)
    edges = way_edges(ways)
    # python-side adjacency from the same edge definition
    adj = {}
    for s, d in edges.collect():
        adj.setdefault(s, set()).add(d)
    srcs = [
        r["node"]
        for r in ways.filter(F.col("visible"))
        .filter(F.col("id") % 7 == 0)
        .select(F.element_at("node_refs", 1).cast("long").alias("node"))
        .distinct()
        .collect()
    ]
    assert srcs, "fixture must yield at least one source"
    want = _python_bfs(adj, srcs, max_hops=5)

    monkeypatch.setattr(graph, "BFS_MAX_HOPS", 5)
    out = bfs_hops(
        edges, spark.createDataFrame([(s,) for s in srcs], "node LONG")
    )
    got = {r["node"]: r["dist"] for r in out.collect()}
    assert got == want


def test_bfs_early_termination(spark, monkeypatch):
    # two isolated edges: BFS from one endpoint exhausts in 1 hop and
    # must stop well before BFS_MAX_HOPS without error
    monkeypatch.setattr(graph, "BFS_MAX_HOPS", 50)
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (8, 9), (9, 8)], "src LONG, dst LONG"
    )
    out = bfs_hops(edges, spark.createDataFrame([(1,)], "node LONG"))
    assert sorted(map(tuple, out.select("node", "dist").collect())) == [
        (1, 0),
        (2, 1),
    ]


def test_connected_components_min_label(spark):
    # two chains and a triangle; labels must be the min id per
    # component, and a 5-node path needs several propagation rounds
    from osm_jl_spark.operators.graph import connected_components

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5),  # path, diameter 4
             (10, 11), (11, 12), (12, 10),     # triangle
             (20, 21)]                         # single edge
    e = spark.createDataFrame(pairs, "src LONG, dst LONG")
    edges = e.union(e.selectExpr("dst AS src", "src AS dst"))
    got = {r["node"]: r["comp"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_vs_python_union_find(spark):
    # randomized-ish fixture (deterministic seed via modular arith)
    # checked against a pure-Python union-find oracle
    from osm_jl_spark.operators.graph import connected_components

    pairs = [((i * 7919) % 97, (i * 104729) % 97) for i in range(60)]
    pairs = [(a, b) for a, b in pairs if a != b]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    e = spark.createDataFrame(pairs, "src LONG, dst LONG")
    edges = e.union(e.selectExpr("dst AS src", "src AS dst"))
    got = {r["node"]: r["comp"]
           for r in connected_components(edges).collect()}
    assert got == want


def test_shortest_paths_vs_python_dijkstra(spark, monkeypatch):
    # weighted diamond + chain; checked against a pure-Python
    # Dijkstra oracle (weights integer, graph symmetric)
    import heapq

    from osm_jl_spark.operators.graph import shortest_paths

    wedges = [(1, 2, 4), (1, 3, 1), (3, 2, 1), (2, 4, 5),
              (3, 4, 10), (4, 5, 1), (6, 7, 2)]
    sym = wedges + [(b, a, w) for a, b, w in wedges]
    adj = {}
    for a, b, w in sym:
        adj.setdefault(a, []).append((b, w))
    want, pq = {}, [(0, 1), (0, 6)]
    while pq:
        d, n = heapq.heappop(pq)
        if n in want:
            continue
        want[n] = d
        for m, w in adj.get(n, []):
            if m not in want:
                heapq.heappush(pq, (d + w, m))

    e = spark.createDataFrame(sym, "src LONG, dst LONG, w LONG")
    s = spark.createDataFrame([(1,), (6,)], "node LONG")
    monkeypatch.setattr(graph, "SSSP_MAX_HOPS", 10)
    got = {r["node"]: r["dist"]
           for r in shortest_paths(e, s).collect()}
    assert got == want


def test_shortest_paths_hop_bound(spark, monkeypatch):
    # a 2-hop cheap detour vs a 1-hop expensive edge: with
    # SSSP_MAX_HOPS=1 only the direct edge is reachable; with 2 the
    # detour wins — pins the "min over walks of <= H edges" contract
    from osm_jl_spark.operators.graph import shortest_paths

    e = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 1), (3, 2, 1)], "src LONG, dst LONG, w LONG"
    )
    s = spark.createDataFrame([(1,)], "node LONG")
    monkeypatch.setattr(graph, "SSSP_MAX_HOPS", 1)
    one = {r["node"]: r["dist"]
           for r in shortest_paths(e, s).collect()}
    monkeypatch.setattr(graph, "SSSP_MAX_HOPS", 2)
    two = {r["node"]: r["dist"]
           for r in shortest_paths(e, s).collect()}
    assert one == {1: 0, 2: 10, 3: 1}
    assert two == {1: 0, 2: 2, 3: 1}

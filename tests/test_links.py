"""Link-graph operators (operators/links.py): extraction ground truth,
PageRank exactness, dangling-mass semantics, and the zero-exchange
extraction plan pin."""

from __future__ import annotations

import pyspark.sql.functions as F

from osm_jl_spark import datagen as G
from osm_jl_spark.operators import links as L
from osm_jl_spark.operators.links import (
    extract_links,
    host_in_links,
    pagerank,
    pagerank_scaled,
)
from osm_jl_spark.plans.digest import digest

N = 60


def _graph(spark):
    pages = G.load_pages(spark, N)
    links = extract_links(pages)
    edges = links.select(
        F.regexp_extract("url", r"/p/([0-9]+)$", 1).cast("long").alias("src"),
        F.regexp_extract("href", r"/d/([0-9]+)$", 1).cast("long").alias("dst"),
    )
    nodes = pages.select(
        F.regexp_extract("url", r"/p/([0-9]+)$", 1).cast("long").alias("node")
    )
    return pages, links, edges, nodes


def test_extract_links_matches_datagen_ground_truth(spark):
    """The regex extractor must recover exactly the anchors load_pages
    embedded — compared against the pages_links rule replayed in Spark
    SQL (the same arithmetic the DuckDB oracle uses)."""
    _, links, _, _ = _graph(spark)
    got = sorted(
        (r["url"], r["link_idx"], r["href"], r["dst_host"])
        for r in links.collect()
    )
    truth = spark.sql(
        f"WITH {G.pages_ctes('spark', N)} "
        "SELECT url, link_idx, href, dst_host FROM pages_links"
    )
    want = sorted(
        (r["url"], r["link_idx"], r["href"], r["dst_host"])
        for r in truth.collect()
    )
    assert got == want
    # docs have 0-2 links; the multiset is non-trivial in both dirs
    assert len(want) > N // 2


def test_extract_links_is_narrow_zero_exchange(spark, tmp_path):
    """Extraction is a scan -> generate -> project narrow map: zero
    exchanges, zero Python. One pass over the html column at 10^12
    docs — the property that makes link analysis affordable at all.
    Pages come from PARQUET (the production shape; the synthetic
    generator's own group-by would pollute the plan)."""
    path = str(tmp_path / "pages.parquet")
    G.load_pages(spark, 20).write.parquet(path)
    d = digest(extract_links(spark.read.parquet(path)))
    assert (d.exchanges, d.broadcasts, d.python_ops) == (0, 0, 0), d.plan


def test_host_in_links_counts(spark):
    _, links, _, _ = _graph(spark)
    census = {r["dst_host"]: (r["n_links"], r["n_src_docs"])
              for r in host_in_links(links).collect()}
    raw = [(r["dst_host"], r["url"]) for r in links.collect()]
    assert sum(v[0] for v in census.values()) == len(raw)
    for host, (n_links, n_src) in census.items():
        mine = [u for h, u in raw if h == host]
        assert n_links == len(mine)
        assert n_src == len(set(mine))


def test_pagerank_scaled_equals_float_at_damping_half(spark):
    """pagerank_scaled is an exact integer replica of pagerank at
    damping 1/2: rank = r_scaled / (N * 4^iters) to fp precision."""
    _, _, edges, nodes = _graph(spark)
    exact = {r["node"]: r["r"]
             for r in pagerank_scaled(edges, nodes).collect()}
    fl = pagerank(edges, nodes, N, iters=L.PAGERANK_ITERS, damping=0.5)
    scale = N * 4 ** L.PAGERANK_ITERS
    for row in fl.collect():
        assert abs(exact[row["node"]] / scale - row["r"]) < 1e-12
    assert len(exact) == N


def test_pagerank_dangling_mass_drops(spark):
    """Docs with out-degree 0 drop their mass (documented semantics):
    total scaled rank is strictly below the no-dangling invariant
    N * 4^t, and every node keeps at least the teleport floor."""
    _, _, edges, nodes = _graph(spark)
    n_dangling = N - edges.select("src").distinct().count()
    assert n_dangling > 0  # dh % 3 == 0 docs exist at N=60
    rows = pagerank_scaled(edges, nodes).collect()
    total = sum(r["r"] for r in rows)
    assert total < N * 64
    # teleport floor: 2*4^2 = 32 for the last iteration
    assert all(r["r"] >= 32 for r in rows)


def test_pagerank_sink_accumulates(spark):
    """A two-node chain a->b with b dangling: b's rank must exceed
    a's (it receives a's full contribution every iteration)."""
    edges = spark.createDataFrame([(0, 1)], "src LONG, dst LONG")
    nodes = spark.createDataFrame([(0,), (1,)], "node LONG")
    r = {row["node"]: row["r"]
         for row in pagerank_scaled(edges, nodes).collect()}
    # by hand: R0=(1,1); R1=(2, 2+2*1)=(2,4); R2=(8, 8+2*2)=(8,12);
    # R3=(32, 32+2*8)=(32,48)
    assert r == {0: 32, 1: 48}


def test_pagerank_scaled_rejects_outdegree_over_two(spark, monkeypatch):
    """The divides-2 precondition is enforced at execution: deg >= 3
    needs coefficient 2/deg (non-integer), so the coef expression
    raises instead of producing plausible wrong integers."""
    import pytest

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "src BIGINT, dst BIGINT"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 5)], "node BIGINT"
    )
    monkeypatch.setattr(L, "PAGERANK_ITERS", 1)
    with pytest.raises(Exception, match="out-degree"):
        pagerank_scaled(edges, nodes).collect()


def test_triangle_census_matches_naive(spark):
    """Degree-ordered orientation must count exactly what the naive
    O(V^3) enumeration counts — on a seeded random multigraph with
    self-loops, duplicates, and reversed edges thrown in."""
    import itertools
    import random

    from osm_jl_spark.operators.links import triangle_census

    rng = random.Random(7)
    verts = [f"v{i}" for i in range(30)]
    edges = [(rng.choice(verts), rng.choice(verts)) for _ in range(150)]
    und = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    adj: dict[str, set] = {}
    for x, y in und:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    naive: dict[str, int] = {}
    for x, y, z in itertools.combinations(
        sorted({v for e in und for v in e}), 3
    ):
        if (y in adj.get(x, ()) and z in adj.get(x, ())
                and z in adj.get(y, ())):
            for v in (x, y, z):
                naive[v] = naive.get(v, 0) + 1
    got = {r.host: r.n_triangles for r in triangle_census(
        spark.createDataFrame(edges, "a STRING, b STRING")).collect()}
    assert got == naive
    assert sum(naive.values()) > 0  # the graph actually has triangles


def test_triangle_census_numeric_vertices_match_naive(spark):
    """BIGINT vertex ids (the shape `_graph`'s edges have): no string
    comparison may touch them, and NULL endpoints still drop."""
    import itertools
    import random

    from osm_jl_spark.operators.links import triangle_census

    rng = random.Random(11)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(120)]
    und = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    naive: dict[int, int] = {}
    for tri in itertools.combinations(sorted({v for e in und for v in e}), 3):
        if all(p in und for p in itertools.combinations(tri, 2)):
            for v in tri:
                naive[v] = naive.get(v, 0) + 1
    got = {r.host: r.n_triangles for r in triangle_census(
        spark.createDataFrame(edges + [(None, 3), (4, None)],
                              "a BIGINT, b BIGINT")).collect()}
    assert got == naive
    assert sum(naive.values()) > 0


def test_triangle_census_known_graphs(spark):
    import itertools

    from osm_jl_spark.operators.links import triangle_census

    k4 = [(a, b) for a, b in
          itertools.combinations(["a", "b", "c", "d"], 2)]
    out = {r.host: r.n_triangles for r in triangle_census(
        spark.createDataFrame(k4, "a STRING, b STRING")).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}
    path = [("a", "b"), ("b", "c"), ("c", "d")]
    assert triangle_census(
        spark.createDataFrame(path, "a STRING, b STRING")).count() == 0


def test_hits_one_iteration_hand_computed(spark, monkeypatch):
    """Kleinberg update order on a 4-node graph, one iteration:
    a1 = in-degree, h1 = sum of fresh a1 over out-edges."""
    from osm_jl_spark.operators.links import hits_scores

    edges = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3)], "src BIGINT, dst BIGINT"
    )
    monkeypatch.setattr(L, "HITS_ITERS", 1)
    out = {r.node: (r.hub, r.auth)
           for r in hits_scores(edges).collect()}
    assert out == {1: (3, 0), 2: (2, 0), 3: (0, 2), 4: (0, 1)}


def test_hits_ranking_matches_normalized_reference(spark):
    """The integer scores must rank exactly like textbook-normalized
    HITS (normalization is a positive scalar per iteration) — checked
    against a NumPy implementation with L2 normalization on a seeded
    random graph."""
    import random

    import numpy as np

    from osm_jl_spark.operators.links import hits_scores

    rng = random.Random(3)
    n = 25
    edges = list({(rng.randrange(n), rng.randrange(n))
                  for _ in range(120)})
    edges = [(s, d) for s, d in edges if s != d]
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    h = np.ones(n)
    for _ in range(L.HITS_ITERS):
        a = A.T @ h
        a /= np.linalg.norm(a)
        h = A @ a
        h /= np.linalg.norm(h)
    got = {r.node: (r.hub, r.auth) for r in hits_scores(
        spark.createDataFrame(edges, "src BIGINT, dst BIGINT")).collect()}
    in_graph = sorted(got)
    by_hub_int = sorted(in_graph, key=lambda v: (-got[v][0], v))
    by_hub_ref = sorted(in_graph, key=lambda v: (-h[v], v))
    by_auth_int = sorted(in_graph, key=lambda v: (-got[v][1], v))
    by_auth_ref = sorted(in_graph, key=lambda v: (-a[v], v))
    assert by_hub_int == by_hub_ref
    assert by_auth_int == by_auth_ref

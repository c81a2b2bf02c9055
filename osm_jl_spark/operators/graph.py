"""Road-graph traversal — the reference's declared-but-empty routing
surface (src/OSM.jl's ``path`` stub is a no-op; SURVEY.md §2 notes it
as "correctly skipped"). The engine ships the primitive a router needs
first: multi-source BFS hop distance over the way graph, as an
ITERATIVE DataFrame algorithm (Pregel-style), because shortest-path is
the one OSM.jl capability that is genuinely non-SQL-single-pass.

Graph model (reference semantics):

- Vertices are node ids as they appear in way ``node_refs`` (dangling
  refs included — the graph is over refs, resolving coordinates is a
  separate join, src/OSM.jl:131).
- Edges are CONSECUTIVE ref pairs of each visible open way
  (``is_road`` = not closed, src/elements.jl:248-250), both
  directions. Built natively: slice/zip/explode, zero Python.

Scale design (the part that must survive 100 TB):

- Each BFS round is ONE shuffle join (frontier x edges) plus an
  anti-join against the visited set; frontier and visited live in
  DataFrames end to end. The driver sees only a 1-row emptiness probe
  per round — query-side state never serializes through the driver
  (same contract as operators/knn.py).
- ``localCheckpoint`` after every round truncates lineage, so plan
  size stays O(1) in rounds instead of O(2^rounds) — the classic
  iterative-join failure mode.
- At cluster scale, pre-partition ``edges`` by ``src`` (or bucket the
  stored edge table) so every round's join co-locates on the existing
  layout; AQE broadcasts the frontier while it is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_jl_spark.operators.elements import is_road

CC_MAX_ITER = 30  # connected_components label-propagation round cap
BFS_MAX_HOPS = 8  # bfs_hops reaches nodes at most this many edges out
SSSP_MAX_HOPS = 6  # shortest_paths' Bellman-Ford rounds (walk length cap)


def way_edges(ways: DataFrame) -> DataFrame:
    """Undirected edge list (src, dst) from consecutive refs of the
    visible open ways (the reference's road predicate).

    Native column ops only: zip node_refs with itself shifted by one,
    explode the pairs, mirror, distinct.
    """
    w = ways.filter(F.col("visible") & is_road())
    n = F.size("node_refs")
    pairs = w.select(
        F.explode(
            F.arrays_zip(
                F.slice("node_refs", 1, n - 1).alias("src"),
                F.slice("node_refs", 2, n - 1).alias("dst"),
            )
        ).alias("e")
    ).select(
        F.col("e.src").cast("long").alias("src"),
        F.col("e.dst").cast("long").alias("dst"),
    )
    return (
        pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def bfs_hops(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """Multi-source BFS: (node, dist) for every node within
    ``BFS_MAX_HOPS`` edges of any source node, dist = hop count to the
    NEAREST source (0 for the sources themselves).

    ``edges`` is a directed edge list (src, dst) — pass the output of
    :func:`way_edges` for undirected semantics. ``sources`` must have a
    ``node`` column. Equivalent to the DuckDB recursive-CTE oracle
    registered as ``bfs_hops`` in ``registry/osm.py``.
    """
    frontier = (
        sources.select(F.col("node").cast("long"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    visited = frontier
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
            .localCheckpoint()  # truncate lineage; materializes eagerly
        )
        if nxt.limit(1).count() == 0:  # scalar emptiness probe only
            break
        # plain union of checkpointed parts: lineage stays R shallow
        # leaves — no re-materialization of the whole visited set
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components: (node, comp) where ``comp`` is the
    minimum node id reachable from ``node`` — the canonical cluster
    label for near-duplicate grouping (every doc in a dup cluster maps
    to the cluster's smallest doc id).

    ``edges`` is a SYMMETRIC edge list (src, dst) — pass
    :func:`way_edges` output, or mirror directed pairs first. Only
    nodes that appear in an edge get a row (isolated nodes are the
    identity mapping; callers left-join them back if needed).

    Algorithm: Pregel-style min-label propagation. Each round every
    node takes the min of its own label and its neighbors' labels —
    one shuffle join + one groupBy per round, labels live in
    DataFrames end to end, the driver sees only a 1-row convergence
    probe, for at most ``CC_MAX_ITER`` rounds. Converges in
    O(component diameter) rounds, which is the
    right trade for near-dup graphs: LSH/jaccard clusters are small
    and dense (diameter a handful), so 3-5 rounds finish, each a
    plain shuffle that AQE sizes. For adversarially long path graphs
    the O(log^2 n) alternating large-star/small-star scheme (Kiveris
    et al., "Connected Components in MapReduce") drops in behind the
    same signature; the propagation loop is kept because its per-round
    cost is one join cheaper and near-dup diameters are bounded.

    ``localCheckpoint`` truncates lineage per round (same contract as
    :func:`bfs_hops`); at cluster scale pre-partition ``edges`` by
    ``src`` so every round's join co-locates on the stored layout.
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("comp", F.col("node")).localCheckpoint()
    for _ in range(CC_MAX_ITER):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"),
                    F.col("comp").alias("src_comp"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("src_comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"),
                    F.coalesce("nbr_comp", F.col("comp")),
                ).alias("comp"),
            )
            .localCheckpoint()  # truncate lineage; materializes eagerly
        )
        # convergence: did ANY label move this round? 1-row probe.
        moved = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if moved == 0:
            break
    return labels


def shortest_paths(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """Weighted single-source(-set) shortest paths: (node, dist) =
    minimum total edge weight over walks of at most ``SSSP_MAX_HOPS`` edges
    from any source — the routing core behind the reference's declared
    ``path`` surface (src/OSM.jl stub; :func:`bfs_hops` is the
    unweighted case).

    ``edges`` carries (src, dst, w); weights ``w`` must be
    non-negative (BIGINT recommended — integer sums are
    order-independent, which is what makes the result oracle-equal
    across engines; metre-valued haversine weights drop into the same
    column in production where cross-engine bit-parity is not a
    constraint).

    Algorithm: Bellman-Ford relaxation, one round per hop. After
    round r every node holds the exact min weight over walks of <= r
    edges, so running to ``SSSP_MAX_HOPS`` (>= graph diameter) is exact
    SSSP. Each round is one shuffle join (dist x edges) + one
    groupBy-min; distances stay in DataFrames end to end and the
    driver sees only a 1-row improvement probe, the same contract as
    :func:`bfs_hops` / :func:`connected_components`. Early exit when
    a round relaxes nothing. At cluster scale pre-partition ``edges``
    by ``src`` so every round's join co-locates; AQE broadcasts the
    distance frontier while it is small.
    """
    dist = (
        sources.select(F.col("node").cast("long"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    for _ in range(SSSP_MAX_HOPS):
        cand = (
            dist.join(edges, dist["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        new_dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()  # truncate lineage; materializes eagerly
        )
        # improvement probe: any node new or strictly closer? 1 row.
        improved = (
            new_dist.alias("n")
            .join(dist.alias("o"), "node", "left")
            .filter(
                F.col("o.dist").isNull()
                | (F.col("n.dist") < F.col("o.dist"))
            )
            .limit(1)
            .count()
        )
        dist = new_dist
        if improved == 0:
            break
    return dist

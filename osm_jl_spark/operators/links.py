"""Link-graph operators over the Common-Crawl-style pages table:
href extraction from raw html, a host-level in-link census, and
PageRank over the document link graph — the web-graph side of a
pretraining pipeline (link-based quality signals, crawl-frontier
ranking, spam-host discovery).

Extraction is a pure native column expression: ``regexp_extract_all``
over the decoded html binary — zero Python, zero exchanges, a narrow
map the parquet scan fuses into whole-stage codegen. At 10^12 docs the
extraction therefore costs exactly one pass over the html column with
no materialization; only the graph aggregations shuffle, and those
shuffle (src|dst|host) keys whose cardinality is the doc/host count,
not the link count, after map-side partial aggregation.

PageRank follows operators/graph.py's iterative-DataFrame pattern
(one join + one aggregation shuffle per iteration; the driver never
sees data, only the loop bound). Two variants:

- :func:`pagerank` — the general operator: float ranks, arbitrary
  damping, dangling mass dropped (see docstring).
- :func:`pagerank_scaled` — an EXACT integer-scaled replica for
  damping 1/2 on graphs whose out-degrees divide 2. Scaled ranks are
  integers, so the DuckDB oracle (unrolled iterations in
  ``registry/web.py:link_pagerank``) matches hash-exactly — no
  float repr hazard. tests/test_links.py pins the float variant to the
  scaled one on the synthetic graph.

The reference (ximonsson/OSM.jl) has no web layer; this module extends
the engine's input side per BASELINE.json's north rule (web pages at
10^12-document scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from osm_jl_spark.operators.web import url_host

# href attribute in double quotes — restricted to the Java/RE2-common
# regex subset (no lookarounds/backrefs) so a DuckDB oracle could
# re-extract identically if it chose to (ours reconstructs links
# arithmetically instead, which is stronger).
HREF_RE = r'href="([^"]*)"'

PAGERANK_ITERS = 3  # pagerank_scaled iterations: R grows as 4^iters
HITS_ITERS = 2  # hits_scores iterations: scores grow as degree^(2 iters)


def extract_links(pages: DataFrame) -> DataFrame:
    """All anchor hrefs per page: (url, link_idx, href, dst_host).

    ``link_idx`` is the 0-based position of the anchor within the
    document (posexplode), so downstream consumers can reason about
    link order (nav vs footer) without re-parsing. ``dst_host`` is the
    lowercased target host ('' for scheme-less hrefs).

    Plan shape: scan -> generate (posexplode) -> project. No exchange,
    no Python; pages with zero anchors disappear (posexplode, not
    posexplode_outer) — the link RELATION is what downstream graph ops
    consume, and a 0-link page contributes no edges.
    """
    hrefs = F.regexp_extract_all(
        F.col("html").cast("string"), F.lit(HREF_RE), F.lit(1)
    )
    out = pages.select(
        "url", F.posexplode(hrefs).alias("link_idx", "href")
    )
    return out.withColumn("dst_host", url_host(F.col("href")))


def host_in_links(links: DataFrame) -> DataFrame:
    """In-link census per target host: (dst_host, n_links,
    n_src_docs).

    One shuffle on dst_host with map-side partial aggregation; the
    distinct-source count adds Spark's expand-based partial distinct,
    still keyed on the same host column. Hot hosts (every page linking
    facebook.com) cost one partial row per input partition, not a
    skewed reduce — same argument as operators/web.py:domain_stats.
    """
    return links.groupBy("dst_host").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("url").alias("n_src_docs"),
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge multiset: (node, rank) doubles.

    ``edges`` has (src, dst) — parallel edges count multiply, exactly
    as repeated anchors do on the web. ``nodes`` has (node) and must
    cover every src/dst. ``n_nodes`` is passed in rather than counted
    so the operator stays a pure plan builder (no driver action).

    Dangling nodes (out-degree 0) DROP their mass each iteration
    instead of redistributing it — redistribution costs one extra
    global scalar aggregation per iteration, and for ranking (the web
    use case) the order statistics are unaffected at realistic
    dangling fractions. Documented, not hidden: total rank sums to
    < 1 when dangling nodes exist.

    Per iteration: one join shuffle on src + one aggregation shuffle
    on dst; both keys are doc ids (uniform by construction here;
    salting hooks are not needed because contribution rows are one per
    edge, pre-aggregated map-side by the groupBy). localCheckpoint
    every iteration bounds lineage exactly like graph.py's BFS.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e = edges.join(deg, "src")
    r = nodes.select(
        "node", F.lit(1.0 / n_nodes).alias("r")
    ).localCheckpoint(eager=False)
    for _ in range(iters):
        contribs = e.join(r, e["src"] == r["node"]).select(
            F.col("dst").alias("node"),
            (F.lit(damping) * F.col("r") / F.col("deg")).alias("c"),
        )
        s = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        r = (
            nodes.join(s, "node", "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return r


def pagerank_scaled(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """EXACT PageRank at damping 1/2, integer-scaled: (node, r) longs
    with r = rank * n_nodes * 4^PAGERANK_ITERS.

    Derivation: rank_{t+1}(v) = 1/(2N) + (1/2) * sum rank_t(u)/deg(u).
    With R_t := rank_t * N * 4^t this becomes

        R_{t+1}(v) = 2*4^t + sum_{u->v} (2/deg_u) * R_t(u)

    and 2/deg_u is an integer whenever deg_u divides 2 — true of the
    synthetic link graph (0-2 outlinks/doc) and of any graph the
    caller pre-buckets. All arithmetic stays in BIGINT, so the DuckDB
    oracle's unrolled iterations match hash-exactly; this is the
    oracle-exact harness for :func:`pagerank` (same joins, same
    shuffles, same dangling-mass-drop semantics — only the number
    representation differs). Magnitudes: sum of R_t <= N * 4^t, far
    under 2^63 at any registered scale.

    The divides-2 precondition is ENFORCED, not assumed: a node with
    out-degree > 2 would need the non-integer coefficient 2/deg, so
    the coef expression raises at execution time instead of emitting
    plausible-looking wrong integers. General graphs belong to
    :func:`pagerank` (float ranks).
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e = edges.join(deg, "src").withColumn(
        "coef",
        F.when(F.col("deg") == 1, F.lit(2))
        .when(F.col("deg") == 2, F.lit(1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "pagerank_scaled requires out-degree <= 2 "
                        "(2/deg must be an integer); got deg="
                    ),
                    F.col("deg").cast("string"),
                )
            ).cast("long")
        )
        .cast("long"),
    )
    r = nodes.select(
        "node", F.lit(1).cast("long").alias("r")
    ).localCheckpoint(eager=False)
    for t in range(PAGERANK_ITERS):
        contribs = e.join(r, e["src"] == r["node"]).select(
            F.col("dst").alias("node"),
            (F.col("coef") * F.col("r")).alias("c"),
        )
        s = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        base = 2 * (4**t)
        r = (
            nodes.join(s, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.coalesce(F.col("s"), F.lit(0)).cast("long")
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return r


def triangle_census(edges: DataFrame) -> DataFrame:
    """Exact per-vertex triangle counts of an undirected graph:
    (host, n_triangles) for every vertex in at least one triangle —
    the classic cohesion signal (spam farms and link rings are
    triangle-dense; editorial link neighborhoods are sparse).

    Input is a directed/duplicated (a, b) edge list; self-loops drop and
    (a,b)/(b,a) duplicates collapse to one undirected edge first.

    Scale shape — degree-ordered orientation (the standard
    distributed triangle algorithm): every undirected edge orients
    from its lower-(degree, id) endpoint to the higher, which caps
    any vertex's OUT-degree at O(sqrt(m)) regardless of how hot a
    hub is, so the wedge self-join — the quadratic step — is bounded
    by sum(out_deg^2) <= m^1.5, never hub_degree^2. The degree table
    is vertex-dimension-sized and BROADCASTS; wedges close into
    triangles via one equi-join back on the oriented edge list; each
    triangle forms exactly once (its endpoints appear in one total
    order). Per-vertex counts are one explode + map-side-combinable
    count.
    """
    a, b = F.col("a"), F.col("b")
    und = edges.select(
        F.least(a, b).alias("x"), F.greatest(a, b).alias("y")
    )
    keep = (F.col("x") != F.col("y")) & F.col("x").isNotNull()
    # the empty host is "no vertex" only for string ids (x is the
    # least end, so it is "" whenever either end is); comparing a
    # numeric id with "" is a cast that ANSI mode rejects
    if und.schema["x"].dataType == StringType():
        keep = keep & (F.col("x") != "")
    und = und.where(keep).distinct()
    deg = (
        und.select(F.explode(F.array("x", "y")).alias("h"))
        .groupBy("h").agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        und.join(F.broadcast(deg).withColumnRenamed("h", "x")
                 .withColumnRenamed("d", "dx"), "x")
        .join(F.broadcast(deg).withColumnRenamed("h", "y")
              .withColumnRenamed("d", "dy"), "y")
    )
    kx = F.struct(F.col("dx").alias("d"), F.col("x").alias("h"))
    ky = F.struct(F.col("dy").alias("d"), F.col("y").alias("h"))
    # read three times below (both wedge sides and the closing edges):
    # materialised once, as bfs_hops and pagerank do per round, so its
    # dedup, degree and orientation stages are not planned and run
    # again for every read
    oriented = e.select(
        F.when(kx < ky, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(kx < ky, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(kx < ky, ky).otherwise(kx).alias("kv"),
    ).localCheckpoint()
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .where(F.col("e1.kv") < F.col("e2.kv"))
        .select(
            F.col("e1.u").alias("u"),
            F.col("e1.v").alias("v"),
            F.col("e2.v").alias("w"),
        )
    )
    closer = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tris = wedges.join(closer, ["v", "w"], "left_semi")
    return (
        tris.select(F.explode(F.array("u", "v", "w")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def hits_scores(edges: DataFrame) -> DataFrame:
    """HITS hubs & authorities over a directed (src, dst) edge multiset, as
    UNNORMALIZED exact-integer power iterations: h_0 = a_0 = 1; then
    per iteration a_t(v) = sum over in-edges (u,v) of h_{t-1}(u) and
    h_t(u) = sum over out-edges (u,v) of a_t(v) — Kleinberg's update
    order (authorities from the previous hubs, hubs from the fresh
    authorities). Returns (node, hub, auth) BIGINTs.

    Why no normalization: the textbook per-iteration L2 normalization
    is a positive scalar multiple, and scalar multiples never change
    the RANKING — the quantity HITS exists to produce. Dropping it
    keeps every score an exact path-count integer, so the DuckDB
    oracle unrolls the same joins and matches hash-exactly — the same
    design as pagerank_scaled's integer form (links.py above), minus
    even the divides-2 precondition since no division exists at all.
    Magnitude grows ~(max_degree^2)^HITS_ITERS: at web-ish degrees keep
    ``HITS_ITERS`` small (ranks stabilize in a few iterations); ANSI mode
    errors loudly on int64 overflow rather than wrapping.

    Per iteration: one join shuffle + one map-side-combinable
    aggregation per direction (the pagerank shape, twice);
    localCheckpoint bounds lineage.
    """
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    h = nodes.select("node", F.lit(1).cast("long").alias("h"))
    a = nodes.select("node", F.lit(1).cast("long").alias("a"))
    for _ in range(HITS_ITERS):
        a_sum = (
            e.join(h, e["src"] == h["node"])
            .groupBy("dst").agg(F.sum("h").alias("s"))
        )
        a = (
            nodes.join(a_sum, nodes["node"] == a_sum["dst"], "left")
            .select("node",
                    F.coalesce(F.col("s"), F.lit(0)).cast("long")
                    .alias("a"))
            .localCheckpoint(eager=False)
        )
        h_sum = (
            e.join(a, e["dst"] == a["node"])
            .groupBy("src").agg(F.sum("a").alias("s"))
        )
        h = (
            nodes.join(h_sum, nodes["node"] == h_sum["src"], "left")
            .select("node",
                    F.coalesce(F.col("s"), F.lit(0)).cast("long")
                    .alias("h"))
            .localCheckpoint(eager=False)
        )
    return (
        h.join(a, "node")
        .select("node", F.col("h").alias("hub"), F.col("a").alias("auth"))
    )

"""OSM element queries: tag filters and search, way/relation joins,
way geometry and routing, the XML and PBF parsers, GeoJSON output."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_jl_spark import datagen as G
from osm_jl_spark.operators import elements as E
from osm_jl_spark.operators import graph as GR
from osm_jl_spark.operators import joins as J
from registry.common import (
    NODES,
    RELS,
    WAYS,
    _PIP_HAVING,
    _edges_values,
    _nodes,
    _relations,
    _ways,
    query,
)


@query("nodes_highways", f"""WITH {NODES}
SELECT id, t_highway AS highway FROM nodes WHERE t_highway IS NOT NULL""")
def nodes_highways_q(spark, sf_dir):
    n = _nodes(spark, sf_dir)
    return n.filter(E.hastag(E.HIGHWAY)).select(
        "id", E.gettag(E.HIGHWAY).alias("highway")
    )


@query("ways_buildings", f"""WITH {WAYS}
SELECT id FROM ways WHERE t_building IS NOT NULL""")
def ways_buildings_q(spark, sf_dir):
    return E.buildings(_ways(spark, sf_dir)).select("id")


cls3 = ", ".join(f"'{x}'" for x in G.HIGHWAY_CLASSES[:3])


@query("highway_class_filter", f"""WITH {WAYS}
SELECT id, t_highway AS highway FROM ways WHERE t_highway IN ({cls3})""")
def highway_class_q(spark, sf_dir):
    return E.highways_of_class(
        _ways(spark, sf_dir), G.HIGHWAY_CLASSES[:3]
    ).select("id", E.gettag(E.HIGHWAY).alias("highway"))


_ADDR = "t_addr_street = 'street_7' AND t_addr_housenumber = '107'"


# F3 search by name ('name' rows) and by street + housenumber
# ('address' rows), each over ways and nodes
@query("search_name", f"""WITH {NODES}, {WAYS}
SELECT 'name' AS by, 'way' AS kind, id FROM ways WHERE t_name = 'name_0'
UNION ALL SELECT 'name', 'node', id FROM nodes WHERE t_name = 'name_0'
UNION ALL SELECT 'address', 'way', id FROM ways WHERE {_ADDR}
UNION ALL SELECT 'address', 'node', id FROM nodes WHERE {_ADDR}""")
def search_name_q(spark, sf_dir):
    ways, nodes = _ways(spark, sf_dir), _nodes(spark, sf_dir)
    hits = {"name": E.search(ways, nodes, "name_0"),
            "address": E.search_address(ways, nodes, "street_7", "107")}
    return reduce(DataFrame.unionByName, [
        df.select(F.lit(by).alias("by"), F.lit(kind).alias("kind"), "id")
        for by, (w, n) in hits.items()
        for kind, df in (("way", w), ("node", n))
    ])


@query("addr_postcode_city", f"""WITH {NODES}
SELECT id, t_addr_street AS street, t_addr_housenumber AS housenumber,
       t_addr_postcode AS postcode, t_addr_city AS city
FROM nodes WHERE t_addr_street IS NOT NULL AND t_addr_postcode IS NOT NULL""")
def addr_postcode_city_q(spark, sf_dir):
    # F4 macro helpers beyond what search_address reads: postcode
    # and city (src/utils.jl:16-34), exercised on the nodes table
    n = _nodes(spark, sf_dir)
    return n.filter(E.isaddress() & E.addr_postcode().isNotNull()).select(
        "id",
        E.addr_street().alias("street"),
        E.addr_housenumber().alias("housenumber"),
        E.addr_postcode().alias("postcode"),
        E.addr_city().alias("city"),
    )


@query("is_closed_ways", f"""WITH {WAYS}
SELECT w.id, (f.ref = l.ref) AS closed
FROM ways w
JOIN ways_refs f ON f.id = w.id AND f.pos = 1
JOIN ways_refs l ON l.id = w.id AND l.pos = w.nw""")
def is_closed_q(spark, sf_dir):
    return _ways(spark, sf_dir).select(
        "id", E.is_closed().alias("closed")
    )


def _kv(col: str, key: str) -> str:
    return (f"CASE WHEN {col} IS NOT NULL THEN '{key}=' || {col} END")


_way_kvs = ", ".join(
    _kv(c, k) for c, k in [
        ("t_name", "name"), ("t_highway", "highway"),
        ("t_building", "building"), ("t_addr_street", "addr:street"),
        ("t_addr_housenumber", "addr:housenumber"),
    ]
)


@query("tag_update", f"""WITH {WAYS},
b AS (
  SELECT id,
         list_sort(list_filter([{_way_kvs}], x -> x IS NOT NULL)) AS kv
  FROM ways WHERE id <= 200
)
SELECT id,
       coalesce(array_to_string(kv, ';'), '') AS tags_before,
       coalesce(array_to_string(list_sort(list_append(kv, 'touched=yes')), ';'), '')
         AS tags_after
FROM b""")
def tag_update_q(spark, sf_dir):
    # C8 tag!: functional tag update, canonicalized for comparison
    ways = _ways(spark, sf_dir).filter(F.col("id") <= 200)
    after = F.concat_ws(
        ";",
        F.array_sort(
            F.transform(
                F.map_entries(E.tag_set("touched", "yes")),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            )
        ),
    )
    return ways.select(
        "id",
        E.tags_canonical().alias("tags_before"),
        after.alias("tags_after"),
    )


@query("waynodes_join", f"""WITH {NODES}, {WAYS}
SELECT wr.id AS way_id, wr.pos, n.id AS node_id, n.lon, n.lat
FROM ways_refs wr JOIN nodes n ON wr.ref = n.id
WHERE wr.id <= 200""")
def waynodes_q(spark, sf_dir):
    ways = _ways(spark, sf_dir).filter(F.col("id") <= 200)
    return J.waynodes(ways, _nodes(spark, sf_dir))


@query("extract_semi_nodes", f"""WITH {NODES}, {WAYS}
SELECT DISTINCT n.id
FROM nodes n
JOIN ways_refs wr ON n.id = wr.ref
JOIN ways w ON wr.id = w.id
WHERE w.t_building IS NOT NULL""")
def extract_semi_q(spark, sf_dir):
    return J.nodes_for_ways(
        _nodes(spark, sf_dir), E.buildings(_ways(spark, sf_dir))
    ).select("id")


frogner_edges = _edges_values({1: G.FROGNER})
pip_n = _PIP_HAVING.format(lat="n.lat", lon="n.lon")


@query("ways_in_frogner", f"""WITH {NODES}, {WAYS}, {frogner_edges},
inside AS (
  SELECT n.id FROM nodes n, poly_edges e
  GROUP BY n.id, n.lon, n.lat
  HAVING {pip_n}
)
SELECT DISTINCT wr.id FROM ways_refs wr
JOIN inside i ON wr.ref = i.id""")
def ways_in_frogner_q(spark, sf_dir):
    return J.ways_in_polygon(
        _ways(spark, sf_dir), _nodes(spark, sf_dir), G.FROGNER
    ).select("id")


@query("relation_members", f"""WITH {RELS}
SELECT id AS relation_id, pos, ref, mtype AS type, role FROM rel_members""")
def rel_members_q(spark, sf_dir):
    return J.relation_members_exploded(_relations(spark, sf_dir))


@query("relations_with_node_members", f"""WITH {RELS}
SELECT DISTINCT id FROM rel_members WHERE mtype = 'node' AND ref <= 100""")
def rel_with_node_members_q(spark, sf_dir):
    nodes_small = _nodes(spark, sf_dir).filter(F.col("id") <= 100)
    return J.ismember(
        _relations(spark, sf_dir), nodes_small.select("id"), "node"
    ).select("id")


# exact integer shoelace: lead() pairs consecutive ring points,
# COALESCE wraps last->first; 1e-5-degree quantization makes
# every term and sum BIGINT (order-independent, bit-equal)
@query("way_areas", f"""WITH {NODES}, {WAYS},
wlen AS (SELECT id, max(pos) AS np FROM ways_refs GROUP BY id),
closed AS (
  SELECT w.id FROM ways w
  JOIN ways_refs f ON f.id = w.id AND f.pos = 1
  JOIN wlen l ON l.id = w.id
  JOIN ways_refs g ON g.id = w.id AND g.pos = l.np
  WHERE w.visible AND f.ref = g.ref AND l.np >= 3
),
pts AS (
  SELECT wr.id, wr.pos,
         CAST(round(n.lon * 100000) AS BIGINT) AS x,
         CAST(round(n.lat * 100000) AS BIGINT) AS y
  FROM ways_refs wr
  JOIN closed c ON c.id = wr.id
  JOIN nodes n ON n.id = wr.ref
),
nx AS (
  SELECT id, x, y,
         lead(x) OVER w AS xn, lead(y) OVER w AS yn,
         first_value(x) OVER w2 AS xf, first_value(y) OVER w2 AS yf
  FROM pts
  WINDOW w AS (PARTITION BY id ORDER BY pos),
         w2 AS (PARTITION BY id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT id AS way_id,
       CAST(sum(x * COALESCE(yn, yf) - COALESCE(xn, xf) * y) AS BIGINT)
         AS area2
FROM nx GROUP BY id""")
def way_areas_q(spark, sf_dir):
    # signed shoelace area of every closed visible way, in exact
    # integer 1e-5-degree² units (functions/geo.py:
    # shoelace_area2_col) — integer sums are order-independent,
    # so the value is bit-equal across engines and partitionings
    from osm_jl_spark.functions.geo import shoelace_area2_col
    from osm_jl_spark.operators.joins import way_geometries

    ways = _ways(spark, sf_dir).filter(
        F.col("visible")
        & E.is_closed()
        & (F.size("node_refs") >= 3)  # degenerate 1/2-ref rings out
    )
    geoms = way_geometries(ways, _nodes(spark, sf_dir))
    return geoms.select(
        "way_id", shoelace_area2_col(F.col("coords")).alias("area2")
    )


# mirrors way_lengths' float contract exactly: radians taken
# per-endpoint BEFORE differencing, explicit multiplies (never
# power()), constant 2R pre-folded, and the per-way sum as a
# LEFT fold over the pos-ordered segment list (list_reduce) —
# bit-equal to Spark's F.aggregate before the cm rounding
@query("way_lengths", f"""WITH {NODES}, {WAYS},
j AS (
  SELECT wr.id, wr.pos, n.lon, n.lat
  FROM ways_refs wr JOIN nodes n ON wr.ref = n.id
),
s AS (
  SELECT id, pos, lon, lat,
         lag(lon) OVER (PARTITION BY id ORDER BY pos) AS plon,
         lag(lat) OVER (PARTITION BY id ORDER BY pos) AS plat
  FROM j
),
d AS (
  SELECT id, pos,
         {2.0 * 6371008.8!r} * asin(sqrt(
           sin((radians(lat) - radians(plat)) / 2)
             * sin((radians(lat) - radians(plat)) / 2)
           + cos(radians(plat)) * cos(radians(lat))
             * sin((radians(lon) - radians(plon)) / 2)
             * sin((radians(lon) - radians(plon)) / 2)
         )) AS seg
  FROM s WHERE plat IS NOT NULL
),
l AS (SELECT id, list(seg ORDER BY pos) AS ls FROM d GROUP BY id),
c AS (SELECT id, count(*) AS n_pts FROM j GROUP BY id)
SELECT c.id AS way_id, c.n_pts,
       round(CASE WHEN l.id IS NULL THEN 0.0
                  ELSE list_reduce(l.ls, (a, b) -> a + b) END, 2)
         AS length_m
FROM c LEFT JOIN l ON c.id = l.id""")
def way_lengths_q(spark, sf_dir):
    # great-circle path length of every way (operators/joins.py:
    # way_lengths): one J1 shuffle, then pure array math. Rounded
    # to cm; the oracle mirrors the exact left-to-right fold and
    # per-segment operation order, so the match is bit-level
    # before the rounding (see the operator docstring).
    out = J.way_lengths(_ways(spark, sf_dir), _nodes(spark, sf_dir))
    return out.select(
        "way_id", "n_pts", F.round("length_m", 2).alias("length_m")
    )


# way_simplify: the WHOLE Douglas-Peucker recursion replayed in a
# recursive CTE — split test in exact HUGEINT (cross² vs eps²·len²,
# point-distance² fallback for closed segments), first-max ties
# via list_position, kept = every endpoint/split index ever
# generated. No floats anywhere, so parity is exact.
_dp_eps2 = 1_000_000 * 1_000_000


@query("way_simplify", f"""WITH RECURSIVE {NODES}, {WAYS},
geo AS (
  SELECT wr.id AS way_id,
         list(CAST(round(n.lon * 100000) AS BIGINT)
              ORDER BY wr.pos) AS xs,
         list(CAST(round(n.lat * 100000) AS BIGINT)
              ORDER BY wr.pos) AS ys,
         count(*) AS n
  FROM ways_refs wr JOIN nodes n ON wr.ref = n.id
  GROUP BY wr.id
),
segs(way_id, i, j) AS (
  SELECT way_id, CAST(1 AS BIGINT), CAST(n AS BIGINT)
  FROM geo WHERE n >= 2
  UNION ALL
  SELECT t.way_id,
         CASE WHEN p.part = 1 THEN t.i ELSE t.k END,
         CASE WHEN p.part = 1 THEN t.k ELSE t.j END
  FROM (
    SELECT way_id, i, j,
           i + list_position(ds, list_max(ds)) AS k,
           list_max(ds) >
             (CASE WHEN l2 = 0 THEN CAST({_dp_eps2} AS HUGEINT)
                   ELSE CAST({_dp_eps2} AS HUGEINT) * l2 END)
             AS do_split
    FROM (
      SELECT way_id, i, j, dx * dx + dy * dy AS l2,
             CASE WHEN dx = 0 AND dy = 0 THEN
               list_transform(range(i + 1, j), k ->
                 CAST(xs[k] - xs[i] AS HUGEINT) * (xs[k] - xs[i])
                 + CAST(ys[k] - ys[i] AS HUGEINT) * (ys[k] - ys[i]))
             ELSE
               list_transform(range(i + 1, j), k ->
                 CAST(dx * (ys[k] - ys[i])
                      - dy * (xs[k] - xs[i]) AS HUGEINT)
                 * (dx * (ys[k] - ys[i]) - dy * (xs[k] - xs[i])))
             END AS ds
      FROM (
        SELECT s.way_id, s.i, s.j, g.xs, g.ys,
               g.xs[s.j] - g.xs[s.i] AS dx,
               g.ys[s.j] - g.ys[s.i] AS dy
        FROM segs s JOIN geo g USING (way_id)
        WHERE s.j - s.i >= 2
      ) q0
    ) q1
  ) t, (VALUES (1), (2)) p(part)
  WHERE t.do_split
),
kept AS (
  SELECT way_id, i AS idx FROM segs
  UNION
  SELECT way_id, j FROM segs
  UNION
  SELECT way_id, CAST(1 AS BIGINT) FROM geo WHERE n = 1
)
SELECT k.way_id,
       k.idx - 1 AS idx,
       g.xs[k.idx] AS lon_u,
       g.ys[k.idx] AS lat_u
FROM kept k JOIN geo g USING (way_id)""")
def way_simplify_q(spark, sf_dir):
    # Douglas-Peucker polyline simplification
    # (operators/simplify.py): exact integer split test, so the
    # DuckDB oracle replays the WHOLE recursion in HUGEINT via a
    # recursive CTE — the same oracle class as BFS/shortest_paths.
    # eps = 10 degrees: world-scale ways drop interior points,
    # cluster-scale ways collapse to endpoints.
    from osm_jl_spark.operators.simplify import simplify_ways

    geoms = J.way_geometries(
        _ways(spark, sf_dir), _nodes(spark, sf_dir)
    )
    return simplify_ways(geoms, epsilon_u=1_000_000)


# route assembly: member-way lengths replayed with the identical
# way_lengths machinery, then the identical pos-ordered fold —
# float-exact because both engines execute the same IEEE ops on
# the same cm-rounded doubles in the same order
@query("route_lengths", f"""WITH {NODES}, {WAYS}, {RELS},
j AS (
  SELECT wr.id, wr.pos, n.lon, n.lat
  FROM ways_refs wr JOIN nodes n ON wr.ref = n.id
),
s AS (
  SELECT id, pos, lon, lat,
         lag(lon) OVER (PARTITION BY id ORDER BY pos) AS plon,
         lag(lat) OVER (PARTITION BY id ORDER BY pos) AS plat
  FROM j
),
d AS (
  SELECT id, pos,
         {2.0 * 6371008.8!r} * asin(sqrt(
           sin((radians(lat) - radians(plat)) / 2)
             * sin((radians(lat) - radians(plat)) / 2)
           + cos(radians(plat)) * cos(radians(lat))
             * sin((radians(lon) - radians(plon)) / 2)
             * sin((radians(lon) - radians(plon)) / 2)
         )) AS seg
  FROM s WHERE plat IS NOT NULL
),
l AS (SELECT id, list(seg ORDER BY pos) AS ls FROM d GROUP BY id),
c AS (SELECT id FROM j GROUP BY id),
wl AS (
  SELECT c.id,
         round(CASE WHEN l.id IS NULL THEN 0.0
                    ELSE list_reduce(l.ls, (a, b) -> a + b) END, 2)
           AS len
  FROM c LEFT JOIN l ON c.id = l.id
),
rm AS (
  SELECT m.id AS relation_id, m.pos, m.ref
  FROM rel_members m JOIN relations r ON r.id = m.id
  WHERE m.mtype = 'way' AND r.t_type = 'route'
),
ml AS (
  SELECT rm.relation_id, rm.pos, wl.len
  FROM rm JOIN wl ON wl.id = rm.ref
),
agg AS (
  SELECT relation_id, count(*) AS n_way_members,
         list(len ORDER BY pos) AS ls
  FROM ml GROUP BY relation_id
)
SELECT relation_id, CAST(n_way_members AS BIGINT) AS n_way_members,
       round(list_reduce(ls, (a, b) -> a + b), 2) AS route_m
FROM agg""")
def route_lengths_q(spark, sf_dir):
    # route-relation assembly (operators/joins.py:route_lengths):
    # total member-way length per type=route relation, folded in
    # member order. Member lengths are the cm-rounded doubles
    # way_lengths proves bit-equal across engines; the oracle
    # replays the identical join + pos-ordered fold + final
    # rounding, so the float column matches exactly.
    return J.route_lengths(
        _relations(spark, sf_dir),
        _ways(spark, sf_dir),
        _nodes(spark, sf_dir),
    )


# recursive-CTE BFS over the same road-graph edge definition as
# operators/graph.py: consecutive refs of visible open ways, both
# directions, self-loops dropped, UNION-deduped; dist bounded by
# the hop cap so the recursion terminates
@query("bfs_hops", f"""WITH RECURSIVE {WAYS},
wlen AS (SELECT id, max(pos) AS np FROM ways_refs GROUP BY id),
open_ids AS (
  SELECT w.id FROM ways w
  JOIN ways_refs f ON f.id = w.id AND f.pos = 1
  JOIN wlen l ON l.id = w.id
  JOIN ways_refs g ON g.id = w.id AND g.pos = l.np
  WHERE w.visible AND f.ref <> g.ref
),
rr AS (SELECT wr.id, wr.pos, wr.ref FROM ways_refs wr
       JOIN open_ids o ON wr.id = o.id),
e0 AS (SELECT a.ref AS src, b.ref AS dst
       FROM rr a JOIN rr b ON a.id = b.id AND b.pos = a.pos + 1),
edges AS (
  SELECT src, dst FROM e0 WHERE src <> dst
  UNION
  SELECT dst, src FROM e0 WHERE src <> dst
),
srcs AS (SELECT DISTINCT ref AS node FROM rr
         WHERE pos = 1 AND id % 29 = 0),
bfs AS (
  SELECT node, 0 AS dist FROM srcs
  UNION
  SELECT e.dst, b.dist + 1 FROM bfs b
  JOIN edges e ON e.src = b.node WHERE b.dist < 8
)
SELECT CAST(node AS BIGINT) AS node_id, CAST(MIN(dist) AS BIGINT) AS dist
FROM bfs GROUP BY node""")
def bfs_hops_q(spark, sf_dir):
    # the reference's routing surface (src/OSM.jl `path` is an
    # empty stub): multi-source BFS hop distance over the road
    # graph — iterative DataFrame joins, one shuffle per hop,
    # driver sees only emptiness probes. Oracle: DuckDB
    # recursive CTE over the same edge definition.
    from osm_jl_spark.operators.graph import bfs_hops, way_edges

    ways = _ways(spark, sf_dir)
    edges = way_edges(ways)
    roads = ways.filter(F.col("visible") & E.is_road())
    sources = roads.filter(F.col("id") % 29 == 0).select(
        F.element_at("node_refs", 1).cast("long").alias("node")
    )
    out = bfs_hops(edges, sources)
    return out.select(F.col("node").alias("node_id"), "dist")


# weighted variant: min total weight over walks of <= SSSP_MAX_HOPS
# edges, hop-bounded so the recursion terminates on cyclic road
# graphs; the Spark side runs exactly that many Bellman-Ford rounds
# (graph.py)
@query("shortest_paths", f"""WITH RECURSIVE {WAYS},
wlen AS (SELECT id, max(pos) AS np FROM ways_refs GROUP BY id),
open_ids AS (
  SELECT w.id FROM ways w
  JOIN ways_refs f ON f.id = w.id AND f.pos = 1
  JOIN wlen l ON l.id = w.id
  JOIN ways_refs g ON g.id = w.id AND g.pos = l.np
  WHERE w.visible AND f.ref <> g.ref
),
rr AS (SELECT wr.id, wr.pos, wr.ref FROM ways_refs wr
       JOIN open_ids o ON wr.id = o.id),
e0 AS (SELECT a.ref AS src, b.ref AS dst
       FROM rr a JOIN rr b ON a.id = b.id AND b.pos = a.pos + 1),
edges AS (
  SELECT src, dst FROM e0 WHERE src <> dst
  UNION
  SELECT dst, src FROM e0 WHERE src <> dst
),
wedges AS (SELECT src, dst, 1 + (src + dst) % 7 AS w FROM edges),
srcs AS (SELECT DISTINCT ref AS node FROM rr
         WHERE pos = 1 AND id % 29 = 0),
sp AS (
  SELECT node, CAST(0 AS BIGINT) AS d, 0 AS h FROM srcs
  UNION
  SELECT e.dst, s.d + e.w, s.h + 1 FROM sp s
  JOIN wedges e ON e.src = s.node WHERE s.h < {GR.SSSP_MAX_HOPS}
)
SELECT CAST(node AS BIGINT) AS node_id, CAST(MIN(d) AS BIGINT) AS dist
FROM sp GROUP BY node""")
def shortest_paths_q(spark, sf_dir):
    # weighted routing over the same road graph: Bellman-Ford
    # relaxation rounds (operators/graph.py:shortest_paths).
    # Weights are integers derived from the endpoint ids so the
    # DuckDB recursive-CTE oracle reproduces every sum exactly
    # (integer addition is order-independent; metre weights slot
    # into the same column in production).
    from osm_jl_spark.operators.graph import shortest_paths, way_edges

    ways = _ways(spark, sf_dir)
    wedges = way_edges(ways).withColumn(
        "w",
        (F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(7)))
        .cast("long"),
    )
    roads = ways.filter(F.col("visible") & E.is_road())
    sources = roads.filter(F.col("id") % 29 == 0).select(
        F.element_at("node_refs", 1).cast("long").alias("node")
    )
    out = shortest_paths(wedges, sources)
    return out.select(F.col("node").alias("node_id"), "dist")


# Hand-derived from sources/osm_xml.SAMPLE_OSM_XML (document order;
# ways/relations carry no lon/lat).
@query("osm_xml_parse", """SELECT kind, id, CAST(lon AS DOUBLE) AS lon,
       CAST(lat AS DOUBLE) AS lat
FROM (VALUES
  ('node', 1, 10.71299, 59.92589),
  ('node', 2, 10.72496, 59.92589),
  ('node', 3, 10.72496, 59.91941),
  ('node', 4, -40.3554, -20.2273),
  ('way', 10, NULL, NULL),
  ('way', 11, NULL, NULL),
  ('relation', 20, NULL, NULL)
) v(kind, id, lon, lat)""")
def osm_xml_q(spark, sf_dir):
    from osm_jl_spark.sources.osm_xml import SAMPLE_OSM_XML, parse_elements

    df = spark.createDataFrame([(SAMPLE_OSM_XML,)], "xml STRING")
    return parse_elements(df).select("kind", "id", "lon", "lat")


# The fixture writer emits coordinates as exact decimal strings
# ("10." + zero-padded digits); the oracle rebuilds the SAME string
# and casts, so both engines parse identical decimals -> identical
# IEEE doubles. Child counts ((i%5)+2 nd refs, 2 members) and the
# visible default ("false" when the attribute is absent) follow
# write_fixture_file exactly.
@query("osm_xml_file_parse", """WITH nodes AS (
  SELECT 'node' AS kind, CAST(i AS BIGINT) AS id,
         CAST('10.' || lpad(CAST(i % 1000000 AS VARCHAR), 6, '0')
              AS DOUBLE) AS lon,
         CAST('59.' || lpad(CAST((i * 7) % 1000000 AS VARCHAR), 6, '0')
              AS DOUBLE) AS lat,
         CAST(NULL AS INT) AS visible,
         CAST(NULL AS BIGINT) AS n_refs,
         CAST(NULL AS BIGINT) AS n_members
  FROM range(3000) t(i)
), ways AS (
  SELECT 'way', CAST(100000 + i AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(i % 2 = 0 AS INT), CAST((i % 5) + 2 AS BIGINT),
         CAST(NULL AS BIGINT)
  FROM range(300) t(i)
), rels AS (
  SELECT 'relation', CAST(200000 + i AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS INT), CAST(NULL AS BIGINT), CAST(2 AS BIGINT)
  FROM range(30) t(i)
)
SELECT * FROM nodes UNION ALL SELECT * FROM ways
UNION ALL SELECT * FROM rels""")
def osm_xml_file_q(spark, sf_dir):
    # splittable single-file ingest (reference parsefile,
    # src/OSM.jl:59-92): 3330 elements over ~11 byte-range splits;
    # the oracle regenerates the fixture arithmetically, so every
    # element id/coord/child-count must survive boundary scanning.
    from osm_jl_spark.sources.osm_xml import (
        parse_osm_file,
        write_fixture_file,
    )

    path = write_fixture_file("/tmp/osm_jl_spark_fixture.osm")
    els = parse_osm_file(spark, path, split_bytes=32 * 1024)
    return els.select(
        "kind",
        "id",
        "lon",
        "lat",
        # int not boolean: a nullable bool crosses pandas as
        # object None on the Spark side but NaN on the DuckDB
        # side; nullable ints become float64/NaN on BOTH.
        F.col("visible").cast("int").alias("visible"),
        F.size("node_refs").cast("long").alias("n_refs"),
        F.size("members").cast("long").alias("n_members"),
    )


# PBF ingest: the oracle never touches the binary — it regenerates
# the fixture triple (400 nodes / 150 ways / 80 relations)
# arithmetically and compares ids, exact micro-degree coords,
# child counts, and tag counts against the encode->decode output
pbf_n = G.nodes_ctes("duckdb", 400)
pbf_w = G.ways_ctes("duckdb", 150, 400)
pbf_r = G.relations_ctes("duckdb", 80, 150, 400)


@query("osm_pbf_parse", f"""WITH {pbf_n}, {pbf_w}, {pbf_r}
SELECT 'node' AS kind, n.id, c.lon_u, c.lat_u,
       CAST(NULL AS BIGINT) AS n_refs, CAST(NULL AS BIGINT) AS n_members,
       CAST((CASE WHEN n.t_name IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN n.t_highway IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN n.t_building IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN n.t_addr_street IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN n.t_addr_housenumber IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN n.t_addr_postcode IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN n.t_addr_city IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN n.t_amenity IS NULL THEN 0 ELSE 1 END)
          AS BIGINT) AS n_tags
FROM nodes n JOIN nodes_coord c ON c.id = n.id
UNION ALL
SELECT 'way', w.id, NULL, NULL,
       (SELECT count(*) FROM ways_refs wr WHERE wr.id = w.id),
       NULL,
       CAST((CASE WHEN t_name IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN t_highway IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN t_building IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN t_addr_street IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN t_addr_housenumber IS NULL THEN 0 ELSE 1 END)
          AS BIGINT)
FROM ways w
UNION ALL
SELECT 'relation', r.id, NULL, NULL, NULL,
       (SELECT count(*) FROM rel_members m WHERE m.id = r.id),
       CAST(1 AS BIGINT)
FROM relations r""")
def osm_pbf_parse_q(spark, sf_dir):
    # splittable OSM PBF ingest (sources/osm_pbf.py): the
    # generator's Data triple (400 nodes / 150 ways / 80
    # relations) encoded as a real multi-blob .osm.pbf (dense
    # nodes, delta-coded refs/memids, zlib blobs, string tables),
    # decoded one task per blob. The oracle NEVER sees the binary:
    # it regenerates the same triple arithmetically, so every id,
    # micro-degree coordinate (recovered as exact BIGINT from the
    # 1e-7-unit decode), child count, and tag count must survive
    # encode -> blob split -> parallel decode.
    import os

    from osm_jl_spark.sources.osm_pbf import parse_pbf, write_pbf

    # the file is reused across runs, so its name carries a version:
    # bump it whenever write_pbf's encoding or the generator's Data
    # triple changes (v2: way and relation ids as protobuf int64)
    path = "/tmp/osm_jl_spark_fixture_v2.osm.pbf"
    if not os.path.exists(path):
        els = (
            [{"kind": "node", "id": r.id, "lon": r.lon,
              "lat": r.lat, "tags": dict(r.tags)}
             for r in G.load_nodes(spark, 400).collect()]
            + [{"kind": "way", "id": r.id,
                "node_refs": list(r.node_refs),
                "tags": dict(r.tags)}
               for r in G.load_ways(spark, 150, 400).collect()]
            + [{"kind": "relation", "id": r.id,
                "members": [
                    {"ref": m.ref, "type": m.type, "role": m.role}
                    for m in r.members],
                "tags": dict(r.tags)}
               for r in G.load_relations(
                   spark, 80, 150, 400).collect()]
        )
        write_pbf(path, els, block_size=100)
    els = parse_pbf(spark, path)
    null_l = F.lit(None).cast("long")
    return els.select(
        "kind",
        "id",
        F.when(F.col("lon").isNotNull(),
               F.round(F.col("lon") * 1e5).cast("long"))
        .otherwise(null_l).alias("lon_u"),
        F.when(F.col("lat").isNotNull(),
               F.round(F.col("lat") * 1e5).cast("long"))
        .otherwise(null_l).alias("lat_u"),
        F.when(F.col("node_refs").isNotNull(),
               F.size("node_refs").cast("long"))
        .otherwise(null_l).alias("n_refs"),
        F.when(F.col("members").isNotNull(),
               F.size("members").cast("long"))
        .otherwise(null_l).alias("n_members"),
        F.size("tags").cast("long").alias("n_tags"),
    )


# Coordinates are DECIMAL(10,5) in both engines -> byte-identical
# "59.92589" / "3.00000" rendering; to_json drops null struct
# fields, so a NULL name becomes properties {}.
_FEATS = f"""{NODES}, {WAYS},
wn AS (
  SELECT wr.id, wr.pos,
         CAST(CAST(n.lon AS DECIMAL(10,5)) AS VARCHAR) AS lons,
         CAST(CAST(n.lat AS DECIMAL(10,5)) AS VARCHAR) AS lats
  FROM ways_refs wr JOIN nodes n ON wr.ref = n.id
  WHERE wr.id <= 50
),
ring AS (
  SELECT id,
         string_agg('[' || lons || ',' || lats || ']', ',' ORDER BY pos) AS cs
  FROM wn GROUP BY id
),
feats AS (
  SELECT r.id AS way_id,
         '{{"type":"Feature","id":' || r.id ||
         ',"geometry":{{"type":"Polygon","coordinates":[[' || r.cs ||
         ']]}},"properties":' ||
         CASE WHEN w.t_name IS NULL THEN '{{}}'
              ELSE '{{"name":"' || w.t_name || '"}}' END || '}}' AS feature
  FROM ring r JOIN ways w ON w.id = r.id
)"""
_PROPS = ("name", "highway", "street")


# Kind 'feature': the feature strings. Kind 'props': the reference's
# user property generator (src/geojson.jl:15,36) — props Columns
# merged into properties, read back OUT of the emitted JSON, must
# equal the ways table's tag columns verbatim.
@query("geojson_features", f"""WITH {_FEATS}
SELECT 'feature' AS kind, way_id, feature, NULL::VARCHAR AS name,
       NULL::VARCHAR AS highway, NULL::VARCHAR AS street FROM feats
UNION ALL
SELECT 'props', id, NULL, t_name, t_highway, t_addr_street
FROM ways WHERE id <= 50""")
def geojson_q(spark, sf_dir):
    from osm_jl_spark.sources.geojson import way_features

    ways = _ways(spark, sf_dir).filter(F.col("id") <= 50)
    nodes = _nodes(spark, sf_dir)
    none = F.lit(None).cast("string")
    feats = way_features(ways, nodes, coord_decimals=5).select(
        F.lit("feature").alias("kind"), "way_id", "feature",
        *(none.alias(k) for k in _PROPS),
    )
    props = way_features(
        ways, nodes, coord_decimals=5,
        props={"highway": E.gettag(E.HIGHWAY), "street": E.addr_street()},
    ).select(
        F.lit("props").alias("kind"), "way_id", none.alias("feature"),
        *(F.get_json_object("feature", f"$.properties.{k}").alias(k)
          for k in _PROPS),
    )
    return feats.unionByName(props)


# K2 FeatureCollection: same feature strings as geojson_features,
# concatenated in way_id order inside the canonical envelope, then
# count + md5 — byte-identical assembly or the hash differs
@query("feature_collection", f"""WITH {_FEATS}
SELECT CAST(count(*) AS BIGINT) AS n_features,
       md5('{{"type":"FeatureCollection","features":[' ||
           string_agg(feature, ',' ORDER BY way_id) || ']}}') AS fc_md5
FROM feats""")
def feature_collection_q(spark, sf_dir):
    # K2: FeatureCollection assembly (src/geojson.jl:36-41) — the
    # driver-side concat, checked as (count, md5 of the exact
    # string) so the oracle pins byte-identical assembly order
    import hashlib
    import json as _json

    from osm_jl_spark.sources.geojson import (
        feature_collection,
        way_features,
    )

    ways = _ways(spark, sf_dir).filter(F.col("id") <= 50)
    fc = feature_collection(
        way_features(ways, _nodes(spark, sf_dir), coord_decimals=5)
    )
    obj = _json.loads(fc)  # must parse as valid JSON
    return spark.createDataFrame(
        [(len(obj["features"]),
          hashlib.md5(fc.encode()).hexdigest())],
        "n_features BIGINT, fc_md5 STRING",
    )


# GeoJSON round trip: the oracle regenerates geometry order,
# point counts, the first RESOLVED ref's exact micro-degree
# coords, and the name tag from the generator CTEs — dangling
# first refs drop (inner join), matching way_geometries
@query("geojson_roundtrip", f"""WITH {NODES}, {WAYS},
j AS (
  SELECT wr.id, wr.pos, nc.lon_u, nc.lat_u
  FROM ways_refs wr JOIN nodes_coord nc ON wr.ref = nc.id
),
agg AS (
  SELECT id,
         count(*) AS n_pts,
         arg_min(lon_u, pos) AS first_lon_u,
         arg_min(lat_u, pos) AS first_lat_u
  FROM j GROUP BY id
)
SELECT a.id AS way_id, 'Polygon' AS geom_type,
       CAST(a.n_pts AS BIGINT) AS n_pts,
       a.first_lon_u, a.first_lat_u,
       w.t_name AS name
FROM agg a JOIN ways w ON w.id = a.id""")
def geojson_roundtrip_q(spark, sf_dir):
    # GeoJSON emit -> READ round trip (sources/geojson.py:
    # read_features, the K1 inverse): every way's Feature JSON
    # parses back with native from_json — zero UDF, zero exchange
    # beyond the geometry assembly — and coordinates survive
    # to_json/from_json exactly (raw doubles; recovered here as
    # exact micro-degree BIGINTs). The oracle never sees JSON: it
    # regenerates way geometry order, counts, first-resolved-ref
    # coords, and the name tag arithmetically.
    from osm_jl_spark.sources.geojson import read_features, way_features

    back = read_features(
        way_features(_ways(spark, sf_dir), _nodes(spark, sf_dir))
    )
    first = F.element_at(F.col("coords"), 1)
    return back.select(
        "way_id",
        "geom_type",
        F.size("coords").cast("long").alias("n_pts"),
        F.round(first["lon"] * 1e5).cast("long").alias("first_lon_u"),
        F.round(first["lat"] * 1e5).cast("long").alias("first_lat_u"),
        F.element_at(F.col("properties"), F.lit("name")).alias("name"),
    )

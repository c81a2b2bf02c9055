"""Spatial queries: geoparse, cell encode, point-in-polygon, tiles,
bbox extraction and the stores that serve it, quadkey and geohash
tiles, kNN, distance joins and ECEF/ENU."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from osm_jl_spark import datagen as G
from osm_jl_spark.functions.cells import (
    GEOHASH_BASE32,
    bbox_cell_range,
    cell_lookup,
    with_cell,
)
from osm_jl_spark.operators import joins as J
from osm_jl_spark.operators import tiling as TL
from osm_jl_spark.operators.knn import knn_join
from registry.common import (
    NODES,
    PAGES,
    PRECISION,
    WAYS,
    _PIP_HAVING,
    _counts,
    _edges_values,
    _nodes,
    _points,
    _ways,
    query,
)


@query("geoparse_points", f"""WITH {PAGES}
SELECT url, pt_idx, lon, lat FROM pages_pts""")
def geoparse_points_q(spark, sf_dir):
    return _points(spark, sf_dir)


# Every geoparsed point's cell (kind 'encode', key url#pt_idx) and
# the reference Index's point-getindex (src/index.jl:55-58; kind
# 'lookup', key = node id): all nodes in the ONE cell holding a query
# point — the single-cell case of the bbox path (pruned equality
# scan, no shuffle).
_LOOKUP = (G.VITORIA_UL[0] + 0.03, G.VITORIA_LR[1] + 0.05)
_CELL_SQL = """CAST(trunc(lon * 100) AS BIGINT) AS cx,
       CAST(trunc(lat * 100) AS BIGINT) AS cy"""


@query("cell_encode", f"""WITH {PAGES}, {NODES},
lookup AS (SELECT id, lon, lat, {_CELL_SQL} FROM nodes)
SELECT 'encode' AS kind, url || '#' || pt_idx AS key, lon, lat, {_CELL_SQL}
FROM pages_pts
UNION ALL
SELECT 'lookup', CAST(id AS VARCHAR), lon, lat, cx, cy FROM lookup
WHERE cx = {math.trunc(_LOOKUP[0] * 10**PRECISION)}
  AND cy = {math.trunc(_LOOKUP[1] * 10**PRECISION)}""")
def cell_encode_q(spark, sf_dir):
    pts = with_cell(_points(spark, sf_dir), PRECISION).select(
        F.lit("encode").alias("kind"),
        F.concat_ws("#", "url", F.col("pt_idx").cast("string")).alias("key"),
        "lon", "lat", "cx", "cy",
    )
    nodes = with_cell(_nodes(spark, sf_dir), PRECISION)
    hit = cell_lookup(nodes, _LOOKUP[0], _LOOKUP[1], PRECISION).select(
        F.lit("lookup").alias("kind"),
        F.col("id").cast("string").alias("key"),
        "lon", "lat", "cx", "cy",
    )
    return pts.unionByName(hit)


all_edges = _edges_values(G.POLYGONS)
pip = _PIP_HAVING.format(lat="p.lat", lon="p.lon")


# polygon 1 is FROGNER: its rows are what the single-polygon call
# nodes_in_polygons(pts, {1: FROGNER}) returns (tests/test_pip.py)
@query("pip_polygons", f"""WITH {PAGES}, {all_edges}
SELECT p.url, p.pt_idx, e.polygon_id
FROM pages_pts p, poly_edges e
GROUP BY p.url, p.pt_idx, e.polygon_id, p.lon, p.lat
HAVING {pip}""")
def pip_polygons_q(spark, sf_dir):
    pts = _points(spark, sf_dir)
    return J.nodes_in_polygons(pts, G.POLYGONS, PRECISION).select(
        "url", "pt_idx", "polygon_id"
    )


grid_edges = _edges_values(G.polygon_grid())


@query("pip_grid_polygons", f"""WITH {PAGES}, {grid_edges}
SELECT p.url, p.pt_idx, e.polygon_id
FROM pages_pts p, poly_edges e
GROUP BY p.url, p.pt_idx, e.polygon_id, p.lon, p.lat
HAVING {pip}""")
def pip_grid_polygons_q(spark, sf_dir):
    # 96-polygon PIP: the same broadcast cell-cover + codegen slot
    # test (edge slots ride each cover row, sized by the widest
    # ring, not the polygon count) with a polygon DIMENSION 32x the
    # fixture set — pins that cover size scales with the polygon
    # table, not the fact side (the cover stays a broadcast; the
    # points never shuffle). Oracle: full cross-join crossing
    # count per (point, polygon) over the exact same 384 edges.
    pts = _points(spark, sf_dir)
    return J.nodes_in_polygons(pts, G.polygon_grid(), PRECISION).select(
        "url", "pt_idx", "polygon_id"
    )


@query("tile_counts", f"""WITH {PAGES}
SELECT CAST(trunc(lon * 100) AS BIGINT) AS cx,
       CAST(trunc(lat * 100) AS BIGINT) AS cy,
       count(*) AS n_points
FROM pages_pts GROUP BY 1, 2""")
def tile_counts_q(spark, sf_dir):
    return TL.tile_counts(_points(spark, sf_dir))


@query("tile_rollup", f"""WITH {PAGES}
SELECT 2 AS res, CAST(trunc(lon * 100) AS BIGINT) AS cx,
       CAST(trunc(lat * 100) AS BIGINT) AS cy, count(*) AS n_points
FROM pages_pts GROUP BY 1, 2, 3
UNION ALL
SELECT 1, CAST(trunc(lon * 10) AS BIGINT), CAST(trunc(lat * 10) AS BIGINT), count(*)
FROM pages_pts GROUP BY 1, 2, 3
UNION ALL
SELECT 0, CAST(trunc(lon * 1) AS BIGINT), CAST(trunc(lat * 1) AS BIGINT), count(*)
FROM pages_pts GROUP BY 1, 2, 3""")
def tile_rollup_q(spark, sf_dir):
    t = TL.tile_rollup(_points(spark, sf_dir), [0, 1, 2])
    return t.select(
        F.col("precision").alias("res"), "cx", "cy", "n_points"
    )


@query("raster_vector", f"""WITH {PAGES},
t AS (
  SELECT 1 AS res, CAST(trunc(lon * 10) AS BIGINT) AS cx,
         CAST(trunc(lat * 10) AS BIGINT) AS cy, count(*) AS n_points
  FROM pages_pts GROUP BY 1, 2, 3
)
SELECT res, cx, cy,
       (CASE WHEN cx > 0 THEN cx WHEN cx = 0 THEN -1 ELSE cx - 1 END) * (1.0 / power(10.0, res)) AS min_lon,
       (CASE WHEN cy > 0 THEN cy WHEN cy = 0 THEN -1 ELSE cy - 1 END) * (1.0 / power(10.0, res)) AS min_lat,
       (CASE WHEN cx >= 0 THEN cx + 1 ELSE cx END) * (1.0 / power(10.0, res)) AS max_lon,
       (CASE WHEN cy >= 0 THEN cy + 1 ELSE cy END) * (1.0 / power(10.0, res)) AS max_lat,
       n_points
FROM t WHERE n_points >= 2""")
def raster_vector_q(spark, sf_dir):
    t = TL.tile_rollup(_points(spark, sf_dir), [1])
    return TL.raster_to_vector(t, threshold=2).select(
        F.col("precision").alias("res"), "cx", "cy",
        "min_lon", "min_lat", "max_lon", "max_lat", "n_points",
    )


xlo, xhi, ylo, yhi = bbox_cell_range(G.VITORIA_UL, G.VITORIA_LR, PRECISION)
_IN_BBOX = f"""CAST(trunc(n.lon * 100) AS BIGINT) BETWEEN {xlo} AND {xhi}
  AND CAST(trunc(n.lat * 100) AS BIGINT) BETWEEN {ylo} AND {yhi}"""


# J6 from one extract_bbox call: the nodes whose cell is in the range
# (kind 'node') and the ways with any such node (kind 'way')
@query("bbox_vitoria_nodes", f"""WITH {NODES}, {WAYS}
SELECT 'node' AS kind, n.id, n.lon, n.lat FROM nodes n WHERE {_IN_BBOX}
UNION ALL
SELECT DISTINCT 'way', wr.id, NULL::DOUBLE, NULL::DOUBLE FROM ways_refs wr
JOIN nodes n ON wr.ref = n.id WHERE {_IN_BBOX}""")
def bbox_nodes_q(spark, sf_dir):
    inside, ways = J.extract_bbox(
        _nodes(spark, sf_dir), _ways(spark, sf_dir),
        G.VITORIA_UL, G.VITORIA_LR, PRECISION,
    )
    none = F.lit(None).cast("double")
    ways = ways.select(F.lit("way").alias("kind"), "id",
                       none.alias("lon"), none.alias("lat"))
    return inside.select(
        F.lit("node").alias("kind"), "id", "lon", "lat"
    ).unionByName(ways)


# bbox_vitoria_nodes' node rows, served via the cell-clustered store
# (layout changes, semantics must not)
@query("bbox_store_nodes", f"""WITH {NODES}
SELECT id, lon, lat FROM nodes n WHERE {_IN_BBOX}""")
def bbox_store_q(spark, sf_dir):
    # J6 over the cell-clustered STORE (sources/store.py): the same
    # Vitória bbox, but served by directory-level partition pruning
    # + parquet row-group skipping instead of a full scan — the
    # physical layout the 100 TB deployment uses. Store is
    # materialized once per scale under the system temp dir.
    import os
    import tempfile

    from osm_jl_spark.sources.store import (
        read_points_bbox,
        write_points_clustered,
    )

    n = _counts(sf_dir)["nodes"]
    path = os.path.join(tempfile.gettempdir(), f"osm_store_nodes_{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_points_clustered(
            _nodes(spark, sf_dir).select("id", "lon", "lat"), path
        )
    return read_points_bbox(
        spark, path, G.VITORIA_UL, G.VITORIA_LR
    ).select("id", "lon", "lat")


# the same slippy-map arithmetic, same operation order (clamp ->
# sin -> ln ratio -> scaled floor), same bit-interleave
_4pi = 4.0 * 3.141592653589793
_QK_CTES = f"""m AS (
  SELECT id,
         sin(radians(greatest(least(lat, 85.05112878), -85.05112878)))
           AS s,
         lon
  FROM nodes
),
t AS (
  SELECT id,
         greatest(least(CAST(floor((lon + 180.0) / 360.0 * 4096.0)
           AS BIGINT), 4095), 0) AS x,
         greatest(least(CAST(floor(
           (0.5 - ln((1.0 + s) / (1.0 - s)) / {_4pi!r}) * 4096.0)
           AS BIGINT), 4095), 0) AS y
  FROM m
),
q AS (
  SELECT id, array_to_string(list_transform(range(11, -1, -1),
           b -> CAST(((x >> b) & 1) + 2 * ((y >> b) & 1) AS VARCHAR)),
           '') AS qk
  FROM t
)"""


def _qk_store(spark, sf_dir) -> str:
    """The zoom-12 quadkey store of the nodes (sources/store.py:
    write_points_quadkey), written once per scale under the system
    temp dir."""
    import os
    import tempfile

    from osm_jl_spark.sources.store import write_points_quadkey

    n = _counts(sf_dir)["nodes"]
    path = os.path.join(tempfile.gettempdir(), f"osm_store_qk_{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_points_quadkey(
            _nodes(spark, sf_dir).select("id", "lon", "lat"), path
        )
    return path


@query("quadkey_tiles", f"""WITH {NODES}, {_QK_CTES}
SELECT qk, substr(qk, 1, 10) AS qk_parent, count(*) AS n
FROM q GROUP BY qk""")
def quadkey_tiles_q(spark, sf_dir):
    # web-mercator z/x/y tiling (functions/cells.py:quadkey_col):
    # zoom-12 quadkey per node, counts per tile PLUS the zoom-10
    # parent rollup AS A PREFIX SUBSTRING — pinning the property
    # that makes quadkeys the clustering key for multi-zoom tile
    # serving (parents are prefixes; rollup needs no re-encode).
    # Oracle: the same slippy-map arithmetic in DuckDB, bit ops
    # and all.
    from osm_jl_spark.functions.cells import with_quadkey

    nodes = with_quadkey(_nodes(spark, sf_dir), zoom=12)
    z12 = nodes.groupBy("qk").agg(F.count(F.lit(1)).alias("n"))
    return z12.select(
        "qk",
        F.substring("qk", 1, 10).alias("qk_parent"),
        "n",
    )


# the store read must return exactly the nodes whose zoom-12
# quadkey has the tile's prefix — the oracle recomputes every
# node's quadkey from scratch and applies the prefix test, which
# independently verifies BOTH the stored qk column and the
# layout's pruning predicates (a stripe/pushdown bug that drops or
# leaks rows fails the value hash)
@query("tile_store_read", f"""WITH {NODES}, {_QK_CTES}
SELECT id, qk FROM q WHERE substr(qk, 1, 4) = '2110'""")
def tile_store_read_q(spark, sf_dir):
    # tile-serving STORE read (sources/store.py:write_points_quadkey
    # / read_points_tile): nodes persisted partitioned by the zoom-2
    # quadkey prefix and qk-sorted within files, then one z4 tile
    # subtree ("2110" — the Vitória tile) served as a pruned scan:
    # stripe equality in PartitionFilters, StringStartsWith(qk)
    # pushed to parquet row groups, zero exchanges, zero Python
    # (plan pinned in tests/test_store.py). The quadkey analogue of
    # bbox_store_nodes; at 10^12 points a map-tile request touches
    # one directory and the row groups whose qk range overlaps.
    from osm_jl_spark.sources.store import read_points_tile

    path = _qk_store(spark, sf_dir)
    return read_points_tile(spark, path, "2110").select("id", "qk")


# the serving composite: same from-scratch quadkey recomputation,
# then the '2110' subtree filter and the multi-zoom prefix rollup
# replayed independently (substr = parent tile, per-zoom counts)
@query("tile_serving", f"""WITH {NODES}, {_QK_CTES},
served AS (SELECT qk FROM q WHERE substr(qk, 1, 4) = '2110'),
z AS (SELECT unnest([4, 6, 8, 12]) AS zoom)
SELECT z.zoom, substr(served.qk, 1, z.zoom) AS tile_qk,
       count(*) AS n_points
FROM served CROSS JOIN z
GROUP BY z.zoom, substr(served.qk, 1, z.zoom)""")
def tile_serving_q(spark, sf_dir):
    # the full tile-SERVING path a map consumer hits, as ONE
    # Catalyst plan: write_points_quadkey (zoom-12 store,
    # prefix-partitioned — same cached store as tile_store_read)
    # -> read_points_tile("2110": stripe dir pruned, qk
    # StringStartsWith pushed to row groups) ->
    # tiling.quadkey_rollup over zooms 4/6/8/12 (parents = string
    # prefixes, salted two-stage agg). Zero exchanges before the
    # rollup's partial aggregation (plan pinned in
    # tests/test_store.py). The oracle recomputes every quadkey
    # from raw lon/lat and replays prefix filter + rollup.
    from osm_jl_spark.sources.store import read_points_tile

    served = read_points_tile(spark, _qk_store(spark, sf_dir), "2110")
    return TL.quadkey_rollup(served, [4, 6, 8, 12]).select(
        "zoom", "tile_qk", "n_points"
    )


# geohash replay: identical IEEE scale/floor ops over the same
# CTE-regenerated doubles, bit interleave unrolled exactly like
# the engine's codegen (functions/cells.py:geohash_col)
def _geohash_char_sql(length: int) -> str:
    bits = 5 * length
    nx = (bits + 1) // 2
    ny = bits - nx
    chars = []
    for ci in range(length):
        terms = []
        for k in range(5):
            g = 5 * ci + k
            src = "x" if g % 2 == 0 else "y"
            pos = (nx if g % 2 == 0 else ny) - 1 - g // 2
            terms.append(f"(({src} >> {pos}) & 1) * {1 << (4 - k)}")
        chars.append(
            f"substring('{GEOHASH_BASE32}', "
            f"CAST({' + '.join(terms)} AS INT) + 1, 1)"
        )
    return "concat(" + ", ".join(chars) + ")"


_gh_nx, _gh_ny = 13, 12


@query("geohash_tiles", f"""WITH {NODES},
m AS (
  SELECT id,
         CAST(greatest(least(floor((lon + 180.0) / 360.0 *
           {float(2**_gh_nx)!r}), {2**_gh_nx - 1}), 0) AS BIGINT) AS x,
         CAST(greatest(least(floor((lat + 90.0) / 180.0 *
           {float(2**_gh_ny)!r}), {2**_gh_ny - 1}), 0) AS BIGINT) AS y
  FROM nodes
),
g AS (SELECT {_geohash_char_sql(5)} AS gh FROM m),
z AS (SELECT unnest([2, 5]) AS gh_len)
SELECT z.gh_len, substr(g.gh, 1, z.gh_len) AS gh, count(*) AS n
FROM g CROSS JOIN z
GROUP BY z.gh_len, substr(g.gh, 1, z.gh_len)""")
def geohash_tiles_q(spark, sf_dir):
    # geohash index family (functions/cells.py:geohash_col — the
    # equirectangular sibling of the quadkey encode, same
    # parents-are-prefixes property) composed with the SAME
    # quadkey_rollup operator, proving the prefix-rollup machinery
    # is index-family-agnostic: nodes -> 5-char geohash -> counts
    # at prefix lengths 2 and 5. The oracle recomputes every
    # geohash bit from raw lon/lat (identical IEEE floor/scale
    # ops) and replays the rollup.
    from osm_jl_spark.functions.cells import with_geohash
    from osm_jl_spark.operators.tiling import quadkey_rollup

    pts = with_geohash(
        _nodes(spark, sf_dir).select("id", "lon", "lat"), 5
    )
    return quadkey_rollup(pts, [2, 5], qk_col="gh").select(
        F.col("zoom").alias("gh_len"),
        F.col("tile_qk").alias("gh"),
        F.col("n_points").alias("n"),
    )


@query("knn_ring", f"""WITH {NODES},
q AS (SELECT id AS query_id, lon AS qlon, lat AS qlat FROM nodes WHERE id <= 20),
d AS (
  SELECT q.query_id, n.id,
         (n.lon - q.qlon) * (n.lon - q.qlon) + (n.lat - q.qlat) * (n.lat - q.qlat) AS d2
  FROM q, nodes n
),
r AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY d2, id) AS knn_rank
  FROM d
)
SELECT query_id, id, knn_rank FROM r WHERE knn_rank <= 5""")
def knn_q(spark, sf_dir):
    nodes = _nodes(spark, sf_dir)
    q = nodes.filter(F.col("id") <= 20).select(
        F.col("id").alias("query_id"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
    )
    # precision 3 is the kNN INDEX grid, not the engine cell
    # standard: results are provably precision-independent (the
    # stop rule is sound at any step), but city-scale data packs
    # >20k nodes into one precision-2 cell (~1.1 km) — a finer
    # grid keeps per-query candidate sets near k instead of
    # city-sized.
    return knn_join(nodes, q, k=5, precision=3).select(
        "query_id", "id", F.col("rank").alias("knn_rank")
    )


# 10k-query variant: same ring-expansion join, checked as an
# aggregate checksum over (query, neighbor, rank) — the full result
# set would be 50k rows of brute-force window in DuckDB, fine at
# sf0.01, and the checksum still pins every neighbor id and rank.
# Offsets (+0.001) keep queries off their own node (rank 1 is a
# genuine nearest-neighbor decision, not identity).
@query("knn_ring_10k", f"""WITH {NODES},
q AS (SELECT id AS query_id, lon + 0.001 AS qlon, lat + 0.001 AS qlat
      FROM nodes WHERE id <= 10000),
d AS (
  SELECT q.query_id, n.id,
         (n.lon - q.qlon) * (n.lon - q.qlon) + (n.lat - q.qlat) * (n.lat - q.qlat) AS d2
  FROM q, nodes n
),
r AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY d2, id) AS rnk
  FROM d
)
SELECT CAST(count(*) AS BIGINT) AS n_results,
       CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(sum(query_id * 100003 + id * 31 + rnk) AS BIGINT) AS checksum
FROM r WHERE rnk <= 5""")
def knn_10k_q(spark, sf_dir):
    # query-side scale proof: 10k queries through the SAME ring
    # expansion — possible only because per-query bookkeeping is
    # DataFrame-resident (no per-query driver state). Aggregated
    # output keeps the rows-only check stable; the per-query path
    # is oracle-checked by knn_ring.
    nodes = _nodes(spark, sf_dir).select("id", "lon", "lat")
    q = nodes.filter(F.col("id") <= 10000).select(
        F.col("id").alias("query_id"),
        (F.col("lon") + 0.001).alias("qlon"),
        (F.col("lat") + 0.001).alias("qlat"),
    )
    out = knn_join(nodes, q, k=5, precision=3)
    return out.agg(
        F.count(F.lit(1)).alias("n_results"),
        F.countDistinct("query_id").alias("n_queries"),
        F.sum(
            F.col("query_id") * 100003 + F.col("id") * 31 + F.col("rank")
        ).cast("long").alias("checksum"),
    )


# radius join: the oracle is the NAIVE cross-product distance
# filter over the generator's own integer micro-degree coordinates
# (nodes_coord.lon_u/lat_u — no double recovery needed on this
# side); the engine's broadcast cell-ring cover must produce
# exactly the same pair set and the identical BIGINT d2
@query("radius_join", f"""WITH {NODES},
pts AS (SELECT id, lon_u, lat_u FROM nodes_coord),
ctr AS (SELECT id, lon_u, lat_u FROM nodes_coord WHERE id % 997 = 0)
SELECT c.id AS center_id, p.id AS point_id,
       CAST((p.lon_u - c.lon_u) * (p.lon_u - c.lon_u)
          + (p.lat_u - c.lat_u) * (p.lat_u - c.lat_u) AS BIGINT) AS d2
FROM pts p JOIN ctr c
  ON (p.lon_u - c.lon_u) * (p.lon_u - c.lon_u)
     + (p.lat_u - c.lat_u) * (p.lat_u - c.lat_u) <= 90000""")
def radius_join_q(spark, sf_dir):
    # all-pairs-within-d spatial join (operators/joins.py:
    # within_distance_join): every (center, node) pair with planar
    # integer distance^2 <= 300^2 micro-degree units. Centers are
    # the id % 997 == 0 nodes (a ~m/1000-row dimension) — they
    # explode into 3x3 radius-width cell rings and BROADCAST; the
    # node side computes one cell and never shuffles. The exact
    # BIGINT predicate makes the oracle (the naive cross-product
    # distance filter over the same generator integers) hash-exact
    # with zero float hazard.
    nodes = _nodes(spark, sf_dir).select("id", "lon", "lat")
    centers = nodes.filter(F.col("id") % 997 == 0)
    return J.within_distance_join(nodes, centers, 300)


# rectangle overlap: the oracle is the NAIVE cross-product overlap
# filter over the generator's own micro-degree integers — the
# engine's grid-cover + reporting-cell plan must reproduce every
# pair and exact integer area once
@query("bbox_overlap_join", f"""WITH {NODES},
ra AS (
  SELECT id,
         lon_u - (10 + (id * 37) % 190) AS minx,
         lat_u - (10 + (id * 61) % 190) AS miny,
         lon_u + (10 + (id * 37) % 190) AS maxx,
         lat_u + (10 + (id * 61) % 190) AS maxy
  FROM nodes_coord WHERE id % 31 = 0
),
rb AS (
  SELECT id,
         lon_u - (10 + (id * 53) % 190) AS minx,
         lat_u - (10 + (id * 29) % 190) AS miny,
         lon_u + (10 + (id * 53) % 190) AS maxx,
         lat_u + (10 + (id * 29) % 190) AS maxy
  FROM nodes_coord WHERE id % 43 = 0
)
SELECT a.id AS a_id, b.id AS b_id,
       CAST((least(a.maxx, b.maxx) - greatest(a.minx, b.minx))
          * (least(a.maxy, b.maxy) - greatest(a.miny, b.miny))
          AS BIGINT) AS ix_area
FROM ra a JOIN rb b
  ON a.minx <= b.maxx AND b.minx <= a.maxx
 AND a.miny <= b.maxy AND b.miny <= a.maxy""")
def bbox_overlap_join_q(spark, sf_dir):
    # rectangle-overlap spatial join (operators/joins.py:
    # envelope_join): two deterministic rectangle sets derived
    # from the node table's EXACT micro-degree integers (centers =
    # every 31st / 43rd node, half-widths 10..199 from pure id
    # arithmetic — extents < cell_w 500, so no rectangle trips the
    # oversize raise: 2x2-max cell covers, one equi-join on the
    # cell key, reporting-cell dedup, zero nested loops). Output
    # (a_id, b_id, ix_area) with the overlap area exact BIGINT.
    # The oracle is the naive cross-product overlap filter over
    # the same generator integers — an independent formulation.
    nodes = _nodes(spark, sf_dir).select(
        "id", J._micro("lon").alias("x"), J._micro("lat").alias("y")
    )

    def rects(mod, kx, ky):
        rx = F.lit(10) + (F.col("id") * kx) % 190
        ry = F.lit(10) + (F.col("id") * ky) % 190
        return nodes.filter(F.col("id") % mod == 0).select(
            "id",
            (F.col("x") - rx).alias("minx"),
            (F.col("y") - ry).alias("miny"),
            (F.col("x") + rx).alias("maxx"),
            (F.col("y") + ry).alias("maxy"),
        )

    return J.envelope_join(
        rects(31, 37, 61), rects(43, 53, 29), cell_w=500
    )


_re, _rp = 6378137.0, 6356752.3
_e2 = 1.0 - (_rp * _rp) / (_re * _re)
_phi0 = math.radians(G.FROGNER[0][1])
_lam0 = math.radians(G.FROGNER[0][0])
_n0 = _re / math.sqrt(1.0 - _e2 * math.sin(_phi0) ** 2)
_x0 = _n0 * math.cos(_phi0) * math.cos(_lam0)
_y0 = _n0 * math.cos(_phi0) * math.sin(_lam0)
_z0 = (1.0 - _e2) * _n0 * math.sin(_phi0)
_sp, _cp = math.sin(_phi0), math.cos(_phi0)
_sl, _cl = math.sin(_lam0), math.cos(_lam0)


@query("ecef_enu", f"""WITH {NODES},
g AS (
  SELECT id, radians(lat) AS phi, radians(lon) AS lam
  FROM nodes WHERE id <= 500
),
c AS (
  SELECT id, phi, lam,
         {_re!r} / sqrt(1.0 - {_e2!r} * sin(phi) * sin(phi)) AS nn
  FROM g
),
x AS (
  SELECT id,
         ((nn + 0.0) * cos(phi)) * cos(lam) AS ex,
         ((nn + 0.0) * cos(phi)) * sin(lam) AS ey,
         ({(1.0 - _e2)!r} * nn + 0.0) * sin(phi) AS ez
  FROM c
)
SELECT id,
       round(ex, 2) + 0.0 AS ecef_x, round(ey, 2) + 0.0 AS ecef_y,
       round(ez, 2) + 0.0 AS ecef_z,
       round({-_sl!r} * (ex - {_x0!r}) + {_cl!r} * (ey - {_y0!r}), 2) + 0.0 AS enu_e,
       round({(-_sp * _cl)!r} * (ex - {_x0!r}) + {(-_sp * _sl)!r} * (ey - {_y0!r}) + {_cp!r} * (ez - {_z0!r}), 2) + 0.0 AS enu_n,
       round({(_cp * _cl)!r} * (ex - {_x0!r}) + {(_cp * _sl)!r} * (ey - {_y0!r}) + {_sp!r} * (ez - {_z0!r}), 2) + 0.0 AS enu_u
FROM x""")
def ecef_enu_q(spark, sf_dir):
    # C3/C4 (src/coords.jl): geodetic -> ECEF -> local ENU at the
    # Frogner corner, all native column math; outputs rounded to cm
    # (sin/cos may differ by an ulp between engines) and +0.0 to
    # normalize -0.0.
    from osm_jl_spark.functions.geo import with_enu

    n = _nodes(spark, sf_dir).filter(F.col("id") <= 500)
    e = with_enu(n, G.FROGNER[0][0], G.FROGNER[0][1])
    return e.select(
        "id",
        *[
            (F.round(c, 2) + F.lit(0.0)).alias(c)
            for c in ["ecef_x", "ecef_y", "ecef_z",
                      "enu_e", "enu_n", "enu_u"]
        ],
    )

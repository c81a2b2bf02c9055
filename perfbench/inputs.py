"""Seeded inputs and their expected results, both computed with DuckDB.

The generator follows ``osm_jl_spark.datagen``'s arithmetic (Knuth
multiplicative hashing, integer micro-degree coordinates, ~50% of
points in the dense Oslo cluster, 25% around Vitória, 25% world noise)
with one change: every row hash is offset by a value derived from the
seed, so each seed yields a different but identically shaped input.

Expected results (the digests a run is checked against) are computed
here once per input and cached next to it. The cache key holds
``GEN_VERSION``, ``datagen.PAGES_CACHE_VERSION``, the seed and the
sizes, so a change to the generator never serves a stale digest.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from osm_jl_spark import datagen as G

# Bump whenever generated content or a digest definition changes.
GEN_VERSION = 1

KNUTH, M32, A1, A2, MERS = G.KNUTH, G.M32, G.A1, G.A2, G.MERS
# row-digest modulus (prime below 2^31): every term stays far below
# 2^63, so Spark's ANSI arithmetic never overflows computing it
P = 2147483629

SIZES = {
    "crawl_flagship": {"docs": 250_000},
    "polygon_tiles": {"points": 300_000, "queries": 40, "knn_points": 100_000,
                      "nodes": 40_000, "ways": 4_000, "relations": 2_000},
}

FLAGSHIP_PRECISION = 2
ROLLUP_PRECISIONS = [0, 1, 2, 3]
RASTER_THRESHOLD = 2
KNN_K = 5
KNN_PRECISION = 3
KNN_CHECKED = 12  # queries verified against brute force per pass
HIGHWAY_SELECT = ["primary", "secondary", "tertiary", "residential"]
TILE_READS = 8  # closed-loop tile requests per pass
STORE_UNITS = 2  # manifest units (lon stripes at precision 0)


def pip_polygons() -> dict[int, list[tuple[float, float]]]:
    """The 99-polygon set of ``polygon_tiles``: the three reference
    fixtures plus the 96-square grid, re-keyed from 101 so ids stay
    unique."""
    polys = dict(G.POLYGONS)
    polys.update({100 + pid: ring for pid, ring in G.polygon_grid().items()})
    return polys


def seed_offset(seed: int) -> int:
    """Row-hash offset for ``seed``; below 2^26 so (4i + offset) * KNUTH
    stays below 2^63."""
    return (seed * 7919 + 1) * 1_000_003 % (1 << 26)


def _coords(h: str) -> str:
    """SELECT-list fragment: micro-degree (lon_u, lat_u) from a 32-bit
    hash column, with datagen's cluster mix."""
    return f"""
  CASE WHEN {h} % 100 < 50 THEN 1071000 + ({h} * {A1}) % {MERS} % 2000
       WHEN {h} % 100 < 75 THEN -4036000 + ({h} * {A1}) % {MERS} % 11000
       ELSE ({h} * {A1}) % {MERS} % 36000000 - 18000000 END AS lon_u,
  CASE WHEN {h} % 100 < 50 THEN 5991900 + ({h} * {A2}) % {MERS} % 700
       WHEN {h} % 100 < 75 THEN -2033000 + ({h} * {A2}) % {MERS} % 11000
       ELSE ({h} * {A2}) % {MERS} % 17000000 - 8500000 END AS lat_u"""


def _fmt(u: str) -> str:
    """Exact 5-decimal string of a micro-degree integer."""
    return (
        f"printf('%s%d.%05d', CASE WHEN {u} < 0 THEN '-' ELSE '' END, "
        f"abs({u}) // 100000, abs({u}) % 100000)"
    )


def _row_hash(offset: int, mult: int, add: int, n: int, alias: str = "t") -> str:
    return (
        f"(SELECT range AS i, ((range * {mult} + {add} + {mult} * {offset}) "
        f"* {KNUTH}) % {M32} AS h FROM range(CAST({n} AS BIGINT))) {alias}"
    )


def _d(x: float) -> str:
    """A DOUBLE literal (a bare ``-20.23`` would be DECIMAL in DuckDB)."""
    return f"CAST({x!r} AS DOUBLE)"


def _edges_sql(polys: dict[int, list[tuple[float, float]]]) -> str:
    rows = []
    for pid, ring in sorted(polys.items()):
        for i in range(len(ring)):
            a, b = ring[i - 1], ring[i]
            rows.append(f"({pid}, {_d(a[0])}, {_d(a[1])}, {_d(b[0])}, {_d(b[1])})")
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") v(polygon_id, ax, ay, bx, by)"
    )


def _bbox_sql(polys: dict[int, list[tuple[float, float]]]) -> str:
    rows = []
    for pid, ring in sorted(polys.items()):
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        rows.append(f"({pid}, {_d(min(xs))}, {_d(max(xs))}, {_d(min(ys))}, {_d(max(ys))})")
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") v(polygon_id, minx, maxx, miny, maxy)"
    )


def _pip_pairs_sql(points: str, polys: dict) -> str:
    """(id, lon, lat, polygon_id) for every point inside a polygon by the
    even-odd rule with strict inequalities — the same crossing test as
    the engine's exact path, as SQL over a bbox-prefiltered pair set."""
    return f"""
WITH pts AS ({points}),
bb AS ({_bbox_sql(polys)}),
e AS ({_edges_sql(polys)}),
cand AS (
  SELECT p.id, p.lon, p.lat, bb.polygon_id FROM pts p JOIN bb
    ON p.lon BETWEEN bb.minx AND bb.maxx AND p.lat BETWEEN bb.miny AND bb.maxy
)
SELECT c.id, c.lon, c.lat, c.polygon_id
FROM cand c JOIN e ON e.polygon_id = c.polygon_id
GROUP BY c.id, c.lon, c.lat, c.polygon_id
HAVING sum(CASE WHEN (e.ay > c.lat) <> (e.by > c.lat)
           THEN CASE WHEN e.ax + (c.lat - e.ay) / (e.by - e.ay) * (e.bx - e.ax) < c.lon
                     THEN 1 ELSE 0 END
           ELSE 0 END) % 2 = 1"""


def _pmod(expr: str) -> str:
    return f"((({expr}) % {P}) + {P}) % {P}"


# ------------------------------------------------------------ generators


def _gen_pages(con, path: str, seed: int, n: int) -> None:
    off = seed_offset(seed)
    con.execute(f"""
CREATE OR REPLACE TABLE truth AS
WITH docs AS (SELECT i, h AS dh FROM {_row_hash(off, 1, 1, n)}),
pb AS (
  SELECT d.i, s.range AS pt_idx,
         ((d.i * 4 + s.range + 1 + 4 * {off}) * {KNUTH}) % {M32} AS h
  FROM docs d JOIN range(3) s ON s.range < d.dh % 4
)
SELECT i, pt_idx, {_coords('h')} FROM pb""")
    con.execute(f"""
COPY (
  WITH docs AS (SELECT i, h AS dh FROM {_row_hash(off, 1, 1, n)}),
  ps AS (
    SELECT i, string_agg('point lat ' || {_fmt('lat_u')} || ' lon '
                         || {_fmt('lon_u')} || ' ; ', '' ORDER BY pt_idx) AS s
    FROM truth GROUP BY i
  ),
  pages AS (
    SELECT d.i, 'https://example.org/p/' || d.i AS url,
           'Page ' || d.i || ' . ' || coalesce(ps.s, '') || 'tail '
             || (d.dh % 1000) || ' .' AS text,
           CASE d.dh % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'no' ELSE 'pt' END AS lang
    FROM docs d LEFT JOIN ps USING (i)
  )
  SELECT url, TIMESTAMP '2024-01-01' + to_seconds(i) AS warc_ts,
         encode('<html><body><p>' || text || '</p></body></html>') AS html,
         text, lang
  FROM pages ORDER BY i
) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 16384)""")


def _gen_points(con, path: str, seed: int, n: int) -> None:
    off = seed_offset(seed)
    con.execute(f"""
COPY (
  SELECT i + 1 AS id, lon_u / CAST(100000 AS DOUBLE) AS lon,
         lat_u / CAST(100000 AS DOUBLE) AS lat
  FROM (SELECT i, {_coords('h')} FROM {_row_hash(off, 1, 1, n)})
  ORDER BY id
) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 16384)""")


def _gen_queries(con, seed: int, q: int) -> list[tuple[int, float, float]]:
    # a different hash stream from the points; +0.00037 keeps queries
    # off the data points so rank 1 is a real nearest-neighbour decision
    off = seed_offset(seed)
    return con.execute(f"""
SELECT i AS query_id, lon_u / CAST(100000 AS DOUBLE) + 0.00037 AS qlon,
       lat_u / CAST(100000 AS DOUBLE) + 0.00037 AS qlat
FROM (SELECT i, {_coords('h')} FROM {_row_hash(off, 1, 7_000_001, q)})
ORDER BY i""").fetchall()


def _gen_osm(con, path: str, seed: int, m: int, w: int, r: int) -> None:
    """An .osm XML file of skewed nodes, ways over random node refs (1 in
    37 starts with a dangling ref) and relations with typed members."""
    off = seed_offset(seed)
    cls = " ".join(f"WHEN {i} THEN '{c}'" for i, c in enumerate(G.HIGHWAY_CLASSES))
    con.execute(f"""
CREATE OR REPLACE TABLE osm_nodes AS
SELECT i + 1 AS id, h, {_coords('h')} FROM {_row_hash(off, 1, 1, m)}""")
    con.execute(f"""
CREATE OR REPLACE TABLE osm_ways AS
SELECT i + 1 AS id, h, 2 + h % 9 AS nw,
       CASE WHEN h % 3 = 0 THEN CASE h % 6 {cls} END END AS highway,
       CASE WHEN h % 4 = 1 THEN 'way_' || (h % 500) END AS name
FROM {_row_hash(off, 1, 1_000_001, w)}""")
    con.execute(f"""
CREATE OR REPLACE TABLE osm_refs AS
SELECT w.id, p.range + 1 AS pos,
       CASE WHEN p.range = 0 AND w.h % 37 = 0 THEN {m} + 1 + w.h % 100
            ELSE 1 + ((w.h * (p.range + 1) * {A1}) % {M32}) % {m} END AS ref
FROM osm_ways w JOIN range(10) p ON p.range < w.nw""")
    nodes = con.execute(f"""
SELECT '<node id="' || id || '" lon="' || {_fmt('lon_u')} || '" lat="'
       || {_fmt('lat_u')} || '">'
       || CASE WHEN h % 5 = 0 THEN '<tag k="name" v="name_' || (h % 1000) || '"/>' ELSE '' END
       || CASE WHEN h % 17 = 0 THEN '<tag k="amenity" v="cafe"/>' ELSE '' END
       || '</node>'
FROM osm_nodes ORDER BY id""").fetchall()
    ways = con.execute("""
SELECT '<way id="' || w.id || '" visible="true">'
       || string_agg('<nd ref="' || r.ref || '"/>', '' ORDER BY r.pos)
       || CASE WHEN any_value(w.highway) IS NOT NULL
               THEN '<tag k="highway" v="' || any_value(w.highway) || '"/>' ELSE '' END
       || CASE WHEN any_value(w.name) IS NOT NULL
               THEN '<tag k="name" v="' || any_value(w.name) || '"/>' ELSE '' END
       || '</way>'
FROM osm_ways w JOIN osm_refs r USING (id) GROUP BY w.id ORDER BY w.id""").fetchall()
    rels = con.execute(f"""
SELECT '<relation id="' || (i + 1) || '">'
       || '<member type="way" ref="' || (1 + h % {w}) || '" role="outer"/>'
       || '<member type="node" ref="' || (1 + (h * {A2}) % {M32} % {m}) || '" role=""/>'
       || '<tag k="type" v="' || CASE WHEN h % 2 = 0 THEN 'multipolygon' ELSE 'route' END
       || '"/></relation>'
FROM {_row_hash(off, 1, 2_000_001, r)} ORDER BY i""").fetchall()
    with open(path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n')
        for part in (nodes, ways, rels):
            f.write("\n".join(row[0] for row in part))
            f.write("\n")
        f.write("</osm>\n")


# --------------------------------------------------------------- digests


def pip_digest_sql(rel: str, id_col: str = "id") -> str:
    """(count, checksum) over (point id, polygon_id) pairs of ``rel``."""
    return (
        f"SELECT count(*), coalesce(sum({_pmod(f'{id_col} * 1000003 + polygon_id * 7919')}), 0) "
        f"FROM {rel}"
    )


def rollup_row_sql() -> str:
    return _pmod("precision * 1000003 + cx * 7919 + cy * 104729 + n_points * 31")


def _expect_crawl(con, n: int) -> dict:
    pts = ("SELECT i * 4 + pt_idx AS id, lon_u / CAST(100000 AS DOUBLE) AS lon, "
           "lat_u / CAST(100000 AS DOUBLE) AS lat FROM truth")
    p = FLAGSHIP_PRECISION
    rows = con.execute(f"""
WITH inside AS ({_pip_pairs_sql(pts, G.POLYGONS)})
SELECT polygon_id, CAST(trunc(lon * {float(10 ** p)}) AS BIGINT) AS cx,
       CAST(trunc(lat * {float(10 ** p)}) AS BIGINT) AS cy, count(*) AS n_points
FROM inside GROUP BY ALL ORDER BY ALL""").fetchall()
    n_pts = con.execute("SELECT count(*), count(DISTINCT i) FROM truth").fetchone()
    return {
        "docs": n, "points": n_pts[0], "docs_with_points": n_pts[1],
        "flagship": [list(r) for r in rows],
    }


def _expect_polygon_tiles(con, path: str, seed: int, sizes: dict) -> dict:
    con.execute(f"CREATE OR REPLACE VIEW pt_in AS SELECT * FROM '{path}'")
    pip = con.execute(
        f"WITH pairs AS ({_pip_pairs_sql('SELECT id, lon, lat FROM pt_in', pip_polygons())}) "
        + pip_digest_sql("pairs")).fetchone()
    levels = " UNION ALL ".join(
        f"SELECT {p} AS precision, CAST(trunc(lon * {float(10 ** p)}) AS BIGINT) AS cx, "
        f"CAST(trunc(lat * {float(10 ** p)}) AS BIGINT) AS cy FROM pt_in"
        for p in ROLLUP_PRECISIONS)
    roll = con.execute(f"""
WITH t AS (SELECT precision, cx, cy, count(*) AS n_points FROM ({levels}) GROUP BY ALL)
SELECT count(*), sum({rollup_row_sql()}),
       count(*) FILTER (WHERE n_points >= {RASTER_THRESHOLD}) FROM t""").fetchone()
    queries = _gen_queries(con, seed, sizes["queries"])
    knn_n = sizes["knn_points"]
    checked = queries[:: max(1, len(queries) // KNN_CHECKED)][:KNN_CHECKED]
    con.execute("CREATE OR REPLACE TABLE q(query_id BIGINT, qlon DOUBLE, qlat DOUBLE)")
    con.executemany("INSERT INTO q VALUES (?, ?, ?)", checked)
    knn = con.execute(f"""
WITH d AS (
  SELECT q.query_id, n.id,
         (n.lon - q.qlon) * (n.lon - q.qlon) + (n.lat - q.qlat) * (n.lat - q.qlat) AS d2
  FROM q, (SELECT * FROM pt_in WHERE id <= {knn_n}) n
),
r AS (SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY d2, id) AS rk FROM d)
SELECT query_id, list(id ORDER BY rk) FROM r WHERE rk <= {KNN_K}
GROUP BY query_id ORDER BY query_id""").fetchall()
    return {
        "points": sizes["points"],
        "pip": list(pip),
        "rollup": [roll[0], roll[1]],
        "raster_tiles": roll[2],
        "queries": [list(q) for q in queries],
        "knn": {str(qid): ids for qid, ids in knn},
    }


def _expect_osm(con, m: int, w: int, r: int) -> dict:
    p = 2
    xlo, xhi, ylo, yhi = _bbox_cells(p)
    sel = ", ".join(f"'{c}'" for c in HIGHWAY_SELECT)
    ways_sel = con.execute(f"""
SELECT count(*), coalesce(sum(id), 0) FROM osm_ways WHERE highway IN ({sel})""").fetchone()
    # way_lengths: inner join drops dangling refs, ways with no resolved
    # node drop out entirely
    lengths = con.execute(f"""
SELECT count(*), coalesce(sum(n), 0) FROM (
  SELECT r.id, count(*) AS n FROM osm_refs r
  JOIN osm_ways w ON w.id = r.id AND w.highway IN ({sel})
  WHERE r.ref <= {m} GROUP BY r.id)""").fetchone()
    inside = f"""SELECT id FROM osm_nodes
WHERE CAST(trunc(lon_u / CAST(100000 AS DOUBLE) * 100.0) AS BIGINT) BETWEEN {xlo} AND {xhi}
  AND CAST(trunc(lat_u / CAST(100000 AS DOUBLE) * 100.0) AS BIGINT) BETWEEN {ylo} AND {yhi}"""
    bnodes = con.execute(f"SELECT count(*), coalesce(sum(id), 0) FROM ({inside})").fetchone()
    bways = con.execute(f"""
SELECT count(*), coalesce(sum(id), 0) FROM osm_ways
WHERE highway IN ({sel}) AND id IN (SELECT r.id FROM osm_refs r WHERE r.ref IN ({inside}))""").fetchone()
    node_sum = con.execute("SELECT coalesce(sum(id), 0) FROM osm_nodes").fetchone()[0]
    return {
        "elements": m + w + r, "nodes": m, "ways": w, "relations": r,
        "node_id_sum": node_sum,
        "selected_ways": list(ways_sel),
        "lengths": list(lengths),
        "bbox_nodes": list(bnodes),
        "bbox_ways": list(bways),
    }


def _bbox_cells(precision: int) -> tuple[int, int, int, int]:
    from osm_jl_spark.functions.cells import bbox_cell_range

    return bbox_cell_range(G.VITORIA_UL, G.VITORIA_LR, precision)


# ------------------------------------------------------------------ entry


def cache_key(workload: str, seed: int) -> str:
    blob = json.dumps([GEN_VERSION, G.PAGES_CACHE_VERSION, workload, seed,
                       SIZES[workload]], sort_keys=True)
    return f"{workload}-s{seed}-{hashlib.sha1(blob.encode()).hexdigest()[:12]}"


def prepare(workload: str, seed: int, cache_root: str) -> dict:
    """Generate (or reuse) the inputs for ``workload``/``seed`` and their
    expected results. Returns {"dir", "inputs": {...}, "expect": {...}}."""
    d = os.path.join(cache_root, cache_key(workload, seed))
    meta = os.path.join(d, "expect.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)
    os.makedirs(d, exist_ok=True)
    sizes = SIZES[workload]
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.execute("SET enable_progress_bar = false")
        if workload == "crawl_flagship":
            path = os.path.join(d, "pages.parquet")
            _gen_pages(con, path, seed, sizes["docs"])
            inputs, expect = {"pages": path}, _expect_crawl(con, sizes["docs"])
        elif workload == "polygon_tiles":
            path = os.path.join(d, "points.parquet")
            _gen_points(con, path, seed, sizes["points"])
            expect = _expect_polygon_tiles(con, path, seed, sizes)
            osm = os.path.join(d, "extract.osm")
            n = [sizes["nodes"], sizes["ways"], sizes["relations"]]
            _gen_osm(con, osm, seed, *n)
            expect.update(_expect_osm(con, *n))
            inputs = {"points": path, "osm": osm}
        else:
            raise ValueError(f"unknown workload {workload!r}")
    finally:
        con.close()
    out = {"dir": d, "inputs": inputs, "expect": expect}
    tmp = meta + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, meta)
    return out

"""Deterministic synthetic data generation, shared between Spark and
the driver's DuckDB oracle.

The driver-provided parquet tables (TESTDATA.md) carry TPC-H-ish data
plus ``documents``/``embeddings``; the geospatial engine additionally
needs the Common-Crawl-style pages table of the input hint
(url, warc_ts, html, text, lang — BASELINE.json) and OSM-style
nodes/ways/relations tables (FIXTURES.md). Those are generated HERE,
as SQL over ``range(n)`` using only exact integer arithmetic (Knuth
multiplicative hashing, modulo, integer division) and one final
``int / 100000.0`` division — every operation produces bit-identical
results in Spark and DuckDB, so ``oracle_sql()`` can regenerate the
exact same input the Spark query consumed with no files exchanged.

Coordinates are drawn skewed on purpose (FIXTURES.md §1): ~50% in a
dense Oslo/Frogner cluster (exercises hot-cell salting), 25% in a
Vitória cluster with negative coordinates (pins trunc-vs-floor cell
semantics, /root/reference/src/index.jl:17 + test.jl:3), 25% uniform
world noise.

Scale: row counts derive from sf via ``counts_for_sf`` (sf0.01 ->
20k docs / 10k nodes / 1k ways / 500 relations, mirroring the
reference's sizehint ratios, /root/reference/src/OSM.jl:60-62).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

KNUTH = 2654435761
M32 = 4294967296

# Bump whenever load_pages output changes content: the bench scratch
# dir persists across runs, so a stale cached pages parquet would
# silently serve the previous table shape. v2: html carries link
# anchors (pages_links).
PAGES_CACHE_VERSION = 2
A1 = 48271
A2 = 69621
MERS = 2147483647

HIGHWAY_CLASSES = [
    "motorway", "trunk", "primary", "secondary", "tertiary", "residential",
]  # /root/reference/test.jl:5-13 (unclassified excluded)

# reference fixture polygon, OPEN ring of (lon, lat) — test.jl:1
FROGNER = [
    (10.71299, 59.92589),
    (10.72496, 59.92589),
    (10.72496, 59.91941),
    (10.71299, 59.91941),
]
# Vitória bbox corners (lon, lat) — test.jl:3
VITORIA_UL = (-40.3554, -20.2273)
VITORIA_LR = (-40.2554, -20.3243)

# extra fixture polygons: a Vitória-area triangle (negative coords) and
# a larger Oslo pentagon — polygon dimension table (FIXTURES.md §5)
VITORIA_TRI = [(-40.35, -20.23), (-40.26, -20.23), (-40.30, -20.32)]
OSLO_PENT = [
    (10.70, 59.91), (10.75, 59.905), (10.78, 59.93),
    (10.74, 59.95), (10.69, 59.94),
]
POLYGONS = {1: FROGNER, 2: VITORIA_TRI, 3: OSLO_PENT}


def polygon_grid() -> dict[int, list[tuple[float, float]]]:
    """96 small square polygons tiling the two dense clusters (64 over
    Oslo, 32 over Vitória — negative coords keep the trunc-cell
    semantics honest): the many-polygon workload for the broadcast
    cell-cover + PIP join, where the 3 reference fixtures alone say
    nothing about how the operator behaves as the polygon DIMENSION
    grows. Corners are exact decimal literals, so the DuckDB edge
    VALUES reproduce them bit-for-bit."""
    polys: dict[int, list[tuple[float, float]]] = {}
    pid = 1
    for i in range(64):  # 8 x 8 over the Oslo cluster box
        x0 = round(10.710 + (i % 8) * 0.0025, 5)
        y0 = round(59.918 + (i // 8) * 0.0011, 5)
        x1, y1 = round(x0 + 0.0024, 5), round(y0 + 0.001, 5)
        polys[pid] = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        pid += 1
    for i in range(32):  # 8 x 4 over the Vitória cluster box
        x0 = round(-40.360 + (i % 8) * 0.013, 5)
        y0 = round(-20.330 + (i // 8) * 0.012, 5)
        x1, y1 = round(x0 + 0.012, 5), round(y0 + 0.011, 5)
        polys[pid] = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        pid += 1
    return polys


def counts_for_sf(sf: float) -> dict[str, int]:
    return {
        "docs": max(200, int(round(sf * 2_000_000))),
        "nodes": max(100, int(round(sf * 1_000_000))),
        "ways": max(20, int(round(sf * 100_000))),
        "relations": max(10, int(round(sf * 50_000))),
    }


# --------------------------------------------------------------- dialect

def _tok(dialect: str) -> dict[str, str]:
    if dialect == "spark":
        return {"IDIV": "DIV", "STR": "STRING"}
    if dialect == "duckdb":
        return {"IDIV": "//", "STR": "VARCHAR"}
    raise ValueError(dialect)


def _iter(dialect: str, n: int, alias: str = "t") -> str:
    if dialect == "spark":
        return f"(SELECT id AS i FROM range({n})) {alias}"
    return f"(SELECT range AS i FROM range({n})) {alias}"


def _fmt_coord(u: str, d: dict[str, str]) -> str:
    """Integer micro-degrees -> fixed 5-decimal string, exact in both
    engines (pure integer ops + string concat)."""
    return (
        f"concat(CASE WHEN {u} < 0 THEN '-' ELSE '' END, "
        f"CAST(abs({u}) {d['IDIV']} 100000 AS {d['STR']}), '.', "
        f"lpad(CAST(abs({u}) % 100000 AS {d['STR']}), 5, '0'))"
    )


def _coord_ctes(prefix: str, d: dict[str, str]) -> str:
    """Columns h2,h3,c -> lon_u,lat_u (micro-degrees). Applied to any
    CTE exposing a positive 32-bit hash column ``h``."""
    return f"""
{prefix}loc AS (
  SELECT *,
         (h * {A1}) % {MERS} AS h2,
         (h * {A2}) % {MERS} AS h3,
         h % 100 AS c
  FROM {prefix}base
),
{prefix}coord AS (
  SELECT *,
         CASE WHEN c < 50 THEN 1071000 + h2 % 2000
              WHEN c < 75 THEN -4036000 + h2 % 11000
              ELSE (h2 % 36000000) - 18000000 END AS lon_u,
         CASE WHEN c < 50 THEN 5991900 + h3 % 700
              WHEN c < 75 THEN -2033000 + h3 % 11000
              ELSE (h3 % 17000000) - 8500000 END AS lat_u
  FROM {prefix}loc
)"""


# ----------------------------------------------------------------- pages

def pages_ctes(dialect: str, n_docs: int) -> str:
    """CTE chain ending in:

    - ``pages_pts(i, url, pt_idx, lon, lat)`` — arithmetic ground-truth
      points per document (what geoparse must recover),
    - ``pages(i, url, warc_epoch, text, lang)`` — the text carries each
      point as ``point lat <D.DDDDD> lon <D.DDDDD> ;`` mentions, and
    - ``pages_links(i, url, link_idx, dst, href, dst_host)`` —
      arithmetic ground-truth outlinks per document (what the link
      extractor must recover from the html anchors ``load_pages``
      embeds). ``dh % 3`` links per doc (0–2), target doc
      ``dst = ((dh + (s+1)·KNUTH) mod 2^32) mod n_docs`` on one of 53
      external hosts ``h<dst%53>.example.net``.
    """
    d = _tok(dialect)
    fmt_lat = _fmt_coord("lat_u", d)
    fmt_lon = _fmt_coord("lon_u", d)
    return f"""pages_docs AS (
  SELECT i, ((i + 1) * {KNUTH}) % {M32} AS dh
  FROM {_iter(dialect, n_docs)}
),
pts_base AS (
  SELECT p.i, p.dh, s.i AS pt_idx,
         ((p.i * 4 + s.i + 1) * {KNUTH}) % {M32} AS h
  FROM pages_docs p
  JOIN {_iter(dialect, 3, 's')} ON s.i < p.dh % 4
),
{_coord_ctes('pts_', d).lstrip()},
pages_pts AS (
  SELECT i,
         concat('https://example.org/p/', CAST(i AS {d['STR']})) AS url,
         pt_idx,
         lon_u / CAST(100000 AS DOUBLE) AS lon,
         lat_u / CAST(100000 AS DOUBLE) AS lat,
         lon_u, lat_u
  FROM pts_coord
),
pts_str AS (
  SELECT i, pt_idx,
         concat('point lat ', {fmt_lat}, ' lon ', {fmt_lon}, ' ; ') AS s
  FROM pts_coord
),
pages AS (
  SELECT p.i,
         concat('https://example.org/p/', CAST(p.i AS {d['STR']})) AS url,
         1704067200 + p.i AS warc_epoch,
         concat('Page ', CAST(p.i AS {d['STR']}), ' . ',
                coalesce(max(CASE WHEN g.pt_idx = 0 THEN g.s END), ''),
                coalesce(max(CASE WHEN g.pt_idx = 1 THEN g.s END), ''),
                coalesce(max(CASE WHEN g.pt_idx = 2 THEN g.s END), ''),
                'tail ', CAST(p.dh % 1000 AS {d['STR']}), ' .') AS text,
         CASE p.dh % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'no' ELSE 'pt' END AS lang
  FROM pages_docs p
  LEFT JOIN pts_str g ON g.i = p.i
  GROUP BY p.i, p.dh
),
pages_links AS (
  SELECT p.i,
         concat('https://example.org/p/', CAST(p.i AS {d['STR']})) AS url,
         s.i AS link_idx,
         CAST({_LINK_DST.format(n=n_docs)} AS BIGINT) AS dst,
         {link_href_sql(d, _LINK_DST.format(n=n_docs))} AS href,
         {link_host_sql(d, _LINK_DST.format(n=n_docs))} AS dst_host
  FROM pages_docs p
  JOIN {_iter(dialect, 2, 's')} ON s.i < p.dh % 3
)"""


# target-doc expression for pages_links (one definition; see
# link_href_sql)
_LINK_DST = f"(((p.dh + (s.i + 1) * {KNUTH}) % {M32}) % {{n}})"


def link_href_sql(d: dict[str, str], dst: str) -> str:
    """The href string for the target-doc expression ``dst`` — defined
    ONCE so the html anchors (load_pages), the DuckDB oracles, and any
    direct CTE consumer agree by construction."""
    return (
        f"concat('https://h', CAST(({dst}) % 53 AS {d['STR']}),"
        f" '.example.net/d/', CAST({dst} AS {d['STR']}))"
    )


def link_host_sql(d: dict[str, str], dst: str) -> str:
    """Host of :func:`link_href_sql` for the same ``dst``."""
    return f"concat('h', CAST(({dst}) % 53 AS {d['STR']}), '.example.net')"


def load_pages(spark: SparkSession, n_docs: int) -> DataFrame:
    """Materialize the input-hint table (url, warc_ts, html, text, lang).

    html wraps text in deterministic markup; the engine's ingestion path
    re-extracts text from html with the native regexp kernel, and pytest
    pins the byte-identical invariant.

    ``warc_ts`` is TIMESTAMP_NTZ via the same interval-arithmetic
    construction as :func:`load_crawls` (ADVICE r3: this loader had
    kept the session-timezone-dependent ``timestamp_seconds`` LTZ
    form, so the two tables carried different timestamp types and
    pages was correct only under session.py's UTC pin).
    """
    ctes = pages_ctes("spark", n_docs)
    return spark.sql(
        f"""WITH {ctes},
anchors AS (
  -- whitespace-free <a href></a> anchors AFTER </p>: pure markup, so
  -- extract_text (tags -> space, collapse, strip) still returns text
  -- byte-identically while the link extractor has real hrefs to find
  SELECT i,
         concat(
           coalesce(max(CASE WHEN link_idx = 0
                        THEN concat('<a href="', href, '"></a>') END), ''),
           coalesce(max(CASE WHEN link_idx = 1
                        THEN concat('<a href="', href, '"></a>') END), '')
         ) AS anch
  FROM pages_links
  GROUP BY i
)
SELECT p.url,
       timestampadd(SECOND, p.warc_epoch,
                    TIMESTAMP_NTZ '1970-01-01 00:00:00') AS warc_ts,
       encode(concat('<html><body><p>', p.text, '</p>',
                     coalesce(a.anch, ''), '</body></html>'),
              'utf-8') AS html,
       p.text,
       p.lang
FROM pages p
LEFT JOIN anchors a ON a.i = p.i"""
    )


def stored_pages(spark: SparkSession, n_docs: int, directory: str) -> str:
    """Path of :func:`load_pages`'s ``n_docs`` table stored as parquet in
    ``directory``, written on first use. The name carries
    ``PAGES_CACHE_VERSION``, so a table of an older shape is never read."""
    path = os.path.join(
        directory, f"pages_v{PAGES_CACHE_VERSION}_{n_docs}.parquet"
    )
    if not os.path.exists(path):
        os.makedirs(directory, exist_ok=True)
        load_pages(spark, n_docs).write.mode("overwrite").parquet(path)
    return path


def load_pages_points(spark: SparkSession, n_docs: int) -> DataFrame:
    """Arithmetic ground-truth points (url, pt_idx, lon, lat) — used by
    tests to validate the geoparse path, never by the engine itself."""
    ctes = pages_ctes("spark", n_docs)
    return spark.sql(
        f"WITH {ctes} SELECT url, pt_idx, lon, lat FROM pages_pts"
    )


# ---------------------------------------------------------------- crawls

def crawls_ctes(dialect: str, n_docs: int, caps: int = 3) -> str:
    """CTE chain ending in ``crawls(url, warc_epoch, fetch_h)``: the
    same ``n_docs`` page urls, each captured ``caps`` times (a
    Common-Crawl-style recrawl history). Capture ``j`` of url ``u``
    (row ``i = u*caps + j``) has ``warc_epoch = base + u + j*n_docs``
    — distinct within every url, so "the latest capture" is unique and
    both engines agree on it. ``fetch_h`` is a deterministic
    per-capture content hash stand-in.

    Captures of a url are CONTIGUOUS in row order (``u = i // caps``),
    like a WARC segment or a url-clustered Iceberg table — so the
    bench actually exercises :func:`snapshot_latest`'s map-side
    partial_max_by reduction (ADVICE r2: the old ``u = i % caps``
    layout spread every url's captures ``n_docs`` rows apart, and the
    partial aggregate reduced almost nothing).
    """
    d = _tok(dialect)
    return f"""crawl_base AS (
  SELECT i FROM {_iter(dialect, n_docs * caps)}
),
crawls AS (
  SELECT concat('https://example.org/p/', CAST(i {d['IDIV']} {caps} AS {d['STR']})) AS url,
         1704067200 + (i {d['IDIV']} {caps}) + (i % {caps}) * {n_docs} AS warc_epoch,
         ((i + 7) * {KNUTH}) % {M32} AS fetch_h
  FROM crawl_base
)"""


def load_crawls(spark: SparkSession, n_docs: int, caps: int = 3) -> DataFrame:
    """Materialize the recrawl history (url, warc_ts, fetch_h).

    ``warc_ts`` is TIMESTAMP_NTZ built by interval arithmetic from the
    NTZ epoch literal — never through an LTZ instant, whose wall-clock
    fields (and thus ``epoch_sec``) would depend on
    ``spark.sql.session.timeZone``. This way the UTC-of-epoch wall
    time is pinned regardless of session config (ADVICE r2; the old
    ``timestamp_seconds`` form was correct only under session.py's
    UTC pin).
    """
    ctes = crawls_ctes("spark", n_docs, caps)
    return spark.sql(
        f"""WITH {ctes}
SELECT url,
       timestampadd(SECOND, warc_epoch,
                    TIMESTAMP_NTZ '1970-01-01 00:00:00') AS warc_ts,
       fetch_h
FROM crawls"""
    )


# ----------------------------------------------------------------- nodes

def _tag_cols(d: dict[str, str]) -> str:
    cls = " ".join(
        f"WHEN {i} THEN '{c}'" for i, c in enumerate(HIGHWAY_CLASSES)
    )
    return f"""
         CASE WHEN h % 5 = 0 THEN concat('name_', CAST(h % 1000 AS {d['STR']})) END AS t_name,
         CASE WHEN h % 7 = 0 THEN CASE h % 6 {cls} END END AS t_highway,
         CASE WHEN h % 11 = 0 THEN 'yes' END AS t_building,
         CASE WHEN h % 13 = 0 THEN concat('street_', CAST(h % 50 AS {d['STR']})) END AS t_addr_street,
         CASE WHEN h % 13 = 0 THEN CAST(h % 200 AS {d['STR']}) END AS t_addr_housenumber,
         CASE WHEN h % 26 = 0 THEN concat('0', CAST(h % 1000 AS {d['STR']})) END AS t_addr_postcode,
         CASE WHEN h % 26 = 0 THEN concat('city_', CAST(h % 10 AS {d['STR']})) END AS t_addr_city,
         CASE WHEN h % 17 = 0 THEN 'cafe' END AS t_amenity"""


def nodes_ctes(dialect: str, m: int) -> str:
    """Ends in ``nodes(id, lon, lat, h, t_*)`` — scalar tag columns; the
    Spark loader folds them into a MAP<STRING,STRING>."""
    d = _tok(dialect)
    return f"""nodes_base AS (
  SELECT i + 1 AS id, ((i + 1) * {KNUTH}) % {M32} AS h
  FROM {_iter(dialect, m)}
),
{_coord_ctes('nodes_', d).lstrip()},
nodes AS (
  SELECT id, h,
         lon_u / CAST(100000 AS DOUBLE) AS lon,
         lat_u / CAST(100000 AS DOUBLE) AS lat,{_tag_cols(d)}
  FROM nodes_coord
)"""


_TAG_MAP_SQL = """map_from_entries(filter(array(
    named_struct('key', 'name', 'value', t_name),
    named_struct('key', 'highway', 'value', t_highway),
    named_struct('key', 'building', 'value', t_building),
    named_struct('key', 'addr:street', 'value', t_addr_street),
    named_struct('key', 'addr:housenumber', 'value', t_addr_housenumber),
    named_struct('key', 'addr:postcode', 'value', t_addr_postcode),
    named_struct('key', 'addr:city', 'value', t_addr_city),
    named_struct('key', 'amenity', 'value', t_amenity)
  ), e -> e.value IS NOT NULL)) AS tags"""


def load_nodes(spark: SparkSession, m: int) -> DataFrame:
    """nodes(id BIGINT, lon DOUBLE, lat DOUBLE, tags MAP<STRING,STRING>)
    — the engine's Node table (src/elements.jl:63-68 -> FIXTURES.md §2)."""
    ctes = nodes_ctes("spark", m)
    return spark.sql(
        f"WITH {ctes} SELECT id, lon, lat, {_TAG_MAP_SQL} FROM nodes"
    )


# ------------------------------------------------------------------ ways

def ways_ctes(dialect: str, w: int, m: int) -> str:
    """Ends in:

    - ``ways(id, h, nw, visible, t_*)`` — way shells, and
    - ``ways_refs(id, pos, ref)`` — EXPLODED ordered node refs
      (pos 1-based), the cross-dialect ground truth for J1/J2/J4.

    Ref rules: ~1/4 of ways are closed (last ref == first,
    src/elements.jl:234); ~1/37 have a dangling first ref (> m) to pin
    inner-join semantics (src/OSM.jl:131 KeyError -> we drop instead,
    SURVEY.md §2.3 J1).
    """
    d = _tok(dialect)
    ref1 = (
        f"CASE WHEN h % 37 = 0 THEN {m} + 1 + h % 100 "
        f"ELSE 1 + ((h * 48271) % {M32}) % {m} END"
    )
    refj = f"1 + ((h * (p.i + 1) * 48271) % {M32}) % {m}"
    return f"""ways_base AS (
  SELECT i + 1 AS id, ((i + 1000001) * {KNUTH}) % {M32} AS h
  FROM {_iter(dialect, w)}
),
ways AS (
  SELECT id, h, 2 + h % 9 AS nw,
         h % 50 <> 0 AS visible,
         CASE WHEN h % 3 = 0 THEN CASE h % 6 {' '.join(f"WHEN {i} THEN '{c}'" for i, c in enumerate(HIGHWAY_CLASSES))} END END AS t_highway,
         CASE WHEN h % 5 = 1 THEN 'yes' END AS t_building,
         CASE WHEN h % 4 = 1 THEN concat('way_', CAST(h % 500 AS {d['STR']})) END AS t_name,
         CASE WHEN h % 13 = 0 THEN concat('street_', CAST(h % 50 AS {d['STR']})) END AS t_addr_street,
         CASE WHEN h % 13 = 0 THEN CAST(h % 200 AS {d['STR']}) END AS t_addr_housenumber
  FROM ways_base
),
ways_refs AS (
  SELECT w.id, p.i + 1 AS pos,
         CASE WHEN p.i = 0 THEN {ref1}
              WHEN p.i + 1 = w.nw AND w.h % 4 = 0 THEN {ref1}
              ELSE {refj} END AS ref,
         w.h
  FROM ways w
  JOIN {_iter(dialect, 10, 'p')} ON p.i < w.nw
)"""


def load_ways(spark: SparkSession, w: int, m: int) -> DataFrame:
    """ways(id, visible, node_refs ARRAY<BIGINT> ordered, tags MAP) —
    FIXTURES.md §3. node_refs assembled from the exploded ground truth
    with order restored by pos (sort_array on (pos, ref) structs)."""
    ctes = ways_ctes("spark", w, m)
    return spark.sql(
        f"""WITH {ctes},
refs_arr AS (
  SELECT id,
         transform(sort_array(collect_list(named_struct('pos', pos, 'ref', ref))),
                   s -> s.ref) AS node_refs
  FROM ways_refs GROUP BY id
)
SELECT w.id, w.visible, r.node_refs,
       map_from_entries(filter(array(
         named_struct('key', 'name', 'value', t_name),
         named_struct('key', 'highway', 'value', t_highway),
         named_struct('key', 'building', 'value', t_building),
         named_struct('key', 'addr:street', 'value', t_addr_street),
         named_struct('key', 'addr:housenumber', 'value', t_addr_housenumber)
       ), e -> e.value IS NOT NULL)) AS tags
FROM ways w JOIN refs_arr r USING (id)"""
    )


# ------------------------------------------------------------- relations

def relations_ctes(dialect: str, r: int, w: int, m: int) -> str:
    """Ends in ``relations(id, h, t_type)`` + ``rel_members(id, pos,
    ref, mtype, role)`` — exploded ordered members (FIXTURES.md §4)."""
    d = _tok(dialect)
    return f"""rel_base AS (
  SELECT i + 1 AS id, ((i + 2000001) * {KNUTH}) % {M32} AS h
  FROM {_iter(dialect, r)}
),
relations AS (
  SELECT id, h, 1 + h % 5 AS nm,
         CASE WHEN h % 2 = 0 THEN 'multipolygon' ELSE 'route' END AS t_type
  FROM rel_base
),
rel_members AS (
  SELECT rel.id, p.i + 1 AS pos,
         CASE ((rel.h * (p.i + 1) * {A2}) % {M32}) % 3
              WHEN 0 THEN 'node' WHEN 1 THEN 'way' ELSE 'relation' END AS mtype,
         CASE ((rel.h * (p.i + 1) * {A2}) % {M32}) % 3
              WHEN 0 THEN 1 + ((rel.h * (p.i + 1) * {A2}) % {M32}) % {m}
              WHEN 1 THEN 1 + ((rel.h * (p.i + 1) * {A2}) % {M32}) % {w}
              ELSE 1 + ((rel.h * (p.i + 1) * {A2}) % {M32}) % {r} END AS ref,
         CASE ((rel.h * (p.i + 1) * {A2}) % {M32}) % 4
              WHEN 1 THEN 'outer' WHEN 2 THEN 'inner' ELSE '' END AS role
  FROM relations rel
  JOIN {_iter(dialect, 5, 'p')} ON p.i < rel.nm
)"""


def load_relations(spark: SparkSession, r: int, w: int, m: int) -> DataFrame:
    """relations(id, members ARRAY<STRUCT<ref,type,role>> ordered, tags)."""
    ctes = relations_ctes("spark", r, w, m)
    return spark.sql(
        f"""WITH {ctes},
mem_arr AS (
  SELECT id,
         transform(
           sort_array(collect_list(named_struct('pos', pos, 'ref', ref,
                                                'type', mtype, 'role', role))),
           s -> named_struct('ref', s.ref, 'type', s.type, 'role', s.role)
         ) AS members
  FROM rel_members GROUP BY id
)
SELECT rel.id, m.members, map('type', rel.t_type) AS tags
FROM relations rel JOIN mem_arr m USING (id)"""
    )


# -------------------------------------------------------------- polygons

def load_polygons(spark: SparkSession) -> DataFrame:
    """Polygon dimension (FIXTURES.md §5): open rings, broadcast-sized."""
    rows = [
        (pid, {1: "frogner", 2: "vitoria_tri", 3: "oslo_pent"}[pid],
         [{"lon": v[0], "lat": v[1]} for v in ring])
        for pid, ring in sorted(POLYGONS.items())
    ]
    return spark.createDataFrame(
        rows,
        "polygon_id BIGINT, name STRING, ring ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>",
    )

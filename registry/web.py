"""Web-crawl queries: link extraction and link graphs (PageRank,
HITS, triangles), URL and host statistics, crawl snapshots, AS-OF and
interval joins, fetch scheduling."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_jl_spark import datagen as G
from osm_jl_spark.operators import dedup as D
from osm_jl_spark.operators import web as W
from registry.common import (
    CRAWLS,
    PAGES,
    _counts,
    _epoch_sec,
    _pages,
    _pq,
    query,
)


# link extraction: the oracle NEVER runs a regex — datagen's
# pages_links CTE reconstructs every anchor arithmetically from
# the same rule load_pages used to embed them in html
@query("page_links", f"""WITH {PAGES}
SELECT url, link_idx, href, dst_host
FROM pages_links""")
def page_links_q(spark, sf_dir):
    # href extraction from raw html (operators/links.py): one
    # narrow regexp_extract_all map over the binary column, zero
    # exchanges. Oracle: datagen's pages_links CTE reconstructs
    # every (url, link_idx, href, host) ARITHMETICALLY — the
    # extractor must recover exactly the anchors load_pages
    # embedded, without the oracle running any regex.
    from osm_jl_spark.operators.links import extract_links

    return extract_links(_pages(spark, sf_dir)).select(
        "url", "link_idx", "href", "dst_host"
    )


@query("host_in_links", f"""WITH {PAGES}
SELECT dst_host,
       count(*) AS n_links,
       count(DISTINCT url) AS n_src_docs
FROM pages_links
GROUP BY dst_host""")
def host_in_links_q(spark, sf_dir):
    # host-level in-link census over the extracted anchors: one
    # map-side-combinable shuffle on dst_host (53 hosts here; hot
    # hosts cost one partial row per input partition at any scale).
    from osm_jl_spark.operators.links import extract_links, host_in_links

    return host_in_links(extract_links(_pages(spark, sf_dir)))


# exact integer-scaled PageRank (damping 1/2, R = rank * N * 4^t):
# three unrolled iterations of R_{{t+1}}(v) = 2*4^t +
# sum_{{u->v}} (2/deg_u) * R_t(u), all BIGINT — see
# operators/links.py:pagerank_scaled for the derivation
@query("link_pagerank", f"""WITH {PAGES},
deg AS (SELECT i AS src, count(*) AS deg FROM pages_links GROUP BY i),
e AS (
  SELECT l.i AS src, l.dst,
         CASE WHEN d.deg = 1 THEN 2 ELSE 1 END AS coef
  FROM pages_links l JOIN deg d ON d.src = l.i
),
nodes AS (SELECT i AS node FROM pages_docs),
r0 AS (SELECT node, CAST(1 AS BIGINT) AS r FROM nodes),
r1 AS (
  SELECT n.node,
         CAST(2 + coalesce(sum(e.coef * r.r), 0) AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN r0 r ON r.node = e.src
  GROUP BY n.node
),
r2 AS (
  SELECT n.node,
         CAST(8 + coalesce(sum(e.coef * r.r), 0) AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN r1 r ON r.node = e.src
  GROUP BY n.node
),
r3 AS (
  SELECT n.node,
         CAST(32 + coalesce(sum(e.coef * r.r), 0) AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN r2 r ON r.node = e.src
  GROUP BY n.node
)
SELECT node AS doc_id, r AS rank_s FROM r3""")
def link_pagerank_q(spark, sf_dir):
    # PageRank over the document link graph, EXACT integer-scaled
    # variant (damping 1/2, rank_s = rank * N * 4^3 — see
    # operators/links.py:pagerank_scaled). Iterative DataFrame
    # joins like bfs_hops; the oracle unrolls the same three
    # iterations in pure BIGINT SQL, so the match is hash-exact
    # with no float repr hazard. tests/test_links.py pins the
    # general float operator to this one on the same graph.
    from osm_jl_spark.operators.links import extract_links, pagerank_scaled

    pages = _pages(spark, sf_dir)
    links = extract_links(pages)
    edges = links.select(
        F.regexp_extract("url", r"/p/([0-9]+)$", 1)
        .cast("long").alias("src"),
        F.regexp_extract("href", r"/d/([0-9]+)$", 1)
        .cast("long").alias("dst"),
    )
    nodes = pages.select(
        F.regexp_extract("url", r"/p/([0-9]+)$", 1)
        .cast("long").alias("node")
    )
    r = pagerank_scaled(edges, nodes)
    return r.select(F.col("node").alias("doc_id"), F.col("r").alias("rank_s"))


# composite replay: arithmetic links -> in-degree (0 for unlinked
# docs, lang from the target doc's dh) -> the same histogram
# quantile definition as length_quantiles
@query("indegree_quantiles", f"""WITH {PAGES},
indeg AS (
  SELECT dst AS doc_id, count(*) AS deg FROM pages_links GROUP BY dst
),
d AS (
  SELECT CASE pd.dh % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'no' ELSE 'pt' END
           AS lang,
         coalesce(ig.deg, 0) AS deg
  FROM pages_docs pd LEFT JOIN indeg ig ON ig.doc_id = pd.i
),
h AS (SELECT lang, deg, count(*) AS cnt FROM d GROUP BY lang, deg),
c AS (
  SELECT lang, deg, cnt,
         sum(cnt) OVER (PARTITION BY lang ORDER BY deg) AS cum
  FROM h
),
n AS (SELECT lang, sum(cnt) AS n FROM h GROUP BY lang),
pp AS (SELECT unnest([25, 50, 90, 99]) AS pct)
SELECT c.lang, pp.pct, CAST(min(c.deg) AS BIGINT) AS q
FROM c
JOIN n USING (lang)
CROSS JOIN pp
WHERE c.cum * 100 >= pp.pct * n.n
GROUP BY c.lang, pp.pct""")
def indegree_quantiles_q(spark, sf_dir):
    # composite: link extraction -> per-target-doc in-degree
    # (0 for never-linked docs) -> exact histogram quantiles per
    # TARGET-doc language, all one Catalyst plan through two new
    # operator families. Oracle replays it from the arithmetic
    # pages_links rule + the histogram definition — independent of
    # both the extractor and the quantile operator.
    from osm_jl_spark.operators.links import extract_links
    from osm_jl_spark.operators.stats import group_quantiles_exact

    pages = _pages(spark, sf_dir)
    links = extract_links(pages)
    indeg = links.select(
        F.regexp_extract("href", r"/d/([0-9]+)$", 1)
        .cast("long").alias("doc_id")
    ).groupBy("doc_id").agg(F.count(F.lit(1)).alias("deg"))
    docs = pages.select(
        F.regexp_extract("url", r"/p/([0-9]+)$", 1)
        .cast("long").alias("doc_id"),
        "lang",
    )
    deg = docs.join(indeg, "doc_id", "left").select(
        "lang", F.coalesce("deg", F.lit(0)).cast("long").alias("deg")
    )
    out = group_quantiles_exact(deg, "lang", "deg", [25, 50, 90, 99])
    return out.select("lang", "pct", F.col("q").cast("long").alias("q"))


# HITS: two unnormalized integer power iterations unrolled — the
# node set is the edge-endpoint union (hits_scores' contract),
# a1 = in-degree (h0 = 1), h1 = sum of a1 over out-edges, etc.
@query("link_hits", f"""WITH {PAGES},
e AS (SELECT i AS src, dst FROM pages_links),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
a1 AS (
  SELECT n.node,
         CAST(coalesce((SELECT count(*) FROM e WHERE e.dst = n.node),
                       0) AS BIGINT) AS a
  FROM nodes n
),
h1 AS (
  SELECT n.node, CAST(coalesce(sum(x.a), 0) AS BIGINT) AS h
  FROM nodes n
  LEFT JOIN e ON e.src = n.node
  LEFT JOIN a1 x ON x.node = e.dst
  GROUP BY n.node
),
a2 AS (
  SELECT n.node, CAST(coalesce(sum(x.h), 0) AS BIGINT) AS a
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN h1 x ON x.node = e.src
  GROUP BY n.node
),
h2 AS (
  SELECT n.node, CAST(coalesce(sum(x.a), 0) AS BIGINT) AS h
  FROM nodes n
  LEFT JOIN e ON e.src = n.node
  LEFT JOIN a2 x ON x.node = e.dst
  GROUP BY n.node
)
SELECT h2.node, h2.h AS hub, a2.a AS auth
FROM h2 JOIN a2 ON a2.node = h2.node""")
def link_hits_q(spark, sf_dir):
    # HITS hubs & authorities over the same document link graph
    # as link_pagerank, as UNNORMALIZED exact-integer power
    # iterations (operators/links.py:hits_scores — normalization
    # is a positive scalar and never changes the ranking, so the
    # integer form ranks identically while staying hash-exact).
    # Two iterations, Kleinberg update order; the oracle unrolls
    # the identical joins in BIGINT SQL.
    from osm_jl_spark.operators.links import extract_links, hits_scores

    links = extract_links(_pages(spark, sf_dir))
    edges = links.select(
        F.regexp_extract("url", r"/p/([0-9]+)$", 1)
        .cast("long").alias("src"),
        F.regexp_extract("href", r"/d/([0-9]+)$", 1)
        .cast("long").alias("dst"),
    )
    return hits_scores(edges)


# triangle census: the oracle is the NAIVE canonical a<b<c
# three-way join over the co-citation edges — independent of the
# engine's degree-ordered orientation
@query("host_triangles", f"""WITH {PAGES},
lh AS (
  SELECT DISTINCT url, dst_host FROM pages_links WHERE dst_host <> ''
),
co AS (
  SELECT DISTINCT l.dst_host AS x, r.dst_host AS y
  FROM lh l JOIN lh r ON l.url = r.url AND l.dst_host < r.dst_host
),
tri AS (
  SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM co e1
  JOIN co e2 ON e2.x = e1.y
  JOIN co e3 ON e3.x = e1.x AND e3.y = e2.y
),
u AS (
  SELECT a AS host FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT host, CAST(count(*) AS BIGINT) AS n_triangles
FROM u GROUP BY host""")
def host_triangles_q(spark, sf_dir):
    # per-host triangle census (operators/links.py:
    # triangle_census, degree-ordered orientation) over the host
    # CO-CITATION graph — hosts are adjacent when one page links
    # both (the direct host graph here is a star: one source
    # host, no triangles). The oracle counts triangles naively
    # (canonical a<b<c three-way join) over the same arithmetic
    # pages_links CTE — an independent formulation of the same
    # census. Scale note: the synthetic link arithmetic yields a
    # circulant-like pair graph whose triangle count is
    # n_docs-dependent — 53 triangle-bearing hosts at the gate's
    # sf0.01, ZERO at sf0.1 (difference classes there don't close
    # mod 53) — so this query is gate-checked, not benched; the
    # operator's general correctness is pinned on seeded random
    # multigraphs in tests/test_links.py.
    from osm_jl_spark.operators.links import (
        extract_links,
        triangle_census,
    )

    lh = (
        extract_links(_pages(spark, sf_dir))
        .select("url", "dst_host")
        .where(F.col("dst_host") != "")
        .distinct()
    )
    co = (
        lh.alias("l")
        .join(lh.alias("r"), "url")
        .where(F.col("l.dst_host") < F.col("r.dst_host"))
        .select(
            F.col("l.dst_host").alias("a"),
            F.col("r.dst_host").alias("b"),
        )
    )
    return triangle_census(co)


# web-corpus hygiene oracles: expected values constructed
# INDEPENDENTLY (arithmetic, no regex) — they verify the Spark
# operators' transforms, not cross-engine regex agreement
@query("url_canonicalize", """
SELECT doc_id,
       'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
       'https://h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org/p/'
         || CAST(doc_id AS VARCHAR)
         || CASE doc_id % 4 WHEN 1 THEN '?q=1'
                            WHEN 3 THEN '?a=1'
                            ELSE '' END AS canon_url
FROM documents""")
def url_canonicalize_q(spark, sf_dir):
    # URL canonicalization for crawl dedup keys (operators/web.py):
    # four deterministic messy variants per doc — trailing slash,
    # leading utm param, fragment, trailing utm param, with a
    # mixed-case scheme+host throughout — must collapse to the
    # analytically-known canonical form. The DuckDB oracle builds
    # that form INDEPENDENTLY by construction (no shared regex), so
    # this checks the transform, not regex-engine agreement.
    from osm_jl_spark.operators.web import url_canonical, url_host

    docs = _pq(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(
        F.lit("h"), (d % 50).cast("string"), F.lit(".Example.ORG")
    )
    base = F.concat(
        F.lit("HTTPS://"), host, F.lit("/p/"), d.cast("string")
    )
    messy = (
        F.when(d % 4 == 0, F.concat(base, F.lit("/")))
        .when(d % 4 == 1, F.concat(base, F.lit("?utm_source=x&q=1")))
        .when(d % 4 == 2, F.concat(base, F.lit("#frag")))
        .otherwise(F.concat(base, F.lit("?a=1&utm_campaign=z")))
    )
    u = docs.select("doc_id", messy.alias("url"))
    return u.select(
        "doc_id",
        url_host("url").alias("host"),
        url_canonical("url").alias("canon_url"),
    )


@query("domain_stats", """
SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
       count(*) AS n_pages,
       CAST(sum(len(text)) AS BIGINT) AS total_chars,
       CAST(sum(len(text)) AS BIGINT) / count(*) AS avg_chars
FROM documents
GROUP BY 1""")
def domain_stats_q(spark, sf_dir):
    # per-domain corpus stats (operators/web.py) — the unit of
    # crawl allow/deny lists and per-domain caps. Spark extracts
    # the host from the URL by regex; the oracle groups by the
    # constructed host directly — independent verification of
    # url_host. One shuffle, map-side combinable.
    from osm_jl_spark.operators.web import domain_stats

    docs = _pq(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (d % 50).cast("string"),
        F.lit(".example.org/p/"), d.cast("string"),
    )
    pages = docs.select(url.alias("url"), "text")
    return domain_stats(pages)


@query("approx_domains", approx="HLL estimates differ between engines; "
       "tests/test_web.py pins the error bound")
def approx_domains_q(spark, sf_dir):
    # Datasketches-HLL distinct-host census (operators/web.py:
    # approx_domain_stats). ROWS-ONLY by design: the estimate is
    # engine-specific (DuckDB's HLL is a different implementation),
    # so cross-engine value parity is impossible; the <5% error
    # bound and layout caveats are pinned in tests/test_web.py.
    from osm_jl_spark.operators.web import approx_domain_stats

    docs = _pq(spark, sf_dir, "documents")
    corpus = docs.select(
        "lang",
        F.concat(
            F.lit("h"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".example.org"),
        ).alias("host"),
    )
    return approx_domain_stats(corpus)


# domain_cap: the oracle is the naive ONE-window formulation — the
# gate therefore checks the two-stage skew-safe plan computes
# exactly the single-window contract.
@query("domain_cap", """SELECT doc_id, host, host_rank FROM (
  SELECT doc_id,
         'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
         row_number() OVER (PARTITION BY doc_id % 50
                            ORDER BY doc_id) AS host_rank
  FROM documents) t
WHERE host_rank <= 3""")
def domain_cap_q(spark, sf_dir):
    # per-domain cap (operators/web.py: domain_cap, skew-safe
    # two-stage row_number). The oracle is the ONE-window SQL the
    # contract promises equality with — so the gate directly
    # checks that the shard pre-filter never evicts a winner.
    from osm_jl_spark.operators.web import domain_cap

    docs = _pq(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.lit("h"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".example.org"),
        ).alias("host"),
    )
    out = domain_cap(corpus, max_per_host=3)
    return out.select(
        "doc_id", "host", F.col("host_rank").cast("long").alias("host_rank")
    )


# crawl_asof: DuckDB's NATIVE ASOF LEFT JOIN — a genuinely
# independent implementation of the at-or-before contract (the
# engine plans a union + keyed window scan instead). Inclusive >=
# on the ordering condition matches asof_join's equal-ts rule.
@query("crawl_asof", f"""WITH {CRAWLS},
caps AS (
  SELECT url, warc_epoch, fetch_h FROM crawls WHERE fetch_h % 3 <> 0
),
pol AS (
  SELECT url, warc_epoch AS pol_epoch, fetch_h % 1000 AS policy_val
  FROM crawls WHERE fetch_h % 3 = 0
)
SELECT c.url,
       c.warc_epoch AS cap_epoch,
       c.fetch_h,
       p.policy_val,
       p.pol_epoch AS policy_epoch
FROM caps c ASOF LEFT JOIN pol p
  ON c.url = p.url AND c.warc_epoch >= p.pol_epoch""")
def crawl_asof_q(spark, sf_dir):
    # temporal AS-OF join (operators/temporal.py): each page
    # capture joined to the policy snapshot in force at fetch time
    # (at-or-before, LEFT: captures preceding any snapshot keep
    # NULLs). Both streams derive from the recrawl history —
    # captures whose fetch_h % 3 == 0 act as the per-url policy
    # refetches. The DuckDB oracle is a genuinely independent
    # implementation: its native ASOF LEFT JOIN vs this engine's
    # union + window-scan plan.
    from osm_jl_spark.operators.temporal import asof_join

    crawls = G.load_crawls(spark, _counts(sf_dir)["docs"])
    pol = crawls.where(F.col("fetch_h") % 3 == 0).select(
        "url",
        F.col("warc_ts").alias("pol_ts"),
        (F.col("fetch_h") % 1000).alias("policy_val"),
    )
    caps = crawls.where(F.col("fetch_h") % 3 != 0)
    out = asof_join(
        caps, pol, on="url", left_ts="warc_ts", right_ts="pol_ts",
    )
    return out.select(
        "url",
        _epoch_sec("warc_ts").alias("cap_epoch"),
        "fetch_h",
        "policy_val",
        _epoch_sec(F.col("asof_ts")).alias("policy_epoch"),
    )


# politeness scheduling: dedup-min + per-host (priority, url)
# ranking + slot arithmetic replayed over the same arithmetic
# pages_links CTE — all exact integers and lexicographic ties
@query("fetch_schedule", f"""WITH {PAGES},
best AS (
  SELECT dst_host AS host, href AS url,
         min(link_idx) AS pri
  FROM pages_links GROUP BY 1, 2
),
ranked AS (
  SELECT url, host,
         CAST(row_number() OVER (
           PARTITION BY host ORDER BY pri, url) - 1 AS INT) AS slot
  FROM best
)
SELECT url, host, slot,
       CAST({W.FETCH_START_EPOCH} AS BIGINT)
         + CAST(slot AS BIGINT) * {W.FETCH_DELAY_SEC} AS fetch_at
FROM ranked""")
def fetch_schedule_q(spark, sf_dir):
    # crawl-frontier politeness scheduling (operators/web.py:
    # fetch_schedule): the extracted link targets become the
    # frontier (priority = first anchor position), each host's
    # urls serialize FETCH_DELAY_SEC (15 s) apart from epoch
    # FETCH_START_EPOCH (1700000000). Exact
    # integer schedule; the oracle replays the dedup-min, the
    # (priority, url) per-host ranking, and the slot arithmetic
    # over the SAME arithmetic pages_links CTE as page_links.
    from osm_jl_spark.operators.links import extract_links

    frontier = extract_links(_pages(spark, sf_dir)).select(
        F.col("href").alias("url"),
        F.col("dst_host").alias("host"),
        F.col("link_idx").alias("priority"),
    )
    from osm_jl_spark.operators.web import fetch_schedule

    return fetch_schedule(frontier)


@query("snapshot_latest", f"""WITH {CRAWLS}
SELECT url,
       max(warc_epoch) AS last_epoch,
       arg_max(fetch_h, warc_epoch) AS last_fetch,
       CAST(count(*) AS BIGINT) AS n_caps
FROM crawls GROUP BY url""")
def snapshot_latest_q(spark, sf_dir):
    # crawl-snapshot dedup over the recrawl history (caps captures
    # per url): keep the newest capture per url via map-side
    # combinable max_by — ONE shuffle, no window sort. The latest
    # epoch and its fetch_h pin that the whole winning ROW is kept,
    # not just the max timestamp.
    crawls = G.load_crawls(spark, _counts(sf_dir)["docs"])
    out = D.snapshot_latest(crawls)
    return out.select(
        "url",
        _epoch_sec("warc_ts").alias("last_epoch"),
        F.col("fetch_h").alias("last_fetch"),
        "n_caps",
    )


# interval containment: the oracle is the NAIVE range-predicate
# join — an independent formulation; the engine's bucket-cover
# equi-join must produce exactly the same pair set
@query("campaign_windows", """WITH
iv AS (
  SELECT range AS interval_id,
         1704067200 + range * 64800 AS start_s,
         1704067200 + range * 64800
           + 3600 * (1 + ((range * 2654435761) % 4294967296) % 36)
           AS end_s
  FROM range(40)
),
ev AS (
  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events
)
SELECT ev.event_id, iv.interval_id
FROM ev JOIN iv
  ON ev.ts_s >= iv.start_s AND ev.ts_s < iv.end_s""")
def campaign_windows_q(spark, sf_dir):
    # interval containment join (operators/temporal.py
    # interval_join): events assigned to every overlapping
    # synthetic campaign window via time-bucket cover + exact
    # half-open filter — the temporal analogue of the spatial
    # cell-cover join; the fact side never shuffles (intervals
    # broadcast). Oracle: DuckDB's plain range-predicate join over
    # the same arithmetic interval table — an independent
    # formulation of the containment semantics.
    from osm_jl_spark.functions.timeutil import epoch_sec
    from osm_jl_spark.operators.temporal import interval_join

    ev = _pq(spark, sf_dir, "events").select(
        "event_id", epoch_sec("ts").alias("ts_s")
    )
    start = F.lit(1704067200) + F.col("id") * 64800
    iv = spark.range(40).select(
        F.col("id").alias("interval_id"),
        start.alias("start_s"),
        (
            start
            + 3600
            * (1 + ((F.col("id") * 2654435761) % 4294967296) % 36)
        ).alias("end_s"),
    )
    out = interval_join(ev, iv, "ts_s", "start_s", "end_s")
    return out.select("event_id", "interval_id")

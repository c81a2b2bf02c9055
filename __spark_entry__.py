"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` registers one entry per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline extensions);
``oracle_sql()`` provides DuckDB-equivalent SQL for each.

Geospatial inputs (the Common-Crawl-style pages table of
BASELINE.json's input_hint, and OSM-style nodes/ways/relations) are
generated deterministically with exact integer arithmetic that is
bit-identical between Spark and DuckDB (osm_jl_spark/datagen.py), so
each oracle regenerates the same input inline — no files exchanged.
Text/dedup/similarity queries run on the driver-provided ``documents``
and ``embeddings`` views.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_jl_spark import datagen as G
from osm_jl_spark.functions.cells import bbox_cell_range
from osm_jl_spark.session import sf_from_dir

PRECISION = 2


def _counts(sf_dir: str) -> dict[str, int]:
    return G.counts_for_sf(sf_from_dir(sf_dir))


def _pq(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# oracle-side fixed scale: the driver always runs oracles at sf=0.01
_OC = G.counts_for_sf(0.01)


def _edges_values(polys: dict[int, list[tuple[float, float]]]) -> str:
    """DuckDB CTE: polygon edges with the closing edge first
    (src/coords.jl:70 ordering — irrelevant for the crossing count but
    kept for symmetry)."""
    rows = []
    for pid, ring in sorted(polys.items()):
        n = len(ring)
        for i in range(n):
            a, b = ring[i - 1], ring[i]
            rows.append(f"({pid}, {a[0]!r}, {a[1]!r}, {b[0]!r}, {b[1]!r})")
    return (
        "poly_edges(polygon_id, ax, ay, bx, by) AS (SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") v(polygon_id, ax, ay, bx, by))"
    )


# even-odd crossing count, strict inequalities (src/coords.jl:69-78);
# CASE guards the division exactly like Julia's short-circuit &&
_PIP_HAVING = """SUM(CASE WHEN (e.ay > {lat}) <> (e.by > {lat})
         THEN CASE WHEN e.ax + ({lat} - e.ay) / (e.by - e.ay) * (e.bx - e.ax) < {lon}
                   THEN 1 ELSE 0 END
         ELSE 0 END) % 2 = 1"""


def _epoch_sec(col: str):
    """Timezone-independent floored epoch seconds (see
    osm_jl_spark.functions.timeutil.epoch_sec)."""
    from osm_jl_spark.functions.timeutil import epoch_sec

    return epoch_sec(col)


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common-Crawl-style pages table (BASELINE.json input_hint).

    Default: generated inline (deterministic datagen — what the DuckDB
    oracle regenerates too). If SPARK_GRAFT_PAGES_CACHE names a
    directory (bench.py sets it), the generated table is materialized
    to parquet once and read back — benchmarking then measures the
    engine reading a stored table, exactly as production reads Iceberg,
    instead of re-running the synthetic SQL generator per query.
    """
    import os

    n = _counts(sf_dir)["docs"]
    cache = os.environ.get("SPARK_GRAFT_PAGES_CACHE")
    if cache:
        return spark.read.parquet(G.stored_pages(spark, n, cache))
    return G.load_pages(spark, n)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest pipeline: pages -> extracted text -> geoparse, as one
    native codegen stage (geoparse_points_from_html)."""
    from osm_jl_spark.operators.pipeline import geoparse_points_from_html

    return geoparse_points_from_html(_pages(spark, sf_dir))


def _nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.load_nodes(spark, _counts(sf_dir)["nodes"])


def _ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _counts(sf_dir)
    return G.load_ways(spark, c["ways"], c["nodes"])


def _relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _counts(sf_dir)
    return G.load_relations(spark, c["relations"], c["ways"], c["nodes"])


def _docs2x(docs: DataFrame) -> DataFrame:
    """documents unioned with an id-shifted copy -> guaranteed exact
    duplicates for the dedup operators."""
    return docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )


_DOCS2X_SQL = """docs2x AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents
)"""


def _neardup_corpus(docs: DataFrame) -> DataFrame:
    """Small corpus with synthetic near-duplicates (one token appended)
    for the similarity-dedup operators."""
    base = docs.filter(F.col("doc_id") < 150).select("doc_id", "text")
    mod = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extratoken")).alias("text"),
    )
    return base.unionByName(mod)


_NEARDUP_SQL = """neardup AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, concat(text, ' extratoken') AS text
  FROM documents WHERE doc_id < 150
)"""


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geoparse the sf0.001 crawl, PIP-join against the
    polygon dimension, tile the matches (SURVEY.md §7.1 M1)."""
    from osm_jl_spark.operators.pipeline import flagship

    pages = G.load_pages(spark, G.counts_for_sf(0.001)["docs"])
    return flagship(pages, G.POLYGONS, PRECISION)


# -------------------------------------------------------------- queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from osm_jl_spark.functions.cells import cell_coord, with_cell
    from osm_jl_spark.functions.text import (
        fingerprint_col,
        lang_id_col,
        stopword_ratio_col,
        token_count_col,
        uniq_token_ratio_col,
    )
    from osm_jl_spark.operators import dedup as D
    from osm_jl_spark.operators import elements as E
    from osm_jl_spark.operators import joins as J
    from osm_jl_spark.operators import similarity as S
    from osm_jl_spark.operators import tiling as TL
    from osm_jl_spark.operators.knn import knn_join

    def geoparse_points_q(spark, sf_dir):
        return _points(spark, sf_dir)

    def cell_encode_q(spark, sf_dir):
        pts = _points(spark, sf_dir)
        return with_cell(pts, PRECISION).select("url", "pt_idx", "cx", "cy")

    def pip_frogner_q(spark, sf_dir):
        pts = _points(spark, sf_dir)
        return J.nodes_in_polygons(pts, {1: G.FROGNER}, PRECISION).select(
            "url", "pt_idx"
        )

    def pip_polygons_q(spark, sf_dir):
        pts = _points(spark, sf_dir)
        return J.nodes_in_polygons(pts, G.POLYGONS, PRECISION).select(
            "url", "pt_idx", "polygon_id"
        )

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

    def tile_counts_q(spark, sf_dir):
        return TL.tile_counts(_points(spark, sf_dir), PRECISION)

    def tile_rollup_q(spark, sf_dir):
        t = TL.tile_rollup(_points(spark, sf_dir), [0, 1, 2])
        return t.select(
            F.col("precision").alias("res"), "cx", "cy", "n_points"
        )

    def raster_vector_q(spark, sf_dir):
        t = TL.tile_rollup(_points(spark, sf_dir), [1])
        return TL.raster_to_vector(t, threshold=2).select(
            F.col("precision").alias("res"), "cx", "cy",
            "min_lon", "min_lat", "max_lon", "max_lat", "n_points",
        )

    def bbox_nodes_q(spark, sf_dir):
        inside, _ = J.extract_bbox(
            _nodes(spark, sf_dir), _ways(spark, sf_dir),
            G.VITORIA_UL, G.VITORIA_LR, PRECISION,
        )
        return inside.select("id", "lon", "lat")

    def bbox_ways_q(spark, sf_dir):
        _, ways = J.extract_bbox(
            _nodes(spark, sf_dir), _ways(spark, sf_dir),
            G.VITORIA_UL, G.VITORIA_LR, PRECISION,
        )
        return ways.select("id")

    def bfs_hops_q(spark, sf_dir):
        # the reference's routing surface (src/OSM.jl `path` is an
        # empty stub): multi-source BFS hop distance over the road
        # graph — iterative DataFrame joins, one shuffle per hop,
        # driver sees only emptiness probes. Oracle: DuckDB
        # recursive CTE over the same edge definition.
        from osm_jl_spark.operators.graph import bfs_hops, way_edges

        ways = _ways(spark, sf_dir)
        edges = way_edges(ways)
        roads = ways.filter(F.col("visible") & E.is_road("node_refs"))
        sources = roads.filter(F.col("id") % 29 == 0).select(
            F.element_at("node_refs", 1).cast("long").alias("node")
        )
        out = bfs_hops(edges, sources, max_hops=8)
        return out.select(F.col("node").alias("node_id"), "dist")

    def way_areas_q(spark, sf_dir):
        # signed shoelace area of every closed visible way, in exact
        # integer 1e-5-degree² units (functions/geo.py:
        # shoelace_area2_col) — integer sums are order-independent,
        # so the value is bit-equal across engines and partitionings
        from osm_jl_spark.functions.geo import shoelace_area2_col
        from osm_jl_spark.operators.joins import way_geometries

        ways = _ways(spark, sf_dir).filter(
            F.col("visible")
            & E.is_closed("node_refs")
            & (F.size("node_refs") >= 3)  # degenerate 1/2-ref rings out
        )
        geoms = way_geometries(ways, _nodes(spark, sf_dir))
        return geoms.select(
            "way_id", shoelace_area2_col(F.col("coords")).alias("area2")
        )

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
        import os
        import tempfile

        from osm_jl_spark.sources.store import (
            read_points_tile,
            write_points_quadkey,
        )

        n = _counts(sf_dir)["nodes"]
        path = os.path.join(tempfile.gettempdir(), f"osm_store_qk_{n}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            write_points_quadkey(
                _nodes(spark, sf_dir).select("id", "lon", "lat"),
                path,
                zoom=12,
                stripe_zoom=2,
            )
        return read_points_tile(spark, path, "2110", stripe_zoom=2).select(
            "id", "qk"
        )

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
        import os
        import tempfile

        from osm_jl_spark.operators.tiling import quadkey_rollup
        from osm_jl_spark.sources.store import (
            read_points_tile,
            write_points_quadkey,
        )

        n = _counts(sf_dir)["nodes"]
        path = os.path.join(tempfile.gettempdir(), f"osm_store_qk_{n}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            write_points_quadkey(
                _nodes(spark, sf_dir).select("id", "lon", "lat"),
                path,
                zoom=12,
                stripe_zoom=2,
            )
        served = read_points_tile(spark, path, "2110", stripe_zoom=2)
        return quadkey_rollup(served, [4, 6, 8, 12]).select(
            "zoom", "tile_qk", "n_points"
        )

    def semdedup_q(spark, sf_dir):
        # SemDeDup-style cluster-bounded semantic dedup
        # (operators/similarity.py:semdedup): medoid centroids (the
        # stored vectors of ids % 125 == 0, originals only), assignment
        # by exact L2 argmin, near-dup pair search ONLY inside each
        # cluster, keep = lowest id of every duplicate group. The
        # corpus is the id-shifted union (copies at +10000 are exact
        # dups, cosine == 1 bit-for-bit) so the keep policy has real
        # work. Every distance/cosine is a LEFT-TO-RIGHT F.aggregate
        # fold that the DuckDB oracle replays bit-exactly with
        # list_reduce over the identical stored doubles — assignment,
        # pair search, and keep all hash-exact, no rounding anywhere.
        emb = _pq(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        emb2 = emb.select("vec_id", "embedding").unionByName(
            emb.select(
                (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
            )
        )
        centers = emb.where(F.col("vec_id") % 125 == 0)
        return S.semdedup(emb2, centroids=centers).select(
            "id", "cluster", "keep"
        )

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

    def window_dup_stats_q(spark, sf_dir):
        # exact-substring duplication profile (operators/dedup.py:
        # duplicated_window_stats, Lee et al. 2022 window granularity).
        # Corpus: each doc is its text prefixed by a per-site
        # boilerplate sentence (site = doc_id % 17 -> every site
        # sentence spans ~n/17 docs, guaranteeing real cross-document
        # windows), so n_dup_windows is meaningfully nonzero. The
        # DuckDB oracle RUNS the full computation independently over
        # window STRINGS (no hashing) — an engine-independent replica,
        # not a re-derivation.
        docs = _pq(spark, sf_dir, "documents")
        site = (F.col("doc_id") % 17).cast("string")
        txt = F.concat(
            F.lit("welcome to site "), site,
            F.lit(" home of site "), site,
            F.lit(" news and weather updates "),
            F.col("text"),
        )
        corpus = docs.select("doc_id", txt.alias("text"))
        return D.duplicated_window_stats(corpus, w=8, min_df=2)

    def window_dedup_clean_q(spark, sf_dir):
        # the REMOVAL counterpart (operators/dedup.py:
        # remove_duplicated_windows): cut every cross-document 8-token
        # window out of the same boilerplate-prefixed corpus as
        # window_dup_stats — the per-site prefix is shared by ~n/17
        # docs, so whole-prefix removal is exercised on every doc.
        # Oracle: full engine-independent replay over window STRINGS
        # (tokenize -> hot windows -> per-doc covered positions ->
        # token filter -> re-join), no shared hashing.
        docs = _pq(spark, sf_dir, "documents")
        site = (F.col("doc_id") % 17).cast("string")
        txt = F.concat(
            F.lit("welcome to site "), site,
            F.lit(" home of site "), site,
            F.lit(" news and weather updates "),
            F.col("text"),
        )
        corpus = docs.select("doc_id", txt.alias("text"))
        return D.remove_duplicated_windows(corpus, w=8, min_df=2)

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
            value_cols=["policy_val"],
        )
        return out.select(
            "url",
            _epoch_sec("warc_ts").alias("cap_epoch"),
            "fetch_h",
            "policy_val",
            _epoch_sec(F.col("asof_ts")).alias("policy_epoch"),
        )

    def lm_perplexity_q(spark, sf_dir):
        # CCNet-style n-gram LM perplexity filtering (operators/lm.py)
        # in hash-exact integer arithmetic: train an add-1-smoothed
        # trigram LM on the even-doc_id half (min_count=2 prunes
        # singleton trigrams, so the oracle covers BOTH the seen and
        # the pruned/unseen smoothing paths on held-out docs), score
        # every doc's quantized surprisal (floor-log2 bits — computed
        # as bitlength(den DIV num) - 1, no float log anywhere), and
        # band per language by exact histogram quantiles of
        # bits-per-trigram. The DuckDB oracle replays the ENTIRE
        # pipeline string-level: tokenize, count, smooth, score, band.
        from osm_jl_spark.operators.lm import perplexity_filter

        docs = _pq(spark, sf_dir, "documents")
        out = perplexity_filter(docs, min_count=2)
        return out.select(
            F.col("id").alias("doc_id"), "lang", "n_tri", "bits",
            "bpt_milli", "band", "keep",
        )

    def gopher_quality_q(spark, sf_dir):
        # Gopher-rule composite quality filter (operators/quality.py:
        # gopher_quality). The corpus is documents text deliberately
        # degraded per doc_id % 11 — bullet walls, ellipsis footers,
        # symbol floods, truncation — so every rule fires on some
        # stratum and passes on others. The oracle replays every
        # signal independently in DuckDB list/regex SQL.
        from osm_jl_spark.operators.quality import gopher_quality

        docs = _pq(spark, sf_dir, "documents")
        m = F.col("doc_id") % 11
        nl = F.lit("\n")
        txt = (
            F.when(m == 0, F.concat(
                F.repeat(F.lit("- buy now\n"), 19), F.col("text")))
            .when(m == 1, F.concat(
                F.lit("- a\n- b\n- c\n"), F.col("text")))
            .when(m == 2, F.concat(
                F.col("text"), nl,
                F.lit("read more..."), nl, F.lit("click here...")))
            .when(m == 3, F.concat(
                F.col("text"), F.lit(" "), F.repeat(F.lit("# "), 40)))
            .when(m == 4, F.substring("text", 1, 20))
            .otherwise(F.col("text"))
        )
        corpus = docs.select("doc_id", txt.alias("text"))
        return gopher_quality(corpus)

    def blocklist_filter_q(spark, sf_dir):
        # domain blocklist + keyword rules (operators/web.py:
        # blocklist_filter): hosts synthesized with the domain_stats
        # scheme; the blocklist is a REAL 13-row dimension DataFrame
        # broadcast-joined by the engine, while the oracle derives the
        # same verdicts purely by arithmetic — full implementation
        # independence.
        from osm_jl_spark.operators.web import blocklist_filter

        docs = _pq(spark, sf_dir, "documents")
        corpus = docs.select(
            "doc_id", "lang", "text",
            F.concat(
                F.lit("h"), (F.col("doc_id") % 50).cast("string"),
                F.lit(".example.org"),
            ).alias("host"),
        )
        bl = spark.createDataFrame(
            [(f"h{i}.example.org", "badlist") for i in range(0, 50, 4)],
            "host STRING, reason STRING",
        )
        out = blocklist_filter(
            corpus, bl, host_col="host",
            keyword_rules=[(
                "kw_customer",
                F.col("text").contains("customer")
                & (F.col("lang") == "en"),
            )],
        )
        return out.select("doc_id", "host", "block_reason", "keep")

    def doc_repetition_q(spark, sf_dir):
        # within-doc line repetition (operators/quality.py:
        # doc_repetition): documents get 0/1/3 copies of a footer line
        # appended by doc_id % 3, so the duplicate-line and
        # duplicate-char fractions take all three regimes. Oracle
        # replays the whole computation over line STRINGS in DuckDB.
        from osm_jl_spark.operators.quality import doc_repetition

        docs = _pq(spark, sf_dir, "documents")
        m = F.col("doc_id") % 3
        footer = (
            F.when(m == 0, F.lit(
                "\nsubscribe now\nsubscribe now\nsubscribe now"))
            .when(m == 1, F.lit("\nsubscribe now"))
            .otherwise(F.lit(""))
        )
        corpus = docs.select(
            "doc_id", F.concat(F.col("text"), footer).alias("text")
        )
        return doc_repetition(corpus)

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
        out = domain_cap(corpus, max_per_host=3, order_col="doc_id")
        return out.select(
            "doc_id", "host", F.col("host_rank").cast("long").alias("host_rank")
        )

    def text_normalize_q(spark, sf_dir):
        # unicode web-text normalization (functions/text.py:
        # normalize_text_col). The corpus wraps documents text in known
        # dirt (NBSP, curly quotes, tab runs, en dash, ellipsis); the
        # oracle constructs the expected CLEAN string directly from the
        # original text by arithmetic — it never runs the transform.
        from osm_jl_spark.functions.text import normalize_text_col

        docs = _pq(spark, sf_dir, "documents")
        dirty = F.concat(
            F.lit(" “"), F.col("text"),
            F.lit("” \t\tt–tail…"),
        )
        corpus = docs.select("doc_id", dirty.alias("text"))
        clean = normalize_text_col("text")
        return corpus.select(
            "doc_id",
            F.md5(clean).alias("norm_md5"),
            F.length(clean).cast("long").alias("n_chars"),
        )

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

    def host_in_links_q(spark, sf_dir):
        # host-level in-link census over the extracted anchors: one
        # map-side-combinable shuffle on dst_host (53 hosts here; hot
        # hosts cost one partial row per input partition at any scale).
        from osm_jl_spark.operators.links import extract_links, host_in_links

        return host_in_links(extract_links(_pages(spark, sf_dir)))

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
        r = pagerank_scaled(edges, nodes, iters=3)
        return r.select(F.col("node").alias("doc_id"), F.col("r").alias("rank_s"))

    def pipeline_hygiene_q(spark, sf_dir):
        # the user-story composite: blocklist -> Gopher quality gate ->
        # per-domain cap chained through the LIBRARY operators into ONE
        # Catalyst plan (like corpus_clean, but over the round-4 web
        # hygiene suite). The oracle re-derives every stage in one SQL:
        # arithmetic blocklist verdicts, the independent gopher signal
        # replica, and the naive one-window cap.
        from osm_jl_spark.operators.quality import gopher_quality
        from osm_jl_spark.operators.web import blocklist_filter, domain_cap

        docs = _pq(spark, sf_dir, "documents")
        corpus = docs.select(
            "doc_id", "lang", "text",
            F.concat(
                F.lit("h"), (F.col("doc_id") % 50).cast("string"),
                F.lit(".example.org"),
            ).alias("host"),
        )
        bl = spark.createDataFrame(
            [(f"h{i}.example.org", "badlist") for i in range(0, 50, 4)],
            "host STRING, reason STRING",
        )
        kept = (
            blocklist_filter(
                corpus, bl, host_col="host",
                keyword_rules=[(
                    "kw_customer",
                    F.col("text").contains("customer")
                    & (F.col("lang") == "en"),
                )],
            )
            .where("keep")
            .select("doc_id", "host", "text")
        )
        good = (
            gopher_quality(kept, keep_cols=["host"])
            .where("keep")
            .select("doc_id", "host")
        )
        out = domain_cap(good, max_per_host=2, order_col="doc_id")
        return out.select(
            "doc_id", "host",
            F.col("host_rank").cast("long").alias("host_rank"),
        )

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
        roads = ways.filter(F.col("visible") & E.is_road("node_refs"))
        sources = roads.filter(F.col("id") % 29 == 0).select(
            F.element_at("node_refs", 1).cast("long").alias("node")
        )
        out = shortest_paths(wedges, sources, max_hops=6)
        return out.select(F.col("node").alias("node_id"), "dist")

    def cell_lookup_q(spark, sf_dir):
        # the reference Index's point-getindex (src/index.jl:55-58):
        # all nodes in the ONE cell containing the query point — the
        # degenerate single-cell case of the bbox path (pure pruned
        # equality scan, no shuffle)
        from osm_jl_spark.functions.cells import cell_lookup, with_cell

        pt = (G.VITORIA_UL[0] + 0.03, G.VITORIA_LR[1] + 0.05)
        nodes = with_cell(_nodes(spark, sf_dir), PRECISION)
        return cell_lookup(nodes, pt[0], pt[1], PRECISION).select(
            "id", "lon", "lat"
        )

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
                _nodes(spark, sf_dir).select("id", "lon", "lat"),
                path,
                PRECISION,
            )
        return read_points_bbox(
            spark, path, G.VITORIA_UL, G.VITORIA_LR, PRECISION
        ).select("id", "lon", "lat")

    def nodes_highways_q(spark, sf_dir):
        n = _nodes(spark, sf_dir)
        return n.filter(E.hastag(E.HIGHWAY)).select(
            "id", E.gettag(E.HIGHWAY).alias("highway")
        )

    def ways_buildings_q(spark, sf_dir):
        return E.buildings(_ways(spark, sf_dir)).select("id")

    def highway_class_q(spark, sf_dir):
        return E.highways_of_class(
            _ways(spark, sf_dir), G.HIGHWAY_CLASSES[:3]
        ).select("id", E.gettag(E.HIGHWAY).alias("highway"))

    def search_name_q(spark, sf_dir):
        w, n = E.search(_ways(spark, sf_dir), _nodes(spark, sf_dir), "name_0")
        return w.select(F.lit("way").alias("kind"), "id").unionByName(
            n.select(F.lit("node").alias("kind"), "id")
        )

    def search_address_q(spark, sf_dir):
        w, n = E.search_address(
            _ways(spark, sf_dir), _nodes(spark, sf_dir), "street_7", "107"
        )
        return w.select(F.lit("way").alias("kind"), "id").unionByName(
            n.select(F.lit("node").alias("kind"), "id")
        )

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

    def is_closed_q(spark, sf_dir):
        return _ways(spark, sf_dir).select(
            "id", E.is_closed().alias("closed")
        )

    def waynodes_q(spark, sf_dir):
        ways = _ways(spark, sf_dir).filter(F.col("id") <= 200)
        return J.waynodes(ways, _nodes(spark, sf_dir))

    def extract_semi_q(spark, sf_dir):
        return J.nodes_for_ways(
            _nodes(spark, sf_dir), E.buildings(_ways(spark, sf_dir))
        ).select("id")

    def ways_in_frogner_q(spark, sf_dir):
        return J.ways_in_polygon(
            _ways(spark, sf_dir), _nodes(spark, sf_dir), G.FROGNER, PRECISION
        ).select("id")

    def rel_members_q(spark, sf_dir):
        return J.relation_members_exploded(_relations(spark, sf_dir))

    def rel_with_node_members_q(spark, sf_dir):
        nodes_small = _nodes(spark, sf_dir).filter(F.col("id") <= 100)
        return J.ismember(
            _relations(spark, sf_dir), nodes_small.select("id"), "node"
        ).select("id")

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

    # ------------------------- text / dedup / similarity (driver tables)

    def dedup_exact_groups_q(spark, sf_dir):
        docs = _docs2x(_pq(spark, sf_dir, "documents"))
        return D.exact_duplicates(docs).select("fp", "n_docs", "keep_id")

    def dedup_exact_keep_q(spark, sf_dir):
        docs = _docs2x(_pq(spark, sf_dir, "documents"))
        return D.exact_dedup(docs).select("doc_id")

    def snapshot_latest_q(spark, sf_dir):
        # crawl-snapshot dedup over the recrawl history (caps captures
        # per url): keep the newest capture per url via map-side
        # combinable max_by — ONE shuffle, no window sort. The latest
        # epoch and its fetch_h pin that the whole winning ROW is kept,
        # not just the max timestamp.
        crawls = G.load_crawls(spark, _counts(sf_dir)["docs"])
        out = D.snapshot_latest(crawls, key="url", ts_col="warc_ts")
        return out.select(
            "url",
            _epoch_sec("warc_ts").alias("last_epoch"),
            F.col("fetch_h").alias("last_fetch"),
            "n_caps",
        )

    def ngram_jaccard_q(spark, sf_dir):
        corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
        return D.ngram_jaccard_pairs(corpus, threshold=0.5)

    def minhash_pairs_q(spark, sf_dir):
        # md5_60 hash variant: bit-identical shingle hashes in DuckDB,
        # so the full minhash pipeline (signatures -> banding -> est
        # jaccard) is value-checked by the oracle. Production default
        # stays xxhash64 (faster, same plan).
        corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
        return D.minhash_dedup_pairs(corpus, threshold=0.5, hash_fn="md5_60")

    def simhash_pairs_q(spark, sf_dir):
        corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
        return D.simhash_near_dups(corpus, max_hamming=3, hash_fn="md5_60")

    def dedup_clusters_q(spark, sf_dir):
        # near-dup pair graph -> cluster labels: the step a training
        # pipeline runs after pair generation (keep one doc per
        # cluster). Iterative min-label propagation, labels in
        # DataFrames end to end (operators/graph.py). Oracle: DuckDB
        # recursive CTE computing min reachable id over the same
        # exact-jaccard edge set.
        from osm_jl_spark.operators.graph import connected_components

        corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
        pairs = D.ngram_jaccard_pairs(corpus, threshold=0.5)
        e = pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        edges = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        cc = connected_components(edges)
        return cc.select(
            F.col("node").cast("long").alias("doc_id"),
            F.col("comp").cast("long").alias("cluster_id"),
        )

    def neardup_keep_best_q(spark, sf_dir):
        # pair graph -> clusters -> keep the BEST doc per cluster
        # (most tokens, tie min id): the '+extratoken' variants are
        # one token longer than their sources, so the kept doc is the
        # HIGHER id of each pair — pins that this is argmax-by-score,
        # not exact dedup's min-id
        from osm_jl_spark.functions.text import token_count_col

        corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
        pairs = D.ngram_jaccard_pairs(corpus, threshold=0.5)
        return D.neardup_keep_best(
            corpus, pairs, token_count_col("text")
        ).select(
            F.col("cluster_id").cast("long"),
            F.col("keep_id").cast("long"),
        )

    def contamination_q(spark, sf_dir):
        # train/eval decontamination: eval items are 15-token
        # prefixes of a sample of docs; flag train docs containing
        # >=80% of an eval item's trigram shingles. The near-dup
        # corpus makes the asymmetry visible: the '+extratoken'
        # variant has MORE shingles than the eval prefix (jaccard
        # would dilute below 1.0) yet containment stays 1.0.
        corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
        from osm_jl_spark.functions.text import tokens_col

        ev = corpus.filter(
            (F.col("doc_id") % 37 == 0) & (F.col("doc_id") < 150)
        ).select(
            "doc_id",
            F.concat_ws(" ", F.slice(tokens_col("text"), 1, 15))
            .alias("text"),
        )
        return D.contamination_pairs(corpus, ev, threshold=0.8).select(
            "train_id", "eval_id", "containment"
        )

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

    def bbox_overlap_join_q(spark, sf_dir):
        # rectangle-overlap spatial join (operators/joins.py:
        # envelope_join): two deterministic rectangle sets derived
        # from the node table's EXACT micro-degree integers (centers =
        # every 31st / 43rd node, half-widths 10..199 from pure id
        # arithmetic — extents < cell_w 500, so strict mode runs the
        # pure grid path: 2x2-max cell covers, one equi-join on the
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
            rects(31, 37, 61), rects(43, 53, 29),
            cell_w=500, oversize="strict",
        )

    def bloom_contamination_q(spark, sf_dir):
        # approximate decontamination against a FIXED-SIZE Bloom
        # filter of the eval set (operators/dedup.py:
        # bloom_contamination): eval = every 7th document, m = 2^14
        # bits, k = 3 double-hashed md5 probes. Per train doc:
        # (n_shingles, bloom_hits, contaminated) with contaminated =
        # integer containment >= 1/2. The 2^14 bitmap is deliberately
        # small at this corpus (~55% loaded) so FALSE POSITIVES are
        # exercised, not just the no-false-negative easy half; the
        # DuckDB oracle replays every probe position (same md5
        # substring arithmetic) and the SET-membership formulation —
        # semantically equal to the bitmap but structurally
        # independent, the anti-copy oracle style.
        docs = _pq(spark, sf_dir, "documents")
        ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
        return D.bloom_contamination(
            docs, ev, m_bits=1 << 14, k=3
        ).select("doc_id", "n_shingles", "bloom_hits", "contaminated")

    def hash_sample_q(spark, sf_dir):
        # deterministic rate sampling: hash(doc_id) < f*2^60 — a
        # narrow zero-shuffle filter whose membership is stable
        # across reruns and partition layouts, and nested across
        # rates (operators/sampling.py)
        from osm_jl_spark.operators.sampling import hash_sample

        docs = _pq(spark, sf_dir, "documents")
        return hash_sample(docs, 0.25).select("doc_id", "lang")

    def stratified_sample_q(spark, sf_dir):
        # exactly k docs per language, picked by hash rank — the
        # deterministic per-stratum cap a corpus-mixing step needs
        from osm_jl_spark.operators.sampling import stratified_sample

        docs = _pq(spark, sf_dir, "documents")
        return stratified_sample(docs, ["lang"], k=20).select(
            "doc_id", "lang"
        )

    def embedding_knn_q(spark, sf_dir):
        emb = _pq(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
        return S.cosine_topk(emb, q, k=5, rank_round=4).select(
            "query_id", "neighbor_id", F.col("rank").alias("knn_rank")
        )

    def embedding_near_dups_q(spark, sf_dir):
        # The driver embeddings have no natural near-dups (max pairwise
        # cosine ~0.51), so union an id-shifted copy: the duplicate
        # pairs have cosine 1.0, every hyperplane dot is identical, so
        # LSH recall is exactly 1 and the brute-force oracle matches
        # deterministically. cosine itself is excluded from the output
        # (engines may differ in last-ulp float summation).
        emb = _pq(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        emb2 = emb.select("vec_id", "embedding").unionByName(
            emb.select(
                (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
            )
        )
        return D.embedding_near_dups(emb2, threshold=0.95).select(
            "id_a", "id_b"
        )

    def ivf_knn_q(spark, sf_dir):
        # refine=2: two deterministic Lloyd iterations tighten the
        # hash-seeded centroids toward real k-means cells (SSE
        # non-increase + determinism pinned in tests) — the production
        # recall story, not just the index pattern.
        emb = _pq(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        assigned, cents = S.build_ivf(emb, n_centroids=8, refine=2)
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
        return S.ivf_topk(assigned, cents, q, k=5, nprobe=3).select(
            "query_id", "neighbor_id", F.col("rank").alias("knn_rank")
        )

    def ivf_knn_exhaustive_q(spark, sf_dir):
        # IVF probing EVERY bucket (nprobe == n_centroids) must equal
        # brute force exactly — the index's no-loss invariant: the
        # bucket structure prunes candidates, never changes scores or
        # ranking. Oracle = the same SQL as embedding_knn.
        emb = _pq(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        assigned, cents = S.build_ivf(emb, n_centroids=8)
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
        return S.ivf_topk(
            assigned, cents, q, k=5, nprobe=8, rank_round=4
        ).select(
            "query_id", "neighbor_id", F.col("rank").alias("knn_rank")
        )

    def text_quality_q(spark, sf_dir):
        docs = _pq(spark, sf_dir, "documents")
        return docs.select(
            "doc_id",
            token_count_col("text").alias("n_tokens"),
            uniq_token_ratio_col("text").alias("uniq_ratio"),
            stopword_ratio_col("text").alias("stop_ratio"),
        )

    def repetition_scores_q(spark, sf_dir):
        # Gopher-style repetition signal: share of a doc's 2-grams
        # taken by its most frequent 2-gram (operators/quality.py:
        # explode + two map-side-combinable aggs, no per-row fold)
        from osm_jl_spark.operators.quality import repetition_scores

        docs = _pq(spark, sf_dir, "documents")
        return repetition_scores(docs, n=2)

    def tfidf_top_terms_q(spark, sf_dir):
        # per-doc characteristic terms by tf*N/df (log-free idf:
        # exact integer numerator, one float division -> bit-equal
        # rankings cross-engine); deterministic (score desc, token)
        from osm_jl_spark.operators.quality import tfidf_top_terms

        docs = _pq(spark, sf_dir, "documents")
        return tfidf_top_terms(docs, top=3)

    def corpus_clean_q(spark, sf_dir):
        # the composite a C4-style cleanup runs as ONE plan: quality
        # gates (length / stopword / uniq-token / repetition) ->
        # exact dedup keep-min -> deterministic 50% hash sample.
        # Everything is native and the whole chain is a single
        # Catalyst plan: the quality gates fuse into the scan
        # projection, dedup is one shuffle, the sampler is a filter.
        from osm_jl_spark.operators.quality import repetition_scores
        from osm_jl_spark.operators.sampling import hash_sample

        docs = _pq(spark, sf_dir, "documents")
        scored = docs.select(
            "doc_id",
            "lang",
            "text",
            token_count_col("text").alias("nt"),
            uniq_token_ratio_col("text").alias("uq"),
            stopword_ratio_col("text").alias("st"),
        )
        rep = repetition_scores(docs, n=2).select(
            "doc_id", "repetition_ratio"
        )
        kept = (
            scored.join(rep, "doc_id")
            .filter(
                (F.col("nt") >= 10)
                & (F.col("uq") >= 0.3)
                & (F.col("st") >= 0.05)
                & (F.col("repetition_ratio") <= 0.2)
            )
        )
        deduped = D.exact_dedup(kept)
        return hash_sample(deduped, 0.5).select("doc_id", "lang")

    def pack_sequences_q(spark, sf_dir):
        # LLM-pretraining sequence packing: deterministic corpus
        # order, exclusive cumulative token offsets, fixed-budget
        # sequence ids — two-level distributed prefix sum
        # (operators/packing.py); the oracle runs the flat global
        # window, results must be bit-equal
        from osm_jl_spark.operators.packing import pack_sequences

        docs = _pq(spark, sf_dir, "documents")
        return pack_sequences(docs, budget=2048)

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

    def pii_scrub_q(spark, sf_dir):
        # pre-training PII scrub (operators/web.py): every doc gets a
        # deterministic synthetic email + phone + IPv4 appended (the
        # driver corpus itself is digit-free, verified), the operator
        # must redact exactly those; the oracle constructs the
        # expected scrubbed text independently and compares md5s.
        from osm_jl_spark.operators.web import pii_counts, scrub_pii

        docs = _pq(spark, sf_dir, "documents")
        d = F.col("doc_id")
        aug = F.concat(
            F.col("text"),
            F.lit(" contact u"), d.cast("string"),
            F.lit("@ex"), (d % 7).cast("string"),
            F.lit(".com or +1 555 010 "),
            F.lpad((d % 1000).cast("string"), 4, "0"),
            F.lit(" at 10.0."), (d % 256).cast("string"),
            F.lit("."), (d % 100).cast("string"),
        )
        a = docs.select("doc_id", aug.alias("t"))
        return a.select(
            "doc_id",
            F.md5(scrub_pii(F.col("t"))).alias("scrub_md5"),
            pii_counts(F.col("t")).alias("pc"),
        ).select(
            "doc_id",
            "scrub_md5",
            F.col("pc.n_email").alias("n_email"),
            F.col("pc.n_ip").alias("n_ip"),
            F.col("pc.n_phone").alias("n_phone"),
        )

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

    def line_dedup_q(spark, sf_dir):
        # CCNet/C4-style line-level dedup (operators/dedup.py
        # line_dedup): strip lines occurring in >= min_df distinct
        # docs. The corpus is built deterministically from documents:
        # every doc gets a per-site header + footer (site = doc_id %
        # 17, so each boilerplate line spans ~n/17 docs), a global
        # cookie banner on even ids (df = n/2), a blank separator
        # (ineligible: always kept), and two genuinely unique lines
        # (they embed doc_id). The DuckDB oracle CONSTRUCTS the
        # expected cleaned text independently by the same arithmetic —
        # it never runs a dedup — so a pass proves the operator
        # removed exactly the cross-document lines and nothing else,
        # in order, blank line preserved.
        docs = _pq(spark, sf_dir, "documents")
        d = F.col("doc_id")
        site = (d % 17).cast("string")
        txt = F.concat_ws(
            "\n",
            F.concat(F.lit("home about products site "), site),
            F.concat(
                F.lit("article "), d.cast("string"),
                F.lit(" headline "), ((d * 31 + 7) % 1000).cast("string"),
            ),
            F.lit(""),  # blank separator: below min_len, always kept
            F.concat(
                F.lit("body "), d.cast("string"), F.lit(" "),
                F.substring("text", 1, 40),
            ),
            # concat_ws SKIPS null args: odd docs get 5 lines, even 6
            F.when(d % 2 == 0, F.lit("accept all cookies")),
            F.concat(F.lit("copyright site "), site),
        )
        corpus = docs.select("doc_id", txt.alias("text"))
        out = D.line_dedup(corpus, min_df=3)
        return out.select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_lines",
            "n_kept",
        )

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
        out = interval_join(
            ev, iv, "ts_s", "start_s", "end_s", bucket_sec=43_200
        )
        return out.select("event_id", "interval_id")

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

    def length_quantiles_q(spark, sf_dir):
        # exact per-language token-length quantiles over the
        # (lang, length) HISTOGRAM (operators/stats.py): the hot `en`
        # group never sorts its raw docs in one task — the corpus
        # shuffle is a uniform composite-key count, the window sees
        # only distinct lengths. Integer rank arithmetic
        # (100*cum >= pct*n) keeps the DuckDB definition replay
        # hash-exact.
        from osm_jl_spark.operators.stats import group_quantiles_exact

        docs = _pq(spark, sf_dir, "documents")
        out = group_quantiles_exact(
            docs, "lang", token_count_col("text"), [25, 50, 90, 99]
        )
        return out.select("lang", "pct", F.col("q").cast("long").alias("q"))

    def token_count_by_lang_q(spark, sf_dir):
        docs = _pq(spark, sf_dir, "documents")
        return (
            docs.select("lang", token_count_col("text").alias("nt"))
            .groupBy("lang")
            .agg(
                F.sum("nt").alias("total_tokens"),
                F.count(F.lit(1)).alias("n_docs"),
            )
        )

    def lang_id_q(spark, sf_dir):
        docs = _pq(spark, sf_dir, "documents")
        return (
            docs.select("lang", lang_id_col("text").alias("pred_lang"))
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def fingerprint_q(spark, sf_dir):
        docs = _pq(spark, sf_dir, "documents")
        return docs.groupBy("source").agg(
            F.countDistinct(fingerprint_col("text")).alias("n_fp")
        )

    # ----------------------------------------- classic OLAP (TPC-H-ish)

    def tpch_q1_q(spark, sf_dir):
        li = _pq(spark, sf_dir, "lineitem")
        cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(cents("l_quantity")).alias("sum_qty_c"),
            F.sum(cents("l_extendedprice")).alias("sum_price_c"),
            F.count(F.lit(1)).alias("n_rows"),
        )

    def orders_by_segment_q(spark, sf_dir):
        o = _pq(spark, sf_dir, "orders")
        c = _pq(spark, sf_dir, "customer")
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                    "revenue_c"
                ),
            )
        )

    def events_top3_q(spark, sf_dir):
        from pyspark.sql import Window

        ev = _pq(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy(
            F.col("value").desc(), F.col("event_id").asc()
        )
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("user_id", "event_id", "rn")
        )

    def tpch_q6_q(spark, sf_dir):
        # Classic filter->agg (TPC-H Q6 shape): every predicate is a
        # native comparison that Catalyst pushes into the parquet scan.
        # Ship-date bounds compare epoch seconds (tz-independent in
        # both engines): 1996-01-01/1998-01-01 UTC.
        li = _pq(spark, sf_dir, "lineitem")
        sec = _epoch_sec("l_shipdate")
        return li.filter(
            (sec >= 820454400)
            & (sec < 883612800)
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        ).agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * F.col("l_discount") * 100
                ).cast("long")
            ).alias("revenue_c"),
            F.count(F.lit(1)).alias("n_rows"),
        )

    def tpch_q5_q(spark, sf_dir):
        # 6-table join (TPC-H Q5 shape): local-supplier volume per
        # nation. region/nation/supplier are explicit broadcast
        # dimensions; lineitem<->orders and the customer join (a fact
        # table at TPC-H scale: ~15M rows/SF) shuffle under AQE. The
        # c_nationkey = s_nationkey equi-condition rides the broadcast
        # supplier join, so no extra exchange appears for it.
        c = _pq(spark, sf_dir, "customer")
        o = _pq(spark, sf_dir, "orders")
        li = _pq(spark, sf_dir, "lineitem")
        s = _pq(spark, sf_dir, "supplier")
        n = _pq(spark, sf_dir, "nation")
        r = _pq(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
        sec = _epoch_sec("o_orderdate")
        o = o.filter((sec >= 820454400) & (sec < 852076800))
        return (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .join(
                F.broadcast(s),
                (F.col("l_suppkey") == F.col("s_suppkey"))
                & (F.col("c_nationkey") == F.col("s_nationkey")),
            )
            .join(
                F.broadcast(n),
                F.col("s_nationkey") == F.col("n_nationkey"),
            )
            .join(
                F.broadcast(r),
                F.col("n_regionkey") == F.col("r_regionkey"),
            )
            .groupBy("n_name")
            .agg(
                F.sum(
                    F.round(
                        F.col("l_extendedprice")
                        * (F.lit(1.0) - F.col("l_discount"))
                        * 100
                    ).cast("long")
                ).alias("revenue_c"),
                F.count(F.lit(1)).alias("n_lines"),
            )
        )

    def tpch_q3_q(spark, sf_dir):
        # 3-way join + agg + deterministic top-10 (TPC-H Q3 shape).
        # customer is a broadcast dimension; orders<->lineitem is the
        # shuffle join AQE plans (sort-merge or shuffled-hash by stats).
        c = _pq(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        o = _pq(spark, sf_dir, "orders")
        li = _pq(spark, sf_dir, "lineitem")
        return (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("l_orderkey")
            .agg(
                F.sum(
                    F.round(
                        F.col("l_extendedprice")
                        * (F.lit(1.0) - F.col("l_discount"))
                        * 100
                    ).cast("long")
                ).alias("revenue_c"),
                F.count(F.lit(1)).alias("n_lines"),
            )
            .orderBy(F.col("revenue_c").desc(), F.col("l_orderkey").asc())
            .limit(10)
        )

    def events_sessionize_q(spark, sf_dir):
        # Analytic-window sessionization: lag gap -> session boundary
        # flag -> running sum = session id -> per-session aggregates.
        # Both window ops share one (user_id, ts) spec => ONE shuffle.
        from pyspark.sql import Window

        ev = _pq(spark, sf_dir, "events")
        sec = _epoch_sec("ts")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = sec - F.lag(sec).over(w)
        return (
            ev.withColumn(
                "new_sess",
                F.when(gap.isNull() | (gap > 21600), F.lit(1)).otherwise(
                    F.lit(0)
                ),
            )
            .withColumn("session_id", F.sum("new_sess").over(w))
            .groupBy("user_id", "session_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min(sec).alias("start_epoch"),
                F.max(sec).alias("end_epoch"),
            )
        )

    def orders_rollup_q(spark, sf_dir):
        # Grouping-sets rollup (SURVEY §2.4: absent in the reference,
        # free in Spark): (status, priority) -> status -> grand total,
        # one pass, map-side partial aggregation per grouping set.
        o = _pq(spark, sf_dir, "orders")
        return (
            o.rollup("o_orderstatus", "o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("revenue_c"),
            )
            .select(
                F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
                F.coalesce("o_orderpriority", F.lit("(all)")).alias(
                    "priority"
                ),
                "n_orders",
                "revenue_c",
            )
        )

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

    def frame_sample_q(spark, sf_dir):
        from osm_jl_spark.operators.multimodal import (
            frame_sample,
            synthetic_media,
        )

        return frame_sample(synthetic_media(spark, 64), every_n=10)

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

    # --------------------------------------------- rows-only (no oracle)

    def geojson_q(spark, sf_dir):
        from osm_jl_spark.sources.geojson import way_features

        ways = _ways(spark, sf_dir).filter(F.col("id") <= 50)
        return way_features(ways, _nodes(spark, sf_dir), coord_decimals=5)

    def geojson_props_q(spark, sf_dir):
        # the reference's user property generator (src/geojson.jl:15,36)
        # — props Columns merged into properties; read back out of the
        # emitted JSON so the oracle checks the full round trip
        from osm_jl_spark.sources.geojson import way_features

        ways = _ways(spark, sf_dir).filter(F.col("id") <= 50)
        feats = way_features(
            ways,
            _nodes(spark, sf_dir),
            coord_decimals=5,
            props={
                "highway": E.gettag(E.HIGHWAY),
                "street": E.addr_street(),
            },
        )
        return feats.select(
            "way_id",
            F.get_json_object("feature", "$.properties.name").alias("name"),
            F.get_json_object("feature", "$.properties.highway").alias(
                "highway"
            ),
            F.get_json_object("feature", "$.properties.street").alias(
                "street"
            ),
        )

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

    def multimodal_q(spark, sf_dir):
        from osm_jl_spark.operators.multimodal import (
            decode_and_featurize,
            synthetic_media,
        )

        feats = decode_and_featurize(synthetic_media(spark, 64))
        return feats.select(
            "media_id", "kind", "out_width", "out_height",
            F.round(
                F.aggregate("feat", F.lit(0.0), lambda a, x: a + x), 6
            ).alias("feat_sum"),
        )

    def osm_xml_q(spark, sf_dir):
        from osm_jl_spark.sources.osm_xml import SAMPLE_OSM_XML, parse_elements

        df = spark.createDataFrame([(SAMPLE_OSM_XML,)], "xml STRING")
        return parse_elements(df).select("kind", "id", "lon", "lat")

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

    def fetch_schedule_q(spark, sf_dir):
        # crawl-frontier politeness scheduling (operators/web.py:
        # fetch_schedule): the extracted link targets become the
        # frontier (priority = first anchor position), each host's
        # urls serialize 15 s apart from epoch 1700000000. Exact
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

        return fetch_schedule(
            frontier, delay_sec=15, start_epoch=1700000000
        )

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

    def temperature_sample_q(spark, sf_dir):
        # temperature-based multilingual rebalancing (operators/
        # sampling.py: temperature_sample, the XLM-R/mT5 sampler) at
        # alpha = 0.5: keep-prob per lang = (sqrt(n_l)/n_l) scaled so
        # the largest is 1; membership = the same 60-bit md5 rank as
        # hash_sample under an integer threshold. alpha = 0.5 uses
        # only correctly-rounded IEEE ops (sqrt, divide, multiply),
        # so the DuckDB oracle computes the IDENTICAL thresholds from
        # identical counts and the sample matches bit for bit.
        from osm_jl_spark.operators.sampling import temperature_sample

        docs = _pq(spark, sf_dir, "documents").select("doc_id", "lang")
        return temperature_sample(docs)

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
        return hits_scores(edges, iters=2)

    def pq_topk_q(spark, sf_dir):
        # product-quantization ANN (operators/similarity.py): vectors
        # compress to 8 codeword ids (zero-shuffle literal-codebook
        # argmin, plan-pinned); queries score by ADC — the exact L2^2
        # to the reconstruction, never touching raw corpus vectors.
        # Codebooks are sub-slices of the 17 deterministic sample
        # vectors (vec_id % 31 below 31 * 17, so the driver collects a
        # fixed count at any corpus size — the semdedup-style
        # replayable form;
        # xxhash-seeded k-means training exists in code with its
        # distortion invariant pinned in tests/test_pq.py, but a
        # DuckDB oracle cannot replay xxhash). The oracle replays
        # codeword assignment, the per-subspace folds, the j-ordered
        # outer fold, and the (d2, id) ranking bit-exactly.
        emb = _pq(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        samples = [
            list(r.embedding)
            for r in emb.filter("vec_id % 31 = 0 AND vec_id < 31 * 17")
            .orderBy("vec_id").collect()
        ]
        books = S.pq_codebooks_from_samples(samples, 8)
        codes = S.pq_encode(emb, books)
        qs = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
        return S.pq_adc_topk(codes, books, qs, k=5)

    # Registration ORDER matters: the driver's correctness check walks
    # this dict in insertion order and has covered only a ~50-entry
    # prefix each round (r1: 48, r2-r4: exactly the first 50). Round-5
    # order (rotation contract: every query's newest driver evidence
    # <= 2 rounds old; `python tools/check_correctness.py --stale`
    # automates the bookkeeping): the never-driver-checked round-5
    # queries lead, then the 43-query tail the r4 prefix skipped
    # (newest evidence = CORRECTNESS_r03 — the SS2 OSM core: PIP,
    # bbox, waynodes, tiling, GeoJSON, XML parse — cheapest first, all
    # sub-second, so the whole set fits the prefix). The r4-green
    # groups follow (1 round old); nothing outside the r5 prefix is
    # older than r4.
    return {
        # -- new this round, never driver-checked
        "lm_perplexity_filter": lm_perplexity_q,
        "tile_serving": tile_serving_q,
        "radius_join": radius_join_q,
        "semdedup_clusters": semdedup_q,
        "geohash_tiles": geohash_tiles_q,
        "bloom_contamination": bloom_contamination_q,
        "bbox_overlap_join": bbox_overlap_join_q,
        # -- r3-green tail the r4 prefix skipped, cheapest first
        "events_top3": events_top3_q,
        "events_sessionize": events_sessionize_q,
        "text_quality": text_quality_q,
        "repetition_scores": repetition_scores_q,
        "tfidf_top_terms": tfidf_top_terms_q,
        "token_count_by_lang": token_count_by_lang_q,
        "lang_id": lang_id_q,
        "doc_fingerprints": fingerprint_q,
        "url_canonicalize": url_canonicalize_q,
        "pii_scrub": pii_scrub_q,
        "domain_stats": domain_stats_q,
        "nodes_highways": nodes_highways_q,
        "ways_buildings": ways_buildings_q,
        "highway_class_filter": highway_class_q,
        "search_name": search_name_q,
        "search_address": search_address_q,
        "addr_postcode_city": addr_postcode_city_q,
        "is_closed_ways": is_closed_q,
        "way_areas": way_areas_q,
        "waynodes_join": waynodes_q,
        "extract_semi_nodes": extract_semi_q,
        "relation_members": rel_members_q,
        "relations_with_node_members": rel_with_node_members_q,
        "bbox_vitoria_nodes": bbox_nodes_q,
        "bbox_store_nodes": bbox_store_q,
        "bbox_vitoria_ways": bbox_ways_q,
        "ways_in_frogner": ways_in_frogner_q,
        "pip_frogner": pip_frogner_q,
        "pip_polygons": pip_polygons_q,
        "pip_grid_polygons": pip_grid_polygons_q,
        "tile_counts": tile_counts_q,
        "tile_rollup": tile_rollup_q,
        "raster_vector": raster_vector_q,
        "geojson_features": geojson_q,
        "geojson_props": geojson_props_q,
        "feature_collection": feature_collection_q,
        "ecef_enu": ecef_enu_q,
        "tag_update": tag_update_q,
        "frame_sample": frame_sample_q,
        "multimodal_features": multimodal_q,
        "geoparse_points": geoparse_points_q,
        "osm_xml_parse": osm_xml_q,
        "osm_xml_file_parse": osm_xml_file_q,
        # -- positions 50+: the 50-entry r5 prefix is exactly full (7
        # new r5 queries + the 43-query r3 tail), so these later
        # round-5 additions wait at the prefix boundary — PENDING
        # their first driver check, each carried by the local gate
        # replica (ALL PASS hash-exact; `tools/check_correctness.py
        # --stale` reports them as PENDING, distinct from stale)
        "route_lengths": route_lengths_q,
        "osm_pbf_parse": osm_pbf_parse_q,
        "pq_topk": pq_topk_q,
        "fetch_schedule": fetch_schedule_q,
        "host_triangles": host_triangles_q,
        "link_hits": link_hits_q,
        "temperature_sample": temperature_sample_q,
        "geojson_roundtrip": geojson_roundtrip_q,
        # -- r4 driver-green (1 round old), newest first
        "page_links": page_links_q,
        "host_in_links": host_in_links_q,
        "link_pagerank": link_pagerank_q,
        "length_quantiles": length_quantiles_q,
        "campaign_windows": campaign_windows_q,
        "indegree_quantiles": indegree_quantiles_q,
        "crawl_asof": crawl_asof_q,
        "gopher_quality": gopher_quality_q,
        "blocklist_filter": blocklist_filter_q,
        "tpch_q5": tpch_q5_q,
        "doc_repetition": doc_repetition_q,
        "domain_cap": domain_cap_q,
        "text_normalize": text_normalize_q,
        "approx_domains": approx_domains_q,
        "pipeline_hygiene": pipeline_hygiene_q,
        "way_simplify": way_simplify_q,
        "window_dup_stats": window_dup_stats_q,
        "window_dedup_clean": window_dedup_clean_q,
        "way_lengths": way_lengths_q,
        "quadkey_tiles": quadkey_tiles_q,
        "tile_store_read": tile_store_read_q,
        "line_dedup": line_dedup_q,
        "knn_ring_10k": knn_10k_q,
        "ivf_knn": ivf_knn_q,
        "ivf_knn_exhaustive": ivf_knn_exhaustive_q,
        "knn_ring": knn_q,
        "dedup_clusters": dedup_clusters_q,
        "shortest_paths": shortest_paths_q,
        "bfs_hops": bfs_hops_q,
        "corpus_clean": corpus_clean_q,
        "hash_sample": hash_sample_q,
        "stratified_sample": stratified_sample_q,
        "pack_sequences": pack_sequences_q,
        "dedup_exact_groups": dedup_exact_groups_q,
        "dedup_exact_keep": dedup_exact_keep_q,
        "snapshot_latest": snapshot_latest_q,
        "ngram_jaccard_pairs": ngram_jaccard_q,
        "minhash_pairs": minhash_pairs_q,
        "simhash_pairs": simhash_pairs_q,
        "contamination": contamination_q,
        "neardup_keep_best": neardup_keep_best_q,
        "embedding_knn": embedding_knn_q,
        "embedding_near_dups": embedding_near_dups_q,
        # -- r3 driver-green remainder (checked again in the r4 prefix)
        "cell_lookup": cell_lookup_q,
        "cell_encode": cell_encode_q,
        "tpch_q1": tpch_q1_q,
        "tpch_q6": tpch_q6_q,
        "orders_by_segment": orders_by_segment_q,
        "orders_rollup": orders_rollup_q,
        "tpch_q3": tpch_q3_q,
    }


# ------------------------------------------------------------- oracles


def oracle_sql() -> dict[str, str]:
    c = _OC
    pages = G.pages_ctes("duckdb", c["docs"])
    nodes = G.nodes_ctes("duckdb", c["nodes"])
    ways = G.ways_ctes("duckdb", c["ways"], c["nodes"])
    rels = G.relations_ctes("duckdb", c["relations"], c["ways"], c["nodes"])
    frogner_edges = _edges_values({1: G.FROGNER})
    all_edges = _edges_values(G.POLYGONS)
    pip = _PIP_HAVING.format(lat="p.lat", lon="p.lon")
    pip_n = _PIP_HAVING.format(lat="n.lat", lon="n.lon")
    xlo, xhi, ylo, yhi = bbox_cell_range(G.VITORIA_UL, G.VITORIA_LR, PRECISION)

    out: dict[str, str] = {}

    # link extraction: the oracle NEVER runs a regex — datagen's
    # pages_links CTE reconstructs every anchor arithmetically from
    # the same rule load_pages used to embed them in html
    out["page_links"] = f"""WITH {pages}
SELECT url, link_idx, href, dst_host
FROM pages_links"""

    out["host_in_links"] = f"""WITH {pages}
SELECT dst_host,
       count(*) AS n_links,
       count(DISTINCT url) AS n_src_docs
FROM pages_links
GROUP BY dst_host"""

    # composite replay: arithmetic links -> in-degree (0 for unlinked
    # docs, lang from the target doc's dh) -> the same histogram
    # quantile definition as length_quantiles
    out["indegree_quantiles"] = f"""WITH {pages},
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
GROUP BY c.lang, pp.pct"""

    # exact integer-scaled PageRank (damping 1/2, R = rank * N * 4^t):
    # three unrolled iterations of R_{{t+1}}(v) = 2*4^t +
    # sum_{{u->v}} (2/deg_u) * R_t(u), all BIGINT — see
    # operators/links.py:pagerank_scaled for the derivation
    out["link_pagerank"] = f"""WITH {pages},
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
SELECT node AS doc_id, r AS rank_s FROM r3"""

    out["geoparse_points"] = (
        f"WITH {pages} SELECT url, pt_idx, lon, lat FROM pages_pts"
    )

    out["cell_encode"] = f"""WITH {pages}
SELECT url, pt_idx,
       CAST(trunc(lon * 100) AS BIGINT) AS cx,
       CAST(trunc(lat * 100) AS BIGINT) AS cy
FROM pages_pts"""

    out["pip_frogner"] = f"""WITH {pages}, {frogner_edges}
SELECT p.url, p.pt_idx
FROM pages_pts p, poly_edges e
GROUP BY p.url, p.pt_idx, p.lon, p.lat
HAVING {pip}"""

    out["pip_polygons"] = f"""WITH {pages}, {all_edges}
SELECT p.url, p.pt_idx, e.polygon_id
FROM pages_pts p, poly_edges e
GROUP BY p.url, p.pt_idx, e.polygon_id, p.lon, p.lat
HAVING {pip}"""

    grid_edges = _edges_values(G.polygon_grid())
    out["pip_grid_polygons"] = f"""WITH {pages}, {grid_edges}
SELECT p.url, p.pt_idx, e.polygon_id
FROM pages_pts p, poly_edges e
GROUP BY p.url, p.pt_idx, e.polygon_id, p.lon, p.lat
HAVING {pip}"""

    out["tile_counts"] = f"""WITH {pages}
SELECT CAST(trunc(lon * 100) AS BIGINT) AS cx,
       CAST(trunc(lat * 100) AS BIGINT) AS cy,
       count(*) AS n_points
FROM pages_pts GROUP BY 1, 2"""

    out["tile_rollup"] = f"""WITH {pages}
SELECT 2 AS res, CAST(trunc(lon * 100) AS BIGINT) AS cx,
       CAST(trunc(lat * 100) AS BIGINT) AS cy, count(*) AS n_points
FROM pages_pts GROUP BY 1, 2, 3
UNION ALL
SELECT 1, CAST(trunc(lon * 10) AS BIGINT), CAST(trunc(lat * 10) AS BIGINT), count(*)
FROM pages_pts GROUP BY 1, 2, 3
UNION ALL
SELECT 0, CAST(trunc(lon * 1) AS BIGINT), CAST(trunc(lat * 1) AS BIGINT), count(*)
FROM pages_pts GROUP BY 1, 2, 3"""

    out["raster_vector"] = f"""WITH {pages},
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
FROM t WHERE n_points >= 2"""

    out["bbox_vitoria_nodes"] = f"""WITH {nodes}
SELECT id, lon, lat FROM nodes
WHERE CAST(trunc(lon * 100) AS BIGINT) BETWEEN {xlo} AND {xhi}
  AND CAST(trunc(lat * 100) AS BIGINT) BETWEEN {ylo} AND {yhi}"""

    # same rows, served via the cell-clustered store (layout changes,
    # semantics must not)
    out["bbox_store_nodes"] = out["bbox_vitoria_nodes"]

    import math as _math

    _clx = _math.trunc((G.VITORIA_UL[0] + 0.03) * 10**PRECISION)
    _cly = _math.trunc((G.VITORIA_LR[1] + 0.05) * 10**PRECISION)
    out["cell_lookup"] = f"""WITH {nodes}
SELECT id, lon, lat FROM nodes
WHERE CAST(trunc(lon * 100) AS BIGINT) = {_clx}
  AND CAST(trunc(lat * 100) AS BIGINT) = {_cly}"""

    # recursive-CTE BFS over the same road-graph edge definition as
    # operators/graph.py: consecutive refs of visible open ways, both
    # directions, self-loops dropped, UNION-deduped; dist bounded by
    # the hop cap so the recursion terminates
    out["bfs_hops"] = f"""WITH RECURSIVE {ways},
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
FROM bfs GROUP BY node"""

    # exact integer shoelace: lead() pairs consecutive ring points,
    # COALESCE wraps last->first; 1e-5-degree quantization makes
    # every term and sum BIGINT (order-independent, bit-equal)
    out["way_areas"] = f"""WITH {nodes}, {ways},
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
FROM nx GROUP BY id"""

    # weighted variant: min total weight over walks of <= 6 edges,
    # hop-bounded so the recursion terminates on cyclic road graphs;
    # the Spark side runs exactly 6 Bellman-Ford rounds (graph.py)
    out["shortest_paths"] = f"""WITH RECURSIVE {ways},
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
  JOIN wedges e ON e.src = s.node WHERE s.h < 6
)
SELECT CAST(node AS BIGINT) AS node_id, CAST(MIN(d) AS BIGINT) AS dist
FROM sp GROUP BY node"""

    out["bbox_vitoria_ways"] = f"""WITH {nodes}, {ways}
SELECT DISTINCT wr.id FROM ways_refs wr
JOIN nodes n ON wr.ref = n.id
WHERE CAST(trunc(n.lon * 100) AS BIGINT) BETWEEN {xlo} AND {xhi}
  AND CAST(trunc(n.lat * 100) AS BIGINT) BETWEEN {ylo} AND {yhi}"""

    out["nodes_highways"] = (
        f"WITH {nodes} SELECT id, t_highway AS highway FROM nodes "
        "WHERE t_highway IS NOT NULL"
    )

    out["ways_buildings"] = (
        f"WITH {ways} SELECT id FROM ways WHERE t_building IS NOT NULL"
    )

    cls3 = ", ".join(f"'{x}'" for x in G.HIGHWAY_CLASSES[:3])
    out["highway_class_filter"] = (
        f"WITH {ways} SELECT id, t_highway AS highway FROM ways "
        f"WHERE t_highway IN ({cls3})"
    )

    out["search_name"] = f"""WITH {nodes}, {ways}
SELECT 'way' AS kind, id FROM ways WHERE t_name = 'name_0'
UNION ALL
SELECT 'node' AS kind, id FROM nodes WHERE t_name = 'name_0'"""

    out["search_address"] = f"""WITH {nodes}, {ways}
SELECT 'way' AS kind, id FROM ways
WHERE t_addr_street = 'street_7' AND t_addr_housenumber = '107'
UNION ALL
SELECT 'node' AS kind, id FROM nodes
WHERE t_addr_street = 'street_7' AND t_addr_housenumber = '107'"""

    out["is_closed_ways"] = f"""WITH {ways}
SELECT w.id, (f.ref = l.ref) AS closed
FROM ways w
JOIN ways_refs f ON f.id = w.id AND f.pos = 1
JOIN ways_refs l ON l.id = w.id AND l.pos = w.nw"""

    out["waynodes_join"] = f"""WITH {nodes}, {ways}
SELECT wr.id AS way_id, wr.pos, n.id AS node_id, n.lon, n.lat
FROM ways_refs wr JOIN nodes n ON wr.ref = n.id
WHERE wr.id <= 200"""

    out["extract_semi_nodes"] = f"""WITH {nodes}, {ways}
SELECT DISTINCT n.id
FROM nodes n
JOIN ways_refs wr ON n.id = wr.ref
JOIN ways w ON wr.id = w.id
WHERE w.t_building IS NOT NULL"""

    out["ways_in_frogner"] = f"""WITH {nodes}, {ways}, {frogner_edges},
inside AS (
  SELECT n.id FROM nodes n, poly_edges e
  GROUP BY n.id, n.lon, n.lat
  HAVING {pip_n}
)
SELECT DISTINCT wr.id FROM ways_refs wr
JOIN inside i ON wr.ref = i.id"""

    out["relation_members"] = f"""WITH {rels}
SELECT id AS relation_id, pos, ref, mtype AS type, role FROM rel_members"""

    out["relations_with_node_members"] = f"""WITH {rels}
SELECT DISTINCT id FROM rel_members WHERE mtype = 'node' AND ref <= 100"""

    out["knn_ring"] = f"""WITH {nodes},
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
SELECT query_id, id, knn_rank FROM r WHERE knn_rank <= 5"""

    # 10k-query variant: same ring-expansion join, checked as an
    # aggregate checksum over (query, neighbor, rank) — the full result
    # set would be 50k rows of brute-force window in DuckDB, fine at
    # sf0.01, and the checksum still pins every neighbor id and rank.
    # Offsets (+0.001) keep queries off their own node (rank 1 is a
    # genuine nearest-neighbor decision, not identity).
    out["knn_ring_10k"] = f"""WITH {nodes},
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
FROM r WHERE rnk <= 5"""

    # -------------------------- text / dedup (driver documents view)

    norm = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
    out["dedup_exact_groups"] = f"""WITH {_DOCS2X_SQL}
SELECT md5({norm}) AS fp, count(*) AS n_docs, min(doc_id) AS keep_id
FROM docs2x GROUP BY 1 HAVING count(*) >= 2"""

    out["dedup_exact_keep"] = f"""WITH {_DOCS2X_SQL},
k AS (SELECT md5({norm}) AS fp, min(doc_id) AS doc_id FROM docs2x GROUP BY 1)
SELECT doc_id FROM k"""

    out["snapshot_latest"] = f"""WITH {G.crawls_ctes("duckdb", c["docs"])}
SELECT url,
       max(warc_epoch) AS last_epoch,
       arg_max(fetch_h, warc_epoch) AS last_fetch,
       CAST(count(*) AS BIGINT) AS n_caps
FROM crawls GROUP BY url"""

    shingle_ctes = f"""{_NEARDUP_SQL},
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM neardup
),
pos AS (SELECT range + 1 AS j FROM range(200)),
sh AS (
  SELECT DISTINCT t.doc_id, array_to_string(list_slice(t.tk, p.j, p.j + 2), ' ') AS s
  FROM toks t, pos p WHERE p.j <= len(t.tk) - 2
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)"""
    out["ngram_jaccard_pairs"] = f"""WITH {shingle_ctes}
SELECT i.id_a, i.id_b,
       i.i / (sa.sz + sb.sz - i.i) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5"""

    # same jaccard>=0.5 edge set, then min-reachable-id per node via a
    # recursive CTE — the oracle for the iterative min-label
    # propagation in operators/graph.py:connected_components
    out["dedup_clusters"] = f"""WITH RECURSIVE {shingle_ctes},
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5
),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(n, m) AS (
  SELECT a, a FROM und
  UNION
  SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a
)
SELECT CAST(n AS BIGINT) AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id
FROM reach GROUP BY n"""

    # same cluster labels, then argmax-by-(token count, min id) per
    # cluster; singleton docs are their own cluster
    out["neardup_keep_best"] = f"""WITH RECURSIVE {shingle_ctes},
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5
),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(n, m) AS (
  SELECT a, a FROM und
  UNION
  SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a
),
labels AS (SELECT n AS doc_id, min(m) AS comp FROM reach GROUP BY n),
scored AS (
  SELECT nd.doc_id,
         COALESCE(l.comp, nd.doc_id) AS cluster_id,
         len(list_filter(string_split(nd.text, ' '), x -> x <> '')) AS s
  FROM neardup nd LEFT JOIN labels l ON l.doc_id = nd.doc_id
),
best AS (
  SELECT cluster_id, doc_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY s DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(doc_id AS BIGINT) AS keep_id
FROM best WHERE rk = 1"""

    # asymmetric containment over the same shingle machinery: eval
    # items are 15-token prefixes of doc_id % 37 == 0 docs; a train
    # doc is contaminated when it holds >=80% of the eval shingles
    out["contamination"] = f"""WITH {_NEARDUP_SQL},
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM neardup
),
ev AS (
  SELECT doc_id AS eval_id,
         list_filter(list_slice(tk, 1, 15), t -> t <> '') AS tk
  FROM toks WHERE doc_id % 37 = 0 AND doc_id < 150
),
pos AS (SELECT range + 1 AS j FROM range(200)),
tsh AS (
  SELECT DISTINCT t.doc_id, array_to_string(list_slice(t.tk, p.j, p.j + 2), ' ') AS s
  FROM toks t, pos p WHERE p.j <= len(t.tk) - 2
),
esh AS (
  SELECT DISTINCT e.eval_id, array_to_string(list_slice(e.tk, p.j, p.j + 2), ' ') AS s
  FROM ev e, pos p WHERE p.j <= len(e.tk) - 2
),
esz AS (SELECT eval_id, count(*) AS sz FROM esh GROUP BY 1),
icnt AS (
  SELECT t.doc_id AS train_id, e.eval_id, count(*) AS i
  FROM tsh t JOIN esh e ON t.s = e.s GROUP BY 1, 2
)
SELECT i.train_id, i.eval_id, i.i / z.sz AS containment
FROM icnt i JOIN esz z ON z.eval_id = i.eval_id
WHERE i.i / z.sz >= 0.8"""

    # bloom decontamination: replay every probe position with the
    # identical md5-substring arithmetic, then use SET membership
    # (pos IN eval positions) in place of the bitmap — the bits set
    # in the filter are exactly the eval position set, so the two
    # formulations are value-equal while sharing no structure
    out["bloom_contamination"] = """WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
),
js AS (SELECT range + 1 AS j FROM range(200)),
tsh AS (
  SELECT DISTINCT t.doc_id,
         array_to_string(list_slice(t.tk, p.j, p.j + 2), ' ') AS s
  FROM toks t, js p WHERE p.j <= len(t.tk) - 2
),
probes AS (
  SELECT doc_id, s,
         (CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
          + r.range * (CAST('0x' || substr(md5(s), 16, 12) AS BIGINT)
                       * 2 + 1)) % 16384 AS pos
  FROM tsh, range(3) r
),
ev_pos AS (
  SELECT DISTINCT pos FROM probes WHERE doc_id % 7 = 0
),
hit AS (
  SELECT p.doc_id, p.s,
         bool_and(e.pos IS NOT NULL) AS might
  FROM probes p LEFT JOIN ev_pos e ON e.pos = p.pos
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN might THEN 1 ELSE 0 END) AS BIGINT)
         AS bloom_hits,
       CAST(CASE WHEN 2 * sum(CASE WHEN might THEN 1 ELSE 0 END)
                      >= count(*)
                 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM hit GROUP BY doc_id"""

    # 60-bit md5-prefix rank, identical to sampling._rank_hash;
    # 0.25 * 2^60 == 1 << 58 exactly
    _rk = ("CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) "
           "AS BIGINT)")
    out["hash_sample"] = f"""SELECT doc_id, lang FROM documents
WHERE {_rk} < {1 << 58}"""

    out["stratified_sample"] = f"""WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {_rk}, doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang FROM r WHERE rk <= 20"""

    out["embedding_knn"] = """WITH
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(e.v, q.qv) AS cosine
  FROM e, q
),
r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(cosine, 4) DESC, neighbor_id
         ) AS knn_rank
  FROM s
)
SELECT query_id, neighbor_id, knn_rank FROM r WHERE knn_rank <= 5"""

    # IVF probing every bucket == brute force (no-loss invariant)
    out["ivf_knn_exhaustive"] = out["embedding_knn"]

    from osm_jl_spark.functions.text import LANG_LEXICON, STOPWORDS

    stop_list = "['" + "','".join(STOPWORDS) + "']"
    out["text_quality"] = f"""WITH
t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
)
SELECT doc_id,
       len(tk) AS n_tokens,
       CASE WHEN len(tk) > 0
            THEN len(list_distinct(tk)) / len(tk) ELSE 0.0 END AS uniq_ratio,
       CASE WHEN len(tk) > 0
            THEN len(list_filter(tk, x -> list_contains({stop_list}, x))) / len(tk)
            ELSE 0.0 END AS stop_ratio
FROM t"""

    out["repetition_scores"] = """WITH
t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
pos AS (SELECT range + 1 AS j FROM range(200)),
g AS (
  SELECT t.doc_id, array_to_string(list_slice(t.tk, p.j, p.j + 1), ' ') AS gram
  FROM t, pos p WHERE p.j <= len(t.tk) - 1
),
c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
SELECT doc_id,
       CAST(max(c) AS BIGINT) AS top_ngram_count,
       CAST(sum(c) AS BIGINT) AS ngram_total,
       CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS repetition_ratio
FROM c GROUP BY doc_id"""

    out["tfidf_top_terms"] = """WITH
t AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
         AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
         (tf.tf * n.n) / dfq.df AS score
  FROM tf JOIN dfq ON dfq.token = tf.token CROSS JOIN n
),
r AS (
  SELECT doc_id, token, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, token ASC) AS rk
  FROM scored
)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 3"""

    # composite C4-style cleanup: quality gates + repetition gate ->
    # exact-dedup keep-min -> deterministic 50% hash sample
    out["corpus_clean"] = f"""WITH
t AS (
  SELECT doc_id, lang, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
q AS (
  SELECT doc_id, lang, text, len(tk) AS nt,
         CASE WHEN len(tk) > 0
              THEN len(list_distinct(tk)) / len(tk) ELSE 0.0 END AS uq,
         CASE WHEN len(tk) > 0
              THEN len(list_filter(tk, x -> list_contains({stop_list}, x))) / len(tk)
              ELSE 0.0 END AS st
  FROM t
),
pos AS (SELECT range + 1 AS j FROM range(200)),
g AS (
  SELECT t.doc_id, array_to_string(list_slice(t.tk, p.j, p.j + 1), ' ') AS gram
  FROM t, pos p WHERE p.j <= len(t.tk) - 1
),
c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
r AS (
  SELECT doc_id,
         CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS rr
  FROM c GROUP BY doc_id
),
kept AS (
  SELECT q.doc_id, q.lang, q.text
  FROM q JOIN r ON r.doc_id = q.doc_id
  WHERE q.nt >= 10 AND q.uq >= 0.3 AND q.st >= 0.05 AND r.rr <= 0.2
),
k AS (
  SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
         min(doc_id) AS doc_id
  FROM kept GROUP BY 1
)
SELECT kept.doc_id, kept.lang
FROM kept JOIN k ON k.doc_id = kept.doc_id
WHERE CAST('0x' || substr(md5(CAST(kept.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      < {1 << 59}"""

    # flat global-window spelling of the two-level prefix sum in
    # operators/packing.py — integer token counts, so offsets must
    # match bit for bit
    out["pack_sequences"] = """WITH
t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tokens,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS rk
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (
            ORDER BY rk, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS tok_offset,
       CAST(COALESCE(SUM(n_tokens) OVER (
            ORDER BY rk, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // 2048 AS BIGINT) AS seq_id
FROM t"""

    # web-corpus hygiene oracles: expected values constructed
    # INDEPENDENTLY (arithmetic, no regex) — they verify the Spark
    # operators' transforms, not cross-engine regex agreement
    out["url_canonicalize"] = """
SELECT doc_id,
       'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
       'https://h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org/p/'
         || CAST(doc_id AS VARCHAR)
         || CASE doc_id % 4 WHEN 1 THEN '?q=1'
                            WHEN 3 THEN '?a=1'
                            ELSE '' END AS canon_url
FROM documents"""

    out["pii_scrub"] = """
SELECT doc_id,
       md5(text || ' contact <EMAIL> or <PHONE> at <IP>') AS scrub_md5,
       1 AS n_email, 1 AS n_ip, 1 AS n_phone
FROM documents"""

    out["domain_stats"] = """
SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
       count(*) AS n_pages,
       CAST(sum(len(text)) AS BIGINT) AS total_chars,
       CAST(sum(len(text)) AS BIGINT) / count(*) AS avg_chars
FROM documents
GROUP BY 1"""

    # line_dedup: expected cleaned text constructed INDEPENDENTLY by
    # arithmetic — at sf0.01 every boilerplate line (per-site header /
    # footer: df ~ 500/17 ~ 29; cookie banner: df = 250) clears
    # min_df=3 and every doc-id-bearing line has df=1, so the clean
    # text is exactly article + blank + body, in order.
    out["line_dedup"] = """
SELECT doc_id,
       md5('article ' || CAST(doc_id AS VARCHAR) || ' headline '
           || CAST((doc_id * 31 + 7) % 1000 AS VARCHAR)
           || chr(10) || chr(10)
           || 'body ' || CAST(doc_id AS VARCHAR) || ' '
           || substr(text, 1, 40)) AS clean_md5,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 6 ELSE 5 END AS BIGINT)
         AS n_lines,
       CAST(3 AS BIGINT) AS n_kept
FROM documents"""

    # crawl_asof: DuckDB's NATIVE ASOF LEFT JOIN — a genuinely
    # independent implementation of the at-or-before contract (the
    # engine plans a union + keyed window scan instead). Inclusive >=
    # on the ordering condition matches asof_join's equal-ts rule.
    out["crawl_asof"] = f"""WITH {G.crawls_ctes("duckdb", c["docs"])},
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
  ON c.url = p.url AND c.warc_epoch >= p.pol_epoch"""

    # gopher_quality: every signal replayed independently in DuckDB
    # list/regex SQL over the same deliberately-degraded corpus. All
    # ratio columns are one int-over-int double division (or /3 of an
    # exactly-divisible diff), so cross-engine floats are bit-equal.
    stop_sum = " + ".join(
        f"CAST(list_contains(words, '{s}') AS BIGINT)"
        for s in ("the", "a", "and", "of", "to", "be", "that", "with")
    )

    # parts+sig CTE pair over any (doc_id, text) source — shared by the
    # gopher_quality oracle and the pipeline_hygiene composite
    def _gopher_sig(src: str) -> str:
        return f"""parts AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'),
                     w -> w <> '') AS words,
         string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)),
                     l -> l <> '') AS nlines
  FROM {src}
),
sig AS (
  SELECT doc_id,
         len(words) AS n_words,
         len(nlines) AS n_lines,
         len(regexp_replace(text, '\\s+', '', 'g')) AS wchars,
         len(text) - len(replace(text, '#', '')) AS n_hash,
         (len(text) - len(replace(text, '...', ''))) / 3 AS n_ell,
         len(list_filter(lines,
             l -> l LIKE '- %' OR l LIKE '* %')) AS n_bullet,
         len(list_filter(nlines, l -> l LIKE '%...')) AS n_ellline,
         len(list_filter(words,
             w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         {stop_sum} AS stop_hits
  FROM parts
)"""

    _gopher_keep = """coalesce(
         n_words BETWEEN 50 AND 100000
         AND (wchars / n_words) BETWEEN 3.0 AND 10.0
         AND (n_hash + n_ell) / n_words < 0.1
         AND n_bullet / n_lines < 0.9
         AND n_ellline / n_lines < 0.3
         AND n_alpha / n_words > 0.8
         AND stop_hits >= 2, false)"""

    # full string-level replay of the CCNet-style LM filter: tokenize
    # with the same \\s+ rule, recount the trigram/context/vocab
    # statistics on the even-doc_id training half (HAVING >= 2 = the
    # min_count prune), rescore every doc with the identical integer
    # surprisal (bitlength(den // num) - 1 — DuckDB bin() and Spark
    # bin() agree on minimal binary strings), and re-derive the
    # per-lang band thresholds with the same exact histogram-quantile
    # definition as length_quantiles. No hashing or floats anywhere,
    # so the match is hash-exact by construction.
    out["lm_perplexity_filter"] = """WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
  FROM documents
),
tr AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(ts) - 1),
           i -> array_to_string(ts[i:i+2], ' '))) AS g3,
         unnest(list_transform(range(1, len(ts) - 1),
           i -> array_to_string(ts[i:i+1], ' '))) AS g2
  FROM toks WHERE len(ts) >= 3
),
train_tr AS (SELECT * FROM tr WHERE doc_id % 2 = 0),
c3 AS (
  SELECT lang, g3, count(*) AS c3 FROM train_tr
  GROUP BY lang, g3 HAVING count(*) >= 2
),
c2 AS (SELECT lang, g2, count(*) AS c2 FROM train_tr GROUP BY lang, g2),
v AS (
  SELECT lang, count(DISTINCT tok) AS v FROM (
    SELECT lang, unnest(ts) AS tok FROM toks WHERE doc_id % 2 = 0
  ) GROUP BY lang
),
s AS (
  SELECT tr.doc_id, tr.lang,
         CAST(coalesce(c3.c3, 0) + 1 AS BIGINT) AS num,
         CAST(coalesce(c2.c2, 0) + coalesce(v.v, 1) AS BIGINT) AS den
  FROM tr
  LEFT JOIN c3 ON tr.lang = c3.lang AND tr.g3 = c3.g3
  LEFT JOIN c2 ON tr.lang = c2.lang AND tr.g2 = c2.g2
  LEFT JOIN v ON tr.lang = v.lang
),
sc AS (
  SELECT doc_id, lang, count(*) AS n_tri,
         CAST(sum(length(bin(den // num)) - 1) AS BIGINT) AS bits,
         CAST(sum(length(bin(den // num)) - 1) AS BIGINT) * 1000
           // count(*) AS bpt_milli
  FROM s GROUP BY doc_id, lang
),
h AS (SELECT lang, bpt_milli AS vv, count(*) AS cnt FROM sc
      GROUP BY lang, bpt_milli),
c AS (
  SELECT lang, vv, cnt,
         sum(cnt) OVER (PARTITION BY lang ORDER BY vv) AS cum
  FROM h
),
n AS (SELECT lang, sum(cnt) AS n FROM h GROUP BY lang),
p AS (SELECT unnest([33, 66]) AS pct),
q AS (
  SELECT c.lang, p.pct, min(c.vv) AS q
  FROM c JOIN n USING (lang) CROSS JOIN p
  WHERE c.cum * 100 >= p.pct * n.n
  GROUP BY c.lang, p.pct
),
thr AS (
  SELECT lang,
         min(CASE WHEN pct = 33 THEN q END) AS q_lo,
         min(CASE WHEN pct = 66 THEN q END) AS q_hi
  FROM q GROUP BY lang
)
SELECT sc.doc_id, sc.lang, sc.n_tri, sc.bits,
       CAST(sc.bpt_milli AS BIGINT) AS bpt_milli,
       CASE WHEN sc.bpt_milli <= thr.q_lo THEN 'head'
            WHEN sc.bpt_milli <= thr.q_hi THEN 'middle'
            ELSE 'tail' END AS band,
       CASE WHEN sc.bpt_milli <= thr.q_hi THEN 1 ELSE 0 END AS keep
FROM sc JOIN thr ON sc.lang = thr.lang"""

    out["gopher_quality"] = f"""WITH webdocs AS (
  SELECT doc_id,
         CASE doc_id % 11
           WHEN 0 THEN repeat('- buy now' || chr(10), 19) || text
           WHEN 1 THEN '- a' || chr(10) || '- b' || chr(10)
                       || '- c' || chr(10) || text
           WHEN 2 THEN text || chr(10) || 'read more...'
                       || chr(10) || 'click here...'
           WHEN 3 THEN text || ' ' || repeat('# ', 40)
           WHEN 4 THEN substr(text, 1, 20)
           ELSE text END AS text
  FROM documents
),
{_gopher_sig('webdocs')}
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CASE WHEN n_words > 0 THEN wchars / n_words END
         AS mean_word_len,
       CASE WHEN n_words > 0 THEN (n_hash + n_ell) / n_words END
         AS symbol_ratio,
       CASE WHEN n_lines > 0 THEN n_bullet / n_lines END
         AS bullet_frac,
       CASE WHEN n_lines > 0 THEN n_ellline / n_lines END
         AS ellipsis_frac,
       CASE WHEN n_words > 0 THEN n_alpha / n_words END AS alpha_frac,
       stop_hits,
       coalesce(
         n_words BETWEEN 50 AND 100000
         AND (wchars / n_words) BETWEEN 3.0 AND 10.0
         AND (n_hash + n_ell) / n_words < 0.1
         AND n_bullet / n_lines < 0.9
         AND n_ellline / n_lines < 0.3
         AND n_alpha / n_words > 0.8
         AND stop_hits >= 2, false) AS keep
FROM sig"""

    # pipeline_hygiene: every stage re-derived in ONE SQL — arithmetic
    # blocklist verdicts, the shared gopher signal replica, and the
    # naive one-window cap the skew-safe two-stage plan must equal.
    out["pipeline_hygiene"] = f"""WITH v AS (
  SELECT doc_id, lang, text,
         'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
         CASE WHEN (doc_id % 50) % 4 = 0 THEN 'badlist'
              WHEN text LIKE '%customer%' AND lang = 'en'
                THEN 'kw_customer' END AS br
  FROM documents
),
kept AS (SELECT doc_id, host, text FROM v WHERE br IS NULL),
{_gopher_sig('kept')},
good AS (
  SELECT s.doc_id, k.host
  FROM sig s JOIN kept k USING (doc_id)
  WHERE {_gopher_keep}
)
SELECT doc_id, host, host_rank FROM (
  SELECT doc_id, host,
         row_number() OVER (PARTITION BY host ORDER BY doc_id)
           AS host_rank
  FROM good) t
WHERE host_rank <= 2"""

    # blocklist_filter: verdicts derived purely by ARITHMETIC (host
    # index % 4) — the engine runs an actual broadcast dimension join,
    # the oracle never builds the dimension at all.
    out["blocklist_filter"] = """WITH v AS (
  SELECT doc_id,
         'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
         CASE WHEN (doc_id % 50) % 4 = 0 THEN 'badlist'
              WHEN text LIKE '%customer%' AND lang = 'en'
                THEN 'kw_customer' END AS block_reason
  FROM documents
)
SELECT doc_id, host, block_reason,
       block_reason IS NULL AS keep
FROM v"""

    # domain_cap: the oracle is the naive ONE-window formulation — the
    # gate therefore checks the two-stage skew-safe plan computes
    # exactly the single-window contract.
    out["domain_cap"] = """SELECT doc_id, host, host_rank FROM (
  SELECT doc_id,
         'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
         row_number() OVER (PARTITION BY doc_id % 50
                            ORDER BY doc_id) AS host_rank
  FROM documents) t
WHERE host_rank <= 3"""

    # text_normalize: expected CLEAN string constructed directly from
    # the original text (leading NBSP+quote trims/normalizes to '"',
    # the tab run collapses, en dash and ellipsis fold) — the oracle
    # never executes the transform.
    out["text_normalize"] = """SELECT doc_id,
       md5('"' || text || '" t-tail...') AS norm_md5,
       CAST(len('"' || text || '" t-tail...') AS BIGINT) AS n_chars
FROM documents"""

    # doc_repetition: full line-string replay (split -> per-(doc,line)
    # counts -> per-doc fractions); one int-over-int double division
    # per fraction keeps cross-engine floats bit-equal.
    out["doc_repetition"] = """WITH corpus AS (
  SELECT doc_id,
         text || CASE doc_id % 3
           WHEN 0 THEN repeat(chr(10) || 'subscribe now', 3)
           WHEN 1 THEN chr(10) || 'subscribe now'
           ELSE '' END AS text
  FROM documents
),
lns AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, chr(10)),
                            l -> l <> '')) AS line
  FROM corpus
),
per AS (
  SELECT doc_id, line, count(*) AS c, len(line) AS ln
  FROM lns GROUP BY doc_id, line
),
agg AS (
  SELECT doc_id,
         sum(c) AS n_lines,
         count(*) AS n_distinct,
         sum(ln * c) AS chars_all,
         sum(CASE WHEN c >= 2 THEN ln * c ELSE 0 END) AS chars_dup
  FROM per GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       (n_lines - n_distinct) / n_lines AS dup_line_frac,
       chars_dup / chars_all AS dup_line_char_frac
FROM agg"""

    # window STRINGS, not hashes: the oracle replays the whole
    # computation engine-independently (tokenize -> 8-token windows ->
    # per-doc distinct -> cross-doc df -> per-doc counts)
    out["window_dup_stats"] = """WITH corpus AS (
  SELECT doc_id,
         'welcome to site ' || CAST(doc_id % 17 AS VARCHAR)
         || ' home of site ' || CAST(doc_id % 17 AS VARCHAR)
         || ' news and weather updates ' || text AS text
  FROM documents
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
  FROM corpus
),
wins AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(ts) - 6),
           i -> array_to_string(ts[i:i+7], ' '))) AS ws
  FROM toks WHERE len(ts) >= 8
),
ex AS (SELECT doc_id, unnest(ws) AS wstr FROM wins),
hot AS (SELECT wstr FROM ex GROUP BY wstr HAVING count(*) >= 2)
SELECT e.doc_id, count(*) AS n_windows, count(h.wstr) AS n_dup_windows
FROM ex e LEFT JOIN hot h ON e.wstr = h.wstr
GROUP BY e.doc_id"""

    # the removal transform, replayed end to end over window STRINGS:
    # hot windows -> per-doc duplicated start positions -> covered-
    # token filter -> single-space re-join. Every stage recomputed
    # independently; no hashing shared with the engine.
    out["window_dedup_clean"] = """WITH corpus AS (
  SELECT doc_id,
         'welcome to site ' || CAST(doc_id % 17 AS VARCHAR)
         || ' home of site ' || CAST(doc_id % 17 AS VARCHAR)
         || ' news and weather updates ' || text AS text
  FROM documents
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
  FROM corpus
),
base AS (
  SELECT doc_id, ts, greatest(len(ts) - 7, 0) AS nw FROM toks
),
ex AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, nw + 1),
           i -> array_to_string(ts[i:i+7], ' ')))) AS wstr
  FROM base WHERE nw >= 1
),
hot AS (SELECT wstr FROM ex GROUP BY wstr HAVING count(*) >= 2),
doc_hot AS (
  SELECT e.doc_id, list(e.wstr) AS hws
  FROM ex e JOIN hot h ON e.wstr = h.wstr
  GROUP BY e.doc_id
),
j AS (
  SELECT b.doc_id, b.ts, b.nw, coalesce(d.hws, []) AS hws
  FROM base b LEFT JOIN doc_hot d ON b.doc_id = d.doc_id
),
s AS (
  SELECT doc_id, ts,
         list_filter(range(1, nw + 1),
           i -> list_contains(hws, array_to_string(ts[i:i+7], ' ')))
           AS starts
  FROM j
),
k AS (
  SELECT doc_id, ts,
         list_transform(
           list_filter(range(1, len(ts) + 1),
             p -> len(list_filter(starts,
                    st -> p >= st AND p <= st + 7)) = 0),
           p -> ts[p]) AS kept
  FROM s
)
SELECT doc_id,
       -- DuckDB's array_to_string([]) is NULL where Spark's
       -- concat_ws is '' — normalize the fully-scrubbed-doc case
       coalesce(array_to_string(kept, ' '), '') AS clean_text,
       len(ts) AS n_tokens,
       len(ts) - len(kept) AS n_removed
FROM k"""

    # mirrors way_lengths' float contract exactly: radians taken
    # per-endpoint BEFORE differencing, explicit multiplies (never
    # power()), constant 2R pre-folded, and the per-way sum as a
    # LEFT fold over the pos-ordered segment list (list_reduce) —
    # bit-equal to Spark's F.aggregate before the cm rounding
    out["way_lengths"] = f"""WITH {nodes}, {ways},
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
FROM c LEFT JOIN l ON c.id = l.id"""

    # PBF ingest: the oracle never touches the binary — it regenerates
    # the fixture triple (400 nodes / 150 ways / 80 relations)
    # arithmetically and compares ids, exact micro-degree coords,
    # child counts, and tag counts against the encode->decode output
    pbf_n = G.nodes_ctes("duckdb", 400)
    pbf_w = G.ways_ctes("duckdb", 150, 400)
    pbf_r = G.relations_ctes("duckdb", 80, 150, 400)
    out["osm_pbf_parse"] = f"""WITH {pbf_n}, {pbf_w}, {pbf_r}
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
FROM relations r"""

    # politeness scheduling: dedup-min + per-host (priority, url)
    # ranking + slot arithmetic replayed over the same arithmetic
    # pages_links CTE — all exact integers and lexicographic ties
    out["fetch_schedule"] = f"""WITH {pages},
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
       CAST(1700000000 AS BIGINT) + CAST(slot AS BIGINT) * 15
         AS fetch_at
FROM ranked"""

    # GeoJSON round trip: the oracle regenerates geometry order,
    # point counts, the first RESOLVED ref's exact micro-degree
    # coords, and the name tag from the generator CTEs — dangling
    # first refs drop (inner join), matching way_geometries
    out["geojson_roundtrip"] = f"""WITH {nodes}, {ways},
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
FROM agg a JOIN ways w ON w.id = a.id"""

    # temperature sampling: thresholds rebuilt from identical counts
    # with identical correctly-rounded IEEE ops (sqrt/divide/multiply
    # at alpha=0.5), then the same md5 rank filter as hash_sample;
    # trunc() in DuckDB == floor() in Spark on these >= 0 ratios
    out["temperature_sample"] = f"""WITH
d AS (SELECT doc_id, lang FROM documents),
n AS (SELECT lang, count(*) AS n FROM d GROUP BY lang),
r AS (SELECT lang, sqrt(CAST(n AS DOUBLE)) / n AS r FROM n),
mx AS (SELECT max(r) AS mx FROM r),
thr AS (
  SELECT lang,
         CAST(trunc((r / mx) * CAST({1 << 60} AS DOUBLE)) AS BIGINT)
           AS thr
  FROM r, mx
)
SELECT d.doc_id, d.lang
FROM d JOIN thr t ON t.lang = d.lang
WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
           AS BIGINT) < t.thr"""

    # HITS: two unnormalized integer power iterations unrolled — the
    # node set is the edge-endpoint union (hits_scores' contract),
    # a1 = in-degree (h0 = 1), h1 = sum of a1 over out-edges, etc.
    out["link_hits"] = f"""WITH {pages},
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
FROM h2 JOIN a2 ON a2.node = h2.node"""

    # triangle census: the oracle is the NAIVE canonical a<b<c
    # three-way join over the co-citation edges — independent of the
    # engine's degree-ordered orientation
    out["host_triangles"] = f"""WITH {pages},
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
FROM u GROUP BY host"""

    # PQ ANN: codeword assignment (per-subspace fold-L2 argmin over
    # the 17 sample codewords), ADC distances (same folds), and the
    # (d2, id) ranking all replayed bit-exactly — list_reduce folds
    # run the identical IEEE adds in the identical order, and the
    # j-ordered outer fold uses list(... ORDER BY j), never SUM()
    out["pq_topk"] = """WITH
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
smp AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
  FROM e WHERE vec_id % 31 = 0 AND vec_id < 31 * 17
),
js AS (SELECT range AS j FROM range(8)),
sub AS (
  SELECT e.vec_id AS id, j.j, s.c,
         list_reduce(list_transform(list_zip(
             list_slice(e.v, j.j * 8 + 1, j.j * 8 + 8),
             list_slice(s.cv, j.j * 8 + 1, j.j * 8 + 8)),
           z -> (z[1] - z[2]) * (z[1] - z[2])),
           (a, b) -> a + b) AS d2
  FROM e, js j, smp s
),
code AS (
  SELECT id, j, c FROM (
    SELECT id, j, c,
           row_number() OVER (PARTITION BY id, j ORDER BY d2, c) AS rn
    FROM sub
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
qd AS (
  SELECT q.query_id, j.j, s.c,
         list_reduce(list_transform(list_zip(
             list_slice(q.qv, j.j * 8 + 1, j.j * 8 + 8),
             list_slice(s.cv, j.j * 8 + 1, j.j * 8 + 8)),
           z -> (z[1] - z[2]) * (z[1] - z[2])),
           (a, b) -> a + b) AS d2
  FROM q, js j, smp s
),
adc AS (
  SELECT qd.query_id, c2.id AS neighbor_id,
         list_reduce(list(qd.d2 ORDER BY qd.j), (a, b) -> a + b)
           AS d2_adc
  FROM code c2 JOIN qd ON qd.j = c2.j AND qd.c = c2.c
  GROUP BY qd.query_id, c2.id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, d2_adc FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY d2_adc, neighbor_id) AS rank
  FROM adc
) WHERE rank <= 5"""

    # route assembly: member-way lengths replayed with the identical
    # way_lengths machinery, then the identical pos-ordered fold —
    # float-exact because both engines execute the same IEEE ops on
    # the same cm-rounded doubles in the same order
    out["route_lengths"] = f"""WITH {nodes}, {ways}, {rels},
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
FROM agg"""

    # way_simplify: the WHOLE Douglas-Peucker recursion replayed in a
    # recursive CTE — split test in exact HUGEINT (cross² vs eps²·len²,
    # point-distance² fallback for closed segments), first-max ties
    # via list_position, kept = every endpoint/split index ever
    # generated. No floats anywhere, so parity is exact.
    _dp_eps2 = 1_000_000 * 1_000_000
    out["way_simplify"] = f"""WITH RECURSIVE {nodes}, {ways},
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
FROM kept k JOIN geo g USING (way_id)"""

    # the same slippy-map arithmetic, same operation order (clamp ->
    # sin -> ln ratio -> scaled floor), same bit-interleave
    _4pi = 4.0 * 3.141592653589793

    # geohash replay: identical IEEE scale/floor ops over the same
    # CTE-regenerated doubles, bit interleave unrolled exactly like
    # the engine's codegen (functions/cells.py:geohash_col)
    from osm_jl_spark.functions.cells import GEOHASH_BASE32

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

    _gh_bits = 25  # length 5
    _gh_nx, _gh_ny = 13, 12
    out["geohash_tiles"] = f"""WITH {nodes},
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
GROUP BY z.gh_len, substr(g.gh, 1, z.gh_len)"""
    out["quadkey_tiles"] = f"""WITH {nodes},
m AS (
  SELECT sin(radians(greatest(least(lat, 85.05112878), -85.05112878)))
           AS s,
         lon
  FROM nodes
),
t AS (
  SELECT greatest(least(CAST(floor((lon + 180.0) / 360.0 * 4096.0)
           AS BIGINT), 4095), 0) AS x,
         greatest(least(CAST(floor(
           (0.5 - ln((1.0 + s) / (1.0 - s)) / {_4pi!r}) * 4096.0)
           AS BIGINT), 4095), 0) AS y
  FROM m
),
q AS (
  SELECT array_to_string(list_transform(range(11, -1, -1),
           b -> CAST(((x >> b) & 1) + 2 * ((y >> b) & 1) AS VARCHAR)),
           '') AS qk
  FROM t
)
SELECT qk, substr(qk, 1, 10) AS qk_parent, count(*) AS n
FROM q GROUP BY qk"""

    # the store read must return exactly the nodes whose zoom-12
    # quadkey has the tile's prefix — the oracle recomputes every
    # node's quadkey from scratch and applies the prefix test, which
    # independently verifies BOTH the stored qk column and the
    # layout's pruning predicates (a stripe/pushdown bug that drops or
    # leaks rows fails the value hash)
    out["tile_store_read"] = f"""WITH {nodes},
m AS (
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
)
SELECT id, qk FROM q WHERE substr(qk, 1, 4) = '2110'"""

    # the serving composite: same from-scratch quadkey recomputation,
    # then the '2110' subtree filter and the multi-zoom prefix rollup
    # replayed independently (substr = parent tile, per-zoom counts)
    out["tile_serving"] = f"""WITH {nodes},
m AS (
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
),
served AS (SELECT qk FROM q WHERE substr(qk, 1, 4) = '2110'),
z AS (SELECT unnest([4, 6, 8, 12]) AS zoom)
SELECT z.zoom, substr(served.qk, 1, z.zoom) AS tile_qk,
       count(*) AS n_points
FROM served CROSS JOIN z
GROUP BY z.zoom, substr(served.qk, 1, z.zoom)"""

    # radius join: the oracle is the NAIVE cross-product distance
    # filter over the generator's own integer micro-degree coordinates
    # (nodes_coord.lon_u/lat_u — no double recovery needed on this
    # side); the engine's broadcast cell-ring cover must produce
    # exactly the same pair set and the identical BIGINT d2
    out["radius_join"] = f"""WITH {nodes},
pts AS (SELECT id, lon_u, lat_u FROM nodes_coord),
ctr AS (SELECT id, lon_u, lat_u FROM nodes_coord WHERE id % 997 = 0)
SELECT c.id AS center_id, p.id AS point_id,
       CAST((p.lon_u - c.lon_u) * (p.lon_u - c.lon_u)
          + (p.lat_u - c.lat_u) * (p.lat_u - c.lat_u) AS BIGINT) AS d2
FROM pts p JOIN ctr c
  ON (p.lon_u - c.lon_u) * (p.lon_u - c.lon_u)
     + (p.lat_u - c.lat_u) * (p.lat_u - c.lat_u) <= 90000"""

    # rectangle overlap: the oracle is the NAIVE cross-product overlap
    # filter over the generator's own micro-degree integers — the
    # engine's grid-cover + reporting-cell plan must reproduce every
    # pair and exact integer area once
    out["bbox_overlap_join"] = f"""WITH {nodes},
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
 AND a.miny <= b.maxy AND b.miny <= a.maxy"""

    # interval containment: the oracle is the NAIVE range-predicate
    # join — an independent formulation; the engine's bucket-cover
    # equi-join must produce exactly the same pair set
    out["campaign_windows"] = """WITH
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
  ON ev.ts_s >= iv.start_s AND ev.ts_s < iv.end_s"""

    # exact discrete quantiles: independent replay of the DEFINITION
    # (smallest value whose cumulative count reaches ceil(pct*n/100))
    # over the same histogram construction — all-integer rank test
    out["length_quantiles"] = """WITH
t AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
  FROM documents
),
h AS (SELECT lang, nt, count(*) AS cnt FROM t GROUP BY lang, nt),
c AS (
  SELECT lang, nt, cnt,
         sum(cnt) OVER (PARTITION BY lang ORDER BY nt) AS cum
  FROM h
),
n AS (SELECT lang, sum(cnt) AS n FROM h GROUP BY lang),
p AS (SELECT unnest([25, 50, 90, 99]) AS pct)
SELECT c.lang, p.pct, CAST(min(c.nt) AS BIGINT) AS q
FROM c
JOIN n USING (lang)
CROSS JOIN p
WHERE c.cum * 100 >= p.pct * n.n
GROUP BY c.lang, p.pct"""

    out["token_count_by_lang"] = """WITH
t AS (
  SELECT lang, len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
  FROM documents
)
SELECT lang, CAST(sum(nt) AS BIGINT) AS total_tokens, count(*) AS n_docs
FROM t GROUP BY lang"""

    langs = sorted(LANG_LEXICON)
    score_cols = ",\n       ".join(
        "len(list_filter(tk, x -> list_contains(['"
        + "','".join(LANG_LEXICON[lg])
        + f"'], x))) AS s_{lg}"
        for lg in langs
    )
    mx = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pick = " ".join(f"WHEN s_{lg} = mx THEN '{lg}'" for lg in langs)
    out["lang_id"] = f"""WITH
t AS (
  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
s AS (
  SELECT lang,
       {score_cols}
  FROM t
),
p AS (
  SELECT lang, {mx} AS mx, * FROM s
),
pred AS (
  SELECT lang,
         CASE WHEN mx = 0 THEN 'und' ELSE CASE {pick} END END AS pred_lang
  FROM p
)
SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2"""

    out["doc_fingerprints"] = f"""SELECT source,
       count(DISTINCT md5({norm})) AS n_fp
FROM documents GROUP BY source"""

    out["tpch_q1"] = """SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS sum_qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_c,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus"""

    out["orders_by_segment"] = """SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_c
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment"""

    out["tpch_q6"] = """SELECT
       CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
            AS BIGINT) AS revenue_c,
       count(*) AS n_rows
FROM lineitem
WHERE epoch(l_shipdate) >= 820454400 AND epoch(l_shipdate) < 883612800
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24"""

    out["tpch_q5"] = """SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_c,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND epoch(o_orderdate) >= 820454400
  AND epoch(o_orderdate) < 852076800
GROUP BY n_name"""

    out["tpch_q3"] = """SELECT l_orderkey,
       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_c,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue_c DESC, l_orderkey ASC
LIMIT 10"""

    out["orders_rollup"] = """SELECT
       COALESCE(o_orderstatus, '(all)') AS status,
       COALESCE(o_orderpriority, '(all)') AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_c
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""

    out["events_sessionize"] = """WITH s AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(floor(epoch(ts)) AS BIGINT) - lag(
           CAST(floor(epoch(ts)) AS BIGINT)
         ) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
n AS (
  SELECT user_id, event_id, ts, sec,
         CASE WHEN gap IS NULL OR gap > 21600 THEN 1 ELSE 0 END AS new_sess
  FROM s
),
sess AS (
  SELECT user_id, sec,
         CAST(sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS BIGINT) AS session_id
  FROM n
)
SELECT user_id, session_id, count(*) AS n_events,
       min(sec) AS start_epoch, max(sec) AS end_epoch
FROM sess GROUP BY user_id, session_id"""

    out["events_top3"] = """WITH r AS (
  SELECT user_id, event_id,
         row_number() OVER (
           PARTITION BY user_id ORDER BY value DESC, event_id
         ) AS rn
  FROM events
)
SELECT user_id, event_id, rn FROM r WHERE rn <= 3"""

    # ------------------------------------------- ECEF / ENU (C3 / C4)
    # Constants inlined from the same python-math evaluation the engine
    # bakes into its plan as literals; only per-row radians/sin/cos/sqrt
    # run in each engine (ulp-level differences, absorbed by round-to-cm
    # on ~1e-9 m discrepancies). +0.0 normalizes -0.0 in both engines.
    import math as _math

    _re, _rp = 6378137.0, 6356752.3
    _e2 = 1.0 - (_rp * _rp) / (_re * _re)
    _phi0 = _math.radians(G.FROGNER[0][1])
    _lam0 = _math.radians(G.FROGNER[0][0])
    _n0 = _re / _math.sqrt(1.0 - _e2 * _math.sin(_phi0) ** 2)
    _x0 = _n0 * _math.cos(_phi0) * _math.cos(_lam0)
    _y0 = _n0 * _math.cos(_phi0) * _math.sin(_lam0)
    _z0 = (1.0 - _e2) * _n0 * _math.sin(_phi0)
    _sp, _cp = _math.sin(_phi0), _math.cos(_phi0)
    _sl, _cl = _math.sin(_lam0), _math.cos(_lam0)
    out["ecef_enu"] = f"""WITH {nodes},
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
FROM x"""

    # ------------------------------------------ frame_sample (golden)
    fs_rows = ", ".join(
        f"({i}, {30 + i})" for i in range(64) if i % 3 == 2
    )
    out["frame_sample"] = f"""WITH m(media_id, n_frames) AS (
  SELECT * FROM (VALUES {fs_rows}) v(media_id, n_frames)
),
j AS (SELECT range AS r FROM range(0, 10))
SELECT m.media_id, r * 10 AS frame_idx
FROM m, j WHERE r * 10 <= m.n_frames - 1"""

    # ------------------------------------------------ tag_update (C8)
    def _kv(col: str, key: str) -> str:
        return (f"CASE WHEN {col} IS NOT NULL THEN '{key}=' || {col} END")

    _way_kvs = ", ".join(
        _kv(c, k) for c, k in [
            ("t_name", "name"), ("t_highway", "highway"),
            ("t_building", "building"), ("t_addr_street", "addr:street"),
            ("t_addr_housenumber", "addr:housenumber"),
        ]
    )
    out["tag_update"] = f"""WITH {ways},
b AS (
  SELECT id,
         list_sort(list_filter([{_way_kvs}], x -> x IS NOT NULL)) AS kv
  FROM ways WHERE id <= 200
)
SELECT id,
       coalesce(array_to_string(kv, ';'), '') AS tags_before,
       coalesce(array_to_string(list_sort(list_append(kv, 'touched=yes')), ';'), '')
         AS tags_after
FROM b"""

    # ------------------- minhash / simhash (md5_60 cross-engine hash)
    # The registered queries use hash_fn='md5_60': shingle hash = top 15
    # md5 hex digits, reproduced here as CAST('0x'||substr(md5(s),1,15)
    # AS BIGINT) — verified bit-identical to Spark's
    # conv(substr(md5(s),1,15),16,10).

    def _sh_cte(n: int) -> str:
        """Shingle-hash CTE over the neardup corpus for n-gram size n."""
        return f"""{_NEARDUP_SQL},
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM neardup
),
pos AS (SELECT range + 1 AS j FROM range(200)),
sgs AS (
  SELECT DISTINCT t.doc_id,
         array_to_string(list_slice(t.tk, p.j, p.j + {n - 1}), ' ') AS s
  FROM toks t, pos p WHERE p.j <= len(t.tk) - {n - 1}
),
sh AS (
  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
  FROM sgs
)"""

    import random as _random

    _rng = _random.Random(42)
    _M31 = (1 << 31) - 1
    _ab = [(_rng.randrange(1, _M31), _rng.randrange(0, _M31))
           for _ in range(32)]
    perm_vals = ", ".join(f"({k}, {a}, {b})" for k, (a, b) in enumerate(_ab))
    # engine semantics replicated exactly: 32 permutations (a*h'+b) mod
    # M31 over h' = h mod M31, per-doc min per permutation; banding = a
    # pair must agree on all 4 values of at least one of 8 bands (the
    # engine buckets on xxhash64 of the band slice — equal slices iff
    # equal hashes, collisions aside); est_jaccard = matches/32 >= 0.5.
    out["minhash_pairs"] = f"""WITH {_sh_cte(3)},
perm(k, a, b) AS (SELECT * FROM (VALUES {perm_vals}) v(k, a, b)),
sigs AS (
  SELECT doc_id, p.k, min((p.a * (h % {_M31}) + p.b) % {_M31}) AS sv
  FROM sh, perm p GROUP BY doc_id, p.k
),
bandeq AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.k // 4 AS band,
         sum(CASE WHEN x.sv = y.sv THEN 1 ELSE 0 END) AS eq
  FROM sigs x JOIN sigs y ON x.k = y.k AND x.doc_id < y.doc_id
  GROUP BY 1, 2, 3
),
pairs AS (
  SELECT id_a, id_b, sum(eq) AS matches,
         max(CASE WHEN eq = 4 THEN 1 ELSE 0 END) AS shares_band
  FROM bandeq GROUP BY 1, 2
)
SELECT id_a, id_b, matches / 32.0 AS est_jaccard
FROM pairs WHERE shares_band = 1 AND matches / 32.0 >= 0.5"""

    # simhash: bit votes over the 60-bit hash (bits 60..63 are always 0
    # so the vote loop stops at 60); hamming via bit_count(xor). The
    # engine's 16-bit block banding is COMPLETE for hamming <= 3 by
    # pigeonhole (4 blocks, <= 3 differing bits -> >= 1 equal block),
    # so the brute-force pair scan here is exactly equivalent.
    out["simhash_pairs"] = f"""WITH {_sh_cte(2)},
bits AS (SELECT unnest(range(0, 60)) AS bit),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM sh, bits GROUP BY 1, 2
),
sims AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
  FROM votes GROUP BY 1
)
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       bit_count(xor(x.simhash, y.simhash)) AS hamming
FROM sims x JOIN sims y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3"""

    # ------------------------------- embedding near-dups (brute force)
    # SemDeDup replay: every distance and cosine is the SAME
    # left-to-right fold as the Spark plan (list_reduce == F.aggregate
    # element order; 0.0 + x1 == x1 exactly, so the missing init is
    # immaterial) over the identical stored doubles — assignment
    # argmin (d2, cid), intra-cluster pair search, and the
    # lowest-id-survives keep policy are all bit-exact by construction
    out["semdedup_clusters"] = """WITH
e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings
),
c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id % 125 = 0
),
d AS (
  SELECT e.id, c.cid,
         list_reduce(list_transform(list_zip(e.v, c.cv),
           z -> (z[1] - z[2]) * (z[1] - z[2])),
           (acc, x) -> acc + x) AS d2
  FROM e CROSS JOIN c
),
a AS (
  SELECT id, cid AS cluster FROM (
    SELECT id, cid,
           row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
av AS (SELECT a.id, a.cluster, e.v FROM a JOIN e USING (id)),
drp AS (
  SELECT DISTINCT y.id AS id_b
  FROM av x JOIN av y ON x.cluster = y.cluster AND x.id < y.id
  WHERE list_reduce(list_transform(list_zip(x.v, y.v),
          z -> z[1] * z[2]), (acc, w) -> acc + w)
        / (CASE WHEN
            sqrt(list_reduce(list_transform(list_zip(x.v, x.v),
              z -> z[1] * z[2]), (acc, w) -> acc + w))
          * sqrt(list_reduce(list_transform(list_zip(y.v, y.v),
              z -> z[1] * z[2]), (acc, w) -> acc + w)) = 0 THEN 1
           ELSE
            sqrt(list_reduce(list_transform(list_zip(x.v, x.v),
              z -> z[1] * z[2]), (acc, w) -> acc + w))
          * sqrt(list_reduce(list_transform(list_zip(y.v, y.v),
              z -> z[1] * z[2]), (acc, w) -> acc + w)) END)
        >= 0.95
)
SELECT av.id, av.cluster,
       av.id NOT IN (SELECT id_b FROM drp) AS keep
FROM av"""

    out["embedding_near_dups"] = """WITH
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings
)
SELECT x.vec_id AS id_a, y.vec_id AS id_b
FROM e x JOIN e y ON x.vec_id < y.vec_id
WHERE list_cosine_similarity(x.v, y.v) >= 0.95"""

    # ---------------------------------- osm_xml_parse (golden fixture)
    # Hand-derived from sources/osm_xml.SAMPLE_OSM_XML (document order;
    # ways/relations carry no lon/lat).
    out["osm_xml_parse"] = """SELECT kind, id, CAST(lon AS DOUBLE) AS lon,
       CAST(lat AS DOUBLE) AS lat
FROM (VALUES
  ('node', 1, 10.71299, 59.92589),
  ('node', 2, 10.72496, 59.92589),
  ('node', 3, 10.72496, 59.91941),
  ('node', 4, -40.3554, -20.2273),
  ('way', 10, NULL, NULL),
  ('way', 11, NULL, NULL),
  ('relation', 20, NULL, NULL)
) v(kind, id, lon, lat)"""

    # ------------------ osm_xml_file_parse (arithmetic regeneration)
    # The fixture writer emits coordinates as exact decimal strings
    # ("10." + zero-padded digits); the oracle rebuilds the SAME string
    # and casts, so both engines parse identical decimals -> identical
    # IEEE doubles. Child counts ((i%5)+2 nd refs, 2 members) and the
    # visible default ("false" when the attribute is absent) follow
    # write_fixture_file exactly.
    out["osm_xml_file_parse"] = """WITH nodes AS (
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
UNION ALL SELECT * FROM rels"""

    # ------------------------- multimodal (golden, independent python)
    # Expected feature sums recomputed by osm_jl_spark.oracle.
    # media_feature_sum — a list-based pure-Python reimplementation of
    # the sha256 fake-decode + block-mean resize (independent of the
    # engine's NumPy path), rounded to 6 like the query.
    from osm_jl_spark.oracle import media_feature_sum

    mm_rows = []
    for i in range(64):
        kind = ["image", "audio", "video"][i % 3]
        payload = f"media-payload-{i}".encode()
        w = 16 + (i % 4) * 8
        h = 16 + (i % 3) * 8
        s = round(media_feature_sum(payload, w, h), 6)
        mm_rows.append(f"({i}, '{kind}', 8, 8, {s!r})")
    out["multimodal_features"] = (
        "SELECT media_id, kind, out_width, out_height, "
        "CAST(feat_sum AS DOUBLE) AS feat_sum FROM (VALUES "
        + ", ".join(mm_rows)
        + ") v(media_id, kind, out_width, out_height, feat_sum)"
    )

    # ------------------------------ geojson features (string-rebuilt)
    # Coordinates are DECIMAL(10,5) in both engines -> byte-identical
    # "59.92589" / "3.00000" rendering; to_json drops null struct
    # fields, so a NULL name becomes properties {}.
    out["geojson_features"] = f"""WITH {nodes}, {ways},
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
)
SELECT r.id AS way_id,
       '{{"type":"Feature","id":' || r.id ||
       ',"geometry":{{"type":"Polygon","coordinates":[[' || r.cs ||
       ']]}},"properties":' ||
       CASE WHEN w.t_name IS NULL THEN '{{}}'
            ELSE '{{"name":"' || w.t_name || '"}}' END || '}}' AS feature
FROM ring r JOIN ways w ON w.id = r.id"""

    # user-props round trip: properties read back OUT of the emitted
    # JSON must equal the ways table's tag columns verbatim
    out["geojson_props"] = f"""WITH {ways}
SELECT id AS way_id, t_name AS name, t_highway AS highway,
       t_addr_street AS street
FROM ways WHERE id <= 50"""

    # K2 FeatureCollection: same feature strings as geojson_features,
    # concatenated in way_id order inside the canonical envelope, then
    # count + md5 — byte-identical assembly or the hash differs
    out["feature_collection"] = f"""WITH {nodes}, {ways},
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
)
SELECT CAST(count(*) AS BIGINT) AS n_features,
       md5('{{"type":"FeatureCollection","features":[' ||
           string_agg(feature, ',' ORDER BY way_id) || ']}}') AS fc_md5
FROM feats"""

    out["addr_postcode_city"] = f"""WITH {nodes}
SELECT id, t_addr_street AS street, t_addr_housenumber AS housenumber,
       t_addr_postcode AS postcode, t_addr_city AS city
FROM nodes WHERE t_addr_street IS NOT NULL AND t_addr_postcode IS NOT NULL"""

    return out

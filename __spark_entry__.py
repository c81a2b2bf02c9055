"""Driver contract for the spark-graft builder (PySpark target).

``entry()`` builds the flagship. ``queries()`` and ``oracle_sql()``
serve the query registry: one entry per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline extensions), each a
Spark plan with the DuckDB SQL that must return the same rows.

Each query lives in one module of the ``registry`` package, its Spark
builder next to its oracle (``registry/common.py`` holds the shared
loaders and CTEs). This file is only the order the driver reads them
in: ``INDEX`` below.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from osm_jl_spark import datagen as G
from registry import REGISTRY
from registry.common import PRECISION

# The driver checks the first 50 queries each round, in this order.
# Rotation contract: after the coming round, no query's newest driver
# evidence is two or more rounds old (`python tools/check_correctness.py
# --stale` checks it; tests/test_registry.py pins it). 100 queries are
# two rounds: each round, the half the previous round checked moves to
# the back.
INDEX = (
    # -- never driver-checked (host_triangles: plan changed since the
    # local gate passed it)
    "route_lengths", "osm_pbf_parse", "fetch_schedule", "host_triangles",
    # -- newest driver evidence r4
    "page_links", "host_in_links", "link_pagerank", "length_quantiles",
    "campaign_windows", "indegree_quantiles", "crawl_asof",
    "gopher_quality", "blocklist_filter", "tpch_q5", "doc_repetition",
    "domain_cap", "text_normalize", "approx_domains", "pipeline_hygiene",
    "way_simplify", "window_dup_stats", "window_dedup_clean",
    "way_lengths", "quadkey_tiles", "tile_store_read", "line_dedup",
    "knn_ring_10k", "ivf_knn", "ivf_knn_exhaustive", "knn_ring",
    "dedup_clusters", "shortest_paths", "bfs_hops", "corpus_clean",
    "hash_sample", "stratified_sample", "pack_sequences",
    "dedup_exact_keep", "snapshot_latest", "ngram_jaccard_pairs",
    "minhash_pairs", "simhash_pairs", "contamination",
    "neardup_keep_best", "embedding_knn", "embedding_near_dups",
    "cell_encode", "tpch_q1", "orders_rollup", "tpch_q3",
    # -- positions 50-99: never driver-checked, then evidence r5
    "pq_topk", "link_hits", "temperature_sample", "geojson_roundtrip",
    "lm_perplexity_filter", "tile_serving", "radius_join",
    "semdedup_clusters", "geohash_tiles", "bloom_contamination",
    "bbox_overlap_join", "events_top3", "events_sessionize",
    "text_quality", "repetition_scores", "tfidf_top_terms",
    "token_count_by_lang", "lang_id", "doc_fingerprints",
    "url_canonicalize", "pii_scrub", "domain_stats", "nodes_highways",
    "ways_buildings", "highway_class_filter", "search_name",
    "addr_postcode_city", "is_closed_ways", "way_areas", "waynodes_join",
    "extract_semi_nodes", "relation_members",
    "relations_with_node_members", "bbox_vitoria_nodes",
    "bbox_store_nodes", "ways_in_frogner", "pip_polygons",
    "pip_grid_polygons", "tile_counts", "tile_rollup", "raster_vector",
    "geojson_features", "feature_collection", "ecef_enu", "tag_update",
    "frame_sample", "multimodal_features", "geoparse_points",
    "osm_xml_parse", "osm_xml_file_parse",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geoparse the sf0.001 crawl, PIP-join against the
    polygon dimension, tile the matches (SURVEY.md §7.1 M1)."""
    from osm_jl_spark.operators.pipeline import flagship

    pages = G.load_pages(spark, G.counts_for_sf(0.001)["docs"])
    return flagship(pages, G.POLYGONS, PRECISION)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].build for name in INDEX}


def oracle_sql() -> dict[str, str]:
    """DuckDB SQL per query; the approximate ones have none."""
    return {
        name: REGISTRY[name].oracle
        for name in INDEX
        if REGISTRY[name].oracle is not None
    }

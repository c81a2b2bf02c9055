"""The flagship end-to-end pipeline (SURVEY.md §7.1 M1):

documents(url, warc_ts, html, text, lang)
  -> extract_text(html)        [native regexp chain, byte-identical invariant]
  -> geoparse(text)            [native regexp_extract_all -> array<struct> -> explode]
  -> points(url, pt_idx, lon, lat)   [the engine's "nodes"]
  -> cell encode               [native trunc cast]
  -> PIP spatial join          [broadcast cell cover + native exact even-odd]
  -> tile aggregation          [groupBy (polygon_id, cx, cy)]

Each stage is also exposed separately for the query registry; the
single-node functions in oracle.py are the references the tests pin
them to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_jl_spark.functions.text import extract_text_col, geoparse_col


def pages_with_text(pages: DataFrame) -> DataFrame:
    """Re-extract text from the html payload (the ingest path; the
    stored ``text`` column is the ground truth it must equal).
    Fully native — regexp tag-strip/collapse inside codegen."""
    return pages.withColumn("extracted_text", extract_text_col("html"))


def _explode_points(pages: DataFrame, pts_col) -> DataFrame:
    return pages.select("url", F.explode(pts_col).alias("p")).select(
        "url",
        F.col("p.pt_idx").alias("pt_idx"),
        F.col("p.lon").alias("lon"),
        F.col("p.lat").alias("lat"),
    )


def geoparse_points(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """(url, pt_idx, lon, lat): ordered coordinate mentions per page.

    NATIVE kernel (functions/text.geoparse_col): the regex runs in
    whole-stage codegen and the text column never crosses into Python.
    Equality with oracle.geoparse is pinned by tests/test_text.py."""
    return _explode_points(pages, geoparse_col(F.col(text_col)))


def geoparse_points_from_html(pages: DataFrame) -> DataFrame:
    """Ingest path: html -> text -> points, fully native (decode +
    regexp chain + extract_all in one codegen stage). Byte-identical
    text semantics pinned by tests/test_text.py."""
    return _explode_points(pages, geoparse_col(extract_text_col("html")))


def flagship(pages: DataFrame, polygons: dict, precision: int = 2) -> DataFrame:
    """Full pipeline -> per-(polygon, cell) doc-point counts.

    This is the query ``entry()`` runs: geoparse the crawl, spatially
    join against the polygon dimension, tile the matches.
    """
    from osm_jl_spark.operators.joins import nodes_in_polygons
    from osm_jl_spark.functions.cells import with_cell

    pts = geoparse_points(pages)
    joined = nodes_in_polygons(pts, polygons, precision)
    tiled = with_cell(joined, precision)
    # no global orderBy: a total sort of every tile is a pure-overhead
    # range-shuffle at scale and no consumer needs it — the driver's
    # correctness compare is order-insensitive, and any sink that wants
    # sorted output can sortWithinPartitions at write time
    return tiled.groupBy("polygon_id", "cx", "cy").agg(
        F.count(F.lit(1)).alias("n_points")
    )

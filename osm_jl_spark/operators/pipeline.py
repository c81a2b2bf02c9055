"""The flagship end-to-end pipeline (SURVEY.md §7.1 M1):

documents(url, warc_ts, html, text, lang)
  -> extract_text(html)        [native regexp chain, byte-identical invariant]
  -> geoparse(text)            [two group regexp_extract_all -> array<double>,
                                arrays_zip, posexplode: each coordinate is
                                parsed once, inside the Generate]
  -> points(url, pt_idx, lon, lat)   [the engine's "nodes"]
  -> cell encode               [native trunc cast, once: the join keeps cx/cy]
  -> PIP spatial join          [one broadcast cover (bbox + edge slots per
                                cell) + native exact even-odd in one filter]
  -> tile aggregation          [groupBy (polygon_id, cx, cy) on the kept cells]

Each stage is built from few DataFrame transformations (classic PySpark
analyses every one of them eagerly on the driver, and the benchmark
rebuilds the plan on every pass). Each stage is also exposed separately
for the query registry; the single-node functions in oracle.py are the
references the tests pin them to.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_jl_spark.functions.text import extract_text_col, geoparse_col


def pages_with_text(pages: DataFrame) -> DataFrame:
    """Re-extract text from the html payload (the ingest path; the
    stored ``text`` column is the ground truth it must equal).
    Fully native — regexp tag-strip/collapse inside codegen."""
    return pages.withColumn("extracted_text", extract_text_col("html"))


def _explode_points(pages: DataFrame, text: Column) -> DataFrame:
    """(url, pt_idx, lon, lat): posexplode of geoparse_col — the
    position is pt_idx, and lon/lat are fields of the Generate's
    output, never re-parsed above it."""
    return pages.select(
        "url", F.posexplode(geoparse_col(text)).alias("pt_idx", "p")
    ).selectExpr("url", "pt_idx", "p.lon AS lon", "p.lat AS lat")


def geoparse_points(pages: DataFrame) -> DataFrame:
    """(url, pt_idx, lon, lat): ordered coordinate mentions of each
    page's ``text``.

    NATIVE kernel (functions/text.geoparse_col): the regex runs in
    whole-stage codegen and the text column never crosses into Python.
    Equality with oracle.geoparse is pinned by tests/test_text.py."""
    return _explode_points(pages, F.col("text"))


def geoparse_points_from_html(pages: DataFrame) -> DataFrame:
    """Ingest path: html -> text -> points, fully native (decode +
    regexp chain + extract_all in one codegen stage). The extracted
    text is projected first, so the tag-strip chain runs once per page
    and both group extracts read its result. Byte-identical text
    semantics pinned by tests/test_text.py."""
    text = pages.select("url", extract_text_col("html").alias("text"))
    return _explode_points(text, F.col("text"))


def flagship(pages: DataFrame, polygons: dict, precision: int = 2) -> DataFrame:
    """Full pipeline -> per-(polygon, cell) doc-point counts.

    This is the query ``entry()`` runs: geoparse the crawl, spatially
    join against the polygon dimension, tile the matches on the cells
    the join already encoded.
    """
    from osm_jl_spark.operators.joins import nodes_in_polygons

    joined = nodes_in_polygons(geoparse_points(pages), polygons, precision)
    # no global orderBy: a total sort of every tile is a pure-overhead
    # range-shuffle at scale and no consumer needs it — the driver's
    # correctness compare is order-insensitive, and any sink that wants
    # sorted output can sortWithinPartitions at write time
    return joined.groupBy("polygon_id", "cx", "cy").agg(
        F.expr("count(1) AS n_points")
    )

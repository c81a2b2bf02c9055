"""Text pipeline invariants: byte-identical extracted text per url
(BASELINE.json input_hint) and geoparse recovery of the arithmetic
ground-truth points."""

from pyspark.sql import functions as F

from osm_jl_spark.datagen import load_pages, load_pages_points
from osm_jl_spark.operators.pipeline import geoparse_points, pages_with_text
from osm_jl_spark.oracle import extract_text, geoparse


def test_extract_text_byte_identical(spark):
    pages = load_pages(spark, 300)
    ext = pages_with_text(pages).select("url", "html", "text", "extracted_text")
    rows = ext.collect()
    assert len(rows) == 300
    for r in rows:
        # Spark UDF output == stored text == single-node oracle output
        assert r["extracted_text"] == r["text"], r["url"]
        assert extract_text(bytes(r["html"])) == r["text"], r["url"]


def test_geoparse_matches_ground_truth(spark):
    pages = pages_with_text(load_pages(spark, 300))
    got = {
        (r["url"], r["pt_idx"], r["lon"], r["lat"])
        for r in geoparse_points(
            pages.drop("text").withColumnRenamed("extracted_text", "text")
        ).collect()
    }
    want = {
        (r["url"], r["pt_idx"], r["lon"], r["lat"])
        for r in load_pages_points(spark, 300).collect()
    }
    assert got == want
    assert len(want) > 100


def test_python_oracle_geoparse_agrees(spark):
    rows = load_pages(spark, 100).select("url", "text").collect()
    pts = load_pages_points(spark, 100).collect()
    want = {}
    for r in pts:
        want.setdefault(r["url"], []).append((r["lon"], r["lat"]))
    for r in rows:
        assert geoparse(r["text"]) == want.get(r["url"], [])


def test_lang_id_and_quality_cols(spark):
    from osm_jl_spark.functions.text import (
        bpe_ish_token_count_col,
        lang_id_col,
        token_count_col,
    )

    df = spark.createDataFrame(
        [
            ("the cat and the dog is here",),
            ("el que la de y en",),
            ("xyzzy plugh",),
            ("",),
        ],
        "text STRING",
    )
    rows = df.select(
        lang_id_col("text").alias("lang"),
        token_count_col("text").alias("nt"),
        bpe_ish_token_count_col("text").alias("bt"),
    ).collect()
    assert rows[0]["lang"] == "en" and rows[0]["nt"] == 7
    assert rows[1]["lang"] == "es"
    assert rows[2]["lang"] == "und"
    assert rows[3]["nt"] == 0
    assert rows[0]["bt"] >= rows[0]["nt"]


def test_native_kernels_match_udf_kernels(spark):
    """The JVM-native geoparse/extract kernels must emit exactly the
    points of the single-node oracle, page by page: oracle.geoparse
    over the stored text, and over oracle.extract_text of the html."""
    from osm_jl_spark import oracle
    from osm_jl_spark.datagen import load_pages
    from osm_jl_spark.operators.pipeline import (
        geoparse_points,
        geoparse_points_from_html,
    )

    pages = load_pages(spark, 500)
    rows = pages.select("url", "text", "html").collect()

    def want(text_of):
        return sorted(
            (r["url"], i, lon, lat)
            for r in rows
            for i, (lon, lat) in enumerate(oracle.geoparse(text_of(r)))
        )

    a = sorted(tuple(r) for r in geoparse_points(pages).collect())
    b = want(lambda r: r["text"])
    assert a == b and len(a) > 100
    c = sorted(tuple(r) for r in geoparse_points_from_html(pages).collect())
    d = want(lambda r: oracle.extract_text(bytes(r["html"])))
    assert c == d == a


def test_fused_geoparse_html_matches_two_stage(spark):
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.pipeline import (
        geoparse_points,
        geoparse_points_from_html,
        pages_with_text,
    )

    pages = G.load_pages(spark, 500)
    two_stage = geoparse_points(
        pages_with_text(pages).drop("text")
        .withColumnRenamed("extracted_text", "text")
    )
    fused = geoparse_points_from_html(pages)
    a = sorted(tuple(r) for r in two_stage.collect())
    b = sorted(tuple(r) for r in fused.collect())
    assert a == b and len(a) > 0


def test_normalize_text_col_rules(spark):
    from osm_jl_spark.functions.text import normalize_text_col

    cases = {
        # curly quotes, dashes, ellipsis, NBSP
        "“q” ‘s’ a–b—c x y e…":
            "\"q\" 's' a-b-c x y e...",
        # control chars stripped, tab runs collapse, ends trim
        "  a\x00b\x07\t\tc  ": "ab c",
        # newlines PRESERVED (line structure feeds line_dedup)
        "l1  \t\nl2": "l1 \nl2",
    }
    df = spark.createDataFrame([(k,) for k in cases], ["v"])
    got = {
        r["v"]: r["n"]
        for r in df.select(
            "v", normalize_text_col("v").alias("n")
        ).collect()
    }
    for dirty, clean in cases.items():
        assert got[dirty] == clean, (dirty, got[dirty], clean)

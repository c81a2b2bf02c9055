"""Cell-encoding semantics: trunc-toward-zero parity with the
reference (src/index.jl:17), pinned on the negative-coordinate Vitória
fixture (test.jl:3)."""

import math

from pyspark.sql import functions as F

from osm_jl_spark.datagen import VITORIA_LR, VITORIA_UL
from osm_jl_spark.functions.cells import bbox_cell_range, with_cell
from osm_jl_spark.oracle import coord2index


def test_trunc_not_floor():
    # trunc(-20.2273 * 100) = -2022; floor would be -2023
    assert coord2index(-20.2273, 2) == -2022
    assert math.floor(-20.2273 * 100) == -2023
    assert coord2index(10.71299, 2) == 1071


def test_spark_cast_matches_trunc(spark):
    vals = [
        (-20.2273, -40.3554), (59.92589, 10.71299), (0.004, -0.004),
        (-0.996, 0.996), (89.999, -179.999), (-20.3243, -40.2554),
    ]
    df = spark.createDataFrame(vals, "lat DOUBLE, lon DOUBLE")
    for p in (0, 1, 2, 3):
        rows = with_cell(df, p).select("lon", "lat", "cx", "cy").collect()
        for r in rows:
            assert r["cx"] == coord2index(r["lon"], p), (r, p)
            assert r["cy"] == coord2index(r["lat"], p), (r, p)


def test_bbox_cell_range_vitoria():
    xlo, xhi, ylo, yhi = bbox_cell_range(VITORIA_UL, VITORIA_LR, 2)
    assert (xlo, xhi) == (-4035, -4025)
    assert (ylo, yhi) == (-2032, -2022)


def test_cell_lookup_single_cell(spark):
    # point-getindex (src/index.jl:55-58): exactly the rows whose cell
    # equals the query point's cell — degenerate bbox, negative coords
    from osm_jl_spark.functions.cells import cell_lookup

    vals = [
        (-40.3254, -20.2743),  # same cell as the query point
        (-40.3299, -20.2701),  # same cell (trunc -4032, -2027)
        (-40.3354, -20.2743),  # neighbor cell in x
        (-40.3254, -20.2843),  # neighbor cell in y
        (40.3254, 20.2743),    # sign-flipped far cell
    ]
    df = with_cell(
        spark.createDataFrame(vals, "lon DOUBLE, lat DOUBLE"), 2
    )
    got = cell_lookup(df, -40.3254, -20.2743, 2).select("lon", "lat")
    assert sorted(map(tuple, got.collect())) == [
        (-40.3299, -20.2701), (-40.3254, -20.2743),
    ]


def _py_tile(lon, lat, z):
    """Independent pure-Python slippy-map reference."""
    import math

    lat = max(min(lat, 85.05112878), -85.05112878)
    n = 2 ** z
    x = math.floor((lon + 180.0) / 360.0 * n)
    s = math.sin(math.radians(lat))
    y = math.floor((0.5 - math.log((1 + s) / (1 - s)) / (4 * math.pi)) * n)
    return max(min(x, n - 1), 0), max(min(y, n - 1), 0)


def _py_quadkey(x, y, z):
    return "".join(
        str(((x >> b) & 1) + 2 * ((y >> b) & 1))
        for b in range(z - 1, -1, -1)
    )


def test_quadkey_matches_python_reference(spark):
    from osm_jl_spark.functions.cells import with_quadkey

    pts = [
        (-87.65, 41.85),     # the canonical Bing-maps doc example
        (10.75, 59.91),      # Oslo
        (-40.3377, -20.3155),  # Vitória (both negative)
        (0.0, 0.0),
        (179.9999, 85.0),    # near the x/y edges
        (-180.0, -85.05112878),
    ]
    for z in (3, 12):
        df = with_quadkey(
            spark.createDataFrame(pts, "lon DOUBLE, lat DOUBLE"), zoom=z
        )
        got = [r["qk"] for r in df.collect()]
        want = [_py_quadkey(*_py_tile(lon, lat, z), z) for lon, lat in pts]
        assert got == want, (z, got, want)


def test_quadkey_bing_example(spark):
    # Bing tile-system doc's canonical interleave example: tile
    # (x=3, y=5) at level 3 has quadkey "213". Pin it on the Spark
    # column directly (literal tile coords), and pin the Chicago doc
    # point (41.85, -87.65) to its level-3 tile (2, 2) -> "030".
    from osm_jl_spark.functions.cells import quadkey_col, with_quadkey

    assert _py_quadkey(3, 5, 3) == "213"
    tiles = spark.createDataFrame([(3, 5)], "x BIGINT, y BIGINT")
    got = tiles.select(
        quadkey_col(F.col("x"), F.col("y"), 3).alias("qk")
    ).first()["qk"]
    assert got == "213"

    assert _py_tile(-87.65, 41.85, 3) == (2, 2)
    df = with_quadkey(
        spark.createDataFrame([(-87.65, 41.85)], "lon DOUBLE, lat DOUBLE"),
        zoom=3,
    )
    assert df.first()["qk"] == "030"


def test_quadkey_parent_is_prefix(spark):
    """Zoom-(z-1) quadkey of any point is the z quadkey's prefix — the
    property that makes quadkeys a multi-zoom clustering key."""
    from osm_jl_spark.functions.cells import with_quadkey

    pts = [(lon / 7.0, lat / 9.0) for lon in range(-60, 61, 20)
           for lat in range(-60, 61, 20)]
    df = spark.createDataFrame(pts, "lon DOUBLE, lat DOUBLE")
    out = with_quadkey(
        with_quadkey(df, zoom=11, out="qk11"), zoom=12, out="qk12"
    )
    bad = out.filter(
        F.substring("qk12", 1, 11) != F.col("qk11")
    ).count()
    assert bad == 0

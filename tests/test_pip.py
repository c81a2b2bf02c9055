"""Point-in-polygon parity: the Spark spatial join, on both exact-test
routes, vs the pure-Python port of src/coords.jl:69-78."""

from unittest import mock

import numpy as np
import pytest

from osm_jl_spark.datagen import FROGNER, POLYGONS
from osm_jl_spark.functions import geo
from osm_jl_spark.functions.geo import cell_cover
from osm_jl_spark.oracle import cell_of, point_in_polygon


def slot_and_fold(points, polygons):
    """nodes_in_polygons rows on the default route (the slot test while
    the widest ring fits ``geo.SLOT_LIMIT``) and on the fold route,
    forced by a zero ``geo.SLOT_LIMIT``."""
    from osm_jl_spark.operators.joins import nodes_in_polygons

    slots = nodes_in_polygons(points, polygons, 2).collect()
    with mock.patch.object(geo, "SLOT_LIMIT", 0):
        fold = nodes_in_polygons(points, polygons, 2).collect()
    return {"slots": slots, "fold": fold}


def _oracle_pairs(points, polygons, key):
    """``key(row) + (polygon_id,)`` for every (point, polygon) pair the
    scalar port puts inside."""
    return {
        (*key(r), pid)
        for r in points.collect()
        for pid, ring in polygons.items()
        if point_in_polygon(r["lon"], r["lat"], ring)
    }


def _vertices_and_midpoints(ring):
    mids = [
        ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)
        for a, b in zip([ring[-1], *ring[:-1]], ring)
    ]
    return [*ring, *mids]


def _grid(ring, n=25):
    xs = [v[0] for v in ring]
    ys = [v[1] for v in ring]
    pad_x = (max(xs) - min(xs)) * 0.3
    pad_y = (max(ys) - min(ys)) * 0.3
    gx = np.linspace(min(xs) - pad_x, max(xs) + pad_x, n)
    gy = np.linspace(min(ys) - pad_y, max(ys) + pad_y, n)
    pts = np.array([(x, y) for x in gx for y in gy])
    return pts[:, 0], pts[:, 1]


def test_pip_boundary_vertices(spark):
    # strict-inequality semantics on the fixture's exact vertices and
    # edge midpoints must agree between both join routes and the
    # oracle port
    pts = spark.createDataFrame(
        list(enumerate(_vertices_and_midpoints(FROGNER))),
        "id LONG, p STRUCT<lon: DOUBLE, lat: DOUBLE>",
    ).select("id", "p.lon", "p.lat")
    want = _oracle_pairs(pts, {1: FROGNER}, lambda r: (r["id"],))
    for route, rows in slot_and_fold(pts, {1: FROGNER}).items():
        assert {(r["id"], r["polygon_id"]) for r in rows} == want, route


def test_cell_cover_classification():
    for pid, ring in POLYGONS.items():
        for precision in (2, 3):
            full, boundary = cell_cover(ring, precision)
            # FULL cells: every sampled interior point is inside
            step = 10.0**-precision
            for cx, cy in list(sorted(full))[:50]:
                for fx in (0.25, 0.75):
                    for fy in (0.25, 0.75):
                        x = (cx + fx) * step if cx >= 0 else (cx - fx) * step
                        y = (cy + fy) * step if cy >= 0 else (cy - fy) * step
                        assert point_in_polygon(x, y, ring), (
                            pid, precision, cx, cy, x, y,
                        )
            # completeness: every inside point's cell is in full|boundary
            # — grid points, and the vertices and edge midpoints where
            # the cover's cell arithmetic meets the encode's
            lon, lat = _grid(ring, 21)
            cover = full | boundary
            for x, y in [*zip(lon, lat), *_vertices_and_midpoints(ring)]:
                if point_in_polygon(x, y, ring):
                    assert cell_of(x, y, precision) in cover, (
                        pid, precision, x, y,
                    )


def test_cell_cover_reads_the_budget_at_call_time(monkeypatch):
    """cell_cover enforces geo.COVER_BUDGET as it stands when called —
    the same value nodes_in_polygons and vector_to_raster route by."""
    ring = [(10.0, 59.0), (10.05, 59.0), (10.05, 59.05), (10.0, 59.05)]
    cell_cover(ring, 2)  # 6 x 6 bbox cells, within the default budget
    monkeypatch.setattr(geo, "COVER_BUDGET", 10)
    with pytest.raises(geo.CoverBudgetError, match="10-cell budget"):
        cell_cover(ring, 2)


def test_cover_holds_the_cell_of_a_negative_bottom_edge(spark):
    """Cover cells use the encode's trunc(x * 10**p). At precision 2,
    trunc(-81.91 / 0.01) is -8190 but the encode puts -81.91 in cell
    -8191, so a bbox range computed by division clamps away the cell
    that holds the bottom edge, and the join silently drops a point
    the oracle puts inside."""
    ring = [(10.0, -81.91), (10.05, -81.91), (10.05, -81.86), (10.0, -81.86)]
    assert point_in_polygon(10.025, -81.91, ring)
    full, boundary = cell_cover(ring, 2)
    assert cell_of(10.025, -81.91, 2) == (1002, -8191)
    assert (1002, -8191) in full | boundary
    pts = spark.createDataFrame(
        [(1, 10.025, -81.91)], "id LONG, lon DOUBLE, lat DOUBLE"
    )
    assert _oracle_pairs(pts, {5: ring}, lambda r: (r["id"],)) == {(1, 5)}
    for route, got in slot_and_fold(pts, {5: ring}).items():
        assert [(r["id"], r["polygon_id"]) for r in got] == [(1, 5)], route


def test_spark_spatial_join_matches_oracle(spark):
    from osm_jl_spark.datagen import load_pages_points
    from osm_jl_spark.operators.joins import nodes_in_polygons

    pts = load_pages_points(spark, 400)
    got = {
        (r["url"], r["pt_idx"], r["polygon_id"])
        for r in nodes_in_polygons(pts, POLYGONS, 2).collect()
    }
    want = set()
    for r in pts.collect():
        for pid, ring in POLYGONS.items():
            if point_in_polygon(r["lon"], r["lat"], ring):
                want.add((r["url"], r["pt_idx"], pid))
    assert got == want
    assert want  # fixture must actually produce matches


def test_native_pip_expr_matches_udf_path(spark):
    """The slot test (a flat per-edge sum over broadcast edge-slot
    columns, inside whole-stage codegen) and the edges-array fold must
    both emit exactly the (point, polygon) pairs of the scalar port of
    src/coords.jl:69-78."""
    from osm_jl_spark.datagen import load_pages_points

    pts = load_pages_points(spark, 400)
    key = lambda r: (r["url"], r["pt_idx"])  # noqa: E731
    want = _oracle_pairs(pts, POLYGONS, key)
    for route, rows in slot_and_fold(pts, POLYGONS).items():
        got = {(*key(r), r["polygon_id"]) for r in rows}
        assert got == want and len(got) > 0, route


def test_shoelace_area2_square_and_degenerate(spark):
    from pyspark.sql import functions as F

    from osm_jl_spark.functions.geo import shoelace_area2_col

    # CCW unit-cell square 2x1 (in 1e-5 deg units) -> 2A = +4;
    # CW orientation negates; 2-point ring cancels to 0
    rows = [
        (1, [(0.0, 0.0), (0.00002, 0.0), (0.00002, 0.00001),
             (0.0, 0.00001), (0.0, 0.0)]),
        (2, [(0.0, 0.0), (0.0, 0.00001), (0.00002, 0.00001),
             (0.00002, 0.0), (0.0, 0.0)]),
        (3, [(0.0, 0.0), (0.00002, 0.00001)]),
    ]
    df = spark.createDataFrame(
        rows, "way_id LONG, coords ARRAY<STRUCT<lon:DOUBLE,lat:DOUBLE>>"
    )
    got = {r["way_id"]: r["a2"] for r in df.select(
        "way_id", shoelace_area2_col(F.col("coords")).alias("a2")
    ).collect()}
    assert got == {1: 4, 2: -4, 3: 0}


def test_edges_fold_matches_unrolled_and_udf(spark):
    """Both exact-test routes (codegen slot test, edges-array fold)
    must emit the oracle's join rows on the same 96-polygon set — the
    fold is the wide-ring path and must be a bit-level equivalent of
    the slot test, not an approximation."""
    from osm_jl_spark.datagen import load_pages_points, polygon_grid

    pts = load_pages_points(spark, 400)
    polys = polygon_grid()
    # every ring here has 4 edges, within SLOT_LIMIT: the default
    # route is the slot test at any polygon count
    assert max(map(len, polys.values())) <= geo.SLOT_LIMIT
    key = lambda r: (r["url"], r["pt_idx"])  # noqa: E731
    want = _oracle_pairs(pts, polys, key)
    routes = {
        route: {(*key(r), r["polygon_id"]) for r in rows}
        for route, rows in slot_and_fold(pts, polys).items()
    }
    assert routes["slots"] == routes["fold"] == want and len(want) > 0


def test_continent_scale_polygon_range_join_path(spark):
    """A polygon whose bbox spans millions of cells must route through
    the broadcast cell-RANGE join (one dim row), not an enumerated
    cover — and still produce exact even-odd results (checked against
    the per-point Python oracle)."""
    from osm_jl_spark.datagen import load_pages_points
    from osm_jl_spark.operators.joins import nodes_in_polygons
    from osm_jl_spark.oracle import point_in_polygon

    # triangle over half the world: bbox ~ 260 x 130 degrees ->
    # 26000 x 13000 cells at precision 2, far past the cover budget
    big = [(-130.0, -60.0), (130.0, -60.0), (0.0, 70.0)]
    pts = load_pages_points(spark, 300)
    got = {
        (r["url"], r["pt_idx"])
        for r in nodes_in_polygons(pts, {7: big}, 2).collect()
    }
    rows = pts.collect()
    want = {
        (r["url"], r["pt_idx"])
        for r in rows
        if point_in_polygon(r["lon"], r["lat"], big)
    }
    assert got == want and len(want) > 0


def test_aggregate_cover_budget_spills_to_range_join(spark, monkeypatch):
    """ADVICE r3: N medium polygons can each clear the per-polygon
    budget yet sum to an OOM-sized broadcast. With the budget squeezed
    so the aggregate cap trips mid-set, later polygons must spill to
    the one-row range-join path — and the answer must not change."""
    from osm_jl_spark.datagen import load_pages_points
    from osm_jl_spark.functions import geo
    from osm_jl_spark.operators.joins import nodes_in_polygons

    # 24 squares of ~36 bbox cells each at precision 2 (864 total),
    # tiled over the Oslo area where load_pages_points has density
    def sq(x, y, s=0.05):
        return [(x, y), (x + s, y), (x + s, y + s), (x, y + s)]

    grid = {
        i + 1: sq(10.60 + 0.06 * (i % 6), 59.85 + 0.06 * (i // 6))
        for i in range(24)
    }
    pts = load_pages_points(spark, 400)
    key = lambda r: (r["url"], r["pt_idx"], r["polygon_id"])  # noqa: E731
    want = {key(r) for r in nodes_in_polygons(pts, grid, 2).collect()}

    # per-polygon budget 40 admits every square (36 cells), but the
    # aggregate cap 4*40=160 trips after ~4 squares — the remaining
    # ~20 must take the range-join spill, with identical results
    monkeypatch.setattr(geo, "COVER_BUDGET", 40)
    got = {key(r) for r in nodes_in_polygons(pts, grid, 2).collect()}
    assert got == want and len(want) > 0


def test_empty_ring_contributes_no_rows(spark):
    """A ring with no vertices contains no point (the scalar port is
    False for every point), so it adds nothing beside a real polygon —
    on the join and on the vector->raster cover alike."""
    from osm_jl_spark.datagen import load_pages_points
    from osm_jl_spark.operators.joins import nodes_in_polygons
    from osm_jl_spark.operators.tiling import vector_to_raster

    pts = load_pages_points(spark, 400)
    rows = lambda polys: sorted(  # noqa: E731
        nodes_in_polygons(pts, polys, 2).collect())
    want = rows({2: FROGNER})
    assert want
    assert rows({1: [], 2: FROGNER}) == want
    assert (sorted(vector_to_raster({1: [], 2: FROGNER}, spark).collect())
            == sorted(vector_to_raster({2: FROGNER}, spark).collect()))

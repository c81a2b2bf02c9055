"""Property-based tests (hypothesis): the kernels must agree with the
pure-Python reference ports on arbitrary inputs — not just the fixture
polygons. These pin the numeric core that every distributed operator
builds on; only the tests of the spatial join itself need a Spark
session."""

from __future__ import annotations

import math
from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_jl_spark.functions import geo
from osm_jl_spark.functions.geo import NonFiniteVertexError
from osm_jl_spark.operators.joins import nodes_in_polygons
from osm_jl_spark.oracle import coord2index, point_in_polygon
from tests.test_pip import slot_and_fold

coord = st.floats(
    min_value=-180.0,
    max_value=180.0,
    allow_nan=False,
    allow_infinity=False,
)
lat_coord = st.floats(
    min_value=-90.0, max_value=90.0, allow_nan=False, allow_infinity=False
)


@given(coord, st.integers(min_value=0, max_value=5))
def test_coord2index_is_trunc_toward_zero(p, precision):
    got = coord2index(p, precision)
    scaled = p * 10**precision
    assert got == math.trunc(scaled)
    # trunc toward zero: |cell| never exceeds |scaled|
    assert abs(got) <= abs(scaled)


@given(
    st.lists(
        st.tuples(coord, lat_coord), min_size=1, max_size=32
    ),
    st.integers(min_value=0, max_value=3),
)
@settings(max_examples=100, deadline=None)
def test_cell_encode_consistent_under_vectorization(pts, precision):
    """Batch cell encoding equals per-point encoding (the distributed
    engine encodes in columnar batches; identity must not depend on
    batch shape)."""
    arr = np.array([p[0] for p in pts]) * float(10**precision)
    batch = np.trunc(arr).astype(np.int64)
    scalar = [coord2index(p[0], precision) for p in pts]
    assert list(batch) == scalar


# ------------------------------------------------- spatial join parity


@st.composite
def polygon_set_and_points(draw):
    """1-3 rings of 3 to SLOT_LIMIT + 3 edges near one anchor (either
    hemisphere), some edges horizontal, plus the points where the
    exact test and the cell arithmetic are most fragile: vertices,
    edge midpoints, quarter points of horizontal edges, random points."""
    ax = draw(st.integers(-17000, 17000)) / 100
    ay = draw(st.integers(-8500, 8500)) / 100
    off = st.integers(0, 300).map(lambda i: i / 1000)
    polys, pts = {}, []
    for pid in range(1, draw(st.integers(1, 3)) + 1):
        ring = []
        for _ in range(draw(st.integers(3, geo.SLOT_LIMIT + 3))):
            y = ring[-1][1] if ring and draw(st.booleans()) else ay + draw(off)
            ring.append((ax + draw(off), y))
        polys[pid] = ring
        for a, b in zip([ring[-1], *ring[:-1]], ring):
            pts += [a, ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)]
            if a[1] == b[1]:
                pts.append(((3 * a[0] + b[0]) / 4, a[1]))
    pts += [(ax + draw(off), ay + draw(off)) for _ in range(8)]
    return polys, pts


@given(data=polygon_set_and_points())
@settings(max_examples=25, deadline=None)
def test_native_and_fold_match_reference_on_any_ring_width(spark, data):
    """The slot test (rings padded to the widest one), the fold (taken
    by default too once a ring is wider than SLOT_LIMIT) and the
    scalar port of src/coords.jl:69-78 must agree on every (point,
    polygon) pair, on the boundary cases included — degenerate and
    self-intersecting rings too, since the reference defines truth by
    this exact loop."""
    polys, pts = data
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "id LONG, lon DOUBLE, lat DOUBLE",
    )
    want = {
        (i, pid)
        for i, (x, y) in enumerate(pts)
        for pid, ring in polys.items()
        if point_in_polygon(x, y, ring)
    }
    for route, got in slot_and_fold(df, polys).items():
        assert {(r["id"], r["polygon_id"]) for r in got} == want, route


@given(
    pos=st.integers(min_value=0, max_value=3),
    bad=st.sampled_from([math.nan, math.inf, -math.inf]),
    on_lat=st.booleans(),
    fold=st.booleans(),
)
@settings(max_examples=24, deadline=None)
def test_non_finite_vertex_raises_named_error(spark, pos, bad, on_lat, fold):
    """A NaN or infinite vertex has no SQL literal and no even-odd
    meaning: nodes_in_polygons refuses it by name, before any SQL is
    parsed, whichever exact-test route the rings would take."""
    from osm_jl_spark.datagen import FROGNER
    from osm_jl_spark.operators.joins import nodes_in_polygons

    ring = [(10.0, 59.0), (10.1, 59.0), (10.1, 59.1), (10.0, 59.1)]
    x, y = ring[pos]
    ring[pos] = (x, bad) if on_lat else (bad, y)
    pts = spark.range(1).selectExpr("10.05D AS lon", "59.05D AS lat")
    limit = 0 if fold else geo.SLOT_LIMIT
    with mock.patch.object(geo, "SLOT_LIMIT", limit), \
            pytest.raises(NonFiniteVertexError, match="polygon 7"):
        nodes_in_polygons(pts, {1: FROGNER, 7: ring}, 2)
    assert issubclass(NonFiniteVertexError, ValueError)


# ------------------------------------------------- PBF wire format

varint64 = st.integers(min_value=0, max_value=(1 << 64) - 1)
sint64 = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)


@given(st.lists(varint64, max_size=50))
def test_pbf_uvarint_roundtrip(values):
    from osm_jl_spark.sources.osm_pbf import _enc_uvarint, _uvarint

    buf = b"".join(_enc_uvarint(v) for v in values)
    i, got = 0, []
    while i < len(buf):
        v, i = _uvarint(buf, i)
        got.append(v)
    assert got == values


@given(st.lists(sint64, max_size=50))
def test_pbf_zigzag_packed_roundtrip(values):
    from osm_jl_spark.sources.osm_pbf import _enc_packed, _fields, _packed

    msg = _enc_packed(7, values, signed=True)
    decoded = [
        _packed(v, signed=True) for f, _, v in _fields(msg) if f == 7
    ]
    assert decoded == [values]


@given(
    st.dictionaries(
        st.text(min_size=1, max_size=8),
        st.text(max_size=8),
        max_size=6,
    ),
    # refs are OSM node ids: positive int64, the format's real domain
    # (an arbitrary-sint64 ref LIST can produce deltas outside sint64,
    # which the wire format itself cannot represent — the encoder
    # raises on those, pinned in
    # tests/test_pbf.py::test_encoder_rejects_values_outside_the_wire_types)
    st.lists(st.integers(min_value=1, max_value=(1 << 62)), max_size=10),
    # the way id is int64 on the wire: every value, negatives included
    sint64,
)
def test_pbf_way_block_roundtrip(tags, refs, way_id):
    """A single-way PrimitiveBlock survives encode -> decode exactly:
    id, ref order (delta coding), and the full tag dict via the
    string table."""
    from osm_jl_spark.sources.osm_pbf import _decode_block, _enc_block

    el = {"kind": "way", "id": way_id, "node_refs": refs, "tags": tags}
    rows = _decode_block(_enc_block([el]))
    assert len(rows) == 1
    got = rows[0]
    assert got["id"] == way_id
    assert got["node_refs"] == list(refs)
    assert got["tags"] == tags

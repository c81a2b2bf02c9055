"""Property-based tests (hypothesis): the NumPy kernels must agree with
the pure-Python reference ports on arbitrary inputs — not just the
fixture polygons. These pin the numeric core that every distributed
operator builds on; only the SQL-literal contract of the native PIP
test needs a Spark session."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_jl_spark.functions.geo import NonFiniteVertexError, pip_mask, sql_double
from osm_jl_spark.oracle import coord2index, point_in_polygon

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


@st.composite
def ring_and_points(draw):
    n_vertices = draw(st.integers(min_value=3, max_value=8))
    ring = [
        (draw(coord), draw(lat_coord)) for _ in range(n_vertices)
    ]
    n_points = draw(st.integers(min_value=1, max_value=16))
    pts = [(draw(coord), draw(lat_coord)) for _ in range(n_points)]
    return ring, pts


@given(ring_and_points())
@settings(max_examples=200, deadline=None)
def test_pip_mask_matches_scalar_reference_port(data):
    """The vectorized NumPy even-odd mask must equal the scalar port of
    src/coords.jl:69-78 for every point against ANY ring — including
    degenerate (self-intersecting, zero-area) rings, where both must
    agree because the reference defines truth by this exact loop."""
    ring, pts = data
    lons = np.array([p[0] for p in pts])
    lats = np.array([p[1] for p in pts])
    got = pip_mask(lons, lats, ring)
    want = [point_in_polygon(lon, lat, ring) for lon, lat in pts]
    assert list(got) == want


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


# ------------------------------------------------- SQL double literals

literal_double = st.one_of(
    coord,
    lat_coord,
    st.floats(allow_nan=False, allow_infinity=False),
    # subnormals and their normal neighbours
    st.floats(min_value=-2.3e-308, max_value=2.3e-308),
    st.sampled_from([
        -0.0, 0.0, 5e-324, -5e-324, 1e-05, -1e-05, 1e16,
        180.0, -180.0, 90.0, -90.0, 179.99999, -89.99999,
        math.nextafter(180.0, 0.0), math.nextafter(-90.0, 0.0),
    ]),
)


@given(values=st.lists(literal_double, min_size=1, max_size=16))
@settings(max_examples=60, deadline=None)
def test_sql_double_literal_roundtrips_bit_exactly(spark, values):
    """The native PIP test inlines ring vertices as SQL DOUBLE literals;
    each must parse back to the very same double — sign of zero,
    subnormals and exponent spellings such as ``1e-05`` included — or
    the native test is no longer the reference's test."""
    df = spark.sql("SELECT " + ", ".join(
        f"{sql_double(v)} AS c{i}" for i, v in enumerate(values)
    ))
    assert {f.dataType.simpleString() for f in df.schema} == {"double"}
    bits = lambda xs: [struct.pack("<d", x) for x in xs]  # noqa: E731
    assert bits(df.first()) == bits(values)


@given(
    pos=st.integers(min_value=0, max_value=3),
    bad=st.sampled_from([math.nan, math.inf, -math.inf]),
    on_lat=st.booleans(),
    exact=st.sampled_from(["native", "edges", "udf"]),
)
@settings(max_examples=24, deadline=None)
def test_non_finite_vertex_raises_named_error(spark, pos, bad, on_lat, exact):
    """A NaN or infinite vertex has no SQL literal and no even-odd
    meaning: nodes_in_polygons refuses it by name, before any SQL is
    parsed, whichever exact-test mode is asked for."""
    from osm_jl_spark.datagen import FROGNER
    from osm_jl_spark.operators.joins import nodes_in_polygons

    ring = [(10.0, 59.0), (10.1, 59.0), (10.1, 59.1), (10.0, 59.1)]
    x, y = ring[pos]
    ring[pos] = (x, bad) if on_lat else (bad, y)
    pts = spark.range(1).selectExpr("10.05D AS lon", "59.05D AS lat")
    with pytest.raises(NonFiniteVertexError, match="polygon 7"):
        nodes_in_polygons(pts, {1: FROGNER, 7: ring}, 2, exact=exact)
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
    # raises on those, pinned in tests/test_pbf.py)
    st.lists(st.integers(min_value=1, max_value=(1 << 62)), max_size=10),
    st.integers(min_value=1, max_value=(1 << 63) - 1),
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

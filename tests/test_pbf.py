"""OSM PBF source round-trip: the generator's Data triple encoded as
a spec-conformant multi-blob .osm.pbf (delta-coded dense nodes, way
refs, relation memids; zlib blobs; string tables), then ingested back
through the splittable parse_pbf path — ids, coordinates (to the
micro-degree integer), orderings, tags, members all exact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_jl_spark import datagen as G
from osm_jl_spark.sources.osm_pbf import parse_pbf, pbf_blob_index, write_pbf
from osm_jl_spark.sources.osm_xml import split_elements

N_NODES, N_WAYS, N_RELS = 500, 120, 60


@pytest.fixture(scope="module")
def triple(spark):
    nodes = G.load_nodes(spark, N_NODES).collect()
    ways = G.load_ways(spark, N_WAYS, N_NODES).collect()
    rels = G.load_relations(spark, N_RELS, N_WAYS, N_NODES).collect()
    return nodes, ways, rels


@pytest.fixture(scope="module")
def pbf_path(spark, triple, tmp_path_factory):
    nodes, ways, rels = triple
    elements = (
        [{"kind": "node", "id": r.id, "lon": r.lon, "lat": r.lat,
          "tags": dict(r.tags)} for r in nodes]
        + [{"kind": "way", "id": r.id, "node_refs": list(r.node_refs),
            "tags": dict(r.tags)} for r in ways]
        + [{"kind": "relation", "id": r.id,
            "members": [{"ref": m.ref, "type": m.type, "role": m.role}
                        for m in r.members],
            "tags": dict(r.tags)} for r in rels]
    )
    path = str(tmp_path_factory.mktemp("pbf") / "fixture.osm.pbf")
    # small blocks force MULTIPLE OSMData blobs -> real parallel decode
    return write_pbf(path, elements, block_size=150)


def test_blob_index_is_metadata_only(pbf_path):
    idx = pbf_blob_index(pbf_path)
    assert idx[0]["type"] == "OSMHeader"
    data = [b for b in idx if b["type"] == "OSMData"]
    assert len(data) >= 4  # multi-blob: the parallel unit is real
    assert all(b["size"] > 0 for b in data)


def test_roundtrip_nodes_exact(spark, triple, pbf_path):
    nodes, _, _ = triple
    got_n, _, _ = split_elements(parse_pbf(spark, pbf_path))
    got = {
        r.id: r
        for r in got_n.withColumn(
            "lon_u", F.round(F.col("lon") * 1e5).cast("long")
        ).withColumn(
            "lat_u", F.round(F.col("lat") * 1e5).cast("long")
        ).collect()
    }
    assert len(got) == len(nodes)
    for src in nodes:
        g = got[src.id]
        assert g.lon_u == round(src.lon * 1e5), src.id
        assert g.lat_u == round(src.lat * 1e5), src.id
        assert dict(g.tags) == dict(src.tags), src.id


def test_roundtrip_ways_ordered(spark, triple, pbf_path):
    _, ways, _ = triple
    _, got_w, _ = split_elements(parse_pbf(spark, pbf_path))
    got = {r.id: r for r in got_w.collect()}
    assert len(got) == len(ways)
    for src in ways:
        g = got[src.id]
        assert list(g.node_refs) == list(src.node_refs), src.id
        assert dict(g.tags) == dict(src.tags), src.id
        assert g.visible  # PBF non-history default


def test_roundtrip_relations_members(spark, triple, pbf_path):
    _, _, rels = triple
    _, _, got_r = split_elements(parse_pbf(spark, pbf_path))
    got = {r.id: r for r in got_r.collect()}
    assert len(got) == len(rels)
    for src in rels:
        g = got[src.id]
        assert [(m.ref, m.type, m.role) for m in g.members] == [
            (m.ref, m.type, m.role) for m in src.members
        ], src.id
        assert dict(g.tags) == dict(src.tags), src.id


def test_one_decode_task_per_blob(spark, pbf_path):
    """The scale contract: decode parallelism equals the OSMData blob
    count (a planet file fans out to its tens of thousands of blobs),
    and every blob lands in a partition of its own — hash placement
    would stack a handful of blobs into one task and decode them
    serially."""
    n_data = sum(
        1 for b in pbf_blob_index(pbf_path) if b["type"] == "OSMData"
    )
    els = parse_pbf(spark, pbf_path)
    assert els.rdd.getNumPartitions() == n_data
    per_part = sorted(
        r["count"] for r in
        els.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    # 680 elements in blocks of 150: four full blobs and one of 80
    assert per_part == [80, 150, 150, 150, 150]


def test_encoder_rejects_values_outside_the_wire_types(tmp_path):
    """Way and relation ids are int64 and ref deltas sint64 on the wire;
    write_pbf names a value neither can carry instead of writing a
    corrupt varint."""
    path = str(tmp_path / "bad.osm.pbf")
    with pytest.raises(ValueError, match="outside int64"):
        write_pbf(path, [{"kind": "way", "id": 1 << 63,
                          "node_refs": [1], "tags": {}}])
    # two refs 2^63 apart: the delta overflows sint64
    with pytest.raises(ValueError, match="outside sint64"):
        write_pbf(path, [{"kind": "way", "id": 1,
                          "node_refs": [-(1 << 62), 1 << 62], "tags": {}}])


def test_parse_rejects_non_pbf(spark, tmp_path):
    p = tmp_path / "not.pbf"
    p.write_bytes(b"")
    with pytest.raises(ValueError, match="OSMData"):
        parse_pbf(spark, str(p))


def test_unsupported_required_feature_rejected(spark, tmp_path):
    """A header REQUIRING a feature this decoder can't decode
    faithfully (e.g. HistoricalInformation's per-element visibility)
    must fail fast, not silently misreport; optional features are
    ignored per spec."""
    from osm_jl_spark.sources.osm_pbf import (
        _enc_blob,
        _enc_bytes,
        _enc_block,
        parse_pbf,
    )

    header = (_enc_bytes(4, b"OsmSchema-V0.6")
              + _enc_bytes(4, b"HistoricalInformation"))
    data = _enc_block([{"kind": "node", "id": 1, "lon": 1.0,
                        "lat": 2.0, "tags": {}}])
    p = tmp_path / "hist.osm.pbf"
    p.write_bytes(_enc_blob("OSMHeader", header)
                  + _enc_blob("OSMData", data))
    with pytest.raises(ValueError, match="HistoricalInformation"):
        parse_pbf(spark, str(p))

    ok = tmp_path / "opt.osm.pbf"
    opt_header = (_enc_bytes(4, b"OsmSchema-V0.6")
                  + _enc_bytes(5, b"Sort.Type_then_ID"))
    ok.write_bytes(_enc_blob("OSMHeader", opt_header)
                   + _enc_blob("OSMData", data))
    assert parse_pbf(spark, str(ok)).count() == 1


def test_negative_relation_id_roundtrips(spark, tmp_path):
    """Relation and way ids are protobuf int64, not uint64: a negative
    id (editors write them for objects not yet uploaded) encodes as its
    10-byte two's complement and parses back negative, through the
    same distributed path as the fixture file."""
    rel = {"kind": "relation", "id": -42,
           "members": [{"ref": -7, "type": "way", "role": "outer"}],
           "tags": {"type": "multipolygon"}}
    way = {"kind": "way", "id": -7, "node_refs": [3, -1], "tags": {}}
    path = write_pbf(str(tmp_path / "neg.osm.pbf"), [way, rel])
    _, got_w, got_r = split_elements(parse_pbf(spark, path))
    (r,) = got_r.collect()
    assert r.id == -42
    assert [(m.ref, m.type, m.role) for m in r.members] == [
        (-7, "way", "outer")
    ]
    (w,) = got_w.collect()
    assert (w.id, list(w.node_refs)) == (-7, [3, -1])

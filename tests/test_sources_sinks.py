"""OSM XML ingestion (S1-S10) and GeoJSON emission (K1/K2)."""

import json

import pytest
from pyspark.sql import functions as F

from osm_jl_spark.sources import osm_xml
from osm_jl_spark.sources.geojson import feature_collection, way_features
from osm_jl_spark.sources.osm_xml import (
    SAMPLE_OSM_XML,
    parse_elements,
    parse_osm_file,
    parse_osm_xml,
    write_fixture_file,
)


def test_parse_osm_xml(spark):
    nodes, ways, rels = parse_osm_xml(spark, SAMPLE_OSM_XML)
    n = {r["id"]: r for r in nodes.collect()}
    assert set(n) == {1, 2, 3, 4}
    assert n[1]["tags"] == {"name": "frogner-corner", "amenity": "cafe"}
    assert n[4]["lon"] == -40.3554 and n[4]["lat"] == -20.2273

    w = {r["id"]: r for r in ways.collect()}
    assert w[10]["node_refs"] == [1, 2, 3, 1]  # document order preserved
    assert w[10]["visible"] is True
    assert w[11]["visible"] is False  # default "false" like the reference
    assert w[11]["tags"]["highway"] == "residential"

    r = {x["id"]: x for x in rels.collect()}
    assert [(m["ref"], m["type"], m["role"]) for m in r[20]["members"]] == [
        (10, "way", "outer"),
        (1, "node", ""),
    ]
    assert r[20]["tags"]["type"] == "multipolygon"


def _canon_elements(df):
    rows = df.select(
        "kind", "id", "lon", "lat", "visible", "node_refs",
        F.to_json("members").alias("members"), F.to_json("tags").alias("tags"),
    ).collect()
    return sorted(tuple(r) for r in rows)


@pytest.mark.parametrize("split_bytes", [512, 7 * 1024, 10 << 20])
def test_parse_osm_file_split_invariance(spark, tmp_path, split_bytes,
                                        monkeypatch):
    """Splittable single-file ingest must yield the SAME elements at
    any split size — including splits far smaller than an element's
    surroundings and a single split covering the whole file — as the
    whole-document parser on identical content (ownership rule:
    element belongs to the split holding its opening tag)."""
    # a small fixture: 512-byte splits of the default one take ~20 s
    # longer (4 CPUs) and reach no boundary case this one misses
    monkeypatch.setattr(osm_xml, "FIXTURE_NODES", 300)
    monkeypatch.setattr(osm_xml, "FIXTURE_WAYS", 40)
    monkeypatch.setattr(osm_xml, "FIXTURE_RELS", 10)
    path = write_fixture_file(str(tmp_path / "fx.osm"))
    whole = parse_elements(
        spark.createDataFrame([(open(path).read(),)], "xml STRING")
    )
    split = parse_osm_file(spark, path, split_bytes=split_bytes)
    if split_bytes < 10 << 20:
        assert split.rdd.getNumPartitions() > 1
    assert _canon_elements(split) == _canon_elements(whole)


def test_parse_osm_file_oversize_element_errors(spark, tmp_path, monkeypatch):
    from osm_jl_spark.sources import osm_xml

    p = tmp_path / "big.osm"
    refs = "".join(f'<nd ref="{i}"/>' for i in range(3000))
    p.write_text(f'<osm><way id="1">{refs}</way><node id="2" lon="1" '
                 f'lat="2"/></osm>')
    monkeypatch.setattr(osm_xml, "MAX_ELEMENT_BYTES", 2048)
    with pytest.raises(Exception, match="MAX_ELEMENT_BYTES"):
        parse_osm_file(spark, str(p), split_bytes=1024).collect()


def test_geojson_feature(spark):
    nodes, ways, _ = parse_osm_xml(spark, SAMPLE_OSM_XML)
    feats = way_features(ways, nodes).collect()
    by_id = {r["way_id"]: json.loads(r["feature"]) for r in feats}
    f = by_id[10]
    assert f["type"] == "Feature" and f["id"] == 10
    assert f["geometry"]["type"] == "Polygon"
    ring = f["geometry"]["coordinates"][0]
    assert ring[0] == ring[-1] == [10.71299, 59.92589]  # closed, ordered
    assert len(ring) == 4
    assert f["properties"]["name"] == "block"

    fc = json.loads(
        feature_collection(way_features(ways, nodes))
    )
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) == 2


def test_geojson_read_features_exact_roundtrip(spark):
    """read_features is the exact inverse of way_features: every
    way's coordinates (raw doubles through to_json/from_json), order,
    and name property survive bit-for-bit; properties of unnamed ways
    come back as an empty map (to_json drops NULLs)."""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.joins import way_geometries
    from osm_jl_spark.sources.geojson import read_features, way_features

    nodes = G.load_nodes(spark, 300)
    ways = G.load_ways(spark, 80, 300)
    back = read_features(way_features(ways, nodes)).collect()
    orig = {r.way_id: [(c.lon, c.lat) for c in r.coords]
            for r in way_geometries(ways, nodes).collect()}
    names = {r.id: (r.tags or {}).get("name") for r in ways.collect()}
    assert len(back) == len(orig)
    for r in back:
        assert r.geom_type == "Polygon"
        assert [(c.lon, c.lat) for c in r.coords] == orig[r.way_id]
        assert (r.properties or {}).get("name") == names[r.way_id]

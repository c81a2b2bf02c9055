"""GeoJSON emission — K1/K2 (src/geojson.jl).

The reference builds one Feature per way: geometry = Polygon with the
way's node coordinates in node_refs order wrapped in one ring
(src/geojson.jl:17-28), ``properties.name`` from the name tag, ``id`` =
way id; and a FeatureCollection over a set (src/geojson.jl:36-41).

Spark-first: the ordered geometry comes from way_geometries (posexplode
join + sort_array reassembly), the JSON from native to_json — no UDF.
A FeatureCollection is a driver-side concat of an already-aggregated
JSONL column, or df.write.json for the distributed sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_jl_spark.operators.joins import way_geometries


def way_features(
    ways: DataFrame,
    nodes: DataFrame,
    coord_decimals: int | None = None,
    props: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """(way_id, feature STRING): GeoJSON Feature per way.

    Coordinates are [[lon, lat], ...] in node_refs order; closed rings
    come out closed because the ref list itself repeats the first node
    (the reference emits the ring verbatim too, src/geojson.jl:19).

    ``coord_decimals``: if set, coordinates are emitted as fixed-scale
    decimals (e.g. 5 -> "59.92589", "3.00000") instead of raw doubles.
    Raw doubles render small values in scientific notation ("5.7E-4"),
    which is valid JSON but not canonical — fixed-scale output is
    byte-reproducible across engines (the DuckDB oracle relies on it).

    ``props``: user property generator (the reference's ``props`` kwarg,
    src/geojson.jl:15,36) — a dict of property name -> Column evaluated
    against the ways row (e.g. ``{"highway": gettag("highway")}``),
    merged into ``properties`` after ``name``. NULL-valued entries are
    dropped by to_json, matching the reference's sparse dicts.
    """
    props = props or {}
    geo = way_geometries(ways, nodes)
    named = ways.select(
        F.col("id").alias("way_id"),
        F.element_at(F.col("tags"), F.lit("name")).alias("name"),
        *[c.alias(f"_p_{k}") for k, c in props.items()],
    )

    def coord(c):
        if coord_decimals is None:
            return c
        return c.cast(f"decimal({5 + coord_decimals},{coord_decimals})")

    feat = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.col("way_id").alias("id"),
            F.struct(
                F.lit("Polygon").alias("type"),
                F.array(
                    F.transform(
                        "coords",
                        lambda c: F.array(coord(c["lon"]), coord(c["lat"])),
                    )
                ).alias("coordinates"),
            ).alias("geometry"),
            F.struct(
                F.col("name").alias("name"),
                *[F.col(f"_p_{k}").alias(k) for k in props],
            ).alias("properties"),
        )
    )
    return geo.join(named, "way_id", "left").select(
        "way_id", feat.alias("feature")
    )


def feature_collection(features: DataFrame) -> str:
    """Driver-side FeatureCollection assembly (K2, src/geojson.jl:36-41)
    — for small result sets only (single-document parity with the
    reference); the scale path is :func:`write_jsonl`, whose physical
    plan is audited in PLANS.md ("write_jsonl (GeoJSON sink)")."""
    rows = features.orderBy("way_id").select("feature").collect()
    inner = ",".join(r["feature"] for r in rows)
    return '{"type":"FeatureCollection","features":[' + inner + "]}"


def write_jsonl(features: DataFrame, path: str) -> None:
    """Distributed sink: one Feature per line (the scalable form of a
    FeatureCollection)."""
    features.select("feature").write.mode("overwrite").text(path)


FEATURE_SCHEMA = (
    "type STRING, id BIGINT, "
    "geometry STRUCT<type: STRING, "
    "coordinates: ARRAY<ARRAY<ARRAY<DOUBLE>>>>, "
    "properties MAP<STRING,STRING>"
)


def read_features(features: DataFrame) -> DataFrame:
    """GeoJSON Feature READER — the inverse of :func:`way_features`,
    so external GeoJSON (or this engine's own JSONL sink) ingests
    back as structured rows: its ``feature`` strings become (way_id,
    geom_type, coords ARRAY<STRUCT<lon,lat>>, properties
    MAP<STRING,STRING>).

    Native ``from_json`` against a fixed Feature schema — zero UDF,
    zero exchange: parsing fuses into the scan projection like every
    other narrow map here (malformed JSON rows yield NULLs, Spark's
    standard PERMISSIVE contract, so one bad feature can't kill a
    planet-sized ingest). Properties parse as MAP (keys vary per
    feature); only the outer Polygon ring is read (index 1), matching
    what way_features emits — and the reference, which builds
    single-ring polygons only (src/geojson.jl:17-28).
    """
    parsed = F.from_json(F.col("feature"), FEATURE_SCHEMA)
    ring = F.element_at(parsed["geometry"]["coordinates"], 1)
    return features.select(
        parsed["id"].alias("way_id"),
        parsed["geometry"]["type"].alias("geom_type"),
        F.transform(
            ring,
            lambda p: F.struct(
                F.element_at(p, 1).alias("lon"),
                F.element_at(p, 2).alias("lat"),
            ),
        ).alias("coords"),
        parsed["properties"].alias("properties"),
    )

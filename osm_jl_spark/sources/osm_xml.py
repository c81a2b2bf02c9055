"""OSM XML ingestion — the distributed replacement for the reference's
SAX/DOM parsers (S1-S10, src/OSM.jl:59-92, src/elements.jl).

Design: a text column (or files) of OSM XML documents is parsed with
``xml.etree.iterparse`` inside mapInPandas — streaming per batch
(constant memory like the reference's SAX path), emitting one typed row
per element. Dispatch mirrors the reference's start-element callback
(node/way/relation/nd/member/tag, src/OSM.jl:66-85) but emits columnar
batches instead of mutating driver-side vectors, and is embarrassingly
parallel across documents/files.

Unlike the reference's DOM path, relations are parsed here too (the
reference silently drops them, src/OSM.jl:37 — SURVEY.md §7.3).
Output order within a partition is document order (deterministic; the
reference's threaded extraction was not, src/elements.jl:117-126).
"""

from __future__ import annotations

import io
import os
import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# small OSM XML fixture shaped like the reference's inputs (node with
# tags, a closed way, a relation with typed members)
SAMPLE_OSM_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
  <node id="1" lon="10.71299" lat="59.92589">
    <tag k="name" v="frogner-corner"/><tag k="amenity" v="cafe"/>
  </node>
  <node id="2" lon="10.72496" lat="59.92589"/>
  <node id="3" lon="10.72496" lat="59.91941"/>
  <node id="4" lon="-40.3554" lat="-20.2273">
    <tag k="highway" v="primary"/>
  </node>
  <way id="10" visible="true">
    <nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="1"/>
    <tag k="building" v="yes"/><tag k="name" v="block"/>
  </way>
  <way id="11">
    <nd ref="2"/><nd ref="3"/>
    <tag k="highway" v="residential"/>
  </way>
  <relation id="20">
    <member ref="10" type="way" role="outer"/>
    <member ref="1" type="node" role=""/>
    <tag k="type" v="multipolygon"/>
  </relation>
</osm>
"""

NODES_SCHEMA = "id BIGINT, lon DOUBLE, lat DOUBLE, tags MAP<STRING,STRING>"
WAYS_SCHEMA = (
    "id BIGINT, visible BOOLEAN, node_refs ARRAY<BIGINT>, "
    "tags MAP<STRING,STRING>"
)
RELS_SCHEMA = (
    "id BIGINT, members ARRAY<STRUCT<ref: BIGINT, type: STRING, role: STRING>>, "
    "tags MAP<STRING,STRING>"
)

ELEMENTS_SCHEMA = (
    "kind STRING, id BIGINT, lon DOUBLE, lat DOUBLE, visible BOOLEAN, "
    "node_refs ARRAY<BIGINT>, "
    "members ARRAY<STRUCT<ref: BIGINT, type: STRING, role: STRING>>, "
    "tags MAP<STRING,STRING>"
)


def _parse_doc(xml_text: str) -> list[dict]:
    """One OSM XML document -> element dicts, document order.

    Attribute handling mirrors the reference: node id/lon/lat parsed as
    int64/float64 (src/elements.jl:75-82); way ``visible`` is the
    string-equality ``attr == "true"`` with a "false" default
    (src/elements.jl:179); <nd ref> order preserved
    (src/elements.jl:160-171); member type/role strings kept verbatim
    (src/elements.jl:263-269).
    """
    out: list[dict] = []
    cur: dict | None = None
    for event, el in ET.iterparse(io.BytesIO(xml_text.encode()), ("start", "end")):
        tag = el.tag
        if event == "start":
            if tag == "node":
                cur = {
                    "kind": "node",
                    "id": int(el.attrib["id"]),
                    "lon": float(el.attrib["lon"]),
                    "lat": float(el.attrib["lat"]),
                    "visible": None,
                    "node_refs": None,
                    "members": None,
                    "tags": {},
                }
                out.append(cur)
            elif tag == "way":
                cur = {
                    "kind": "way",
                    "id": int(el.attrib["id"]),
                    "lon": None,
                    "lat": None,
                    "visible": el.attrib.get("visible", "false") == "true",
                    "node_refs": [],
                    "members": None,
                    "tags": {},
                }
                out.append(cur)
            elif tag == "relation":
                cur = {
                    "kind": "relation",
                    "id": int(el.attrib["id"]),
                    "lon": None,
                    "lat": None,
                    "visible": None,
                    "node_refs": None,
                    "members": [],
                    "tags": {},
                }
                out.append(cur)
            elif tag == "nd" and cur is not None and cur["kind"] == "way":
                cur["node_refs"].append(int(el.attrib["ref"]))
            elif tag == "member" and cur is not None and cur["kind"] == "relation":
                cur["members"].append(
                    {
                        "ref": int(el.attrib["ref"]),
                        "type": el.attrib.get("type", ""),
                        "role": el.attrib.get("role", ""),
                    }
                )
            elif tag == "tag" and cur is not None:
                cur["tags"][el.attrib.get("k", "")] = el.attrib.get("v", "")
        else:
            el.clear()
    return out


def parse_elements(xml_docs: DataFrame) -> DataFrame:
    """DataFrame of XML document strings (column ``xml``) -> unified
    elements table (kind discriminates node/way/relation)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for doc in pdf["xml"]:
                if doc:
                    rows.extend(_parse_doc(doc))
            yield pd.DataFrame(
                rows,
                columns=[
                    "kind", "id", "lon", "lat", "visible",
                    "node_refs", "members", "tags",
                ],
            )

    return xml_docs.mapInPandas(run, ELEMENTS_SCHEMA)


def split_elements(
    elements: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Unified elements -> (nodes, ways, relations) DataFrames with the
    engine's table schemas (the Data triple, src/OSM.jl:17-22)."""
    nodes = elements.filter("kind = 'node'").select("id", "lon", "lat", "tags")
    ways = elements.filter("kind = 'way'").select(
        "id", "visible", "node_refs", "tags"
    )
    rels = elements.filter("kind = 'relation'").select("id", "members", "tags")
    return nodes, ways, rels


def parse_osm_xml(
    spark: SparkSession, xml_text: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Single-document convenience wrapper (the reference's
    ``Data(::AbstractString)``, src/OSM.jl:44)."""
    df = spark.createDataFrame([(xml_text,)], "xml STRING")
    return split_elements(parse_elements(df))


FIXTURE_NODES, FIXTURE_WAYS, FIXTURE_RELS = 3000, 300, 30


def write_fixture_file(path: str) -> str:
    """Deterministic multi-element .osm fixture for the splittable-file
    path: ``FIXTURE_NODES`` nodes, ``FIXTURE_WAYS`` ways and
    ``FIXTURE_RELS`` relations. Coordinates are emitted as exact
    decimal STRINGS ("10." + zero-padded digits) so any engine that
    parses the same string gets the same IEEE double — float parity is
    definitional, not luck.
    Formatting is deliberately irregular (some elements span lines,
    some are dense) to exercise boundary scanning.
    """
    parts = ['<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n']
    for i in range(FIXTURE_NODES):
        lon = f"10.{i % 1000000:06d}"
        lat = f"59.{(i * 7) % 1000000:06d}"
        tag = f'<tag k="name" v="n{i}"/>' if i % 3 == 0 else ""
        if i % 10 == 0:  # multi-line element
            parts.append(
                f'  <node id="{i}"\n        lon="{lon}" lat="{lat}">\n'
                f"    {tag}\n  </node>\n"
            )
        else:
            parts.append(f'<node id="{i}" lon="{lon}" lat="{lat}">{tag}</node>\n')
    for i in range(FIXTURE_WAYS):
        vis = ' visible="true"' if i % 2 == 0 else ""
        nds = "".join(f'<nd ref="{j}"/>' for j in range(i, i + (i % 5) + 2))
        parts.append(
            f'<way id="{100000 + i}"{vis}>{nds}<tag k="highway" v="x"/></way>\n'
        )
    for i in range(FIXTURE_RELS):
        parts.append(
            f'<relation id="{200000 + i}"><member ref="{i}" type="way" '
            f'role="outer"/><member ref="{i + 1}" type="node" role=""/>'
            f'<tag k="type" v="multipolygon"/></relation>\n'
        )
    parts.append("</osm>\n")
    with open(path, "w") as f:
        f.write("".join(parts))
    return path


# --------------------------- splittable single-file ingest (parsefile)

# top-level OSM element openers only; child tags (<nd, <tag, <member,
# <bounds) never match, so a match is always an element boundary.
# XML forbids raw '<' inside attribute values, so text content cannot
# fake a match (comments/CDATA are not emitted by OSM dumps).
_ELEMENT_START_RE = re.compile(rb"<(node|way|relation)[ \t\r\n/>]")
# parse_osm_file's per-range overscan: the largest element it parses
MAX_ELEMENT_BYTES = 16 << 20


def _parse_range(
    path: str, start: int, end: int, is_tail: bool, max_element_bytes: int
) -> list[dict]:
    """Parse the elements OWNED by byte range [start, end) of an OSM
    XML file. Ownership rule (the Hadoop input-split convention): an
    element belongs to the range containing the FIRST byte of its
    opening tag, so every element is parsed exactly once with no
    coordination between tasks.

    The task reads its range plus a ``max_element_bytes`` overscan so
    the last owned element (which may cross ``end``) completes; raises
    if a single element exceeds the overscan instead of silently
    truncating.
    """
    want = (end - start) + max_element_bytes
    with open(path, "rb") as f:
        f.seek(start)
        window = f.read(want)
    hit_eof = len(window) < want
    first = None
    cut = None
    for m in _ELEMENT_START_RE.finditer(window):
        if start + m.start() < end:
            if first is None:
                first = m.start()
        else:
            cut = m.start()
            break
    if first is None:  # range holds no element starts (header/trailer)
        return []
    if cut is None:
        if not (is_tail or hit_eof):
            raise ValueError(
                f"OSM element starting in [{start},{end}) exceeds "
                f"MAX_ELEMENT_BYTES={max_element_bytes}; raise the limit"
            )
        tail = window.find(b"</osm>", first)
        cut = tail if tail != -1 else len(window)
    frag = b"<osm>" + window[first:cut] + b"</osm>"
    # cut points are at ASCII '<' tag starts, so frag is valid UTF-8
    # even when the RANGE boundaries fall mid-multibyte-character.
    return _parse_doc(frag.decode("utf-8"))


def parse_osm_file(
    spark: SparkSession,
    path: str,
    split_bytes: int = 64 << 20,
) -> DataFrame:
    """Splittable ingest of ONE large OSM XML file — the reference's
    primary entry point ``parsefile`` (src/OSM.jl:59-92), which streams
    a planet/extract file through a single-threaded SAX parser. Here
    the file is cut into ``split_bytes`` ranges parsed in parallel,
    one task per range (Spark's own XML datasource reads a single file
    in one task, so a planet file would serialize); an element larger
    than ``MAX_ELEMENT_BYTES`` fails the task.

    Output is the unified elements table (kind/id/lon/lat/visible/
    node_refs/members/tags) in document order within each range;
    ``split_elements`` recovers the Data triple. The path must be
    visible from executors (shared storage — same contract as any
    Hadoop input split).
    """
    size = os.path.getsize(path)
    n = max(1, -(-size // split_bytes))
    ranges = [
        (
            i,
            i * split_bytes,
            min((i + 1) * split_bytes, size),
            (i + 1) * split_bytes >= size,
        )
        for i in range(n)
    ]
    rdf = spark.createDataFrame(
        ranges, "split_id INT, start BIGINT, end BIGINT, is_tail BOOLEAN"
    ).repartition(n, "split_id")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                rows.extend(
                    _parse_range(
                        path, int(r.start), int(r.end), bool(r.is_tail),
                        MAX_ELEMENT_BYTES,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "kind", "id", "lon", "lat", "visible",
                    "node_refs", "members", "tags",
                ],
            )

    return rdf.mapInPandas(run, ELEMENTS_SCHEMA)

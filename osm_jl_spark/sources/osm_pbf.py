"""OSM PBF source — splittable ingest of the planet-scale binary
format (protobuf blobs, https://wiki.openstreetmap.org/wiki/PBF_Format).

The reference parses XML only (src/OSM.jl:59-92); real planet
distribution is .osm.pbf, so this is the extension an OSM.jl user
needs first when the input stops fitting the XML path. Same output
contract as sources/osm_xml.py: the unified elements table
(ELEMENTS_SCHEMA) that ``split_elements`` turns into the Data triple.

Scale design (mirrors parse_osm_file's byte-range splits):

- A PBF file is a sequence of independently-decodable BLOBS
  ([4-byte BE length][BlobHeader][Blob]), each ~8 MB compressed. The
  DRIVER reads only the header chain — a metadata walk touching a few
  dozen bytes per blob (seek past each payload), ~30k headers for a
  planet file — and builds the (offset, size) blob index.
- The index becomes a DataFrame, one row per OSMData blob,
  repartitioned so every executor decodes its own blobs via
  mapInPandas. Decode is per-blob-independent (PBF's own design
  goal), so parallelism is bounded only by blob count: a planet file
  fans out to tens of thousands of tasks with zero coordination.
- Decoding is a Pandas-UDF batch job by necessity (binary varint
  protobuf — not expressible in native columns; the sanctioned
  exception class of SURVEY §2.9(b), same as the XML parse).

No protobuf library: the wire format subset PBF uses (varint, zigzag,
length-delimited, packed repeated) is hand-decoded below, which also
keeps the encoder-side test fixture honest — ``write_pbf`` emits real
spec-conformant blobs (zlib-compressed PrimitiveBlocks with string
tables, delta-coded dense nodes, delta-coded way refs / relation
memids) that any standard OSM tool could read.

Unsupported (documented, raised on): non-zlib compression (lzma/zstd
blobs exist in the wild but are rare), HistoricalInformation. ``visible``
is True for every element — PBF carries visibility only in history
files, matching the XML parser's default for absent attributes.
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from osm_jl_spark.sources.osm_xml import ELEMENTS_SCHEMA

_MEMBER_TYPES = ("node", "way", "relation")


# ----------------------------------------------------- wire format

def _uvarint(buf: bytes, i: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = buf[i]
        i += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, i
        shift += 7


def _zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _int64(v: int) -> int:
    """A decoded varint read back as protobuf ``int64``: values of
    2^63 and up are negative numbers in two's complement."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value) over one message.
    wire 0 -> int, wire 2 -> bytes, wire 5/1 -> raw fixed bytes."""
    i, n = 0, len(buf)
    while i < n:
        key, i = _uvarint(buf, i)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, i = _uvarint(buf, i)
        elif wire == 2:
            ln, i = _uvarint(buf, i)
            v = buf[i:i + ln]
            i += ln
        elif wire == 5:
            v, i = buf[i:i + 4], i + 4
        elif wire == 1:
            v, i = buf[i:i + 8], i + 8
        else:  # pragma: no cover - groups are not in the PBF schema
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, v


def _packed(buf: bytes, signed: bool = False) -> list[int]:
    out, i = [], 0
    while i < len(buf):
        v, i = _uvarint(buf, i)
        out.append(_zigzag(v) if signed else v)
    return out


def _enc_uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_int64(n: int) -> bytes:
    """protobuf ``int64`` (the type of way and relation ids): the
    64-bit two's complement as a varint, so a negative id takes
    10 bytes."""
    if not -(1 << 63) <= n < (1 << 63):
        raise ValueError(f"id {n} outside int64 range")
    return _enc_uvarint(n & ((1 << 64) - 1))


def _enc_zigzag(n: int) -> bytes:
    if not -(1 << 63) <= n < (1 << 63):
        # sint64 is the wire type: a delta outside int64 (two refs
        # further apart than 2^63) is unrepresentable in the format
        raise ValueError(f"delta {n} outside sint64 range")
    return _enc_uvarint((n << 1) ^ (n >> 63))


def _enc_field(field: int, wire: int, payload: bytes) -> bytes:
    return _enc_uvarint((field << 3) | wire) + payload


def _enc_bytes(field: int, data: bytes) -> bytes:
    return _enc_field(field, 2, _enc_uvarint(len(data)) + data)


def _enc_packed(field: int, values: list[int], signed: bool = False) -> bytes:
    body = b"".join(
        _enc_zigzag(v) if signed else _enc_uvarint(v) for v in values
    )
    return _enc_bytes(field, body)


# ------------------------------------------------------ blob index

def pbf_blob_index(path: str) -> list[dict]:
    """Driver-side metadata walk: [(offset, size, type)] per blob.
    Reads ONLY the 4-byte length + BlobHeader of each blob and seeks
    past the payload — O(blob count) tiny reads, never the data."""
    out = []
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        while fh.tell() < size:
            raw = fh.read(4)
            if len(raw) < 4:
                break
            hlen = struct.unpack(">I", raw)[0]
            header = fh.read(hlen)
            btype, datasize = "", 0
            for field, _, v in _fields(header):
                if field == 1:
                    btype = v.decode("utf-8")
                elif field == 3:
                    datasize = int(v)
            out.append(
                {"offset": fh.tell(), "size": datasize, "type": btype}
            )
            fh.seek(datasize, 1)
    return out


def _blob_payload(blob: bytes) -> bytes:
    raw = zdata = None
    for field, _, v in _fields(blob):
        if field == 1:
            raw = v
        elif field == 3:
            zdata = v
        elif field in (4, 5, 6, 7):
            raise ValueError(
                "unsupported PBF blob compression (only raw/zlib)")
    if raw is not None:
        return raw
    if zdata is not None:
        return zlib.decompress(zdata)
    raise ValueError("empty PBF blob")


# --------------------------------------------------------- decode

def _decode_block(payload: bytes) -> list[dict]:
    """One PrimitiveBlock -> element dicts in block order."""
    strings: list[str] = []
    groups: list[bytes] = []
    gran, lat_off, lon_off = 100, 0, 0
    for field, _, v in _fields(payload):
        if field == 1:  # stringtable
            strings = [
                s.decode("utf-8") for f, _, s in _fields(v) if f == 1
            ]
        elif field == 2:
            groups.append(v)
        elif field == 17:
            gran = int(v)
        elif field == 19:
            lat_off = int(v)
        elif field == 20:
            lon_off = int(v)

    def coord(off: int, g: int, units: int) -> float:
        return 1e-9 * (off + g * units)

    rows: list[dict] = []
    for g in groups:
        for field, _, v in _fields(g):
            if field == 2:  # DenseNodes
                ids = lats = lons = kv = None
                for f2, _, v2 in _fields(v):
                    if f2 == 1:
                        ids = _packed(v2, signed=True)
                    elif f2 == 8:
                        lats = _packed(v2, signed=True)
                    elif f2 == 9:
                        lons = _packed(v2, signed=True)
                    elif f2 == 10:
                        kv = _packed(v2)
                kv = kv or []
                cid = clat = clon = 0
                ki = 0
                for j in range(len(ids or [])):
                    cid += ids[j]
                    clat += lats[j]
                    clon += lons[j]
                    tags: dict[str, str] = {}
                    while ki < len(kv) and kv[ki] != 0:
                        tags[strings[kv[ki]]] = strings[kv[ki + 1]]
                        ki += 2
                    ki += 1  # the 0 terminator
                    rows.append({
                        "kind": "node", "id": cid,
                        "lon": coord(lon_off, gran, clon),
                        "lat": coord(lat_off, gran, clat),
                        "visible": True, "node_refs": None,
                        "members": None, "tags": tags,
                    })
            elif field == 3:  # Way
                wid, keys, vals, refs = 0, [], [], []
                for f2, _, v2 in _fields(v):
                    if f2 == 1:
                        wid = _int64(v2)
                    elif f2 == 2:
                        keys = _packed(v2)
                    elif f2 == 3:
                        vals = _packed(v2)
                    elif f2 == 8:
                        refs = _packed(v2, signed=True)
                acc, out_refs = 0, []
                for d in refs:
                    acc += d
                    out_refs.append(acc)
                rows.append({
                    "kind": "way", "id": wid, "lon": None, "lat": None,
                    "visible": True, "node_refs": out_refs,
                    "members": None,
                    "tags": {strings[k]: strings[w]
                             for k, w in zip(keys, vals)},
                })
            elif field == 4:  # Relation
                rid, keys, vals = 0, [], []
                roles, memids, types = [], [], []
                for f2, _, v2 in _fields(v):
                    if f2 == 1:
                        rid = _int64(v2)
                    elif f2 == 2:
                        keys = _packed(v2)
                    elif f2 == 3:
                        vals = _packed(v2)
                    elif f2 == 8:
                        roles = _packed(v2)
                    elif f2 == 9:
                        memids = _packed(v2, signed=True)
                    elif f2 == 10:
                        types = _packed(v2)
                acc, members = 0, []
                for j, d in enumerate(memids):
                    acc += d
                    members.append({
                        "ref": acc,
                        "type": _MEMBER_TYPES[types[j]],
                        "role": strings[roles[j]] if roles else "",
                    })
                rows.append({
                    "kind": "relation", "id": rid, "lon": None,
                    "lat": None, "visible": True, "node_refs": None,
                    "members": members,
                    "tags": {strings[k]: strings[w]
                             for k, w in zip(keys, vals)},
                })
            elif field == 1:
                raise ValueError(
                    "non-dense Node groups not supported (every "
                    "mainstream PBF writer emits DenseNodes)")
    return rows


_SUPPORTED_FEATURES = {"OsmSchema-V0.6", "DenseNodes"}


def _check_header(path: str, header_blob: dict) -> None:
    """Fail fast on a file this decoder cannot decode FAITHFULLY: the
    OSMHeader's required_features (field 4) is the format's own
    contract — e.g. 'HistoricalInformation' files carry per-element
    visibility/versions that this non-history decoder would silently
    misreport as visible=True. Optional_features (field 5) are, per
    spec, safe to ignore."""
    with open(path, "rb") as fh:
        fh.seek(header_blob["offset"])
        payload = _blob_payload(fh.read(header_blob["size"]))
    for field, _, v in _fields(payload):
        if field == 4:
            feat = v.decode("utf-8")
            if feat not in _SUPPORTED_FEATURES:
                raise ValueError(
                    f"PBF requires unsupported feature {feat!r} "
                    f"(supported: {sorted(_SUPPORTED_FEATURES)})")


def parse_pbf(spark: SparkSession, path: str) -> DataFrame:
    """Splittable PBF ingest: elements DataFrame (ELEMENTS_SCHEMA),
    one decode task per OSMData blob. ``split_elements`` (osm_xml.py)
    recovers the Data triple. Path must be executor-visible (shared
    storage), the same contract as parse_osm_file."""
    index = pbf_blob_index(path)
    for b in index:
        if b["type"] == "OSMHeader":
            _check_header(path, b)
    blobs = [b for b in index if b["type"] == "OSMData"]
    if not blobs:
        raise ValueError(f"no OSMData blobs in {path}")
    # one blob id per partition: hash placement would stack several
    # blobs into one task and leave other slots idle
    spans = [(b["offset"], b["size"]) for b in blobs]
    rdf = spark.range(len(blobs), numPartitions=len(blobs))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            with open(path, "rb") as fh:
                for i in pdf["id"]:
                    offset, size = spans[i]
                    fh.seek(offset)
                    rows.extend(_decode_block(_blob_payload(fh.read(size))))
            yield pd.DataFrame(
                rows,
                columns=[
                    "kind", "id", "lon", "lat", "visible",
                    "node_refs", "members", "tags",
                ],
            )

    return rdf.mapInPandas(run, ELEMENTS_SCHEMA)


# --------------------------------------------------------- encode

def _string_table(elements: list[dict]) -> tuple[list[str], dict[str, int]]:
    table, index = [""], {"": 0}  # index 0 reserved (dense kv terminator)
    for el in elements:
        for s in (*el.get("tags", {}).keys(), *el.get("tags", {}).values()):
            if s not in index:
                index[s] = len(table)
                table.append(s)
        for m in el.get("members") or []:
            role = m.get("role", "")
            if role not in index:
                index[role] = len(table)
                table.append(role)
    return table, index


def _enc_block(elements: list[dict]) -> bytes:
    """One PrimitiveBlock from element dicts (granularity 100,
    offsets 0: coordinate unit = 1e-7 deg, the format default)."""
    table, idx = _string_table(elements)
    st = b"".join(_enc_bytes(1, s.encode("utf-8")) for s in table)
    groups: list[bytes] = []

    nodes = [e for e in elements if e["kind"] == "node"]
    if nodes:
        ids, lats, lons, kv = [], [], [], []
        pid = plat = plon = 0
        for e in nodes:
            ids.append(e["id"] - pid)
            lat_u = round(e["lat"] * 1e7)
            lon_u = round(e["lon"] * 1e7)
            lats.append(lat_u - plat)
            lons.append(lon_u - plon)
            pid, plat, plon = e["id"], lat_u, lon_u
            for k, v in e.get("tags", {}).items():
                kv += [idx[k], idx[v]]
            kv.append(0)
        dense = (
            _enc_packed(1, ids, signed=True)
            + _enc_packed(8, lats, signed=True)
            + _enc_packed(9, lons, signed=True)
            + _enc_packed(10, kv)
        )
        groups.append(_enc_bytes(2, dense))

    for e in elements:
        if e["kind"] == "way":
            deltas, prev = [], 0
            for ref in e.get("node_refs") or []:
                deltas.append(ref - prev)
                prev = ref
            tags = e.get("tags", {})
            msg = (
                _enc_field(1, 0, _enc_int64(e["id"]))
                + _enc_packed(2, [idx[k] for k in tags])
                + _enc_packed(3, [idx[v] for v in tags.values()])
                + _enc_packed(8, deltas, signed=True)
            )
            groups.append(_enc_bytes(3, msg))
        elif e["kind"] == "relation":
            members = e.get("members") or []
            deltas, prev = [], 0
            for m in members:
                deltas.append(m["ref"] - prev)
                prev = m["ref"]
            tags = e.get("tags", {})
            msg = (
                _enc_field(1, 0, _enc_int64(e["id"]))
                + _enc_packed(2, [idx[k] for k in tags])
                + _enc_packed(3, [idx[v] for v in tags.values()])
                + _enc_packed(8, [idx[m.get("role", "")] for m in members])
                + _enc_packed(9, deltas, signed=True)
                + _enc_packed(
                    10,
                    [_MEMBER_TYPES.index(m["type"]) for m in members],
                )
            )
            groups.append(_enc_bytes(4, msg))

    block = (
        _enc_bytes(1, st)
        + b"".join(_enc_bytes(2, g) for g in groups)
        + _enc_field(17, 0, _enc_uvarint(100))
    )
    return block


def _enc_blob(btype: str, payload: bytes) -> bytes:
    z = zlib.compress(payload)
    blob = _enc_field(2, 0, _enc_uvarint(len(payload))) + _enc_bytes(3, z)
    header = (
        _enc_bytes(1, btype.encode("utf-8"))
        + _enc_field(3, 0, _enc_uvarint(len(blob)))
    )
    return struct.pack(">I", len(header)) + header + blob


def write_pbf(
    path: str, elements: list[dict], block_size: int = 4000
) -> str:
    """Spec-conformant .osm.pbf writer — the TEST FIXTURE side of the
    round-trip (single-process, like osm_xml.write_fixture_file; the
    distributed path is parse_pbf). Elements are dicts in the
    ELEMENTS_SCHEMA shape; blocks of ``block_size`` elements become
    separate zlib blobs so a fixture file exercises multi-blob
    parallel decode."""
    header_block = _enc_bytes(4, b"OsmSchema-V0.6") + _enc_bytes(
        5, b"DenseNodes"
    )
    with open(path, "wb") as fh:
        fh.write(_enc_blob("OSMHeader", header_block))
        for i in range(0, len(elements), block_size):
            fh.write(
                _enc_blob("OSMData", _enc_block(elements[i:i + block_size]))
            )
    return path

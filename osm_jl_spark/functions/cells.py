"""Grid-cell encoding — the engine's H3/S2-style multi-resolution index.

Semantics pinned to the reference: a cell at precision p is
``(trunc(lon*10^p), trunc(lat*10^p))`` with truncation TOWARD ZERO
(/root/reference/src/index.jl:17). Spark's ``CAST(double AS LONG)``
truncates toward zero, so the encode stays entirely JVM-side (no UDF)
and survives whole-stage codegen.

Hierarchy: precision p-1 is the parent of p the same way an H3/S2
res-(r-1) cell contains its res-r children — EXCEPT around zero, where
truncation makes cells (-1..1)*10 all truncate to parent 0. We therefore
derive parents by re-encoding from the raw coordinate (cheap column op),
never by integer-dividing the child id; this keeps multi-resolution
rollups exactly consistent with single-shot encodes at each precision.

At the 10^12-document design point the cell columns are the partition
story: write tables clustered by ``(precision-2 cell)`` prefix so bbox
queries (src/OSM.jl:246-257) become partition-pruned scans, and the
tiling groupBy shuffles on a key whose cardinality (~6.5M cells at p=2
worldwide, far fewer occupied) comfortably exceeds executor count while
dense urban cells get salted (operators/tiling.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from osm_jl_spark.functions.geo import sql_ident


def cell_coord(c: Column | str, precision: int) -> Column:
    """trunc-toward-zero of coord * 10^precision (src/index.jl:17)."""
    col = F.col(c) if isinstance(c, str) else c
    return (col * F.lit(float(10**precision))).cast("long")


def with_cell(df, precision: int, lon: str = "lon", lat: str = "lat",
              cx: str = "cx", cy: str = "cy"):
    """Add integer cell columns (cx, cy) at the given precision, as ONE
    ``selectExpr`` — a single eager analysis on the driver, where two
    ``withColumn`` calls cost two. The cell columns come last; an
    existing column of the same name is replaced."""
    scale = f"{float(10**precision)!r}D"  # a DOUBLE literal, as cell_coord
    enc = {out: f"CAST({sql_ident(c)} * {scale} AS BIGINT)"
           for out, c in ((cx, lon), (cy, lat))}
    return df.selectExpr(
        *(sql_ident(c) for c in df.columns if c not in enc),
        *(f"{e} AS {sql_ident(c)}" for c, e in enc.items()),
    )


def bbox_cell_range(ul: tuple[float, float], lr: tuple[float, float],
                    precision: int) -> tuple[int, int, int, int]:
    """Corner cells for a bbox query, UL/LR given as (lon, lat) like the
    reference's extract(D, UL, LR) (src/OSM.jl:246-257, test.jl:3).

    Returns (cx_lo, cx_hi, cy_lo, cy_hi) — inclusive cell bounds. The
    reference slices its index matrix between the two corner cells
    (src/index.jl:74-87); with trunc encoding that means every cell
    between min and max corner cell inclusive.
    """
    import math

    x1 = math.trunc(ul[0] * 10**precision)
    x2 = math.trunc(lr[0] * 10**precision)
    y1 = math.trunc(ul[1] * 10**precision)
    y2 = math.trunc(lr[1] * 10**precision)
    return min(x1, x2), max(x1, x2), min(y1, y2), max(y1, y2)


def bbox_filter(df, ul, lr, precision: int, cx: str = "cx", cy: str = "cy"):
    """Cell-range predicate: BETWEEN on both cell axes.

    On a cell-clustered table this is pure partition pruning + min/max
    data skipping — no shuffle, no UDF (SURVEY.md §4 row 1).
    """
    xlo, xhi, ylo, yhi = bbox_cell_range(ul, lr, precision)
    return df.filter(
        F.col(cx).between(xlo, xhi) & F.col(cy).between(ylo, yhi)
    )


def cell_lookup(df, lon: float, lat: float, precision: int,
                cx: str = "cx", cy: str = "cy"):
    """Rows in the single cell containing (lon, lat) — the reference's
    ``Index`` point-getindex (src/index.jl:55-58: ``getindex(i, lon,
    lat)`` returns the one cell's element vector).

    Expressed as an equality filter on the cell columns: on a
    cell-clustered table this is one pruned partition + row-group
    skipping, no shuffle, no UDF — the degenerate (single-cell) case of
    ``bbox_filter``.
    """
    import math

    x = math.trunc(lon * 10**precision)
    y = math.trunc(lat * 10**precision)
    return df.filter((F.col(cx) == x) & (F.col(cy) == y))


# ---------------------------------------------------------------- quadkey
# Web-mercator z/x/y tiles + Bing-style quadkeys: the industry-standard
# map-tile scheme, complementing the reference-pinned trunc-degree grid
# above. A quadkey at zoom z is a z-character base-4 string whose
# digits interleave the tile-x/tile-y bits MSB-first, so PARENT TILES
# ARE STRING PREFIXES: rollup = substring, range pruning on a
# quadkey-sorted table = prefix scan — the property that makes it the
# right clustering key for multi-zoom tile serving at 10^12 rows.

WEBMERC_MAX_LAT = 85.05112878  # mercator singularity clamp (EPSG:3857)


def webmerc_tile(lon, lat, zoom: int) -> tuple[Column, Column]:
    """(tile_x, tile_y) LONG columns at the given zoom, all native math
    (the standard slippy-map formulas). Latitude is clamped to the
    web-mercator domain; x/y are clamped into [0, 2^z-1] so lon=180
    and lat=-90 land in the last tile instead of one past it.
    """
    lonc = F.col(lon) if isinstance(lon, str) else lon
    latc = F.col(lat) if isinstance(lat, str) else lat
    n = float(2**zoom)
    latm = F.greatest(
        F.least(latc, F.lit(WEBMERC_MAX_LAT)), F.lit(-WEBMERC_MAX_LAT)
    )
    x = F.floor((lonc + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    s = F.sin(F.radians(latm))
    y = F.floor(
        (
            F.lit(0.5)
            - F.log((F.lit(1.0) + s) / (F.lit(1.0) - s))
            / F.lit(4.0 * 3.141592653589793)
        )
        * F.lit(n)
    )
    lim = F.lit(int(2**zoom) - 1)
    return (
        F.greatest(F.least(x, lim), F.lit(0)).cast("long"),
        F.greatest(F.least(y, lim), F.lit(0)).cast("long"),
    )


def quadkey_col(tile_x: Column, tile_y: Column, zoom: int) -> Column:
    """Quadkey string from tile coords: digit for bit position b
    (MSB first, b = z-1..0) is ``(x >> b & 1) + 2*(y >> b & 1)`` —
    unrolled over the zoom's constant bit positions (zoom is a plan
    constant, so this is z codegen'd expressions, no UDF, no array).
    Zoom-(z-k) parent = ``substring(qk, 1, z-k)``.
    """
    digits = [
        (
            F.shiftright(tile_x, b).bitwiseAND(F.lit(1))
            + F.shiftright(tile_y, b).bitwiseAND(F.lit(1)) * F.lit(2)
        ).cast("string")
        for b in range(zoom - 1, -1, -1)
    ]
    return F.concat(*digits)


def with_quadkey(df, zoom: int, lon: str = "lon", lat: str = "lat",
                 out: str = "qk"):
    """Add a zoom-``zoom`` quadkey column computed from (lon, lat)."""
    x, y = webmerc_tile(lon, lat, zoom)
    return df.withColumn(out, quadkey_col(x, y, zoom))


# --------------------------------------------------------------- geohash
# The third index family next to the trunc grid and web-mercator
# quadkeys: classic base-32 geohash (Niemeyer 2008) — an equirectangular
# bit-interleave rather than mercator, with the SAME
# parents-are-string-prefixes property, so everything built on quadkey
# prefixes (rollup = substring, prefix-scan pruning) composes with
# geohash columns unchanged.

GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_col(lon, lat, length: int) -> Column:
    """Geohash string of ``length`` base-32 chars, all native math
    unrolled over plan constants (no UDF, no array): with B = 5*length
    total bits, nx = ceil(B/2) longitude bits and ny = B - nx latitude
    bits, the cell indices are

        X = floor((lon + 180) / 360 * 2^nx)   (clamped to [0, 2^nx-1])
        Y = floor((lat +  90) / 180 * 2^ny)   (clamped)

    and the hash interleaves their bits MSB-first starting with
    longitude (the geohash convention: even global bit positions are
    longitude). Each output char looks its 5-bit group up in the
    base-32 alphabet via one substring on a literal — ``length``
    codegen'd expressions total. Floor/division are the identical IEEE
    ops in any engine reading the same stored doubles, so the DuckDB
    oracle reproduces every hash bit-exactly (query ``geohash_tiles``).
    """
    lonc = F.col(lon) if isinstance(lon, str) else lon
    latc = F.col(lat) if isinstance(lat, str) else lat
    bits = 5 * length
    nx = (bits + 1) // 2
    ny = bits - nx
    x = F.floor((lonc + F.lit(180.0)) / F.lit(360.0) * F.lit(float(2**nx)))
    y = F.floor((latc + F.lit(90.0)) / F.lit(180.0) * F.lit(float(2**ny)))
    x = F.greatest(F.least(x, F.lit(int(2**nx) - 1)), F.lit(0)).cast("long")
    y = F.greatest(F.least(y, F.lit(int(2**ny) - 1)), F.lit(0)).cast("long")
    # global bit g (0 = MSB): longitude for even g, latitude for odd;
    # the source bit position counts down within each axis
    chars = []
    for c in range(length):
        val = None
        for k in range(5):
            g = 5 * c + k
            if g % 2 == 0:  # longitude bit
                src, pos = x, nx - 1 - g // 2
            else:           # latitude bit
                src, pos = y, ny - 1 - g // 2
            bit = F.shiftright(src, pos).bitwiseAND(F.lit(1))
            term = bit * F.lit(1 << (4 - k))
            val = term if val is None else val + term
        chars.append(
            F.substring(F.lit(GEOHASH_BASE32), 1, 32).substr(
                (val + F.lit(1)).cast("int"), F.lit(1)
            )
        )
    return F.concat(*chars)


def with_geohash(df, length: int, lon: str = "lon", lat: str = "lat",
                 out: str = "gh"):
    """Add a ``length``-char geohash column computed from (lon, lat)."""
    return df.withColumn(out, geohash_col(lon, lat, length))

"""Geometry kernels: exact point-in-polygon (native SQL), polygon cell
covers, and coordinate transforms.

PIP reproduces the reference's even-odd ray casting bit-for-bit
(/root/reference/src/coords.jl:69-78): closing edge first, strict
``>`` / ``<`` comparisons, open ring. The production test is native
Spark SQL in ONE string, so building it costs one parse on the JVM
instead of a Py4J call per expression node: a flat sum of per-edge
terms over broadcast edge SLOT fields (``pip_slots_sql``; its size
follows the widest ring, not the polygon count, and it stays inside
whole-stage codegen), or an ``aggregate`` fold over a broadcast edge
array for rings wider than ``SLOT_LIMIT`` edges
(``pip_edges_fold_sql``, interpreted). The scalar port
``oracle.point_in_polygon`` is the reference both are tested against.

The scale story (SURVEY.md §4 custom work #1): computing exact PIP for
every (point, polygon) pair is O(N·P·V) and unusable at 10^12 docs.
``cell_cover`` classifies each grid cell of a polygon's bbox as FULL
(entirely inside) or BOUNDARY (edge passes through); the spatial join
then broadcast-joins points to cover cells on (cx, cy) — a native
hash join Catalyst handles — accepts FULL matches outright, and runs
the exact even-odd test only on BOUNDARY candidates, typically <5% of
matches.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from osm_jl_spark.oracle import coord2index, point_in_polygon

Ring = list[tuple[float, float]]


def ring_edges(ring: Ring) -> list[tuple[float, float, float, float]]:
    """(ax, ay, bx, by) per edge with the closing edge first, matching
    ``zip([P[end]; P[1:end-1]], P)`` (src/coords.jl:70)."""
    return [
        (float(a[0]), float(a[1]), float(b[0]), float(b[1]))
        for a, b in zip([ring[-1], *ring[:-1]], ring)
    ]


class NonFiniteVertexError(ValueError):
    """A polygon vertex is NaN or infinite. The even-odd loop of
    src/coords.jl:69-78 has no meaning for such a ring, yet the exact
    test would quietly return some answer for it — so it is refused
    up front by name."""


def check_finite_ring(pid: int, ring: Ring) -> None:
    """Raise :class:`NonFiniteVertexError` if any vertex of polygon
    ``pid`` has a NaN or infinite coordinate."""
    for v in ring:
        if not (math.isfinite(v[0]) and math.isfinite(v[1])):
            raise NonFiniteVertexError(
                f"polygon {pid} has a non-finite vertex {tuple(v)!r}"
            )


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _crossing_sql(ax: str, ay: str, bx: str, by: str, lon: str, lat: str) -> str:
    """SQL for one edge's term of the even-odd count (src/coords.jl:73-75):
    1 if edge (a, b) straddles the point's latitude with its crossing
    strictly left of the point, else 0. ``(lat - ay) / (by - ay) *
    (bx - ax)`` keeps the reference's IEEE op order. The division is
    ``try_divide``: by == ay only on horizontal edges, where the
    straddle test is always false, but under ANSI mode a bare / would
    raise DIVIDE_BY_ZERO if an optimizer reordering ever evaluated it
    first — try_divide yields NULL there and ``false AND NULL`` is
    false, safe in ANY evaluation order (identical quotient on every
    crossing edge)."""
    return (
        f"CASE WHEN (({ay} > {lat}) != ({by} > {lat})) AND "
        f"({ax} + try_divide({lat} - {ay}, {by} - {ay}) * ({bx} - {ax}) < {lon}) "
        "THEN 1 ELSE 0 END"
    )


def edge_slot_columns(k: int) -> list[str]:
    """Field names of ``k`` edge slots: ``_e{i}_ax/_ay/_bx/_by``."""
    return [f"_e{i}_{c}" for i in range(k) for c in ("ax", "ay", "bx", "by")]


def edge_slots(ring: Ring, k: int) -> list[float]:
    """The ring's edges as the values of ``k`` edge slots (the fields
    of :func:`edge_slot_columns`), padded with the zero-length edge."""
    edges = ring_edges(ring)
    return [v for e in edges + [(0.0,) * 4] * (k - len(edges)) for v in e]


# Widest ring (in edges) that takes the slot test; wider rings take the
# fold. 4 CPUs, 300k points: a 12-edge slot test ran 4.2 s a pass
# (its method past the JIT limit) against 0.4 s for the fold, and
# 8 edges keeps the method near 6 KB.
SLOT_LIMIT = 8


def pip_slots_sql(lon: str, lat: str, slots: str, k: int) -> str:
    """SQL text of the NATIVE even-odd test over ``k`` edge SLOTS: the
    DOUBLE fields (named by :func:`edge_slot_columns`) of the struct
    column ``slots``, filled by :func:`edge_slots` with the closing edge
    in slot 0 — the edge order of src/coords.jl:69-78. The crossing
    count is unrolled into a flat sum of per-edge scalar terms, so it
    compiles inside whole-stage codegen — Spark's higher-order functions
    (the fold below) evaluate interpreted per row. Its size depends on
    ``k``, the widest ring, not on how many polygons there are; the
    generated method grows ~0.6-0.9 KB of bytecode per slot, and
    HotSpot does not JIT-compile a method over 8,000 bytes, so callers
    cap ``k`` at :data:`SLOT_LIMIT`.
    One struct, not 4k columns: a broadcast hash join reads every
    build-side column its condition names before it evaluates the
    condition, while a struct's fields are read where the expression
    reaches them — after the cheaper tests have passed (99 polygons,
    4.2M cell candidates: 0.87 -> 0.63 s a pass on 4 CPUs).
    Shorter rings pad with the zero-length edge (0, 0, 0, 0): its
    straddle test ``(0 > lat) != (0 > lat)`` is always false, so it
    adds 0 like a horizontal edge. Same per-edge term as the fold
    (_crossing_sql) — bit-parity preserved. Column arguments are names.
    """
    lon, lat, slots = map(sql_ident, (lon, lat, slots))
    cols = [f"{slots}.{sql_ident(c)}" for c in edge_slot_columns(k)]
    terms = ["0"] + [
        _crossing_sql(*cols[4 * i:4 * i + 4], lon, lat) for i in range(k)
    ]
    return f"({' + '.join(terms)}) % 2 = 1"


def pip_edges_fold_sql(lon: str, lat: str, edges: str) -> str:
    """SQL text of the even-odd test as an ``aggregate`` fold over the
    edge ARRAY column ``edges`` (struct ax, ay, bx, by per edge) — the
    path for rings too wide for the slot test. Higher-order functions evaluate
    interpreted (no codegen), but the work per row is O(edges of ITS
    polygon) and the expression size is constant in the ring width,
    where the slot test's generated method grows with it. Same per-edge
    term as the slot test (_crossing_sql) — bit-parity preserved.
    Column arguments are names.
    """
    lon, lat, edges = map(sql_ident, (lon, lat, edges))
    step = _crossing_sql("_e.ax", "_e.ay", "_e.bx", "_e.by", lon, lat)
    return f"aggregate({edges}, 0, (_acc, _e) -> _acc + {step}) % 2 = 1"


# ------------------------------------------------------------ cell cover

# Single source of truth for the driver-side cover enumeration budget:
# a cover row costs ~60 B broadcast, so 250k rows ~ 15 MB per polygon.
# Shared by cell_cover, joins.nodes_in_polygons (which pre-tests the
# bbox and routes over-budget polygons to the broadcast cell-RANGE
# join) and tiling.vector_to_raster (which enumerates over-budget
# covers DISTRIBUTEDLY via sequence+explode). Keeping one constant is
# the point: round 3 duplicated the value in joins.py, and a drift
# would have let a continent polygon slip past the guard into the
# driver-side enumeration below.
COVER_BUDGET = 250_000


class CoverBudgetError(ValueError):
    """A polygon's bbox exceeds the driver-side cell enumeration
    budget. Callers must route such polygons to a range representation
    (joins.py's broadcast cell-range join; tiling.py's distributed
    sequence-explode raster) instead of enumerating cells on the
    driver — a world polygon at precision 2 is ~648M cells."""


def cell_bbox_range(
    ring: Ring, precision: int
) -> tuple[int, int, int, int]:
    """(xlo, xhi, ylo, yhi) trunc-cell bounds of the ring's bbox — the
    O(1)-size range marker used instead of an enumerated cover when a
    polygon is over budget. Cells come from ``coord2index``, the
    encode's own trunc(x * 10**p): a division by 10**-p disagrees with
    it (-81.91 / 0.01 truncates to -8190, -81.91 * 100 to -8191), and
    the clamp to this range would then drop the edge's cell."""
    xs = [v[0] for v in ring]
    ys = [v[1] for v in ring]
    return (
        coord2index(min(xs), precision),
        coord2index(max(xs), precision),
        coord2index(min(ys), precision),
        coord2index(max(ys), precision),
    )


def cell_cover(
    ring: Ring, precision: int
) -> tuple[set[tuple[int, int]], set[tuple[int, int]]]:
    """Classify the polygon's bbox cells: (full_cells, boundary_cells).

    BOUNDARY = any cell whose area an edge's bbox touches (conservative
    superset of edge-crossed cells). FULL = untouched bbox cell whose
    center is inside (even-odd is constant across an edge-free cell, so
    the center decides the whole cell).

    Raises :class:`CoverBudgetError` when the bbox exceeds
    :data:`COVER_BUDGET` (read at call time): this function
    enumerates cells into driver-side Python sets, and the pre-round-4
    fallback ("everything is
    boundary" over the bbox) enumerated the very set the budget
    existed to prevent — ~GB of driver heap for a world polygon.
    Callers with big polygons must use :func:`cell_bbox_range` and a
    range-predicate join (joins.py) or distributed enumeration
    (tiling.py) instead.
    """
    step = 10**-precision
    xlo, xhi, ylo, yhi = cell_bbox_range(ring, precision)
    nx, ny = xhi - xlo + 1, yhi - ylo + 1
    if nx * ny > COVER_BUDGET:
        raise CoverBudgetError(
            f"polygon bbox covers {nx}x{ny} = {nx * ny} cells at "
            f"precision {precision}, over the {COVER_BUDGET}-cell budget; "
            "use cell_bbox_range + a range join / distributed "
            "enumeration"
        )

    boundary: set[tuple[int, int]] = set()
    n = len(ring)
    for i in range(n):
        a, b = ring[i - 1], ring[i]
        exlo = coord2index(min(a[0], b[0]), precision)
        exhi = coord2index(max(a[0], b[0]), precision)
        eylo = coord2index(min(a[1], b[1]), precision)
        eyhi = coord2index(max(a[1], b[1]), precision)
        # negative coords: trunc of the continuous span can start one
        # cell late; widen by one on the low side for safety
        for cx in range(exlo - 1, exhi + 1):
            for cy in range(eylo - 1, eyhi + 1):
                boundary.add((cx, cy))

    full: set[tuple[int, int]] = set()
    for cx in range(xlo, xhi + 1):
        for cy in range(ylo, yhi + 1):
            if (cx, cy) in boundary:
                continue
            center = ((cx + 0.5) * step, (cy + 0.5) * step)
            # trunc cells straddle zero; center formula only valid for
            # cx>=0 — for negative cells the cell spans ((cx-?)…); use
            # midpoint of the actual trunc-preimage interval
            if cx < 0:
                center = ((cx - 0.5) * step, center[1])
            if cy < 0:
                center = (center[0], (cy - 0.5) * step)
            if point_in_polygon(center[0], center[1], ring):
                full.add((cx, cy))
    return full, boundary & {
        (cx, cy) for cx in range(xlo, xhi + 1) for cy in range(ylo, yhi + 1)
    }


# ----------------------------------------------------- coordinate math


def with_ecef(df, lon: str = "lon", lat: str = "lat", h=None):
    """Geodetic -> ECEF as native column math (WGS84).

    The reference's ECEF (src/coords.jl:26-46) squares an ``e`` that is
    already the first eccentricity squared (``e = 1 - Rp^2/Re^2``,
    src/coords.jl:32), i.e. it uses e^4 — a known deviation from WGS84
    (SURVEY.md §2.8 C3). We implement standard WGS84 (e2 used once);
    nothing downstream in the reference consumes ECEF, so no fixture
    depends on the buggy constant.
    """
    re_ = 6378137.0
    rp = 6356752.3
    e2 = 1.0 - (rp * rp) / (re_ * re_)
    phi = F.radians(F.col(lat))
    lam = F.radians(F.col(lon))
    hh = F.lit(0.0) if h is None else F.col(h)
    n = F.lit(re_) / F.sqrt(F.lit(1.0) - F.lit(e2) * F.sin(phi) * F.sin(phi))
    return (
        df.withColumn("ecef_x", (n + hh) * F.cos(phi) * F.cos(lam))
        .withColumn("ecef_y", (n + hh) * F.cos(phi) * F.sin(lam))
        .withColumn("ecef_z", ((F.lit(1.0 - e2)) * n + hh) * F.sin(phi))
    )


def with_enu(df, ref_lon: float, ref_lat: float,
             lon: str = "lon", lat: str = "lat", h=None):
    """Geodetic -> local East-North-Up meters at a reference point.

    The reference's ENU is broken twice (SURVEY.md §2.8 C4): the
    rotation matrix repeats -sin(φ)cos(λ) where -sin(φ)sin(λ) belongs
    (src/coords.jl:12) and the 3-arg form pipes a tuple into a
    3-parameter lambda (arity error, src/coords.jl:23); it is also
    unused anywhere downstream. This implements the CORRECT standard
    rotation (documented deviation), as native column math.
    """
    import math as _m

    df = with_ecef(df, lon=lon, lat=lat, h=h)
    # reference point ECEF (python floats — exact literals in-plan)
    re_ = 6378137.0
    rp = 6356752.3
    e2 = 1.0 - (rp * rp) / (re_ * re_)
    phi0 = _m.radians(ref_lat)
    lam0 = _m.radians(ref_lon)
    n0 = re_ / _m.sqrt(1.0 - e2 * _m.sin(phi0) ** 2)
    x0 = n0 * _m.cos(phi0) * _m.cos(lam0)
    y0 = n0 * _m.cos(phi0) * _m.sin(lam0)
    z0 = (1.0 - e2) * n0 * _m.sin(phi0)
    dx = F.col("ecef_x") - F.lit(x0)
    dy = F.col("ecef_y") - F.lit(y0)
    dz = F.col("ecef_z") - F.lit(z0)
    sp, cp = _m.sin(phi0), _m.cos(phi0)
    sl, cl = _m.sin(lam0), _m.cos(lam0)
    return (
        df.withColumn("enu_e", F.lit(-sl) * dx + F.lit(cl) * dy)
        .withColumn(
            "enu_n",
            F.lit(-sp * cl) * dx + F.lit(-sp * sl) * dy + F.lit(cp) * dz,
        )
        .withColumn(
            "enu_u",
            F.lit(cp * cl) * dx + F.lit(cp * sl) * dy + F.lit(sp) * dz,
        )
    )


def shoelace_area2_col(coords, scale: int = 5):
    """Twice the SIGNED shoelace area of a ring, in integer
    10^-``scale``-degree² units (BIGINT): Σ xᵢ·yᵢ₊₁ − xᵢ₊₁·yᵢ plus the
    last→first wrap term (zero automatically when the ring repeats its
    first point, the OSM closed-way convention).

    Integer on purpose: coordinates quantize exactly to 10^-scale, and
    BIGINT sums are order-independent — the area is bit-equal across
    engines and partitionings, where a floating shoelace would depend
    on summation order. Worst case |x·y| ≈ 1.8e7·9e6 ≈ 1.6e14 per term
    — a ring needs >5·10⁴ vertices of worst-case sign agreement to
    approach int64, far past any OSM way. ``coords`` is the
    array<struct<lon,lat>> from way_geometries; all native column ops
    (transform/slice/zip_with/aggregate), no UDF.
    """
    s = F.lit(float(10**scale))
    a = F.transform(
        coords,
        lambda p: F.struct(
            F.round(p["lon"] * s).cast("long").alias("x"),
            F.round(p["lat"] * s).cast("long").alias("y"),
        ),
    )
    n = F.size(a)
    head = F.slice(a, 1, n - 1)
    tail = F.slice(a, 2, n - 1)
    terms = F.zip_with(
        head, tail, lambda p, q: p["x"] * q["y"] - q["x"] * p["y"]
    )
    wrap = (
        F.element_at(a, -1)["x"] * F.element_at(a, 1)["y"]
        - F.element_at(a, 1)["x"] * F.element_at(a, -1)["y"]
    )
    body = F.aggregate(
        terms, F.lit(0).cast("long"), lambda acc, t: acc + t
    )
    # total on purpose: 1- and 2-point "rings" cancel to exactly 0
    # (body and wrap negate), so no NULL branch — NULLs would also
    # push the column to float64 through Arrow/pandas round trips
    return body + wrap

"""Tiling / grid-index operators — the distributed reinterpretation of
the reference's Index build (src/index.jl:26-50).

The reference materializes a dense matrix cell -> node-id list. At
10^12 points a dense matrix is meaningless; the distributed index IS
the (cx, cy) column pair plus physical clustering, and "building the
index" is the tiling aggregation: groupBy(cell) with per-cell stats.

Skew (SURVEY.md §4 custom work #2): ~50% of the synthetic points land
in one Oslo cell at p=2. A single-stage groupBy would send the whole
hot cell to one reducer. ``tile_counts`` therefore pre-aggregates on a
salted key (cell, salt) — map-side partial aggregation already shrinks
each partition to <=S rows per hot cell — then merges the S partials.
Counts/sums are algebraic, so two-stage aggregation is exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_jl_spark.functions.cells import PRECISION, with_cell

SALT_BUCKETS = 16  # salts per cell/tile in the two-stage aggregations


def _salted_count(
    df: DataFrame, keys: list[str], row_hash: Column
) -> DataFrame:
    """(*keys, n_points): stage 1 counts per (keys, salt), the salt
    being ``row_hash`` modulo ``SALT_BUCKETS``, so a hot key spreads
    over that many reducers; stage 2 sums the partial counts per key."""
    salt = F.pmod(row_hash, F.lit(SALT_BUCKETS))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("pn"))
    )
    return partial.groupBy(*keys).agg(F.sum("pn").alias("n_points"))


def tile_counts(points: DataFrame) -> DataFrame:
    """(cx, cy, n_points) of (lon, lat) points at ``PRECISION`` — A1
    (src/index.jl:26-50).

    Two-stage salted aggregation: stage 1 groups on (cx, cy, salt)
    where salt is a deterministic row-hash of the coordinates modulo
    ``SALT_BUCKETS``, stage 2 merges partials per cell. With AQE on,
    the second (tiny) shuffle coalesces automatically.
    """
    return _salted_count(with_cell(points, PRECISION), ["cx", "cy"],
                         F.hash(F.col("lon"), F.col("lat")))


def tile_ids(points: DataFrame) -> DataFrame:
    """(cx, cy, ids ARRAY<...> sorted) of (id, lon, lat) points at
    ``PRECISION`` — the reference's cell->id-list payload, with
    deterministic ordering (sort_array, because collect_list order is
    scheduling-dependent, like the reference's threaded build was —
    SURVEY.md §7.3)."""
    pts = with_cell(points, PRECISION)
    return pts.groupBy("cx", "cy").agg(
        F.sort_array(F.collect_list(F.col("id"))).alias("ids"),
        F.count(F.lit(1)).alias("n_points"),
    )


def tile_rollup(points: DataFrame, precisions: list[int]) -> DataFrame:
    """Multi-resolution rollup of (lon, lat) points: (precision, cx,
    cy, n_points) for each requested precision — the H3/S2-style
    hierarchy (SURVEY.md §2.4).

    SINGLE PASS over the input: each point explodes to one row per
    requested precision (native inline array — no UDF), then one salted
    two-stage aggregation covers every level. A per-level loop would
    re-execute the whole upstream (at the flagship this includes the
    geoparse regex) once per level; exploding trades that for
    len(precisions)x more rows into the map-side partial aggregation,
    which shrinks them to per-(cell,salt) partials before the shuffle —
    strictly cheaper at scale.

    Each level re-encodes from the raw coordinate (trunc cells do not
    nest arithmetically across zero — functions/cells.py docstring), so
    every level is exactly what a single-shot encode at that precision
    would give.
    """
    from osm_jl_spark.functions.cells import cell_coord

    plist = sorted(precisions, reverse=True)
    lvl = points.withColumn(
        "precision", F.explode(F.array(*[F.lit(p) for p in plist]))
    )
    # cell_coord needs a literal precision per expression: encode as a
    # CASE over the (small) precision list, still whole-stage codegen
    cx = None
    cy = None
    for p in plist:
        cond = F.col("precision") == p
        cxe = cell_coord("lon", p)
        cye = cell_coord("lat", p)
        cx = F.when(cond, cxe) if cx is None else cx.when(cond, cxe)
        cy = F.when(cond, cye) if cy is None else cy.when(cond, cye)
    enc = lvl.withColumn("cx", cx).withColumn("cy", cy)
    return _salted_count(enc, ["precision", "cx", "cy"],
                         F.hash(F.col("lon"), F.col("lat")))


def quadkey_rollup(
    points: DataFrame,
    zooms: list[int],
    qk_col: str = "qk",
) -> DataFrame:
    """Multi-zoom rollup over an existing quadkey column:
    (zoom, qk, n_points) for each requested zoom — the web-mercator
    twin of :func:`tile_rollup`, and cheaper, because quadkey parents
    are string PREFIXES (functions/cells.py:quadkey_col): every level
    is ``substr(qk, 1, zoom)``, no re-encode from coordinates.

    Same single-pass salted two-stage shape as tile_rollup: one
    explode per zoom (native array), partial aggregation on
    (zoom, prefix, salt) — the salt (hash of the FULL-zoom quadkey)
    spreads a dense urban parent tile across buckets — then the final
    sum. Two uniform exchanges total; the input (typically a pruned
    store read, sources/store.py:read_points_tile) never shuffles
    before the partial agg.
    """
    lvl = points.withColumn(
        "zoom", F.explode(F.array(*[F.lit(int(z)) for z in zooms]))
    ).select(
        "zoom",
        F.col(qk_col).substr(F.lit(1), F.col("zoom")).alias("tile_qk"),
        F.col(qk_col).alias("_full"),
    )
    return _salted_count(lvl, ["zoom", "tile_qk"], F.xxhash64("_full"))


def raster_to_vector(tiles: DataFrame, threshold: int = 1) -> DataFrame:
    """Raster->vector: tiles with n_points >= threshold become cell
    boxes (cx, cy, min_lon, min_lat, max_lon, max_lat, n_points).

    The box is the trunc-preimage of the cell: for cx>0 the interval
    [cx, cx+1)*step, for cx<0 (cx-1, cx]*step, and cell 0 is DOUBLE
    width, spanning (-step, step) — trunc-toward-zero collapses both
    signs' first cell into index 0 (src/index.jl:17 semantics).
    """
    def lo(c):
        return (
            F.when(F.col(c) > 0, F.col(c))
            .when(F.col(c) == 0, F.lit(-1))
            .otherwise(F.col(c) - 1)
        )

    def hi(c):
        return F.when(F.col(c) >= 0, F.col(c) + 1).otherwise(F.col(c))

    step = F.lit(1.0) / F.pow(F.lit(10.0), F.col("precision"))
    return tiles.filter(F.col("n_points") >= threshold).select(
        "precision",
        "cx",
        "cy",
        (lo("cx") * step).alias("min_lon"),
        (lo("cy") * step).alias("min_lat"),
        (hi("cx") * step).alias("max_lon"),
        (hi("cy") * step).alias("max_lat"),
        "n_points",
    )


def vector_to_raster(
    polygons: dict[int, list[tuple[float, float]]],
    spark,
) -> DataFrame:
    """Vector->raster: polygon -> its cell cover at ``PRECISION``
    as tile rows (polygon_id, cx, cy, coverage) with coverage in
    {'full','boundary'}.

    Polygons whose bbox exceeds the shared ``geo.COVER_BUDGET`` are
    enumerated DISTRIBUTEDLY — one range row per polygon exploded via
    ``sequence()`` on executors (with a tiny repartition of the x-rows
    between the two explodes, so the y-explosion of a continent
    polygon parallelizes instead of landing on one task) — never into
    driver memory. Their cells are all labeled ``boundary``, a
    degraded-but-correct classification: full/boundary refinement of
    millions of cells belongs to a PIP over cell centers, not the cover
    pass.
    """
    from osm_jl_spark.functions.geo import (
        COVER_BUDGET,
        cell_bbox_range,
        cell_cover,
    )

    rows = []
    big = []
    for pid, ring in sorted(polygons.items()):
        if not ring:  # no vertices, no cells
            continue
        xlo, xhi, ylo, yhi = cell_bbox_range(ring, PRECISION)
        if (xhi - xlo + 1) * (yhi - ylo + 1) > COVER_BUDGET:
            big.append((pid, xlo, xhi, ylo, yhi))
            continue
        full, boundary = cell_cover(ring, PRECISION)
        rows += [(pid, cx, cy, "full") for cx, cy in sorted(full)]
        rows += [(pid, cx, cy, "boundary") for cx, cy in sorted(boundary)]
    parts = []
    if rows:
        parts.append(
            spark.createDataFrame(
                rows,
                "polygon_id BIGINT, cx BIGINT, cy BIGINT, coverage STRING",
            )
        )
    if big:
        ranges = spark.createDataFrame(
            big,
            "polygon_id BIGINT, xlo BIGINT, xhi BIGINT, "
            "ylo BIGINT, yhi BIGINT",
        )
        parts.append(
            ranges.select(
                "polygon_id",
                F.explode(F.sequence("xlo", "xhi")).alias("cx"),
                "ylo",
                "yhi",
            )
            # spread the x-rows before the big explode: without this
            # the whole (nx * ny)-row product of one polygon generates
            # inside a single task
            .repartition("polygon_id", "cx")
            .select(
                "polygon_id",
                "cx",
                F.explode(F.sequence("ylo", "yhi")).alias("cy"),
                F.lit("boundary").alias("coverage"),
            )
        )
    if not parts:
        return spark.createDataFrame(
            [], "polygon_id BIGINT, cx BIGINT, cy BIGINT, coverage STRING"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

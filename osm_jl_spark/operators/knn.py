"""kNN join via multi-resolution grid-cell ring expansion (SURVEY.md
§2.3 last row, north rule: "kNN via neighboring-cell ring expansion").

The reference has no kNN; this is the engine's own operator. Semantics:
for each query point, the k nearest data points by squared planar
degree distance, ties broken by (distance, id) — deterministic.

Algorithm: one uniform level step, repeated from the requested
precision down to the world level, each level on the queries the
finer levels left pending (driver-coordinated, data-parallel):

  1. Each pending query cell expands to its 3x3-cell Chebyshev disk
     (radius 1) via a native inline of the nine cells; that set (the
     small side) broadcasts into a hash join against the points on
     (cx, cy). One window partitioned by query_id ranks the
     candidates by (d2, id) and keeps the top k; the per-query
     candidate count and k-th distance ride on the same partitioning
     (no second exchange).
  2. Sound stop rule: any point OUTSIDE the disk differs from the
     query by at least the query's own margin to the disk edge in
     some axis (`_disk_margin2`, from its exact position inside its
     cell), so a query with k candidates at d_k < margin² is
     finished. Finished queries' rows are kept; the rest go to the
     next, 10x coarser level. The split is a DataFrame column on one
     local checkpoint per level — no per-query data reaches the
     driver, only one scalar emptiness probe per level.
  3. The level step is one precision at a time, on purpose: query
     difficulty is density-dependent (a city query finds k neighbors
     in a 110 m disk; an ocean query needs degrees), and every level
     is the same cheap 9-cell disk at its own grid, so each query
     stops at the first grid coarse enough for its neighborhood.
     Skipping levels sends sparse queries straight to the world level,
     where each one scans every point.
  4. The world level (precision -3) ends the descent: there,
     trunc(coord·10⁻³) = 0 for every |coord| <= 180, so the 3x3 disk
     around cell (0, 0) holds every point, and its top k is the answer
     with no stop test. That covers k > n, empty point sets and
     queries far from every point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_jl_spark.functions.cells import with_cell

# the precision whose cell (0, 0) holds every valid coordinate
_WORLD = -3


def _disk_margin2(r, precision: int):
    """Squared degree distance from the query point to the nearest
    coordinate OUTSIDE its Chebyshev cell disk of radius ``r`` — the
    TIGHT per-query stop bound. A point not in the disk differs from
    the query by at least this much in some axis, so a query with k
    candidates at dk < margin² is provably finished.

    Cell c covers v = coord·10^p in [c, c+1) for c > 0, (c-1, c] for
    c < 0, and (-1, 1) for the double-width cell 0 (trunc toward
    zero, src/index.jl:17 semantics) — lo/hi below encode exactly
    that, so the bound is sound for Vitória's negative coordinates
    and across the zero meridian. The margin is never less than
    r·step (the old worst-case constant used (r-1)·step — one whole
    cell too pessimistic, which forced a 25-cell round-1 disk where a
    9-cell disk finishes dense-city queries).

    ``r`` is a Column (or literal int wrapped upstream); expects
    qlon/qlat/qcx/qcy columns in scope.
    """
    p10 = F.lit(float(10 ** precision))
    step = F.lit(10.0 ** (-precision))
    vx, vy = F.col("qlon") * p10, F.col("qlat") * p10

    def lo(c):
        return F.when(c > 0, c).otherwise(c - 1).cast("double")

    def hi(c):
        return F.when(c >= 0, c + 1).otherwise(c).cast("double")

    mx = F.least(vx - lo(F.col("qcx") - r), hi(F.col("qcx") + r) - vx)
    my = F.least(vy - lo(F.col("qcy") - r), hi(F.col("qcy") + r) - vy)
    m = F.least(mx, my) * step
    return m * m


def _expand_level(
    points: DataFrame,
    pending: DataFrame,
    k: int,
    precision: int,
    done_parts: list[DataFrame],
) -> DataFrame:
    """One level step at ``precision`` over the ``pending`` queries
    (query_id, qlon, qlat): appends the finished queries' (query_id,
    id, rank) rows to ``done_parts`` and returns the queries still
    pending (same 3 columns; empty after the world level)."""
    # expressions are SQL text where the Column API would take one JVM
    # round trip per operator: the whole level is rebuilt per precision
    q = with_cell(
        pending, precision, lon="qlon", lat="qlat", cx="qcx", cy="qcy"
    ).withColumn("m2", _disk_margin2(F.lit(1), precision))
    nine = ", ".join(f"named_struct('cx', qcx + {dx}, 'cy', qcy + {dy})"
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    disk = q.selectExpr("query_id", "qlon", "qlat", "m2",
                        f"inline(array({nine}))")
    cand = (
        with_cell(points, precision)
        .join(F.broadcast(disk), ["cx", "cy"])
        .selectExpr("query_id", "qlon", "qlat", "m2", "id",
                    "(lon - qlon) * (lon - qlon)"
                    " + (lat - qlat) * (lat - qlat) AS d2")
    )
    # one sentinel row per query, ranked after every real candidate:
    # a query with no candidate in its disk still leaves a row, so the
    # pending set is read back from this level's checkpoint
    sentinel = q.selectExpr("query_id", "qlon", "qlat", "m2", "NULL AS id",
                            "CAST('Infinity' AS DOUBLE) AS d2")
    # strict < : a point outside the disk can sit exactly ON the margin
    # (cell edges are closed on one side), and the (d2, id) tie-break
    # could prefer it
    fin = "true" if precision <= _WORLD else (
        f"max(rank) OVER (PARTITION BY query_id) = {k}"
        " AND max(d2) OVER (PARTITION BY query_id) < m2")
    top = (
        cand.unionByName(sentinel)
        .selectExpr("*", "row_number() OVER (PARTITION BY query_id"
                         " ORDER BY d2, id) AS rank")
        .filter(f"rank <= {k}")
        .selectExpr("query_id", "qlon", "qlat", "id", "rank",
                    f"{fin} AS fin")
        # the next level reads its pending queries from here, so no
        # plan nests the levels before it (nested level plans once
        # OOMed the driver on the final union's plan string)
        .localCheckpoint()
    )
    done_parts.append(top.filter("fin AND id IS NOT NULL")
                      .select("query_id", "id", "rank"))
    return top.filter("NOT fin AND rank = 1").select(
        "query_id", "qlon", "qlat")


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    precision: int = 2,
) -> DataFrame:
    """kNN join: queries (query_id, qlon, qlat) x points (id, lon, lat)
    -> (query_id, id, rank) with rank 1..k by (distance, id).

    Runs ``_expand_level`` at ``precision``, precision-1, ..., down to
    the world level (-3), stopping as soon as no query is pending.
    Results are exact at every level; the levels only trade candidate
    count against disk size.

    The returned DataFrame is cached (it must survive the unpersist of
    the cached points it was computed from); callers that keep a
    session long-lived can ``.unpersist()`` it when done — it holds
    k rows per query.
    """
    pts = points.select("id", "lon", "lat").cache()
    pending = queries.select("query_id", "qlon", "qlat")
    done_parts: list[DataFrame] = []
    prec = precision
    while True:
        # looked up at call time so a wrapper installed on the module
        # (the traced benchmark counts levels this way) sees every level
        pending = _expand_level(pts, pending, k, prec, done_parts)
        if prec <= _WORLD or pending.isEmpty():
            break
        prec -= 1
    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.unionByName(part)
    # materialize before unpersisting the points the plan depends on
    out = out.cache()
    out.count()
    pts.unpersist()
    return out

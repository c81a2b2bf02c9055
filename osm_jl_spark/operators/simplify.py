"""Polyline simplification (Douglas–Peucker) over way geometries.

The reference hands users ordered way coordinates (src/OSM.jl:131
``waynodes``) and leaves rendering to the caller; every tile-serving
deployment then needs geometry simplification before styling. This is
the one operator in the engine whose inner loop is genuinely
recursive with data-dependent splits — not expressible as a fixed
composition of built-in array functions — so it uses the declared
Arrow/pandas escape hatch (SURVEY §2.9 rule (b), same class as the
multimodal decoders): one vectorized pandas UDF over the assembled
coordinate arrays, one small Python DP per way, zero per-row Python
at the DataFrame level and no shuffle beyond the J1 regroup that
built the geometry.

EXACT integer arithmetic: coordinates are 1e-5-degree integers (the
repo's cell grid unit), and the split test compares
``cross_product² > eps² · segment_len²`` in arbitrary-precision
Python ints — no float epsilon anywhere, so the kept set is
bit-deterministic and the DuckDB oracle can replay the whole
recursion in HUGEINT via a recursive CTE (the same oracle class as
the BFS/shortest-paths queries). Degenerate closed segments
(identical endpoints) fall back to point-distance²  > eps².
Ties on the max deviation split at the LOWEST index, both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dp_keep_indices(xs: list[int], ys: list[int], eps2: int) -> list[int]:
    """0-based indices kept by Douglas-Peucker with the exact integer
    split test. Iterative stack, first-max (lowest-index) ties."""
    n = len(xs)
    if n <= 2:
        return list(range(n))
    kept = {0, n - 1}
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        xi, yi, xj, yj = xs[i], ys[i], xs[j], ys[j]
        dx, dy = xj - xi, yj - yi
        l2 = dx * dx + dy * dy
        best_k, best_d = -1, -1
        for k in range(i + 1, j):
            if l2 == 0:
                ddx, ddy = xs[k] - xi, ys[k] - yi
                d = ddx * ddx + ddy * ddy
            else:
                cr = dx * (ys[k] - yi) - dy * (xs[k] - xi)
                d = cr * cr
            if d > best_d:
                best_d, best_k = d, k
        thresh = eps2 if l2 == 0 else eps2 * l2
        if best_d > thresh:
            kept.add(best_k)
            stack.append((i, best_k))
            stack.append((best_k, j))
    return sorted(kept)


def simplify_ways(geoms: DataFrame, epsilon_u: int) -> DataFrame:
    """(way_id, idx, lon_u, lat_u): the Douglas-Peucker-kept points of
    each way, ``idx`` = 0-based position in the ORIGINAL node order,
    coordinates in exact 1e-5-degree integers. ``epsilon_u`` is the
    deviation tolerance in the same integer unit.

    Input is ``way_geometries`` output (way_id, coords: one row per
    way, pos-ordered coord array) — the UDF sees whole ways, so the
    plan adds NO exchange over the J1 regroup; the Arrow batch carries a few
    thousand ways at a time and each DP is O(n log n) expected on its
    own way only. Guarantee (pinned in tests): every dropped point
    lies within epsilon of the kept chain's covering segment.
    """
    import pandas as pd  # noqa: PLC0415 (worker-side import)

    eps2 = int(epsilon_u) * int(epsilon_u)

    @F.pandas_udf("array<int>")
    def dp_keep(xs, ys):
        return pd.Series(
            [
                _dp_keep_indices(
                    [int(v) for v in x], [int(v) for v in y], eps2
                )
                for x, y in zip(xs, ys)
            ]
        )

    pts = F.col("coords")
    with_u = geoms.select(
        "way_id",
        F.transform(
            pts, lambda c: F.round(c["lon"] * 100000).cast("long")
        ).alias("xs"),
        F.transform(
            pts, lambda c: F.round(c["lat"] * 100000).cast("long")
        ).alias("ys"),
    )
    kept = with_u.withColumn("kept", dp_keep("xs", "ys"))
    return kept.select(
        "way_id",
        F.explode("kept").alias("idx"),
        "xs",
        "ys",
    ).select(
        "way_id",
        F.col("idx").cast("long").alias("idx"),
        F.element_at("xs", F.col("idx") + 1).alias("lon_u"),
        F.element_at("ys", F.col("idx") + 1).alias("lat_u"),
    )

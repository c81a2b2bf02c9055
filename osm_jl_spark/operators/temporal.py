"""Temporal as-of join.

The operator the reference's snapshot model implies but never ships:
align two event streams per key by time ("each page capture joined to
the robots/policy snapshot in force when it was fetched"). Spark has
no native AS OF join (pandas-on-Spark carries ``merge_asof``, but it
plans through an internal union anyway and drags the pandas-index
machinery with it); DuckDB has ``ASOF JOIN`` — which is exactly what
the oracle uses, making the parity check a genuinely independent
implementation.

Plan (the scale story): UNION the two sides tagged, ONE shuffle on the
key, one window sort by (ts, side), and a running
``last(struct(right payload), ignoreNulls)`` — O(n log n) per key
group, never materializing candidate pairs. The naive formulation
(``left JOIN right ON key AND r.ts <= l.ts`` + argmax) builds
|captures|x|snapshots| rows per key before reducing — quadratic in the
recrawl depth, fatal on hot keys at 100 TB. Here a key with a million
events costs exactly a million window rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# interval_join's time bucket: near the typical interval length (the
# registered intervals span 1-36 h), so each explodes into ~2 rows
INTERVAL_BUCKET_SEC = 43_200


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    tolerance: Column | None = None,
) -> DataFrame:
    """For every ``left`` row, attach the payload of the single
    ``right`` row with the nearest ``right_ts`` at-or-before
    (``direction='backward'``) or at-or-after (``'forward'``) the
    row's ``left_ts``, within the same ``on`` key. Left rows with no
    qualifying right row keep NULL payloads (a LEFT as-of join).

    Output: every ``left`` column, then every non-key, non-ts right
    column (names must not collide with left's), then ``asof_ts`` = the
    matched right row's timestamp (NULL when unmatched).

    Semantics pinned by tests/test_temporal.py:

    - "at-or-before" is INCLUSIVE: a right row with ``right_ts ==
      left_ts`` matches (the union sorts the right side first within
      equal timestamps). Same inclusivity mirrored for ``forward``.
    - Several right rows sharing (key, ts): the carried payload is
      whichever the window visits last — callers wanting determinism
      must dedup snapshots first (``snapshot_latest``).
    - ``tolerance`` (a Column castable to the ts type's difference,
      in seconds): matches farther than this from ``left_ts`` are
      nulled out AFTER the scan, DuckDB/pandas ``merge_asof``
      tolerance semantics.

    NULL ``left_ts`` rows carry no snapshot in EITHER direction — they
    surface with NULL payload rather than being dropped (backward:
    Spark's asc NULLS FIRST; forward: explicit desc_nulls_first —
    both place NULL-ts left rows before every right row in the scan).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(direction)
    value_cols = [c for c in right.columns if c not in (on, right_ts)]
    clash = set(value_cols) & set(left.columns)
    if clash or "asof_ts" in left.columns:
        raise ValueError(
            f"asof_join output name collision: {sorted(clash) or 'asof_ts'}"
            " — alias the right payload (or left) columns first"
        )

    payload = F.struct(
        F.col(right_ts).alias("_ts"),
        *[F.col(c) for c in value_cols],
    )
    l_tag = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_left"),
        F.lit(None).cast(
            right.select(payload).schema[0].dataType
        ).alias("_snap"),
    )
    r_tag = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(F.struct(*left.columns)).schema[0].dataType
        ).alias("_left"),
        payload.alias("_snap"),
    )
    # backward: ascending ts, right rows (side 0) before left at equal
    # ts => at-or-before inclusive. forward: descending ts, same side
    # order => at-or-after inclusive.
    if direction == "backward":
        order = [F.col("_t").asc(), F.col("_side").asc()]
    else:
        # nulls FIRST, not last: a NULL-ts left row must precede every
        # right row so it carries nothing (NULL payload) — symmetric
        # with backward's asc-nulls-first; desc_nulls_last would make
        # it inherit the smallest-ts snapshot, a spurious match.
        order = [F.col("_t").desc_nulls_first(), F.col("_side").asc()]
    w = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        l_tag.unionByName(r_tag)
        .withColumn("_c", F.last("_snap", ignorenulls=True).over(w))
        .where(F.col("_side") == 1)
    )
    if tolerance is not None:
        # TIMESTAMP_NTZ refuses a numeric cast (see timeutil.epoch_sec)
        # — go through epoch seconds for timestamp-typed ts columns.
        from pyspark.sql.types import TimestampNTZType, TimestampType

        ts_type = left.select(left_ts).schema[0].dataType
        if isinstance(ts_type, (TimestampType, TimestampNTZType)):
            from osm_jl_spark.functions.timeutil import epoch_sec

            gap = F.abs(
                epoch_sec(F.col("_t")) - epoch_sec(F.col("_c._ts"))
            )
        else:
            gap = F.abs(
                F.col("_t").cast("double") - F.col("_c._ts").cast("double")
            )
        carried = carried.withColumn(
            "_c", F.when(gap <= tolerance, F.col("_c"))
        )
    return carried.select(
        *[F.col(f"_left.{c}").alias(c) for c in left.columns],
        *[F.col(f"_c.{c}").alias(c) for c in value_cols],
        F.col("_c._ts").alias("asof_ts"),
    )


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    ts: str,
    start: str,
    end: str,
) -> DataFrame:
    """Containment join: every (fact, interval) pair with
    ``start <= fact.ts < end`` (half-open; all three columns are epoch
    seconds — see functions/timeutil.epoch_sec). Overlapping intervals
    produce one output row each.

    This is the temporal analogue of the spatial cell-cover join
    (operators/joins.py): the naive range-predicate join plans as a
    nested loop over facts x intervals; instead each interval explodes
    into the coarse time BUCKETS it covers and a fact equi-joins its
    own single bucket, then the exact containment predicate filters.
    A matching pair shares exactly one bucket (the fact's), so no
    post-dedup is needed. Candidate pairs are bounded by interval
    density per bucket, not |intervals|.

    ``INTERVAL_BUCKET_SEC`` trades cover size against candidate
    density. The intervals are a broadcast dimension
    (campaign windows, outage ranges, policy epochs): the fact side
    NEVER shuffles.
    """
    cover = F.broadcast(intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(start) / INTERVAL_BUCKET_SEC),
                # last bucket containing a point of [start, end)
                F.floor((F.col(end) - 1) / INTERVAL_BUCKET_SEC),
            )
        ),
    ))
    f = facts.withColumn("_bkt", F.floor(F.col(ts) / INTERVAL_BUCKET_SEC))
    return (
        f.join(cover, "_bkt")
        .where((F.col(ts) >= F.col(start)) & (F.col(ts) < F.col(end)))
        .drop("_bkt")
    )

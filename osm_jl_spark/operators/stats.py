"""Distribution profiling: exact per-group quantiles at corpus scale.

The classic plan — `percentile_disc(...) WITHIN GROUP` or a
row_number window per group — sorts every row of a group inside one
task, so one hot group (90% of a web corpus is `en`) serializes the
whole job. This module computes EXACT discrete quantiles over the
(group, value) HISTOGRAM instead:

1. groupBy(group, value) count — the only corpus-sized shuffle, on
   uniform composite keys with map-side combine (a hot group spreads
   over its distinct values; hot (group, value) pairs collapse
   map-side to one row per input partition);
2. cumulative sum over the histogram — the window sees
   |distinct values| rows per group (token counts, doc lengths and
   similar metrics have bounded cardinality, ~10^3-10^5), never the
   corpus;
3. rank selection in pure integer arithmetic: the pct-quantile is the
   smallest value whose cumulative count reaches ceil(pct*n/100),
   tested as `100*cum >= pct*n` — no float ceil, so a DuckDB oracle
   replaying the definition matches hash-exactly.

For UNBOUNDED value cardinality (raw doubles), the scale path is
Spark's built-in `percentile_approx` (one pass, fixed-size sketch per
group); tests/test_stats.py pins the approx path inside its accuracy
contract against this exact operator.

The reference has no statistics layer; this extends the engine's
corpus-analysis side (SURVEY.md extension table).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANTILE_ACCURACY = 10_000  # percentile_approx accuracy of the sketch path


def group_quantiles_exact(
    df: DataFrame,
    group_col: str,
    value: Column | str,
    pcts: Sequence[int],
) -> DataFrame:
    """(group, pct, q): exact discrete pct-percentiles of ``value``
    per group — q is the smallest value whose rank reaches
    ceil(pct*n/100) (the percentile_disc definition).

    ``pcts`` are integer percents (25, 50, 90, ...) so every rank
    comparison stays in exact integer arithmetic. ``value`` must be
    integral-valued (token counts, byte lengths, ...); see module
    docstring for the unbounded-cardinality alternative.
    """
    v = F.col(value) if isinstance(value, str) else value
    hist = df.select(F.col(group_col), v.alias("_v")).groupBy(
        group_col, "_v"
    ).agg(F.count(F.lit(1)).alias("_cnt"))
    w = Window.partitionBy(group_col).orderBy("_v")
    cum = hist.withColumn("_cum", F.sum("_cnt").over(w))
    tot = hist.groupBy(group_col).agg(F.sum("_cnt").alias("_n"))
    pct_arr = F.array(*[F.lit(int(p)) for p in pcts])
    # tot is ONE row per group — an explicit broadcast keeps the
    # histogram side unshuffled for the join (it re-shuffles only
    # into the final per-(group, pct) min)
    return (
        cum.join(F.broadcast(tot), group_col)
        .select(group_col, "_v", "_cum", "_n",
                F.explode(pct_arr).alias("pct"))
        # cum >= ceil(pct*n/100)  <=>  100*cum >= pct*n  (integers)
        .where(F.col("_cum") * 100 >= F.col("pct") * F.col("_n"))
        .groupBy(group_col, "pct")
        .agg(F.min("_v").alias("q"))
    )


def group_quantiles_approx(
    df: DataFrame,
    group_col: str,
    value: Column | str,
    pcts: Sequence[int],
) -> DataFrame:
    """(group, pct, q): the one-pass sketch path for unbounded value
    domains — `percentile_approx` with a fixed-size state per group
    (no histogram materialization, rank error <= 1/QUANTILE_ACCURACY
    of n).
    Same output shape as :func:`group_quantiles_exact` so callers can
    swap paths by cardinality.
    """
    v = F.col(value) if isinstance(value, str) else value
    fracs = F.array(*[F.lit(int(p) / 100.0) for p in pcts])
    agg = df.groupBy(group_col).agg(
        F.percentile_approx(v, fracs, F.lit(QUANTILE_ACCURACY)).alias("_qs")
    )
    pct_arr = F.array(*[F.lit(int(p)) for p in pcts])
    pairs = F.arrays_zip(pct_arr, F.col("_qs"))
    ex = agg.select(group_col, F.explode(pairs).alias("_pq"))
    return ex.select(
        group_col,
        F.col("_pq")["0"].alias("pct"),
        F.col("_pq")["_qs"].alias("q"),
    )

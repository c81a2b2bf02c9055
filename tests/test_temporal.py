"""As-of join semantics (operators/temporal.py): inclusivity at equal
timestamps, unmatched-left NULLs, direction, tolerance, and parity
with a brute-force pandas reconstruction on random inputs."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from osm_jl_spark.operators.temporal import asof_join


def _frames(spark):
    caps = spark.createDataFrame(
        [
            ("a", 10, "cap_a10"),
            ("a", 20, "cap_a20"),
            ("a", 5, "cap_a5"),   # before any policy
            ("b", 10, "cap_b10"),  # key with no policy rows at all
        ],
        ["url", "ts", "body"],
    )
    pol = spark.createDataFrame(
        [
            ("a", 10, 100),  # equal-ts row: must match cap_a10
            ("a", 15, 150),
            ("c", 1, 999),   # key absent from left
        ],
        ["url", "pts", "rule"],
    )
    return caps, pol


def test_backward_inclusive_and_unmatched(spark):
    caps, pol = _frames(spark)
    out = asof_join(caps, pol, on="url", left_ts="ts", right_ts="pts")
    got = {(r["url"], r["ts"]): (r["rule"], r["asof_ts"]) for r in out.collect()}
    assert got[("a", 10)] == (100, 10)   # at-or-before is INCLUSIVE
    assert got[("a", 20)] == (150, 15)   # latest preceding, not first
    assert got[("a", 5)] == (None, None)  # precedes every policy
    assert got[("b", 10)] == (None, None)  # key never had a policy
    assert out.count() == 4              # left join: no row lost


def test_forward_direction(spark):
    caps, pol = _frames(spark)
    out = asof_join(
        caps, pol, on="url", left_ts="ts", right_ts="pts",
        direction="forward",
    )
    got = {(r["url"], r["ts"]): (r["rule"], r["asof_ts"]) for r in out.collect()}
    assert got[("a", 10)] == (100, 10)   # at-or-after inclusive
    assert got[("a", 5)] == (100, 10)    # nearest following
    assert got[("a", 20)] == (None, None)  # nothing after
    assert got[("b", 10)] == (None, None)


def test_tolerance_nulls_far_matches(spark):
    caps, pol = _frames(spark)
    out = asof_join(
        caps, pol, on="url", left_ts="ts", right_ts="pts",
        tolerance=F.lit(3),
    )
    got = {(r["url"], r["ts"]): r["rule"] for r in out.collect()}
    assert got[("a", 10)] == 100   # gap 0 <= 3
    assert got[("a", 20)] is None  # gap 5 > 3: nulled, row kept


def test_parity_with_pandas_merge_asof(spark):
    # randomized-by-arithmetic input, checked against pandas merge_asof
    # (an independent implementation of the same contract).
    n_l, n_r = 400, 120
    lrows = [
        ("k%d" % ((i * 7) % 11), (i * 2654435761) % 10_000, i)
        for i in range(n_l)
    ]
    rrows = [
        ("k%d" % ((j * 5) % 11), (j * 40503) % 10_000, j * 10)
        for j in range(n_r)
    ]
    # merge_asof wants unique (key, ts) on the right
    seen = set()
    rrows = [
        r for r in rrows
        if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))
    ]
    left = spark.createDataFrame(lrows, ["k", "ts", "lid"])
    right = spark.createDataFrame(rrows, ["k", "ts2", "val"])
    got = (
        asof_join(left, right, on="k", left_ts="ts", right_ts="ts2")
        .select("k", "ts", "lid", "val", "asof_ts")
        .toPandas()
        .sort_values(["k", "ts", "lid"])
        .reset_index(drop=True)
    )
    lp = pd.DataFrame(lrows, columns=["k", "ts", "lid"]).sort_values("ts")
    rp = pd.DataFrame(rrows, columns=["k", "ts2", "val"]).sort_values("ts2")
    exp = pd.merge_asof(
        lp, rp, left_on="ts", right_on="ts2", by="k",
        direction="backward", allow_exact_matches=True,
    ).rename(columns={"ts2": "asof_ts"})
    exp = exp[["k", "ts", "lid", "val", "asof_ts"]].sort_values(
        ["k", "ts", "lid"]
    ).reset_index(drop=True)
    assert len(got) == len(exp)
    for c in ["k", "ts", "lid"]:
        assert got[c].tolist() == exp[c].tolist()
    for c in ["val", "asof_ts"]:
        g = [None if pd.isna(v) else int(v) for v in got[c]]
        e = [None if pd.isna(v) else int(v) for v in exp[c]]
        assert g == e


def test_asof_name_collision_raises(spark):
    import pytest

    caps, pol = _frames(spark)
    with pytest.raises(ValueError, match="collision"):
        asof_join(
            caps, pol.withColumnRenamed("rule", "body"),
            on="url", left_ts="ts", right_ts="pts",
        )


def test_asof_tolerance_on_ntz_timestamps(spark):
    from pyspark.sql import functions as F

    left = spark.sql(
        "SELECT 'a' AS k, TIMESTAMP_NTZ '2024-01-01 00:00:10' AS ts"
    )
    right = spark.sql(
        "SELECT 'a' AS k, TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts2,"
        " 7 AS val"
    )
    ok = asof_join(left, right, on="k", left_ts="ts", right_ts="ts2",
                   tolerance=F.lit(10)).first()
    assert ok["val"] == 7          # gap 10 <= 10 (NTZ epoch math)
    far = asof_join(left, right, on="k", left_ts="ts", right_ts="ts2",
                    tolerance=F.lit(9)).first()
    assert far["val"] is None      # gap 10 > 9: nulled, row kept


# ---------------------------------------------------------------------
# interval containment join


def _iv(spark):
    import pyspark.sql.functions as F

    return spark.range(25).select(
        F.col("id").alias("interval_id"),
        (F.col("id") * 700).alias("start_s"),
        (
            F.col("id") * 700 + 100 + ((F.col("id") * 2654435761) % 2000)
        ).alias("end_s"),
    )


def _facts(spark, n=3000):
    import pyspark.sql.functions as F

    return spark.range(n).select(
        F.col("id").alias("event_id"),
        ((F.col("id") * 48271) % 20000).alias("ts_s"),
    )


def test_interval_join_equals_naive_range_join(spark, monkeypatch):
    from osm_jl_spark.operators import temporal as T
    from osm_jl_spark.operators.temporal import interval_join

    monkeypatch.setattr(T, "INTERVAL_BUCKET_SEC", 500)
    facts, iv = _facts(spark), _iv(spark)
    got = {
        (r["event_id"], r["interval_id"])
        for r in interval_join(
            facts, iv, "ts_s", "start_s", "end_s"
        ).collect()
    }
    naive = {
        (r["event_id"], r["interval_id"])
        for r in facts.crossJoin(iv)
        .where("ts_s >= start_s AND ts_s < end_s")
        .collect()
    }
    assert got == naive and len(got) > 100
    # no duplicate pairs: each match shares exactly one bucket
    rows = interval_join(facts, iv, "ts_s", "start_s", "end_s").count()
    assert rows == len(got)


def test_interval_join_half_open_boundaries(spark, monkeypatch):
    from osm_jl_spark.operators import temporal as T
    from osm_jl_spark.operators.temporal import interval_join

    monkeypatch.setattr(T, "INTERVAL_BUCKET_SEC", 64)
    facts = spark.createDataFrame(
        [(1, 100), (2, 199), (3, 200), (4, 99)],
        "event_id LONG, ts_s LONG",
    )
    iv = spark.createDataFrame(
        [(7, 100, 200)], "interval_id LONG, start_s LONG, end_s LONG"
    )
    got = {
        r["event_id"]
        for r in interval_join(
            facts, iv, "ts_s", "start_s", "end_s"
        ).collect()
    }
    assert got == {1, 2}  # start inclusive, end exclusive


def test_interval_join_bucket_size_invariant(spark, monkeypatch):
    from osm_jl_spark.operators import temporal as T
    from osm_jl_spark.operators.temporal import interval_join

    facts, iv = _facts(spark, 800), _iv(spark)
    ref = None
    for b in (64, 500, 7919, 100_000):
        monkeypatch.setattr(T, "INTERVAL_BUCKET_SEC", b)
        got = sorted(
            (r["event_id"], r["interval_id"])
            for r in interval_join(
                facts, iv, "ts_s", "start_s", "end_s"
            ).collect()
        )
        if ref is None:
            ref = got
        assert got == ref, b


def test_interval_join_fact_side_never_shuffles(spark, tmp_path):
    from osm_jl_spark.operators.temporal import interval_join
    from osm_jl_spark.plans.digest import digest

    path = str(tmp_path / "facts.parquet")
    _facts(spark).write.parquet(path)
    facts = spark.read.parquet(path)
    d = digest(
        interval_join(facts, _iv(spark), "ts_s", "start_s", "end_s")
    )
    # broadcast dimension: zero shuffle exchanges anywhere; the only
    # exchange is the BroadcastExchange of the exploded cover
    assert d.exchanges == 0, d.plan
    assert "BroadcastExchange" in d.plan
    assert "NestedLoop" not in d.plan, d.plan


def test_forward_null_left_ts_carries_nothing(spark):
    """A NULL-ts capture must get a NULL payload in forward mode too
    (desc_nulls_first): with nulls sorted last it would spuriously
    inherit the smallest-ts snapshot."""
    caps = spark.createDataFrame(
        [("a", None), ("a", 5)], "url STRING, ts BIGINT"
    )
    pol = spark.createDataFrame(
        [("a", 10, 100)], "url STRING, pts BIGINT, rule BIGINT"
    )
    out = asof_join(
        caps, pol, on="url", left_ts="ts", right_ts="pts",
        direction="forward",
    )
    got = {r["ts"]: (r["rule"], r["asof_ts"]) for r in out.collect()}
    assert got[None] == (None, None)
    assert got[5] == (100, 10)

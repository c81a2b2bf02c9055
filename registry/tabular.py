"""Relational queries on the driver's TPC-H and ``events`` tables:
filter-aggregate, joins, grouping sets and window functions."""

from __future__ import annotations

from pyspark.sql import functions as F

from registry.common import _epoch_sec, _pq, query


def _cents(col):
    return F.round(col * 100).cast("long")


# TPC-H Q1 groups (kind 'q1') and the Q6 filter->agg row (kind 'q6')
@query("tpch_q1", """SELECT 'q1' AS kind, l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS sum_qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_c,
       NULL::BIGINT AS revenue_c, count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus
UNION ALL
SELECT 'q6', NULL, NULL, NULL, NULL,
       CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
            AS BIGINT),
       count(*)
FROM lineitem
WHERE epoch(l_shipdate) >= 820454400 AND epoch(l_shipdate) < 883612800
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""")
def tpch_q1_q(spark, sf_dir):
    li = _pq(spark, sf_dir, "lineitem")
    q1 = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_c"),
        F.sum(_cents(F.col("l_extendedprice"))).alias("sum_price_c"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    # Q6: every predicate is a native comparison that Catalyst pushes
    # into the parquet scan. Ship-date bounds compare epoch seconds
    # (tz-independent in both engines): 1996-01-01/1998-01-01 UTC.
    sec = _epoch_sec("l_shipdate")
    q6 = li.filter(
        (sec >= 820454400)
        & (sec < 883612800)
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    ).agg(
        F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount")))
        .alias("revenue_c"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return q1.select(F.lit("q1").alias("kind"), "*").unionByName(
        q6.select(F.lit("q6").alias("kind"), "*"), allowMissingColumns=True
    )


@query("tpch_q3", """SELECT l_orderkey,
       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_c,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue_c DESC, l_orderkey ASC
LIMIT 10""")
def tpch_q3_q(spark, sf_dir):
    # 3-way join + agg + deterministic top-10 (TPC-H Q3 shape).
    # customer is a broadcast dimension; orders<->lineitem is the
    # shuffle join AQE plans (sort-merge or shuffled-hash by stats).
    c = _pq(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _pq(spark, sf_dir, "orders")
    li = _pq(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_c"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue_c").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query("tpch_q5", """SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_c,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND epoch(o_orderdate) >= 820454400
  AND epoch(o_orderdate) < 852076800
GROUP BY n_name""")
def tpch_q5_q(spark, sf_dir):
    # 6-table join (TPC-H Q5 shape): local-supplier volume per
    # nation. region/nation/supplier are explicit broadcast
    # dimensions; lineitem<->orders and the customer join (a fact
    # table at TPC-H scale: ~15M rows/SF) shuffle under AQE. The
    # c_nationkey = s_nationkey equi-condition rides the broadcast
    # supplier join, so no extra exchange appears for it.
    c = _pq(spark, sf_dir, "customer")
    o = _pq(spark, sf_dir, "orders")
    li = _pq(spark, sf_dir, "lineitem")
    s = _pq(spark, sf_dir, "supplier")
    n = _pq(spark, sf_dir, "nation")
    r = _pq(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sec = _epoch_sec("o_orderdate")
    o = o.filter((sec >= 820454400) & (sec < 852076800))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(n),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_c"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# Grouping-sets rollup (kind 'rollup'; SURVEY §2.4: absent in the
# reference, free in Spark): (status, priority) -> status -> grand
# total, one pass, map-side partial aggregation per grouping set.
# Kind 'segment': orders per customer segment, customer broadcast.
@query("orders_rollup", """SELECT 'rollup' AS kind,
       NULL::VARCHAR AS c_mktsegment,
       COALESCE(o_orderstatus, '(all)') AS status,
       COALESCE(o_orderpriority, '(all)') AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_c
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'segment', c_mktsegment, NULL, NULL, count(*),
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment""")
def orders_rollup_q(spark, sf_dir):
    o = _pq(spark, sf_dir, "orders")
    c = _pq(spark, sf_dir, "customer")
    sums = (F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("revenue_c"))
    rollup = o.rollup("o_orderstatus", "o_orderpriority").agg(*sums).select(
        F.lit("rollup").alias("kind"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
        "n_orders",
        "revenue_c",
    )
    segment = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(*sums)
        .select(F.lit("segment").alias("kind"), "*")
    )
    return rollup.unionByName(segment, allowMissingColumns=True)


@query("events_top3", """WITH r AS (
  SELECT user_id, event_id,
         row_number() OVER (
           PARTITION BY user_id ORDER BY value DESC, event_id
         ) AS rn
  FROM events
)
SELECT user_id, event_id, rn FROM r WHERE rn <= 3""")
def events_top3_q(spark, sf_dir):
    from pyspark.sql import Window

    ev = _pq(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


@query("events_sessionize", """WITH s AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(floor(epoch(ts)) AS BIGINT) - lag(
           CAST(floor(epoch(ts)) AS BIGINT)
         ) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
n AS (
  SELECT user_id, event_id, ts, sec,
         CASE WHEN gap IS NULL OR gap > 21600 THEN 1 ELSE 0 END AS new_sess
  FROM s
),
sess AS (
  SELECT user_id, sec,
         CAST(sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS BIGINT) AS session_id
  FROM n
)
SELECT user_id, session_id, count(*) AS n_events,
       min(sec) AS start_epoch, max(sec) AS end_epoch
FROM sess GROUP BY user_id, session_id""")
def events_sessionize_q(spark, sf_dir):
    # Analytic-window sessionization: lag gap -> session boundary
    # flag -> running sum = session id -> per-session aggregates.
    # Both window ops share one (user_id, ts) spec => ONE shuffle.
    from pyspark.sql import Window

    ev = _pq(spark, sf_dir, "events")
    sec = _epoch_sec("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = sec - F.lag(sec).over(w)
    return (
        ev.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 21600), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .withColumn("session_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(sec).alias("start_epoch"),
            F.max(sec).alias("end_epoch"),
        )
    )

"""TPC-H-shaped queries over lineitem/orders/customer/part."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.registry._common import _D


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


# flagship (entry): TPC-H Q1-shaped pricing summary — scan → filter →
# partial agg → final agg; fully codegen'd, no Python in the hot path.
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _lineitem(spark, sf_dir)
    dec = lambda c: F.col(c).cast(_D)  # noqa: E731
    disc_price = dec("l_extendedprice") * (F.lit(1).cast(_D) - dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(_D) + dec("l_tax"))
    g = (
        li.filter(F.col("l_shipdate") <= F.lit(dt.datetime(1998, 9, 1)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: broadcast the small dims (customer), shuffle
    only lineitem on the join key; top-10 via TakeOrderedAndProject."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit(dt.datetime(2000, 1, 1))
    )
    li = _lineitem(spark, sf_dir)
    revenue = (
        F.col("l_extendedprice").cast(_D)
        * (F.lit(1).cast(_D) - F.col("l_discount").cast(_D))
    )
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


TOP_REVENUE_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '2000-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue by nation where customer and supplier
    share the nation. Every dimension (region→nation→customer,
    supplier) broadcasts down the chain; only lineitem shuffles, once,
    for the final aggregation."""
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    region = rd("region").filter(F.col("r_name") == "ASIA")
    nation = rd("nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = rd("customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    orders = rd("orders").filter(
        (F.col("o_orderdate") >= F.lit(dt.datetime(1995, 1, 1)))
        & (F.col("o_orderdate") < F.lit(dt.datetime(1999, 1, 1)))
    )
    co = orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    supp = rd("supplier")
    li = _lineitem(spark, sf_dir)
    revenue = (
        F.col("l_extendedprice").cast(_D)
        * (F.lit(1).cast(_D) - F.col("l_discount").cast(_D))
    )
    return (
        li.join(F.broadcast(co), li.l_orderkey == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


REGIONAL_REVENUE_SQL = """
SELECT n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: PROMO revenue share per month — broadcast the
    part dim, conditional aggregation over lineitem, one shuffle."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    li = _lineitem(spark, sf_dir)
    rev = (
        F.col("l_extendedprice").cast(_D)
        * (F.lit(1).cast(_D) - F.col("l_discount").cast(_D))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(_D)))
            .alias("_promo_d"),
            F.sum(rev).alias("_total_d"),
        )
        # share as exact-integer basis points: the DECIMAL(18,4) sums
        # ×10^4 are exact integers, and bps = promo_c*10^4 div total_c
        # is pure int64 arithmetic — the previous round(double/double,6)
        # was the representation-tie pattern PERF_NOTES bans (headroom:
        # promo cents ×10^4 overflows int64 only past ~10^14 in revenue)
        .select(
            "month",
            F.col("_promo_d").cast("double").alias("promo_revenue"),
            F.col("_total_d").cast("double").alias("total_revenue"),
            F.expr(
                "CAST(CAST(_promo_d * 10000 AS BIGINT) * 10000 "
                "div CAST(_total_d * 10000 AS BIGINT) AS BIGINT)"
            ).alias("promo_bps"),
        )
    )


PROMO_REVENUE_SQL = """
WITH g AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
    sum(CASE WHEN p_type = 'PROMO'
         THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
         ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo_d,
    sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_d
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1)
SELECT month,
  CAST(promo_d AS DOUBLE) AS promo_revenue,
  CAST(total_d AS DOUBLE) AS total_revenue,
  CAST(CAST(promo_d * 10000 AS BIGINT) * 10000
       // CAST(total_d * 10000 AS BIGINT) AS BIGINT) AS promo_bps
FROM g
"""


def q_top_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: top-3 parts per supplier by revenue via a
    window rank — the distributed per-key heap (one shuffle on
    suppkey), not a global sort."""
    from pyspark.sql.window import Window

    li = _lineitem(spark, sf_dir)
    rev = (
        F.col("l_extendedprice").cast(_D)
        * (F.lit(1).cast(_D) - F.col("l_discount").cast(_D))
    )
    # one exchange instead of two (r11, guide §2.4): hash-partitioning
    # by l_suppkey satisfies BOTH the (suppkey, partkey) aggregation's
    # clustering requirement (subset rule) and the window's
    # partitionBy(suppkey) — the old shape shuffled once for the agg
    # and again for the window. (suppkey, partkey) pairs barely repeat
    # in lineitem, so the lost map-side combine shuffles ~the same
    # bytes the aggregated exchange did.
    per_part = (
        li.select("l_suppkey", "l_partkey", rev.alias("_rev"))
        .repartition("l_suppkey")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("_rev").cast("double").alias("revenue"))
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("revenue").desc(), F.col("l_partkey").asc()
    )
    return (
        per_part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("l_suppkey", "l_partkey", "revenue", "rk")
    )


TOP_PARTS_SQL = """
WITH per_part AS (
  SELECT l_suppkey, l_partkey,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY l_suppkey, l_partkey)
SELECT l_suppkey, l_partkey, revenue, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY revenue DESC, l_partkey ASC) AS INT) AS rk
  FROM per_part) WHERE rk <= 3
"""

"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 (+ the north-star extensions); ``oracle_sql()`` holds the
DuckDB twin of each. Operator docs live in pond_spark/ — each query
here names the SURVEY §2 id it exercises.

Numeric-determinism convention: aggregates over double columns go
through DECIMAL(18,4) so summation is exact and engine-independent,
then cast to double at the end; averages divide the exact sums.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import sys
from collections.abc import Callable

# self-locate: the driver may import this file from any cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.filters import FilterSpec
from pond_spark.functions.anonymize import anonymize_ip, anonymize_ip_sql
from pond_spark.functions.sanitize import sanitize_site, sanitize_site_sql
from pond_spark.functions.geoip import geoip_country
from pond_spark.operators.accumulate import accumulate_more, accumulate_top, age_only
from pond_spark.operators.sessionize import track_visitors
from pond_spark.query import Query
from pond_spark.schema import events_as_logs
from pond_spark.util import fan_out as _fan

# ---------------------------------------------------------------------------
# shared pieces

#: events → pond log schema (see pond_spark.schema.events_as_logs)
LOGS_CTE = (
    'logs AS (SELECT event_id AS id, ts AS "timestamp", event_type AS site, '
    "CAST(user_id AS VARCHAR) AS remote_host, value, props AS message FROM events)"
)

SINCE = dt.datetime(2024, 1, 5)
UNTIL = dt.datetime(2024, 1, 12)
AGE_NOW = dt.datetime(2024, 12, 31)

_D = "decimal(18,4)"


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


# ---------------------------------------------------------------------------
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


# ---------------------------------------------------------------------------
# pond operator surface on the events log stand-in


def q_scan_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1+Q4+F1+F5: filtered scan, canonical (timestamp, id) order,
    WINDOW max@skip pagination."""
    logs = events_as_logs(spark, sf_dir)
    spec = FilterSpec(
        sites=frozenset({"click", "view"}), since=SINCE, until=UNTIL
    )
    return Query(logs).filter(spec).window(max=100, skip=20).to_df()


SCAN_WINDOW_SQL = f"""
WITH {LOGS_CTE}
SELECT * FROM logs
WHERE coalesce(site, '') IN ('click', 'view')
  AND "timestamp" >= TIMESTAMP '{SINCE}' AND "timestamp" <= TIMESTAMP '{UNTIL}'
ORDER BY "timestamp", id
LIMIT 100 OFFSET 20
"""


def q_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: LAST — most recent match via reverse seek
    (TakeOrderedAndProject(1))."""
    logs = events_as_logs(spark, sf_dir)
    return Query(logs).filter(FilterSpec(sites=frozenset({"purchase"}))).last().to_df()


LAST_SQL = f"""
WITH {LOGS_CTE}
SELECT * FROM logs WHERE coalesce(site, '') IN ('purchase')
ORDER BY "timestamp" DESC NULLS LAST, id DESC LIMIT 1
"""


def q_group_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: GROUP_SITE 2@1 — site-clustered output, sites in
    first-appearance order, pagination over non-empty sites."""
    logs = events_as_logs(spark, sf_dir)
    return Query(logs).group_site(max=2, skip=1).to_df()


GROUP_SITE_SQL = f"""
WITH {LOGS_CTE},
fs AS (SELECT site, min(id) AS first_id FROM logs WHERE site IS NOT NULL GROUP BY site),
ranked AS (SELECT site, row_number() OVER (ORDER BY first_id) AS r FROM fs)
SELECT l.* FROM logs l JOIN ranked USING (site) WHERE r > 1 AND r <= 3
"""


def q_accumulate_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: --accumulate=remote_host,top,10."""
    logs = events_as_logs(spark, sf_dir)
    return accumulate_top(logs, "remote_host", 10)


ACCUMULATE_TOP_SQL = f"""
WITH {LOGS_CTE}
SELECT count(*) AS count, remote_host AS value FROM logs
WHERE remote_host IS NOT NULL GROUP BY remote_host
ORDER BY count DESC, value ASC LIMIT 10
"""


def q_accumulate_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: --accumulate=site,more,100 (HAVING count >= N)."""
    logs = events_as_logs(spark, sf_dir)
    return accumulate_more(logs, "site", 100)


ACCUMULATE_MORE_SQL = f"""
WITH {LOGS_CTE}
SELECT count(*) AS count, site AS value FROM logs
WHERE site IS NOT NULL GROUP BY site HAVING count(*) >= 100
"""


def q_age_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: --age-only (whole-second ages against a pinned 'now')."""
    logs = events_as_logs(spark, sf_dir)
    return age_only(logs, F.lit(AGE_NOW))


AGE_ONLY_SQL = f"""
WITH {LOGS_CTE}
SELECT CAST(floor(epoch(TIMESTAMP '{AGE_NOW}')) AS BIGINT)
     - CAST(floor(epoch("timestamp")) AS BIGINT) AS age_s
FROM logs WHERE "timestamp" IS NOT NULL
"""


def q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/A4: STATS with full counter parity (src/Protocol.hxx:240-264,
    src/Instance.cxx:51-62) — runs the S1 ingest pipeline (parse →
    malformed count → per-site token bucket → store) over a
    deterministic raw-datagram frame synthesized from events, then
    emits one row: n_records + memory_usage over the stored rows plus
    n_received / n_malformed / n_discarded counters.

    The token bucket is SQL-oracle-able by construction: every charged
    record (http_error with a site — Database.cxx:106-149) carries the
    SAME timestamp, so the bucket never refills and accepts exactly
    burst = 10·rate = 5 messages per site in id order. Every aggregate
    is a one-row frame; the final result is their cross join — fully
    lazy, no driver-side actions."""
    from pond_spark.sources.ingest import parse_datagrams, rate_limit

    rid = F.col("id")
    msg_ts = F.lit(dt.datetime(2024, 1, 1))
    logs = events_as_logs(spark, sf_dir).select(
        "id",
        F.when(rid % 7 == 0, msg_ts).otherwise(F.col("timestamp")).alias("timestamp"),
        "site",
        "remote_host",
        "message",
        F.when(rid % 7 == 0, F.lit("http_error"))
        .otherwise(F.lit("http_access"))
        .alias("type"),
    )
    payload = F.when(rid % 31 == 0, F.lit('{"broken')).otherwise(
        F.to_json(
            F.struct("id", "timestamp", "site", "remote_host", "message", "type")
        )
    )
    # persist: the parse feeds two aggregation branches (Spark has no
    # cross-branch CSE — without it the scan+JSON parse runs twice).
    # Lifecycle: the pin lives until the session drops it — loop
    # drivers (bench.py, oracle_check) clearCache between queries, the
    # same documented contract as the minhash/LSH pins.
    parsed = parse_datagrams(logs.select(payload.alias("payload"))).persist()
    recv = parsed.agg(
        F.count(F.lit(1)).alias("n_received"),
        F.sum(F.col("_malformed").cast("long")).alias("n_malformed"),
    )
    good = parsed.filter(~F.col("_malformed")).select("_rec.*")
    flagged = rate_limit(good, rate=0.5)  # burst = 5
    # single pass over the flagged frame: discard counter + the stored-
    # row aggregates (conditional on the flag) in one aggregation
    kept = ~F.col("_discarded")
    row_bytes = (
        F.coalesce(F.length("site").cast("long"), F.lit(0))
        + F.coalesce(F.length("remote_host").cast("long"), F.lit(0))
        + F.coalesce(F.length("message").cast("long"), F.lit(0))
    )
    body = flagged.agg(
        F.sum(kept.cast("long")).alias("n_records"),
        F.sum(F.when(kept, row_bytes).otherwise(F.lit(0))).alias("memory_usage"),
        F.sum(F.col("_discarded").cast("long")).alias("n_discarded"),
    )
    return body.crossJoin(recv).select(
        "n_records", "memory_usage", "n_received", "n_malformed", "n_discarded"
    )


STATS_SQL = f"""
WITH {LOGS_CTE},
enr AS (
  SELECT id, site, remote_host, message,
         CASE WHEN id % 7 = 0 THEN TIMESTAMP '2024-01-01' ELSE "timestamp" END AS ts,
         CASE WHEN id % 7 = 0 THEN 'http_error' ELSE 'http_access' END AS type,
         (id % 31 = 0) AS malformed
  FROM logs),
good AS (SELECT * FROM enr WHERE NOT malformed),
charged AS (
  SELECT id, row_number() OVER (PARTITION BY site ORDER BY ts, id) AS rn
  FROM good WHERE type = 'http_error' AND site IS NOT NULL),
disc AS (SELECT id FROM charged WHERE rn > 5),
stored AS (SELECT g.* FROM good g LEFT JOIN disc d USING (id) WHERE d.id IS NULL)
SELECT
  (SELECT count(*) FROM stored) AS n_records,
  (SELECT CAST(sum(coalesce(len(site),0) + coalesce(len(remote_host),0)
       + coalesce(len(message),0)) AS BIGINT) FROM stored) AS memory_usage,
  (SELECT count(*) FROM enr) AS n_received,
  (SELECT count(*) FILTER (WHERE malformed) FROM enr) AS n_malformed,
  (SELECT count(*) FROM disc) AS n_discarded
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: --track-visitors — 30-min-idle sessionization, readable
    host/ordinal ids (the observable grouping; opaque ids are a
    display detail). Participation rule (ResultWriter.cxx:292-301):
    only http_access records with host+timestamp are tracked; the
    fixture NULLs some hosts/timestamps and marks some rows
    http_error to exercise the NULL-visitor_id path."""
    rid = F.col("id")
    logs = (
        events_as_logs(spark, sf_dir)
        .withColumn(
            "type",
            F.when(rid % 7 == 0, F.lit("http_error")).otherwise(
                F.lit("http_access")
            ),
        )
        .withColumn(
            "remote_host",
            F.when(rid % 13 == 0, F.lit(None).cast("string")).otherwise(
                F.col("remote_host")
            ),
        )
        .withColumn(
            "timestamp",
            F.when(rid % 17 == 0, F.lit(None).cast("timestamp")).otherwise(
                F.col("timestamp")
            ),
        )
    )
    return track_visitors(logs, opaque=False).select("id", "visitor_id")


SESSIONIZE_SQL = f"""
WITH {LOGS_CTE},
enr AS (
  SELECT id,
         CASE WHEN id % 13 = 0 THEN NULL ELSE remote_host END AS remote_host,
         CASE WHEN id % 17 = 0 THEN NULL ELSE "timestamp" END AS ts,
         CASE WHEN id % 7 = 0 THEN 'http_error' ELSE 'http_access' END AS type
  FROM logs),
part AS (
  SELECT id, remote_host, ts FROM enr
  WHERE type = 'http_access' AND remote_host IS NOT NULL AND ts IS NOT NULL),
base AS (
  SELECT id, remote_host, ts,
         epoch_us(ts)
           - lag(epoch_us(ts)) OVER (PARTITION BY remote_host
               ORDER BY ts, id) AS gap_us
  FROM part),
marked AS (
  SELECT id, remote_host, ts,
         CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM base),
sess AS (
  SELECT id, remote_host,
         sum(brk) OVER (PARTITION BY remote_host ORDER BY ts, id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ordinal
  FROM marked),
vids AS (
  SELECT id, remote_host || '/' || CAST(ordinal AS BIGINT) AS visitor_id FROM sess)
SELECT e.id, v.visitor_id FROM enr e LEFT JOIN vids v USING (id)
"""

# synthesized client IPs (the events table has no IP column): v4 for most
# rows, v6 every 10th — deterministic arithmetic over (id, remote_host).
_IP_SQL = (
    "CASE WHEN id % 10 = 0 THEN '2001:db8:' || CAST(id % 9 AS VARCHAR) || '::1' "
    "ELSE '10.' || CAST(CAST(remote_host AS BIGINT) % 250 AS VARCHAR) || '.' "
    "|| CAST(id % 250 AS VARCHAR) || '.' || CAST(id % 97 + 1 AS VARCHAR) END"
)


def _with_ip(logs: DataFrame) -> DataFrame:
    rid = F.col("id")
    v4 = F.concat_ws(
        ".",
        F.lit("10"),
        (F.col("remote_host").cast("long") % 250).cast("string"),
        (rid % 250).cast("string"),
        (rid % 97 + 1).cast("string"),
    )
    v6 = F.concat(F.lit("2001:db8:"), (rid % 9).cast("string"), F.lit("::1"))
    return logs.withColumn("ip", F.when(rid % 10 == 0, v6).otherwise(v4))


def q_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: --anonymize — zero the IPv4 tail / truncate the IPv6 tail."""
    logs = _with_ip(events_as_logs(spark, sf_dir))
    return logs.select("id", "ip", anonymize_ip(F.col("ip")).alias("ip_anon"))


ANONYMIZE_SQL = f"""
WITH {LOGS_CTE},
withip AS (SELECT id, {_IP_SQL} AS ip FROM logs)
SELECT id, ip, {anonymize_ip_sql("ip")} AS ip_anon FROM withip
"""


def q_sanitize_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: site-name sanitization for the per-site sink."""
    logs = events_as_logs(spark, sf_dir)
    return logs.select(
        "id", sanitize_site(F.col("message")).alias("site_sanitized")
    )


SANITIZE_SQL = f"""
WITH {LOGS_CTE}
SELECT id, {sanitize_site_sql("message")} AS site_sanitized FROM logs
"""


def q_geoip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: --geoip — broadcast range join against an ip-range dim."""
    logs = _with_ip(events_as_logs(spark, sf_dir))
    geo = logs.sparkSession.createDataFrame(
        [
            (167772160, 167797759, "DE"),   # 10.0.0.0 - 10.0.99.255
            (167797760, 167810559, "FR"),   # 10.0.100.0 - 10.0.149.255
            (167823360, 173015039, "US"),   # 10.0.200.0 - 10.79.255.255
        ],
        "ip_start BIGINT, ip_end BIGINT, country STRING",
    )
    out = geoip_country(logs, geo, host_col="ip")
    return out.select("id", "ip", "country")


GEOIP_SQL = f"""
WITH {LOGS_CTE},
withip AS (SELECT id, {_IP_SQL} AS ip FROM logs),
geo(ip_start, ip_end, country) AS (VALUES
  (167772160, 167797759, 'DE'), (167797760, 167810559, 'FR'),
  (167823360, 173015039, 'US')),
probed AS (
  SELECT id, ip,
    CASE WHEN regexp_matches(ip, '^\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}$')
      THEN CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
         + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
         + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
         + CAST(string_split(ip, '.')[4] AS BIGINT)
      ELSE NULL END AS ipnum
  FROM withip)
SELECT p.id, p.ip, coalesce(g.country, '-') AS country
FROM probed p LEFT JOIN geo g ON p.ipnum >= g.ip_start AND p.ipnum <= g.ip_end
"""


def q_resolve_forwarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: --resolve-forwarded-to — broadcast lookup join rewriting the
    backend address to its name; unmatched addresses keep the raw
    value (ResultWriter.cxx:246-257 fallback)."""
    from pond_spark.functions.geoip import resolve_forwarded_to

    logs = events_as_logs(spark, sf_dir).withColumn(
        "forwarded_to",
        F.concat(F.lit("192.168.0."), (F.col("id") % 5).cast("string")),
    )
    hostnames = spark.createDataFrame(
        [
            ("192.168.0.0", "backend-a"),
            ("192.168.0.1", "backend-b"),
            ("192.168.0.2", "backend-c"),
        ],
        "address string, name string",
    )
    return resolve_forwarded_to(logs, hostnames).select("id", "forwarded_to")


RESOLVE_FORWARDED_SQL = f"""
WITH {LOGS_CTE},
wf AS (SELECT id, '192.168.0.' || CAST(id % 5 AS VARCHAR) AS forwarded_to FROM logs),
hostnames(address, name) AS (VALUES
  ('192.168.0.0', 'backend-a'), ('192.168.0.1', 'backend-b'),
  ('192.168.0.2', 'backend-c'))
SELECT w.id, coalesce(h.name, w.forwarded_to) AS forwarded_to
FROM wf w LEFT JOIN hostnames h ON w.forwarded_to = h.address
"""


def q_format_one_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: the one-line CLF formatter (show_host + iso8601 toggles)
    over a synthesized http-access view of the log fixture — pure
    concat/date_format expressions, whole-stage-codegen'd."""
    from pond_spark.functions.format import OneLineOptions, one_line

    rid = F.col("id")
    logs = (
        events_as_logs(spark, sf_dir)
        .withColumn(
            "http_method",
            F.element_at(
                F.array(F.lit("GET"), F.lit("POST"), F.lit("HEAD"), F.lit("PUT")),
                (rid % 4 + 1).cast("int"),
            ),
        )
        .withColumn("http_uri", F.concat(F.lit("/"), F.col("site")))
        .withColumn(
            "http_status",
            F.when(rid % 7 == 0, F.lit(None).cast("int")).otherwise(
                (F.lit(200) + (rid % 3) * 100).cast("int")
            ),
        )
        .withColumn(
            "length",
            F.when(rid % 5 == 0, F.lit(None).cast("long")).otherwise(
                F.floor(F.col("value") * 100).cast("long")
            ),
        )
        .withColumn("host", F.concat(F.col("site"), F.lit(".example.com")))
        .withColumn(
            "http_referer",
            F.when(rid % 3 == 0, F.concat(F.lit("https://ref.example/"), F.col("site"))),
        )
        .withColumn("user_agent", F.when(rid % 2 == 0, F.lit("Mozilla/5.0")))
    )
    return logs.select("id", one_line(OneLineOptions(show_host=True, iso8601=True)))


FORMAT_ONE_LINE_SQL = f"""
WITH {LOGS_CTE},
enr AS (SELECT id, "timestamp" AS ts, site, remote_host,
  site || '.example.com' AS host,
  ['GET','POST','HEAD','PUT'][CAST(id % 4 AS INT) + 1] AS http_method,
  '/' || site AS http_uri,
  CASE WHEN id % 7 = 0 THEN NULL ELSE 200 + (id % 3) * 100 END AS http_status,
  CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(floor(value * 100) AS BIGINT) END AS length,
  CASE WHEN id % 3 = 0 THEN 'https://ref.example/' || site END AS http_referer,
  CASE WHEN id % 2 = 0 THEN 'Mozilla/5.0' END AS user_agent
FROM logs)
SELECT id, concat_ws(' ',
  coalesce(site, '-'), coalesce(remote_host, '-'), coalesce(host, '-'),
  '-', '-',
  '[' || coalesce(strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ'), '-') || ']',
  '"' || CASE WHEN http_method IS NOT NULL OR http_uri IS NOT NULL
              THEN concat_ws(' ', http_method, http_uri)
              ELSE '-' END || '"',
  coalesce(CAST(http_status AS VARCHAR), '-'),
  coalesce(CAST(length AS VARCHAR), '-'),
  '"' || coalesce(http_referer, '-') || '"',
  '"' || coalesce(user_agent, '-') || '"') AS line
FROM enr
"""


def q_duration_longer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: duration_longer= — NULL never matches, >= threshold."""
    logs = events_as_logs(spark, sf_dir)
    spec = FilterSpec(duration_longer_us=150, columns={"duration_us": "value"})
    return Query(logs).filter(spec).to_df()


DURATION_SQL = f"""
WITH {LOGS_CTE}
SELECT * FROM logs WHERE value >= 150
"""


def q_filter_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+F5+F7 analog on orders: type equality, inclusive time range,
    half-open numeric range — compiled via FilterSpec."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    spec = FilterSpec(
        type="O",
        since=dt.datetime(1996, 1, 1),
        until=dt.datetime(1998, 12, 31),
        status_begin=10000,
        status_end=200000,
        columns={
            "type": "o_orderstatus",
            "timestamp": "o_orderdate",
            "http_status": "o_totalprice",
        },
    )
    return orders.filter(spec.to_column())


FILTER_SURFACE_SQL = """
SELECT * FROM orders
WHERE o_orderstatus = 'O'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate <= TIMESTAMP '1998-12-31'
  AND o_totalprice >= 10000 AND o_totalprice < 200000
"""


_UNSAFE_SPEC = None


def _unsafe_spec() -> FilterSpec:
    global _UNSAFE_SPEC
    if _UNSAFE_SPEC is None:
        _UNSAFE_SPEC = FilterSpec(sites=frozenset({"", "click"}), unsafe_method=True)
    return _UNSAFE_SPEC


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-site rollup (count + exact value sum): one shuffle on
    (bucket, site) after map-side partial aggregation."""
    from pond_spark.operators.rollup import rollup_by_time

    logs = events_as_logs(spark, sf_dir)
    return rollup_by_time(
        logs,
        every="hour",
        dims=["site"],
        aggs={
            "n": F.count(F.lit(1)),
            "value_sum": F.sum(F.col("value").cast(_D)).cast("double"),
        },
    )


TIME_ROLLUP_SQL = f"""
WITH {LOGS_CTE}
SELECT date_trunc('hour', "timestamp") AS bucket, site,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM logs WHERE "timestamp" IS NOT NULL
GROUP BY 1, 2
"""


def q_site_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-over-hour traffic delta per site: time rollup + LAG window
    (one rollup shuffle + one window shuffle on the site key)."""
    from pond_spark.operators.rollup import rollup_by_time, with_deltas

    logs = events_as_logs(spark, sf_dir)
    hourly = rollup_by_time(
        logs, every="hour", dims=["site"], aggs={"n": F.count(F.lit(1))}
    )
    return with_deltas(hourly, ["site"], "bucket", ["n"])


SITE_DELTA_SQL = f"""
WITH {LOGS_CTE},
hourly AS (
  SELECT date_trunc('hour', "timestamp") AS bucket, site, count(*) AS n
  FROM logs WHERE "timestamp" IS NOT NULL GROUP BY 1, 2)
SELECT bucket, site, n,
       n - lag(n) OVER (PARTITION BY site ORDER BY bucket) AS n_delta
FROM hourly
"""


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention: active users per day and the subset
    also active the previous day — distinct (day, user) then a
    self-join on (user, day-1) folded into one aggregate.

    Hashed projection is integer-exact only (counts + parts-per-million
    floor division): rounding a double ratio lands on representation
    ties that differ between engines in the 6th digit."""
    from pond_spark.operators.rollup import day_over_day_retention

    return day_over_day_retention(events_as_logs(spark, sf_dir)).select(
        "day", "active_users", "retained_users", "retention_ppm"
    )


RETENTION_SQL = f"""
WITH {LOGS_CTE},
days AS (SELECT DISTINCT CAST("timestamp" AS DATE) AS day, remote_host AS u
         FROM logs WHERE "timestamp" IS NOT NULL AND remote_host IS NOT NULL),
j AS (SELECT d.day, d.u,
             CASE WHEN p.u IS NULL THEN 0 ELSE 1 END AS ret
      FROM days d LEFT JOIN days p
        ON d.u = p.u AND p.day = d.day - INTERVAL 1 DAY)
SELECT day, count(*) AS active_users,
       CAST(sum(ret) AS BIGINT) AS retained_users,
       CAST((sum(ret) * 1000000) // count(*) AS BIGINT) AS retention_ppm
FROM j GROUP BY day
"""


def q_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level ROLLUP (day, site, remote_host → prefixes → grand
    total) in one Expand + single shuffle — the one-pass alternative
    to unioning one groupBy per level. grouping_id disambiguates
    aggregated-out NULLs from data NULLs; DuckDB numbers ROLLUP
    levels with the same GROUPING() bit order, so gid is
    oracle-comparable."""
    from pond_spark.operators.rollup import rollup_hierarchy

    logs = events_as_logs(spark, sf_dir)
    return rollup_hierarchy(
        logs,
        every="day",
        dims=["site", "remote_host"],
        aggs={
            "n": F.count(F.lit(1)),
            "value_sum": F.sum(F.col("value").cast(_D)).cast("double"),
        },
    )


ROLLUP_HIERARCHY_SQL = f"""
WITH {LOGS_CTE}
SELECT CAST(date_trunc('day', "timestamp") AS TIMESTAMP) AS bucket,
       site, remote_host,
       GROUPING(date_trunc('day', "timestamp")) * 4
         + GROUPING(site) * 2 + GROUPING(remote_host) AS gid,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM logs WHERE "timestamp" IS NOT NULL
GROUP BY ROLLUP (date_trunc('day', "timestamp"), site, remote_host)
"""


def q_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct visitors per site per day — the two-level
    aggregation Catalyst expands count(distinct) into (partial
    dedup on (day, site, host), then count): no single-reducer
    bottleneck at scale."""
    logs = events_as_logs(spark, sf_dir)
    return (
        logs.filter(F.col("timestamp").isNotNull())
        .groupBy(
            F.date_trunc("day", F.col("timestamp")).alias("day"),
            F.col("site"),
        )
        .agg(F.countDistinct("remote_host").alias("uniques"))
    )


DAILY_UNIQUES_SQL = f"""
WITH {LOGS_CTE}
SELECT CAST(date_trunc('day', "timestamp") AS TIMESTAMP) AS day, site,
       count(DISTINCT remote_host) AS uniques
FROM logs WHERE "timestamp" IS NOT NULL
GROUP BY 1, 2
"""


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median/p90 of value per site (sort-based
    aggregate; both engines use linear interpolation).

    ACCEPTED hash-stability risk (unlike the integer-ppm rows): the
    hashed round(x, 6) sits on an interpolated double whose
    lo+(hi-lo)*frac operation order is engine-internal — a last-ulp
    difference straddling a 6th-decimal boundary on some future corpus
    would flake this row. Kept because the quantile VALUE is the whole
    point of the query; the rank-envelope sibling
    (value_quantiles_approx) is the robust formulation."""
    logs = events_as_logs(spark, sf_dir)
    return logs.groupBy("site").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


VALUE_QUANTILES_SQL = f"""
WITH {LOGS_CTE}
SELECT site,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM logs GROUP BY site
"""


def q_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna sketch via
    percentile_approx) — the 100 TB path for q_value_quantiles: a
    bounded-size sketch merges map-side instead of a per-group sort.
    Same accuracy-envelope oracle pattern as daily_uniques_approx:
    the query computes BOTH the sketch estimate and the exact
    quantile and emits a within-rank-tolerance flag (GK with
    accuracy=1000 bounds rank error by n/1000; checked as a VALUE
    envelope against the exact p45/p55 — rank 0.5±0.001 must land
    between rank 0.45 and 0.55); the oracle recomputes the exact
    envelope and expects every flag true."""
    logs = events_as_logs(spark, sf_dir)
    return logs.groupBy("site").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
        (
            F.expr("percentile_approx(value, 0.5, 1000)")
            .between(
                F.expr("percentile(value, 0.45)"),
                F.expr("percentile(value, 0.55)"),
            )
        ).alias("p50_in_envelope"),
    )


VALUE_QUANTILES_APPROX_SQL = f"""
WITH {LOGS_CTE}
SELECT site, round(quantile_cont(value, 0.5), 6) AS p50_exact,
       TRUE AS p50_in_envelope
FROM logs GROUP BY site
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


def q_daily_uniques_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct visitors per (day, site) — the 100 TB path
    for q_daily_uniques: fixed-size sketches merge map-side, no
    (day, site, host) dedup shuffle. Sketch estimates are engine-
    specific, so the oracle-checked property is the accuracy envelope:
    the query computes BOTH the HLL estimate and the exact count and
    emits a per-group within-10%-of-exact flag (measured max relative
    error at rsd=0.02 on this corpus is ~6.7%, on small groups where
    HLL bias dominates); the oracle recomputes the exact counts and
    expects every flag true. A drifting sketch turns the row red."""
    logs = events_as_logs(spark, sf_dir)
    # two-level aggregation (r11, guide §2.3): countDistinct mixed with
    # a non-distinct aggregate planned an Expand (×2 row duplication
    # before the exchange). Dedup (day, site, host) first — map-side
    # partial — then count the deduped rows; the HLL sketch is
    # duplicate-insensitive (registers are max-folds of per-value
    # hashes), so approx_count_distinct over the deduped frame is
    # bit-identical to the old plan's estimate.
    dedup = (
        logs.filter(F.col("timestamp").isNotNull())
        .select(
            F.date_trunc("day", F.col("timestamp")).alias("day"),
            F.col("site"),
            F.col("remote_host"),
        )
        .distinct()
    )
    return (
        dedup.groupBy("day", "site")
        .agg(
            F.count("remote_host").alias("uniques"),
            F.approx_count_distinct("remote_host", rsd=0.02).alias("_est"),
        )
        .select(
            "day",
            "site",
            "uniques",
            (
                F.abs(F.col("_est") - F.col("uniques"))
                <= 0.1 * F.col("uniques")
            ).alias("within_10pct"),
        )
    )


DAILY_UNIQUES_APPROX_SQL = f"""
WITH {LOGS_CTE}
SELECT CAST(date_trunc('day', "timestamp") AS TIMESTAMP) AS day, site,
       count(DISTINCT remote_host) AS uniques,
       TRUE AS within_10pct
FROM logs WHERE "timestamp" IS NOT NULL
GROUP BY 1, 2
"""


#: fixed week the sketch-rollup query estimates (inside the events span)
SKETCH_RANGE = ("2024-01-08", "2024-01-14")


def q_uniques_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch table (operators/sketches.py): per-day
    per-site DataSketches HLL sketches persisted once, then a week of
    uniques answered by UNIONING the seven daily sketches — no raw
    rescan, returning visitors not double-counted (the property plain
    daily counts cannot provide). Oracle: accuracy envelope — the
    exact distinct count per site plus a within-10% flag the estimate
    must satisfy (the q_daily_uniques_approx pattern; estimates are
    engine-specific)."""
    import hashlib
    import tempfile

    from pond_spark.operators.sketches import (
        build_uniques_sketches,
        uniques_over_range,
    )

    logs = events_as_logs(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_hll_{tag}")
    build_uniques_sketches(logs, path)

    lo, hi = SKETCH_RANGE
    est = uniques_over_range(spark, path, lo, hi)
    day = F.date_format(F.col("timestamp"), "yyyy-MM-dd")
    exact = (
        logs.filter(
            F.col("timestamp").isNotNull()
            & F.col("remote_host").isNotNull()
            & (day >= lo)
            & (day <= hi)
        )
        .groupBy("site")
        .agg(F.count_distinct("remote_host").alias("uniques"))
    )
    return exact.join(est, "site").select(
        "site",
        "uniques",
        (
            F.abs(F.col("uniques_est") - F.col("uniques"))
            <= 0.1 * F.col("uniques")
        ).alias("within_10pct"),
    )


UNIQUES_SKETCH_SQL = f"""
WITH {{logs_cte}}
SELECT site, count(DISTINCT remote_host) AS uniques, TRUE AS within_10pct
FROM logs
WHERE "timestamp" IS NOT NULL AND remote_host IS NOT NULL
  AND strftime("timestamp", '%Y-%m-%d') >= '{SKETCH_RANGE[0]}'
  AND strftime("timestamp", '%Y-%m-%d') <= '{SKETCH_RANGE[1]}'
GROUP BY site
""".replace("{logs_cte}", LOGS_CTE)


def q_value_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch table (operators/sketches.py
    bottom-k): per-(day, site) deterministic bottom-k value samples
    persisted once, then a week of per-site percentiles answered by
    merging the daily samples — no raw rescan (Spark ships no
    mergeable quantile aggregate; this is the engine's scale path for
    persisted percentile rollups). Unlike KLL/t-digest the sample
    membership is a pure function of (id, seed), so the DuckDB twin
    replays the identical sample and exact-rank selection — a HARD
    hash row, not an accuracy envelope. Output values are untouched
    input doubles (no interpolation), safe to hash."""
    import hashlib
    import tempfile

    from pond_spark.operators.sketches import (
        build_value_sketches,
        value_quantiles_over_range,
    )

    logs = events_as_logs(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_bk_{tag}")
    build_value_sketches(logs, path, k=64)
    lo, hi = SKETCH_RANGE
    return value_quantiles_over_range(spark, path, lo, hi, k=64)


VALUE_SKETCH_SQL = f"""
WITH {LOGS_CTE},
src AS (SELECT strftime("timestamp", '%Y-%m-%d') AS day, site, value, id,
               (id * 48271 + 1 * 2654435761) % 1000000007 AS bk
        FROM logs
        WHERE "timestamp" IS NOT NULL AND value IS NOT NULL
          AND strftime("timestamp", '%Y-%m-%d') >= '{SKETCH_RANGE[0]}'
          AND strftime("timestamp", '%Y-%m-%d') <= '{SKETCH_RANGE[1]}'),
daily AS (SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY day, site ORDER BY bk, id) AS rn
    FROM src) WHERE rn <= 64),
merged AS (SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY site ORDER BY bk, id) AS rn2
    FROM daily) WHERE rn2 <= 64),
sized AS (SELECT site, value, id,
                 row_number() OVER (PARTITION BY site ORDER BY value, id) AS vr,
                 count(*) OVER (PARTITION BY site) AS m
          FROM merged)
SELECT site, CAST(max(m) AS BIGINT) AS n_sample,
       max(CASE WHEN vr = CAST(ceil(0.5 * m) AS BIGINT) THEN value END) AS q50,
       max(CASE WHEN vr = CAST(ceil(0.9 * m) AS BIGINT) THEN value END) AS q90
FROM sized GROUP BY site
"""


def q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable COUNT-MIN sketch table (operators/sketches.py): per-day
    depth×width frequency cells persisted once, then a week's key
    frequencies answered by cell-wise-summing the covered days and
    taking the min over depth rows — fixed KBs per day regardless of
    key cardinality, the point-frequency sibling of the HLL cube. The
    key hash is the portable fingerprint, so the estimate is
    DETERMINISTIC and the oracle replays it bit-for-bit (a hard hash
    row); only est's relation to the true count is probabilistic —
    emitted as the always-true ``never_under`` flag (est ≥ exact, the
    CM guarantee)."""
    import hashlib
    import tempfile

    from pond_spark.operators.sketches import (
        build_cm_sketches,
        cm_estimate_over_range,
    )

    logs = events_as_logs(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_cm_{tag}")
    build_cm_sketches(logs, path, key_col="message")
    lo, hi = SKETCH_RANGE
    day = F.date_format("timestamp", "yyyy-MM-dd")
    inrange = logs.filter(
        F.col("timestamp").isNotNull()
        & F.col("message").isNotNull()
        & (day >= lo)
        & (day <= hi)
    )
    keys = inrange.select(F.col("message").alias("key")).distinct()
    est = cm_estimate_over_range(spark, path, keys, lo, hi)
    exact = inrange.groupBy(F.col("message").alias("key")).agg(
        F.count(F.lit(1)).alias("exact")
    )
    return (
        est.join(exact, "key")
        .select(
            "key",
            "est",
            "exact",
            (F.col("est") >= F.col("exact")).alias("never_under"),
        )
        .orderBy(F.col("est").desc(), F.col("key"))
        .limit(25)
    )


def _cm_heavy_hitters_sql() -> str:
    from pond_spark.functions.text import fingerprint_sql
    from pond_spark.operators.sketches import (
        BK_A,
        BK_C,
        BK_MOD,
        CM_DEPTH,
        CM_WIDTH,
    )

    from pond_spark.operators.sketches import cm_row_mult

    lo, hi = SKETCH_RANGE
    mults = ", ".join(
        f"({r}, {cm_row_mult(r)})" for r in range(CM_DEPTH)
    )
    # building cells from per-key range totals == building per-day and
    # summing the covered days (cell merge is addition); per-row
    # MULTIPLIERS (not offsets) keep the depth rows pairwise
    # independent — see sketches.cm_row_mult
    return f"""
WITH {LOGS_CTE},
occ AS (SELECT message AS key FROM logs
        WHERE "timestamp" IS NOT NULL AND message IS NOT NULL
          AND strftime("timestamp", '%Y-%m-%d') >= '{lo}'
          AND strftime("timestamp", '%Y-%m-%d') <= '{hi}'),
cnt AS (SELECT key, CAST(count(*) AS BIGINT) AS exact FROM occ GROUP BY 1),
kh AS (SELECT key, exact, {fingerprint_sql("key")} AS kh FROM cnt),
rows_ AS (SELECT * FROM (VALUES {mults}) AS t(r, a)),
cells AS (SELECT r,
                 ((kh * a + {BK_C}) % {BK_MOD}) % {CM_WIDTH} AS col,
                 CAST(sum(exact) AS BIGINT) AS cnt
          FROM kh CROSS JOIN rows_ GROUP BY 1, 2),
probe AS (SELECT k.key, k.exact, r,
                 ((k.kh * a + {BK_C}) % {BK_MOD}) % {CM_WIDTH} AS col
          FROM kh k CROSS JOIN rows_),
est AS (SELECT p.key, p.exact, CAST(min(c.cnt) AS BIGINT) AS est
        FROM probe p JOIN cells c ON p.r = c.r AND p.col = c.col
        GROUP BY 1, 2)
SELECT key, est, exact, est >= exact AS never_under
FROM est ORDER BY est DESC, key ASC LIMIT 25
"""


def q_cm_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join SIZE estimation from the Count-Min day tables
    (operators/cmjoin.py, NEW r6): the classic inner-product estimator
    — per-row dot products of the two ranges' merged grids, min over
    depth rows ≈ sum_key cntA*cntB, i.e. the join's output rows —
    answered from KB-sized cells with day-partition pruning, no raw
    scan. Rebuilds the shared CM table unconditionally like every
    other sketch row (an exists-check would trust a stale table left
    by a previous process over different data — the oracle-artifact
    class the harness already fought once). Hard hash oracle: the
    estimate is a pure function of the portable hash."""
    import hashlib
    import tempfile

    from pond_spark.operators.cmjoin import cm_join_size
    from pond_spark.operators.sketches import build_cm_sketches

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_cm_{tag}")
    build_cm_sketches(events_as_logs(spark, sf_dir), path, key_col="message")
    (a_lo, a_hi), (b_lo, b_hi) = KMV_RANGE_A, KMV_RANGE_B
    return cm_join_size(spark, path, a_lo, a_hi, b_lo, b_hi)


def _cm_join_size_sql() -> str:
    from pond_spark.operators.cmjoin import cm_join_size_sql

    (a_lo, a_hi), (b_lo, b_hi) = KMV_RANGE_A, KMV_RANGE_B
    return cm_join_size_sql(LOGS_CTE, a_lo, a_hi, b_lo, b_hi)


#: bloom blocklist: every doc whose source is one of these is "seen"
BLOOM_SOURCES = ("src0", "src3", "src7", "src11")
BLOOM_M, BLOOM_K = 8192, 5


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit (dedup/bloom.py): build the
    bitmap over the portable content fingerprints of a 4-source
    blocklist, probe EVERY document with k chained broadcast joins
    (zero probe-side exchanges — the map-side front end that keeps
    definite-new rows out of DigestCatalog's anti-join at 100 TB),
    then report per source: docs, bloom hits, true members, false
    positives. No false negatives by construction — n_flagged ≥
    n_member on every row; the whole frame is exact integers and the
    oracle rebuilds the identical bitmap."""
    from pond_spark.dedup.bloom import build_bloom, mark_membership
    from pond_spark.functions.text import fingerprint

    docs = _documents(spark, sf_dir).filter(F.col("text").isNotNull())
    # persist (r11, guide §1.2/§5): the fingerprinted frame feeds THREE
    # branches (bloom build, probe side, exact-membership join) and
    # Spark has no cross-branch CSE — without the pin the docs scan +
    # regex fingerprint pass ran three times. Narrow columns only
    # (doc_id, source, fp). Lifecycle: the pin lives until the session
    # drops it — loop drivers (bench.py, oracle_check) clearCache
    # between queries, the same documented contract as the stats/
    # minhash pins.
    keyed = (
        _fan(docs)
        .select("doc_id", "source", fingerprint(F.col("text")).alias("fp"))
        .persist()
    )
    # blocklist is consumed twice (bitmap build + true-member join);
    # pinning it saves the distinct's exchange the second time. ≤|docs|
    # long keys — tiny.
    blocklist = (
        keyed.filter(F.col("source").isin(*BLOOM_SOURCES))
        .select(F.col("fp").alias("key"))
        .distinct()
        .persist()
    )
    bloom = build_bloom(blocklist, "key", BLOOM_M, BLOOM_K)
    marked = mark_membership(keyed, bloom, "fp", BLOOM_M, BLOOM_K)
    member = marked.join(
        blocklist, marked.fp == blocklist.key, "left"
    ).select(
        "source",
        F.col("might_contain").cast("long").alias("_hit"),
        F.col("key").isNotNull().cast("long").alias("_mem"),
    )
    return (
        member.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_hit").alias("n_flagged"),
            F.sum("_mem").alias("n_member"),
            (F.sum("_hit") - F.sum("_mem")).alias("n_false_pos"),
        )
        .orderBy("source")
    )


def _bloom_prefilter_sql() -> str:
    from pond_spark.dedup.bloom import BF_A1, BF_A2, BF_C1, BF_C2, BF_P
    from pond_spark.functions.text import fingerprint_sql

    srcs = ", ".join(f"'{s}'" for s in BLOOM_SOURCES)
    h1 = f"(fp * {BF_A1} + {BF_C1}) % {BF_P}"
    h2 = f"(((fp * {BF_A2} + {BF_C2}) % {BF_P}) * 2 + 1)"
    return f"""
WITH fpd AS (SELECT doc_id, source, {fingerprint_sql("text")} AS fp
             FROM documents WHERE text IS NOT NULL),
bl AS (SELECT DISTINCT fp FROM fpd WHERE source IN ({srcs})),
ks AS (SELECT unnest(range({BLOOM_K})) AS i),
blpos AS (SELECT ({h1} + i * {h2}) % {BLOOM_M} AS pos
          FROM bl CROSS JOIN ks),
bloom AS (SELECT pos // 32 AS word,
                 bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
          FROM blpos GROUP BY 1),
probe AS (SELECT doc_id, ({h1} + i * {h2}) % {BLOOM_M} AS pos
          FROM fpd CROSS JOIN ks),
hit AS (SELECT doc_id,
               min(CASE WHEN b.bits IS NOT NULL
                         AND (b.bits & (CAST(1 AS BIGINT)
                                        << CAST(p.pos % 32 AS INT))) != 0
                        THEN 1 ELSE 0 END) AS ok
        FROM probe p LEFT JOIN bloom b ON p.pos // 32 = b.word
        GROUP BY 1)
SELECT f.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(h.ok) AS BIGINT) AS n_flagged,
       CAST(sum(CASE WHEN bl.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_member,
       CAST(sum(h.ok) - sum(CASE WHEN bl.fp IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM fpd f
JOIN hit h ON f.doc_id = h.doc_id
LEFT JOIN bl ON f.fp = bl.fp
GROUP BY 1 ORDER BY 1
"""


PR_ITER, PR_SCALE, PR_TELEPORT = 5, 1_000_000, 150_000


def q_pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-graph PageRank (operators/pagerank.py): per-user
    consecutive page transitions → distinct directed edges → 5
    fixed-point iterations of all-integer rank flow (teleport +
    rational damping, floor-div shares). The host-authority signal
    curation pipelines weight corpora by, computed with node-id-only
    shuffles. Hashed projection is pure int64 — the oracle unrolls the
    identical 5 iterations."""
    from pond_spark.operators.pagerank import click_edges, pagerank

    logs = events_as_logs(spark, sf_dir)
    pr = pagerank(click_edges(logs), iterations=PR_ITER, scale=PR_SCALE)
    return pr.orderBy(F.col("rank").desc(), F.col("node")).limit(25)


def _pagerank_top_sql() -> str:
    iters = "r0 AS (SELECT node, CAST({s} AS BIGINT) AS rank FROM nodes)".format(
        s=PR_SCALE
    )
    for n in range(1, PR_ITER + 1):
        iters += f""",
r{n} AS (SELECT n.node,
                {PR_TELEPORT} + (85 * COALESCE(s.inflow, 0)) // 100 AS rank
         FROM nodes n LEFT JOIN (
           SELECT e.dst AS node, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS inflow
           FROM r{n - 1} r
           JOIN edges e ON r.node = e.src
           JOIN deg d ON e.src = d.src
           GROUP BY 1) s ON n.node = s.node)"""
    return f"""
WITH {LOGS_CTE},
clicks AS (SELECT remote_host AS u, "timestamp" AS ts, id, message AS node
           FROM logs WHERE "timestamp" IS NOT NULL
             AND message IS NOT NULL AND remote_host IS NOT NULL),
steps AS (SELECT lag(node) OVER (PARTITION BY u ORDER BY ts, id) AS src,
                 node AS dst
          FROM clicks),
edges AS (SELECT DISTINCT src, dst FROM steps
          WHERE src IS NOT NULL AND src != dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
{iters}
SELECT node, CAST(rank AS BIGINT) AS rank
FROM r{PR_ITER} ORDER BY rank DESC, node ASC LIMIT 25
"""


CUSUM_K, CUSUM_TOP = 5, 50


def q_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change scores over the hourly per-site rollup
    (operators/anomaly.py, Page 1954): the sequential recursion
    ``s_t = max(0, s_{t-1} + x_t - k)`` compiled to its prefix-scan
    closed form — two window functions over one site-keyed exchange,
    no iteration, gap hours counted as zero via a dense hour spine.
    Top-50 hours by score; all-integer arithmetic."""
    from pond_spark.operators.anomaly import cusum_scores

    logs = events_as_logs(spark, sf_dir)
    return (
        cusum_scores(logs, k=CUSUM_K)
        .orderBy(F.col("cusum").desc(), F.col("site"), F.col("hour"))
        .limit(CUSUM_TOP)
    )


def _cusum_alerts_sql() -> str:
    from pond_spark.operators.anomaly import cusum_sql

    return (
        f"WITH {LOGS_CTE},\n"
        + cusum_sql(CUSUM_K, None).strip().rstrip()
        + f"\nORDER BY cusum DESC, site ASC, hour ASC LIMIT {CUSUM_TOP}"
    )


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift report (operators/drift.py): token-distribution
    shift between the English slice and the rest, over 64 hashed
    buckets — DSIR's monitoring twin (same portable bucket hash,
    fixed-size comparison table at any vocabulary). Integer-ppm rates
    (the promo_bps pattern), top-30 movers by exact |delta|."""
    from pond_spark.operators.drift import corpus_drift

    return corpus_drift(
        _fan(_documents(spark, sf_dir)),
        F.col("lang") == "en",
        F.col("lang") != "en",
        n_buckets=64,
        top=30,
    )


def _corpus_drift_sql() -> str:
    from pond_spark.operators.drift import corpus_drift_sql

    return corpus_drift_sql("lang = 'en'", "lang <> 'en'", n_buckets=64, top=30)


BPE_MERGES = 12
BPE_SAMPLE = 20


def _bpe_merges_cached(sf_dir: str, vocab=None) -> tuple:
    """Train the merge chain from the parquet input. The r6–r10
    ``lru_cache`` memo keyed on sf_dir is GONE (r11): a module-level
    memo of results means the second bench sample (and the sibling
    query) skips training entirely — exactly the cross-invocation
    result caching the optimization rules ban. Every invocation now
    recomputes from the corpus; the 12-row collect is the bounded
    per-iteration argmax the operator already does. ``vocab``: a
    precomputed materialized (word, cnt) frame shared with the
    caller's own vocabulary consumers (guide §1.2)."""
    from pond_spark.functions.bpe import bpe_train
    from pyspark.sql import SparkSession as _S

    spark = _S.getActiveSession()
    docs = _fan(_documents(spark, sf_dir))
    m = bpe_train(docs, n_merges=BPE_MERGES, vocab=vocab)
    return tuple(
        (r.rank, r.left, r.right, r.pair_count)
        for r in m.orderBy("rank").collect()
    )


def _bpe_vocab_frame(spark: SparkSession, sf_dir: str):
    """The (word, cnt) vocabulary frame both BPE queries train on AND
    consume (sample ranking / tokenize join) — built once per
    invocation, localCheckpoint-materialized so the corpus explode +
    groupBy is a single pass (r11, guide §1.2). localCheckpoint over
    persist: the blocks release with the frame (ContextCleaner), not
    pinned in the cache manager."""
    from pond_spark.functions.text import _words

    docs = _fan(_documents(spark, sf_dir))
    return (
        docs.select(F.explode(_words(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with the learned BPE merges
    (functions/bpe.py bpe_segment, NEW r6): the merge chain applies to
    the DISTINCT word frame only (vocabulary-sized), then broadcast-
    joins back onto the exploded token stream — per-symbol work never
    touches corpus-scale rows. Publishes (doc, n_words, n_pieces) per
    document; piece counts include the </w> marker. The oracle replays
    the identical merge chain (the bpe_vocab CTEs) and joins word
    piece counts back the same way."""
    from pond_spark.functions.bpe import bpe_apply
    from pond_spark.functions.text import _words

    docs = _fan(_documents(spark, sf_dir))
    # one shared vocabulary pass (r11, guide §1.2): the old
    # bpe_segment path exploded the corpus for training's vocab, AGAIN
    # for its own distinct-word frame, and a third time for the token
    # stream. The training vocab IS the distinct-word frame — apply
    # the merges to it and broadcast onto the single token-stream
    # explode: two corpus passes, not three. Same rows out
    # (distinct(word) of the stream == vocab's word set).
    words = _bpe_vocab_frame(spark, sf_dir)
    mrows = [(l, r) for (_rk, l, r, _pc) in _bpe_merges_cached(sf_dir, vocab=words)]
    pieces = bpe_apply(words.select("word"), mrows)
    toks = docs.select(
        F.col("doc_id"), F.explode(_words(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    seg = toks.join(F.broadcast(pieces), "word")
    return seg.groupBy(F.col("doc_id").alias("doc")).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size("pieces")).cast("long").alias("n_pieces"),
    )


def _bpe_tokenize_sql() -> str:
    from pond_spark.functions.bpe import bpe_tokenize_sql

    return bpe_tokenize_sql(BPE_MERGES)


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction (functions/bpe.py,
    Sennrich 2016): 12 merges learned on the vocabulary frame — the
    corpus is reduced once to (word, count); every merge iteration
    runs on that frame only (pair explode → map-side-combined groupBy
    → bounded 1-row argmax collect → JVM aggregate-lambda rewrite) —
    plus a segmented-corpus sample: the top-20 words by (count, word)
    with their final piece sequences, ranks 101..120 in the same
    4-column schema.

    HARD oracle row since round 6 (closes VERDICT r5 ask #2): the
    merge sequence is deterministic (greedy leftmost, tie-breaks
    pinned), so bpe_train_sql replays the identical 12 iterations as
    unrolled MATERIALIZED CTEs with the merge rewrite expressed as a
    delimiter-wrapped string replace. The 12-row merge collect here
    is the bounded per-iteration argmax the operator already does."""
    from pond_spark.functions.bpe import bpe_apply
    from pyspark.sql.window import Window

    # one corpus pass: the same materialized vocabulary feeds training
    # AND the segmented sample below (r11, guide §1.2 — the old shape
    # exploded the corpus twice)
    words = _bpe_vocab_frame(spark, sf_dir)
    cached = _bpe_merges_cached(sf_dir, vocab=words)
    merges = spark.createDataFrame(
        list(cached), "rank long, left string, right string, pair_count long"
    )
    mrows = [(l, r) for (_rk, l, r, _pc) in cached]
    top = words.orderBy(F.col("cnt").desc(), F.col("word")).limit(BPE_SAMPLE)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    sample = bpe_apply(top, mrows).select(
        (F.lit(100) + F.row_number().over(w)).cast("long").alias("rank"),
        F.col("word").alias("left"),
        F.array_join("pieces", " ").alias("right"),
        F.col("cnt").alias("pair_count"),
    )
    return merges.unionByName(sample)


def _bpe_vocab_sql() -> str:
    from pond_spark.functions.bpe import bpe_train_sql

    return bpe_train_sql(BPE_MERGES, n_sample=BPE_SAMPLE)


UNIMAX_EPOCHS = 2


def q_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch-capped budget allocation + deterministic
    materialization (operators/unimax.py, Chung et al. 2023): the
    waterfilling recursion in closed form (two windows over the L-row
    language frame), budget = half the corpus, caps at 2 epochs; then
    the seed-stable selected subset per language (one (id, lang, size)
    shuffle — documents never move). Output is all-integer:
    per-language corpus size, cap, quota, selected docs/chars. The
    budget is data-derived (total div 2) so the funded/unfunded split
    exercises both branches at every SF; the bounded 1-row total
    collect is the IVF-Lloyd pattern."""
    from pond_spark.operators.unimax import unimax_quotas, unimax_select

    docs = _documents(spark, sf_dir)
    base = docs.filter(
        F.col("lang").isNotNull() & F.col("n_chars").isNotNull()
    )
    # shared per-language sizes frame (r11, guide §1.2): the old shape
    # scanned documents.parquet FOUR times (budget total, quotas'
    # sizes, select's quotas' sizes, select's keyed pass) and ran the
    # waterfilling windows twice. Aggregate (lang, size) once, pin it
    # (L rows — tiny), derive the budget total from it (Σ per-lang
    # sums ≡ the flat sum over the same filter), and hand the same
    # frame/quotas to both consumers: two scans, one window chain.
    # Pin lifecycle: dropped by the loop drivers' clearCache, the
    # documented stats/minhash contract.
    sizes = (
        base.groupBy(F.col("lang"))
        .agg(F.sum("n_chars").cast("long").alias("size"))
        .persist()
    )
    total = sizes.agg(F.sum("size").cast("long")).collect()[0][0] or 0
    budget = total // 2
    quotas = unimax_quotas(docs, budget, UNIMAX_EPOCHS, sizes=sizes)
    sel = (
        unimax_select(docs, budget, UNIMAX_EPOCHS, quotas=quotas)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sel"),
            F.sum("size").alias("sel_chars"),
        )
    )
    return quotas.join(sel, "lang", "left").select(
        "lang",
        "size",
        "cap",
        "quota",
        F.coalesce("n_sel", F.lit(0)).cast("long").alias("n_sel"),
        F.coalesce("sel_chars", F.lit(0)).cast("long").alias("sel_chars"),
    )


def _unimax_mixture_sql() -> str:
    from pond_spark.operators.unimax import (
        UX_A,
        UX_C,
        UX_MOD,
        unimax_quotas_sql,
    )

    budget = (
        "(SELECT CAST(sum(n_chars) AS BIGINT) // 2 FROM documents "
        "WHERE lang IS NOT NULL AND n_chars IS NOT NULL)"
    )
    quotas = unimax_quotas_sql(
        budget, UNIMAX_EPOCHS, as_with_quotas=True
    ).strip()
    return f"""
{quotas},
keyed AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS dsize,
         (doc_id * {UX_A} + 1 * {UX_C}) % {UX_MOD} AS sk
  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
running AS (
  SELECT lang, dsize,
         sum(dsize) OVER (PARTITION BY lang ORDER BY sk, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM keyed),
sel AS (
  SELECT r.lang, CAST(count(*) AS BIGINT) AS n_sel,
         CAST(sum(r.dsize) AS BIGINT) AS sel_chars
  FROM running r JOIN quotas q ON r.lang = q.lang
  WHERE r.run <= q.quota GROUP BY 1)
SELECT q.lang, q.size, q.cap, q.quota,
       COALESCE(s.n_sel, 0) AS n_sel,
       COALESCE(s.sel_chars, 0) AS sel_chars
FROM quotas q LEFT JOIN sel s ON q.lang = s.lang
"""


def q_kanon_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppressed (site, day) count export
    (operators/kanon.py): groups with fewer than 60 DISTINCT visitors
    generalize day -> '<other>' per site and re-test; a still-under-k
    remainder would drop entirely. The distinct-count basis uses the
    exact join-back (summing per-group distincts would overstate the
    merged population and publish under-k cells). The fixture plants a
    NULL-site under-k group whose generalization STAYS under k — it
    must flow into the catchall basis through a null-safe join-back
    (the r7 review fix: the plain semi-join dropped NULL-lead rows
    where the SQL twin's IS NOT DISTINCT FROM kept them)."""
    from pond_spark.operators.kanon import kanonymize_counts

    logs = events_as_logs(spark, sf_dir).select(
        "site",
        F.date_format("timestamp", "yyyy-MM-dd").alias("day"),
        "remote_host",
    )
    # 40 NULL-site rows over 10 distinct hosts (under k at both
    # levels), plus 6 pool sites x 9 hosts (each under k at both
    # levels): pooled distinct = 64 >= k, so the catchall ALWAYS
    # publishes and its count provably includes the NULL-lead rows —
    # the pre-fix join-back would omit them (fewer rows or a smaller
    # n, either way a hash mismatch)
    edge_null = spark.range(40).select(
        F.lit(None).cast("string").alias("site"),
        F.lit("2031-01-01").alias("day"),
        F.format_string("nullsite-h%d", F.pmod(F.col("id"), F.lit(10))).alias(
            "remote_host"
        ),
    )
    edge_pool = spark.range(108).select(
        F.format_string("zz-pool-%d", F.col("id") % 6).alias("site"),
        F.lit("2031-01-01").alias("day"),
        F.format_string(
            "pool-%d-h%d", F.col("id") % 6, (F.col("id") / 6).cast("long") % 9
        ).alias("remote_host"),
    )
    return kanonymize_counts(
        logs.unionByName(edge_null).unionByName(edge_pool),
        ("site", "day"),
        k=60,
        protect="remote_host",
    )


def _kanon_export_sql() -> str:
    from pond_spark.operators.kanon import kanonymize_counts_sql

    inner = (
        f"(WITH {LOGS_CTE} SELECT site, "
        "strftime(\"timestamp\", '%Y-%m-%d') AS day, remote_host FROM logs "
        "UNION ALL SELECT CAST(NULL AS VARCHAR), '2031-01-01', "
        "'nullsite-h' || CAST(i % 10 AS VARCHAR) "
        "FROM generate_series(0, 39) t(i) "
        "UNION ALL SELECT 'zz-pool-' || CAST(i % 6 AS VARCHAR), "
        "'2031-01-01', 'pool-' || CAST(i % 6 AS VARCHAR) || '-h' || "
        "CAST((i // 6) % 9 AS VARCHAR) "
        "FROM generate_series(0, 107) t(i))"
    )
    return kanonymize_counts_sql(
        inner, ("site", "day"), k=60, protect="remote_host"
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no built-in): attach to
    every log record the latest "config change" at or before it, per
    site. The config dim is a deterministic slice of the log itself
    (every 97th record) with TWO payload slots, one of which is NULL
    on every odd config row — so the r6 stitching edge is exercised:
    when the latest match has a NULL slot, the output must carry that
    NULL, never an older row's non-NULL value. A duplicated-(site, ts)
    shadow row (cfg_id + 1e6, NULL note) exercises the deterministic
    greatest-payload-tuple tiebreak. Oracle: DuckDB's native ASOF JOIN
    over the tiebreak-deduped dim."""
    from pond_spark.operators.asof import asof_join

    logs = events_as_logs(spark, sf_dir).select("id", "timestamp", "site")
    base = logs.filter(F.col("id") % 97 == 0).select(
        "site",
        "timestamp",
        F.col("id").alias("cfg_id"),
        F.when(
            F.expr("(id div 97) % 2 = 0"),
            F.concat(F.lit("n"), F.col("id").cast("string")),
        ).alias("cfg_note"),
    )
    dup = base.filter(F.col("cfg_id") % 194 == 0).select(
        "site",
        "timestamp",
        (F.col("cfg_id") + 1000000).alias("cfg_id"),
        F.lit(None).cast("string").alias("cfg_note"),
    )
    cfg = base.unionByName(dup)
    out = asof_join(logs, cfg, key_cols=["site"], ts_col="timestamp")
    return out.select("id", "cfg_id", "cfg_note")


ASOF_JOIN_SQL = f"""
WITH {LOGS_CTE},
l AS (SELECT id, "timestamp" AS ts, site FROM logs),
base AS (SELECT site, "timestamp" AS cts, id AS cfg_id,
                CASE WHEN (id // 97) % 2 = 0 THEN 'n' || CAST(id AS VARCHAR) END AS cfg_note
         FROM logs WHERE id % 97 = 0),
cfg AS (SELECT * FROM base
        UNION ALL
        SELECT site, cts, cfg_id + 1000000, NULL FROM base WHERE cfg_id % 194 = 0),
cfg1 AS (SELECT site, cts, cfg_id, cfg_note FROM cfg
         QUALIFY row_number() OVER (PARTITION BY site, cts
                                    ORDER BY cfg_id DESC, cfg_note DESC NULLS LAST) = 1)
SELECT l.id, cfg1.cfg_id, cfg1.cfg_note
FROM l ASOF LEFT JOIN cfg1 ON l.site = cfg1.site AND l.ts >= cfg1.cts
"""


def q_unsafe_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (unsafe_method) + F1 empty-site rule: NULL site matches the
    empty-string member of the site set (Filter.cxx:15-19); method must
    be present and not RFC-9110-safe."""
    from pond_spark.schema import HTTP_METHODS

    rid = F.col("id")
    logs = (
        events_as_logs(spark, sf_dir)
        .withColumn(
            "http_method",
            F.element_at(
                F.array(*[F.lit(m) for m in HTTP_METHODS]), (rid % 16 + 1).cast("int")
            ),
        )
        .withColumn(
            "site",
            F.when(rid % 11 == 0, F.lit(None).cast("string")).otherwise(F.col("site")),
        )
    )
    return logs.filter(_unsafe_spec().to_column()).select("id", "site", "http_method")


def _unsafe_method_sql() -> str:
    from pond_spark.schema import HTTP_METHODS

    methods = "[" + ", ".join(f"'{m}'" for m in HTTP_METHODS) + "]"
    return f"""
WITH {LOGS_CTE},
enr AS (SELECT id,
  CASE WHEN id % 11 = 0 THEN NULL ELSE site END AS site,
  {methods}[CAST(id % 16 AS INT) + 1] AS http_method
FROM logs)
SELECT id, site, http_method FROM enr WHERE {_unsafe_spec().to_sql()}
"""


def q_uri_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10+F11 analog on part: exact match OR-set + starts-with."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    spec = FilterSpec(uri_prefix="PRO", columns={"http_uri": "p_type"})
    return part.filter(spec.to_column())


URI_PREFIX_SQL = "SELECT * FROM part WHERE starts_with(p_type, 'PRO')"


def q_host_generator_uri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+F3+F10 combined: host OR-set (NULL host never matches),
    generator OR-set, and exact-URI equality — compiled through the
    same FilterSpec conjunction the server applies (Filter.cxx:64-82).
    Columns synthesized deterministically on the log fixture; some
    hosts NULLed to exercise the NULL-never-matches rule."""
    rid = F.col("id")
    logs = (
        events_as_logs(spark, sf_dir)
        .withColumn(
            "host",
            F.when(rid % 13 == 0, F.lit(None).cast("string")).otherwise(
                F.concat(F.lit("h"), (rid % 4).cast("string"), F.lit(".example"))
            ),
        )
        .withColumn(
            "generator",
            F.element_at(
                F.array(F.lit("gen1"), F.lit("gen2"), F.lit("other")),
                (rid % 3 + 1).cast("int"),
            ),
        )
        .withColumn("http_uri", F.concat(F.lit("/"), F.col("site"), F.lit("/index")))
    )
    spec = FilterSpec(
        hosts=frozenset({"h0.example", "h2.example"}),
        generators=frozenset({"gen1", "gen2"}),
        uri="/click/index",
    )
    return logs.filter(spec.to_column()).select(
        "id", "host", "generator", "http_uri"
    )


def _host_generator_uri_sql() -> str:
    spec = FilterSpec(
        hosts=frozenset({"h0.example", "h2.example"}),
        generators=frozenset({"gen1", "gen2"}),
        uri="/click/index",
    )
    return f"""
WITH {LOGS_CTE},
enr AS (SELECT id,
  CASE WHEN id % 13 = 0 THEN NULL
       ELSE 'h' || CAST(id % 4 AS VARCHAR) || '.example' END AS host,
  ['gen1','gen2','other'][CAST(id % 3 AS INT) + 1] AS generator,
  '/' || site || '/index' AS http_uri
FROM logs)
SELECT id, host, generator, http_uri FROM enr WHERE {spec.to_sql()}
"""


_METHOD_SPEC = FilterSpec(methods=frozenset({"GET", "POST", "DELETE"}))


def q_method_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: method= OR-set — bitmask over the method enum in the
    reference (src/Protocol.hxx:153-158, Filter.cxx:41) → set
    membership here. NULL method (synthesized every 19th row) never
    matches the set."""
    from pond_spark.schema import HTTP_METHODS

    rid = F.col("id")
    logs = events_as_logs(spark, sf_dir).withColumn(
        "http_method",
        F.when(rid % 19 == 0, F.lit(None).cast("string")).otherwise(
            F.element_at(
                F.array(*[F.lit(m) for m in HTTP_METHODS]), (rid % 16 + 1).cast("int")
            )
        ),
    )
    return logs.filter(_METHOD_SPEC.to_column()).select("id", "http_method")


def _method_filter_sql() -> str:
    from pond_spark.schema import HTTP_METHODS

    methods = "[" + ", ".join(f"'{m}'" for m in HTTP_METHODS) + "]"
    return f"""
WITH {LOGS_CTE},
enr AS (SELECT id,
  CASE WHEN id % 19 = 0 THEN NULL
       ELSE {methods}[CAST(id % 16 AS INT) + 1] END AS http_method
FROM logs)
SELECT id, http_method FROM enr WHERE {_METHOD_SPEC.to_sql()}
"""


#: pinned "now" for the F12/F13 time-sugar queries — the parser resolves
#: relative specs against it deterministically (oracle uses the same
#: resolved literals via FilterSpec.to_sql).
TIME_NOW = dt.datetime(2024, 1, 10, 12, 0, 0)


def _time_sugar_spec() -> FilterSpec:
    """F13 relative offset + F12/F13 partial ISO date: since='-132h'
    resolves to 2024-01-05T00:00; until='2024-01-11' is a partial date
    spanning its whole day (doc/index.rst:353-383 — the client uses
    start+duration for until, src/client/Main.cxx:169-178)."""
    from pond_spark.timeparse import since_until

    lo, hi = since_until(since="-132h", until="2024-01-11", now=TIME_NOW)
    return FilterSpec(sites=frozenset({"click", "view"}), since=lo, until=hi)


def q_time_sugar(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = events_as_logs(spark, sf_dir)
    return Query(logs).filter(_time_sugar_spec()).to_df()


def _time_sugar_sql() -> str:
    return f"WITH {LOGS_CTE} SELECT * FROM logs WHERE {_time_sugar_spec().to_sql()}"


def _time_today_spec() -> FilterSpec:
    """F12 'today' sugar: local(=UTC)-midnight window of the pinned
    now (src/client/Main.cxx:163-168)."""
    from pond_spark.timeparse import since_until

    lo, hi = since_until(today=True, now=TIME_NOW)
    return FilterSpec(since=lo, until=hi)


def q_time_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = events_as_logs(spark, sf_dir)
    return Query(logs).filter(_time_today_spec()).to_df()


def _time_today_sql() -> str:
    return f"WITH {LOGS_CTE} SELECT * FROM logs WHERE {_time_today_spec().to_sql()}"


# ---------------------------------------------------------------------------
# north-star extensions: dedup / text analysis / similarity / multimodal


def _clean_catalog_twin(path: str, vectors: bool = False) -> None:
    """Remove a throwaway twin catalog and EVERY sidecar it can leave
    behind — params/advise/retention sidecars, compaction remnants,
    and (ADVICE r9, medium) the ``.lease.json`` files CatalogStore's
    lease-by-default mutations create: a killed driver leaves a
    live-looking lease (different pid ⇒ not re-entrant), and every
    correctness/bench re-run within ttl_s would fail LeaseHeldError if
    the lease survived the cleanup. ``vectors=True`` also clears the
    ``.vectors`` sibling's family (the verified-gate store)."""
    import shutil

    roots = [path] + ([path + ".vectors"] if vectors else [])
    suffixes = (
        "", "._old", "._compact", ".params.json", ".lease.json",
        ".advise.jsonl", ".advise.jsonl._staged",
        ".retention.jsonl", ".retention.jsonl._staged",
    )
    for root in roots:
        for suf in suffixes:
            p = root + suf
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


#: r7 `_words('')` sweep fixture rows — empty, whitespace-only and
#: sub-n-word docs that exercise the zero-tokens-for-empty rule in
#: every consumer: they must yield n_words=0 (not 1), keep '' out of
#: vocabularies, and produce ZERO shingles (the pre-fix DuckDB twins
#: fabricated one partial gram per short doc, so the two identical
#: 'tiny dup' docs and the two empty docs would have paired at
#: jaccard 1.0 — with the fix, neither engine pairs them).
_TEXT_EDGE_ROWS = [
    (9000001, ""),
    (9000002, "  \t  "),
    (9000003, "solo"),
]
_TEXT_EDGE_VALUES = (
    "(VALUES (9000001, ''), (9000002, '  \t  '), (9000003, 'solo')) "
    "v(doc_id, text)"
)


def _text_edge_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    edge = spark.createDataFrame(_TEXT_EDGE_ROWS, "doc_id long, text string")
    return docs.unionByName(edge)


_TEXT_EDGE_DOCS_SQL = (
    "(SELECT doc_id, text FROM documents UNION ALL "
    f"SELECT * FROM {_TEXT_EDGE_VALUES})"
)

_DEDUP_EDGE_ROWS = [
    (9000001, "", "en"),
    (9000002, "  \t  ", "en"),
    (9000003, "solo", "en"),
    (9000004, "tiny dup", "en"),
    (9000005, "tiny dup", "en"),
    (9000006, "", "en"),
]


def _dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id, text, lang) + the short-doc edge rows for the
    shingle-family fixtures (see _TEXT_EDGE_ROWS note)."""
    docs = _documents(spark, sf_dir).select("doc_id", "text", "lang")
    edge = spark.createDataFrame(
        _DEDUP_EDGE_ROWS, "doc_id long, text string, lang string"
    )
    return docs.unionByName(edge)


_DEDUP_DOCS_SQL = (
    "(SELECT doc_id, text, lang FROM documents UNION ALL "
    "SELECT * FROM (VALUES (9000001, '', 'en'), (9000002, '  \t  ', 'en'), "
    "(9000003, 'solo', 'en'), (9000004, 'tiny dup', 'en'), "
    "(9000005, 'tiny dup', 'en'), (9000006, '', 'en')) v(doc_id, text, lang))"
)


#: fixed BM25 query shared by Spark and the oracle
BM25_TERMS = ("vector", "hash", "stream", "window")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-25 for a fixed bag of query terms
    (functions/bm25.py): early postings filter, two narrow-key
    shuffles, broadcast corpus stats, integer-quantized per-term
    contributions so the doc scores are exact BIGINT sums.

    Hashed projection: ``(doc_id, n_terms, rank)`` — the quantized
    score stays INTERNAL to the ordering (both engines rank by it with
    the doc_id tiebreak), so a last-ulp ``floor(ln·scale)`` boundary
    flip only shows if it actually reorders two docs, not whenever a
    single floored value moves (VERDICT r3 hardening of the PERF_NOTES
    hash-stability rule)."""
    from pond_spark.functions.bm25 import bm25_search

    out = bm25_search(_fan(_documents(spark, sf_dir)), BM25_TERMS, k=25)
    return _bm25_rank_projection(out)


def _bm25_rank_projection(out: DataFrame) -> DataFrame:
    """THE (score_q desc, doc_id asc) rank projection both BM25 rows
    (in-query and index-backed) hash — one definition so the 'same
    twin' oracle pairing can't drift. k<=25 rows: the unpartitioned
    window is a single tiny task."""
    from pyspark.sql.window import Window

    win = Window.orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
    return out.select(
        "doc_id",
        "n_terms",
        F.row_number().over(win).cast("long").alias("rank"),
    )


def _bm25_search_sql() -> str:
    from pond_spark.functions.bm25 import bm25_search_sql

    return (
        "SELECT doc_id, n_terms, CAST(row_number() OVER "
        "(ORDER BY score_q DESC, doc_id ASC) AS BIGINT) AS rank FROM ("
        + bm25_search_sql(BM25_TERMS, k=25)
        + ")"
    )


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (functions/hybrid.py): BM25 top-25 and brute
    cosine top-25 fused with Reciprocal Rank Fusion (Cormack et al.
    SIGIR'09) — the two-tower RAG retrieval shape. Hashed projection
    is integer ranks only; the double RRF score stays internal to the
    ordering (same fixed-order fold in both engines)."""
    from pond_spark.functions.hybrid import hybrid_search

    return hybrid_search(
        _fan(_documents(spark, sf_dir)),
        _fan(_embeddings(spark, sf_dir)),
        BM25_TERMS,
        QUERY_VEC,
        k=10,
        n_per_leg=25,
    )


def _hybrid_search_sql() -> str:
    from pond_spark.functions.bm25 import bm25_search_sql

    return f"""
WITH bm AS ({bm25_search_sql(BM25_TERMS, k=25)}),
bmr AS (SELECT doc_id,
               row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS rank_1
        FROM bm),
cos AS (
  SELECT vec_id, round(
    list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, {_QVEC_SQL}),
                s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (a,b)->a+b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
                x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))), (a,b)->a+b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform({_QVEC_SQL},
                x -> x*x)), (a,b)->a+b))), 6) AS cosine
  FROM embeddings ORDER BY cosine DESC, vec_id ASC LIMIT 25),
cr AS (SELECT vec_id AS doc_id,
              row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank_2
       FROM cos),
f AS (SELECT coalesce(bmr.doc_id, cr.doc_id) AS doc_id,
             bmr.rank_1 AS rank_1, cr.rank_2 AS rank_2
      FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id),
s AS (SELECT doc_id, rank_1, rank_2,
             coalesce(1.0/(60.0 + rank_1), 0.0)
               + coalesce(1.0/(60.0 + rank_2), 0.0) AS sc
      FROM f),
r AS (SELECT doc_id, CAST(rank_1 AS BIGINT) AS rank_1,
             CAST(rank_2 AS BIGINT) AS rank_2,
             CAST(row_number() OVER (ORDER BY sc DESC, doc_id ASC) AS BIGINT)
               AS rank
      FROM s)
SELECT doc_id, rank_1, rank_2, rank FROM r WHERE rank <= 10
"""


def _text_index_path(sf_dir: str) -> str:
    """ONE definition of where the persisted text index lives per sf —
    the contract row (build+search) and the bench serving probe must
    agree or the probe silently serves a different index."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"pond_text_idx_{tag}")


def q_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED BM25 postings index (functions/lexindex.py): build
    writes (word, doc_id, tf, dl, df) partitionBy(word_bucket) with
    denormalized scoring stats; search reads only the query terms'
    buckets via partition pruning and scores with the identical
    quantized expression as bm25_search. Oracle: the same rank twin as
    q_bm25_search — materializing postings must not change a single
    result row."""
    from pond_spark.functions.lexindex import build_text_index

    docs = _fan(_documents(spark, sf_dir))
    idx = build_text_index(docs, _text_index_path(sf_dir), n_buckets=64)
    return _bm25_rank_projection(idx.search(BM25_TERMS, k=25))


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights toward the English slice
    (functions/dsir.py): hashed-unigram bucket likelihood ratios,
    n_buckets-bounded statistics, broadcast scoring join. The whole
    output frame is integer columns (weight_q inherits the nbayes
    logq adjudication + margin audit)."""
    from pond_spark.functions.dsir import dsir_weights

    return dsir_weights(
        _fan(_documents(spark, sf_dir)), F.col("lang") == "en", n_buckets=256
    )


def _dsir_weights_sql() -> str:
    from pond_spark.functions.dsir import dsir_weights_sql

    return dsir_weights_sql("lang = 'en'", n_buckets=256)


def q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DSIR resampling head: the 50 most target-like
    docs, ties by id — TakeOrderedAndProject, no global sort."""
    from pond_spark.functions.dsir import dsir_topk

    return dsir_topk(
        _fan(_documents(spark, sf_dir)),
        F.col("lang") == "en",
        k=50,
        n_buckets=256,
    )


def _dsir_topk_sql() -> str:
    from pond_spark.functions.dsir import dsir_weights_sql

    inner = dsir_weights_sql("lang = 'en'", n_buckets=256)
    return f"""
WITH weights AS ({inner})
SELECT doc_id, n_tokens, weight_q,
       CAST(row_number() OVER (ORDER BY weight_q DESC, doc_id ASC) AS BIGINT)
         AS rank
FROM weights ORDER BY weight_q DESC, doc_id ASC LIMIT 50
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-stable corpus permutation + shard split
    (operators/packing.reproducible_shuffle): portable affine hash
    key, hash-balanced shard, per-shard position — one exchange +
    n_shards parallel local sorts, never a global window."""
    from pond_spark.operators.packing import reproducible_shuffle

    return reproducible_shuffle(
        _fan(_documents(spark, sf_dir)), n_shards=16, seed=7
    ).select("doc_id", "shuffle_key", "shard", "pos")


def _shuffle_shards_sql() -> str:
    from pond_spark.operators.packing import reproducible_shuffle_sql

    return reproducible_shuffle_sql(
        16, "documents", seed=7, cols="doc_id"
    )


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 tf-idf keywords (functions/tfidf.py): explode →
    two map-side-combined groupBys → one term-keyed join → per-doc
    window. The score is integer-quantized (tf * floor(ln(N/df)*1e6))
    so ranking, cutoff and hash are all exact-integer comparisons —
    the PERF_NOTES hash-stability rule applied to a ranking metric."""
    from pond_spark.functions.tfidf import tfidf_keywords

    return tfidf_keywords(_fan(_documents(spark, sf_dir)), k=5, min_df=1)


def _tfidf_keywords_sql() -> str:
    from pond_spark.functions.tfidf import tfidf_keywords_sql

    return tfidf_keywords_sql(k=5, min_df=1)


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive-Bayes language classifier trained AND applied
    in-engine (functions/nbayes.py — the statistical ancestor of the
    fastText filters in CCNet-style curation, Wenzek et al. 2020
    §3.2): deterministic id%5 holdout, Laplace-smoothed token
    likelihoods, integer-quantized log-probabilities so the per-class
    score sums and the argmax are exact-BIGINT arithmetic in both
    engines.

    Hashed projection: the quantized per-class score stays INTERNAL to
    the argmax — a last-ulp ``floor(ln·scale)`` flip only shows if it
    changes the winning class (VERDICT r3 hardening)."""
    from pond_spark.functions.nbayes import nb_classify

    return nb_classify(_fan(_documents(spark, sf_dir))).select(
        "doc_id", "label", "predicted", "n_tokens", "correct"
    )


def _nb_classify_sql() -> str:
    from pond_spark.functions.nbayes import nb_classify_sql

    return (
        "SELECT doc_id, label, predicted, n_tokens, correct FROM ("
        + nb_classify_sql()
        + ")"
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/chunking.py): 64-token
    chunks with 8-token overlap — a single shuffle-free projection
    stage (tokenize → sequence → explode → slice), embarrassingly
    parallel at any scale."""
    from pond_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _fan(_documents(spark, sf_dir)), chunk_tokens=64, overlap=8
    )


def _chunk_documents_sql() -> str:
    from pond_spark.operators.chunking import chunk_documents_sql

    return chunk_documents_sql(chunk_tokens=64, overlap=8)


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → signup → purchase conversion funnel over the
    event stream (operators/funnel.py): greedy per-user frontier
    chain, one user-keyed shuffle per step, 7-day horizon. Counts and
    ppm conversion are exact integers."""
    from pond_spark.operators.funnel import funnel
    from pond_spark.schema import read_parquet_ts

    ev = read_parquet_ts(spark, f"{sf_dir}/events.parquet")
    return funnel(
        ev,
        ["view", "click", "signup", "purchase"],
        within_seconds=7 * 86400,
    )


def _funnel_sql() -> str:
    from pond_spark.operators.funnel import funnel_sql

    return funnel_sql(
        ["view", "click", "signup", "purchase"], within_seconds=7 * 86400
    )


#: value-band interval dimension shared by Spark and the oracle.
#: The last two rows are deliberately DIRTY — an inverted interval
#: (start > end) and a NULL bound — exercising the r6 range_join fix:
#: both must silently match nothing (the between-predicate can never
#: hold) instead of driving F.sequence into a negative-step explosion.
VALUE_BANDS = [
    ("tiny", 0.0, 9.99),
    ("small", 10.0, 49.99),
    ("medium", 50.0, 199.99),
    ("large", 200.0, 10_000.0),
    ("inverted", 10_000.0, 0.0),
    ("nullband", None, 49.99),
]


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic bucketed broadcast range join (operators/rangejoin.py
    — the GeoIP strategy generalized): classify event values into
    literal bands and count per (band, site). The dim explodes into
    width-50 buckets; the fact table never shuffles for the join."""
    from pond_spark.operators.rangejoin import range_join

    logs = events_as_logs(spark, sf_dir)
    bands = spark.createDataFrame(
        VALUE_BANDS, "band string, lo double, hi double"
    )
    joined = range_join(
        logs, bands, "value", start_col="lo", end_col="hi", bucket_width=50.0
    )
    return joined.groupBy("band", "site").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(_D)).cast("double").alias("sum_value"),
    )


def _range_join_sql() -> str:
    num = lambda v: "NULL" if v is None else repr(v)  # noqa: E731
    rows = ", ".join(
        f"('{b}', {num(lo)}, {num(hi)})" for b, lo, hi in VALUE_BANDS
    )
    return f"""
WITH {LOGS_CTE},
bands(band, lo, hi) AS (VALUES {rows})
SELECT b.band AS band, l.site AS site, count(*) AS n,
       CAST(sum(CAST(l.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM logs l JOIN bands b ON l.value >= b.lo AND l.value <= b.hi
GROUP BY b.band, l.site
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-path analysis (operators/funnel.py
    event_transitions): one user-partitioned window pass with the
    engine's (ts, id) tiebreak + one narrow two-key groupBy."""
    from pond_spark.operators.funnel import event_transitions
    from pond_spark.schema import read_parquet_ts

    return event_transitions(read_parquet_ts(spark, f"{sf_dir}/events.parquet"))


def _event_transitions_sql() -> str:
    from pond_spark.operators.funnel import event_transitions_sql

    return event_transitions_sql()


def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model evaluation over the NB holdout: the (label, predicted)
    confusion matrix — the aggregate a curation team inspects before
    trusting a filter model. One extra two-key groupBy over
    q_nb_classify's exact-integer output."""
    from pond_spark.functions.nbayes import nb_classify

    return (
        nb_classify(_fan(_documents(spark, sf_dir)))
        .groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _nb_confusion_sql() -> str:
    from pond_spark.functions.nbayes import nb_classify_sql

    return (
        "SELECT label, predicted, count(*) AS n FROM ("
        + nb_classify_sql()
        + ") GROUP BY label, predicted"
    )


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) dataset-card profile (operators/profile.py).
    The corpus has no exact dups, so a shifted copy is unioned (the
    dedup_exact fixture) to make the duplicate-mass columns non-zero;
    a NULL-text copy of every 50th doc exercises the r6 NULL-as-unique
    rule — NULL docs must not count into dup_ppm."""
    from pond_spark.operators.profile import corpus_profile

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text", "source", "lang")
    dup = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "source", "lang"
    )
    nulls = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
        "source",
        "lang",
    )
    return corpus_profile(docs.unionAll(dup).unionAll(nulls))


def _corpus_profile_sql() -> str:
    from pond_spark.operators.profile import corpus_profile_sql

    return corpus_profile_sql(
        table="""(SELECT doc_id, text, source, lang FROM documents
 UNION ALL SELECT doc_id + 1000000, text, source, lang
 FROM documents WHERE doc_id % 10 = 0
 UNION ALL SELECT doc_id + 2000000, CAST(NULL AS VARCHAR), source, lang
 FROM documents WHERE doc_id % 50 = 0)"""
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest. The corpus has no exact dups, so
    union a shifted copy to exercise the keep-min-id semantics; two
    planted NULL-text rows exercise the r7 rule that absent content is
    never a duplicate (excluded from groups, kept by dedup_exact)."""
    from pond_spark.dedup import exact_duplicate_groups

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(8_000_001, None), (8_000_002, None)], "doc_id long, text string"
    )
    docs = docs.unionByName(edge)
    dup = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return exact_duplicate_groups(docs.unionAll(dup), "text", "doc_id")


DEDUP_EXACT_SQL = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES (8000001, CAST(NULL AS VARCHAR)),
                                  (8000002, CAST(NULL AS VARCHAR))) v(doc_id, text)),
allrows AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT doc_id + 1000000, text FROM base)
SELECT sha256(text) AS content_sha, min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM allrows WHERE text IS NOT NULL GROUP BY sha256(text)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing >= 1 distinct
    4-gram with the pseudo eval split (doc_id % 97 == 0) — on this
    short-doc corpus (~50 tokens) 4-grams isolate the planted near-dups
    of eval documents (8 hits at sf0.01) while 8-grams find nothing and
    3-grams sweep in a third of the corpus. The broadcast semi-join
    plan is the 100 TB shape: eval grams are tiny, corpus grams never
    shuffle."""
    from pond_spark.dedup.decontaminate import contamination_report

    docs = _documents(spark, sf_dir)
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_report(corpus, eval_set, "text", "doc_id", n=4)


DECONTAMINATE_SQL = """
WITH g AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 4
           THEN list_transform(generate_series(1, len(toks) - 3),
                i -> array_to_string(toks[i:i+3], ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS grams
  FROM (SELECT doc_id,
               (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS toks
        FROM documents)),
eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
dg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0)
SELECT dg.doc_id, count(*) AS hit_grams
FROM dg JOIN eg USING (gram)
GROUP BY dg.doc_id
HAVING count(*) >= 1
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain extraction over a
    deterministic messy-URL view of the log fixture: mixed-case
    scheme/host, default and non-default ports, tracking params,
    unsorted query strings, fragments, public-suffix-lite domains.
    Pure regexp/array expressions — the 100 TB inline-scan shape."""
    logs = events_as_logs(spark, sf_dir)
    rid = F.col("id")
    scheme = F.when(rid % 3 == 0, F.lit("HTTPS://")).otherwise(F.lit("HTTP://"))
    suffix = F.when(rid % 5 == 0, F.lit(".CO.UK")).otherwise(F.lit(".COM"))
    port = (
        F.when(rid % 4 == 0, F.when(rid % 3 == 0, F.lit(":443")).otherwise(F.lit(":80")))
        .when(rid % 4 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    qs = F.when(rid % 2 == 0, F.lit("?utm_source=feed&b=2&a=1")).otherwise(F.lit(""))
    # fragment variant with an embedded '?': the r6 fragment-first fix
    # must NOT resurface it as the query string
    frag = (
        F.when(rid % 11 == 0, F.lit("#Frag"))
        .when(rid % 13 == 0, F.lit("#Anchor?fake=9"))
        .otherwise(F.lit(""))
    )
    # schemeless rows (r6 fix: no more ':///' collapse), userinfo rows
    # (host, not 'user'), trailing-dot FQDN rows (group with the
    # dotless host)
    schemeless = rid % 17 == 0
    userinfo = F.when(rid % 19 == 0, F.lit("User:pw@")).otherwise(F.lit(""))
    dot = F.when(rid % 23 == 0, F.lit(".")).otherwise(F.lit(""))
    url = F.concat(
        F.when(schemeless, F.lit("")).otherwise(scheme),
        F.when(schemeless, F.lit("")).otherwise(userinfo),
        F.lit("WWW."),
        F.upper(F.col("site")),
        F.lit(".EXAMPLE"),
        suffix,
        dot,
        port,
        F.lit("/T/"),
        F.col("site"),
        F.lit("/"),
        (rid % 7).cast("string"),
        qs,
        frag,
    )
    from pond_spark.functions.urlnorm import normalize_urls

    return normalize_urls(
        logs.select("id", url.alias("url")), "url", keep_cols=("id",)
    )


URL_NORMALIZE_SQL = """
WITH {logs_cte},
u AS (
  SELECT id,
         (CASE WHEN id % 17 = 0 THEN ''
               WHEN id % 3 = 0 THEN 'HTTPS://' ELSE 'HTTP://' END)
         || (CASE WHEN id % 17 = 0 THEN ''
                  WHEN id % 19 = 0 THEN 'User:pw@' ELSE '' END)
         || 'WWW.' || upper(site) || '.EXAMPLE'
         || (CASE WHEN id % 5 = 0 THEN '.CO.UK' ELSE '.COM' END)
         || (CASE WHEN id % 23 = 0 THEN '.' ELSE '' END)
         || (CASE WHEN id % 4 = 0
                  THEN (CASE WHEN id % 3 = 0 THEN ':443' ELSE ':80' END)
                  WHEN id % 4 = 1 THEN ':8080' ELSE '' END)
         || '/T/' || site || '/' || CAST(id % 7 AS VARCHAR)
         || (CASE WHEN id % 2 = 0 THEN '?utm_source=feed&b=2&a=1' ELSE '' END)
         || (CASE WHEN id % 11 = 0 THEN '#Frag'
                  WHEN id % 13 = 0 THEN '#Anchor?fake=9' ELSE '' END) AS url
  FROM logs),
p0 AS (
  SELECT id, regexp_replace(url, '#.*$', '') AS u0 FROM u),
p1 AS (
  SELECT id, u0,
         regexp_matches(u0, '^[A-Za-z][A-Za-z0-9+.-]*://') AS schemed,
         regexp_replace(u0, '^//', '') AS ub
  FROM p0),
p AS (
  SELECT id,
         CASE WHEN schemed
              THEN lower(coalesce(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), ''))
              ELSE '' END AS scheme,
         regexp_replace(lower(CASE WHEN schemed
              THEN coalesce(regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '')
              ELSE coalesce(regexp_extract(ub, '^([^/?#]+)', 1), '') END),
              '^.*@', '') AS auth,
         CASE WHEN schemed
              THEN coalesce(regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '')
              ELSE coalesce(regexp_extract(ub, '^[^/?#]+([^?#]*)', 1), '') END AS path0,
         coalesce(regexp_extract(u0, '\\?([^#]*)', 1), '') AS q,
         schemed
  FROM p1),
hp AS (
  SELECT id, scheme, path0, q, schemed,
         (CASE WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
               WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
               ELSE auth END) AS hport,
         regexp_replace(split_part(auth, ':', 1), '\\.$', '') AS dhost
  FROM p),
n AS (
  SELECT id,
         (CASE WHEN schemed THEN scheme || '://' ELSE '' END) AS scheme,
         regexp_replace(split_part(hport, ':', 1), '\\.$', '')
           || (CASE WHEN contains(hport, ':')
                    THEN ':' || regexp_extract(hport, ':([^:]*)$', 1)
                    ELSE '' END) AS host,
         (CASE WHEN path0 = '' THEN '/' ELSE path0 END) AS path,
         array_to_string(list_sort(list_filter(string_split(q, '&'),
           x -> NOT (split_part(x, '=', 1) LIKE 'utm\\_%' ESCAPE '\\'
                     OR split_part(x, '=', 1) IN
                        ('gclid','fbclid','msclkid','igshid','mc_eid')
                     OR x = ''))), '&') AS params
  FROM hp),
d AS (
  SELECT id, dhost FROM hp),
dom AS (
  SELECT id, dhost, string_split(dhost, '.') AS labels,
         array_to_string(string_split(dhost, '.')[-2:], '.') AS last2
  FROM d),
dom2 AS (
  SELECT id, dhost, labels,
         (CASE WHEN last2 IN ('co.uk','org.uk','ac.uk','com.au','net.au',
                              'org.au','co.jp','co.nz','com.br','co.in')
                    AND len(labels) >= 3 THEN 3
               ELSE least(len(labels), 2) END) AS take
  FROM dom)
SELECT n.id,
       n.scheme || n.host || n.path
         || (CASE WHEN n.params <> '' THEN '?' || n.params ELSE '' END)
         AS url_norm,
       (CASE WHEN regexp_matches(dom2.dhost, '^\\d+\\.\\d+\\.\\d+\\.\\d+$')
                  OR len(dom2.labels) <= 1 THEN dom2.dhost
             ELSE array_to_string(dom2.labels[-dom2.take:], '.') END) AS domain
FROM n JOIN dom2 ON n.id = dom2.id
""".replace("{logs_cte}", LOGS_CTE)


def _psl_host_expr(rid: F.Column, src: F.Column) -> F.Column:
    """Deterministic messy-host view exercising every PSL rule type:
    normal TLD, second-level registry, wildcard ``*.ck``, exception
    ``!www.ck``, private-domain entry, IPv4 literal, single-label —
    with scheme/port noise the extractor must strip."""
    m = rid % 7
    host = (
        F.when(m == 0, F.concat(F.lit("www."), src, F.lit(".example.com")))
        .when(m == 1, F.concat(F.lit("news."), src, F.lit(".example.co.uk")))
        .when(m == 2, F.concat(F.lit("a."), src, F.lit(".b.ck")))
        .when(m == 3, F.lit("www.ck"))
        .when(m == 4, F.concat(src, F.lit(".github.io")))
        .when(m == 5, F.concat(F.lit("10.0.0."), (rid % 250).cast("string")))
        .otherwise(F.lit("localhost"))
    )
    return (
        F.when(
            rid % 2 == 0,
            F.concat(
                F.lit("https://"),
                # userinfo + trailing-dot noise (r6 host-strip fixes)
                F.when(rid % 6 == 0, F.lit("u:p@")).otherwise(F.lit("")),
                host,
                F.when(rid % 10 == 0, F.lit(".")).otherwise(F.lit("")),
                F.lit(":443/p"),
            ),
        ).otherwise(
            # schemeless-with-path rows: the path must not pollute the
            # extracted host (r6 fix)
            F.when(rid % 9 == 0, F.concat(host, F.lit("/path?x=1")))
            .otherwise(host)
        )
    )


def q_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full public-suffix-list registered-domain extraction
    (functions/psl.py): wildcard + exception + longest-match semantics
    as a shuffle-free cascade of broadcast hash probes — the corpus
    never shuffles or explodes. Rule set: the bundled verified PSL
    snapshot; production swaps in the full Mozilla dat via
    load_psl_file with the identical plan shape."""
    from pond_spark.functions.psl import psl_domains

    docs = _fan(_documents(spark, sf_dir)).select(
        "doc_id",
        _psl_host_expr(F.col("doc_id"), F.col("source")).alias("url"),
    )
    return psl_domains(docs, url_col="url", id_col="doc_id")


def _psl_domains_sql() -> str:
    from pond_spark.functions.psl import (
        DEFAULT_RULES,
        parse_psl,
        psl_rules_values_sql,
    )

    ex, wd, k = psl_rules_values_sql(parse_psl(DEFAULT_RULES))
    return f"""
WITH docs0 AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 7 = 0 THEN 'www.' || source || '.example.com'
          WHEN doc_id % 7 = 1 THEN 'news.' || source || '.example.co.uk'
          WHEN doc_id % 7 = 2 THEN 'a.' || source || '.b.ck'
          WHEN doc_id % 7 = 3 THEN 'www.ck'
          WHEN doc_id % 7 = 4 THEN source || '.github.io'
          WHEN doc_id % 7 = 5 THEN '10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
          ELSE 'localhost' END) AS h0
  FROM documents),
u AS (SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 'https://'
                       || (CASE WHEN doc_id % 6 = 0 THEN 'u:p@' ELSE '' END)
                       || h0
                       || (CASE WHEN doc_id % 10 = 0 THEN '.' ELSE '' END)
                       || ':443/p'
                  ELSE (CASE WHEN doc_id % 9 = 0 THEN h0 || '/path?x=1'
                        ELSE h0 END) END AS url
      FROM docs0),
h AS (SELECT doc_id,
             regexp_replace(lower(split_part(regexp_replace(
               CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')
                    THEN regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)
                    ELSE coalesce(regexp_extract(
                           regexp_replace(url, '^//', ''),
                           '^([^/?#]+)', 1), '') END,
               '^.*@', ''), ':', 1)), '\\.$', '') AS host
      FROM u),
l AS (SELECT doc_id, host, string_split(host, '.') AS labs,
             len(string_split(host, '.')) AS n
      FROM h),
ex(key, prio, ps) AS (VALUES {ex}),
wd(key, prio, ps) AS (VALUES {wd}),
cand AS (
  SELECT l.doc_id, r.prio, r.ps
  FROM l JOIN generate_series(1, {k}) g(i) ON l.n >= g.i
  JOIN ex r ON r.key = array_to_string(l.labs[l.n - g.i + 1 : l.n], '.')
  UNION ALL
  SELECT l.doc_id, r.prio, r.ps
  FROM l JOIN generate_series(2, {k}) g(i) ON l.n >= g.i
  JOIN wd r ON r.key = '*.' || array_to_string(l.labs[l.n - g.i + 2 : l.n], '.')),
best AS (SELECT doc_id, CAST(max_by(ps, prio) AS INT) AS ps
         FROM cand GROUP BY doc_id)
SELECT l.doc_id AS doc_id, l.host AS host,
       CAST(coalesce(b.ps, 1) AS INT) AS ps_labels,
       (CASE WHEN regexp_matches(l.host, '^\\d+\\.\\d+\\.\\d+\\.\\d+$')
                  OR l.n <= 1 THEN l.host
             WHEN l.n >= coalesce(b.ps, 1) + 1
             THEN array_to_string(l.labs[l.n - coalesce(b.ps, 1) : l.n], '.')
             ELSE NULL END) AS domain
FROM l LEFT JOIN best b USING (doc_id)
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level line dedup (Wenzek et al. 2020 §3.1):
    lines recurring in ≥2 distinct documents are boilerplate and get
    stripped; each document's surviving lines are reassembled in
    order. The synthetic corpus is single-line, so 4-word chunks stand
    in as pseudo-paragraphs — the machinery (explode → 64-bit-hash
    count → anti-join strip → ordered reassembly) is exactly the
    newline path."""
    from pond_spark.dedup.lines import strip_duplicate_lines

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    return strip_duplicate_lines(
        docs, "text", "doc_id", min_docs=2, words_per_chunk=4
    )


LINE_DEDUP_SQL = """
WITH s AS (SELECT doc_id,
                  list_transform(
                    generate_series(0, (len(ws) - 1) // 4),
                    i -> array_to_string(ws[i*4+1 : i*4+4], ' ')) AS ls
           FROM (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents)),
l AS (SELECT doc_id, unnest(ls) AS line,
             generate_subscripts(ls, 1) - 1 AS pos
      FROM s),
dup AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM dup)),
reasm AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text_clean,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
SELECT t.doc_id, coalesce(r.text_clean, '') AS text_clean, t.n_lines,
       t.n_lines - coalesce(r.n_kept, 0) AS n_removed
FROM tot t LEFT JOIN reasm r ON t.doc_id = r.doc_id
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher A1.2 repetition profile: duplicate-word and duplicate-
    3-gram fractions (single-pass array expressions) plus the fraction
    of characters covered by the most frequent word-bigram (explode +
    two keyed groupBys — linear in doc length, never O(words²))."""
    from pond_spark.functions.repetition import repetition_metrics

    docs = _text_edge_docs(spark, sf_dir)
    return repetition_metrics(docs, "text", "doc_id", top_ngram=2, dup_ngram=3)


REPETITION_SQL = f"""
WITH w AS (SELECT doc_id, length(text) * 1.0 AS nchars,
                  (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS ws
           FROM {_TEXT_EDGE_DOCS_SQL}),
m AS (SELECT doc_id, nchars, len(ws) AS n_words,
             round(CASE WHEN len(ws) > 0
                   THEN 1.0 - len(list_distinct(ws)) * 1.0 / len(ws)
                   ELSE 0.0 END, 6) AS dup_word_frac,
             (CASE WHEN len(ws) >= 3 THEN
                list_transform(generate_series(1, len(ws) - 2),
                               i -> array_to_string(ws[i:i+2], ' '))
              ELSE CAST([] AS VARCHAR[]) END) AS g3,
             (CASE WHEN len(ws) >= 2 THEN
                list_transform(generate_series(1, len(ws) - 1),
                               i -> array_to_string(ws[i:i+1], ' '))
              ELSE CAST([] AS VARCHAR[]) END) AS g2
      FROM w),
m2 AS (SELECT doc_id, nchars, n_words, dup_word_frac,
              round(CASE WHEN len(g3) > 0
                    THEN 1.0 - len(list_distinct(g3)) * 1.0 / len(g3)
                    ELSE 0.0 END, 6) AS dup_3gram_frac,
              g2
       FROM m),
e AS (SELECT doc_id, unnest(g2) AS gram FROM m2),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM e GROUP BY doc_id, gram),
ts AS (SELECT doc_id,
              max({{'cnt': cnt, 'len': length(gram), 'gram': gram}}) AS s
       FROM c GROUP BY doc_id),
t AS (SELECT doc_id, (s).cnt * (s).len AS covered FROM ts)
SELECT m2.doc_id, n_words, dup_word_frac, dup_3gram_frac,
       round(CASE WHEN nchars > 0 AND covered IS NOT NULL
             THEN least(covered / nchars, 1.0) ELSE 0.0 END, 6)
         AS top_2gram_char_frac
FROM m2 LEFT JOIN t ON m2.doc_id = t.doc_id
"""


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's SQL-expressible sub-chain composed as
    ONE Catalyst plan: Gopher quality gate → exact dedup (keep-min-id)
    → deterministic 50% hash sample. The oracle chains the same three
    stages from the per-stage twin builders — stage composition is
    what's being checked, each stage is already oracled alone."""
    from pond_spark.pipeline import CurationConfig, curate

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    out = curate(
        docs,
        CurationConfig(
            stages=("quality", "exact_dedup", "sample"),
            sample_rate=0.5,
            sample_salt="curate",
        ),
    )
    return out.select("doc_id", "text")


def _curation_sql() -> str:
    from pond_spark.functions.text import quality_rules_sql
    from pond_spark.operators.sampling import sample_sql

    return f"""
WITH w AS (SELECT doc_id, text,
                  (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS words
           FROM documents),
q AS (SELECT doc_id, text
      FROM (SELECT __w.doc_id, __w.text, {quality_rules_sql("text")}
            FROM w AS __w) qq
      WHERE keep),
d AS (SELECT q.doc_id, q.text
      FROM q JOIN (SELECT min(doc_id) AS doc_id FROM q
                   WHERE text IS NOT NULL GROUP BY text) k
        ON q.doc_id = k.doc_id
      UNION ALL
      -- NULL-text rows are unique by the r7 rule (dedup_exact keeps
      -- them); unreachable after the quality gate, synced for parity
      SELECT doc_id, text FROM q WHERE text IS NULL)
SELECT doc_id, text FROM d WHERE {sample_sql(0.5, "doc_id", "curate")}
"""


def q_curation_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation chain with the NEAR-dedup stage (pipeline.py r7):
    quality gate → one min-id representative per connected
    near-duplicate cluster → 50% hash sample, composed as one plan.
    The pair source here is the exact lang-blocked 3-gram Jaccard
    path (near_method="ngram") because it is cross-engine replayable;
    the minhash source shares the stage code and is recall-harnessed
    by q:minhash_pairs. Stage-order semantics under test: the pair
    set is computed over the QUALITY SURVIVORS (a near-dup of a
    rejected doc must not be dropped), and sampling runs last."""
    from pond_spark.pipeline import CurationConfig, curate

    docs = _dedup_docs(spark, sf_dir)
    out = curate(
        docs,
        CurationConfig(
            stages=("quality", "near_dedup", "sample"),
            sample_rate=0.5,
            sample_salt="curate_near",
            extra={
                "near_method": "ngram",
                "near_block_col": "lang",
                "near_threshold": 0.8,
                "near_n": 3,
            },
        ),
    )
    return out.select("doc_id", "lang", "text")


def curation_near_oracle_sql(
    source: str,
    threshold: float = 0.8,
    n: int = 3,
    rate: float = 0.5,
    salt: str = "curate_near",
) -> str:
    """Parameterized DuckDB replay of the quality → n-gram-Jaccard
    near-dedup (recursive-CTE transitive closure, min-id
    representative) → hash-sample chain. ``source`` is any
    parenthesized (doc_id, lang, text) relation — the registry twin
    binds the documents fixture; the randomized fuzz
    (tests/test_pipeline.py, VERDICT r7 ask #6) binds generated
    corpora, so both run THIS sql, not a copy."""
    from pond_spark.functions.text import quality_rules_sql
    from pond_spark.operators.sampling import sample_sql

    return f"""
WITH RECURSIVE w AS (SELECT doc_id, lang, text,
                  (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS words
           FROM {source}),
q AS (SELECT doc_id, lang, text
      FROM (SELECT __w.doc_id, __w.lang, __w.text, {quality_rules_sql("text")}
            FROM w AS __w) qq
      WHERE keep),
t AS (SELECT doc_id, lang, list_distinct(CASE WHEN len(toks) >= {n}
         THEN list_transform(generate_series(1, len(toks) - {n - 1}),
              i -> array_to_string(toks[i:i+{n - 1}], ' '))
         ELSE CAST([] AS VARCHAR[]) END) AS grams
      FROM (SELECT doc_id, lang,
                   (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS toks
            FROM q)),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
                (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= {threshold}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
reach(n, m) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a),
drops AS (SELECT n AS node FROM reach GROUP BY n
          HAVING n <> least(n, min(m)))
SELECT doc_id, lang, text FROM q
WHERE doc_id NOT IN (SELECT node FROM drops)
  AND {sample_sql(rate, "doc_id", salt)}
"""


def _curation_near_sql() -> str:
    return curation_near_oracle_sql(_DEDUP_DOCS_SQL)


#: planted cross-day rows for q_curation_incremental: a day1→day2 exact
#: repeat, a twice-in-day1 text repeated in day2, a within-day2 dup
#: pair, and a day2 NULL text (absent content is never a duplicate)
_CURATE_INC_ROWS = [
    (9100002, "cross day repeated body planted for the gate"),
    (9100003, "cross day repeated body planted for the gate"),
    (9100004, "shared body registered twice on day one"),
    (9100006, "shared body registered twice on day one"),
    (9100009, "shared body registered twice on day one"),
    (9100005, "day two duplicate body planted for min id"),
    (9100007, "day two duplicate body planted for min id"),
    (9100001, None),
]

_CURATE_INC_DOCS_SQL = (
    "(SELECT doc_id, text FROM " + _DEDUP_DOCS_SQL + " UNION ALL "
    "SELECT * FROM (VALUES "
    "(9100002, 'cross day repeated body planted for the gate'), "
    "(9100003, 'cross day repeated body planted for the gate'), "
    "(9100004, 'shared body registered twice on day one'), "
    "(9100006, 'shared body registered twice on day one'), "
    "(9100009, 'shared body registered twice on day one'), "
    "(9100005, 'day two duplicate body planted for min id'), "
    "(9100007, 'day two duplicate body planted for min id'), "
    "(9100001, CAST(NULL AS VARCHAR))) v(doc_id, text))"
)


def q_curation_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-RUN incremental curation (pipeline.curate_run with a
    persisted DigestCatalog — round-9 #3, the daily-corpus shape): day
    1 = even-id documents, shipped through a resumable run that
    registers its catalog_gate survivors after the final stage; day 2
    = odd-id documents, whose catalog_gate must drop every text day 1
    saw (registered = the gate's survivors, the curate_foreach_batch
    semantic), keep NULL texts (absent content is never a duplicate,
    the r7 rule), and keep the min id of any within-day-2 duplicate.
    Output = day 2's final materialized corpus. Digest equality is
    text equality, so the oracle replays the gate as ``text NOT IN
    (day-1 non-null texts)`` plus the min-id rule — the whole
    register-then-gate composition in one statement. The reference
    has no curation pipeline; this extends the S2/S3 store discipline
    (reference src/Clone.cxx append/clone semantics) to corpus runs."""
    import hashlib
    import tempfile

    from pond_spark.pipeline import (
        CurationConfig,
        curate_run,
        final_corpus_path,
    )

    docs = _dedup_docs(spark, sf_dir).select("doc_id", "text").unionByName(
        spark.createDataFrame(_CURATE_INC_ROWS, "doc_id long, text string")
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"pond_curate_inc_{tag}")
    if os.path.isdir(root):
        import shutil

        shutil.rmtree(root)
    day1_path, day2_path = os.path.join(root, "day1"), os.path.join(root, "day2")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(day1_path)
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(day2_path)
    cat = os.path.join(root, "digests")
    cfg = CurationConfig(stages=("exact_dedup",))
    curate_run(
        spark, day1_path, os.path.join(root, "w1"), cfg,
        digest_catalog_path=cat,
    )
    rows = curate_run(
        spark, day2_path, os.path.join(root, "w2"), cfg,
        digest_catalog_path=cat,
    )
    return spark.read.parquet(final_corpus_path(rows)).select(
        "doc_id", "text"
    )


def curation_incremental_oracle_sql(source: str) -> str:
    """Parameterized DuckDB replay of the cross-run digest gate:
    register day 1 (even ids), gate day 2 (odd ids) — NULL text always
    passes, min id wins within day 2, digest equality is text
    equality. ``source`` is any parenthesized (doc_id, text) relation;
    the registry twin binds the documents fixture, the randomized fuzz
    (tests/test_pipeline.py) binds generated corpora, so both run THIS
    sql, not a copy."""
    return f"""
WITH docs AS (SELECT doc_id, text FROM {source}),
day1 AS (SELECT * FROM docs WHERE doc_id % 2 = 0),
day2 AS (SELECT * FROM docs WHERE doc_id % 2 = 1)
SELECT d2.doc_id, d2.text
FROM day2 d2
WHERE d2.text IS NULL
   OR (d2.text NOT IN (SELECT text FROM day1 WHERE text IS NOT NULL)
       AND d2.doc_id = (SELECT min(doc_id) FROM day2 x
                        WHERE x.text = d2.text))
"""


CURATION_INCREMENTAL_SQL = curation_incremental_oracle_sql(
    _CURATE_INC_DOCS_SQL
)


def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr (Lee et al. 2022) repeated-span profile: 8-token
    windows at stride 1 (the paper's unit is token sequences; stride-1
    token shingling has full recall for ≥ n-token repeats with no
    alignment blind spot), counted across distinct docs. Spark groups
    8-byte xxhash64 keys; the oracle groups the window text itself —
    identical equivalence classes."""
    from pond_spark.dedup.substr import substring_dup_stats

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    return substring_dup_stats(docs, "text", "doc_id", n=8)


SUBSTRING_DUP_SQL = """
WITH base AS (SELECT doc_id,
                     (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS ws
              FROM documents),
sh AS (SELECT doc_id,
              unnest(CASE WHEN len(ws) >= 8
                     THEN list_transform(
                            generate_series(1, len(ws) - 7),
                            i -> array_to_string(ws[i:i+7], ' '))
                     ELSE CAST([] AS VARCHAR[]) END) AS s
       FROM base),
dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
d AS (SELECT doc_id, count(*) AS n_dup FROM sh
      WHERE s IN (SELECT s FROM dup) GROUP BY doc_id)
SELECT b.doc_id,
       coalesce(t.n_shingles, 0) AS n_shingles,
       coalesce(d.n_dup, 0) AS n_dup,
       round(CASE WHEN coalesce(t.n_shingles, 0) > 0
             THEN coalesce(d.n_dup, 0) * 1.0 / t.n_shingles
             ELSE 0.0 END, 6) AS dup_frac
FROM base b
LEFT JOIN tot t ON b.doc_id = t.doc_id
LEFT JOIN d ON b.doc_id = d.doc_id
"""


def q_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr REMOVAL step: cut every token inside a corpus-
    duplicated ≥ 8-token window, reassemble survivors in order."""
    from pond_spark.dedup.substr import strip_duplicate_spans

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    return strip_duplicate_spans(docs, "text", "doc_id", n=8)


SUBSTRING_STRIP_SQL = """
WITH base AS (SELECT doc_id,
                     (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS ws,
                     regexp_split_to_array(trim(text), '\\s+') AS wo
              FROM documents),
shl AS (SELECT doc_id, ws,
               CASE WHEN len(ws) >= 8
                    THEN list_transform(generate_series(1, len(ws) - 7),
                           i -> array_to_string(ws[i:i+7], ' '))
                    ELSE CAST([] AS VARCHAR[]) END AS ls
        FROM base),
sh AS (SELECT doc_id, unnest(ls) AS s,
              generate_subscripts(ls, 1) - 1 AS pos
       FROM shl),
dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
cut AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS tok
        FROM sh WHERE s IN (SELECT s FROM dup)),
tk AS (SELECT doc_id, unnest(wo) AS w,
              generate_subscripts(wo, 1) - 1 AS tok
       FROM base),
kept AS (SELECT t.doc_id, t.w, t.tok
         FROM tk t LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.tok = c.tok
         WHERE c.tok IS NULL),
re AS (SELECT doc_id, string_agg(w, ' ' ORDER BY tok) AS text_clean,
              count(*) AS nkept
       FROM kept GROUP BY doc_id)
SELECT b.doc_id,
       coalesce(re.text_clean, '') AS text_clean,
       len(b.ws) AS n_tokens,
       len(b.ws) - coalesce(re.nkept, 0) AS n_removed
FROM base b LEFT JOIN re ON b.doc_id = re.doc_id
"""


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics (tokenizer-training prep): top-100
    terms by total frequency with document frequency — one explode +
    one narrow-key groupBy + TakeOrderedAndProject."""
    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    from pond_spark.functions.text import _words

    w = docs.select(
        F.col("doc_id"), F.explode(_words(F.col("text"))).alias("word")
    )
    # two-level aggregation (r11, guide §2.3): count_distinct mixed
    # with a plain count planned an Expand (×2 duplication of the
    # exploded token stream before the exchange); aggregating per
    # (word, doc) first — map-side combined — then rolling up is
    # exactly equivalent (sum of per-doc counts == tf, row count ==
    # distinct docs) with no Expand.
    wc = w.groupBy("word", "doc_id").agg(F.count(F.lit(1)).alias("_k"))
    return (
        wc.groupBy("word")
        .agg(
            F.sum("_k").alias("tf"),
            F.count(F.lit(1)).alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("word").asc())
        .limit(100)
    )


VOCAB_STATS_SQL = """
WITH w AS (SELECT doc_id,
                  unnest((CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END)) AS word
           FROM documents)
SELECT word, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM w GROUP BY word
ORDER BY tf DESC, word ASC LIMIT 100
"""


def q_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet §3.3-style LM quality signal: per-doc bigram perplexity
    under a self-trained additive-smoothing LM. The hashed projection
    is integer-exact only — n_bigrams plus the per-doc sums of the
    joined bigram/unigram counts, which (with the vocab size) determine
    the score. Any rounded float, even round-before-DECIMAL-sum, can
    land on a representation tie where engines disagree in the last
    digit; the float score columns stay in the user API, not the hash."""
    from pond_spark.functions.lm import perplexity

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    return perplexity(docs).select("doc_id", "n_bigrams", "sum_c2", "sum_c1")


PERPLEXITY_SQL = """
WITH w AS (SELECT doc_id, (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS ws
           FROM documents),
p AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 1),
                    i -> {'w1': ws[i], 'w2': ws[i+1]})) AS pr
      FROM w WHERE len(ws) >= 2),
p2 AS (SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2 FROM p),
b AS (SELECT w1, w2, count(*) AS c2 FROM p2 GROUP BY w1, w2),
u AS (SELECT unnest((CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END)) AS w1
      FROM documents),
uc AS (SELECT w1, count(*) AS c1 FROM u GROUP BY w1),
s AS (SELECT doc_id, coalesce(c2, 0) AS c2n, coalesce(c1, 0) AS c1n
      FROM p2 LEFT JOIN b USING (w1, w2) LEFT JOIN uc USING (w1)),
a AS (SELECT doc_id, count(*) AS n_bigrams,
             sum(c2n) AS sum_c2, sum(c1n) AS sum_c1
      FROM s GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
       CAST(coalesce(a.sum_c2, 0) AS BIGINT) AS sum_c2,
       CAST(coalesce(a.sum_c1, 0) AS BIGINT) AS sum_c1
FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and quality scoring."""
    from pond_spark.functions.text import bpe_token_count, quality_score, token_count

    docs = _text_edge_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )


def _text_stats_sql() -> str:
    from pond_spark.functions.text import (
        bpe_token_count_sql,
        quality_score_sql,
        token_count_sql,
    )

    return f"""
SELECT doc_id, {token_count_sql('text')} AS n_tokens,
       {bpe_token_count_sql('text')} AS n_bpe_tokens,
       {quality_score_sql('text')} AS quality
FROM {_TEXT_EDGE_DOCS_SQL}
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language id heuristic."""
    from pond_spark.functions.text import lang_id

    docs = _text_edge_docs(spark, sf_dir)
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def _lang_id_sql() -> str:
    from pond_spark.functions.text import lang_id_sql

    return (
        f"SELECT doc_id, {lang_id_sql('text')} AS lang_pred "
        f"FROM {_TEXT_EDGE_DOCS_SQL}"
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint."""
    from pond_spark.functions.text import fingerprint

    docs = _fan(_documents(spark, sf_dir))
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


def _fingerprint_sql() -> str:
    from pond_spark.functions.text import fingerprint_sql

    return f"SELECT doc_id, {fingerprint_sql('text')} AS fingerprint FROM documents"


def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style per-doc quality metrics (word count, mean word
    length, alpha-word fraction, duplicate-bigram repetition) and the
    combined keep flag — the doc-level filter pass of a pre-training
    pipeline (Rae et al. 2021 appendix A1)."""
    from pond_spark.functions.text import quality_metrics

    docs = _text_edge_docs(spark, sf_dir)
    return quality_metrics(docs, "text", keep_cols=("doc_id",))


def _quality_rules_sql() -> str:
    from pond_spark.functions.text import quality_rules_sql

    return f"""
SELECT doc_id, {quality_rules_sql('text')}
FROM (SELECT doc_id,
             (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS words
      FROM {_TEXT_EDGE_DOCS_SQL}) __w
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text PII redaction (emails / IPv4 / phone numbers →
    placeholder tokens). The corpus carries no PII, so the query
    plants a deterministic contact line per doc before scrubbing —
    the regexes are exercised for real and the oracle applies the
    byte-identical patterns to the byte-identical input. Uses the
    staged pii_metrics (each rule's intermediate evaluated once)."""
    from pond_spark.functions.pii import pii_metrics

    docs = _fan(_documents(spark, sf_dir))
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("_t"),
    )
    return pii_metrics(salted, "_t", keep_cols=("doc_id",)).select(
        "doc_id", "n_pii", "scrubbed"
    )


def _pii_scrub_sql() -> str:
    from pond_spark.functions.pii import pii_count_sql, pii_scrub_sql

    salted = (
        "text || ' contact user' || doc_id || '@example.com or 10.0.0.' "
        "|| (doc_id % 256) || ' tel 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    return f"""
SELECT doc_id, {pii_count_sql('_t')} AS n_pii, {pii_scrub_sql('_t')} AS scrubbed
FROM (SELECT doc_id, {salted} AS _t FROM documents)
"""


#: per-language keep rates for the stratified-sampling query
SAMPLE_RATES = {"en": 0.5, "de": 1.0, "zh": 0.1, "fr": 0.25}
#: per-source mixture weights: replicate src0 2.5x, keep src1 whole
#: thin src2 to 30%, drop everything else
MIX_WEIGHTS = {"src0": 2.5, "src1": 1.0, "src2": 0.3}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language hash sampling (training-data
    curation: language rebalancing). The keep set is a pure function
    of doc ids — the oracle replays the identical Mersenne-31
    arithmetic, no engine hash functions involved."""
    from pond_spark.operators.sampling import stratified_sample

    docs = _documents(spark, sf_dir)
    return stratified_sample(
        docs, SAMPLE_RATES, stratum_col="lang", default_rate=0.75
    ).select("doc_id", "lang", "source")


def _stratified_sample_sql() -> str:
    from pond_spark.operators.sampling import stratified_sample_sql

    pred = stratified_sample_sql(SAMPLE_RATES, "lang", "doc_id", default_rate=0.75)
    return f"SELECT doc_id, lang, source FROM documents WHERE {pred}"


def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training mixture over sources: integer weights
    replicate (epoch column), fractional parts hash-sample, unlisted
    sources drop."""
    from pond_spark.operators.sampling import mixture

    docs = _documents(spark, sf_dir)
    return mixture(docs, MIX_WEIGHTS).select("doc_id", "source", "epoch")


def _mixture_sql() -> str:
    from pond_spark.operators.sampling import mixture_sql

    return mixture_sql(
        MIX_WEIGHTS, table="documents", cols="doc_id, source"
    )


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling over languages (XLM-R-style, alpha=0.5):
    the majority language downsamples toward balance, the smallest
    keeps everything — rates derived from the corpus itself
    (operators/sampling.py temperature_mixture)."""
    from pond_spark.operators.sampling import temperature_mixture

    docs = _documents(spark, sf_dir)
    return temperature_mixture(docs, alpha=0.5, source_col="lang").select(
        "doc_id", "lang", "epoch"
    )


def _temperature_mixture_sql() -> str:
    import duckdb

    from pond_spark.operators.sampling import mixture_sql, temperature_weights

    sfdir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    counts = dict(
        con.execute(
            f"SELECT lang, count(*) FROM read_parquet('{sfdir}/documents.parquet') "
            "GROUP BY lang"
        ).fetchall()
    )
    con.close()
    return mixture_sql(
        temperature_weights(counts, alpha=0.5),
        table="documents",
        source_expr="lang",
        cols="doc_id, lang",
    )


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: contiguous ~4k-token training
    shards in doc_id order via a two-level distributed prefix sum
    (the naive global-order window would single-partition the table)."""
    from pond_spark.functions.text import token_count
    from pond_spark.operators.packing import pack_shards

    docs = _fan(_documents(spark, sf_dir))
    counted = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    # bucket_width 1000 keeps the test corpora multi-bucket so the
    # two-level path is actually exercised (ids are dense from 0)
    return pack_shards(counted, budget=4096, bucket_width=1000).select(
        "doc_id", "n_tokens", "token_offset", "shard"
    )


def _pack_shards_sql() -> str:
    from pond_spark.functions.text import token_count_sql
    from pond_spark.operators.packing import pack_shards_sql

    inner = (
        f"(SELECT doc_id, {token_count_sql('text')} AS n_tokens "
        "FROM documents) t"
    )
    return pack_shards_sql(
        4096, inner, cols="doc_id, n_tokens"
    )


SEQPACK_CAP = 256
SEQPACK_BUCKETS = 16


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing sequence packing WITHOUT splitting
    (operators/seqpack.py, NEW r6): whole documents into 256-token
    training sequences, FFD per hash bucket (one exchange on the
    bucket key; Ding et al. 2024 style truncation-free packing — the
    complement of pack_shards' concat-and-chunk). Publishes the
    per-bin rollup: docs per sequence, fill, waste, anchor doc. The
    oracle replays the identical FFD fold as a recursive CTE."""
    from pond_spark.functions.text import token_count
    from pond_spark.operators.seqpack import pack_sequences

    docs = _fan(_documents(spark, sf_dir)).filter(F.col("text").isNotNull())
    counted = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    packed = pack_sequences(
        counted, SEQPACK_CAP, n_buckets=SEQPACK_BUCKETS
    )
    return packed.groupBy("bucket", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("fill_tokens"),
        (F.lit(SEQPACK_CAP) - F.sum("n_tokens")).alias("waste"),
        F.min("doc_id").alias("first_doc"),
    )


def _pack_sequences_sql() -> str:
    from pond_spark.functions.text import token_count_sql
    from pond_spark.operators.seqpack import pack_sequences_sql

    return pack_sequences_sql(
        SEQPACK_CAP, token_count_sql("text"), n_buckets=SEQPACK_BUCKETS
    )


#: KMV churn date ranges: history week vs the SKETCH_RANGE week
KMV_RANGE_A = ("2024-01-01", "2024-01-07")
KMV_RANGE_B = ("2024-01-08", "2024-01-14")


def q_kmv_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KMV/theta DISTINCT sketch with SET ALGEBRA
    (operators/kmv.py, NEW r6): per-(day, site) bottom-k distinct
    hash keys persisted once, then per-site estimated uniques for two
    week ranges PLUS the intersection (returning visitors) and
    B-minus-A (new visitors) — the queries HLL cubes cannot answer.
    Sample membership, thetas, and the integer estimates are a pure
    function of the portable hash, so this approximate sketch gets a
    HARD hash oracle (the DuckDB twin replays the sketch exactly),
    not an accuracy envelope."""
    import hashlib
    import tempfile

    from pond_spark.operators.kmv import build_kmv_sketches, kmv_churn

    logs = events_as_logs(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_kmv_{tag}")
    build_kmv_sketches(logs, path, k=64)
    (a_lo, a_hi), (b_lo, b_hi) = KMV_RANGE_A, KMV_RANGE_B
    return kmv_churn(spark, path, a_lo, a_hi, b_lo, b_hi, k=64)


def _kmv_churn_sql() -> str:
    from pond_spark.operators.kmv import kmv_churn_sql

    (a_lo, a_hi), (b_lo, b_hi) = KMV_RANGE_A, KMV_RANGE_B
    return kmv_churn_sql(LOGS_CTE, a_lo, a_hi, b_lo, b_hi, k=64)


def q_quality_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form linear regression as ONE aggregation pass
    (functions/linreg.py, NEW r6): fit n_chars ~ whitespace-tokens +
    BPE-ish tokens on the doc_id%8 sample via exact-integer Cramer,
    broadcast the four determinants, score the full corpus map-only,
    rank by the scaled residual (an exact DECIMAL(38,0) integer — no
    float anywhere). Top-25 structural outliers + the model rows at
    rank 101..104. The oracle replays the identical arithmetic in
    HUGEINT."""
    from pond_spark.functions.linreg import linreg_outliers
    from pond_spark.functions.text import bpe_token_count, token_count

    docs = _fan(_documents(spark, sf_dir)).filter(F.col("text").isNotNull())
    feats = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("t_ws"),
        bpe_token_count(F.col("text")).alias("t_bpe"),
        F.col("n_chars"),
    )
    return linreg_outliers(
        feats, "t_ws", "t_bpe", "n_chars", "doc_id", k=25, sample_mod=8
    )


def _quality_outliers_sql() -> str:
    from pond_spark.functions.linreg import linreg_outliers_sql
    from pond_spark.functions.text import bpe_token_count_sql, token_count_sql

    return linreg_outliers_sql(
        token_count_sql("text"),
        bpe_token_count_sql("text"),
        "n_chars",
        k=25,
        sample_mod=8,
        table="(SELECT * FROM documents WHERE text IS NOT NULL) d",
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs, lang-blocked, τ=0.8.

    3-word shingles (the standard near-dup shingle width): on this
    corpus unigram sets are degenerate — 25% of ALL doc pairs exceed
    0.8 unigram-jaccard, making the true answer itself quadratic —
    while 3-gram jaccard cleanly separates planted near-dups from
    background."""
    from pond_spark.dedup import ngram_jaccard_pairs

    docs = _dedup_docs(spark, sf_dir)
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", threshold=0.8, n=3
    )


NGRAM_JACCARD_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(generate_series(1, len(toks) - 2),
                i -> array_to_string(toks[i:i+2], ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS grams
  FROM (SELECT doc_id, lang,
               (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS toks
        FROM {_DEDUP_DOCS_SQL}))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.grams, b.grams)) * 1.0 /
             (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6)
         AS jaccard
FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.8
"""


def q_minhash_catalog_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental near-dedup against the persisted
    MinHashCatalog (dedup/minhash.py, VERDICT r5 ask #8): register the
    even-id half of the corpus as run 1, then probe the odd-id half as
    run 2 — banding only the new batch, never re-banding the stored
    corpus. Recall harness like q_minhash_pairs: output = the exact
    cross-run 3-gram-Jaccard pairs (oriented new=odd, old=even)
    semi-joined against the catalog's band-collision candidates; the
    oracle computes the exact cross-run set, so one missed pair
    hash-mismatches."""
    import hashlib
    import tempfile

    from pond_spark.dedup import MinHashCatalog, gram_hashes, ngram_jaccard_pairs

    docs = _dedup_docs(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_mh_cat_{tag}")
    _clean_catalog_twin(path)
    cat = MinHashCatalog(spark, path, n=3)
    # ONE tokenize+gram+hash pass feeds all three corpus consumers
    # (r11, guide §1.2): register(run1), near_candidates(run2) and the
    # exact branch each re-grammed their slice before. Band keys are
    # identical for >= 3-word docs; sub-3-word docs band to nothing in
    # grams mode, which cannot change the semi-join output (no
    # 3-grams → never in the exact set) — see MinHashCatalog._banded.
    base = gram_hashes(
        docs, "text", "doc_id", n=3, carry_cols=("lang",)
    ).persist()
    even = F.col("doc_id") % 2 == 0
    cat.register(None, "text", "doc_id", grams=base.filter(even))
    cand = cat.near_candidates(
        None, "text", "doc_id", grams=base.filter(~even)
    )
    exact = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", threshold=0.8, n=3,
        base=base,
    )
    odd_a = F.col("id_a") % 2 == 1
    cross = exact.filter((F.col("id_a") % 2) != (F.col("id_b") % 2)).select(
        F.when(odd_a, F.col("id_a")).otherwise(F.col("id_b")).alias("new_id"),
        F.when(odd_a, F.col("id_b")).otherwise(F.col("id_a")).alias("old_id"),
        "jaccard",
    )
    return cross.join(cand, ["new_id", "old_id"], "left_semi")


MINHASH_CATALOG_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(generate_series(1, len(toks) - 2),
                i -> array_to_string(toks[i:i+2], ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS grams
  FROM (SELECT doc_id, lang,
               (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS toks
        FROM {_DEDUP_DOCS_SQL}))
SELECT CASE WHEN a.doc_id % 2 = 1 THEN a.doc_id ELSE b.doc_id END AS new_id,
       CASE WHEN a.doc_id % 2 = 1 THEN b.doc_id ELSE a.doc_id END AS old_id,
       round(len(list_intersect(a.grams, b.grams)) * 1.0 /
             (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6)
         AS jaccard
FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
                 AND a.doc_id % 2 <> b.doc_id % 2
WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.8
"""


def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact 3-gram near-dup pairs —
    the keep-one-per-cluster step of a dedup pipeline. Oracle: DuckDB
    recursive transitive closure over the same edge set."""
    from pond_spark.dedup import connected_components, ngram_jaccard_pairs

    docs = _dedup_docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", threshold=0.8, n=3
    )
    return connected_components(pairs).select("node", "component")


def _near_dup_groups_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({NGRAM_JACCARD_SQL.replace(chr(10), ' ')}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
reach(n, m) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a),
comp AS (SELECT n AS node, least(n, min(m)) AS component FROM reach GROUP BY n)
SELECT node, component FROM comp
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup recall harness, oracle-checked: the exact
    3-gram-Jaccard pairs semi-joined against the MinHash+LSH candidate
    pairs. Output equals the exact pair set IFF the banded MinHash
    recalls every true near-dup (the xxhash64 signatures aren't
    replicable in DuckDB, so the oracle checks the RECALL property:
    oracle = the exact set; a single missed pair hash-mismatches)."""
    from pond_spark.dedup import gram_hashes, minhash_lsh_pairs, ngram_jaccard_pairs

    docs = _dedup_docs(spark, sf_dir)
    # ONE tokenize+gram+hash pass feeds BOTH branches (r11, guide
    # §1.2): the exact prefix-filter branch and the MinHash signature
    # branch previously each re-scanned and re-grammed the corpus.
    # Signature parity is exact for every doc that can appear in the
    # exact pair set (>= 3 words); sub-3-word docs drop out of LSH
    # banding, which cannot change the semi-join (they have no
    # 3-grams, so they are never exact pairs) — see
    # minhash_signatures_from_grams.
    base = gram_hashes(
        docs, "text", "doc_id", n=3, carry_cols=("lang",)
    ).persist()
    exact = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", threshold=0.8, n=3,
        base=base,
    )
    cand = minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.8, n=3,
        grams_df=base.select("doc_id", "_grams"),
    ).select("id_a", "id_b")
    return exact.join(cand, ["id_a", "id_b"], "left_semi")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup recall harness, oracle-checked like
    q_minhash_pairs: exact 3-gram pairs semi-joined against SimHash
    candidates. The corpus' planted 0.8-jaccard near-dups sit at
    Hamming <= 9 under 3-gram simhash64 at sf0.01 and <= 11 at sf0.1
    (the tail of the Hamming distribution widens with corpus size —
    the sf0.1 sweep caught a 0.975-jaccard pair at exactly 11), so
    the pigeonhole join runs at max_hamming=12 (13 chunks of 4 bits)
    for margin — recall must be total for the row to stay green.
    Cost of the wider radius: candidate volume scales with
    chunks/2^width, here 13 x 1/16 per block — measured fine at
    sf0.1; a corpus 100x larger would pair max_hamming with
    max_bucket_size to cap boilerplate buckets."""
    from pond_spark.dedup import gram_hashes, ngram_jaccard_pairs, simhash_near_pairs

    docs = _dedup_docs(spark, sf_dir)
    # shared gram base across the exact and SimHash branches (r11,
    # guide §1.2) — bit-identical fingerprints: simhash64 derives its
    # feature set via the same _words/_word_ngrams helpers as
    # gram_hashes, and the per-bit counter folds are order-insensitive
    # (simhash64_from_hashes docstring).
    base = gram_hashes(
        docs, "text", "doc_id", n=3, carry_cols=("lang",)
    ).persist()
    exact = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", threshold=0.8, n=3,
        base=base,
    )
    cand = simhash_near_pairs(
        docs, "text", "doc_id", max_hamming=12, n=3, block_col="lang",
        hashes_df=base.select("doc_id", "lang", "_grams"),
    ).select("id_a", "id_b")
    return exact.join(cand, ["id_a", "id_b"], "left_semi")


#: deterministic 64-dim query vector shared by Spark and the oracle
QUERY_VEC = [(i % 7) / 7.0 for i in range(64)]
_QVEC_SQL = "[" + ", ".join(str(v) for v in QUERY_VEC) + "]"


# -- DuckDB twins of the JVM array expressions in similarity.brute:
# both engines fold strictly left-to-right in double, so dot/norm/cosine
# are bit-identical (proven by the green embedding_topk hash match).


def _sql_vec(vec) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vec) + "]"


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (a,b)->a+b)"
    )


def _sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0, list_transform({a}, "
        "x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))), (a,b)->a+b))"
    )


def _sql_cos(a: str, b: str) -> str:
    return f"round({_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)}), 6)"


def _sql_bucket(planes, col: str = "embedding") -> str:
    """RHP signature: bit i = sign of dot(vec, plane_i) — the DuckDB
    twin of similarity.lsh._sig over the same literal hyperplanes."""
    return " + ".join(
        f"(CASE WHEN {_sql_dot(col, _sql_vec(p))} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against a fixed query vector."""
    from pond_spark.similarity import brute_force_topk

    return brute_force_topk(_fan(_embeddings(spark, sf_dir)), QUERY_VEC, k=10)


EMBEDDING_TOPK_SQL = f"""
WITH scored AS (
  SELECT vec_id, round(
    list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, {_QVEC_SQL}),
                s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (a,b)->a+b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
                x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))), (a,b)->a+b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform({_QVEC_SQL},
                x -> x*x)), (a,b)->a+b))), 6) AS cosine
  FROM embeddings)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-10, oracle-checked END-TO-END: the
    hyperplanes are deterministic literals, so the DuckDB oracle
    computes the same signatures, probes the same buckets and scores
    the same candidates — the full LSH pipeline cross-checked, not
    just its output shape. (Recall vs brute force is the separate
    documented trade, asserted in tests.)"""
    from pond_spark.similarity import lsh_topk

    return lsh_topk(_fan(_embeddings(spark, sf_dir)), QUERY_VEC, k=10, nbits=6)


def _ann_lsh_sql() -> str:
    from pond_spark.similarity.lsh import hyperplanes

    nbits = 6
    planes = hyperplanes(64, nbits, seed=42)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(QUERY_VEC, p)) >= 0:
            qsig |= 1 << i
    probes = [qsig] + [qsig ^ (1 << i) for i in range(nbits)]
    return f"""
WITH sig AS (
  SELECT vec_id, embedding, {_sql_bucket(planes)} AS bucket FROM embeddings),
cand AS (SELECT vec_id, embedding FROM sig
         WHERE bucket IN ({", ".join(str(b) for b in probes)})),
scored AS (SELECT vec_id, {_sql_cos("embedding", _QVEC_SQL)} AS cosine FROM cand)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN top-10, oracle-checked END-TO-END: training is a
    deterministic bounded sample + Lloyd (shared numpy code), so the
    oracle builder derives bit-identical centroids from the same
    parquet and replicates assignment (lexicographic (cos, cid)
    argmax), probe pruning and exact scoring in DuckDB SQL."""
    from pond_spark.similarity import ivf_topk

    return ivf_topk(
        _fan(_embeddings(spark, sf_dir)), QUERY_VEC, k=10, n_centroids=16, nprobe=4
    )


def _ann_ivf_sql() -> str:
    """Oracle twin of q_ann_ivf_topk. Reads the sf dir the driver
    oracles at (sf0.01; override via SPARK_GRAFT_ORACLE_SF_DIR when
    cross-checking another scale with tools/oracle_check.py)."""
    import duckdb

    from pond_spark.similarity.ivf import lloyd_centroids, probe_lists

    sfdir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    sample = con.execute(
        f"SELECT embedding FROM read_parquet('{sfdir}/embeddings.parquet') "
        "ORDER BY vec_id LIMIT 2048"
    ).fetchall()
    con.close()
    cent = lloyd_centroids([r[0] for r in sample], n_centroids=16, iters=5)
    probes = probe_lists(cent, QUERY_VEC, nprobe=4)
    # assignment scores are dot(vec, normalized centroid) — same
    # literals and fold order as the Spark assigner (ivf._assign_expr)
    from pond_spark.similarity.ivf import normalized_centroids

    structs = ", ".join(
        "{'cos': " + _sql_dot("embedding", _sql_vec(c)) + f", 'cid': {i}}}"
        for i, c in enumerate(normalized_centroids(cent))
    )
    return f"""
WITH assigned AS (
  SELECT vec_id, embedding, (list_max([{structs}])).cid AS ivf_list
  FROM embeddings),
cand AS (SELECT vec_id, embedding FROM assigned
         WHERE ivf_list IN ({", ".join(str(p) for p in probes)})),
scored AS (SELECT vec_id, {_sql_cos("embedding", _QVEC_SQL)} AS cosine FROM cand)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q_ann_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF index (similarity/index.py): build writes the
    corpus partitionBy(ivf_list) with precomputed norms + centroid
    JSON; search reads only the nprobe probed lists via partition
    pruning. Oracle: the same twin as q_ann_ivf_topk — materializing
    the lists must not change a single result row."""
    import hashlib
    import tempfile

    from pond_spark.similarity.index import build_ivf_index
    from pond_spark.similarity.ivf import train_centroids

    emb = _fan(_embeddings(spark, sf_dir))
    cent = train_centroids(emb, n_centroids=16, iters=5, sample_n=2048)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_ivf_idx_{tag}")
    idx = build_ivf_index(emb, path, centroids=cent)
    return idx.search(QUERY_VEC, k=10, nprobe=4)


def _sql_dist2(a: str, b) -> str:
    """Squared L2 between a list expression and a literal vector —
    DuckDB twin of similarity.pq._sub_dist2 (same left-to-right fold)."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {_sql_vec(b)}), "
        "s -> (CAST(s[1] AS DOUBLE) - s[2]) * (CAST(s[1] AS DOUBLE) - s[2]))), "
        "(a,b)->a+b)"
    )


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 (similarity/pq.py): per-subspace
    codebooks from the same deterministic bounded sample as IVF, ADC
    shortlist over the 8-byte codes, exact re-rank of refine*k ids.
    Oracle-checked END-TO-END like ann_ivf_topk: the DuckDB twin
    derives bit-identical codebooks + lookup tables from the same
    parquet and replays encode → ADC → shortlist → re-rank in SQL."""
    from pond_spark.similarity.pq import pq_topk

    return pq_topk(
        _fan(_embeddings(spark, sf_dir)), QUERY_VEC, k=10, m=8, ksub=16, refine=5
    )


def _oracle_emb_sample() -> list:
    """The shared bounded training sample, read with DuckDB from the
    sf dir the driver oracles at (override via
    SPARK_GRAFT_ORACLE_SF_DIR for tools/oracle_check.py sweeps).
    Memoized per sf dir: oracle_sql() runs every lazy builder, and four
    of them need this sample — uncached, each paid its own parquet scan
    plus its own k-means/PQ retraining of bit-identical arrays."""
    sfdir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    return _oracle_emb_sample_cached(sfdir)


@functools.lru_cache(maxsize=4)
def _oracle_emb_sample_cached(sfdir: str) -> list:
    import duckdb

    con = duckdb.connect()
    sample = con.execute(
        f"SELECT embedding FROM read_parquet('{sfdir}/embeddings.parquet') "
        "ORDER BY vec_id LIMIT 2048"
    ).fetchall()
    con.close()
    return [r[0] for r in sample]


def _sql_pq_code(books) -> str:
    """DuckDB twin of similarity.pq.encode_expr over the same literal
    codebooks: per-subspace argmin via list_min over (d, c) structs."""
    m, d = len(books), len(books[0][0])
    code_terms = []
    for i in range(m):
        sub = f"embedding[{i * d + 1}:{(i + 1) * d}]"
        structs = ", ".join(
            "{'d': " + _sql_dist2(sub, cj) + f", 'c': {j}}}"
            for j, cj in enumerate(books[i])
        )
        code_terms.append(f"(list_min([{structs}])).c")
    return "[" + ", ".join(code_terms) + "]"


def _sql_pq_adc(books) -> str:
    """DuckDB twin of similarity.pq.adc_cosine_expr (same LUTs, same
    left-to-right fold over a ``code`` column)."""
    from pond_spark.similarity.pq import adc_tables

    m, ksub = len(books), len(books[0])
    lut_dot, lut_n2, qnorm = adc_tables(books, QUERY_VEC)

    def lut_sum(lut) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {m}), "
            f"i -> ({_sql_vec(lut)})[(i-1)*{ksub} + code[i] + 1])), (a,b)->a+b)"
        )

    return f"round({lut_sum(lut_dot)} / ({qnorm!r} * sqrt({lut_sum(lut_n2)})), 6)"


def _ann_pq_sql() -> str:
    """Oracle twin of q_ann_pq_topk (shared trainer + ADC tables)."""
    from pond_spark.similarity.pq import train_pq_codebooks

    m, ksub, k, refine = 8, 16, 10, 5
    books = train_pq_codebooks(_oracle_emb_sample(), m=m, ksub=ksub, iters=5)
    return f"""
WITH coded AS (SELECT vec_id, {_sql_pq_code(books)} AS code FROM embeddings),
scored AS (SELECT vec_id, {_sql_pq_adc(books)} AS adc FROM coded),
short AS (SELECT vec_id FROM scored ORDER BY adc DESC, vec_id ASC LIMIT {refine * k}),
rer AS (SELECT e.vec_id AS vec_id, {_sql_cos("e.embedding", _QVEC_SQL)} AS cosine
        FROM embeddings e JOIN short s ON e.vec_id = s.vec_id)
SELECT vec_id, cosine FROM rer ORDER BY cosine DESC, vec_id ASC LIMIT {k}
"""


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ (similarity/index.py + pq.py — the FAISS IndexIVFPQ
    shape): persisted index with coarse partition pruning AND stored
    PQ codes; search prunes to nprobe partition directories, ranks
    the shortlist from the m-byte code column alone (parquet column
    pruning — vectors unread in the scan), then re-ranks exactly.
    Oracle replays assign → probe → encode → ADC → re-rank in DuckDB
    from bit-identical centroids + codebooks."""
    import hashlib
    import tempfile

    from pond_spark.similarity.index import build_ivf_index

    emb = _fan(_embeddings(spark, sf_dir))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_ivfpq_idx_{tag}")
    idx = build_ivf_index(
        emb, path, n_centroids=16, iters=5, sample_n=2048, pq_m=8, pq_ksub=16
    )
    return idx.search_adc(QUERY_VEC, k=10, nprobe=4, refine=5)


def _ann_ivfpq_sql() -> str:
    """Oracle twin of q_ann_ivfpq_topk (shared centroids + codebooks)."""
    from pond_spark.similarity.ivf import lloyd_centroids, probe_lists
    from pond_spark.similarity.ivf import normalized_centroids
    from pond_spark.similarity.pq import train_pq_codebooks

    sample = _oracle_emb_sample()
    m, ksub, k, refine = 8, 16, 10, 5
    cent = lloyd_centroids(sample, n_centroids=16, iters=5)
    probes = probe_lists(cent, QUERY_VEC, nprobe=4)
    books = train_pq_codebooks(sample, m=m, ksub=ksub, iters=5)
    structs = ", ".join(
        "{'cos': " + _sql_dot("embedding", _sql_vec(c)) + f", 'cid': {i}}}"
        for i, c in enumerate(normalized_centroids(cent))
    )
    return f"""
WITH assigned AS (
  SELECT vec_id, embedding, (list_max([{structs}])).cid AS ivf_list
  FROM embeddings),
cand AS (SELECT vec_id, embedding FROM assigned
         WHERE ivf_list IN ({", ".join(str(p) for p in probes)})),
coded AS (SELECT vec_id, {_sql_pq_code(books)} AS code FROM cand),
scored AS (SELECT vec_id, {_sql_pq_adc(books)} AS adc FROM coded),
short AS (SELECT vec_id FROM scored ORDER BY adc DESC, vec_id ASC LIMIT {refine * k}),
rer AS (SELECT c.vec_id AS vec_id, {_sql_cos("c.embedding", _QVEC_SQL)} AS cosine
        FROM cand c JOIN short s ON c.vec_id = s.vec_id)
SELECT vec_id, cosine FROM rer ORDER BY cosine DESC, vec_id ASC LIMIT {k}
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (similarity/negatives.py): each vector paired with the next 2 ids
    in its IVF cluster — deterministic, ids-only output, one window
    shuffle. Oracle derives bit-identical clusters (shared trainer)
    and replays the lead() pairing."""
    from pond_spark.similarity.negatives import hard_negative_pairs

    return hard_negative_pairs(
        _fan(_embeddings(spark, sf_dir)), k=2, n_centroids=16
    )


def _hard_negatives_sql() -> str:
    from pond_spark.similarity.ivf import lloyd_centroids, normalized_centroids

    cent = lloyd_centroids(_oracle_emb_sample(), n_centroids=16, iters=5)
    structs = ", ".join(
        "{'cos': " + _sql_dot("embedding", _sql_vec(c)) + f", 'cid': {i}}}"
        for i, c in enumerate(normalized_centroids(cent))
    )
    return f"""
WITH assigned AS (
  SELECT vec_id AS anchor_id, (list_max([{structs}])).cid AS cluster
  FROM embeddings),
leads AS (SELECT anchor_id, cluster,
  lead(anchor_id, 1) OVER (PARTITION BY cluster ORDER BY anchor_id) AS n1,
  lead(anchor_id, 2) OVER (PARTITION BY cluster ORDER BY anchor_id) AS n2
  FROM assigned)
SELECT anchor_id, negative_id, cluster, "offset" FROM (
  SELECT anchor_id, n1 AS negative_id, cluster, 1 AS "offset" FROM leads
  UNION ALL
  SELECT anchor_id, n2 AS negative_id, cluster, 2 AS "offset" FROM leads)
WHERE negative_id IS NOT NULL
"""


def q_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings,
    pair only within clusters, flag pairs at cosine ≥ threshold.
    Oracle-checked end-to-end like ann_ivf_topk — shared deterministic
    Lloyd training, assignment replicated as (cos, cid) argmax in
    DuckDB, identical within-cluster self-join + rounded-cosine
    filter. Threshold 0.35 because the synthetic embeddings' max
    pairwise cosine is ~0.48.

    This query models the SCALE-SAFE configuration: n_centroids and
    cluster_cap are left on the √N / 4×balanced-size auto rules
    (semdedup.auto_n_centroids / auto_cluster_cap), so per-cluster
    pair work stays bounded as the corpus grows — a fixed cluster
    count would be Σ(N/C)², quadratic at 100×. The oracle twin
    derives the identical values from the same row count."""
    from pond_spark.similarity.semdedup import semantic_pairs

    return semantic_pairs(_fan(_embeddings(spark, sf_dir)), threshold=0.35)


def _semantic_pairs_sql() -> str:
    """Oracle twin of q_semantic_pairs (same centroid derivation as
    _ann_ivf_sql, same √N/cap auto rules from the same row count)."""
    import duckdb

    from pond_spark.similarity.ivf import lloyd_centroids
    from pond_spark.similarity.semdedup import auto_cluster_cap, auto_n_centroids

    sfdir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    n_rows = con.execute(
        f"SELECT count(*) FROM read_parquet('{sfdir}/embeddings.parquet')"
    ).fetchone()[0]
    sample = con.execute(
        f"SELECT embedding FROM read_parquet('{sfdir}/embeddings.parquet') "
        "ORDER BY vec_id LIMIT 2048"
    ).fetchall()
    con.close()
    n_centroids = auto_n_centroids(n_rows)
    cap = auto_cluster_cap(n_rows, n_centroids)
    cent = lloyd_centroids(
        [r[0] for r in sample], n_centroids=n_centroids, iters=5
    )
    from pond_spark.similarity.ivf import normalized_centroids

    structs = ", ".join(
        "{'cos': " + _sql_dot("embedding", _sql_vec(c)) + f", 'cid': {i}}}"
        for i, c in enumerate(normalized_centroids(cent))
    )
    return f"""
WITH assigned AS (
  SELECT vec_id, embedding, (list_max([{structs}])).cid AS cluster
  FROM embeddings),
capped AS (
  SELECT * FROM assigned
  WHERE cluster IN (SELECT cluster FROM assigned
                    GROUP BY cluster HAVING count(*) <= {cap}))
SELECT a.vec_id AS keep_id, b.vec_id AS drop_id, a.cluster,
       {_sql_cos("a.embedding", "b.embedding")} AS cosine
FROM capped a JOIN capped b
  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE {_sql_cos("a.embedding", "b.embedding")} >= 0.35
"""


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join (first 50 query vectors vs the full table, k=3):
    per-query top-k via a window over the broadcast cross score —
    oracle-checked against DuckDB's identical fold + row_number."""
    from pond_spark.similarity.brute import knn_join

    emb = _embeddings(spark, sf_dir)
    # fan the probe side: the broadcast cross-score runs on ITS partitions
    return knn_join(_fan(emb.filter(F.col("vec_id") < 50)), emb, k=3)


_COS_SQL = """round(
    list_reduce(list_prepend(0.0, list_transform(list_zip(l.qv, r.nv),
        s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (a,b)->a+b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(l.qv,
        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))), (a,b)->a+b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(r.nv,
        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))), (a,b)->a+b))), 6)"""

KNN_JOIN_SQL = f"""
WITH l AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 50),
r AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
scored AS (SELECT l.qid, r.nid, {_COS_SQL} AS cosine FROM l CROSS JOIN r),
ranked AS (SELECT qid, nid, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rn
           FROM scored)
SELECT qid, nid, cosine FROM ranked WHERE rn <= 3
"""


def q_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (similarity/bitext.py, the LASER/
    CCMatrix recipe): align the label<5 embedding slice against the
    label>=5 slice by ratio margin over forward+backward k-NN.
    Hashed projection is all-integer (micro-unit cosines, basis-point
    margins via integer division) — no float crosses a row boundary."""
    from pond_spark.similarity.bitext import bitext_mine

    emb = _fan(_embeddings(spark, sf_dir))
    return bitext_mine(
        emb.filter(F.col("label") < 5),
        emb.filter(F.col("label") >= 5),
        k=4,
        margin_threshold_bp=9_000,
    )


def _bitext_pairs_sql() -> str:
    from pond_spark.similarity.bitext import bitext_mine_sql

    return bitext_mine_sql(
        "label < 5", "label >= 5", _COS_SQL, k=4, margin_threshold_bp=9_000
    )


def q_embedding_catalog_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-run incremental SEMANTIC near-dedup against the persisted
    EmbeddingCatalog (similarity/catalog.py) — the vector sibling of
    minhash_catalog_incremental, completing the catalog symmetry
    (exact digests / lexical band keys / RHP bucket keys). Even
    vec_ids register as run 1; odd vec_ids probe as run 2, bucketing
    only themselves. Recall harness: output = the exact cross-run
    cosine pairs (>= 0.35, oriented new=odd, old=even) semi-joined
    against the catalog's bucket-collision candidates; the oracle
    REPLAYS the approximate operator deterministically (same literal
    planes for both tables, same cross-parity bucket joins, exact
    cosine verify — the embedding_near_pairs / bitext_ann oracle
    pattern), so the row is a hash row over the operator's actual
    candidate model, misses included."""
    import hashlib
    import tempfile

    from pond_spark.similarity.brute import cross_scores
    from pond_spark.similarity.catalog import EmbeddingCatalog

    emb = _fan(_embeddings(spark, sf_dir))
    run1 = emb.filter(F.col("vec_id") % 2 == 0)
    run2 = emb.filter(F.col("vec_id") % 2 == 1)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_emb_cat_{tag}")
    _clean_catalog_twin(path)
    cat = EmbeddingCatalog(spark, path, dim=64, nbits=4, n_tables=2)
    cat.register(run1)
    cand = cat.near_candidates(run2)
    exact = (
        cross_scores(run2, run1)
        .filter(F.col("cosine") >= 0.35)
        .select(
            F.col("qid").alias("new_id"),
            F.col("nid").alias("old_id"),
            "cosine",
        )
    )
    return exact.join(cand, ["new_id", "old_id"], "left_semi")


def _embedding_catalog_sql() -> str:
    from pond_spark.similarity.lsh import hyperplanes

    b0 = _sql_bucket(hyperplanes(64, nbits=4, seed=42))
    b1 = _sql_bucket(hyperplanes(64, nbits=4, seed=43))
    return f"""
WITH sig AS MATERIALIZED (
  SELECT vec_id, embedding, {b0} AS b0, {b1} AS b1 FROM embeddings),
s AS (SELECT * FROM sig WHERE vec_id % 2 = 1),
t AS (SELECT * FROM sig WHERE vec_id % 2 = 0),
cand AS (
  SELECT s.vec_id AS new_id, t.vec_id AS old_id FROM s JOIN t ON s.b0 = t.b0
  UNION
  SELECT s.vec_id, t.vec_id FROM s JOIN t ON s.b1 = t.b1),
sc AS (SELECT l.vec_id AS new_id, r.vec_id AS old_id, {_COS_SQL} AS cosine
       FROM (SELECT vec_id, embedding AS qv FROM s) l
       CROSS JOIN (SELECT vec_id, embedding AS nv FROM t) r
       WHERE {_COS_SQL} IS NOT NULL)
SELECT sc.new_id, sc.old_id, sc.cosine
FROM sc JOIN cand ON sc.new_id = cand.new_id AND sc.old_id = cand.old_id
WHERE sc.cosine >= 0.35
"""


def q_embedding_gate_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run VERIFIED semantic gate (VERDICT r8 #2 — the fix for
    the bucket gate's occupancy-driven false drops): even vec_ids
    register into an EmbeddingCatalog built with ``store_vectors=True``;
    odd vec_ids probe with ``filter_new(verify_cos=0.35)``. Bucket
    collisions are only CANDIDATES — the exact cosine against the
    persisted vectors decides the drop — so at nbits=4 (deliberately
    saturated: the bucket-only gate would drop nearly every probe) the
    survivors are exactly the odd ids with NO registered neighbor at
    cosine >= 0.35. The oracle replays planes, both bucket joins and
    the cosine verify deterministically, so this is a hash row over
    the verified gate's full semantics."""
    import hashlib
    import tempfile

    from pond_spark.similarity.catalog import EmbeddingCatalog

    emb = _fan(_embeddings(spark, sf_dir))
    run1 = emb.filter(F.col("vec_id") % 2 == 0)
    run2 = emb.filter(F.col("vec_id") % 2 == 1)
    tag = hashlib.md5((sf_dir + "|vgate").encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_emb_vgate_{tag}")
    _clean_catalog_twin(path, vectors=True)
    cat = EmbeddingCatalog(
        spark, path, dim=64, nbits=4, n_tables=2, store_vectors=True
    )
    cat.register(run1)
    return cat.filter_new(run2, verify_cos=0.35).select("vec_id")


def _embedding_gate_verified_sql() -> str:
    from pond_spark.similarity.lsh import hyperplanes

    b0 = _sql_bucket(hyperplanes(64, nbits=4, seed=42))
    b1 = _sql_bucket(hyperplanes(64, nbits=4, seed=43))
    return f"""
WITH sig AS MATERIALIZED (
  SELECT vec_id, embedding, {b0} AS b0, {b1} AS b1 FROM embeddings),
s AS (SELECT * FROM sig WHERE vec_id % 2 = 1),
t AS (SELECT * FROM sig WHERE vec_id % 2 = 0),
dropped AS (
  SELECT DISTINCT s.vec_id AS new_id
  FROM s JOIN t ON (s.b0 = t.b0 OR s.b1 = t.b1)
  WHERE {_sql_cos('s.embedding', 't.embedding')} >= 0.35)
SELECT s.vec_id FROM s
WHERE s.vec_id NOT IN (SELECT new_id FROM dropped)
"""


def q_embedding_gate_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified gate over a vec_id-BUCKETED vector sibling
    (round-10 #3): ``vector_buckets`` changes the sibling's FILE
    LAYOUT (hash-bucketed so the verify join's payload side plans
    exchange-free at scale) and must change NOTHING about results —
    this row pins that invariance cross-engine by replaying the exact
    q:embedding_gate_verified semantics (same planes, same bucket
    joins, same cosine verify, same oracle SQL) through the bucketed
    store."""
    import hashlib
    import tempfile

    from pond_spark.similarity.catalog import EmbeddingCatalog

    emb = _fan(_embeddings(spark, sf_dir))
    run1 = emb.filter(F.col("vec_id") % 2 == 0)
    run2 = emb.filter(F.col("vec_id") % 2 == 1)
    tag = hashlib.md5((sf_dir + "|vbkt").encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_emb_vbkt_{tag}")
    _clean_catalog_twin(path, vectors=True)
    cat = EmbeddingCatalog(
        spark, path, dim=64, nbits=4, n_tables=2, store_vectors=True,
        vector_buckets=8,
    )
    cat.register(run1)
    return cat.filter_new(run2, verify_cos=0.35).select("vec_id")


def q_catalog_retention_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run gate semantics AFTER age eviction (VERDICT r8 missing
    #3 — the reference's max_age discipline, src/Instance.cxx:190-203,
    applied to the gate stores): day-1 texts register at ts=1000,
    day-2 texts at ts=2000, then ``expire(before_ts=1500)`` evicts the
    day-1 registrations. Probing the WHOLE corpus afterwards must
    re-admit day-1-only content (evicted == forgotten; it would
    re-register with a fresh stamp) while day-2 content stays gated —
    including texts seen on BOTH days, whose merged row carries the
    newer stamp and survives the horizon. filter_new's within-batch
    min-id keeper and the NULL-text-always-passes rule ride along; the
    oracle replays all of it on text equality (digest ↔ text is 1:1
    for the twin)."""
    import hashlib
    import tempfile

    from pond_spark.dedup.exact import DigestCatalog

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    tag = hashlib.md5((sf_dir + "|retgate").encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pond_retgate_{tag}")
    _clean_catalog_twin(path)
    cat = DigestCatalog(spark, path)
    cat.register(docs.filter(F.col("doc_id") % 3 == 0), run_ts=1_000)
    cat.register(docs.filter(F.col("doc_id") % 3 == 1), run_ts=2_000)
    cat.expire(before_ts=1_500)
    return cat.filter_new(docs, id_col="doc_id").select("doc_id")


CATALOG_RETENTION_GATE_SQL = """
WITH docs AS (SELECT doc_id, text FROM documents),
uniq AS (
  SELECT min(doc_id) AS doc_id FROM docs WHERE text IS NOT NULL
  GROUP BY text
  UNION ALL SELECT doc_id FROM docs WHERE text IS NULL),
gated AS (
  SELECT DISTINCT text FROM docs
  WHERE doc_id % 3 = 1 AND text IS NOT NULL)
SELECT u.doc_id FROM uniq u JOIN docs d USING (doc_id)
WHERE d.text IS NULL OR d.text NOT IN (SELECT text FROM gated)
"""


BITEXT_ANN_NBITS = 6
BITEXT_ANN_PROBE = 3


def q_bitext_pairs_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-vs-large bitext mining (similarity/bitext.py
    bitext_mine_ann, VERDICT r5 ask #3): the exact miner's integer
    margin arithmetic over LSH-bucketed candidates — shared
    literal-plane signatures on both slices, 3-probe source-side
    expansion, ids-only bucket join, neighborhood sums over
    candidates only. The oracle replays the approximate operator
    deterministically end-to-end (same planes, probes, candidate
    join, margin tail), so this is a hash row, not a recall
    envelope."""
    from pond_spark.similarity.bitext import bitext_mine_ann

    emb = _fan(_embeddings(spark, sf_dir))
    return bitext_mine_ann(
        emb.filter(F.col("label") < 5),
        emb.filter(F.col("label") >= 5),
        dim=64,
        k=4,
        margin_threshold_bp=9_000,
        nbits=BITEXT_ANN_NBITS,
        multiprobe=BITEXT_ANN_PROBE,
    )


def _bitext_pairs_ann_sql() -> str:
    from pond_spark.similarity.bitext import bitext_mine_ann_sql
    from pond_spark.similarity.lsh import hyperplanes

    planes = hyperplanes(64, nbits=BITEXT_ANN_NBITS, seed=42)
    return bitext_mine_ann_sql(
        "label < 5",
        "label >= 5",
        _COS_SQL,
        _sql_bucket(planes),
        nbits=BITEXT_ANN_NBITS,
        multiprobe=BITEXT_ANN_PROBE,
        k=4,
        margin_threshold_bp=9_000,
    )


def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via RHP-LSH buckets, oracle-
    checked end-to-end: the oracle recomputes the same literal-plane
    signatures, bucket self-join and cosine verify in DuckDB."""
    from pond_spark.similarity import embedding_near_pairs

    # the synthetic embeddings' max pairwise cosine is ~0.48 — use a
    # threshold that exercises the verify step with nonzero results
    return embedding_near_pairs(
        _fan(_embeddings(spark, sf_dir)), dim=64, threshold=0.35, nbits=4
    )


def _embedding_near_pairs_sql() -> str:
    from pond_spark.similarity.lsh import hyperplanes

    planes = hyperplanes(64, nbits=4, seed=42)
    return f"""
WITH sig AS (
  SELECT vec_id, embedding, {_sql_bucket(planes)} AS bucket FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_sql_cos("a.embedding", "b.embedding")} AS cosine
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.35
"""


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from documents: payload = magic prefix
    + utf8 text (the container ships no binary media fixtures)."""
    docs = _documents(spark, sf_dir)
    png = F.lit(bytes.fromhex("89504e47"))
    jpg = F.lit(bytes.fromhex("ffd8ffe0"))
    body = F.encode(F.col("text"), "utf-8")
    payload = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(png, body))
        .when(F.col("doc_id") % 3 == 1, F.concat(jpg, body))
        .otherwise(body)
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 2, "audio").otherwise("image").alias("kind"),
        payload.alias("payload"),
    )


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata pass: payload size + magic-byte mime sniff
    (JVM-side; payload never crosses to Python)."""
    from pond_spark.multimodal import extract_media_meta

    return extract_media_meta(_media(spark, sf_dir)).select(
        "media_id", "payload_bytes", "sniffed_mime"
    )


MEDIA_META_SQL = """
SELECT doc_id AS media_id,
  CAST(octet_length(encode(text)) + CASE WHEN doc_id % 3 IN (0, 1) THEN 4 ELSE 0 END AS BIGINT)
    AS payload_bytes,
  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       WHEN doc_id % 3 = 1 THEN 'image/jpeg'
       ELSE NULL END AS sniffed_mime
FROM documents
"""


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode (fake codec): byte counts per
    media row; the feature vector path is exercised in tests."""
    from pond_spark.multimodal import decode_media_batch

    decoded = decode_media_batch(_media(spark, sf_dir))
    return decoded.select("media_id", "n_pixels")


MEDIA_DECODE_SQL = """
SELECT doc_id AS media_id,
  CAST(octet_length(encode(text)) + CASE WHEN doc_id % 3 IN (0, 1) THEN 4 ELSE 0 END AS BIGINT)
    AS n_pixels
FROM documents
"""


def q_media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, oracle-checked end-to-end: deterministic 8x4
    grayscale PNGs (pixel k of doc d = (d*7 + k*13) % 256) are
    ENCODED in an Arrow batch step, then decoded by the pure-stdlib
    codec (zlib inflate + scanline un-filtering,
    multimodal/codecs.py). The oracle predicts the decoder's output
    analytically from the same pixel formula — any defect in either
    the encoder or the un-filtering shows as a hash mismatch."""
    import pandas as _pd

    from pond_spark.multimodal.binaryops import decode_media_batch
    from pond_spark.multimodal.codecs import encode_png

    base = _fan(_documents(spark, sf_dir)).select(
        F.col("doc_id").alias("media_id")
    )

    def enc(it):
        for pdf in it:
            payloads = [
                encode_png(
                    8, 4, 1, bytes((int(i) * 7 + k * 13) % 256 for k in range(32))
                )
                for i in pdf["media_id"]
            ]
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = base.mapInPandas(enc, "media_id long, payload binary")
    decoded = decode_media_batch(media, codec="stdlib")
    # Hashed projection must be scalar + integer (the driver's
    # canonicalizer cannot sort/hash array columns, and PERF_NOTES bans
    # floats in hashed columns): posexplode the feature vector and
    # de-quantize each float32 value back to the EXACT 4-pixel integer
    # sum it encodes.  feat[i] = fl32((s/4)/255) with s in [0, 1020], so
    # |feat[i]*1020 - s| < 1e-3 and floor(+0.5) recovers s losslessly.
    return decoded.select(
        "media_id",
        "n_pixels",
        F.posexplode("feat").alias("feat_idx", "_v"),
    ).select(
        "media_id",
        "n_pixels",
        F.col("feat_idx").cast("long").alias("feat_idx"),
        F.floor(F.col("_v").cast("double") * F.lit(1020.0) + F.lit(0.5))
        .cast("long")
        .alias("value_q"),
    )


MEDIA_DECODE_REAL_SQL = """
SELECT doc_id AS media_id, CAST(32 AS BIGINT) AS n_pixels,
       CAST(i AS BIGINT) AS feat_idx,
       CAST((doc_id*7 + (4*i+0)*13) % 256
          + (doc_id*7 + (4*i+1)*13) % 256
          + (doc_id*7 + (4*i+2)*13) % 256
          + (doc_id*7 + (4*i+3)*13) % 256 AS BIGINT) AS value_q
FROM documents CROSS JOIN generate_series(0, 7) AS t(i)
"""


def q_media_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, oracle-checked end-to-end (closes
    the last honest multimodal gap, VERDICT r4 ask #3): 16x16
    grayscale JPEGs with four FLAT 8x8 blocks — block b of doc d is
    the constant EVEN value 2*((d*7 + b*13) % 128) — are ENCODED in an
    Arrow step (full FDCT + quantization + Huffman,
    multimodal/codecs.encode_jpeg) then decoded by the pure-Python
    baseline decoder (canonical Huffman + dequant + IDCT,
    codecs.decode_jpeg). Flat even-valued blocks round-trip EXACTLY
    through the standard luminance table (DC quant 16: round(8s/16) =
    s/2 is lossless for even level-shifted s, all AC = 0), so the
    oracle predicts the decoder's output analytically — any defect in
    either the encoder's FDCT/Huffman/marker framing or the decoder's
    parsing/dequant/IDCT shows as a hash mismatch.

    Hashed projection: as media_decode_real — feat[i] is the fl32 mean
    of 32 consecutive pixels / 255 (two 16-px rows spanning two
    blocks), so floor(feat*510 + 0.5) recovers the exact integer
    v_blockA + v_blockB."""
    import pandas as _pd

    from pond_spark.multimodal.binaryops import decode_media_batch
    from pond_spark.multimodal.codecs import encode_jpeg

    base = _fan(_documents(spark, sf_dir)).select(
        F.col("doc_id").alias("media_id")
    )

    def enc(it):
        for pdf in it:
            payloads = []
            for i in pdf["media_id"]:
                d = int(i)
                v = [2 * ((d * 7 + b * 13) % 128) for b in range(4)]
                rows = []
                for y in range(16):
                    top = y < 8
                    rows.append(
                        bytes([v[0] if top else v[2]] * 8)
                        + bytes([v[1] if top else v[3]] * 8)
                    )
                payloads.append(encode_jpeg(16, 16, 1, b"".join(rows)))
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = base.mapInPandas(enc, "media_id long, payload binary")
    decoded = decode_media_batch(media, codec="stdlib")
    return decoded.select(
        "media_id",
        "n_pixels",
        F.posexplode("feat").alias("feat_idx", "_v"),
    ).select(
        "media_id",
        "n_pixels",
        F.col("feat_idx").cast("long").alias("feat_idx"),
        F.floor(F.col("_v").cast("double") * F.lit(510.0) + F.lit(0.5))
        .cast("long")
        .alias("value_q"),
    )


MEDIA_DECODE_JPEG_SQL = """
SELECT doc_id AS media_id, CAST(256 AS BIGINT) AS n_pixels,
       CAST(i AS BIGINT) AS feat_idx,
       CAST(2*((doc_id*7 + (CASE WHEN i < 4 THEN 0 ELSE 2 END)*13) % 128)
          + 2*((doc_id*7 + (CASE WHEN i < 4 THEN 1 ELSE 3 END)*13) % 128)
         AS BIGINT) AS value_q
FROM documents CROSS JOIN generate_series(0, 7) AS t(i)
"""


def _dhash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 9x8 grayscale PNGs for the dHash queries: pixel k
    of doc d is the top byte of a Knuth multiplicative hash of
    (d//2, k), plus a 40-step perturbation of pixel 0 for odd docs, so
    every even/odd doc pair is the same image up to ONE perturbed
    pixel while cross-seed images differ in ~half their dHash bits."""
    import pandas as _pd

    from pond_spark.multimodal.codecs import encode_png

    base = _fan(_documents(spark, sf_dir)).select(
        F.col("doc_id").alias("media_id")
    )

    def enc(it):
        for pdf in it:
            payloads = []
            for i in pdf["media_id"]:
                d = int(i)
                s = d // 2
                def _px(k: int) -> int:
                    t = (s * 9973 + k) * 2654435761 % 4294967296
                    t = t ^ (t // 65536)
                    t = t * 2246822519 % 4294967296
                    return (t // 16777216 + (40 if k == 0 and d % 2 else 0)) % 256

                samples = bytes(_px(k) for k in range(72))
                payloads.append(encode_png(9, 8, 1, samples))
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    return base.mapInPandas(enc, "media_id long, payload binary")


def q_media_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup (LAION-style), oracle-checked
    END-TO-END: the _dhash_media images are encoded in an Arrow step,
    decoded by the stdlib codec, dHashed
    (multimodal/binaryops.image_dhash_batch), and paired with the
    SAME pigeonhole chunk join text SimHash uses
    (dedup.simhash.hamming_near_pairs). The oracle derives each dHash
    bit analytically from the pixel formula and brute-forces the exact
    Hamming pairs — the pigeonhole join must recall every one."""
    from pond_spark.dedup.simhash import hamming_near_pairs
    from pond_spark.multimodal.binaryops import image_dhash_batch

    fps = image_dhash_batch(_dhash_media(spark, sf_dir))
    return hamming_near_pairs(
        fps, sig_col="dhash", id_col="media_id", max_hamming=4
    )


def q_dhash_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_hamming=0 over the same dHash fingerprints — IDENTICAL-hash
    pairs only. This drives hamming_near_pairs' width-64 single-chunk
    path, where the chunk mask must be the two's-complement -1 (the r4
    fix simhash.py:155-158 that previously had only pytest coverage):
    chunks = 0+1 = 1, width = 64/1 = 64. The oracle brute-forces
    hamming = 0 analytically; even/odd doc pairs whose pixel-0
    perturbation does not flip dHash bit 0 land here."""
    from pond_spark.dedup.simhash import hamming_near_pairs
    from pond_spark.multimodal.binaryops import image_dhash_batch

    fps = image_dhash_batch(_dhash_media(spark, sf_dir))
    return hamming_near_pairs(
        fps, sig_col="dhash", id_col="media_id", max_hamming=0
    )


def _media_dhash_sql(max_hamming: int) -> str:
    """Brute-force dHash Hamming-pair oracle, bound parameterized so
    the <=4 near-dup row and the ==0 width-64 exact row share one
    analytic pixel/bit derivation."""
    return f"""
WITH px AS (SELECT doc_id AS media_id,
  list_transform(generate_series(0, 71), k ->
    (CAST(CAST(xor(((doc_id // 2)*9973 + k) * 2654435761 % 4294967296,
          (((doc_id // 2)*9973 + k) * 2654435761 % 4294967296) // 65536)
      AS HUGEINT) * 2246822519 % 4294967296 AS BIGINT) // 16777216
     + CASE WHEN k = 0 THEN (doc_id % 2)*40 ELSE 0 END) % 256) AS p
  FROM documents),
bits AS (SELECT media_id,
  list_transform(generate_series(0, 63), i ->
    CASE WHEN p[(i // 8)*9 + (i % 8) + 1] < p[(i // 8)*9 + (i % 8) + 2]
         THEN 1 ELSE 0 END) AS b
  FROM px),
pairs AS (SELECT a.media_id AS id_a, c.media_id AS id_b,
  list_reduce(list_prepend(0, list_transform(list_zip(a.b, c.b),
    s -> CASE WHEN s[1] = s[2] THEN 0 ELSE 1 END)), (x,y) -> x+y) AS hamming
  FROM bits a JOIN bits c ON a.media_id < c.media_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


MEDIA_DHASH_SQL = _media_dhash_sql(4)
MEDIA_DHASH_EXACT_SQL = _media_dhash_sql(0)


def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM-WAV decode + audio features, oracle-checked end-to-end
    like q_media_decode_real: deterministic 64-sample 16-bit mono WAVs
    (sample k of doc d = ((d*31 + k*17) % 65536) - 32768, 8 kHz) are
    ENCODED in an Arrow batch step (stdlib wave writer), then decoded
    by codecs.decode_wav and reduced to INTEGER-exact features
    (multimodal/binaryops.audio_features_batch). The oracle predicts
    the decoder's output analytically from the same sample formula —
    a defect in the WAV writer, the reader, or the feature math shows
    as a hash mismatch.

    Docs with ``doc_id % 7 == 3`` are encoded as 24-BIT PCM instead:
    the r6 review fixture — non-int16 widths must yield the documented
    all-NULL feature row, never an int16 reinterpretation of the raw
    bytes (the oracle hard-codes NULLs for those ids, so a garbage
    decode hash-mismatches)."""
    import pandas as _pd

    from pond_spark.multimodal.binaryops import audio_features_batch
    from pond_spark.multimodal.codecs import encode_wav

    base = _fan(_documents(spark, sf_dir)).select(
        F.col("doc_id").alias("media_id")
    )

    def enc(it):
        import numpy as _np

        def one(d: int) -> bytes:
            if d % 7 == 3:  # 24-bit PCM: 3 bytes/sample, same formula
                raw = b"".join(
                    (((d * 31 + k * 17) % 16777216)).to_bytes(3, "little")
                    for k in range(64)
                )
                return encode_wav(
                    raw, n_channels=1, sample_rate=8000, width=3
                )
            return encode_wav(
                _np.array(
                    [((d * 31 + k * 17) % 65536) - 32768 for k in range(64)],
                    dtype="<i2",
                ).tobytes(),
                n_channels=1,
                sample_rate=8000,
                width=2,
            )

        for pdf in it:
            payloads = [one(int(d)) for d in pdf["media_id"]]
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = base.mapInPandas(enc, "media_id long, payload binary")
    return audio_features_batch(media)


MEDIA_AUDIO_SQL = """
WITH ks AS (SELECT unnest(generate_series(0, 63)) AS k),
s AS (SELECT d.doc_id AS media_id, k,
             ((d.doc_id * 31 + k * 17) % 65536) - 32768 AS v
      FROM documents d CROSS JOIN ks
      WHERE d.doc_id % 7 <> 3),
w AS (SELECT media_id, k, v,
             lag(v) OVER (PARTITION BY media_id ORDER BY k) AS pv
      FROM s)
SELECT media_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(8000 AS INT) AS sample_rate,
       CAST(sum(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       CAST(max(abs(v)) AS INT) AS peak
FROM w GROUP BY media_id
UNION ALL
SELECT doc_id AS media_id, CAST(NULL AS BIGINT), CAST(NULL AS INT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS INT)
FROM documents WHERE doc_id % 7 = 3
"""


# ---------------------------------------------------------------------------
# driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pricing_summary(spark, "/root/testdata/sf0.001")


#: name -> (query, DuckDB twin SQL); None means the twin is built
#: lazily by its ``_LAZY_SQL`` entry
_QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "retention": (q_retention, RETENTION_SQL),
    "ann_ivf_index_topk": (q_ann_ivf_index_topk, None),
    "minhash_catalog_incremental": (q_minhash_catalog_incremental, MINHASH_CATALOG_SQL),
    "dedup_exact": (q_dedup_exact, DEDUP_EXACT_SQL),
    "curation": (q_curation, None),
    "curation_near": (q_curation_near, None),
    "curation_incremental": (q_curation_incremental, CURATION_INCREMENTAL_SQL),
    "catalog_retention_gate": (q_catalog_retention_gate, CATALOG_RETENTION_GATE_SQL),
    "embedding_catalog_incremental": (q_embedding_catalog_incremental, None),
    "embedding_gate_verified": (q_embedding_gate_verified, None),
    "embedding_gate_bucketed": (q_embedding_gate_bucketed, None),
    "ann_lsh_topk": (q_ann_lsh_topk, None),
    "bitext_pairs_ann": (q_bitext_pairs_ann, None),
    "embedding_near_pairs": (q_embedding_near_pairs, None),
    "repetition": (q_repetition, REPETITION_SQL),
    "ngram_jaccard": (q_ngram_jaccard, NGRAM_JACCARD_SQL),
    "substring_dup": (q_substring_dup, SUBSTRING_DUP_SQL),
    "simhash_pairs": (q_simhash_pairs, NGRAM_JACCARD_SQL),
    "minhash_pairs": (q_minhash_pairs, NGRAM_JACCARD_SQL),
    "bloom_prefilter": (q_bloom_prefilter, None),
    "kmv_churn": (q_kmv_churn, None),
    "perplexity": (q_perplexity, PERPLEXITY_SQL),
    "near_dup_groups": (q_near_dup_groups, None),
    "line_dedup": (q_line_dedup, LINE_DEDUP_SQL),
    "tfidf_keywords": (q_tfidf_keywords, None),
    "substring_strip": (q_substring_strip, SUBSTRING_STRIP_SQL),
    "cusum_alerts": (q_cusum_alerts, None),
    "unimax_mixture": (q_unimax_mixture, None),
    "pagerank_top": (q_pagerank_top, None),
    "stats": (q_stats, STATS_SQL),
    "bm25_search": (q_bm25_search, None),
    "hybrid_search": (q_hybrid_search, None),
    "nb_classify": (q_nb_classify, None),
    "nb_confusion": (q_nb_confusion, None),
    "url_normalize": (q_url_normalize, URL_NORMALIZE_SQL),
    "top_parts_per_supplier": (q_top_parts_per_supplier, TOP_PARTS_SQL),
    "ann_ivfpq_topk": (q_ann_ivfpq_topk, None),
    "top_revenue_join": (q_top_revenue_join, TOP_REVENUE_SQL),
    "regional_revenue": (q_regional_revenue, REGIONAL_REVENUE_SQL),
    "daily_uniques_approx": (q_daily_uniques_approx, DAILY_UNIQUES_APPROX_SQL),
    "corpus_drift": (q_corpus_drift, None),
    "kanon_export": (q_kanon_export, None),
    "quality_outliers": (q_quality_outliers, None),
    "ann_ivf_topk": (q_ann_ivf_topk, None),
    "shuffle_shards": (q_shuffle_shards, None),
    "corpus_profile": (q_corpus_profile, None),
    "funnel": (q_funnel, None),
    "bpe_vocab": (q_bpe_vocab, None),
    "bpe_tokenize": (q_bpe_tokenize, None),
    "vocab_stats": (q_vocab_stats, VOCAB_STATS_SQL),
    "media_decode": (q_media_decode, MEDIA_DECODE_SQL),
    "ann_pq_topk": (q_ann_pq_topk, None),
    "embedding_topk": (q_embedding_topk, EMBEDDING_TOPK_SQL),
    "knn_join": (q_knn_join, KNN_JOIN_SQL),
    "semantic_pairs": (q_semantic_pairs, None),
    "psl_domains": (q_psl_domains, None),
    "pii_scrub": (q_pii_scrub, None),
    "media_dhash_pairs": (q_media_dhash_pairs, MEDIA_DHASH_SQL),
    "media_audio_features": (q_media_audio_features, MEDIA_AUDIO_SQL),
    "media_decode_jpeg": (q_media_decode_jpeg, MEDIA_DECODE_JPEG_SQL),
    "media_decode_real": (q_media_decode_real, MEDIA_DECODE_REAL_SQL),
    "media_meta": (q_media_meta, MEDIA_META_SQL),
    "time_sugar": (q_time_sugar, None),
    "time_today": (q_time_today, None),
    "host_generator_uri": (q_host_generator_uri, None),
    "method_filter": (q_method_filter, None),
    "age_only": (q_age_only, AGE_ONLY_SQL),
    "pack_shards": (q_pack_shards, None),
    "fingerprint": (q_fingerprint, None),
    "dhash_exact_pairs": (q_dhash_exact_pairs, MEDIA_DHASH_EXACT_SQL),
    "range_join": (q_range_join, None),
    "hard_negatives": (q_hard_negatives, None),
    "bitext_pairs": (q_bitext_pairs, None),
    "sanitize_site": (q_sanitize_site, SANITIZE_SQL),
    "resolve_forwarded": (q_resolve_forwarded, RESOLVE_FORWARDED_SQL),
    "format_one_line": (q_format_one_line, FORMAT_ONE_LINE_SQL),
    "accumulate_more": (q_accumulate_more, ACCUMULATE_MORE_SQL),
    "anonymize": (q_anonymize, ANONYMIZE_SQL),
    "event_transitions": (q_event_transitions, None),
    "chunk_documents": (q_chunk_documents, None),
    "mixture": (q_mixture, None),
    "decontaminate": (q_decontaminate, DECONTAMINATE_SQL),
    "stratified_sample": (q_stratified_sample, None),
    "pack_sequences": (q_pack_sequences, None),
    "geoip": (q_geoip, GEOIP_SQL),
    "cm_join_size": (q_cm_join_size, None),
    "dsir_weights": (q_dsir_weights, None),
    "dsir_topk": (q_dsir_topk, None),
    "cm_heavy_hitters": (q_cm_heavy_hitters, None),
    "quality_rules": (q_quality_rules, None),
    "bm25_index_search": (q_bm25_index_search, None),
    "uniques_sketch_rollup": (q_uniques_sketch_rollup, UNIQUES_SKETCH_SQL),
    "value_quantiles_sketch": (q_value_quantiles_sketch, VALUE_SKETCH_SQL),
    "pricing_summary": (q_pricing_summary, PRICING_SQL),
    "sessionize": (q_sessionize, SESSIONIZE_SQL),
    "scan_window": (q_scan_window, SCAN_WINDOW_SQL),
    "filter_surface": (q_filter_surface, FILTER_SURFACE_SQL),
    "last": (q_last, LAST_SQL),
    "group_site": (q_group_site, GROUP_SITE_SQL),
    "uri_prefix": (q_uri_prefix, URI_PREFIX_SQL),
    "unsafe_method": (q_unsafe_method, None),
    "duration_longer": (q_duration_longer, DURATION_SQL),
    "value_quantiles": (q_value_quantiles, VALUE_QUANTILES_SQL),
    "value_quantiles_approx": (q_value_quantiles_approx, VALUE_QUANTILES_APPROX_SQL),
    "daily_uniques": (q_daily_uniques, DAILY_UNIQUES_SQL),
    "promo_revenue": (q_promo_revenue, PROMO_REVENUE_SQL),
    "time_rollup": (q_time_rollup, TIME_ROLLUP_SQL),
    "site_delta": (q_site_delta, SITE_DELTA_SQL),
    "rollup_hierarchy": (q_rollup_hierarchy, ROLLUP_HIERARCHY_SQL),
    "text_stats": (q_text_stats, None),
    "lang_id": (q_lang_id, None),
    "asof_join": (q_asof_join, ASOF_JOIN_SQL),
    "temperature_mixture": (q_temperature_mixture, None),
    "accumulate_top": (q_accumulate_top, ACCUMULATE_TOP_SQL),
}

#: lazily-built oracle SQL (uses the twin builders in functions.text)
_LAZY_SQL: dict[str, Callable[[], str]] = {
    "dsir_weights": _dsir_weights_sql,
    "dsir_topk": _dsir_topk_sql,
    "shuffle_shards": _shuffle_shards_sql,
    "bitext_pairs": _bitext_pairs_sql,
    "bitext_pairs_ann": _bitext_pairs_ann_sql,
    "embedding_catalog_incremental": _embedding_catalog_sql,
    "embedding_gate_verified": _embedding_gate_verified_sql,
    "embedding_gate_bucketed": _embedding_gate_verified_sql,  # layout-invariant: same semantics, bucketed files
    "kanon_export": _kanon_export_sql,
    "cm_heavy_hitters": _cm_heavy_hitters_sql,
    "bloom_prefilter": _bloom_prefilter_sql,
    "pagerank_top": _pagerank_top_sql,
    "cusum_alerts": _cusum_alerts_sql,
    "corpus_drift": _corpus_drift_sql,
    "unimax_mixture": _unimax_mixture_sql,
    "bpe_vocab": _bpe_vocab_sql,
    "pack_sequences": _pack_sequences_sql,
    "quality_outliers": _quality_outliers_sql,
    "kmv_churn": _kmv_churn_sql,
    "bpe_tokenize": _bpe_tokenize_sql,
    "cm_join_size": _cm_join_size_sql,
    "text_stats": _text_stats_sql,
    "lang_id": _lang_id_sql,
    "fingerprint": _fingerprint_sql,
    "curation": _curation_sql,
    "curation_near": _curation_near_sql,
    "quality_rules": _quality_rules_sql,
    "pii_scrub": _pii_scrub_sql,
    "stratified_sample": _stratified_sample_sql,
    "mixture": _mixture_sql,
    "temperature_mixture": _temperature_mixture_sql,
    "pack_shards": _pack_shards_sql,
    "unsafe_method": _unsafe_method_sql,
    "host_generator_uri": _host_generator_uri_sql,
    "method_filter": _method_filter_sql,
    "time_sugar": _time_sugar_sql,
    "time_today": _time_today_sql,
    "ann_lsh_topk": _ann_lsh_sql,
    "ann_ivf_topk": _ann_ivf_sql,
    "ann_ivf_index_topk": _ann_ivf_sql,  # persistence is result-invariant
    "ann_pq_topk": _ann_pq_sql,
    "ann_ivfpq_topk": _ann_ivfpq_sql,
    "hard_negatives": _hard_negatives_sql,
    "tfidf_keywords": _tfidf_keywords_sql,
    "bm25_search": _bm25_search_sql,
    "nb_classify": _nb_classify_sql,
    "nb_confusion": _nb_confusion_sql,
    "corpus_profile": _corpus_profile_sql,
    "chunk_documents": _chunk_documents_sql,
    "funnel": _funnel_sql,
    "event_transitions": _event_transitions_sql,
    "range_join": _range_join_sql,
    "semantic_pairs": _semantic_pairs_sql,
    "embedding_near_pairs": _embedding_near_pairs_sql,
    "near_dup_groups": _near_dup_groups_sql,
    "psl_domains": _psl_domains_sql,
    "hybrid_search": _hybrid_search_sql,
    "bm25_index_search": _bm25_search_sql,  # index must match in-query BM25
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _QUERIES.items()}


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Bench-only probes, NOT part of the correctness contract.

    The recall-harness rows (minhash_pairs, simhash_pairs) time the
    exact n-gram twin AND the approximate candidate operator together
    — a regression in the candidate stage would hide behind the exact
    stage's cost. These probes time the approximate operator alone
    (the exact stage alone is already benched as ngram_jaccard), so
    bench readers can attribute movement to the right stage."""

    def minhash_pairs_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pond_spark.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            _documents(spark, sf_dir), "text", "doc_id", threshold=0.8, n=3
        )

    def simhash_pairs_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pond_spark.dedup import simhash_near_pairs

        return simhash_near_pairs(
            _documents(spark, sf_dir),
            "text",
            "doc_id",
            max_hamming=12,
            n=3,
            block_col="lang",
        )

    def bm25_index_search_only(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the contract row (bm25_index_search) times build+search; this
        # probe times the SERVING stage alone against the index the
        # contract row already materialized (building it if absent, so
        # the probe is self-sufficient when run standalone)
        from pond_spark.functions.lexindex import TextIndex, build_text_index

        path = _text_index_path(sf_dir)
        try:
            idx = TextIndex(spark, path)
            idx.meta["segments"]  # reject a pre-segment-layout meta
        except (FileNotFoundError, KeyError):
            idx = build_text_index(
                _fan(_documents(spark, sf_dir)), path, n_buckets=64
            )
        return idx.search(BM25_TERMS, k=25)

    def minhash_catalog_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the contract row times exact-twin + register + probe; this
        # times the cross-run SERVING stage alone (band the new batch,
        # probe the stored keys) against the catalog the contract row
        # already registered — the cost a nightly incremental run pays
        import hashlib
        import tempfile

        from pond_spark.dedup import MinHashCatalog

        docs = _documents(spark, sf_dir)
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        path = os.path.join(tempfile.gettempdir(), f"pond_mh_cat_{tag}")
        if not os.path.exists(path):
            # a killed prior run can leave a live-looking lease with no
            # catalog behind it — clear the whole sidecar family before
            # the fresh register (ADVICE r9)
            _clean_catalog_twin(path)
        cat = MinHashCatalog(spark, path, n=3)
        if not os.path.exists(path):
            cat.register(docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id")
        return cat.near_candidates(
            docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id"
        )

    def embedding_catalog_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
        import hashlib
        import tempfile

        from pond_spark.similarity.catalog import EmbeddingCatalog

        emb = _embeddings(spark, sf_dir)
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        path = os.path.join(tempfile.gettempdir(), f"pond_emb_cat_{tag}")
        if not os.path.exists(path):
            _clean_catalog_twin(path)
        cat = EmbeddingCatalog(spark, path, dim=64, nbits=4, n_tables=2)
        if not os.path.exists(path):
            cat.register(emb.filter(F.col("vec_id") % 2 == 0))
        return cat.near_candidates(emb.filter(F.col("vec_id") % 2 == 1))

    return {
        "minhash_pairs_approx": minhash_pairs_approx,
        "simhash_pairs_approx": simhash_pairs_approx,
        "bm25_index_search_only": bm25_index_search_only,
        "minhash_catalog_probe_only": minhash_catalog_probe_only,
        "embedding_catalog_probe_only": embedding_catalog_probe_only,
    }


def bench_probes() -> dict[str, Callable[[SparkSession, str], float]]:
    """Self-timed bench probes (VERDICT r4 asks #5 and #8) for the two
    surfaces a DataFrame-returning bench row cannot express:

    - **streaming micro-batch latency**: the batch bench never times
      the live path. Each stream probe materializes the sf events as K
      parquet files, drives them through the real streaming operator
      one file per trigger (availableNow), and reports the MEDIAN
      per-batch wall latency (first batch dropped — it carries stream
      startup). Median damps noise; bench.py still takes best-of-2.
    - **store retention + compaction**: the ring-buffer analog
      (§1.3). Setup (two appends into a throwaway store) is untimed;
      the probe times retain(max_bytes=60%) + compact() end to end.

    Each callable returns SECONDS; bench.py merges them into the
    per-query dict (outside the contract total, like bench_queries)."""
    import shutil
    import statistics
    import tempfile
    import time as _time

    from pond_spark.filters import FilterSpec
    from pond_spark.schema import events_as_logs

    N_FILES = 8

    def _stream_src(spark: SparkSession, sf_dir: str) -> str:
        """K-file parquet log dir (one file per micro-batch)."""
        tmp = tempfile.mkdtemp(prefix="pond_bench_stream_")
        events_as_logs(spark, sf_dir).repartition(N_FILES).write.mode(
            "overwrite"
        ).parquet(tmp)
        return tmp

    def _median_batch_sec(sdf: DataFrame) -> float:
        stamps: list[float] = []

        def sink(df: DataFrame, _bid: int) -> None:
            df.write.format("noop").mode("overwrite").save()
            stamps.append(_time.perf_counter())

        ckpt = tempfile.mkdtemp(prefix="pond_bench_ckpt_")
        try:
            q = (
                sdf.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        if len(stamps) < 3:
            raise RuntimeError(f"expected >=3 micro-batches, got {len(stamps)}")
        deltas = [b - a for a, b in zip(stamps, stamps[1:])]
        return round(statistics.median(deltas), 3)

    def _with_src(fn):
        def run(spark: SparkSession, sf_dir: str) -> float:
            src = _stream_src(spark, sf_dir)
            try:
                return fn(spark, src)
            finally:
                shutil.rmtree(src, ignore_errors=True)

        return run

    @_with_src
    def stream_follow_batch_p50(spark: SparkSession, src: str) -> float:
        """Q6 FOLLOW plan (mtime cut + filter + watermark): the cut is
        set to epoch so the prepared files count as 'new'."""
        import datetime as _dt

        from pond_spark.streaming.follow import follow_stream

        sdf = follow_stream(
            spark,
            src,
            spec=FilterSpec(status_begin=200, status_end=500),
            since_now=_dt.datetime(1970, 1, 2),
            max_files_per_trigger=1,
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_ratelimit_batch_p50(spark: SparkSession, src: str) -> float:
        """T6 per-site token bucket (applyInPandasWithState) on the
        live path — the stateful operator's per-batch cost."""
        from pond_spark.streaming.follow import continue_stream
        from pond_spark.streaming.ratelimit import rate_limit_stream

        sdf = rate_limit_stream(
            continue_stream(spark, src, max_files_per_trigger=1),
            rate=5.0,
            message_type="http_access",
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_trending_batch_p50(spark: SparkSession, src: str) -> float:
        """Windowed agg + watermark state (trending terms over the
        request URIs) — the windowed-state per-batch cost."""
        from pond_spark.streaming.follow import continue_stream
        from pond_spark.streaming.trending import trending_terms_stream

        sdf = trending_terms_stream(
            # watermark=None: trending defines its own watermark
            continue_stream(spark, src, watermark=None, max_files_per_trigger=1),
            text_col="http_uri",
            every="5 minutes",
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_cusum_batch_p50(spark: SparkSession, src: str) -> float:
        """Streaming CUSUM (applyInPandasWithState, three scalars per
        site) on the live path — the per-batch cost of the monitoring
        fold (streaming/anomaly.py, NEW r6)."""
        from pond_spark.streaming.anomaly import cusum_stream
        from pond_spark.streaming.follow import continue_stream

        sdf = cusum_stream(
            continue_stream(
                spark, src, watermark=None, max_files_per_trigger=1
            ),
            k=5,
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_kmv_batch_p50(spark: SparkSession, src: str) -> float:
        """Streaming KMV distinct-uniques (applyInPandasWithState,
        k bottom keys per site) on the live path — the per-batch cost
        of the bounded-state distinct estimator (streaming/kmv.py,
        NEW r6)."""
        from pond_spark.streaming.follow import continue_stream
        from pond_spark.streaming.kmv import kmv_uniques_stream

        sdf = kmv_uniques_stream(
            continue_stream(
                spark, src, watermark=None, max_files_per_trigger=1
            ),
            k=64,
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_quantiles_batch_p50(spark: SparkSession, src: str) -> float:
        """Streaming bottom-k value quantiles (streaming/quantiles.py,
        NEW r7): per-batch cost of the k-row-per-site sample fold."""
        from pond_spark.streaming.follow import continue_stream
        from pond_spark.streaming.quantiles import value_quantiles_stream

        sdf = value_quantiles_stream(
            continue_stream(
                spark, src, watermark=None, max_files_per_trigger=1
            ),
            k=64,
            value_col="duration_us",
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_asof_batch_p50(spark: SparkSession, src: str) -> float:
        """Streaming as-of join (streaming/asof.py, NEW r7): per-batch
        cost of the two chained stateful operators — watermarked
        left-outer time-interval join + windowed struct carry — with
        the log stream as the left side and a small per-site config
        stream as the right."""
        from pond_spark.streaming.asof import asof_join_stream
        from pond_spark.streaming.follow import continue_stream

        rdir = tempfile.mkdtemp(prefix="pond_bench_asof_r_")
        try:
            logs = spark.read.parquet(src)  # _stream_src: µs LOG_SCHEMA
            marks = (
                logs.groupBy("site")
                .agg(F.min("timestamp").alias("timestamp"))
                .withColumn("cfg", F.concat(F.lit("v-"), F.col("site")))
            )
            for i in range(3):
                marks.withColumn(
                    "timestamp",
                    F.col("timestamp") + F.expr(f"INTERVAL {i * 600} SECOND"),
                ).coalesce(1).write.mode("append").parquet(rdir)
            right = (
                spark.readStream.schema("site string, timestamp timestamp, cfg string")
                .option("maxFilesPerTrigger", "1")
                .parquet(rdir)
            )
            sdf = asof_join_stream(
                continue_stream(
                    spark, src, watermark=None, max_files_per_trigger=1
                ),
                right,
                ["site"],
                horizon_seconds=3600,
            )
            return _median_batch_sec(sdf)
        finally:
            shutil.rmtree(rdir, ignore_errors=True)

    @_with_src
    def stream_asof_batch_p50_sized(spark: SparkSession, src: str) -> float:
        """stream_asof_batch_p50 at the DEPLOYED state-partition sizing
        (state_partitions=4 via streaming/conf.py — VERDICT r7 ask #3):
        the PERF_NOTES r7 addendum measured the chained as-of's
        micro-batch cost as pure state-store fixed cost x shuffle
        partitions (3.32 s @32 -> 0.87 s @4); this row keeps the sized
        configuration measured every round next to the
        shared-batch-session row above. The session conf is restored
        after the stream captures it (bench probes share the session)."""
        from pond_spark.streaming.asof import asof_join_stream
        from pond_spark.streaming.conf import SHUFFLE_PARTITIONS_CONF
        from pond_spark.streaming.follow import continue_stream

        rdir = tempfile.mkdtemp(prefix="pond_bench_asof_rs_")
        prev = spark.conf.get(SHUFFLE_PARTITIONS_CONF)
        try:
            logs = spark.read.parquet(src)
            marks = (
                logs.groupBy("site")
                .agg(F.min("timestamp").alias("timestamp"))
                .withColumn("cfg", F.concat(F.lit("v-"), F.col("site")))
            )
            for i in range(3):
                marks.withColumn(
                    "timestamp",
                    F.col("timestamp") + F.expr(f"INTERVAL {i * 600} SECOND"),
                ).coalesce(1).write.mode("append").parquet(rdir)
            right = (
                spark.readStream.schema("site string, timestamp timestamp, cfg string")
                .option("maxFilesPerTrigger", "1")
                .parquet(rdir)
            )
            sdf = asof_join_stream(
                continue_stream(
                    spark, src, watermark=None, max_files_per_trigger=1
                ),
                right,
                ["site"],
                horizon_seconds=3600,
                state_partitions=4,
            )
            return _median_batch_sec(sdf)
        finally:
            spark.conf.set(SHUFFLE_PARTITIONS_CONF, prev)
            shutil.rmtree(rdir, ignore_errors=True)

    def _live_close_lag(make_stream, hit_filter):
        """Close-delivery LATENCY for the live monitoring twins
        (VERDICT r6 ask #4): the ``*_batch_p50`` rows time micro-batch
        THROUGHPUT on a drained backlog; this probe times the lag a
        monitoring consumer actually feels — wall seconds from the
        WRITE of the record that triggers an emission (for CUSUM, the
        first later-hour event that closes the open hour) to the
        completion of the micro-batch that delivers the triggered row
        (file discovery + planning + the stateful fold + emission).
        One seeded history file opens the state; after the backfill
        batch drains, the closing file lands and the sink watches for
        the row it provokes."""

        def run(spark: SparkSession, sf_dir: str) -> float:
            import threading

            from pond_spark.streaming.follow import continue_stream

            src = tempfile.mkdtemp(prefix="pond_bench_lag_")
            ckpt = tempfile.mkdtemp(prefix="pond_bench_ckpt_")
            base = events_as_logs(spark, sf_dir).limit(256).withColumn(
                "site", F.lit("_lagprobe")
            )
            h_open = dt.datetime(2024, 1, 1, 0, 30, 0)
            h_close = dt.datetime(2024, 1, 1, 1, 0, 5)
            base.withColumn("timestamp", F.lit(h_open)).coalesce(
                1
            ).write.mode("append").parquet(src)
            history_done = threading.Event()
            hit = threading.Event()
            t_hit: list[float] = []
            t0_box: list[float] = [float("inf")]

            def sink(df: DataFrame, _bid: int) -> None:
                # evaluate the count UNCONDITIONALLY: Spark 4 validates
                # that foreachBatch processes every partition of a
                # stateful query's batch (state-store commit tracking);
                # short-circuiting behind the time guard would leave
                # batch 0's state uncommitted and kill the stream.
                n_hit = df.filter(hit_filter(df)).count()
                if n_hit > 0 and _time.perf_counter() > t0_box[0]:
                    t_hit.append(_time.perf_counter())
                    hit.set()
                history_done.set()

            q = (
                make_stream(continue_stream(spark, src, watermark=None))
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                if not history_done.wait(timeout=300):
                    raise RuntimeError("lag-probe backfill never drained")
                t0_box[0] = _time.perf_counter()
                base.withColumn("timestamp", F.lit(h_close)).coalesce(
                    1
                ).write.mode("append").parquet(src)
                if not hit.wait(timeout=300):
                    raise RuntimeError("closing row never delivered")
                return round(t_hit[0] - t0_box[0], 3)
            finally:
                q.stop()
                shutil.rmtree(ckpt, ignore_errors=True)
                shutil.rmtree(src, ignore_errors=True)

        return run

    def stream_cusum_close_lag(spark: SparkSession, sf_dir: str) -> float:
        """Hour-close lag of the streaming CUSUM: event closing hour H
        lands → wall time the (site, H, cnt, cusum) row is emitted."""
        from pond_spark.streaming.anomaly import cusum_stream

        return _live_close_lag(
            lambda s: cusum_stream(s, k=5),
            lambda df: (df.site == "_lagprobe")
            & (df.hour == dt.datetime(2024, 1, 1, 0, 0, 0)),
        )(spark, sf_dir)

    def stream_kmv_close_lag(spark: SparkSession, sf_dir: str) -> float:
        """Update-delivery lag of the streaming KMV estimator: the
        live batch lands → wall time its refreshed per-site
        (uniques_est, n_keys, theta) row is emitted. KMV has no hour
        close — every batch that touches a site re-emits — so the
        triggered row is simply the first post-write emission."""
        from pond_spark.streaming.kmv import kmv_uniques_stream

        return _live_close_lag(
            lambda s: kmv_uniques_stream(s, k=64),
            lambda df: df.site == "_lagprobe",
        )(spark, sf_dir)

    def stream_asof_close_lag(
        spark: SparkSession, sf_dir: str, state_partitions: int | None = None
    ) -> float:
        """Close-delivery lag of the live as-of join (the latency a
        consumer of enriched rows feels): seed left rows sit joined-
        but-unemitted until the event-time watermark passes their emit
        window; the probe measures wall seconds from the FIRST
        watermark-advancing write to the delivery of the seed rows
        with their carried payload. Three as-of-specific mechanics
        shape the setup (each measured the hard way): (a) the global
        watermark is the MIN over BOTH inputs, so an idle right stream
        pins it forever — the closing writes land on both sides;
        (b) the left-OUTER join holds its output watermark back by the
        HORIZON (join state retention), so the downstream window
        closes only once the watermark passes window_end + horizon —
        the closing timestamps must clear that, and the horizon is a
        latency dial, not just a state dial (asof.py docstring);
        (c) the chained stateful operators flush on successive
        triggers, so three advancing pairs land up front."""
        import threading

        ldir = tempfile.mkdtemp(prefix="pond_bench_asoflag_l_")
        rdir = tempfile.mkdtemp(prefix="pond_bench_asoflag_r_")
        ckpt = tempfile.mkdtemp(prefix="pond_bench_ckpt_")
        from pond_spark.streaming.asof import asof_join_stream
        from pond_spark.streaming.follow import continue_stream

        h_open = dt.datetime(2024, 1, 1, 0, 30, 0)
        seed = events_as_logs(spark, sf_dir).limit(256).withColumn(
            "site", F.lit("_lagprobe")
        ).withColumn("timestamp", F.lit(h_open))
        seed.coalesce(1).write.mode("append").parquet(ldir)
        rsch = "site string, timestamp timestamp, cfg string"
        spark.createDataFrame(
            [("_lagprobe", dt.datetime(2024, 1, 1, 0, 0, 0), "v1")], rsch
        ).coalesce(1).write.mode("append").parquet(rdir)

        history_done = threading.Event()
        hit = threading.Event()
        t_hit: list[float] = []
        t0_box: list[float] = [float("inf")]

        def sink(df: DataFrame, _bid: int) -> None:
            n_hit = df.filter(
                (df.site == "_lagprobe")
                & (df.timestamp == h_open)
                & df.cfg.isNotNull()
            ).count()
            if n_hit > 0 and _time.perf_counter() > t0_box[0]:
                t_hit.append(_time.perf_counter())
                hit.set()
            history_done.set()

        right = (
            spark.readStream.schema(rsch)
            .option("maxFilesPerTrigger", "1")
            .parquet(rdir)
        )
        from pond_spark.streaming.conf import SHUFFLE_PARTITIONS_CONF

        prev_parts = spark.conf.get(SHUFFLE_PARTITIONS_CONF)
        q = (
            asof_join_stream(
                continue_stream(spark, ldir, watermark=None),
                right,
                ["site"],
                # > the 1800 s seed gap, small enough that the closing
                # stamps below clear window_end + horizon
                horizon_seconds=1900,
                state_partitions=state_partitions,
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # the query captured its conf at start; restore the session's
        # (bench probes share it)
        spark.conf.set(SHUFFLE_PARTITIONS_CONF, prev_parts)
        try:
            if not history_done.wait(timeout=300):
                raise RuntimeError("asof lag-probe backfill never drained")
            t0_box[0] = _time.perf_counter()
            t0 = t0_box[0]
            # three advancing pairs: one to land past the emit window,
            # and spares because each of the two chained stateful
            # operators flushes on the NEXT trigger's watermark
            for m in (65, 70, 75):
                later = dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(
                    minutes=m
                )
                seed.limit(1).withColumn("site", F.lit("_zz")).withColumn(
                    "timestamp", F.lit(later)
                ).coalesce(1).write.mode("append").parquet(ldir)
                spark.createDataFrame(
                    [("_zz", later, "vx")], rsch
                ).coalesce(1).write.mode("append").parquet(rdir)
            if not hit.wait(timeout=300):
                raise RuntimeError("asof closing row never delivered")
            return round(t_hit[0] - t0, 3)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(ldir, ignore_errors=True)
            shutil.rmtree(rdir, ignore_errors=True)

    def stream_continue_first_live(spark: SparkSession, sf_dir: str) -> float:
        """Q7 CONTINUE catch-up→tail switchover (VERDICT r5 ask #5):
        the full sf events backfill drains as history, THEN a live
        file lands in the store — the probe reports seconds from the
        live write to the completion of the micro-batch that delivers
        it (file discovery + plan + execution on the tail path, the
        highest-state streaming transition: backfill history + live
        union in one query)."""
        import threading

        from pond_spark.streaming.follow import continue_stream

        src = _stream_src(spark, sf_dir)
        ckpt = tempfile.mkdtemp(prefix="pond_bench_ckpt_")
        history_done = threading.Event()
        live_done = threading.Event()
        t_live_seen: list[float] = []

        def sink(df: DataFrame, _bid: int) -> None:
            n_live = df.filter(df.site == "_liveprobe").count()
            if n_live > 0:
                t_live_seen.append(_time.perf_counter())
                live_done.set()
            history_done.set()

        q = (
            continue_stream(spark, src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            if not history_done.wait(timeout=300):
                raise RuntimeError("CONTINUE backfill never drained")
            logs = events_as_logs(spark, sf_dir)
            live = (
                logs.limit(64)
                .withColumn("site", F.lit("_liveprobe"))
            )
            t0 = _time.perf_counter()
            live.coalesce(1).write.mode("append").parquet(src)
            if not live_done.wait(timeout=300):
                raise RuntimeError("live record never delivered")
            return round(t_live_seen[0] - t0, 3)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(src, ignore_errors=True)

    def store_retain_compact(spark: SparkSession, sf_dir: str) -> float:
        """LogStore ring-buffer eviction + hourly-compress analog on a
        store built from the sf events (two appends -> every date has
        redundant files, so compact has real work)."""
        import os as _os

        from pond_spark.sources.store import LogStore

        tmp = tempfile.mkdtemp(prefix="pond_bench_store_")
        try:
            store = LogStore(spark, tmp)
            logs = events_as_logs(spark, sf_dir)
            store.append(logs)
            store.append(logs)
            total = sum(
                _os.path.getsize(_os.path.join(dp, f))
                for dp, _dn, fns in _os.walk(tmp)
                for f in fns
            )
            t0 = _time.perf_counter()
            store.retain(max_bytes=int(total * 0.6))
            store.compact(target_file_bytes=1 << 22)
            return round(_time.perf_counter() - t0, 3)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    return {
        "stream_follow_batch_p50": stream_follow_batch_p50,
        "stream_ratelimit_batch_p50": stream_ratelimit_batch_p50,
        "stream_trending_batch_p50": stream_trending_batch_p50,
        "stream_cusum_batch_p50": stream_cusum_batch_p50,
        "stream_kmv_batch_p50": stream_kmv_batch_p50,
        "stream_asof_batch_p50": stream_asof_batch_p50,
        "stream_asof_batch_p50_sized": stream_asof_batch_p50_sized,
        "stream_quantiles_batch_p50": stream_quantiles_batch_p50,
        "stream_cusum_close_lag": stream_cusum_close_lag,
        "stream_asof_close_lag": stream_asof_close_lag,
        # the same delivery lag at the DEPLOYED monitoring sizing — the
        # 12 s default-sizing row is trigger fixed-cost x 32 partitions
        # x several rounds; this is what a sized deployment feels
        "stream_asof_close_lag_sized": lambda spark, sf_dir: (
            stream_asof_close_lag(spark, sf_dir, state_partitions=4)
        ),
        "stream_kmv_close_lag": stream_kmv_close_lag,
        "stream_continue_first_live": stream_continue_first_live,
        "store_retain_compact": store_retain_compact,
    }


def oracle_sql() -> dict[str, str]:
    out = {name: sql for name, (_fn, sql) in _QUERIES.items() if sql is not None}
    # a builder registered under several keys (the persisted-index
    # twins share their in-query builder) runs ONCE per call — the
    # IVF/PQ builders each retrain k-means/codebooks from the shared
    # sample, so duplicate invocations are pure recompute
    built: dict[str, str] = {}
    for name, build in _LAZY_SQL.items():
        key = build.__qualname__
        if key not in built:
            built[key] = build()
        out[name] = built[key]
    return out

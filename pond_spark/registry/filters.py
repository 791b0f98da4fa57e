"""The filter surface (SURVEY §2 F1–F13): FilterSpec fields, their
NULL rules and the time sugar."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.filters import FilterSpec
from pond_spark.query import Query
from pond_spark.registry._common import LOGS_CTE
from pond_spark.schema import events_as_logs


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


_UNSAFE_SPEC = FilterSpec(sites=frozenset({"", "click"}), unsafe_method=True)


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
    return logs.filter(_UNSAFE_SPEC.to_column()).select("id", "site", "http_method")


def unsafe_method_sql() -> str:
    from pond_spark.schema import HTTP_METHODS

    methods = "[" + ", ".join(f"'{m}'" for m in HTTP_METHODS) + "]"
    return f"""
WITH {LOGS_CTE},
enr AS (SELECT id,
  CASE WHEN id % 11 = 0 THEN NULL ELSE site END AS site,
  {methods}[CAST(id % 16 AS INT) + 1] AS http_method
FROM logs)
SELECT id, site, http_method FROM enr WHERE {_UNSAFE_SPEC.to_sql()}
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


def host_generator_uri_sql() -> str:
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


def method_filter_sql() -> str:
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


def time_sugar_sql() -> str:
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


def time_today_sql() -> str:
    return f"WITH {LOGS_CTE} SELECT * FROM logs WHERE {_time_today_spec().to_sql()}"

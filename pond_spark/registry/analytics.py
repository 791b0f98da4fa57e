"""Log analytics over the events stand-in: rollups, retention,
exact quantiles, graph and change-point scores, funnels."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.registry._common import _D, LOGS_CTE
from pond_spark.schema import events_as_logs


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


def pagerank_top_sql() -> str:
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


def cusum_alerts_sql() -> str:
    from pond_spark.operators.anomaly import cusum_sql

    return (
        f"WITH {LOGS_CTE},\n"
        + cusum_sql(CUSUM_K, None).strip().rstrip()
        + f"\nORDER BY cusum DESC, site ASC, hour ASC LIMIT {CUSUM_TOP}"
    )


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


def kanon_export_sql() -> str:
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


def funnel_sql() -> str:
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


def range_join_sql() -> str:
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


def event_transitions_sql() -> str:
    from pond_spark.operators.funnel import event_transitions_sql

    return event_transitions_sql()

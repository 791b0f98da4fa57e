"""Pond's log operator surface on the events stand-in (SURVEY §2):
scans, accumulators, STATS, sessionization and the record rewriters."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.filters import FilterSpec
from pond_spark.functions.anonymize import anonymize_ip, anonymize_ip_sql
from pond_spark.functions.geoip import geoip_country
from pond_spark.functions.sanitize import sanitize_site, sanitize_site_sql
from pond_spark.operators.accumulate import accumulate_more, accumulate_top, age_only
from pond_spark.operators.sessionize import track_visitors
from pond_spark.query import Query
from pond_spark.registry._common import LOGS_CTE, SINCE, UNTIL
from pond_spark.schema import events_as_logs


AGE_NOW = dt.datetime(2024, 12, 31)


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

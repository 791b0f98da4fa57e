"""Mergeable KMV (k-minimum-values / theta) DISTINCT sketches with set
algebra — the capability the HLL cubes (operators/sketches.py) cannot
express: INTERSECTION and DIFFERENCE estimates between date ranges,
i.e. "how many of this week's visitors are NEW vs returning" without
rescanning the raw events.

HLL union-merges beautifully but has no intersection; the
inclusion-exclusion workaround explodes in error. A KMV sketch — the
k smallest values of a uniform hash over the distinct keys — supports
union (merge + re-truncate), and theta-sketch set algebra (Dasgupta
et al. 2016): with ``theta = min(theta_A, theta_B)`` both samples are
uniform below theta, so ``|A ∩ B| ≈ |{x in S_A ∩ S_B : h(x) < theta}|
/ theta`` and likewise for differences. Relative error ~1/sqrt(k).

Determinism is the point of building this on the repo's portable
affine/polynomial hash family (functions/text.fingerprint +
operators/sketches.BK_*, all mod 1e9+7) instead of DataSketches:
sample membership, thetas, and the integer estimates are a pure
function of the input values, so the DuckDB twin replays the sketch
EXACTLY — hard hash-oracle rows, not accuracy envelopes, for an
approximate-sketch operator. (Distinct values may collide under the
1e9+7 hash — ~n²/2e9 expected collisions — which perturbs estimates
identically in both engines; the k-th-order-statistic estimator
absorbs it.)

100 TB shape: the raw store is scanned once at build time; each
(day, site) group persists at most ``k`` BIGINT keys (sub-KB),
day-partitioned so range queries prune directories. Every serve-time
operation is over k-bounded frames. Bottom-k per group uses the same
partitioned-window discipline as the value sketch
(sketches.build_value_sketches); keys are deduplicated BEFORE the
window so the sort input per group is the distinct-key set, not the
raw rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.functions.text import fingerprint, fingerprint_sql
from pond_spark.operators.sketches import (
    BK_A,
    BK_C,
    BK_MOD,
    _bottom_k,
    _check_params,
    _day_rows,
    _write_days,
)

__all__ = [
    "kmv_key",
    "build_kmv_sketches",
    "update_kmv_sketches",
    "kmv_uniques_over_range",
    "kmv_churn",
]


def kmv_key(col: Column, seed: int = 1) -> Column:
    """Portable uniform-ish key in [0, 1e9+7). The multiplier must be
    LARGE relative to the modulus: short strings fingerprint into a
    narrow band (a 3-char value stays under ~6e4), and a small
    multiplier would leave the products spanning only a few wraps of
    the modulus — the k-th order statistic then sits far below its
    uniform expectation and the KMV estimator overshoots several-fold
    (measured 5x before the fix). fingerprint*2654435761 wraps the
    modulus ~1e5 times even for 3-char inputs."""
    return F.pmod(
        fingerprint(col) * F.lit(BK_C) + F.lit(seed) * F.lit(BK_A),
        F.lit(BK_MOD),
    )


def kmv_key_sql(expr: str, seed: int = 1) -> str:
    return (
        f"(({fingerprint_sql(expr)}) * {BK_C} + {seed} * {BK_A}) % {BK_MOD}"
    )


def _kmv_daily(
    logs: DataFrame, k: int, value_col: str, site_col: str, ts_col: str,
    seed: int,
) -> DataFrame:
    rows = _day_rows(
        logs, ts_col, value_col, site=F.col(site_col),
        bk=kmv_key(F.col(value_col), seed),
    )
    return _bottom_k(rows.dropDuplicates(["day", "site", "bk"]), k, ("bk",))


def build_kmv_sketches(
    logs: DataFrame,
    path: str,
    k: int = 64,
    value_col: str = "remote_host",
    site_col: str = "site",
    ts_col: str = "timestamp",
    seed: int = 1,
) -> None:
    """One pass over the events: per (day, site) bottom-k distinct
    hash keys, written ``partitionBy(day)`` with a (k, seed) params
    sidecar (ADVICE r6: serving with a larger k or a different seed
    than the build silently biases estimates — the sidecar makes the
    mismatch loud, reusing the value-sketch discipline)."""
    daily = _kmv_daily(logs, k, value_col, site_col, ts_col, seed)
    _write_days(daily, path, "build", "KMV sketch", {"k": k, "seed": seed})


def update_kmv_sketches(
    logs: DataFrame,
    path: str,
    days: list[str],
    k: int = 64,
    value_col: str = "remote_host",
    site_col: str = "site",
    ts_col: str = "timestamp",
    seed: int = 1,
) -> None:
    """Incremental maintenance: recompute only ``days`` from ``logs``
    and rewrite those day partitions (sketches._write_days replace —
    untouched day directories stay as-is). (k, seed) must match the
    build sidecar exactly — mixed-parameter day partitions would
    poison later merges."""
    daily = _kmv_daily(logs, k, value_col, site_col, ts_col, seed)
    _write_days(
        daily, path, "replace", "KMV sketch", {"k": k, "seed": seed}, days=days
    )


def _merged_side(sk: DataFrame, lo: str, hi: str, k: int, name: str) -> DataFrame:
    """Merge the daily sketches covering [lo, hi] into one per-site
    bottom-k: distinct keys (a value seen on many days has ONE key),
    re-truncate to k. Returns (site, bk) plus the per-site theta
    (k-th smallest key if the merged set is full, else MOD — the
    'saw everything' theta)."""
    keys = (
        sk.filter((F.col("day") >= lo) & (F.col("day") <= hi))
        .select("site", "bk")
        .dropDuplicates(["site", "bk"])
    )
    # persist (r11, guide §1.2): both returned frames derive from this
    # bottom-k — consumers that use the keys AND the theta (kmv_churn,
    # per side) otherwise recompute the pruned scan + dedup + window
    # twice. k-bounded (≤ k keys/site, sub-KB); lazy, so a theta-only
    # consumer (kmv_uniques_over_range) just fills it on its single
    # pass. Pin dropped by the loop drivers' clearCache contract.
    bot = _bottom_k(keys, k, ("bk",), ("site",)).persist()
    theta = bot.groupBy("site").agg(
        F.when(F.count(F.lit(1)) >= k, F.max("bk"))
        .otherwise(F.lit(BK_MOD))
        .cast("long")
        .alias(f"theta_{name}"),
        F.count(F.lit(1)).cast("long").alias(f"m_{name}"),
    )
    return bot.select("site", F.col("bk").alias(f"bk_{name}")), theta


def kmv_uniques_over_range(
    spark: SparkSession,
    path: str,
    lo: str,
    hi: str,
    k: int = 64,
) -> DataFrame:
    """Per-site estimated uniques over ``[lo, hi]`` from the sketch
    table alone — the KMV analog of ``sketches.uniques_over_range``,
    with the deterministic integer estimator instead of HLL. Returns
    ``(site, uniques_est, n_keys, theta)``. Serve-time k must not
    exceed the build k (sidecar-validated: a larger k would read a
    non-uniform merged sample and overshoot)."""
    _check_params(spark, path, "KMV sketch", {"k": k}, serve=True)
    sk = spark.read.parquet(path)
    _bot, th = _merged_side(sk, lo, hi, k, "x")
    return th.select(
        "site",
        F.when(F.col("m_x") < k, F.col("m_x"))
        .otherwise(
            F.expr(f"{k - 1} * CAST({BK_MOD} AS BIGINT) div theta_x")
        )
        .cast("long")
        .alias("uniques_est"),
        F.col("m_x").alias("n_keys"),
        F.col("theta_x").alias("theta"),
    )


def kmv_churn(
    spark: SparkSession,
    path: str,
    a_lo: str,
    a_hi: str,
    b_lo: str,
    b_hi: str,
    k: int = 64,
) -> DataFrame:
    """Theta-sketch set algebra between two date ranges, per site:
    estimated distinct visitors in A and in B, estimated overlap
    (returning visitors), and estimated B-only (NEW visitors) — all
    from the sketch table alone. Integer estimates:
    ``(k-1) * MOD div theta`` for full sketches (exact counts when a
    side holds fewer than k keys), ``|sample| * MOD div theta`` for
    the set-algebra terms below ``theta = min(theta_a, theta_b)``.
    Everything after the partition-pruned sketch read is k-bounded.
    Serve-time k is sidecar-validated like kmv_uniques_over_range."""
    _check_params(spark, path, "KMV sketch", {"k": k}, serve=True)
    sk = spark.read.parquet(path)
    bot_a, th_a = _merged_side(sk, a_lo, a_hi, k, "a")
    bot_b, th_b = _merged_side(sk, b_lo, b_hi, k, "b")
    theta = th_a.join(th_b, "site", "full").select(
        "site",
        F.coalesce("theta_a", F.lit(BK_MOD)).alias("theta_a"),
        F.coalesce("theta_b", F.lit(BK_MOD)).alias("theta_b"),
        F.coalesce("m_a", F.lit(0)).alias("m_a"),
        F.coalesce("m_b", F.lit(0)).alias("m_b"),
    ).withColumn("theta", F.least("theta_a", "theta_b"))

    joined = (
        bot_a.withColumnRenamed("bk_a", "bk")
        .withColumn("in_a", F.lit(1))
        .join(
            bot_b.withColumnRenamed("bk_b", "bk").withColumn("in_b", F.lit(1)),
            ["site", "bk"],
            "full",
        )
        .join(F.broadcast(theta), "site")
        .filter(F.col("bk") < F.col("theta"))
    )
    sets = joined.groupBy("site").agg(
        F.sum(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1)
            .otherwise(0)
        ).alias("n_common"),
        F.sum(
            F.when(F.col("in_a").isNull() & F.col("in_b").isNotNull(), 1)
            .otherwise(0)
        ).alias("n_only_b"),
    )

    def est_side(m: str, th: str) -> Column:
        return (
            F.when(F.col(m) < k, F.col(m))
            .otherwise(F.expr(f"{k - 1} * CAST({BK_MOD} AS BIGINT) div {th}"))
            .cast("long")
        )

    def est_set(n: str) -> Column:
        return F.expr(
            f"CAST(coalesce({n}, 0) AS BIGINT)"
            f" * CAST({BK_MOD} AS BIGINT) div theta"
        ).cast("long")

    # the two FULL OUTER merges above stay sort-merge joins (Spark
    # cannot broadcast a full-outer side) — harmless: every post-scan
    # frame here is k-bounded (<= k keys per site), so the SMJs sort
    # KB-sized inputs; the one legal broadcast (sets into theta) is
    # hinted
    return (
        theta.join(F.broadcast(sets), "site", "left")
        .select(
            "site",
            est_side("m_a", "theta_a").alias("uniques_a"),
            est_side("m_b", "theta_b").alias("uniques_b"),
            est_set("n_common").alias("returning_est"),
            est_set("n_only_b").alias("new_est"),
        )
    )


def kmv_churn_sql(
    logs_cte: str,
    a_lo: str,
    a_hi: str,
    b_lo: str,
    b_hi: str,
    k: int = 64,
    value_expr: str = "remote_host",
    seed: int = 1,
) -> str:
    """DuckDB twin: same hash, same per-day bottom-k, same merge,
    same thetas, same integer estimates. ``logs_cte`` is the
    ``name AS (SELECT ...)`` fragment providing (timestamp, site,
    remote_host)."""
    key = kmv_key_sql(value_expr, seed)
    side = lambda nm, lo, hi: f"""
keys_{nm} AS (
  SELECT DISTINCT site, bk FROM daily
  WHERE day >= '{lo}' AND day <= '{hi}'
),
bot_{nm} AS (
  SELECT site, bk FROM (
    SELECT site, bk, row_number() OVER (PARTITION BY site ORDER BY bk) AS rn
    FROM keys_{nm}) WHERE rn <= {k}
),
th_{nm} AS (
  SELECT site,
         CASE WHEN count(*) >= {k} THEN max(bk)
              ELSE {BK_MOD} END AS theta_{nm},
         count(*) AS m_{nm}
  FROM bot_{nm} GROUP BY site
)"""
    return f"""
WITH {logs_cte},
src AS (
  SELECT strftime("timestamp", '%Y-%m-%d') AS day, site,
         CAST({key} AS BIGINT) AS bk
  FROM logs
  WHERE "timestamp" IS NOT NULL AND {value_expr} IS NOT NULL
),
daily AS (
  SELECT day, site, bk FROM (
    SELECT day, site, bk,
           row_number() OVER (PARTITION BY day, site ORDER BY bk) AS rn
    FROM (SELECT DISTINCT day, site, bk FROM src))
  WHERE rn <= {k}
),{side('a', a_lo, a_hi)},{side('b', b_lo, b_hi)},
theta AS (
  SELECT coalesce(a.site, b.site) AS site,
         coalesce(theta_a, {BK_MOD}) AS theta_a,
         coalesce(theta_b, {BK_MOD}) AS theta_b,
         coalesce(m_a, 0) AS m_a, coalesce(m_b, 0) AS m_b,
         least(coalesce(theta_a, {BK_MOD}),
               coalesce(theta_b, {BK_MOD})) AS theta
  FROM th_a a FULL JOIN th_b b ON a.site = b.site
),
joined AS (
  SELECT coalesce(a.site, b.site) AS site,
         coalesce(a.bk, b.bk) AS bk,
         a.bk IS NOT NULL AS in_a, b.bk IS NOT NULL AS in_b
  FROM bot_a a FULL JOIN bot_b b ON a.site = b.site AND a.bk = b.bk
),
sets AS (
  SELECT j.site,
         sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS n_common,
         sum(CASE WHEN NOT in_a AND in_b THEN 1 ELSE 0 END) AS n_only_b
  FROM joined j JOIN theta t ON j.site = t.site
  WHERE j.bk < t.theta
  GROUP BY j.site
)
SELECT t.site AS site,
       CAST(CASE WHEN m_a < {k} THEN m_a
            ELSE {k - 1} * CAST({BK_MOD} AS BIGINT) // theta_a END AS BIGINT)
         AS uniques_a,
       CAST(CASE WHEN m_b < {k} THEN m_b
            ELSE {k - 1} * CAST({BK_MOD} AS BIGINT) // theta_b END AS BIGINT)
         AS uniques_b,
       CAST(coalesce(n_common, 0) * CAST({BK_MOD} AS BIGINT) // theta
         AS BIGINT) AS returning_est,
       CAST(coalesce(n_only_b, 0) * CAST({BK_MOD} AS BIGINT) // theta
         AS BIGINT) AS new_est
FROM theta t LEFT JOIN sets s ON t.site = s.site
"""

"""Equi-join SIZE estimation from Count-Min sketches — the classic
inner-product estimator (Cormode & Muthukrishnan 2005 §4.2 /
Alon-Matias-Szegedy F2 family): for two relations keyed on the same
column, ``|A join B| = sum_key cntA(key) * cntB(key)``, and the
row-r dot product of their CM grids ``sum_col A[r,col]*B[r,col]``
overestimates exactly that sum by hash-collision cross terms; the
minimum over the depth rows is the estimate, never below the truth.

Why it matters at 100 TB: join planning wants output cardinality
BEFORE running the join. With per-day CM tables already maintained
(operators/sketches.py), any two date ranges' join size is answered
by merging KB-sized grids — no raw scan, no sampling pass. The same
grids already serve point-frequency queries; this adds the pairwise
question for free.

Determinism: grids use the portable polynomial/affine hash family, so
the estimate replays exactly in DuckDB — a hard hash oracle for an
approximate estimator, same contract as cm_heavy_hitters. (Built as
its own module on top of sketches' public surface so the sketch
builders stay untouched.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["cm_join_size", "cm_join_size_sql"]


def cm_join_size(
    spark: SparkSession,
    path: str,
    a_lo: str,
    a_hi: str,
    b_lo: str,
    b_hi: str,
) -> DataFrame:
    """Estimate ``sum_key cntA(key)*cntB(key)`` (the equi-join output
    rows between the two ranges' key streams) from the CM table at
    ``path`` alone. Returns one attestation row ``(row, dot)`` per
    depth row stored in the table — the per-row dot products — plus
    the estimate row ``(-1, min-over-rows)``. Both reads are
    day-partition-pruned; the join and aggregation run over fixed
    depth*width cell grids."""
    from pond_spark.operators.sketches import _check_params, _cm_params

    # dot products are cell-wise (no re-hashing), but a table stamped
    # with a different hash family than this build means its cells
    # were written by incompatible writers — refuse (ADVICE r6)
    _check_params(spark, path, "CM", _cm_params())
    sk = spark.read.parquet(path)

    def grid(lo: str, hi: str, name: str) -> DataFrame:
        return (
            sk.filter((F.col("day") >= lo) & (F.col("day") <= hi))
            .groupBy("row", "col")
            .agg(F.sum("cnt").cast("long").alias(name))
        )

    dots = (
        grid(a_lo, a_hi, "ca")
        .join(grid(b_lo, b_hi, "cb"), ["row", "col"])
        .groupBy("row")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    est = dots.agg(
        F.lit(-1).cast("long").alias("row"),
        F.min("dot").cast("long").alias("dot"),
    )
    return dots.select(F.col("row").cast("long"), "dot").unionByName(est)


def cm_join_size_sql(
    logs_cte: str,
    a_lo: str,
    a_hi: str,
    b_lo: str,
    b_hi: str,
    key_expr: str = "message",
    depth: int | None = None,
    width: int | None = None,
) -> str:
    """DuckDB twin: rebuild each range's grid from per-key range
    totals (cell merge is addition, so this equals summing the
    per-day grids), then the identical per-row dots and min."""
    from pond_spark.functions.text import fingerprint_sql
    from pond_spark.operators.sketches import (
        BK_C,
        BK_MOD,
        CM_DEPTH,
        CM_WIDTH,
        cm_row_mult,
    )

    d = CM_DEPTH if depth is None else depth
    w = CM_WIDTH if width is None else width
    mults = ", ".join(f"({r}, {cm_row_mult(r)})" for r in range(d))

    def grid(nm: str, lo: str, hi: str) -> str:
        return f"""
cnt_{nm} AS (
  SELECT {key_expr} AS key, CAST(count(*) AS BIGINT) AS c FROM logs
  WHERE "timestamp" IS NOT NULL AND {key_expr} IS NOT NULL
    AND strftime("timestamp", '%Y-%m-%d') >= '{lo}'
    AND strftime("timestamp", '%Y-%m-%d') <= '{hi}'
  GROUP BY 1
),
cells_{nm} AS (
  SELECT r,
         ((kh * a + {BK_C}) % {BK_MOD}) % {w} AS col,
         CAST(sum(c) AS BIGINT) AS cnt
  FROM (SELECT c, {fingerprint_sql('key')} AS kh FROM cnt_{nm})
  CROSS JOIN rows_ GROUP BY 1, 2
)"""

    return f"""
WITH {logs_cte},
rows_ AS (SELECT * FROM (VALUES {mults}) AS t(r, a)),{grid('a', a_lo, a_hi)},{grid('b', b_lo, b_hi)},
dots AS (
  SELECT a.r AS row, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
  FROM cells_a a JOIN cells_b b ON a.r = b.r AND a.col = b.col
  GROUP BY 1
)
SELECT CAST(row AS BIGINT) AS row, dot FROM dots
UNION ALL
SELECT CAST(-1 AS BIGINT) AS row, CAST(min(dot) AS BIGINT) AS dot FROM dots
"""

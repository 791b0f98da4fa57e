"""Product quantization (PQ) ANN — the memory-compression scale path
next to IVF list pruning (reference has no ANN surface; this extends
the north-star similarity family, same contract as similarity.ivf).

Shape (classic PQ, Jégou et al. 2011, the FAISS ``PQ{m}x4`` design):
split each D-dim vector into ``m`` subvectors of D/m dims, train a
small L2 k-means codebook (``ksub`` centroids) per subspace on a
bounded sample, and store each vector as ``m`` small codes — 64-dim
float32 (256 B) compresses to 8 codes (8 B, 32x). Queries score codes
against a per-query lookup table (ADC — asymmetric distance
computation) without touching the original vectors, then re-rank a
shortlist exactly.

Spark mapping:

- **train**: driver-side deterministic Lloyd per subspace over the
  same bounded smallest-ids sample as similarity.ivf (no RNG — the
  DuckDB oracle builder derives bit-identical codebooks from the same
  parquet).
- **encode**: codebooks broadcast as literal arrays; per subspace the
  argmin over ``ksub`` squared-L2 folds is a pure JVM expression
  (array_min over (dist, code) structs — deterministic tie-break on
  the code). Map-only; at 100 TB the code column is written once next
  to the table and the 32x-smaller codes are what ADC scans.
- **search**: the ADC lookup table (m*ksub dots + squared norms
  against the query's subvectors) is computed driver-side (tiny) and
  embedded as a literal; scan cost per row is ``m`` array lookups —
  no per-row dot against the full vector. Exact re-rank joins the
  shortlist ids back to the table (ids-only shuffle, vectors fetched
  for ``refine*k`` rows only).

Determinism contract (same as brute/ivf): double arithmetic, strictly
left-to-right folds, cosine rounded to 6 decimals, ties broken by id.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pond_spark.similarity.brute import _safe_cos_div, cosine_similarity


def lloyd_l2(x, ksub: int, iters: int = 5) -> list[list[float]]:
    """Deterministic L2 Lloyd over a sample matrix (numpy, driver-
    side): init = first ``ksub`` rows, squared-L2 assignment with
    lowest-index tie-break, empty clusters keep their centroid.
    Shared by the Spark trainer and the DuckDB oracle builder."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    cent = x[:ksub].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin takes the first minimum
        for c in range(ksub):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [[float(v) for v in c] for c in cent]


def train_pq_codebooks(
    sample: Sequence[Sequence[float]],
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
) -> list[list[list[float]]]:
    """``m`` per-subspace codebooks (each ``ksub`` centroids of
    ``D/m`` dims) from an in-memory sample — deterministic, shared by
    both engines. D must be divisible by ``m``."""
    dim = len(sample[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    subs = []
    for i in range(m):
        sub = [list(v[i * d : (i + 1) * d]) for v in sample]
        subs.append(lloyd_l2(sub, ksub, iters))
    return subs


def train_pq(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    sample_n: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Bounded deterministic sample (smallest ids, same rule as
    ivf.train_centroids) → per-subspace codebooks."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    return train_pq_codebooks([r[1] for r in rows], m, ksub, iters)


def _sub_dist2(sub: Column, c: Column) -> Column:
    """Squared L2 between a subvector column and a centroid array,
    folded strictly left-to-right in double."""
    return F.aggregate(
        F.zip_with(
            sub, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def encode_expr(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """``array<int>`` of per-subspace nearest-centroid codes. argmin
    via array_min over (dist, code) structs — lexicographic struct
    compare gives lowest-code tie-break, matching lloyd_l2/numpy.

    Plan-size discipline: the per-subspace scoring is ONE ``transform``
    over a nested literal centroid array, not ksub separate aggregate
    expressions — identical arithmetic and fold order, but m*(a few)
    lambda nodes instead of m*ksub*2, which cuts Catalyst
    analysis/codegen of the encode stage ~10x (the same lesson as the
    unrolled-dot Janino note in PERF_NOTES)."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    codes = []
    for i in range(m):
        sub = F.slice(vec, i * d + 1, d)
        cents = F.array(
            *[
                F.array(*[F.lit(float(v)) for v in cj])
                for cj in codebooks[i]
            ]
        )
        scored = F.transform(
            cents,
            lambda c, j: F.struct(
                _sub_dist2(sub, c).alias("d"), j.alias("c")
            ),
        )
        codes.append(F.array_min(scored).getField("c"))
    return F.array(*codes)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Append the PQ code column (map-only; at scale written once)."""
    return df.withColumn(out_col, encode_expr(F.col(vec_col), codebooks))


def adc_tables(
    codebooks: list[list[list[float]]], query_vec: Sequence[float]
) -> tuple[list[float], list[float], float]:
    """Per-query lookup tables, computed driver-side and shared with
    the oracle builder: ``lut_dot[i*ksub+j]`` = dot(query subvector i,
    centroid j); ``lut_n2`` = squared norm of centroid j; plus the
    query norm. approx_cos = sum(lut_dot)/(qnorm*sqrt(sum(lut_n2)))."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    d = len(codebooks[0][0])
    q = [float(v) for v in query_vec]
    lut_dot, lut_n2 = [], []
    for i in range(m):
        qs = q[i * d : (i + 1) * d]
        for j in range(ksub):
            cj = codebooks[i][j]
            lut_dot.append(sum(a * b for a, b in zip(qs, cj)))
            lut_n2.append(sum(b * b for b in cj))
    qnorm = math.sqrt(sum(a * a for a in q)) or 1.0
    return lut_dot, lut_n2, qnorm


def adc_cosine_expr(
    code: Column,
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    decimals: int = 6,
) -> Column:
    """Approximate cosine from the code column alone: ``m`` lookups
    per table, folded left-to-right — no access to the raw vector."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    lut_dot, lut_n2, qnorm = adc_tables(codebooks, query_vec)
    offs = F.array(*[F.lit(i * ksub) for i in range(m)])
    dlit = F.array(*[F.lit(v) for v in lut_dot])
    nlit = F.array(*[F.lit(v) for v in lut_n2])

    def lut_sum(lut: Column) -> Column:
        return F.aggregate(
            F.zip_with(code, offs, lambda c, o: F.element_at(lut, c + o + 1)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return F.round(
        _safe_cos_div(
            lut_sum(dlit), F.lit(qnorm) * F.sqrt(lut_sum(nlit))
        ),
        decimals,
    )


def pq_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    refine: int = 5,
    iters: int = 5,
    sample_n: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """ANN top-k: ADC shortlist of ``refine*k`` ids over the codes,
    exact cosine re-rank after joining the shortlist back to the
    table. The shortlist stage never materializes vectors — at scale
    it scans the m-byte code column only."""
    if codebooks is None:
        codebooks = train_pq(df, m, ksub, iters, sample_n, vec_col, id_col)
    coded = pq_encode(df, codebooks, vec_col).select(
        id_col, adc_cosine_expr(F.col("pq_code"), codebooks, query_vec).alias("adc")
    )
    shortlist = coded.orderBy(F.col("adc").desc(), F.col(id_col).asc()).limit(
        refine * k
    )
    qlit = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        df.join(shortlist.select(id_col), id_col)
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), qlit).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )

"""Random-hyperplane LSH for approximate nearest neighbors over an
embedding column — the scale path next to brute.brute_force_topk.

Bucketing: sign bits of dot products with ``nbits`` deterministic
pseudo-random hyperplanes (splitmix64-seeded, generated driver-side and
shipped in the UDF's closure — no RNG at execution time, reproducible
across runs/partitions). Vectors whose signatures agree land in the
same bucket; a query probes its own bucket (and optionally
multi-probes neighboring buckets at 1-bit flips).

Scale notes: signature computation is a pure map, one scalar Arrow
UDF folding each batch against the plane matrix in numpy; the bucket
join shuffles on an int key. Recall is tuned by nbits (bucket
granularity) and n_tables (independent signatures OR-ed together) —
the standard LSH trade.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pond_spark.similarity.brute import (
    _arrow_vec_rows,
    _fold_dot_block,
    cosine_similarity,
)


def _splitmix(seed: int):
    x = seed & 0xFFFFFFFFFFFFFFFF
    while True:
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        yield (z ^ (z >> 31)) / 2**64  # uniform [0,1)


def hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian-ish hyperplanes via Box-Muller over a
    splitmix64 stream."""
    gen = _splitmix(seed)
    planes = []
    for _ in range(nbits):
        v = []
        while len(v) < dim:
            u1, u2 = next(gen), next(gen)
            u1 = max(u1, 1e-12)
            r = math.sqrt(-2.0 * math.log(u1))
            v.append(r * math.cos(2 * math.pi * u2))
            if len(v) < dim:
                v.append(r * math.sin(2 * math.pi * u2))
        planes.append(v)
    return planes


def rhp_bucket(
    df: DataFrame,
    dim: int,
    nbits: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``bucket`` (int64 signature) to each row: bit i is set
    when the vector's dot with plane i is ``>= 0``. One scalar Arrow
    UDF computes it with cross_scores' folds (brute._arrow_vec_rows,
    brute._fold_dot_block), so each dot is the ascending-index IEEE
    fold of ``brute._dot`` and every bucket equals what that HOF
    expression would give — catalogs pin bucket keys across runs, so
    the key format must never move
    (tests/test_similarity.py::test_rhp_bucket_bit_exact).

    Degenerate rows keep the Spark semantics of that expression: a
    NULL vector, a wrong-length vector or a null element makes a NULL
    dot, so bucket 0; a NaN dot sets its bit, since Spark orders NaN
    above every number (``NaN >= 0`` is true), so a NaN element sets
    all bits. Bit 63, when ``nbits`` is 64, wraps to the sign bit; an
    int64 key holds no more bits, so ``nbits`` is refused outside 1..64."""
    if not 1 <= nbits <= 64:
        raise ValueError(f"nbits must be in 1..64, got {nbits}")
    planes = hyperplanes(dim, nbits, seed)

    @F.arrow_udf("long")
    def _bucket(v: pa.Array) -> pa.Array:
        import numpy as np

        P = np.asarray(planes, dtype=np.float64)  # (nbits, dim)
        rows = _arrow_vec_rows(v)
        ok = [
            i for i, (x, nulls) in enumerate(rows)
            if x is not None and len(x) == dim
            and (nulls is None or not nulls.any())
        ]
        out = np.zeros(len(rows), dtype=np.int64)
        if ok:
            # inf elements make inf/NaN dots; both are legal here
            with np.errstate(invalid="ignore", over="ignore"):
                dots = _fold_dot_block(np.stack([rows[i][0] for i in ok]), P)
            # numpy's NaN >= 0 is False; Spark's is True
            bits = (dots >= 0.0) | np.isnan(dots)
            weights = np.left_shift(np.uint64(1), np.arange(nbits, dtype=np.uint64))
            out[ok] = (bits * weights).sum(axis=1, dtype=np.uint64).astype(np.int64)
        return pa.array(out)

    return df.withColumn("bucket", _bucket(F.col(vec_col)))


def lsh_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    nbits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: int | None = None,
) -> DataFrame:
    """ANN top-k: score only vectors in the query's bucket plus
    ``multiprobe`` 1-bit-flip neighbor buckets, chosen
    closest-hyperplane-first — query-directed probing (Lv et al.,
    "Multi-probe LSH", VLDB 2007): the bits whose |query · plane|
    margin is smallest are the likeliest to disagree with a true
    neighbor's signature, so they flip first. ``None`` (default)
    probes all ``nbits`` flip neighbors — the recall-max setting the
    oracle twin replicates; an int trades candidates for recall
    (the r3 form multiplied by nbits, making every value >= 1
    identical to "all" — the knob did nothing). ``nbits`` above 63
    is refused: a probe with bit 63 set is no int64 literal."""
    if nbits > 63:
        raise ValueError(f"lsh_topk needs nbits <= 63, got {nbits}")
    dim = len(query_vec)
    planes = hyperplanes(dim, nbits, seed)
    qsig = 0
    margins = []
    for i, p in enumerate(planes):
        dot = sum(a * b for a, b in zip(query_vec, p))
        margins.append(abs(dot))
        if dot >= 0:
            qsig |= 1 << i
    t = nbits if multiprobe is None else max(0, min(multiprobe, nbits))
    flip_order = sorted(range(nbits), key=lambda i: (margins[i], i))
    probes = [qsig] + [qsig ^ (1 << i) for i in flip_order[:t]]

    bucketed = rhp_bucket(df, dim, nbits, seed, vec_col)
    cand = bucketed.filter(F.col("bucket").isin(probes))
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        cand.select(F.col(id_col), cosine_similarity(F.col(vec_col), q).alias("cosine"))
        .filter(F.col("cosine").isNotNull())  # zero-norm rows out
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_near_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    nbits: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket join (same RHP
    bucket) then exact cosine verify >= threshold.

    The bucket join carries ids only — vectors would multiply by the
    bucket fan-out in the shuffle; they join back onto the (small)
    deduped candidate set for verification. Norms are computed once
    per vector (in the persisted bucketed frame) rather than once per
    candidate pair — identical value, 2/3 fewer flops in the verify.

    Cache lifecycle: the bucketed frame pin feeds THREE plan branches
    (both join sides + the vector lookup); it stays until the session
    drops it — loop drivers that run many pair queries should
    ``spark.catalog.clearCache()`` between them, as bench.py does
    (the same documented lifecycle as minhash_lsh_pairs' candidate
    pin)."""
    from pond_spark.similarity.brute import _dot, _norm, _safe_cos_div

    b = (
        rhp_bucket(df, dim, nbits, seed, vec_col)
        .withColumn("_nrm", _norm(F.col(vec_col)))
        .persist()
    )
    left = b.select(F.col(id_col).alias("id_a"), "bucket")
    right = b.select(F.col(id_col).alias("id_b"), "bucket")
    cand = (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = b.select(F.col(id_col), F.col(vec_col), F.col("_nrm"))
    return (
        cand.join(
            vecs.select(
                F.col(id_col).alias("id_a"),
                F.col(vec_col).alias("_va"),
                F.col("_nrm").alias("_na"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("id_b"),
                F.col(vec_col).alias("_vb"),
                F.col("_nrm").alias("_nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                _safe_cos_div(
                    _dot(F.col("_va"), F.col("_vb")),
                    F.col("_na") * F.col("_nb"),
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )

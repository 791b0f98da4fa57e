"""Random-hyperplane LSH for approximate nearest neighbors over an
embedding column — the scale path next to brute.brute_force_topk.

Bucketing: sign bits of dot products with ``nbits`` deterministic
pseudo-random hyperplanes (splitmix64-seeded, generated driver-side and
embedded as literal arrays — no RNG at execution time, reproducible
across runs/partitions). Vectors whose signatures agree land in the
same bucket; a query probes its own bucket (and optionally
multi-probes neighboring buckets at 1-bit flips).

Scale notes: signature computation is a pure map (nbits dot products
per row, codegen'd); the bucket join shuffles on an int key. Recall is
tuned by nbits (bucket granularity) and n_tables (independent
signatures OR-ed together) — the standard LSH trade.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pond_spark.similarity.brute import cosine_similarity


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


def _sig(vec: Column, planes: list[list[float]]) -> Column:
    # NB measured (sf0.1, 64-dim, 16 planes): the interpreted HOF fold
    # is ~5x faster end-to-end than unrolling the dots into flat
    # expressions — nbits*dim terms blow Janino's 64 KB method limit,
    # which disables whole-stage codegen for the entire stage, and the
    # giant tree also inflates Catalyst planning time. Keep the HOF.
    bits = []
    for i, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in p]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


#: dim*nbits above which the Arrow-batched numpy signature replaces
#: the interpreted HOF fold. The HOF's per-element lambda overhead is
#: ~constant, so its cost grows linearly in dim*nbits; measured on 1M
#: persisted rows (idle local[32], best-of-2):
#:
#:   dim x nbits   HOF      numpy   speedup
#:   64 x 4        2.2 s    0.8 s   2.7x
#:   64 x 16       8.3 s    1.0 s   8x
#:   64 x 36       20.0 s   1.6 s   13x
#:   256 x 28      27.8 s*  1.8 s*  15x   (*500k rows)
#:   1024 x 27     48.5 s*  3.8 s*  13x   (*200k rows)
#:
#: The numpy fold is BIT-IDENTICAL (see _sig_vectorized), so the
#: switch is purely a cost decision. Threshold 1024 keeps the tiny
#: signatures JVM-side — the contract/oracle twins (nbits<=8 at
#: dim<=64) keep their all-JVM measured plans and tiny inputs avoid
#: the Python-worker spin-up — while every catalog-scale signature
#: (gate sizing puts nbits in the 20-40 range) takes the 8-15x.
_VECTORIZED_MIN_WORK = 1024


def _sig_vectorized(vec: Column, planes: list[list[float]]) -> Column:
    """The SAME signature as _sig, computed as an Arrow-batched numpy
    fold. Bit-exactness argument, term by term: elements arrive
    float32 and cast to float64 exactly (both paths); each product is
    one IEEE double multiply (neither Java nor numpy fuses); the
    accumulation adds plane-j products in ascending j — the numpy
    loop iterates j exactly like the HOF fold's left-to-right
    reduce — so every intermediate double is identical and every sign
    bit matches. Verified exhaustively by
    tests/test_similarity.py::test_rhp_bucket_vectorized_bit_exact;
    this matters because catalogs PIN bucket keys across runs — a
    catalog registered through one path must probe identically
    through the other. Degenerate rows reproduce the HOF contract:
    NULL vector and wrong-length vector (zip_with null-pads -> null
    dot -> every when() falls to otherwise) yield bucket 0; a NaN
    element yields ALL bits set — Spark's total order puts NaN above
    every numeric, so a NaN dot passes ``>= 0`` on every plane.

    Element-level NULLs (ADVICE r10): a null ELEMENT inside an
    otherwise-well-formed vector nulls the HOF dot (product with null
    is null) -> bucket 0, but Arrow delivers that null to the numpy
    fold as NaN — indistinguishable from a GENUINE NaN element once
    float64. The caller (rhp_bucket) therefore nulls such vectors
    Spark-side (``exists(vec, x -> x IS NULL)``, where null and NaN
    are still distinct) before this UDF, so both backends agree:
    null-element row -> bucket 0, genuine-NaN row -> all bits set."""
    import pandas as pd

    globals()["pd"] = pd  # the pandas_udf type-hint resolver reads
    # the function's module globals; a purely local alias leaves
    # 'pd.Series' unresolvable (UNSUPPORTED_SIGNATURE)

    plane_rows = [list(p) for p in planes]

    @F.pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        import numpy as np

        P = np.asarray(plane_rows, dtype=np.float64)  # (nbits, dim)
        nbits, dim = P.shape
        out = np.zeros(len(v), dtype=np.int64)
        vals = list(v)
        ok = [
            i for i, x in enumerate(vals)
            if x is not None and len(x) == dim
        ]
        if ok:
            V = np.stack([np.asarray(vals[i]) for i in ok]).astype(
                np.float64
            )
            acc = np.zeros((len(ok), nbits), dtype=np.float64)
            for j in range(dim):
                # ascending-j accumulation == the HOF fold's order
                acc += np.multiply.outer(V[:, j], P[:, j])
            # Spark's NaN ordering: NaN >= 0 is TRUE (NaN sorts above
            # every numeric), so a NaN dot sets the bit — numpy's
            # IEEE comparison says False and must be overridden
            bits = (acc >= 0.0) | np.isnan(acc)
            weights = np.left_shift(
                np.uint64(1), np.arange(nbits, dtype=np.uint64)
            )
            out[ok] = (
                (bits.astype(np.uint64) * weights).sum(axis=1)
                .astype(np.int64)
            )
        return pd.Series(out)

    return _bucket(vec)


def rhp_bucket(
    df: DataFrame,
    dim: int,
    nbits: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``bucket`` (int64 signature) to each row. The signature
    backend follows the input size: the Arrow/numpy fold when
    ``dim * nbits >= _VECTORIZED_MIN_WORK``, else the HOF fold; both
    are bit-identical (catalog keys stay comparable across the
    switch), so this is purely a cost decision."""
    planes = hyperplanes(dim, nbits, seed)
    if dim * nbits >= _VECTORIZED_MIN_WORK:
        # null ELEMENTS become NaN across Arrow (ADVICE r10) — mask
        # whole-vector here, while null vs NaN are still distinct, so
        # the numpy fold sees NULL and lands on the HOF's bucket 0
        src = F.when(
            F.exists(F.col(vec_col), lambda x: x.isNull()),
            F.lit(None).cast(df.schema[vec_col].dataType),
        ).otherwise(F.col(vec_col))
        return df.withColumn("bucket", _sig_vectorized(src, planes))
    return df.withColumn("bucket", _sig(F.col(vec_col), planes))


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
    identical to "all" — the knob did nothing)."""
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

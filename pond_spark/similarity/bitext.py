"""Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
LASER/CCMatrix recipe): align two embedding collections (e.g. source-
and target-language sentence embeddings) by RATIO MARGIN rather than
raw cosine, which suppresses hub vectors that are everyone's nearest
neighbor.

    margin(x, y) = cos(x, y) / ((avg_kNN_cos(x) + avg_kNN_cos(y)) / 2)

Beyond the reference surface (pond has no embedding ops); deepens the
similarity family next to brute.knn_join / lsh / ivf.

Two tiers sharing ONE margin arithmetic (``_margin_pairs``):

- ``bitext_mine`` — the exact tier: forward (src -> tgt) and backward
  (tgt -> src) k-NN over the full broadcast-guarded cross-score
  matrix (brute.cross_scores). O(n*m); refuses unbounded sides.
- ``bitext_mine_ann`` — the large-vs-large tier (VERDICT r5 ask #3):
  candidates from a shared random-hyperplane LSH bucket equi-join
  across the two sides (lsh.rhp_bucket; ids-only join, vectors join
  back onto the deduped candidate set), optional fixed-order 1-bit
  multiprobe for recall. The k-NN lists and the per-vector
  neighborhood sums are computed over CANDIDATES ONLY, then fed
  through the identical integer margin arithmetic. Cost tracks the
  bucket collision count, never n*m.

Every post-candidate stage is id-keyed.

Numeric determinism (PERF_NOTES rule): cosines arrive rounded to 6
decimals from the shared cosine_similarity; they are converted to
exact micro-unit BIGINTs (round(cos * 1e6)), neighborhood sums are
integer sums, and the margin is INTEGER division over the ACTUAL
neighbor counts per side (a vector can have fewer than k neighbors —
small slice, zero-norm rows dropped), matching Artetxe & Schwenk's
average-over-actual-neighborhood definition exactly:

    margin_bp = cq * 2 * cnt_s * cnt_t * 10000
                div (sum_s * cnt_t + sum_t * cnt_s)

which reduces to ``cq * 2k * 10000 div (sum_s + sum_t)`` when both
sides have full k neighborhoods. Restricted to positive operands —
no float crosses a row boundary, so grouping order cannot perturb
the hash."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: margin quantization: basis points (1.0 ratio == 10000)
MARGIN_SCALE = 10_000


def _micro(col):
    """Rounded-cosine -> exact integer micro-units."""
    return F.round(col * F.lit(1_000_000.0)).cast("long")


def _margin_pairs(
    sc: DataFrame, k: int, margin_threshold_bp: int
) -> DataFrame:
    """The shared margin arithmetic over a pinned candidate score
    frame ``(sid, tid, cos_q)``: per-direction top-k windows,
    neighborhood sums with ACTUAL neighbor counts, integer ratio
    margin, threshold, best-target-per-source. Identical for the
    exact tier (sc = full cross matrix) and the ANN tier (sc = LSH
    candidates)."""
    from pyspark.sql.window import Window

    wf = Window.partitionBy("sid").orderBy(
        F.col("cos_q").desc(), F.col("tid").asc()
    )
    wb = Window.partitionBy("tid").orderBy(
        F.col("cos_q").desc(), F.col("sid").asc()
    )
    fq = (
        sc.withColumn("_rk", F.row_number().over(wf))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
    bq = (
        sc.withColumn("_rk", F.row_number().over(wb))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
    # candidate pairs: union of both directions (cosine is symmetric,
    # so the distinct collapses duplicates exactly)
    cand = fq.unionByName(bq).distinct()

    sum_s = fq.groupBy("sid").agg(
        F.sum("cos_q").alias("sum_s"), F.count(F.lit(1)).alias("cnt_s")
    )
    sum_t = bq.groupBy("tid").agg(
        F.sum("cos_q").alias("sum_t"), F.count(F.lit(1)).alias("cnt_t")
    )

    scored = (
        cand.join(F.broadcast(sum_s), "sid")
        .join(F.broadcast(sum_t), "tid")
        # positive-operand restriction keeps integer `div` == floor
        # division in every engine (and a non-positive neighborhood
        # sum means the pair is junk anyway)
        .filter(
            (F.col("cos_q") > 0)
            & (F.col("sum_s") * F.col("cnt_t")
               + F.col("sum_t") * F.col("cnt_s") > 0)
        )
        .select(
            "sid",
            "tid",
            "cos_q",
            F.expr(
                f"cos_q * {2 * MARGIN_SCALE} * cnt_s * cnt_t"
                " div (sum_s * cnt_t + sum_t * cnt_s)"
            ).alias("margin_bp"),
        )
        .filter(F.col("margin_bp") >= margin_threshold_bp)
    )
    w = Window.partitionBy("sid").orderBy(
        F.col("margin_bp").desc(), F.col("tid").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    margin_threshold_bp: int = MARGIN_SCALE,
    vec_col: str = "embedding",
    src_id: str = "vec_id",
    tgt_id: str = "vec_id",
    max_rows: int | None = None,
) -> DataFrame:
    """Mine aligned pairs: ``(src_id, tgt_id, cos_q, margin_bp)`` —
    the best target per source among forward/backward k-NN candidates
    with ratio margin >= threshold (in basis points), ties by target
    id. ``cos_q`` is the micro-unit cosine (integer)."""
    from pond_spark.similarity.brute import cross_scores

    # cosine is symmetric, so the forward (src->tgt) and backward
    # (tgt->src) k-NN rank the SAME score matrix — score it once
    # (element-order-identical dot products, so values are bit-equal
    # to two knn_join passes; cross_scores collects tgt at call time,
    # the scoring stays lazy) and pin the (ids, cosine) frame: it
    # feeds both direction windows plus the candidate union, and its
    # footprint is the O(n·m) the exact miner already is.
    # localCheckpoint instead of persist so the blocks are released
    # when the returned frame is dropped (ContextCleaner) rather than
    # pinned in the cache manager for the session's lifetime.
    kw = {}
    if max_rows is not None:
        kw["max_right_rows"] = max_rows
    sc = (
        cross_scores(src, tgt, vec_col, src_id, tgt_id, **kw)
        .select(
            F.col("qid").alias("sid"),
            F.col("nid").alias("tid"),
            _micro(F.col("cosine")).alias("cos_q"),
        )
        .localCheckpoint(eager=False)
    )
    return _margin_pairs(sc, k, margin_threshold_bp)


def bitext_mine_ann(
    src: DataFrame,
    tgt: DataFrame,
    dim: int,
    k: int = 4,
    margin_threshold_bp: int = MARGIN_SCALE,
    nbits: int = 8,
    seed: int = 42,
    multiprobe: int = 0,
    vec_col: str = "embedding",
    src_id: str = "vec_id",
    tgt_id: str = "vec_id",
) -> DataFrame:
    """Large-vs-large bitext mining: the exact miner's margin
    arithmetic over LSH-bucketed candidates instead of the full
    O(n*m) cross matrix.

    Candidates = pairs whose shared-hyperplane RHP signatures collide
    (``nbits`` planes, same literal planes on both sides), plus
    ``multiprobe`` fixed-order 1-bit-flip probe buckets on the source
    side for recall (probe buckets are distinct values and each
    target row has one bucket, so a pair can match at most one probe
    — no dedup pass needed). The bucket join carries ids only;
    vectors join back onto the candidate set for the exact cosine
    verify (the embedding_near_pairs discipline). k-NN lists and
    neighborhood sums run over candidates only — the approximation is
    the candidate set, the margin arithmetic is bit-identical to
    ``bitext_mine``.

    Scale: one ids-only shuffle on the int bucket key, expected
    candidate count n*m*(1+multiprobe)/2^nbits — tune nbits so
    buckets stay small; never a cross join."""
    from pond_spark.similarity.brute import _dot, _norm, _safe_cos_div
    from pond_spark.similarity.lsh import rhp_bucket

    sb = (
        rhp_bucket(src, dim, nbits, seed, vec_col)
        .select(
            F.col(src_id).alias("sid"),
            F.col(vec_col).alias("_sv"),
            _norm(F.col(vec_col)).alias("_sn"),
            "bucket",
        )
        .localCheckpoint(eager=False)
    )
    tb = (
        rhp_bucket(tgt, dim, nbits, seed, vec_col)
        .select(
            F.col(tgt_id).alias("tid"),
            F.col(vec_col).alias("_tv"),
            _norm(F.col(vec_col)).alias("_tn"),
            "bucket",
        )
        .localCheckpoint(eager=False)
    )
    m = max(0, min(multiprobe, nbits))
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(m)],
    )
    left = sb.select("sid", F.explode(probes).alias("pbucket"))
    right = tb.select("tid", F.col("bucket").alias("pbucket"))
    cand = left.join(right, "pbucket").select("sid", "tid")
    sc = (
        cand.join(sb.select("sid", "_sv", "_sn"), "sid")
        .join(tb.select("tid", "_tv", "_tn"), "tid")
        .select(
            "sid",
            "tid",
            _micro(
                F.round(
                    _safe_cos_div(
                        _dot(F.col("_sv"), F.col("_tv")),
                        F.col("_sn") * F.col("_tn"),
                    ),
                    6,
                )
            ).alias("cos_q"),
        )
        .filter(F.col("cos_q").isNotNull())  # zero-norm rows out
        .localCheckpoint(eager=False)
    )
    return _margin_pairs(sc, k, margin_threshold_bp)


def _margin_tail_sql(k: int, margin_threshold_bp: int) -> str:
    """SQL twin of ``_margin_pairs``: CTEs from a candidate frame
    ``sc(sid, tid, cos_q)`` through to the final select. Ranking on
    the micro-unit integer ``cos_q`` is equivalent to ranking the
    6-decimal-rounded cosine (the conversion is monotone and
    injective on rounded values)."""
    return f"""
fq AS (SELECT sid, tid, cos_q FROM (
         SELECT sid, tid, cos_q,
                row_number() OVER (PARTITION BY sid
                                   ORDER BY cos_q DESC, tid ASC) AS rn
         FROM sc) WHERE rn <= {k}),
bq AS (SELECT sid, tid, cos_q FROM (
         SELECT sid, tid, cos_q,
                row_number() OVER (PARTITION BY tid
                                   ORDER BY cos_q DESC, sid ASC) AS rn
         FROM sc) WHERE rn <= {k}),
cand AS (SELECT DISTINCT sid, tid, cos_q FROM (
           SELECT * FROM fq UNION ALL SELECT * FROM bq)),
sum_s AS (SELECT sid, CAST(sum(cos_q) AS BIGINT) AS sum_s,
                 CAST(count(*) AS BIGINT) AS cnt_s FROM fq GROUP BY sid),
sum_t AS (SELECT tid, CAST(sum(cos_q) AS BIGINT) AS sum_t,
                 CAST(count(*) AS BIGINT) AS cnt_t FROM bq GROUP BY tid),
scored AS (
  SELECT sid, tid, cos_q,
         cos_q * {2 * MARGIN_SCALE} * cnt_s * cnt_t
           // (sum_s * cnt_t + sum_t * cnt_s) AS margin_bp
  FROM cand JOIN sum_s USING (sid) JOIN sum_t USING (tid)
  WHERE cos_q > 0 AND sum_s * cnt_t + sum_t * cnt_s > 0),
kept AS (SELECT sid, tid, cos_q, CAST(margin_bp AS BIGINT) AS margin_bp,
                row_number() OVER (PARTITION BY sid
                                   ORDER BY margin_bp DESC, tid ASC) AS rk
         FROM scored WHERE margin_bp >= {margin_threshold_bp})
SELECT sid, tid, cos_q, margin_bp FROM kept WHERE rk = 1"""


def bitext_mine_sql(
    src_where: str,
    tgt_where: str,
    cos_sql: str,
    k: int = 4,
    margin_threshold_bp: int = MARGIN_SCALE,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of ``bitext_mine`` — ONE cross-score matrix (the
    backward k-NN is the transpose of the same symmetric scores, as
    on the Spark side), identical micro-unit conversion, integer
    sums/counts and floor division. ``cos_sql`` is the engine's
    shared rounded-cosine expression over aliases ``l``(qv)/
    ``r``(nv). sc is MATERIALIZED: both direction windows read it."""
    return f"""
WITH s AS (SELECT vec_id, embedding FROM {table} WHERE {src_where}),
t AS (SELECT vec_id, embedding FROM {table} WHERE {tgt_where}),
sc AS MATERIALIZED (
  SELECT l.vec_id AS sid, r.vec_id AS tid,
         CAST(round(({cos_sql}) * 1000000.0) AS BIGINT) AS cos_q
  FROM (SELECT vec_id, embedding AS qv FROM s) l
  CROSS JOIN (SELECT vec_id, embedding AS nv FROM t) r
  WHERE {cos_sql} IS NOT NULL),
{_margin_tail_sql(k, margin_threshold_bp)}
"""


def bitext_mine_ann_sql(
    src_where: str,
    tgt_where: str,
    cos_sql: str,
    bucket_sql: str,
    nbits: int,
    multiprobe: int = 0,
    k: int = 4,
    margin_threshold_bp: int = MARGIN_SCALE,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of ``bitext_mine_ann`` — a deterministic replay of
    the approximate operator end-to-end: identical literal-plane
    signatures (``bucket_sql``), the same source-side 1-bit probe
    expansion, the bucket equi-join candidate set, then the shared
    margin tail."""
    m = max(0, min(multiprobe, nbits))
    flips = "".join(f", xor(bucket, {1 << i})" for i in range(m))
    return f"""
WITH s AS MATERIALIZED (
  SELECT vec_id, embedding, {bucket_sql} AS bucket
  FROM {table} WHERE {src_where}),
t AS MATERIALIZED (
  SELECT vec_id, embedding, {bucket_sql} AS bucket
  FROM {table} WHERE {tgt_where}),
probes AS (SELECT vec_id, embedding,
                  unnest([bucket{flips}]) AS pbucket FROM s),
sc AS MATERIALIZED (
  SELECT l.vec_id AS sid, r.vec_id AS tid,
         CAST(round(({cos_sql}) * 1000000.0) AS BIGINT) AS cos_q
  FROM (SELECT vec_id, embedding AS qv, pbucket FROM probes) l
  JOIN (SELECT vec_id, embedding AS nv, bucket FROM t) r
    ON l.pbucket = r.bucket
  WHERE {cos_sql} IS NOT NULL),
{_margin_tail_sql(k, margin_threshold_bp)}
"""

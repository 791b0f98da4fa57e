"""Brute-force cosine similarity search over an embedding column.

The exact baseline: score every vector against the query with built-in
array expressions (``zip_with`` + ``aggregate`` — JVM-side, no Python),
then top-k via ``orderBy().limit(k)`` → TakeOrderedAndProject (per-
partition heaps, no global sort). This is the correct-by-construction
reference; the LSH/IVF variants in .lsh trade recall for candidate
pruning at scale. knn_join's cross_scores runs the same fold in an
Arrow/numpy kernel over a broadcast right side.

Determinism: all arithmetic in double, summation strictly left-to-right
(``aggregate`` folds sequentially), results rounded to 6 decimals —
bit-compatible with the DuckDB oracle's identical fold.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F



def _dot(a: Column, b: Column) -> Column:
    """Dot product, summed strictly left-to-right in double: the fold
    starts from ``lit(0.0)`` and adds terms in index order, so it is
    bit-identical to the DuckDB oracle's ``list_reduce`` and to
    cross_scores' ``_fold_dot_block``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _safe_cos_div(num: Column, den: Column) -> Column:
    """Cosine division guarded against zero-norm vectors: a zero
    embedding (failed/padded row) has no direction, so its cosine is
    NULL — under Spark 4's default ANSI mode the raw division ABORTS
    the job with DIVIDE_BY_ZERO, and with ANSI off it yields NaN,
    which both passes ``>= threshold`` filters and sorts FIRST in
    descending top-k order (r4 review). NULL does neither."""
    return F.when(den != F.lit(0.0), num / den)


def cosine_similarity(a: Column, b: Column, decimals: int = 6) -> Column:
    return F.round(_safe_cos_div(_dot(a, b), _norm(a) * _norm(b)), decimals)


def brute_force_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k rows by cosine similarity to ``query_vec``:
    ``(id, cosine)``, ties broken by id for determinism."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.select(
        F.col(id_col), cosine_similarity(F.col(vec_col), q).alias("cosine")
    )
    return (
        scored.filter(F.col("cosine").isNotNull())  # zero-norm rows out
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


#: refuse a right side bigger than this many rows. cross_scores
#: collects it onto the driver and stacks it into float64 matrices —
#: ≈512 MB at 1M × 64 dims (8 B a value), on top of the collected
#: Arrow table — then broadcasts that payload pickled, ≈512 MB again.
#: A refused call reads at most this many + 1 rows.
KNN_JOIN_MAX_RIGHT_ROWS = 1_000_000


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    max_right_rows: int = KNN_JOIN_MAX_RIGHT_ROWS,
) -> DataFrame:
    """Exact k-NN join: for each left row, its k nearest right rows by
    cosine, ties by right id. The right side is collected, broadcast
    and scored against every left row (cross_scores) — exact by
    construction, and a deliberate scale-killer if the right side is
    large, so it REFUSES when ``right`` exceeds ``max_right_rows``.
    That collect is the only side action: it reads at most max+1 rows
    (ids and vectors), so it never full-scans a 100 TB right side just
    to refuse it, and an accepted right side costs the driver ≈512 MB
    of float64 per 1M × 64-dim copy (KNN_JOIN_MAX_RIGHT_ROWS). The
    kernel pre-prunes each left row to an exact superset of its top k
    (cross_scores' ``k`` says why it is exact). For large-vs-large,
    use lsh.embedding_near_pairs / lsh_topk / ivf_topk; to override
    knowingly, raise ``max_right_rows``."""
    from pyspark.sql.window import Window

    scored = cross_scores(
        left, right, vec_col, left_id, right_id,
        max_right_rows=max_right_rows, k=k,
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid").asc())
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .drop("_rank")
    )


def _too_large(max_right_rows: int) -> ValueError:
    return ValueError(
        f"right side exceeds max_right_rows={max_right_rows}: a broadcast "
        "cartesian at this size is a scale-killer. Use "
        "similarity.lsh.embedding_near_pairs / lsh_topk or "
        "similarity.ivf.ivf_topk for large right sides, or raise "
        "max_right_rows explicitly."
    )


#: cap on the (left-chunk x right) score-matrix cells a single numpy
#: block may hold (~32 MB of float64) — bounds task memory at any
#: right-side size instead of letting a 10k-row Arrow batch allocate
#: n_batch x m doubles.
_VECTORIZED_BLOCK_CELLS = 4_000_000

#: how far below a row's k-th best unrounded cosine the fused top-k
#: still emits: one 6-decimal rounding step, plus slack for ulp-sized
#: errors (the subtraction; round() works on the shortest decimal).
_TOPK_MARGIN = 1e-6 + 1e-12


def _arrow_vec_rows(col):
    """Per-row ``(float64 view | None, null-element mask | None)``
    pairs from an arrow list<numeric> column. The validity bitmaps keep
    a null ELEMENT distinct from a genuine NaN — Arrow's float buffer
    stores both as NaN, but their JVM cosine semantics differ (null
    product -> NULL cosine vs NaN -> NaN cosine). The cast is unsafe
    so a bigint beyond ±2^53 rounds to nearest, as Java's long ->
    double does, instead of raising."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offs = col.offsets.to_numpy(zero_copy_only=False)
    vals = col.values
    valid = (
        np.ones(len(col), dtype=bool)
        if col.null_count == 0
        else col.is_valid().to_numpy(zero_copy_only=False)
    )
    v64 = np.asarray(
        vals.cast(pa.float64(), safe=False).to_numpy(zero_copy_only=False)
    )
    nullmask = (
        None
        if vals.null_count == 0
        else vals.is_null().to_numpy(zero_copy_only=False)
    )
    rows = []
    for i in range(len(col)):
        if not valid[i]:
            rows.append((None, None))
            continue
        lo, hi = offs[i], offs[i + 1]
        rows.append(
            (v64[lo:hi], None if nullmask is None else nullmask[lo:hi])
        )
    return rows


def _classify_vec(vec, nullmask):
    """JVM-cosine row class for one vector (a length mismatch is a
    NULL cosine too; the caller only pairs rows of equal length):

    - ``skip``: NULL vector or a null element — every cosine of this
      row is provably NULL and the JVM's isNotNull filter would drop
      it, so no pair is emitted at all;
    - ``nan``: a NaN element (and no null) — every equal-length
      cosine is NaN (NaN product poisons the fold, and the norm side
      keeps the NaN through ``when(den != 0.0)``);
    - ``inf``: an infinite element — the fold can overflow to
      inf/-inf/NaN in value-dependent ways, so pairs go through the
      exact scalar emulation;
    - ``clean``: finite values only — the vectorized matrix fold.
    """
    import numpy as np

    if vec is None or (nullmask is not None and nullmask.any()):
        return "skip"
    if np.isnan(vec).any():
        return "nan"
    if np.isinf(vec).any():
        return "inf"
    return "clean"


def _fold_dot_block(Q, R):
    """DOT[i, j] = ((0 + q0*r0) + q1*r1) + ... with ascending element
    index — exactly the HOF fold's left-to-right order (brute._dot),
    one IEEE double multiply and one IEEE double add per term, so
    every intermediate (and the result) is bit-identical to the JVM
    expression."""
    import numpy as np

    DOT = np.zeros((Q.shape[0], R.shape[0]), dtype=np.float64)
    for j in range(Q.shape[1]):
        DOT += np.multiply.outer(Q[:, j], R[:, j])
    return DOT


def _fold_norms(Q):
    """sqrt of the ascending-index sum of squares — brute._norm's
    exact fold; np.sqrt and Java Math.sqrt are both the correctly
    rounded IEEE sqrt."""
    import numpy as np

    acc = np.zeros(Q.shape[0], dtype=np.float64)
    for j in range(Q.shape[1]):
        x = Q[:, j]
        acc += x * x
    return np.sqrt(acc)


def _scalar_cross_pair(a, b):
    """Exact Python-float emulation of one pair's (dot, den) under the
    JVM expression, for the rare inf-carrying rows: Python floats ARE
    IEEE doubles, so the ascending fold reproduces every intermediate.
    Returns (num, den, nan_flag) with the wire invariant that num/den
    are never NaN (pandas->Arrow silently nulls NaN): a NaN dot or
    den means the JVM cosine is NaN, carried as the flag instead."""
    import math

    dot = 0.0
    for x, y in zip(a, b):
        dot = dot + float(x) * float(y)
    na = 0.0
    for x in a:
        x = float(x)
        na = na + x * x
    nb = 0.0
    for y in b:
        y = float(y)
        nb = nb + y * y
    den = math.sqrt(na) * math.sqrt(nb)
    if math.isnan(dot) or math.isnan(den):
        return 0.0, 1.0, True
    return dot, den, False


def _group_vec_rows(rows, ids):
    """Bucket classified rows for the cross fold. Returns
    {length: {"ids": [...], "Q": matrix, "qn": norms,
              "nan_ids": [...], "inf": [(id, vec)]}}."""
    import numpy as np

    groups: dict = {}
    for (vec, nullmask), rid in zip(rows, ids):
        cls = _classify_vec(vec, nullmask)
        if cls == "skip":
            continue
        g = groups.setdefault(
            len(vec), {"ids": [], "vecs": [], "nan_ids": [], "inf": []}
        )
        if cls == "clean":
            g["ids"].append(rid)
            g["vecs"].append(vec)
        elif cls == "nan":
            g["nan_ids"].append(rid)
        else:
            g["inf"].append((rid, vec))
    for key, g in groups.items():
        if g["vecs"]:
            g["Q"] = np.stack(g["vecs"]).astype(np.float64, copy=False)
        else:
            g["Q"] = np.zeros((0, key), dtype=np.float64)
        del g["vecs"]
        g["qn"] = _fold_norms(g["Q"])
    return groups


def cross_scores(
    left: DataFrame,
    right: DataFrame,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    max_right_rows: int = KNN_JOIN_MAX_RIGHT_ROWS,
    k: int | None = None,
) -> DataFrame:
    """The cross-score frame ``(qid, nid, cosine)`` both knn_join and
    bitext_mine rank over — factored out so a consumer that needs BOTH
    directions (bitext's forward and backward k-NN) scores the
    symmetric matrix once instead of twice. Zero-norm rows (NULL
    cosine) are already filtered; cosines carry knn_join's 6-decimal
    rounding, exactly as ``cosine_similarity`` over a cross join
    would compute them.

    One side action, run at call time: ``right``'s ``(id, vector)``
    rows are collected with ``limit(max_right_rows + 1).toArrow()``,
    and more than ``max_right_rows`` of them raise ValueError — a
    refused call reads at most max+1 rows, as many as the largest
    accepted one. The clean vectors are stacked into per-length
    float64 matrices on the driver and broadcast pickled: ≈512 MB
    each at 1M × 64 dims (KNN_JOIN_MAX_RIGHT_ROWS). A mapInArrow pass
    over the LEFT side then emits ``(qid, nid, _num, _den, _nan)``
    id+double rows — the vector payloads cross the Python boundary
    once per ROW, never once per pair, and the division + HALF_UP
    rounding stay in the JVM:

        cosine = round(when(_nan, NaN)
                       .when(_den != 0.0, _num / _den), 6)

    is term-for-term ``round(_safe_cos_div(_dot, _norm * _norm), 6)``
    with the dot and norms produced by the bit-exact ascending folds
    above. Pairs whose cosine is provably NULL (NULL vector, null
    element, length mismatch, zero norm) are not emitted.
    ``_num``/``_den`` are never NaN on the wire (pandas/Arrow return
    paths silently null NaN): a NaN cosine rides ``_nan`` instead.

    ``k``: the consumer keeps each qid's top k by ``(cosine desc, nid
    asc)``, as knn_join does (None: the full matrix). The kernel then
    emits per left row only the pairs whose UNROUNDED cosine is at
    least the row's k-th best finite one (in its right length-group)
    minus one 6-decimal rounding step, plus every NaN/inf pair — an
    exact superset of the ranked rows: rounding is monotone, cosines
    that round equal (a tie the nid breaks) lie under 1e-6 apart, and
    NaN sorts first descending.
    """
    tbl = (
        right.select(F.col(right_id).alias("nid"), F.col(vec_col).alias("_nv"))
        .limit(max_right_rows + 1)
        .toArrow()
    )
    if tbl.num_rows > max_right_rows:
        raise _too_large(max_right_rows)
    payload = _group_vec_rows(
        _arrow_vec_rows(tbl.column("_nv")), tbl.column("nid").to_pylist()
    )
    nid_pa_type = tbl.schema.field("nid").type
    bc = left.sparkSession.sparkContext.broadcast(payload)

    qid_dt = left.select(F.col(left_id)).schema.fields[0].dataType
    nid_dt = right.select(F.col(right_id)).schema.fields[0].dataType
    out_schema = (
        f"qid {qid_dt.simpleString()}, nid {nid_dt.simpleString()}, "
        "_num double, _den double, _nan boolean"
    )

    def score(batches):
        import numpy as np
        import pyarrow as pa

        r_payload = bc.value

        def emit(qids, nids, num, den, nan):
            return pa.record_batch(
                [
                    qids,
                    nids,
                    pa.array(np.asarray(num, dtype=np.float64)),
                    pa.array(np.asarray(den, dtype=np.float64)),
                    pa.array(np.asarray(nan, dtype=bool)),
                ],
                names=["qid", "nid", "_num", "_den", "_nan"],
            )

        for batch in batches:
            qtype = batch.schema.field(0).type
            l_groups = _group_vec_rows(
                _arrow_vec_rows(batch.column(1)), batch.column(0).to_pylist()
            )
            for key, lg in l_groups.items():
                rg = r_payload.get(key)
                if rg is None:
                    continue
                R, rn, nids = rg["Q"], rg["qn"], rg["ids"]
                m = len(nids)
                Q, qn = lg["Q"], lg["qn"]
                l_ids, l_nan, l_inf = lg["ids"], lg["nan_ids"], lg["inf"]
                nid_arr = (
                    pa.array(nids, type=nid_pa_type) if m else None
                )
                # clean x clean: blocked matrix fold
                if m and l_ids:
                    l_id_arr = pa.array(l_ids, type=qtype)
                    rows_per_block = max(
                        1, _VECTORIZED_BLOCK_CELLS // m
                    )
                    for lo in range(0, len(l_ids), rows_per_block):
                        hi = min(lo + rows_per_block, len(l_ids))
                        DOT = _fold_dot_block(Q[lo:hi], R)
                        DEN = np.multiply.outer(qn[lo:hi], rn)
                        # finite float64 inputs can still overflow the
                        # fold to inf, and inf*0 / inf-inf make NaN —
                        # the JVM cosine for those cells is NaN, which
                        # must ride the flag (NaN doubles do not
                        # survive the Arrow return path)
                        nan_cells = np.isnan(DOT) | np.isnan(DEN)
                        # den == 0 is a NULL cosine: never emitted
                        keep = nan_cells | (DEN != 0.0)
                        if k is not None and 0 < k < m:
                            with np.errstate(divide="ignore", invalid="ignore"):
                                COS = DOT / DEN
                            clean = np.isfinite(COS)
                            kth = np.partition(
                                np.where(clean, COS, -np.inf), m - k, axis=1
                            )[:, m - k]
                            keep &= ~clean | (
                                COS >= (kth - _TOPK_MARGIN)[:, None]
                            )
                        rows, cols = np.nonzero(keep)
                        nan = nan_cells[keep]
                        num = np.where(nan, 0.0, DOT[keep])
                        den = np.where(nan, 1.0, DEN[keep])
                        yield emit(
                            l_id_arr.take(pa.array(rows + lo)),
                            nid_arr.take(pa.array(cols)),
                            num,
                            den,
                            nan,
                        )
                # exceptional rows (NaN / inf classes): tiny by
                # construction, resolved pair-by-pair with the exact
                # scalar emulation or the NaN-poisoning rule
                sp_q, sp_n, sp_num, sp_den, sp_nan = [], [], [], [], []

                def nan_pair(q, n):
                    sp_q.append(q)
                    sp_n.append(n)
                    sp_num.append(0.0)
                    sp_den.append(1.0)
                    sp_nan.append(True)

                def exact_pair(q, n, a, b):
                    num, den, nanf = _scalar_cross_pair(a, b)
                    sp_q.append(q)
                    sp_n.append(n)
                    sp_num.append(num)
                    sp_den.append(den)
                    sp_nan.append(nanf)

                nan_partners = (
                    nids
                    + rg["nan_ids"]
                    + [nid for nid, _ in rg["inf"]]
                )
                for q in l_nan:  # Lnan x (Rclean|Rnan|Rinf)
                    for n in nan_partners:
                        nan_pair(q, n)
                for n in rg["nan_ids"]:  # (Lclean|Linf) x Rnan
                    for q in l_ids:
                        nan_pair(q, n)
                    for q, _ in l_inf:
                        nan_pair(q, n)
                for q, a in l_inf:  # Linf x (Rclean|Rinf)
                    for ri in range(m):
                        exact_pair(q, nids[ri], a, R[ri])
                    for n, b in rg["inf"]:
                        exact_pair(q, n, a, b)
                for n, b in rg["inf"]:  # Lclean x Rinf
                    for li in range(len(l_ids)):
                        exact_pair(l_ids[li], n, Q[li], b)
                if sp_q:
                    yield emit(
                        pa.array(sp_q, type=qtype),
                        pa.array(sp_n, type=nid_pa_type),
                        sp_num, sp_den, sp_nan,
                    )

    mapped = left.select(
        F.col(left_id), F.col(vec_col)
    ).mapInArrow(score, out_schema)
    return mapped.select(
        "qid",
        "nid",
        F.round(
            F.when(F.col("_nan"), F.lit(float("nan"))).when(
                F.col("_den") != 0.0, F.col("_num") / F.col("_den")
            ),
            6,
        ).alias("cosine"),
    ).filter(F.col("cosine").isNotNull())

"""Brute-force cosine similarity search over an embedding column.

The exact baseline: score every vector against the query with built-in
array expressions (``zip_with`` + ``aggregate`` — JVM-side, no Python),
then top-k via ``orderBy().limit(k)`` → TakeOrderedAndProject (per-
partition heaps, no global sort). This is the correct-by-construction
reference; the LSH/IVF variants in .lsh trade recall for candidate
pruning at scale. knn_join and cross_scores run the same fold in an
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


#: refuse a right side bigger than this many rows. knn_join and
#: cross_scores collect it onto the driver and stack it into float64
#: matrices — ≈512 MB at 1M × 64 dims (8 B a value), on top of the
#: collected Arrow table — then broadcast that payload pickled,
#: ≈512 MB again.
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
    cosine, ties by right id — ``(qid, nid, cosine)``. Each left row is
    ranked on its own, so left rows that share an id (or a NULL id)
    get k neighbours each, whatever the partitioning. The right side
    is collected, broadcast and scored against every left row —
    exact by construction, and a deliberate scale-killer if the right
    side is large, so it REFUSES when ``right`` exceeds
    ``max_right_rows``. That collect is the only side action: it reads
    at most max+1 rows (ids and vectors), so it never full-scans a
    100 TB right side just to refuse it, and an accepted right side
    costs the driver ≈512 MB of float64 per 1M × 64-dim copy
    (KNN_JOIN_MAX_RIGHT_ROWS).

    The Arrow kernel emits one row per scorable left row: its id and
    an exact superset of its top k (``_scored`` says why it is exact)
    as ``(nid, _num, _den, _nan)`` structs. The ranking runs in that
    same stage, as array expressions (_TOPK_SQL) — no exchange, no
    window: each candidate's cosine is cross_scores' JVM expression,
    NULL cosines are dropped, the rest sorted by ``(cosine desc, nid
    asc)`` with NaN first and NULL nids first, sliced to k and
    exploded. For large-vs-large, use lsh.embedding_near_pairs /
    lsh_topk / ivf_topk; to override knowingly, raise
    ``max_right_rows``."""
    rows = _scored(left, right, vec_col, left_id, right_id, max_right_rows, k)
    return rows.select("qid", F.inline(F.expr(_TOPK_SQL.format(k=int(k)))))


#: the kernel's ``(_num, _den, _nan)`` as the rounded cosine — term for
#: term ``round(_safe_cos_div(_dot, _norm * _norm), 6)``; ``{c}`` is the
#: struct prefix. Written as SQL text, like _TOPK_SQL: one parse on the
#: JVM instead of a py4j call per Column node (PERF_NOTES, "Rank
#: knn_join in the scoring stage").
_COSINE_SQL = (
    "round(CASE WHEN {c}_nan THEN CAST('NaN' AS DOUBLE)"
    " WHEN {c}_den != 0.0D THEN {c}_num / {c}_den END, 6)"
)

#: one left row's ``(nid, cosine)`` top k: each candidate's cosine,
#: NULL cosines dropped, the rest sorted by (cosine desc, nid asc) —
#: Spark's double comparisons put NaN above every number and a NULL
#: nid sorts first, as a Window ordered that way does — cut to k
_TOPK_SQL = (
    "slice(array_sort(filter(transform(_c, c -> struct(c.nid AS nid, "
    + _COSINE_SQL.format(c="c.")
    + " AS cosine)), c -> c.cosine IS NOT NULL), (a, b) -> CASE"
    " WHEN a.cosine > b.cosine THEN -1 WHEN a.cosine < b.cosine THEN 1"
    " WHEN a.nid IS NULL THEN IF(b.nid IS NULL, 0, -1)"
    " WHEN b.nid IS NULL THEN 1 WHEN a.nid < b.nid THEN -1"
    " WHEN a.nid > b.nid THEN 1 ELSE 0 END), 1, {k})"
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
) -> DataFrame:
    """The full cross-score frame ``(qid, nid, cosine)``, one row per
    scorable pair — for a consumer that needs BOTH directions
    (bitext's forward and backward k-NN) or every pair, so it scores
    the matrix once instead of twice. Zero-norm rows (NULL cosine) are
    already filtered; cosines carry knn_join's 6-decimal rounding,
    exactly as ``cosine_similarity`` over a cross join would compute
    them. The side action and the kernel are ``_scored``'s, the cosine
    expression is _COSINE_SQL."""
    mapped = _scored(left, right, vec_col, left_id, right_id, max_right_rows)
    return mapped.select(
        "qid", "nid", F.expr(_COSINE_SQL.format(c="")).alias("cosine")
    ).filter(F.col("cosine").isNotNull())


def _scored(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    left_id: str,
    right_id: str,
    max_right_rows: int,
    k: int | None = None,
) -> DataFrame:
    """The Arrow kernel's frame over ``left``, scored against ``right``.

    One side action, run at call time: ``right``'s ``(id, vector)``
    rows are collected with ``limit(max_right_rows + 1).toArrow()``,
    and more than ``max_right_rows`` of them raise ValueError — a
    refused call reads at most max+1 rows, as many as the largest
    accepted one. The clean vectors are stacked into per-length
    float64 matrices on the driver and broadcast pickled: ≈512 MB
    each at 1M × 64 dims (KNN_JOIN_MAX_RIGHT_ROWS). A mapInArrow pass
    over the LEFT side then scores each left row against them — the
    vector payloads cross the Python boundary once per ROW, never once
    per pair — and emits ``(_num, _den, _nan)`` doubles per pair, so
    the division and HALF_UP rounding stay in the JVM (_COSINE_SQL)
    with the dot and norms produced by the bit-exact ascending folds
    above. Pairs whose cosine is provably NULL (NULL vector, null
    element, length mismatch, zero norm) are not emitted.
    ``_num``/``_den`` are never NaN on the wire (pandas/Arrow return
    paths silently null NaN): a NaN cosine rides ``_nan`` instead.

    ``k`` None: one row per pair, ``(qid, nid, _num, _den, _nan)``.
    ``k`` given: one row per left row with any pair, ``(qid, _c)``,
    ``_c`` an array of ``(nid, _num, _den, _nan)`` structs holding only
    the pairs whose UNROUNDED cosine is at least the row's k-th best
    finite one (in its right length-group) minus one 6-decimal
    rounding step, plus every NaN/inf pair — an exact superset of the
    row's top k by ``(cosine desc, nid asc)``: rounding is monotone,
    cosines that round equal (a tie the nid breaks) lie under 1e-6
    apart, and NaN sorts first descending.
    """
    r_cols = right.select(F.col(right_id).alias("nid"), F.col(vec_col).alias("_nv"))
    tbl = r_cols.limit(max_right_rows + 1).toArrow()
    if tbl.num_rows > max_right_rows:
        raise _too_large(max_right_rows)
    payload = _group_vec_rows(
        _arrow_vec_rows(tbl.column("_nv")), tbl.column("nid").to_pylist()
    )
    nid_pa_type = tbl.schema.field("nid").type
    bc = left.sparkSession.sparkContext.broadcast(payload)

    l_cols = left.select(F.col(left_id), F.col(vec_col))
    qid_dt = l_cols.schema.fields[0].dataType
    nid_dt = r_cols.schema["nid"].dataType
    pair = f"nid {nid_dt.simpleString()}, _num double, _den double, _nan boolean"
    out_schema = f"qid {qid_dt.simpleString()}, " + (
        pair if k is None else f"_c array<struct<{pair}>>"
    )

    def score(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            parts = _batch_pairs(batch, bc.value, k, nid_pa_type)
            if k is None:
                for pos, nids, num, den, nan in parts:
                    yield pa.record_batch(
                        [batch.column(0).take(pa.array(pos)), nids,
                         pa.array(num), pa.array(den), pa.array(nan)],
                        names=["qid", "nid", "_num", "_den", "_nan"],
                    )
                continue
            parts = list(parts)
            if not parts:
                continue
            # one row per left row: grouped by its POSITION in the
            # batch, never by id value, so rows sharing an id (or a
            # NULL id) are ranked apart
            pos = np.concatenate([p[0] for p in parts])
            order = np.argsort(pos, kind="stable")
            rows, starts = np.unique(pos[order], return_index=True)
            cands = pa.StructArray.from_arrays(
                [pa.concat_arrays([p[1] for p in parts]).take(pa.array(order))]
                + [pa.array(np.concatenate([p[i] for p in parts])[order])
                   for i in (2, 3, 4)],
                names=["nid", "_num", "_den", "_nan"],
            )
            offsets = pa.array(np.append(starts, len(pos)).astype(np.int32))
            yield pa.record_batch(
                [batch.column(0).take(pa.array(rows)),
                 pa.ListArray.from_arrays(offsets, cands)],
                names=["qid", "_c"],
            )

    return l_cols.mapInArrow(score, out_schema)


def _batch_pairs(batch, r_payload, k, nid_pa_type):
    """The scorable pairs of one left Arrow batch against the broadcast
    right groups, as ``(pos, nids, num, den, nan)`` blocks: ``pos`` the
    left row's position in ``batch`` (int64 numpy), ``nids`` an Arrow
    array, the rest numpy. ``k`` prunes each row to its top-k superset
    (``_scored``)."""
    import numpy as np
    import pyarrow as pa

    # left rows are keyed by their position, never their id
    l_groups = _group_vec_rows(
        _arrow_vec_rows(batch.column(1)), range(batch.num_rows)
    )
    for key, lg in l_groups.items():
        rg = r_payload.get(key)
        if rg is None:
            continue
        R, rn, nids = rg["Q"], rg["qn"], rg["ids"]
        m = len(nids)
        Q, qn = lg["Q"], lg["qn"]
        l_ids, l_nan, l_inf = lg["ids"], lg["nan_ids"], lg["inf"]
        # clean x clean: blocked matrix fold
        if m and l_ids:
            l_pos = np.asarray(l_ids, dtype=np.int64)
            nid_arr = pa.array(nids, type=nid_pa_type)
            rows_per_block = max(1, _VECTORIZED_BLOCK_CELLS // m)
            for lo in range(0, len(l_ids), rows_per_block):
                hi = min(lo + rows_per_block, len(l_ids))
                DOT = _fold_dot_block(Q[lo:hi], R)
                DEN = np.multiply.outer(qn[lo:hi], rn)
                # finite float64 inputs can still overflow the fold to
                # inf, and inf*0 / inf-inf make NaN — the JVM cosine
                # for those cells is NaN, which must ride the flag (NaN
                # doubles do not survive the Arrow return path)
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
                    keep &= ~clean | (COS >= (kth - _TOPK_MARGIN)[:, None])
                rows, cols = np.nonzero(keep)
                nan = nan_cells[keep]
                yield (
                    l_pos[rows + lo],
                    nid_arr.take(pa.array(cols)),
                    np.where(nan, 0.0, DOT[keep]),
                    np.where(nan, 1.0, DEN[keep]),
                    nan,
                )
        # exceptional rows (NaN / inf classes): tiny by construction,
        # resolved pair-by-pair with the exact scalar emulation or the
        # NaN-poisoning rule
        poisoned = (0.0, 1.0, True)  # num, den, nan of a NaN cosine
        sp = []  # (pos, nid, num, den, nan) per pair
        nan_partners = nids + rg["nan_ids"] + [nid for nid, _ in rg["inf"]]
        for q in l_nan:  # Lnan x (Rclean|Rnan|Rinf)
            sp += [(q, n, *poisoned) for n in nan_partners]
        for n in rg["nan_ids"]:  # (Lclean|Linf) x Rnan
            sp += [(q, n, *poisoned) for q in l_ids + [q for q, _ in l_inf]]
        for q, a in l_inf:  # Linf x (Rclean|Rinf)
            sp += [(q, nids[ri], *_scalar_cross_pair(a, R[ri])) for ri in range(m)]
            sp += [(q, n, *_scalar_cross_pair(a, b)) for n, b in rg["inf"]]
        for n, b in rg["inf"]:  # Lclean x Rinf
            sp += [(q, n, *_scalar_cross_pair(Q[li], b)) for li, q in enumerate(l_ids)]
        if sp:
            q, n, num, den, nanf = zip(*sp)
            yield (
                np.asarray(q, dtype=np.int64),
                pa.array(n, type=nid_pa_type),
                np.asarray(num, dtype=np.float64),
                np.asarray(den, dtype=np.float64),
                np.asarray(nanf, dtype=bool),
            )

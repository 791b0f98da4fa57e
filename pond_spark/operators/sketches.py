"""Mergeable distinct-count sketch tables — precomputed HyperLogLog
cubes (Apache DataSketches HLL, built into Spark 3.5+ as
``hll_sketch_agg`` / ``hll_union_agg``).

The 100 TB pattern this unlocks: plain distinct counts are NOT
mergeable — a per-day uniques table cannot answer "uniques this week"
without rescanning the raw events, because summing daily uniques
over-counts returning visitors. A per-day HLL *sketch* table is
mergeable: any date range collapses to a union of fixed-size (KB)
sketches — the raw 100 TB event store is touched exactly once at
build time, and every later range query reads only the tiny sketch
partitions it covers (partition-pruned, plan-asserted in tests).

This is the materialized twin of q_daily_uniques_approx's inline
``approx_count_distinct`` (same sketch family, persisted instead of
recomputed), and the distinct-count sibling of the rollup family
(operators/rollup.py) whose additive measures pre-aggregate with
plain sums.

Accuracy: DataSketches HLL at lg_k=12 has ~1.6% relative standard
error; estimates are engine-specific, so oracle rows follow the
established accuracy-envelope pattern (emit exact + within-bound
flag; see __spark_entry__.q_daily_uniques_approx).

Every day-partitioned sketch table here and in operators/kmv.py
(HLL, bottom-k values, Count-Min, KMV) shares one lifecycle: the
events→day front (``_day_rows``), the write path (``_write_days``:
build, fold or replace days) and the params sidecar
(``_pin_params`` / ``_check_params``). A family declares only its
daily aggregate, its merge and its sidecar parameters.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pond_spark.catalog import _fs_for
from pond_spark.functions.text import fingerprint

__all__ = [
    "build_uniques_sketches",
    "update_uniques_sketches",
    "uniques_over_range",
    "build_value_sketches",
    "update_value_sketches",
    "value_quantiles_over_range",
    "build_cm_sketches",
    "update_cm_sketches",
    "replace_cm_days",
    "cm_estimate_over_range",
]


# ---------------------------------------------------------------------------
# the shared lifecycle of a day-partitioned sketch table


def _day_rows(
    logs: DataFrame, ts_col: str, value_col: str, **cols: Column
) -> DataFrame:
    """The events→day front of every sketch family: drop events whose
    timestamp or sketched column is null, and project ``day`` (the
    ISO date string the tables partition on, so range predicates prune
    directories) plus ``cols`` (output name → expression)."""
    return logs.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
        *(c.alias(name) for name, c in cols.items()),
    )


def _bottom_k(
    df: DataFrame,
    k: int,
    order: tuple[str, ...] = ("bk", "rid"),
    by: tuple[str, ...] = ("day", "site"),
) -> DataFrame:
    """The ``k`` rows of each ``by`` group that sort first by ``order``
    — the bottom-k sample of the value and KMV families, at build,
    fold and serve time."""
    w = Window.partitionBy(*by).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _read_days(spark: SparkSession, path: str, lo: str, hi: str) -> DataFrame:
    """The sketch rows of the days in ``[lo, hi]`` (inclusive ISO
    dates) — a partition filter, so only those directories are read."""
    return spark.read.parquet(path).filter(
        (F.col("day") >= lo) & (F.col("day") <= hi)
    )


#: why a sidecar mismatch refuses, per pinned parameter
_PARAM_WHY = {
    "seed": "sample membership keys are incomparable",
    "k": "that would mix sample sizes across days",
    "hash_version": "rebuild the table; mixing hash families corrupts cells",
    "depth": "cell indices are incompatible",
    "width": "cell indices are incompatible",
    "lg_k": "HLL unions of days at different lg_k fail every range serve",
}


def _pin_params(spark: SparkSession, path: str, params: dict) -> None:
    """Write the table's ``.params.json`` sidecar (every value an int)."""
    _fs_for(spark, path).write_text(
        path + ".params.json",
        json.dumps({name: int(v) for name, v in params.items()}),
    )


def _check_params(
    spark: SparkSession,
    path: str,
    kind: str,
    want: dict,
    serve: bool = False,
) -> None:
    """Refuse to use a sketch table whose sidecar disagrees with
    ``want``; ``kind`` labels the error. Every given parameter must
    match exactly (``None`` = not checked): mixed-parameter day
    partitions poison later merges — CM cell indices are a function of
    hash family, depth and width; bottom-k membership keys of the
    seed. The one relaxation is the serve-time ``k`` of a bottom-k
    table (``serve=True``): the merge identity ``bottom_k(A∪B) =
    bottom_k(bottom_k(A)∪bottom_k(B))`` holds for any k up to the
    build k, while a larger k silently returns a non-uniform sample
    and biased estimates. A sidecar missing a parameter does not check
    it — so a CM sidecar without ``hash_version`` reads as the current
    version — and a table with no sidecar (written before the sidecar
    existed) is not checked at all.

    Sidecar I/O goes through catalog._fs_for, never builtin open():
    the parquet table itself supports hdfs://-style paths, so the
    sidecar must too, or remote tables silently skip validation."""
    fs = _fs_for(spark, path)
    sidecar = path + ".params.json"
    if not fs.exists(sidecar):
        return
    stored = json.loads(fs.read_text(sidecar))
    for name, got in want.items():
        built = stored.get(name, got)
        if got is None or got == built:
            continue
        if serve and name == "k":
            if got < built:
                continue
            raise ValueError(
                f"{kind} table at {path} holds bottom-{built} per day; "
                f"serving k={got} would exceed it and bias the merged "
                "sample (merge identity needs k <= build k)"
            )
        raise ValueError(
            f"{kind} table at {path} was built with {name}={built}, used "
            f"with {name}={got} — {_PARAM_WHY[name]}"
        )


def _write_days(
    daily: DataFrame,
    path: str,
    mode: str,
    kind: str = "",
    params: dict | None = None,
    merge=None,
    days=(),
) -> None:
    """The one write path of a day-partitioned sketch table; ``daily``
    is the family's per-(day, group) aggregate of the events.

    ``build``: static overwrite of the whole table, then pin
    ``params`` in the sidecar. ``fold``: check the sidecar, then union
    the batch with the existing rows of exactly the days it touches
    and ``merge`` them — equal to a rebuild over old+new, because each
    family's merge is how its sketch absorbs new members. ``replace``:
    check the sidecar, then rewrite the ``days`` partitions from
    ``daily`` alone. Fold and replace overwrite only the day
    directories they write (dynamic partition overwrite, set as a
    writer option — never the process-global session conf); untouched
    days are never read or written. Single-writer, like every mutable
    layout here (DigestCatalog, TextIndex)."""
    spark = daily.sparkSession
    if mode != "build" and params is not None:
        _check_params(spark, path, kind, params)
    if mode == "replace":
        daily = daily.filter(F.col("day").isin(list(days)))
    elif mode == "fold":
        # persist: the batch feeds BOTH the days collect and the merged
        # write — without the pin its aggregation over the new events
        # runs twice
        daily = daily.persist()
    try:
        out = daily
        if mode == "fold":
            touched = [r.day for r in daily.select("day").distinct().collect()]
            if not touched:
                return
            existing = (
                spark.read.parquet(path)
                .filter(F.col("day").isin(touched))
                .select(*daily.columns)
            )
            out = merge(daily.unionByName(existing))
        (
            out.repartition("day")
            .write.mode("overwrite")
            .option(
                "partitionOverwriteMode",
                "static" if mode == "build" else "dynamic",
            )
            .partitionBy("day")
            .parquet(path)
        )
    finally:
        if mode == "fold":
            daily.unpersist()
    if mode == "build" and params is not None:
        _pin_params(spark, path, params)


# ---------------------------------------------------------------------------
# mergeable DISTINCT-COUNT sketches: DataSketches HLL per day


def _hll_daily(
    logs: DataFrame, value_col: str, site_col: str, ts_col: str, lg_k: int
) -> DataFrame:
    rows = _day_rows(
        logs, ts_col, value_col, site=F.col(site_col), v=F.col(value_col)
    )
    return rows.groupBy("day", "site").agg(
        F.hll_sketch_agg(F.col("v"), F.lit(lg_k)).alias("sketch")
    )


def _hll_merge(df: DataFrame) -> DataFrame:
    return df.groupBy("day", "site").agg(
        F.hll_union_agg(F.col("sketch"), F.lit(True)).alias("sketch")
    )


def build_uniques_sketches(
    logs: DataFrame,
    path: str,
    value_col: str = "remote_host",
    site_col: str = "site",
    ts_col: str = "timestamp",
    lg_k: int = 12,
) -> None:
    """One pass over the events: per (day, site) HLL sketch, written
    ``partitionBy(day)``. The sketch column is the DataSketches binary
    — ~KBs per group at lg_k=12 regardless of cardinality."""
    daily = _hll_daily(logs, value_col, site_col, ts_col, lg_k)
    _write_days(daily, path, "build", params={"lg_k": lg_k})


def update_uniques_sketches(
    logs: DataFrame,
    path: str,
    value_col: str = "remote_host",
    site_col: str = "site",
    ts_col: str = "timestamp",
    lg_k: int = 12,
) -> None:
    """Incremental maintenance: fold a NEW batch of events into the
    cube without rebuilding (``_write_days`` fold). Sketch union is
    exactly how HLL absorbs new members, so the result equals a full
    rebuild over old+new (asserted in tests). ``lg_k`` must match the
    build's (pinned in the sidecar): a fold at another lg_k raises."""
    daily = _hll_daily(logs, value_col, site_col, ts_col, lg_k)
    _write_days(daily, path, "fold", "HLL", {"lg_k": lg_k}, merge=_hll_merge)


def uniques_over_range(
    spark: SparkSession,
    path: str,
    start_day: str,
    end_day: str,
    by_site: bool = True,
) -> DataFrame:
    """Estimated uniques over ``[start_day, end_day]`` (inclusive ISO
    dates) from the sketch table alone — no raw-event scan. The day
    filter is a partition filter on the sketch directories; the union
    is one tiny groupBy over KB-sized sketches."""
    sk = _read_days(spark, path, start_day, end_day)
    merged = (
        sk.groupBy("site") if by_site else sk.groupBy(F.lit(1).alias("_g"))
    ).agg(F.hll_union_agg(F.col("sketch")).alias("_u"))
    out = merged.select(
        *(["site"] if by_site else []),
        F.hll_sketch_estimate(F.col("_u")).alias("uniques_est"),
    )
    return out


# ---------------------------------------------------------------------------
# mergeable QUANTILE sketches: deterministic bottom-k value samples

#: affine hash constants for the sample membership key — the same
#: cross-engine-portable arithmetic family as
#: operators/packing.reproducible_shuffle and functions/text.fingerprint
BK_A = 48_271
BK_C = 2_654_435_761
BK_MOD = 1_000_000_007


def _bk_key(id_col: str, seed: int) -> F.Column:
    return F.pmod(
        F.col(id_col) * F.lit(BK_A) + F.lit(seed) * F.lit(BK_C),
        F.lit(BK_MOD),
    )


def quantile_col_names(quantiles) -> list[str]:
    """Stable, collision-free output names for quantile columns: the
    quantile's decimal digits verbatim — q50 for 0.5, q90 for 0.9,
    q999 for 0.999, q05 for 0.05, q100 for 1.0. The previous
    ``round(q*100)`` rule mapped (0.999, 1.0) both to 'q100'
    (duplicate StructFields in the stream's state schema) and
    banker's-rounded 0.125 to 'q12' (ADVICE r7). Shared by the batch
    serve (value_quantiles_over_range) and the live twin
    (streaming/quantiles.py) so their output schemas stay EQUAL."""
    names = []
    for q in quantiles:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile out of range (0, 1]: {q}")
        if q == 1.0:
            names.append("q100")
            continue
        frac = f"{q:.10g}".split(".")[1]
        if len(frac) == 1:
            frac += "0"  # back-compat: 0.5 stays q50, not q5
        names.append(f"q{frac}")
    if len(set(names)) != len(names):
        raise ValueError(f"quantile column names collide: {names}")
    return names


def _value_daily(
    logs: DataFrame, k: int, value_col: str, id_col: str, site_col: str,
    ts_col: str, seed: int,
) -> DataFrame:
    rows = _day_rows(
        logs, ts_col, value_col, site=F.col(site_col), value=F.col(value_col),
        bk=_bk_key(id_col, seed), rid=F.col(id_col),
    )
    return _bottom_k(rows, k)


def build_value_sketches(
    logs: DataFrame,
    path: str,
    k: int = 64,
    value_col: str = "value",
    id_col: str = "id",
    site_col: str = "site",
    ts_col: str = "timestamp",
    seed: int = 1,
) -> None:
    """Per-(day, site) bottom-k VALUE sample — the quantile sibling of
    the HLL cube above, built on the classic mergeable bottom-k
    sketch: keep the k rows whose hash key is smallest. Because
    ``bottom_k(A ∪ B) = bottom_k(bottom_k(A) ∪ bottom_k(B))``, any
    date range later collapses to a union of the per-day samples and
    one more bottom-k — the raw store is scanned exactly once, here.

    Spark has no mergeable quantile-sketch aggregate (HLL landed in
    3.5; KLL did not), so this IS the engine's scale path for
    persisted percentile rollups. Unlike KLL/t-digest, the sample
    membership is a PURE function of (id, seed) — deterministic
    across engines, so oracle twins replay it exactly instead of
    settling for an accuracy envelope. Error is the uniform-sampling
    bound O(1/sqrt(k)) on rank, ~12% rank error at k=64; raise k for
    tighter tails (cost is linear in k per group). (k, seed) are
    pinned in the params sidecar.
    """
    daily = _value_daily(logs, k, value_col, id_col, site_col, ts_col, seed)
    _write_days(daily, path, "build", "value sketch", {"k": k, "seed": seed})


def update_value_sketches(
    logs: DataFrame,
    path: str,
    k: int = 64,
    value_col: str = "value",
    id_col: str = "id",
    site_col: str = "site",
    ts_col: str = "timestamp",
    seed: int = 1,
) -> None:
    """Incremental maintenance, the update_uniques_sketches twin: fold
    a NEW batch into the sample table — the merge re-takes bottom-k
    over the batch's and the touched days' samples, equal to a full
    rebuild by the bottom-k merge identity (asserted in tests).
    (k, seed) must match the sidecar exactly."""
    daily = _value_daily(logs, k, value_col, id_col, site_col, ts_col, seed)
    _write_days(
        daily, path, "fold", "value sketch", {"k": k, "seed": seed},
        merge=lambda df: _bottom_k(df, k),
    )


def value_quantiles_over_range(
    spark: SparkSession,
    path: str,
    start_day: str,
    end_day: str,
    k: int = 64,
    quantiles: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """Per-site quantile estimates over ``[start_day, end_day]`` from
    the sample table alone — no raw-event scan. Merge = take the k
    smallest hash keys per site across the covered days, then select
    EXACT-RANK elements (position ``ceil(q*m)`` of the sample ordered
    by value): the output values are untouched input doubles — no
    interpolation arithmetic — so they hash identically everywhere
    (PERF_NOTES rule: raw pass-through floats are safe; computed ones
    are not). Returns ``(site, n_sample, q50, q90, ...)``.

    ``k`` must not exceed the table's build-time k (validated against
    the params sidecar) — the merge identity breaks upward."""
    _check_params(spark, path, "value sketch", {"k": k}, serve=True)
    sk = _read_days(spark, path, start_day, end_day)
    merged = _bottom_k(sk, k, by=("site",))
    wv = Window.partitionBy("site").orderBy("value", "rid")
    sized = (
        merged.withColumn("_vr", F.row_number().over(wv))
        .withColumn("_m", F.count(F.lit(1)).over(Window.partitionBy("site")))
    )
    picks = [
        F.max(
            F.when(
                F.col("_vr") == F.ceil(F.lit(q) * F.col("_m")), F.col("value")
            )
        ).alias(name)
        for q, name in zip(quantiles, quantile_col_names(quantiles))
    ]
    return sized.groupBy("site").agg(
        F.max("_m").cast("long").alias("n_sample"), *picks
    )


# ---------------------------------------------------------------------------
# mergeable COUNT-MIN sketches: fixed-size frequency cells per day

#: Count-Min geometry defaults: depth×width cells per day partition.
#: ε = e/width (overestimate bound as a fraction of total count),
#: δ = e^-depth (probability the bound is exceeded) — Cormode &
#: Muthukrishnan 2005. 4×1024 int64 cells = 32 KB per day regardless
#: of key cardinality.
CM_DEPTH = 4
CM_WIDTH = 1024

#: CM hash-family version: 2 = per-row MULTIPLIERS (cm_row_mult, the
#: r6 fix); 1 = the pre-r6 per-row additive offsets. Cells from the
#: two families land in different columns, so merging them corrupts
#: counts and can break CM's never-underestimate guarantee — tables
#: are stamped and update/serve refuse on mismatch (ADVICE r6).
CM_HASH_VERSION = 2


def _cm_params(depth: int | None = None, width: int | None = None) -> dict:
    """A CM table's sidecar: hash family, depth and width."""
    return {"hash_version": CM_HASH_VERSION, "depth": depth, "width": width}


def cm_row_mult(row: int) -> int:
    """Row-``row`` MULTIPLIER: ``BK_A^(row+1) mod p``. The rows must
    differ in the multiplier, not just an additive offset — with a
    shared multiplier a key pair colliding in one row collides in
    (nearly) every row (the hash differences are identical), so the
    min-over-depth gives no protection and the documented
    ``δ = e^-depth`` bound silently fails (r6 review finding).
    Distinct multipliers make the per-row collision events
    (pairwise) independent in the affine family."""
    return pow(BK_A, row + 1, BK_MOD)


def _cm_col(keyhash: Column, row: int, width: int) -> Column:
    """Row-``row`` cell index for a (portable-hashed) long key —
    ``((kh * A_row + C) mod p) mod width`` with a per-row multiplier
    (see cm_row_mult)."""
    return F.pmod(
        F.pmod(
            keyhash * F.lit(cm_row_mult(row)) + F.lit(BK_C),
            F.lit(BK_MOD),
        ),
        F.lit(width),
    )


def _cm_sum(df: DataFrame) -> DataFrame:
    """CM merge: cell-wise addition."""
    return df.groupBy("day", "row", "col").agg(F.sum("cnt").alias("cnt"))


def _cm_daily(
    logs: DataFrame, key_col: str, ts_col: str, depth: int, width: int
) -> DataFrame:
    keyed = (
        _day_rows(logs, ts_col, key_col, key=F.col(key_col))
        .groupBy("day", "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("kh", fingerprint(F.col("key")))
    )
    cells = [
        F.struct(
            F.lit(r).alias("row"), _cm_col(F.col("kh"), r, width).alias("col")
        )
        for r in range(depth)
    ]
    return _cm_sum(
        keyed.select("day", "cnt", F.explode(F.array(*cells)).alias("rc"))
        .select("day", "rc.row", "rc.col", "cnt")
    )


def build_cm_sketches(
    logs: DataFrame,
    path: str,
    key_col: str = "message",
    ts_col: str = "timestamp",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> None:
    """Per-day Count-Min frequency sketch over a string key — the
    point-frequency sibling of the HLL (distinct) and bottom-k
    (quantile) cubes above: plain per-key counts at 100 TB produce a
    table as big as the key space, but CM cells are a FIXED
    ``depth×width`` grid per day, mergeable by cell-wise addition, so
    any date range answers "how often did key X appear" from KBs.

    The key is hashed with functions.text.fingerprint (the portable
    polynomial hash), so estimates replay exactly in the DuckDB twin —
    a hard hash-match oracle, not an accuracy envelope: the estimate
    is DETERMINISTIC; only its relation to the true count is
    probabilistic (est ≥ true always; est ≤ true + ε·N w.p. 1-δ)."""
    daily = _cm_daily(logs, key_col, ts_col, depth, width)
    _write_days(daily, path, "build", "CM", _cm_params(depth, width))


def update_cm_sketches(
    logs: DataFrame,
    path: str,
    key_col: str = "message",
    ts_col: str = "timestamp",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> None:
    """Incremental maintenance (update_uniques_sketches twin): fold a
    NEW batch by adding its day-cells to the existing cells of exactly
    the touched days. Equal to a full rebuild over old+new (asserted
    in tests) — ``logs`` must hold only events the table has not
    counted yet; to recompute days from a store that holds them all,
    use replace_cm_days."""
    daily = _cm_daily(logs, key_col, ts_col, depth, width)
    _write_days(daily, path, "fold", "CM", _cm_params(depth, width), _cm_sum)


def replace_cm_days(
    logs: DataFrame,
    path: str,
    days: list[str],
    key_col: str = "message",
    ts_col: str = "timestamp",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> None:
    """Recompute only ``days`` from ``logs`` (all of their events) and
    rewrite those day partitions — idempotent, unlike a fold of the
    same events; the kmv.update_kmv_sketches counterpart."""
    daily = _cm_daily(logs, key_col, ts_col, depth, width)
    _write_days(
        daily, path, "replace", "CM", _cm_params(depth, width), days=days
    )


def cm_estimate_over_range(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    start_day: str,
    end_day: str,
    key_col: str = "key",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Estimated frequency of each candidate key over
    ``[start_day, end_day]`` from the sketch table alone — day filter
    prunes partitions, cells merge by summation into one
    ``depth×width`` grid (KBs), and each key's estimate is the MIN
    over its ``depth`` cells — ``depth`` chained broadcast joins
    against the merged grid, zero shuffles on the key relation.
    Returns ``(key, est)``; est ≥ the true range count, always."""
    _check_params(spark, path, "CM", _cm_params(depth, width))
    cells = (
        _read_days(spark, path, start_day, end_day)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    out = keys.select(
        F.col(key_col).alias("key"), fingerprint(F.col(key_col)).alias("_kh")
    )
    ests = []
    for r in range(depth):
        side = cells.filter(F.col("row") == r).select(
            F.col("col").alias(f"_c{r}"), F.col("cnt").alias(f"_n{r}")
        )
        out = out.withColumn(f"_p{r}", _cm_col(F.col("_kh"), r, width))
        out = out.join(
            F.broadcast(side), out[f"_p{r}"] == side[f"_c{r}"], "left"
        )
        ests.append(F.coalesce(F.col(f"_n{r}"), F.lit(0)))
    return out.select("key", F.least(*ests).cast("long").alias("est"))

"""N-gram Jaccard near-duplicate pairs with prefix filtering.

The oracle-checkable member of the near-dup family: exact Jaccard over
distinct token n-gram sets. Instead of a quadratic self-join, candidate
generation uses **prefix filtering** (Bayardo et al., "Scaling Up All
Pairs Similarity Search", WWW'07): under a global total order on grams,
any pair with jaccard >= tau must share at least one gram within each
side's first ``|g| - ceil(tau*|g|) + 1`` grams. Exploding only those
prefix grams and equi-joining on the gram turns the candidate step into
a shuffle on gram keys — linear in corpus size for non-degenerate data.

Gram identity is the 64-bit xxhash of the gram text (collision odds
~|grams|^2/2^64 — negligible), which keeps the shuffled keys and the
verify-step arrays as packed longs instead of strings.

Scale notes: candidates shuffle on (gram_hash [, block]); hot grams are
bounded by the prefix trick plus AQE skew-splitting. The verify joins
fetch gram arrays only for surviving candidate ids. An optional
``block_col`` (e.g. language) further restricts pairs to equal blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pond_spark.functions.text import _word_ngrams, _words
from pond_spark.util import fan_out, pin


def gram_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry_cols, _grams): sorted distinct xxhash64 of word
    n-grams. ``carry_cols`` are projected through the gram stage so a
    blocked caller doesn't need a join to re-attach them (the join was
    a whole SortMergeJoin + two Exchanges in the persisted base of
    every pair-family query — guide §2.4, r11)."""
    # two-stage: materialize the token array once, then gram it — an
    # inline split inside the transform lambda is re-derived per gram
    # position (HOF-vs-CSE trap, PERF_NOTES.md)
    staged = fan_out(df).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        _words(F.col(text_col)).alias("_t"),
    )
    toks = F.col("_t")
    # shared tokenization/gramming (functions.text) — three modules
    # previously inlined identical expressions, inviting silent drift
    grams = toks if n == 1 else _word_ngrams(toks, n)
    hashed = F.array_sort(
        F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))
    )
    return staged.select(
        F.col(id_col), *[F.col(c) for c in carry_cols], hashed.alias("_grams")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.8,
    n: int = 1,
    base: DataFrame | None = None,
) -> DataFrame:
    """Pairs ``(id_a, id_b, jaccard)``, id_a < id_b, jaccard >= tau.

    ``base``: optional precomputed :func:`gram_hashes` output (same
    id/block/n, ALREADY persisted by the caller) — the recall-harness
    queries share one pinned gram frame between this exact branch and
    their MinHash/SimHash branch instead of re-running the
    tokenize+gram+hash pass per branch (guide §1.2).
    ``df``/``text_col``/``n`` are ignored when it is given."""
    if base is None:
        base = gram_hashes(
            df, text_col, id_col, n,
            carry_cols=(block_col,) if block_col else (),
        )
        # feeds three branches (prefix explode + both verify sides);
        # persist so the scan + gram hashing run once. Lifecycle: a
        # util.pin, released by the enclosing pin_scope (curate_run per
        # stage, curate_foreach_batch per batch), else a session pin
        # that loop drivers clearCache (bench.py does). A
        # caller-supplied base arrives pinned already.
        base = pin(base)
    if block_col:
        base = base.withColumnRenamed(block_col, "_blk")

    # prefix length |g| - ceil(tau*|g|) + 1 (sorted-ascending hash order
    # is the global total order); the epsilon keeps float up-rounding
    # (0.8*5 -> 4.0000000000000002) from shortening the prefix, which
    # would silently drop true pairs — erring longer is only extra work
    sz = F.size("_grams")
    plen = sz - F.ceil(sz * F.lit(threshold) - F.lit(1e-9)).cast("int") + 1
    prefix = base.select(
        F.col(id_col),
        *([F.col("_blk")] if block_col else []),
        F.explode(F.slice("_grams", 1, plen)).alias("_g"),
    )

    jkeys = ["_g"] + (["_blk"] if block_col else [])
    left = prefix.select(
        F.col(id_col).alias("id_a"), *[F.col(k) for k in jkeys]
    )
    right = prefix.select(
        F.col(id_col).alias("id_b"), *[F.col(k) for k in jkeys]
    )
    cand = (
        left.join(right, jkeys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    sets = base.select(F.col(id_col), "_grams")
    pairs = cand.join(
        sets.select(F.col(id_col).alias("id_a"), F.col("_grams").alias("_ga")),
        "id_a",
    ).join(
        sets.select(F.col(id_col).alias("id_b"), F.col("_grams").alias("_gb")),
        "id_b",
    )
    # size-ratio prune (no result change): jaccard <= min/max set size
    sa, sb = F.size("_ga").cast("double"), F.size("_gb").cast("double")
    pairs = pairs.filter((sa >= sb * threshold) & (sb >= sa * threshold))

    inter = F.size(F.array_intersect("_ga", "_gb")).cast("double")
    union = sa + sb - inter
    return (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )

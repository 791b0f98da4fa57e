"""MinHash + LSH near-duplicate detection.

Pipeline (the standard shingle → minhash → band → bucket-join shape):

1. tokenize + shingle (word n-grams, default unigram), hash each
   shingle to int64 with ``xxhash64`` (JVM built-in, vectorized);
2. k permutation minima via universal hashing
   ``h_i(x) = (a_i * x + b_i) mod p`` — computed as k array
   ``transform``/``array_min`` expressions over the shingle-hash array
   (no explode: one row per doc throughout this stage);
3. split the signature into b bands of r rows; band key =
   ``hash(band_idx, minhash values…)``;
4. explode bands (b rows/doc — the only row multiplication) and
   self-join on the band key to get candidate pairs;
5. verify candidates with exact Jaccard over distinct shingle sets.

Scale notes: the band join shuffles (band_key) — a narrow key — and
AQE's skew handling splits hot buckets (identical boilerplate docs).
The verify step joins back to shingle arrays by doc id; candidates are
tiny relative to the corpus, so those joins are broadcast-able in
practice. The signature relation feeds three plan branches and is
persisted (MEMORY_AND_DISK) for the duration of the query; small
inputs fan out across cores before the CPU-heavy shingling. Tunables
(k, bands) trade recall vs cost exactly as in the Broder/LSH
literature: P(candidate) = 1 - (1 - j^r)^b.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pond_spark.catalog import GateCatalog
from pond_spark.util import fan_out, pin

# Mersenne-31: keeps a*x (a, x < p) under 2^62 — no int64 overflow in
# the JVM's ANSI arithmetic
MERSENNE_P = (1 << 31) - 1


def _perm_params(k: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from a splitmix64-style mix —
    reproducible across runs without RNG state."""
    params = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(k):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        a = (z % (MERSENNE_P - 1)) + 1
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        b = x % MERSENNE_P
        params.append((a, b))
    return params


def shingle_hashes(
    df: DataFrame, text_col: str = "text", n: int = 1
) -> DataFrame:
    """Append ``_shingles``: distinct int64 hashes of word n-grams."""
    # stage the split once — an inline split inside the gram lambda is
    # re-derived per position (HOF-vs-CSE trap, PERF_NOTES.md)
    df = fan_out(df)  # shingling is CPU-bound; never pin to one split
    staged = df.withColumn(
        "_t", F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    )
    toks = F.col("_t")
    if n == 1:
        grams = toks
    else:
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    return staged.withColumn(
        "_shingles",
        F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g))),
    ).drop("_t")


def _sigs_over_shingles(
    sh: DataFrame, id_col: str, k: int, seed: int
) -> DataFrame:
    """(id, _shingles, _sig[k]) from a frame carrying ``_shingles``
    (distinct int64 feature hashes; element ORDER is irrelevant —
    every signature slot is an ``array_min``)."""
    # Stage pmod(x, p) ONCE per shingle: all k permutations share the
    # same [0, p) mapping of the signed xxhash, so computing it inside
    # each perm lambda walks every array k extra times. A staged column
    # with k use sites survives CollapseProject (Catalyst only inlines
    # single-use or cheap expressions), so each shingle pays one pmod
    # total (same staging rule as `_t` in shingle_hashes; PERF_NOTES
    # HOF-vs-CSE trap).
    sh = sh.withColumn(
        "_shp",
        F.transform(F.col("_shingles"), lambda x: F.pmod(x, F.lit(MERSENNE_P))),
    )

    def perm(a: int, b: int):
        # (a*x + b) mod p over staged non-negative x. Closure factory
        # keeps the lambda unary (PySpark infers lambda arity from the
        # Python signature).
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MERSENNE_P)

    sig_cols = [
        F.array_min(F.transform(F.col("_shp"), perm(a, b)))
        for a, b in _perm_params(k, seed)
    ]
    return sh.select(F.col(id_col), "_shingles", F.array(*sig_cols).alias("_sig"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    n: int = 1,
    seed: int = 42,
) -> DataFrame:
    """(id, _shingles, _sig[k]) — one row per doc, no explode."""
    return _sigs_over_shingles(shingle_hashes(df, text_col, n), id_col, k, seed)


def minhash_signatures_from_grams(
    grams_df: DataFrame,
    id_col: str = "doc_id",
    grams_col: str = "_grams",
    k: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, _shingles, _sig[k]) from PRECOMPUTED distinct gram hashes
    (``ngram.gram_hashes`` output) — lets a caller that already pays
    the tokenize+gram+hash pass for an exact-Jaccard branch feed the
    SAME persisted frame to the MinHash branch instead of re-scanning
    the corpus (guide §1.2: the gram pass is the dominant per-doc
    cost of the whole pair family).

    Signature parity with :func:`minhash_signatures` at the same n:
    identical for every doc with >= n words (same distinct hash set;
    ``array_min`` is order-insensitive, so ``gram_hashes``'s
    ``array_sort`` is invisible). Sub-n-word docs DIFFER by design:
    gram semantics give them zero grams, where ``shingle_hashes``
    fabricates one partial gram — zero-feature rows are DROPPED here
    (banding a shared empty signature would glue every short doc into
    one giant candidate bucket). Callers must tolerate missing
    short-doc candidates; the recall harnesses do (a sub-n-word doc
    has no n-grams, so it can never appear in the exact pair set)."""
    sh = grams_df.select(
        F.col(id_col), F.col(grams_col).alias("_shingles")
    ).filter(F.size("_shingles") > 0)
    return _sigs_over_shingles(sh, id_col, k, seed)


def band_keys(
    sigs: DataFrame,
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, _band_key) — one row per (doc, band): the signature is cut
    into ``bands`` rows of ``k/bands`` values, each hashed to an int64
    band key. Shared by the in-query LSH join and the persisted
    :class:`MinHashCatalog`.

    64-bit, not 32 (r7 stress finding, tools/catalog_stress.py): a
    10M-doc catalog holds 160M band keys — in a 2^32 space that is
    ~3.7% occupancy, so an unrelated probe doc's 16 keys hit a stored
    key by RANDOM collision with p ~= 45%, collapsing ``filter_new``
    precision (recall is unaffected either way: equal slices hash
    equal under any hash). In 2^64 the same corpus sits at ~1e-11
    occupancy. The in-query LSH join only paid extra verify work;
    the catalog gate has no verify leg, so key width is the guard."""
    assert k % bands == 0
    r = k // bands
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.lit("band"), i, F.slice(F.col("_sig"), i * r + 1, r)
                ),
            )
        ).alias("_band_key"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    k: int = 64,
    bands: int = 16,
    n: int = 1,
    seed: int = 42,
    max_bucket_size: int | None = None,
    skew_salt: int | str | None = "auto",
    hot_id_threshold: int = 64,
    grams_df: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs ``(id_a, id_b, jaccard)`` with
    jaccard >= threshold, id_a < id_b.

    ``grams_df``: optional PRECOMPUTED ``(id, _grams)`` distinct-hash
    frame (``ngram.gram_hashes`` output, ideally already persisted by
    the caller) — skips this operator's own tokenize+gram+hash pass.
    See :func:`minhash_signatures_from_grams` for the exact parity
    contract (identical signatures at >= n words; zero-gram docs drop
    out of banding). ``text_col``/``n`` are ignored when it is given.

    ``max_bucket_size`` is the skew guard for pathological boilerplate:
    a cluster of m near-identical docs shares every band key, making
    the self-join emit m²/2 candidates per band — quadratic output no
    partitioning trick can salt away. Band buckets larger than the cap
    are dropped (hot keys detected with one ids-only count, removed
    via broadcast anti-join): mega-clusters are exact-dup territory —
    run ``exact.exact_duplicate_groups`` first — while genuine
    near-dup groups sit far below any sane cap. ``None`` = off (the
    oracle-checked recall queries run uncapped).

    ``skew_salt`` hardens the *verify* joins (candidates back to
    shingle arrays on doc id): a boilerplate cluster of m docs makes
    its min-id doc appear in ~m candidate rows, so a plain shuffle
    join lands that whole hot key on one task. ``"auto"`` (default)
    bounds the per-id candidate multiplicity from the band-bucket
    sizes — a doc in a bucket of size m gains (m-1) candidates there,
    so multiplicity <= bands*(max_bucket-1) — and switches to
    :func:`~pond_spark.operators.skew.salted_join` (8-way) when the
    BOUND exceeds ``hot_id_threshold`` (conservative: may salt when no
    id is truly hot, never misses one). The bound is one ids-only
    groupBy over the banded frame — no candidate self-join, no
    persist, no extra evaluation of the pair plan (the r3 probe ran
    the whole candidate stage as a separate job and doubled the
    operator's wall clock — VERDICT r3). An int forces that salt
    factor; ``None`` disables. Results are identical either way —
    salting only splits the hot key across tasks."""
    assert k % bands == 0
    # persist: the signature/shingle relation feeds three plan branches
    # (band explode + both verify sides) — without it the scan and the
    # k-permutation work run once per branch. MEMORY_AND_DISK spills
    # instead of OOMing at cluster scale. Lifecycle: a util.pin, released
    # by the enclosing pin_scope (curate_run per stage,
    # curate_foreach_batch per batch), else a session pin.
    sigs = pin(
        minhash_signatures_from_grams(grams_df, id_col, k=k, seed=seed)
        if grams_df is not None
        else minhash_signatures(df, text_col, id_col, k, n, seed)
    )

    # Band join carries ONLY (id, band_key) — shingle arrays would blow
    # up the shuffle and get duplicated per candidate pair. Candidates
    # are deduped on ids first, then the (small) pair set joins back to
    # the shingle arrays for exact verification.
    banded = band_keys(sigs, id_col, k, bands)

    bucket_counts = None
    if max_bucket_size is not None:
        # pin the bucket counts: with skew_salt='auto' the SAME
        # aggregation also feeds the hot-id probe below — unpinned it
        # would run as two separate jobs over the banded frame
        bucket_counts = pin(banded.groupBy("_band_key").count())
        hot = bucket_counts.filter(
            F.col("count") > max_bucket_size
        ).select("_band_key")
        banded = banded.join(F.broadcast(hot), "_band_key", "left_anti")

    left = banded.select(F.col(id_col).alias("id_a"), "_band_key")
    right = banded.select(F.col(id_col).alias("id_b"), "_band_key")
    cand = (
        left.join(right, "_band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    shingles = sigs.select(F.col(id_col), "_shingles")
    sh_a = shingles.select(
        F.col(id_col).alias("id_a"), F.col("_shingles").alias("_sh_a")
    )
    sh_b = shingles.select(
        F.col(id_col).alias("id_b"), F.col("_shingles").alias("_sh_b")
    )
    if skew_salt == "auto":
        # Hot-id bound from band-bucket sizes: one narrow groupBy over
        # (id, band_key) rows — sigs is already persisted, so the probe
        # job re-derives only the cheap band keys, never the self-join.
        if bucket_counts is not None:
            # reuse the capped-bucket aggregation: surviving buckets
            # are exactly those <= max_bucket_size
            mx_row = (
                bucket_counts.filter(F.col("count") <= max_bucket_size)
                .agg(F.max("count"))
                .first()
            )
        else:
            mx_row = (
                banded.groupBy("_band_key").count().agg(F.max("count")).first()
            )
        max_bucket = mx_row[0] or 0
        skew_salt = (
            8 if bands * max(0, max_bucket - 1) > hot_id_threshold else None
        )
    # bucket_counts stays pinned: the returned plan's broadcast
    # anti-join still reads it lazily — same lifecycle as the sigs pin
    # (loop drivers clearCache between queries, as bench.py does)
    if skew_salt:
        from pond_spark.operators.skew import salted_join

        # the candidate set now feeds THREE branches (the salted probe
        # side + both broadcast id-prunes) — pin it so the band join
        # evaluates once. The plain path below uses it once: no pin.
        # Lifecycle: the same util.pin contract as the sigs pin.
        cand = pin(cand)
        # prune the build sides to candidate ids BEFORE the salt
        # replication (the candidate id set is tiny → broadcast semi):
        # salting replicates the build side `salt` times, which must
        # multiply only the docs that verify, not the whole corpus
        sh_a = sh_a.join(
            F.broadcast(cand.select("id_a").distinct()), "id_a", "leftsemi"
        )
        sh_b = sh_b.join(
            F.broadcast(cand.select("id_b").distinct()), "id_b", "leftsemi"
        )
        # salt on the pair ids only — they vary within a hot id, and
        # hashing the default "all probe columns" would pass over the
        # carried shingle arrays once per row for no extra splitting
        pairs = salted_join(
            cand, sh_a, on=["id_a"], salt=int(skew_salt),
            salt_cols=["id_a", "id_b"],
        )
        pairs = salted_join(
            pairs, sh_b, on=["id_b"], salt=int(skew_salt),
            salt_cols=["id_a", "id_b"],
        )
    else:
        pairs = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    # size-ratio prune: jaccard <= min(|A|,|B|)/max(|A|,|B|), so pairs
    # failing the ratio test can't reach the threshold — skip the
    # O(|A|+|B|) intersect for them
    sa, sb = F.size("_sh_a").cast("double"), F.size("_sh_b").cast("double")
    pairs = pairs.filter((sa >= sb * threshold) & (sb >= sa * threshold))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
    union = sa + sb - inter
    return (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


class MinHashCatalog(GateCatalog):
    """Cross-run incremental NEAR-dedup: a persisted band-key table the
    next batch joins against — the near-dup sibling of
    ``exact.DigestCatalog`` (VERDICT r5 ask #8), mirroring the
    IVF/postings "build once, serve cheap" pattern. Instead of
    re-banding the full corpus every run, each run bands only its OWN
    batch and probes the stored ``(doc_id, band_key)`` rows:

    - :meth:`filter_new` — rows sharing NO band key with any
      registered doc. Within the LSH banding model this is exactly the
      "definitely not a near-dup of anything seen" set (a pair the
      banded join would have caught must share at least one band key),
      so the gate has no false negatives relative to the in-query
      ``minhash_lsh_pairs`` candidate stage with the same parameters.
    - :meth:`near_candidates` — (new_id, old_id) collision pairs for
      downstream exact verification against the stored corpus.

    Scale: the catalog holds ids and int64 keys only (bands rows per
    doc — at 16 bands, ~200 B/doc); probes shuffle band keys, never
    documents. For repeated big-big runs write it bucketed by band_key
    (sources/bucketing.py) so probes co-locate without a shuffle.

    Signature parameters (k, bands, shingle n, seed) are pinned in a
    JSON sidecar at ``path + '.params.json'`` on first register and
    validated on every open — band keys from different parameters are
    incomparable, and a silent mismatch would turn the gate into
    noise. Same single-writer assumption and crash-safe compaction
    rules as ``DigestCatalog`` (exact.py): filter → register is
    read-then-append with no commit protocol; compact() stages the
    rewrite and double-renames, and a crash between the renames leaves
    a ``._old`` remnant that the reader refuses to silently ignore."""

    _ID = "doc_id"
    _KEYS = ["band_key"]

    def __init__(
        self,
        spark,
        path: str,
        k: int = 64,
        bands: int = 16,
        n: int = 1,
        seed: int = 42,
    ):
        # key_hash joins the pinned parameters: catalogs banded with
        # the pre-r7 32-bit murmur3 keys are incomparable with the
        # 64-bit keys and must refuse to mix, not silently gate noise
        super().__init__(
            spark,
            path,
            {"k": k, "bands": bands, "n": n, "seed": seed,
             "key_hash": "xxhash64"},
            "doc_id long, band_key long",
            "minhash catalog",
            "band keys from different signature parameters are incomparable",
        )

    def _banded(
        self,
        df: DataFrame,
        text_col: str,
        id_col: str,
        grams: DataFrame | None = None,
    ) -> DataFrame:
        # NULL text contributes NO band keys (the r7 rule: absent
        # content is never a duplicate — DigestCatalog.register's NULL
        # filter, mirrored). Without this, every NULL-text doc gets the
        # IDENTICAL degenerate signature (array_min over a NULL shingle
        # array is NULL in all k slots), so one registered NULL doc
        # would make filter_new drop every future NULL-text row. The
        # in-query minhash_lsh_pairs is shielded by its exact-Jaccard
        # verify leg (NULL jaccard fails any threshold); the catalog
        # gate has no verify leg, so the filter is the guard.
        #
        # ``grams``: optional precomputed (id, _grams) hash frame for
        # this batch (ngram.gram_hashes at the catalog's pinned n) —
        # skips the tokenize+gram pass when the caller already pays it
        # for an exact branch. Band keys are identical to the default
        # path for >= n-word docs; sub-n and NULL/empty docs band to
        # NOTHING here (minhash_signatures_from_grams drops
        # zero-feature rows, which also covers the NULL-text rule),
        # where the shingle path bands their fabricated partial gram.
        # Use ONE mode per catalog if short-doc gating matters.
        p = self.params
        if grams is not None:
            sigs = minhash_signatures_from_grams(
                grams, id_col, k=p["k"], seed=p["seed"]
            )
        else:
            sigs = minhash_signatures(
                df.filter(F.col(text_col).isNotNull()),
                text_col, id_col, p["k"], p["n"], p["seed"],
            )
        return band_keys(sigs, id_col, p["k"], p["bands"]).select(
            F.col(id_col).alias("doc_id"),
            F.col("_band_key").alias("band_key"),
        )

    def filter_new(
        self, df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """Rows sharing no band key with any registered doc. NULL-text
        rows always pass (they band to nothing — see _banded)."""
        return self._filter(df, self._banded(df, text_col, id_col), id_col)

    def near_candidates(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_bucket_size: int | None = None,
        grams: DataFrame | None = None,
    ) -> DataFrame:
        """Distinct ``(new_id, old_id)`` band-collision pairs for
        downstream exact verification. Self-collisions (a re-run of an
        already-registered batch) are dropped, so re-runs are
        idempotent. ``max_bucket_size`` mirrors minhash_lsh_pairs'
        boilerplate guard: catalog band keys shared by more than that
        many stored docs are skipped (see GateCatalog._candidates)."""
        return self._candidates(
            self._banded(df, text_col, id_col, grams=grams), max_bucket_size
        )

    def register(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        snapshot: bool = False,
        run_ts: int | None = None,
        grams: DataFrame | None = None,
    ) -> None:
        """Append the batch's band rows (and pin the parameter sidecar
        on first use). ``snapshot=True`` persists the post-register
        bucket histogram to the advisory history (round-9 #4) — one
        extra groupBy over the ids+ints key table per register, so
        reserve it for scheduled/daily registers rather than tight
        micro-batch loops (or snapshot from a cron via
        ``catalog advise … --snapshot``). ``run_ts`` backdates the
        registration stamp (see :meth:`expire`). ``grams``: see
        :meth:`_banded` — precomputed gram hashes for this batch."""
        self._store.append(
            self._banded(df, text_col, id_col, grams=grams), run_ts=run_ts
        )
        if snapshot:
            self.advise(snapshot=True)

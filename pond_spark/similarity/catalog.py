"""Cross-run incremental near-dup gate for the VECTOR family — the
third member of the catalog symmetry:

- ``dedup.exact.DigestCatalog`` — exact content (32-byte digests)
- ``dedup.minhash.MinHashCatalog`` — lexical near-dup (band keys)
- ``EmbeddingCatalog`` (this module) — semantic near-dup (RHP-LSH
  bucket keys over an embedding column)

Continuous corpus building needs "is this vector semantically close
to anything already shipped" to survive job restarts; re-running
``lsh.embedding_near_pairs`` over old ∪ new re-buckets the whole
store every time. This catalog persists ``(vec_id, table, bucket)``
rows — ids and two ints in the probe path — over ``n_tables``
independent random-hyperplane signatures (independent seeds, OR-ed:
the standard LSH recall amplification). A new batch buckets only
ITSELF with the same stored seeds and probes the table. With
``store_vectors=True`` the vectors additionally persist to a sibling
store that ONLY the exact-cosine verify leg reads (class docstring);
the bucket probe stays ids+ints.

Guarantee: within the RHP banding model, a vector sharing no
(table, bucket) key with the catalog cannot be a bucket-join
candidate of any registered vector under the same parameters —
:meth:`filter_new` has no false negatives relative to
``embedding_near_pairs``'s candidate stage at equal nbits/seed
(table 0 reproduces it exactly; extra tables only ADD candidates).

Scale: probes shuffle (table, bucket) int keys only; candidate pairs
join vectors back for the exact cosine verify downstream, never
through the catalog. Signature parameters (dim, nbits, n_tables,
seed) are pinned in a JSON sidecar and validated on open — bucket
keys from different hyperplanes are incomparable. Same single-writer
assumption and crash-safe compaction discipline as the other two
catalogs (see DigestCatalog, exact.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pond_spark.catalog import CatalogStore, GateCatalog

__all__ = [
    "EmbeddingCatalog", "GateOvershootError", "rhp_gate_coefficient",
]


#: Measured gate-sizing coefficients per dimension (round-10 #1 — the
#: r9 value 1.27 was a dim=64 fit; tools/gate_dim_calibration.py
#: measured the independent-pair signature-collision physics at four
#: dims). Two legs per dim, cross-validated: exact bucket counting of
#: 300-400k vectors signed with the repo's ACTUAL splitmix/Box-Muller
#: planes (ground truth, resolvable to m≈24), and the plane-averaged
#: angle Monte Carlo E[(1-θ/π)^m] (any m; ≥ the exact estimate
#: everywhere both resolve, i.e. conservative). The table anchors the
#: MC curve to the r9 EMPIRICALLY-VALIDATED dim=64 point (1.27 held
#: 0.42% overshoot at 10M/day, PERF_NOTES r9): each MC conservative
#: coefficient × (1.27 / 1.1912). Low dims pay real extra bits —
#: finite-dim angle fluctuation σ(cosθ)≈1/√dim makes independent
#: vectors collide far above 2^-m — while high dims approach the
#: ideal 1 bit/plane.
_GATE_COEF_TABLE = (
    (16, 1.872),
    (64, 1.270),
    (256, 1.148),
    (1024, 1.129),
)


def rhp_gate_coefficient(dim: int) -> float:
    """Bits-per-decade sizing coefficient for the verify-less RHP
    bucket gate at ``dim`` dimensions: ``nbits = ceil(coef(dim) ·
    log2(n·tables/ε))``. Interpolated in log2(dim) between the
    measured points (table above), clamped to the endpoints — the
    curve is monotone-decreasing and flattens above ~256, so endpoint
    clamping is conservative on both sides."""
    import math

    d = float(max(1, dim))
    pts = _GATE_COEF_TABLE
    if d <= pts[0][0]:
        return pts[0][1]
    if d >= pts[-1][0]:
        return pts[-1][1]
    for (d0, c0), (d1, c1) in zip(pts, pts[1:]):
        if d0 <= d <= d1:
            f = (math.log2(d) - math.log2(d0)) / (
                math.log2(d1) - math.log2(d0)
            )
            return c0 + f * (c1 - c0)
    return pts[-1][1]


class GateOvershootError(RuntimeError):
    """The verify-less gate's predicted false-drop rate exceeds the
    caller's bound — raise instead of silently losing new content
    (VERDICT r8 #2: at 10M stored random vectors and candidate-mode
    nbits, 71-99% of genuinely-NEW content was falsely gated)."""


class EmbeddingCatalog(GateCatalog):
    """See module docstring. Two gate modes (VERDICT r8 #2 — the
    verify-less bucket gate's false-drop rate tracks stored-bucket
    occupancy, so it needs either occupancy headroom or a verify leg):

    - **bucket gate** (default): drop on any (table, bucket) collision.
      Correct only while occupancy << 1 — size nbits from
      ``advise()['recommended_gate_nbits']`` (≈ log2(n·tables/ε)+1,
      ε = the tolerated false-drop rate) and guard with
      :meth:`gate_check` / ``filter_new(max_overshoot=...)``.
    - **verified gate** (``store_vectors=True`` +
      ``filter_new(verify_cos=...)``): bucket collisions are only
      CANDIDATES; an exact-cosine check against the persisted vectors
      decides the drop — the cross-run analog of SemDeDup's exact
      verify (similarity/semdedup.py), immune to occupancy: a random
      new vector that merely shares a bucket passes.
    """

    _ID = "vec_id"
    _KEYS = ["table", "bucket"]

    def __init__(
        self,
        spark,
        path: str,
        dim: int,
        nbits: int = 8,
        n_tables: int = 2,
        seed: int = 42,
        store_vectors: bool = False,
        vector_buckets: int | None = None,
    ):
        super().__init__(
            spark,
            path,
            {"dim": dim, "nbits": nbits, "n_tables": n_tables, "seed": seed,
             "store_vectors": store_vectors,
             "vector_buckets": vector_buckets},
            "vec_id long, table int, bucket long",
            "embedding catalog",
            "bucket keys from different hyperplanes are incomparable",
            # pre-r9 sidecars predate the verify leg: absent means the
            # catalog never stored vectors; pre-r10 sidecars predate
            # the bucketed sibling
            stored_defaults={"store_vectors": False, "vector_buckets": None},
        )
        # vectors live in a SIBLING store so probe joins stay ids+ints
        # (the key table never carries the payload); only the verify
        # leg reads it. ``vector_buckets`` (round-10 #3) hash-buckets
        # the sibling's FILES on vec_id, so the verify join's payload
        # side plans with ZERO exchange — at 10M x dim-64 vectors the
        # ~4 GB payload otherwise crosses the wire on every day-2
        # probe; bucketed, only the candidate ids do.
        self._vstore = None
        if store_vectors:
            self._vstore = CatalogStore(
                spark,
                path + ".vectors",
                "vec_id long, vec array<float>",
                "embedding catalog vectors",
                bucket_by=(
                    (["vec_id"], int(vector_buckets)) if vector_buckets else None
                ),
            )
            self._siblings.append(self._vstore)

    def _bucketed(
        self, df: DataFrame, vec_col: str, id_col: str
    ) -> DataFrame:
        """(vec_id, table, bucket): one row per (vector, table) —
        n_tables independent signatures from per-table seeds."""
        from pond_spark.similarity.lsh import rhp_bucket

        # NULL vectors contribute no bucket keys (the absent-content
        # rule, same as the text catalogs): they'd only pad the store
        # with NULL buckets, and a probe-side NULL must always pass
        df = df.filter(F.col(vec_col).isNotNull())
        p = self.params
        parts = []
        for t in range(p["n_tables"]):
            parts.append(
                rhp_bucket(
                    df, p["dim"], p["nbits"], p["seed"] + t, vec_col
                ).select(
                    F.col(id_col).alias("vec_id"),
                    F.lit(t).alias("table"),
                    F.col("bucket"),
                )
            )
        out = parts[0]
        for b in parts[1:]:
            out = out.unionByName(b)
        return out

    def filter_new(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        verify_cos: float | None = None,
        max_overshoot: float | None = None,
    ) -> DataFrame:
        """Rows with no registered near-duplicate.

        Default (bucket gate): rows sharing no (table, bucket) key
        with any registered vector — definitely-new under the RHP
        banding model, but a SHARED bucket is only *possibly*-dup, and
        the false-drop rate of treating it as dup tracks bucket
        occupancy (VERDICT r8 #2). ``max_overshoot`` guards that mode:
        the predicted false-drop rate (see
        :meth:`predicted_gate_overshoot`) above the bound raises
        :class:`GateOvershootError` instead of silently losing content.

        ``verify_cos`` switches to the VERIFIED gate (requires
        ``store_vectors=True``): bucket collisions become candidate
        pairs, an exact cosine against the persisted vectors decides,
        and only rows with a verified neighbor ``>= verify_cos`` drop.
        Occupancy then costs candidate volume (use
        recommended_gate_nbits anyway), never correctness. Plan: the
        candidate pairs join vectors back by id — two narrow hash
        joins; candidates are bucket-bounded, so the shuffle is
        O(candidates + matched vectors), not O(catalog)."""
        if verify_cos is not None:
            if self._vstore is None:
                raise ValueError(
                    "filter_new(verify_cos=...) needs a catalog built "
                    "with store_vectors=True — the exact-cosine verify "
                    "leg reads the persisted vectors"
                )
            from pond_spark.similarity.brute import cosine_similarity

            # candidates WITHOUT near_candidates' self-collision
            # exclusion: that rule makes re-probes of a registered
            # batch idempotent in CANDIDATE mode, but a GATE must drop
            # already-registered content no matter its id — a same-id
            # probe joins its own stored vector at cosine 1.0 and
            # drops (r9 stress caught this: 500k same-id repeats
            # sailed through the verified gate)
            cand = self._candidates(
                self._bucketed(df, vec_col, id_col), self_pairs=True
            )
            new_vecs = df.select(
                F.col(id_col).alias("new_id"), F.col(vec_col).alias("_nv")
            )
            old_vecs = self._vstore.read().select(
                F.col("vec_id").alias("old_id"), F.col("vec").alias("_ov")
            )
            hits = (
                cand.join(new_vecs, "new_id")
                .join(old_vecs, "old_id")
                .filter(
                    cosine_similarity(F.col("_nv"), F.col("_ov"))
                    >= float(verify_cos)
                )
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            return df.join(hits, id_col, "left_anti")
        if max_overshoot is not None:
            self.gate_check(max_overshoot)
        return self._filter(df, self._bucketed(df, vec_col, id_col), id_col)

    def predicted_gate_overshoot(self) -> float:
        """Predicted false-drop rate of the verify-less bucket gate on
        genuinely-NEW content, per table then OR-ed across tables.

        Two estimators, take the max (each covers the other's blind
        spot; both from one histogram job over the ids+ints key
        table):

        - **Good-Turing**: a fresh probe drawn like the stored corpus
          lands in an ALREADY-OCCUPIED bucket with probability
          ``≈ 1 - n_singleton_buckets / n_rows`` (the G-T estimate of
          unseen-outcome mass is the singleton fraction). This is the
          estimator that survives contact with reality: the naive
          ``occupied/2**nbits`` model under-predicted 4x at dim=64
          (r9 stress, 1M vectors at nbits=26: predicted 2.1%, measured
          8.4%) because nbits random hyperplanes in dim dimensions
          have ~1/sqrt(dim) pairwise correlations, so sign-signatures
          of INDEPENDENT vectors collide far above the uniform rate.
          G-T sees the true bucket-mass skew directly.
        - **uniform occupancy** ``occupied/2**nbits``: the floor for a
          uniform, unrelated probe; also covers the support-exhausted
          regime (tiny nbits, every bucket occupied but all stored
          rows singletons — G-T alone would read ~0 there).
        """
        rows = (
            self._occupancy(self._read())
            .groupBy("table")
            .agg(
                F.count(F.lit(1)).alias("occupied"),
                F.sum("c").alias("n"),
                F.sum((F.col("c") == 1).cast("long")).alias("singletons"),
            )
            .collect()
        )
        total = float(2 ** int(self.params["nbits"]))
        p_pass = 1.0
        for r in rows:
            if not r.n:
                continue
            good_turing = 1.0 - float(r.singletons) / float(r.n)
            uniform = min(1.0, float(r.occupied) / total)
            p_pass *= 1.0 - max(good_turing, uniform)
        return 1.0 - p_pass

    def gate_check(self, max_overshoot: float | None = None) -> float:
        """Occupancy guard for verify-less gate use (VERDICT r8 #2):
        returns the predicted false-drop rate; raises
        :class:`GateOvershootError` when a bound is given and
        exceeded, warns above 5% otherwise. Call it where a bucket
        gate decides what SHIPS (curate_run does)."""
        p = self.predicted_gate_overshoot()
        if max_overshoot is not None:
            if p > float(max_overshoot):
                raise GateOvershootError(
                    f"verify-less embedding gate at {self.path}: "
                    f"predicted false-drop rate {p:.1%} exceeds the "
                    f"bound {float(max_overshoot):.1%} — raise nbits to "
                    "advise()['recommended_gate_nbits'] (re-register "
                    "required), expire() old content, or switch to the "
                    "verified gate (store_vectors=True + verify_cos=)"
                )
        elif p > 0.05:
            import warnings

            warnings.warn(
                f"verify-less embedding gate at {self.path}: predicted "
                f"false-drop rate {p:.1%} of genuinely-new content "
                "(bucket occupancy) — see advise()"
                "['recommended_gate_nbits'] or use the verified gate",
                stacklevel=2,
            )
        return p

    def near_candidates(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        max_bucket_size: int | None = None,
    ) -> DataFrame:
        """Distinct ``(new_id, old_id)`` bucket-collision pairs for
        downstream exact cosine verification. Self-collisions dropped
        (idempotent re-probes of a registered batch).
        ``max_bucket_size`` caps pathological hub buckets on the
        stored side (see GateCatalog._candidates), the
        minhash_lsh_pairs boilerplate rule."""
        return self._candidates(
            self._bucketed(df, vec_col, id_col), max_bucket_size
        )

    def register(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        snapshot: bool = False,
        run_ts: int | None = None,
    ) -> None:
        """``snapshot=True`` persists the post-register bucket
        histogram to the advisory history (round-9 #4) — one extra
        groupBy over ids+ints per register; see
        MinHashCatalog.register. ``run_ts`` backdates the registration
        stamp (see :meth:`expire`). With ``store_vectors=True`` the
        vectors themselves append to the sibling store (the verify
        leg's corpus).

        The two appends share ONE resolved timestamp (ADVICE r9): with
        separately-resolved wall clocks an expire horizon could fall
        between the two stamps and evict vectors whose bucket rows
        survive — the verified gate's inner join would then find no
        vector for a live bucket key and silently RE-ADMIT registered
        content. Vectors append FIRST for the same reason: a crash
        between the appends must leave vectors-without-buckets (dead
        rows, aged out by expire) rather than buckets-without-vectors
        (silent re-admission)."""
        import time

        ts = int(time.time()) if run_ts is None else int(run_ts)
        if self._vstore is not None:
            self._vstore.append(
                df.filter(F.col(vec_col).isNotNull()).select(
                    F.col(id_col).alias("vec_id"),
                    F.col(vec_col).cast("array<float>").alias("vec"),
                ),
                run_ts=ts,
            )
        self._store.append(
            self._bucketed(df, vec_col, id_col), run_ts=ts
        )
        if snapshot:
            self.advise(snapshot=True)

    def _advise_fields(self, stats: dict) -> None:
        """advise() extras (see GateCatalog.advise for the histogram):
        an nbits recommendation from the registered volume: ``nbits =
        clamp(ceil(log2(n_vectors / 32)), 4, 24)`` — mean occupancy ~32
        per table keeps probe fan-out bounded while buckets stay
        populated. Grounding (PERF_NOTES r7 10M stress): nbits=8
        degenerates to 256 always-hot buckets at 10M vectors, while
        nbits=20 (the formula gives 19) probes 1M docs with a 134 MB
        ids+ints shuffle. Changing nbits requires re-registering
        (bucket keys are hyperplane-pinned); the advisory tells you
        when the catalog has outgrown its build-time choice. Plus the
        gate and verify sizing and the predicted gate overshoot."""
        import math

        n_vecs = stats["n_rows"] // max(1, int(self.params["n_tables"]))
        stats["n_vectors"] = n_vecs
        stats["nbits"] = int(self.params["nbits"])
        stats["recommended_nbits"] = (
            min(24, max(4, math.ceil(math.log2(n_vecs / 32))))
            if n_vecs > 32
            else 4
        )
        # GATE-mode sizing (VERDICT r8 #2, dim-generalized r10 #1):
        # recommended_nbits targets CANDIDATE generation (mean
        # occupancy ~32 feeds a verify leg); a VERIFY-LESS gate needs
        # collision mass << 1 because its false-drop rate IS that mass
        # (measured: 60% occupancy → 71% overshoot at 10M random
        # vectors, PERF_NOTES r8). The independent-pair collision
        # probability decays 2^(-r·m) with r < 1 effective bits per
        # plane — finite-dim angle fluctuation (σ(cosθ) ≈ 1/√dim)
        # makes it dim-dependent, so the sizing coefficient is a
        # MEASURED per-dim curve (rhp_gate_coefficient: 1.87 at dim=16
        # down to ~1.13 at 1024; tools/gate_dim_calibration.py), not
        # the r9 dim=64 constant. A constant bit-margin fails at SOME
        # scale (the +3 form held at 1M and blew the 5% bound at 10M,
        # refused by gate_check exactly as designed); the coefficient
        # form ``nbits = ceil(coef(dim) · log2(n·tables/ε))`` holds
        # across scales. ε=5%. Signs of nbits hyperplanes carry at
        # most ~dim bits of bucket entropy (measured: nbits=24 at
        # dim=16 behaved like 16 bits) and the int64 signature packs
        # 63, so the recommendation is capped at min(dim, 63) and
        # flagged — a capped gate can't reach ε by nbits alone; use
        # the verified gate (store_vectors=True), whose correctness
        # does not depend on any of this.
        dim = int(self.params["dim"])
        n_tables = max(1, int(self.params["n_tables"]))
        coef = rhp_gate_coefficient(dim)
        stats["gate_sizing_coefficient"] = round(coef, 4)
        want = (
            max(4, math.ceil(coef * math.log2(n_vecs * n_tables / 0.05)))
            if n_vecs > 0
            else 4
        )
        cap = min(dim, 63)
        stats["recommended_gate_nbits"] = min(want, cap)
        stats["gate_nbits_capped_by_dim"] = bool(want > cap)
        # VERIFY-mode sizing (round-10 #3): with the exact-cosine leg
        # deciding drops, nbits buys candidate-volume reduction, not
        # correctness — the optimum is ~1 unrelated candidate per
        # probe, i.e. n·tables·p_col(m) ≈ 1, which is the gate formula
        # at ε=1: ~coef·log2(20) ≈ 5-6 fewer planes than the gate
        # size (cheaper register) at bounded verify cost. Occupancy
        # above that costs candidate cosine evaluations linearly; the
        # r9 rows ran DELIBERATELY saturated (nbits=24 at 10M) and
        # paid 3.8x the digest gate for it.
        stats["recommended_verify_nbits"] = min(
            cap,
            max(4, math.ceil(coef * math.log2(max(2.0, n_vecs * n_tables)))),
        )
        stats["predicted_gate_overshoot_ppm"] = int(
            round(self.predicted_gate_overshoot() * 1_000_000)
        )

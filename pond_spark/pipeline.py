"""Curation pipeline — the operators composed into one training-data
flow.

Each stage is an independently-oracled operator elsewhere in the
package; this module is the composition a real pre-training pipeline
runs, in the canonical order (cheap map-side filters before shuffling
dedup stages, sampling last so every upstream decision is
deterministic):

1. quality gate      — Gopher rules keep-flag (functions/text.py)
2. exact dedup       — digest keep-min-id (dedup/exact.py)
3. near dedup        — opt-in: min-id representative per connected
                       near-duplicate cluster; MinHash-LSH candidates
                       at scale or exact n-gram Jaccard for the
                       replayable path (dedup/minhash.py, ngram.py,
                       cluster.py)
4. line dedup        — strip corpus boilerplate lines (dedup/lines.py)
5. PII scrub         — redact emails/IPs/phones (functions/pii.py)
6. decontaminate     — drop docs sharing n-grams with an eval set
                       (dedup/decontaminate.py)
7. sample            — deterministic hash sample (operators/sampling.py)

Every stage is declarative, so Catalyst sees ONE plan: the quality
gate is one per-document filter and the sampling bucket filter pushes
into the scan; the shuffling stages (2, 3, 4, 6) each shuffle on narrow
hash keys, and the quality, PII and sample stages are map-only. Nothing
materializes between stages unless the caller persists.

The report() companion audits the funnel — input rows, survivors per
stage — in one pass per stage boundary (counts are jobs; run it in
tests/audits, not in the hot path).
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pond_spark.util import pin, pin_scope

__all__ = [
    "CurationConfig",
    "curate",
    "curate_run",
    "curate_stream",
    "curate_foreach_batch",
    "final_corpus_path",
    "report",
    "report_runs",
]


def final_corpus_path(rows: list[dict]) -> str:
    """The curated-corpus path from a :func:`curate_run` report: the
    last materialized STAGE (the synthetic ``catalog_register`` row
    records the registration marker, not data). One definition so the
    CLI, examples, stress tools and registry queries can't drift."""
    return next(
        r["path"] for r in reversed(rows) if r["stage"] != "catalog_register"
    )


@dataclass(frozen=True)
class CurationConfig:
    min_words: int = 20
    max_words: int = 100_000
    line_min_docs: int = 2
    line_words_per_chunk: int | None = None  # None = newline-delimited
    decontaminate_n: int = 8
    sample_rate: float = 1.0
    sample_salt: str = "curate"
    scrub_pii: bool = True
    stages: tuple[str, ...] = (
        "quality",
        "exact_dedup",
        "line_dedup",
        "pii",
        "decontaminate",
        "sample",
    )
    extra: dict = field(default_factory=dict, hash=False, compare=False)


#: every stage :func:`curate` dispatches; checked before anything runs
_STAGES = (
    "quality", "exact_dedup", "near_dedup", "line_dedup", "pii",
    "decontaminate", "sample",
)


def _check_stages(stages) -> None:
    for stage in stages:
        if stage not in _STAGES:
            raise ValueError(f"unknown curation stage: {stage}")


def _quality_keep(config: CurationConfig, text_col: str):
    """The Gopher keep flag, one per-document expression (no shuffle)."""
    from pond_spark.functions.text import quality_struct

    return quality_struct(
        F.col(text_col), min_words=config.min_words, max_words=config.max_words
    )["keep"]


def curate(
    docs: DataFrame,
    config: CurationConfig = CurationConfig(),
    eval_set: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Run the configured stages; returns the surviving documents with
    ``text_col`` rewritten by the text-mutating stages.

    ``eval_set`` is required iff "decontaminate" is in stages.
    """
    _check_stages(config.stages)
    out = docs
    for stage in config.stages:
        if stage == "quality":
            out = out.filter(_quality_keep(config, text_col))
        elif stage == "exact_dedup":
            from pond_spark.dedup.exact import dedup_exact

            out = dedup_exact(out, text_col, id_col)
        elif stage == "near_dedup":
            # keep ONE representative (min id) per near-duplicate
            # cluster — connected components over candidate pairs.
            # Pair source via config.extra["near_method"]:
            #   "minhash" (default): banded LSH + exact verify — the
            #     100 TB path (key-local equi-joins, skew-guarded);
            #   "ngram": exact n-gram Jaccard with prefix filtering —
            #     output-bound, cross-engine replayable (the oracle
            #     path; block with extra["near_block_col"] at scale).
            from pond_spark.dedup.cluster import connected_components

            method = config.extra.get("near_method", "minhash")
            thr = float(config.extra.get("near_threshold", 0.8))
            n = int(config.extra.get("near_n", 3))
            if method == "minhash":
                from pond_spark.dedup.minhash import minhash_lsh_pairs

                pairs = minhash_lsh_pairs(
                    out,
                    text_col,
                    id_col,
                    threshold=thr,
                    k=int(config.extra.get("near_k", 64)),
                    bands=int(config.extra.get("near_bands", 16)),
                    n=n,
                    seed=int(config.extra.get("near_seed", 42)),
                    max_bucket_size=config.extra.get("near_max_bucket"),
                )
            elif method == "ngram":
                from pond_spark.dedup.ngram import ngram_jaccard_pairs

                pairs = ngram_jaccard_pairs(
                    out,
                    text_col,
                    id_col,
                    block_col=config.extra.get("near_block_col"),
                    threshold=thr,
                    n=n,
                )
            else:
                raise ValueError(
                    f"unknown near_method: {method!r} "
                    "(expected 'minhash' or 'ngram')"
                )
            comp = connected_components(pairs)
            drop = comp.filter(F.col("node") != F.col("component")).select(
                F.col("node").alias(id_col)
            )
            out = out.join(drop, on=id_col, how="left_anti")
        elif stage == "line_dedup":
            from pond_spark.dedup.lines import strip_duplicate_lines

            cleaned = strip_duplicate_lines(
                out,
                text_col,
                id_col,
                min_docs=config.line_min_docs,
                words_per_chunk=config.line_words_per_chunk,
            )
            out = (
                out.drop(text_col)
                .join(
                    cleaned.select(
                        id_col, F.col("text_clean").alias(text_col)
                    ),
                    on=id_col,
                )
                .filter(F.length(F.col(text_col)) > 0)
            )
        elif stage == "pii":
            if config.scrub_pii:
                from pond_spark.functions.pii import pii_scrub

                out = out.withColumn(text_col, pii_scrub(F.col(text_col)))
        elif stage == "decontaminate":
            if eval_set is None:
                raise ValueError("decontaminate stage needs eval_set")
            from pond_spark.dedup.decontaminate import decontaminate

            out = decontaminate(
                out, eval_set, text_col, id_col, n=config.decontaminate_n
            )
        elif stage == "sample":
            if config.sample_rate < 1.0:
                from pond_spark.operators.sampling import sample

                out = sample(
                    out, config.sample_rate, id_col, config.sample_salt
                )
    return out


def curate_foreach_batch(
    writer,
    config: CurationConfig = CurationConfig(),
    eval_set: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_catalog_path: str | None = None,
    minhash_catalog_path: str | None = None,
    embedding_catalog_path: str | None = None,
):
    """``foreachBatch`` companion covering the corpus-level stages
    ``curate_stream`` refuses (line_dedup, decontaminate).

    Returns a ``(batch_df, batch_id)`` function for
    ``stream.writeStream.foreachBatch(...)`` that runs the FULL batch
    :func:`curate` chain on each micro-batch and hands the curated
    frame to ``writer(df, batch_id)``. The corpus-level stages' scope
    becomes the micro-batch — the standard micro-batch approximation:
    a boilerplate line is stripped iff it repeats *within the batch*,
    so larger triggers trade latency for dedup recall. Decontamination
    against a (bounded, broadcastable) eval set is exact regardless of
    batching — membership in the eval n-gram set doesn't depend on
    what else is in the batch.

    ``digest_catalog_path`` adds CROSS-BATCH (and cross-restart) exact
    dedup: each batch anti-joins the persisted digest catalog before
    curation and registers what it saw AFTER the writer succeeds
    (dedup.exact.DigestCatalog) — unlike the in-memory streaming
    state, a re-started job never re-admits content an earlier run
    already shipped. Ordering matters: foreachBatch is at-least-once,
    so registering before the writer would make a failed-then-retried
    batch filter ITSELF out and lose its content; registering after
    keeps the retry able to re-ship (duplicates on retry are the
    at-least-once contract, silent loss is not).

    ``minhash_catalog_path`` adds the cross-batch NEAR-dup gate
    (dedup.minhash.MinHashCatalog): rows sharing any LSH band key with
    a registered doc are dropped — the streaming twin of curate_run's
    gated mode, with the same documented conservatism (band collisions
    overshoot true near-dups; tune via the ``config.extra`` near_*
    keys) and the same register-after-writer ordering.
    ``embedding_catalog_path`` likewise adds the cross-batch SEMANTIC
    gate over the batch's embedding column (``config.extra`` emb_*
    keys; emb_dim required).

    Verify-less gate_check cadence (ADVICE r9): the occupancy
    advisory is a full-catalog groupBy + collect — per-micro-batch it
    dominates small triggers, and the estimate drifts only with
    registered volume. The streaming path therefore runs it on the
    FIRST gated batch and then every ``config.extra
    ['emb_gate_check_every']`` batches (default 16; batches between
    checks gate with the last verdict standing). ``curate_run`` still
    checks once per run unconditionally; ``emb_skip_gate_check``
    still disables entirely; the verified gate never needs it. The
    cadence governs only the ADVISORY path: an explicitly configured
    ``emb_max_overshoot`` refusal bound is re-checked on EVERY batch
    (ADVICE r10 — see :meth:`_CatalogGate.filter_new`).
    """
    checks_done = {"n": 0}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # every pin a batch makes is released once its writer returns
        with pin_scope():
            gate = _CatalogGate(
                batch_df.sparkSession, config, text_col, id_col,
                digest_catalog_path, minhash_catalog_path,
                embedding_catalog_path,
            )
            if not gate:
                writer(
                    curate(batch_df, config, eval_set, text_col, id_col),
                    batch_id,
                )
                return
            every = max(1, int(config.extra.get("emb_gate_check_every", 16)))
            # pin `fresh`: it feeds both the writer's curate chain and
            # register — unpinned, every micro-batch would pay the
            # catalog joins + within-batch sha256 dedup TWICE
            fresh = pin(gate.filter_new(
                batch_df, check=checks_done["n"] % every == 0
            ))
            checks_done["n"] += 1
            writer(curate(fresh, config, eval_set, text_col, id_col), batch_id)
            gate.register(fresh)

    return _apply


def curate_stream(
    stream: DataFrame,
    config: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "timestamp",
    watermark: str = "10 seconds",
) -> DataFrame:
    """The curation chain on a Structured Streaming source — the
    batch/stream parity the expression layer buys us.

    Stage mapping: quality gate, PII scrub and sampling are stateless
    expressions (identical code paths as batch); exact dedup becomes
    the watermark-bounded state store (streaming/dedup.py). Stages
    that need whole-corpus or multi-pass state — line_dedup,
    decontaminate (doc-level reduction of a gram join needs a
    stateful distinct + stream-stream anti-join) — are batch-side:
    run them inside ``foreachBatch`` with the batch ``curate`` if
    needed; this builder raises on them so the limitation is explicit.
    """
    for s in ("line_dedup", "decontaminate", "near_dedup"):
        if s in config.stages:
            raise ValueError(
                f"{s} is corpus-level: batch-only (use foreachBatch)"
            )

    out = stream
    for stage in config.stages:
        if stage == "quality":
            out = out.filter(_quality_keep(config, text_col))
        elif stage == "exact_dedup":
            from pond_spark.streaming.dedup import dedup_stream

            out = dedup_stream(out, text_col, ts_col, watermark)
        else:  # pii, sample: the batch expressions as they are
            out = curate(
                out, replace(config, stages=(stage,)), None, text_col, id_col
            )
    return out


def _minhash_catalog(spark, path: str, config: CurationConfig):
    """MinHashCatalog with signature parameters from the same
    ``config.extra`` keys (near_k/near_bands/near_n/near_seed) the
    near_dedup stage passes to minhash_lsh_pairs, so the cross-run
    gate and the in-run candidate stage band identically (the sidecar
    refuses a mismatch anyway — this makes the happy path consistent
    by construction). Note the gate's selectivity dial is bands/k,
    NOT near_threshold: the gate has no exact-verify leg, so the
    threshold never reaches it."""
    from pond_spark.dedup.minhash import MinHashCatalog

    x = config.extra
    return MinHashCatalog(
        spark,
        path,
        k=int(x.get("near_k", 64)),
        bands=int(x.get("near_bands", 16)),
        n=int(x.get("near_n", 3)),
        seed=int(x.get("near_seed", 42)),
    )


def _embedding_catalog(spark, path: str, config: CurationConfig):
    """EmbeddingCatalog from the ``config.extra`` emb_* keys. emb_dim
    is mandatory (hyperplane shape); the vector column defaults to
    ``embedding`` via emb_col. ``emb_verify_cos`` implies the VERIFIED
    gate, which needs the vector sibling store
    (``emb_store_vectors``, defaulted on when a verify threshold is
    configured).

    Sizing keys absent from ``extra`` ADOPT an existing catalog's
    params sidecar (round 11): a catalog built through curate_run's
    derived sizing (e.g. nbits=30 at 10M/day) must reopen identically
    from a flag-less streaming run — the pre-r11 literal defaults
    (nbits=8) would refuse at open with a params mismatch. Explicit
    keys still win (and still refuse a genuine mismatch)."""
    from pond_spark.similarity.catalog import EmbeddingCatalog

    x = config.extra
    if "emb_dim" not in x:
        raise ValueError(
            "embedding_catalog_path needs config.extra['emb_dim'] "
            "(the hyperplane shape is pinned per catalog)"
        )
    if "emb_nbits" not in x or "emb_vector_buckets" not in x:
        x = _adopt_emb_sizing(spark, path, x) or x
    vb = x.get("emb_vector_buckets")
    return EmbeddingCatalog(
        spark,
        path,
        dim=int(x["emb_dim"]),
        nbits=int(x.get("emb_nbits", 8)),
        n_tables=int(x.get("emb_tables", 2)),
        seed=int(x.get("emb_seed", 42)),
        store_vectors=bool(
            x.get("emb_store_vectors", "emb_verify_cos" in x)
        ),
        vector_buckets=int(vb) if vb is not None else None,
    )


def _adopt_emb_sizing(spark, path: str, extra: dict) -> dict | None:
    """``extra`` with emb_nbits/emb_vector_buckets defaulted from the
    catalog's params sidecar; None before its first register."""
    from pond_spark.catalog import _fs_for

    fs = _fs_for(spark, path)
    sidecar = path + ".params.json"
    if not fs.exists(sidecar):
        return None
    stored = json.loads(fs.read_text(sidecar))
    x = dict(extra)
    x.setdefault("emb_nbits", int(stored["nbits"]))
    vb = stored.get("vector_buckets")
    x.setdefault("emb_vector_buckets", int(vb) if vb else None)
    return x


def _derive_emb_sizing(spark, input_path: str, catalog_path: str,
                       config: CurationConfig) -> CurationConfig:
    """Default the SIZED + BUCKETED verified-gate configuration
    (VERDICT r10 ask #3 — the r10 win was opt-in; nothing applied it).

    Applies only to the VERIFIED gate (``emb_verify_cos`` /
    ``emb_store_vectors``) with no explicit ``emb_nbits`` /
    ``emb_vector_buckets``: correctness there never depends on sizing
    (the exact-cosine leg decides drops), so nbits/buckets are purely
    cost dials this helper can safely pick. The verify-less bucket
    gate keeps its explicit-sizing + gate_check refusal discipline —
    auto-sizing a gate whose FALSE-DROP RATE rides on the choice is
    not a default, it is a policy.

    Derivation, pinned for resume:

    - catalog already exists → ADOPT the stored params sidecar
      (``<path>.params.json``): nbits is hyperplane-pinned per catalog
      and buckets are file-layout-pinned; deriving anything else would
      refuse at open.
    - new catalog → nbits from advise()'s verify-mode formula
      (``ceil(coef(dim) · log2(n · tables))``, the ~1-unrelated-
      candidate-per-probe optimum; similarity/catalog.py) with n = the
      day-1 input row count (parquet footer metadata, no scan), and
      vector_buckets a power of two near n/300k for n ≥ 1M (10M/day →
      32, the measured r10 configuration; below 1M the payload
      broadcasts and bucketing is a wash, so None).

    The derived values land in ``config.extra`` BEFORE the manifest is
    pinned, so ``work_dir/manifest.json`` records them and a resumed
    or day-2 run reopens the catalog with identical parameters (a
    crash before first register re-derives from the same input count;
    after it, the params sidecar exists and is adopted)."""
    import math

    x = dict(config.extra)
    verified = "emb_verify_cos" in x or bool(x.get("emb_store_vectors"))
    if not verified or (
        "emb_nbits" in x and "emb_vector_buckets" in x
    ):
        return config
    adopted = _adopt_emb_sizing(spark, catalog_path, x)
    if adopted is not None:
        x = adopted
        # marker must be IDENTICAL across the derive/adopt branches:
        # a day-1 crash after first register resumes through adoption
        # while its manifest was pinned through derivation — the
        # values agree (the sidecar stores the derived params), so the
        # marker must too or the manifest check refuses its own run
        x["emb_sizing_derived"] = True
        return replace(config, extra=x)
    from pond_spark.similarity.catalog import rhp_gate_coefficient

    n = spark.read.parquet(input_path).count()
    dim = int(x["emb_dim"])
    tables = int(x.get("emb_tables", 2))
    coef = rhp_gate_coefficient(dim)
    nbits = min(
        min(dim, 63),
        max(4, math.ceil(coef * math.log2(max(2.0, n * tables)))),
    )
    buckets = (
        max(4, min(512, 2 ** round(math.log2(n / 300_000))))
        if n >= 1_000_000
        else None
    )
    x.setdefault("emb_nbits", nbits)
    x.setdefault("emb_vector_buckets", buckets)
    x["emb_sizing_derived"] = True
    return replace(config, extra=x)


class _CatalogGate:
    """The catalog gate of curate_run and curate_foreach_batch: opens
    the Digest, MinHash and Embedding catalogs whose paths are given,
    drops the rows any of them has seen (:meth:`filter_new`) and
    records what passed once it shipped (:meth:`register`). Falsy
    when it holds no catalog — the ungated run."""

    def __init__(self, spark, config: CurationConfig, text_col: str,
                 id_col: str, digest_path: str | None,
                 minhash_path: str | None, emb_path: str | None):
        from pond_spark.dedup.exact import DigestCatalog

        self.config, self.text_col, self.id_col = config, text_col, id_col
        self.digest = (
            DigestCatalog(spark, digest_path) if digest_path else None
        )
        self.minhash = (
            _minhash_catalog(spark, minhash_path, config)
            if minhash_path else None
        )
        self.emb = (
            _embedding_catalog(spark, emb_path, config) if emb_path else None
        )

    def __bool__(self) -> bool:
        return any(c is not None for c in (self.digest, self.minhash, self.emb))

    def filter_new(self, df: DataFrame, check: bool = True) -> DataFrame:
        """``df`` less the rows a held catalog has seen. The embedding
        leg (VERDICT r8 #2): ``emb_verify_cos`` selects
        the exact-cosine VERIFIED gate (only true near-dups drop);
        otherwise the verify-less bucket gate runs behind
        :meth:`EmbeddingCatalog.gate_check` — refusing when
        ``emb_max_overshoot`` is configured and the predicted false-drop
        rate exceeds it, warning above 5% when not — so occupancy-driven
        content loss is loud, never silent. ``check=False`` skips this
        batch's ADVISORY job only (the streaming path's cadence control,
        ADVICE r9 — a full-catalog groupBy+collect per micro-batch is a
        hot-path cost the estimate's slow drift doesn't justify). An
        explicitly configured ``emb_max_overshoot`` is a hard safety
        bound and runs EVERY batch regardless of cadence (ADVICE r10:
        registered volume grows every batch, so the predicted overshoot
        can cross the bound between cadence checks — a skipped refusal is
        silent content loss, the one thing the gate exists to prevent)."""
        if self.digest is not None:
            df = self.digest.filter_new(df, self.text_col, id_col=self.id_col)
        if self.minhash is not None:
            df = self.minhash.filter_new(df, self.text_col, self.id_col)
        if self.emb is None:
            return df
        x = self.config.extra
        vec_col = x.get("emb_col", "embedding")
        vcos = x.get("emb_verify_cos")
        if vcos is not None:
            return self.emb.filter_new(df, vec_col, self.id_col,
                                       verify_cos=float(vcos))
        bound = x.get("emb_max_overshoot")
        if bound is not None:
            self.emb.gate_check(float(bound))  # refusal path: cadence-exempt
        elif check and not x.get("emb_skip_gate_check", False):
            self.emb.gate_check(None)
        return self.emb.filter_new(df, vec_col, self.id_col)

    def register(self, df: DataFrame) -> None:
        if self.digest is not None:
            self.digest.register(df, self.text_col)
        if self.minhash is not None:
            self.minhash.register(df, self.text_col, self.id_col)
        if self.emb is not None:
            self.emb.register(
                df, self.config.extra.get("emb_col", "embedding"), self.id_col
            )


@contextlib.contextmanager
def _leases(spark, ttl_s: int | None, paths):
    """Cooperative single-writer gate (catalog.WriterLease): one lease
    per non-None path, acquired in order and held for the whole run —
    a scheduler double-fire gets LeaseHeldError instead of two writers
    racing the read-then-append catalogs. Yields the callable that
    renews every held lease; ``ttl_s=None`` holds none."""
    from pond_spark.catalog import WriterLease

    with contextlib.ExitStack() as stack:
        held = [
            stack.enter_context(WriterLease(spark, p, ttl_s=ttl_s))
            for p in (paths if ttl_s is not None else ())
            if p is not None
        ]

        def renew() -> None:
            # stage boundaries renew every held lease (ADVICE r8: a run
            # longer than ttl_s was exposed to takeover mid-run;
            # renew()'s ownership check also turns a takeover that DID
            # happen into a loud LeaseLostError before the next stage
            # mutates shared state)
            for lease in held:
                lease.renew()

        yield renew


#: the run-definition keys naming a work_dir's gate catalogs
_CATALOG_KEYS = (
    "digest_catalog_path", "minhash_catalog_path", "embedding_catalog_path",
)


def _pin_manifest(fs, work_dir: str, manifest: dict | None = None) -> dict:
    """The run definition pinned in ``work_dir/manifest.json``. With
    ``manifest``: pin it on the first run, refuse a different one on
    resume. Without: read the pinned one (ValueError before the first
    run). Manifests written before the gated mode existed lack the
    catalog keys; absent == None (ungated), not a config change —
    strict equality would break resume across the upgrade."""
    path = work_dir.rstrip("/") + "/manifest.json"
    if not fs.exists(path):
        if manifest is None:
            raise ValueError(
                f"no curate_run at {work_dir} (manifest.json missing)"
            )
        fs.mkdirs(work_dir)
        fs.write_text(path, json.dumps(manifest))
        return manifest
    stored = json.loads(fs.read_text(path))
    for key in _CATALOG_KEYS:
        stored.setdefault(key, None)
    if manifest is not None and stored != manifest:
        diff = {
            k for k in set(stored) | set(manifest)
            if stored.get(k) != manifest.get(k)
        }
        raise ValueError(
            f"work_dir {work_dir} was started with a different run "
            f"definition (differs in {sorted(diff)}); resuming would "
            "mix stage semantics — use a new work_dir"
        )
    return stored


def _stage_dirs(work_dir: str, manifest: dict):
    """A pinned run's stage chain as ``(stage, dir)`` pairs in run
    order — the synthetic ``catalog_gate`` first when any gate catalog
    is named — and its ``_REGISTERED`` marker (None when ungated)."""
    root = work_dir.rstrip("/")
    gated = any(manifest[key] for key in _CATALOG_KEYS)
    stages = (["catalog_gate"] if gated else []) + list(manifest["stages"])
    dirs = [(s, f"{root}/stage_{i:02d}_{s}") for i, s in enumerate(stages)]
    return dirs, (root + "/_REGISTERED" if gated else None)


def curate_run(
    spark,
    input_path: str,
    work_dir: str,
    config: CurationConfig = CurationConfig(),
    eval_set_path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_catalog_path: str | None = None,
    minhash_catalog_path: str | None = None,
    embedding_catalog_path: str | None = None,
    lease_ttl: int | None = None,
) -> list[dict]:
    """Stage-level RESUMABLE curation run — the multi-day 100 TB story
    (VERDICT r7 ask #8): each configured stage materializes its
    survivors to ``work_dir/stage_NN_<name>`` parquet, and a re-run
    (after a crash, an eviction, or a deliberate stop) skips every
    stage whose output is already complete and recomputes only from
    the first missing one. Correctness of resume rests on what the
    batch chain already guarantees: every stage is deterministic
    (hash sampling, min-id representatives, digest dedup), so a stage
    recomputed tomorrow from yesterday's persisted predecessor equals
    the stage computed in one shot.

    Discipline (shared with the catalogs in pond_spark.catalog):

    - the run CONFIG is pinned in ``work_dir/manifest.json`` on first
      run; resuming with a different config/input raises — half-old,
      half-new stage chains would silently mix semantics. New config =
      new work_dir.
    - stage completeness = Spark's ``_SUCCESS`` marker; a stage
      directory without it is a partial write from a crash and is
      recomputed (``mode('overwrite')`` clears it). Everything AFTER
      the first recomputed stage recomputes too, even if marked
      complete — determinism makes re-deriving from a recomputed
      predecessor usually a no-op, but a later-complete/earlier-missing
      chain only arises from manual intervention, and trusting it
      would silently pin outputs to inputs that no longer exist.
    - single-writer, like every mutable layout here.

    Trade, documented: materializing between stages costs one
    write+read per boundary vs the single-plan :func:`curate` — that
    is the price of restartability; use plain :func:`curate` when the
    run fits one job. Returns ``[{stage, path, status}]`` with status
    ``computed`` or ``resumed``; the last entry whose stage is not
    ``catalog_register`` holds the curated corpus.

    **Cross-RUN incremental mode** (round-9 #3 — the daily-corpus
    shape: one work_dir per day, one shared catalog across days):

    - ``digest_catalog_path`` prepends a ``catalog_gate`` stage that
      anti-joins the persisted DigestCatalog — content any PRIOR run
      SAW is dropped before curation (exact, digest-equality). "Saw"
      is deliberate and matches curate_foreach_batch: the registered
      set is the gate's survivors, not the final corpus, so a doc a
      later stage rejected (quality) or deterministically sampled out
      stays out on every future day instead of being re-adjudicated
      per re-crawl.
    - ``minhash_catalog_path`` adds the near-dup gate to the same
      stage: rows sharing any LSH band key with a registered doc are
      dropped. Within the banding model this is the "possible near-dup
      of something seen" set — a conservative curation gate (band
      collisions overshoot true near-dups; the dial is near_bands/
      near_k via ``config.extra``, shared with the near_dedup stage).
      Exact cross-run verification would need prior runs' text, which
      the catalog deliberately does not store.
    - ``embedding_catalog_path`` adds the SEMANTIC gate for corpora
      carrying an embedding column (``config.extra``: emb_dim
      required; emb_col/emb_nbits/emb_tables/emb_seed optional): rows
      whose vector shares an RHP bucket with a registered vector are
      dropped — cross-run SemDeDup. NULL vectors always pass. Two
      modes (VERDICT r8 #2 — bucket-only drops track occupancy):
      ``emb_verify_cos`` selects the VERIFIED gate (vectors persist in
      the catalog's sibling store; only exact-cosine-confirmed
      near-dups drop); without it the bucket gate runs behind
      ``gate_check`` — refusing when ``emb_max_overshoot`` is set and
      exceeded, warning above 5% predicted false-drops otherwise
      (``emb_skip_gate_check`` silences the advisory job for tight
      micro-batch loops).
    - Registration follows ``curate_foreach_batch``'s at-least-once
      ordering: the gate stage's survivors are registered only AFTER
      the final stage's ``_SUCCESS`` exists, recorded by a
      ``_REGISTERED`` marker so a resumed run neither re-registers nor
      skips a registration a crash interrupted (a crash MID-register
      can append a batch twice — duplicate catalog rows are harmless
      to the anti-join/semi-join probes and cleaned by compact()).
    """
    # every check that can refuse the run comes before anything is
    # written: a refused first call must leave the work_dir unpinned
    # (catalog_gate is no curation stage: the catalog paths prepend it)
    if not config.stages:
        raise ValueError("curate_run needs at least one stage")
    _check_stages(config.stages)
    if "decontaminate" in config.stages and not eval_set_path:
        raise ValueError("decontaminate stage needs eval_set_path")
    from pond_spark.catalog import _fs_for

    with _leases(
        spark, lease_ttl,
        (work_dir, digest_catalog_path, minhash_catalog_path,
         embedding_catalog_path),
    ) as renew:
        if embedding_catalog_path is not None:
            # default the sized+bucketed verified gate BEFORE the
            # manifest is pinned, so derived values resume identically
            # (r10 ask #3)
            config = _derive_emb_sizing(
                spark, input_path, embedding_catalog_path, config
            )
        gate = _CatalogGate(
            spark, config, text_col, id_col, digest_catalog_path,
            minhash_catalog_path, embedding_catalog_path,
        )
        fs = _fs_for(spark, work_dir)
        manifest = _pin_manifest(fs, work_dir, {
            "input_path": input_path,
            "eval_set_path": eval_set_path,
            "text_col": text_col,
            "id_col": id_col,
            "stages": list(config.stages),
            "digest_catalog_path": digest_catalog_path,
            "minhash_catalog_path": minhash_catalog_path,
            "embedding_catalog_path": embedding_catalog_path,
            "config": {
                "min_words": config.min_words,
                "max_words": config.max_words,
                "line_min_docs": config.line_min_docs,
                "line_words_per_chunk": config.line_words_per_chunk,
                "decontaminate_n": config.decontaminate_n,
                "sample_rate": config.sample_rate,
                "sample_salt": config.sample_salt,
                "scrub_pii": config.scrub_pii,
                "extra": dict(config.extra),
            },
        })
        stage_dirs, marker = _stage_dirs(work_dir, manifest)
        eval_set = (
            spark.read.parquet(eval_set_path) if eval_set_path else None
        )
        rows: list[dict] = []
        cur_path = input_path
        # the schema of cur_path when this run wrote it: reading with it
        # skips the footer-inference job; an input or a resumed stage
        # still infers
        cur_schema = None
        recompute = False  # once a stage recomputes, everything after does
        for stage, stage_dir in stage_dirs:
            if not recompute and fs.exists(stage_dir + "/_SUCCESS"):
                rows.append(
                    {"stage": stage, "path": stage_dir, "status": "resumed"}
                )
                cur_path, cur_schema = stage_dir, None
                continue
            recompute = True
            t0 = time.perf_counter()
            if stage == "catalog_gate" and fs.exists(marker):
                    # re-gating AFTER this run registered would anti-join
                    # the run's own digests and silently ship an empty
                    # corpus — the silent-no-op class this repo refuses
                    # loudly
                    raise RuntimeError(
                        f"catalog_gate at {stage_dir} needs recomputing "
                        f"but {marker} says this run already registered "
                        "its content — re-gating against the run's own "
                        "catalog entries would produce an empty corpus. "
                        "Restore the stage output from backup, or start a "
                        "new work_dir (compact/rebuild the catalog first "
                        "if this run's content must re-ship)."
                    )
            reader = spark.read
            if cur_schema is not None:
                reader = reader.schema(cur_schema)
            src = reader.parquet(cur_path)
            # the stage's pins go once its output is written: a kept pin
            # would be reused by a later run over a rewritten input path
            with pin_scope():
                if stage == "catalog_gate":
                    out = gate.filter_new(src)
                else:
                    out = curate(
                        src, replace(config, stages=(stage,)), eval_set,
                        text_col, id_col,
                    )
                out.write.mode("overwrite").parquet(stage_dir)
            renew()
            rows.append(
                {
                    "stage": stage,
                    "path": stage_dir,
                    "status": "computed",
                    # per-stage wall — the ops telemetry a multi-day run
                    # reads to find its expensive stage; resumed rows are
                    # metadata-only and carry no timing
                    "seconds": round(time.perf_counter() - t0, 1),
                }
            )
            cur_path, cur_schema = stage_dir, out.schema
        if marker is not None:
            # register AFTER the whole chain shipped (at-least-once: a
            # crashed run must stay re-admittable), from the
            # MATERIALIZED gate output so a resume registers exactly
            # what was gated
            status = "resumed"
            if not fs.exists(marker):
                gate_dir = stage_dirs[0][1]
                gate.register(spark.read.parquet(gate_dir))
                fs.write_text(marker, json.dumps({"source": gate_dir}))
                status = "computed"
            rows.append(
                {"stage": "catalog_register", "path": marker,
                 "status": status}
            )
    return rows


def report_runs(spark, work_dirs: list[str]) -> list[dict]:
    """Gate-aware cross-run funnel audit (VERDICT r8 ask #7): the
    :func:`report` companion for :func:`curate_run` days. For each
    work_dir, read the pinned manifest and the PERSISTED stage outputs
    (no recomputation) and produce the funnel — input rows → gate
    drops → per-stage drops → shipped — plus registration state and
    each gate catalog's latest advisory / eviction snapshot, so the
    occupancy-overshoot class (r9 fix) is visible in operations, not
    just stress tools.

    Costs one count job per input + completed stage boundary (parquet
    footer metadata counts — cheap, but still jobs): audit cadence,
    not the hot path. Incomplete stages report ``rows_out: None``.
    Returns one dict per work_dir, in the given order (the daily-run
    shape: one work_dir per day against shared catalogs)."""
    from pond_spark.catalog import _fs_for, read_jsonl_history

    out: list[dict] = []
    for work in work_dirs:
        fs = _fs_for(spark, work)
        man = _pin_manifest(fs, work)
        stage_dirs, marker = _stage_dirs(work, man)
        input_rows = spark.read.parquet(man["input_path"]).count()
        day: dict = {
            "work_dir": work,
            "input_path": man["input_path"],
            "input_rows": input_rows,
            "stages": [],
            "registered": marker is not None and fs.exists(marker),
        }
        prev: int | None = input_rows
        shipped = None
        for stage, sdir in stage_dirs:
            n = (
                spark.read.parquet(sdir).count()
                if fs.exists(sdir + "/_SUCCESS") else None
            )
            dropped = None if n is None or prev is None else prev - n
            day["stages"].append(
                {"stage": stage, "rows_out": n, "dropped": dropped}
            )
            prev = n
            shipped = shipped if n is None else n
        day["shipped_rows"] = shipped
        day["complete"] = all(
            s["rows_out"] is not None for s in day["stages"]
        )
        # latest advisory + eviction snapshots per gate catalog — the
        # ops-facing read of the gate's health (for emb:
        # predicted_gate_overshoot_ppm is the r9 overshoot dial)
        snapshots: dict = {}
        for kind, key in zip(("digest", "minhash", "emb"), _CATALOG_KEYS):
            path = man[key]
            if not path:
                continue
            cfs = _fs_for(spark, path)
            entry: dict = {"path": path}
            for label in ("advise", "retention"):
                history = read_jsonl_history(cfs, f"{path}.{label}.jsonl")
                if history:
                    entry[label] = history[-1]
            snapshots[kind] = entry
        day["catalogs"] = snapshots
        out.append(day)
    return out


def report(
    docs: DataFrame,
    config: CurationConfig = CurationConfig(),
    eval_set: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[dict]:
    """Funnel audit: ``[{stage, rows_in, rows_out}, ...]`` — how many
    documents each configured stage admitted and passed on.

    Runs the stages one at a time (each via :func:`curate` with a
    single-stage config, so the audited code path IS the production
    path) with a persist/count per boundary — counts are jobs, so this
    belongs in tests and scheduled audits, not the hot path. The
    returned list is driver-side and bounded by the stage count.
    """
    rows: list[dict] = []
    cur = docs
    n_in = cur.count()
    prev = None
    try:
        for stage in config.stages:
            cur = curate(
                cur, replace(config, stages=(stage,)), eval_set,
                text_col, id_col,
            ).persist()
            n_out = cur.count()
            if prev is not None:
                prev.unpersist()
            prev = cur
            rows.append(
                {"stage": stage, "rows_in": n_in, "rows_out": n_out}
            )
            n_in = n_out
    finally:
        if prev is not None:
            prev.unpersist()
    return rows

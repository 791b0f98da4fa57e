"""Training-data sampling, mixing, shuffling and packing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.registry._common import _documents, _oracle_sf_dir
from pond_spark.util import fan_out as _fan


UNIMAX_EPOCHS = 2


def q_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch-capped budget allocation + deterministic
    materialization (operators/unimax.py, Chung et al. 2023): the
    waterfilling recursion in closed form (two windows over the L-row
    language frame), budget = half the corpus, caps at 2 epochs; then
    the seed-stable selected subset per language (one (id, lang, size)
    shuffle — documents never move). Output is all-integer:
    per-language corpus size, cap, quota, selected docs/chars. The
    budget is data-derived (total div 2) so the funded/unfunded split
    exercises both branches at every SF; the bounded 1-row total
    collect is the IVF-Lloyd pattern."""
    from pond_spark.operators.unimax import unimax_quotas, unimax_select

    docs = _documents(spark, sf_dir)
    base = docs.filter(
        F.col("lang").isNotNull() & F.col("n_chars").isNotNull()
    )
    # shared per-language sizes frame (r11, guide §1.2): the old shape
    # scanned documents.parquet FOUR times (budget total, quotas'
    # sizes, select's quotas' sizes, select's keyed pass) and ran the
    # waterfilling windows twice. Aggregate (lang, size) once, pin it
    # (L rows — tiny), derive the budget total from it (Σ per-lang
    # sums ≡ the flat sum over the same filter), and hand the same
    # frame/quotas to both consumers: two scans, one window chain.
    # Pin lifecycle: dropped by the loop drivers' clearCache, the
    # documented stats/minhash contract.
    sizes = (
        base.groupBy(F.col("lang"))
        .agg(F.sum("n_chars").cast("long").alias("size"))
        .persist()
    )
    total = sizes.agg(F.sum("size").cast("long")).collect()[0][0] or 0
    budget = total // 2
    quotas = unimax_quotas(docs, budget, UNIMAX_EPOCHS, sizes=sizes)
    sel = (
        unimax_select(docs, budget, UNIMAX_EPOCHS, quotas=quotas)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sel"),
            F.sum("size").alias("sel_chars"),
        )
    )
    return quotas.join(sel, "lang", "left").select(
        "lang",
        "size",
        "cap",
        "quota",
        F.coalesce("n_sel", F.lit(0)).cast("long").alias("n_sel"),
        F.coalesce("sel_chars", F.lit(0)).cast("long").alias("sel_chars"),
    )


def unimax_mixture_sql() -> str:
    from pond_spark.operators.unimax import (
        UX_A,
        UX_C,
        UX_MOD,
        unimax_quotas_sql,
    )

    budget = (
        "(SELECT CAST(sum(n_chars) AS BIGINT) // 2 FROM documents "
        "WHERE lang IS NOT NULL AND n_chars IS NOT NULL)"
    )
    quotas = unimax_quotas_sql(
        budget, UNIMAX_EPOCHS, as_with_quotas=True
    ).strip()
    return f"""
{quotas},
keyed AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS dsize,
         (doc_id * {UX_A} + 1 * {UX_C}) % {UX_MOD} AS sk
  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
running AS (
  SELECT lang, dsize,
         sum(dsize) OVER (PARTITION BY lang ORDER BY sk, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM keyed),
sel AS (
  SELECT r.lang, CAST(count(*) AS BIGINT) AS n_sel,
         CAST(sum(r.dsize) AS BIGINT) AS sel_chars
  FROM running r JOIN quotas q ON r.lang = q.lang
  WHERE r.run <= q.quota GROUP BY 1)
SELECT q.lang, q.size, q.cap, q.quota,
       COALESCE(s.n_sel, 0) AS n_sel,
       COALESCE(s.sel_chars, 0) AS sel_chars
FROM quotas q LEFT JOIN sel s ON q.lang = s.lang
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights toward the English slice
    (functions/dsir.py): hashed-unigram bucket likelihood ratios,
    n_buckets-bounded statistics, broadcast scoring join. The whole
    output frame is integer columns (weight_q inherits the nbayes
    logq adjudication + margin audit)."""
    from pond_spark.functions.dsir import dsir_weights

    return dsir_weights(
        _fan(_documents(spark, sf_dir)), F.col("lang") == "en", n_buckets=256
    )


def dsir_weights_sql() -> str:
    from pond_spark.functions.dsir import dsir_weights_sql

    return dsir_weights_sql("lang = 'en'", n_buckets=256)


def q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DSIR resampling head: the 50 most target-like
    docs, ties by id — TakeOrderedAndProject, no global sort."""
    from pond_spark.functions.dsir import dsir_topk

    return dsir_topk(
        _fan(_documents(spark, sf_dir)),
        F.col("lang") == "en",
        k=50,
        n_buckets=256,
    )


def dsir_topk_sql() -> str:
    from pond_spark.functions.dsir import dsir_weights_sql

    inner = dsir_weights_sql("lang = 'en'", n_buckets=256)
    return f"""
WITH weights AS ({inner})
SELECT doc_id, n_tokens, weight_q,
       CAST(row_number() OVER (ORDER BY weight_q DESC, doc_id ASC) AS BIGINT)
         AS rank
FROM weights ORDER BY weight_q DESC, doc_id ASC LIMIT 50
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-stable corpus permutation + shard split
    (operators/packing.reproducible_shuffle): portable affine hash
    key, hash-balanced shard, per-shard position — one exchange +
    n_shards parallel local sorts, never a global window."""
    from pond_spark.operators.packing import reproducible_shuffle

    return reproducible_shuffle(
        _fan(_documents(spark, sf_dir)), n_shards=16, seed=7
    ).select("doc_id", "shuffle_key", "shard", "pos")


def shuffle_shards_sql() -> str:
    from pond_spark.operators.packing import reproducible_shuffle_sql

    return reproducible_shuffle_sql(
        16, "documents", seed=7, cols="doc_id"
    )


#: per-language keep rates for the stratified-sampling query
SAMPLE_RATES = {"en": 0.5, "de": 1.0, "zh": 0.1, "fr": 0.25}
#: per-source mixture weights: replicate src0 2.5x, keep src1 whole
#: thin src2 to 30%, drop everything else
MIX_WEIGHTS = {"src0": 2.5, "src1": 1.0, "src2": 0.3}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language hash sampling (training-data
    curation: language rebalancing). The keep set is a pure function
    of doc ids — the oracle replays the identical Mersenne-31
    arithmetic, no engine hash functions involved."""
    from pond_spark.operators.sampling import stratified_sample

    docs = _documents(spark, sf_dir)
    return stratified_sample(
        docs, SAMPLE_RATES, stratum_col="lang", default_rate=0.75
    ).select("doc_id", "lang", "source")


def stratified_sample_sql() -> str:
    from pond_spark.operators.sampling import stratified_sample_sql

    pred = stratified_sample_sql(SAMPLE_RATES, "lang", "doc_id", default_rate=0.75)
    return f"SELECT doc_id, lang, source FROM documents WHERE {pred}"


def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training mixture over sources: integer weights
    replicate (epoch column), fractional parts hash-sample, unlisted
    sources drop."""
    from pond_spark.operators.sampling import mixture

    docs = _documents(spark, sf_dir)
    return mixture(docs, MIX_WEIGHTS).select("doc_id", "source", "epoch")


def mixture_sql() -> str:
    from pond_spark.operators.sampling import mixture_sql

    return mixture_sql(
        MIX_WEIGHTS, table="documents", cols="doc_id, source"
    )


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling over languages (XLM-R-style, alpha=0.5):
    the majority language downsamples toward balance, the smallest
    keeps everything — rates derived from the corpus itself
    (operators/sampling.py temperature_mixture)."""
    from pond_spark.operators.sampling import temperature_mixture

    docs = _documents(spark, sf_dir)
    return temperature_mixture(docs, alpha=0.5, source_col="lang").select(
        "doc_id", "lang", "epoch"
    )


def temperature_mixture_sql() -> str:
    import duckdb

    from pond_spark.operators.sampling import mixture_sql, temperature_weights

    sfdir = _oracle_sf_dir()
    con = duckdb.connect()
    counts = dict(
        con.execute(
            f"SELECT lang, count(*) FROM read_parquet('{sfdir}/documents.parquet') "
            "GROUP BY lang"
        ).fetchall()
    )
    con.close()
    return mixture_sql(
        temperature_weights(counts, alpha=0.5),
        table="documents",
        source_expr="lang",
        cols="doc_id, lang",
    )


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: contiguous ~4k-token training
    shards in doc_id order via a two-level distributed prefix sum
    (the naive global-order window would single-partition the table)."""
    from pond_spark.functions.text import token_count
    from pond_spark.operators.packing import pack_shards

    docs = _fan(_documents(spark, sf_dir))
    counted = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    # bucket_width 1000 keeps the test corpora multi-bucket so the
    # two-level path is actually exercised (ids are dense from 0)
    return pack_shards(counted, budget=4096, bucket_width=1000).select(
        "doc_id", "n_tokens", "token_offset", "shard"
    )


def pack_shards_sql() -> str:
    from pond_spark.functions.text import token_count_sql
    from pond_spark.operators.packing import pack_shards_sql

    inner = (
        f"(SELECT doc_id, {token_count_sql('text')} AS n_tokens "
        "FROM documents) t"
    )
    return pack_shards_sql(
        4096, inner, cols="doc_id, n_tokens"
    )


SEQPACK_CAP = 256
SEQPACK_BUCKETS = 16


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing sequence packing WITHOUT splitting
    (operators/seqpack.py, NEW r6): whole documents into 256-token
    training sequences, FFD per hash bucket (one exchange on the
    bucket key; Ding et al. 2024 style truncation-free packing — the
    complement of pack_shards' concat-and-chunk). Publishes the
    per-bin rollup: docs per sequence, fill, waste, anchor doc. The
    oracle replays the identical FFD fold as a recursive CTE."""
    from pond_spark.functions.text import token_count
    from pond_spark.operators.seqpack import pack_sequences

    docs = _fan(_documents(spark, sf_dir)).filter(F.col("text").isNotNull())
    counted = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    packed = pack_sequences(
        counted, SEQPACK_CAP, n_buckets=SEQPACK_BUCKETS
    )
    return packed.groupBy("bucket", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("fill_tokens"),
        (F.lit(SEQPACK_CAP) - F.sum("n_tokens")).alias("waste"),
        F.min("doc_id").alias("first_doc"),
    )


def pack_sequences_sql() -> str:
    from pond_spark.functions.text import token_count_sql
    from pond_spark.operators.seqpack import pack_sequences_sql

    return pack_sequences_sql(
        SEQPACK_CAP, token_count_sql("text"), n_buckets=SEQPACK_BUCKETS
    )

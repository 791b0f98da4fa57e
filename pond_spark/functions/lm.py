"""N-gram language-model perplexity scoring (CCNet-style quality signal).

CCNet (Wenzek et al. 2020 §3.3) buckets crawled documents into
head/middle/tail by their perplexity under a small LM trained on a
trusted corpus. This module implements the distributed version with a
bigram LM and additive smoothing:

    logP(w2 | w1) = ln( (c(w1 w2) + α) / (c(w1) + α·V) )

trained either on the corpus itself (self-perplexity — repetition and
gibberish both surface as outliers) or on any reference DataFrame.

Scale notes (100 TB): training is two narrow-key groupBys (bigram and
unigram counts, map-side combined). Scoring explodes each document
into its adjacent word pairs and joins the count tables — at CCNet
scale the trained LM is *small* (it comes from a trusted reference
corpus) and both joins broadcast; a self-trained LM at full corpus
scale shuffle-joins on the gram key instead (still narrow: two words +
a long). Per-document aggregation also emits the **integer** count
sums (``n_bigrams``, ``sum_c2``, ``sum_c1``) — those are the exact,
order-insensitive quantities a cross-engine oracle should hash; the
float score columns (``avg_neg_logp``, ``ppl``) are for ranking, where
last-digit representation ties between engines are irrelevant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pond_spark.functions.text import _words

__all__ = ["bigram_lm", "perplexity"]


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) for every adjacent word pair; single-word and
    empty documents contribute no rows."""
    words = df.select(F.col(id_col), _words(F.col(text_col)).alias("_w"))
    pairs = words.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("_w") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("_w") - 2),
                    lambda i: F.struct(
                        F.element_at("_w", i + 1).alias("w1"),
                        F.element_at("_w", i + 2).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("_p"),
    )
    return pairs.select(id_col, "_p.w1", "_p.w2")


def bigram_lm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train: returns (bigram_counts, unigram_counts, vocab) frames —
    ``(w1, w2, c2)``, ``(w1, c1)`` and the 1-row ``(v)`` vocab size.
    All lazy; nothing is collected driver-side."""
    bi = _doc_bigrams(df, text_col, id_col)
    bigrams = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    words = df.select(F.explode(_words(F.col(text_col))).alias("w1"))
    unigrams = words.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = unigrams.agg(F.count(F.lit(1)).alias("v"))
    return bigrams, unigrams, vocab


def perplexity(
    df: DataFrame,
    lm: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document bigram perplexity under ``lm`` (default:
    self-trained on ``df``).

    Returns ``(id, n_bigrams, avg_neg_logp, ppl)``; documents with no
    bigram get NULL scores.
    """
    if lm is not None:
        bigrams, unigrams, vocab = lm
        pairs = _doc_bigrams(df, text_col, id_col)
    else:
        # self-trained: pin the (vocab-sized) unigram table, which
        # feeds both the vocab count and the scoring join (r11, guide
        # §2.4; session pin, cleared by loop drivers — the ngram-pin
        # contract). The wide (id, w1, w2) pairs frame is deliberately
        # NOT persisted: materializing three string columns costs more
        # than recomputing the explode for the bigram-count branch
        # (measured 1.2-1.4x slower persisted, solo A/B at sf0.1).
        pairs = _doc_bigrams(df, text_col, id_col)
        bigrams = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
        words = df.select(F.explode(_words(F.col(text_col))).alias("w1"))
        unigrams = words.groupBy("w1").agg(
            F.count(F.lit(1)).alias("c1")
        ).persist()
        vocab = unigrams.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        pairs.join(bigrams, on=["w1", "w2"], how="left")
        .join(unigrams, on="w1", how="left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.coalesce(F.col("c2"), F.lit(0)).alias("_c2"),
            F.coalesce(F.col("c1"), F.lit(0)).alias("_c1"),
            F.round(
                F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + alpha)
                    / (
                        F.coalesce(F.col("c1"), F.lit(0)).cast("double")
                        + alpha * F.col("v").cast("double")
                    )
                ),
                9,
            )
            .cast("decimal(28,9)")
            .alias("_logp"),
        )
    )
    # Integer count aggregates (sum_c2/sum_c1 with the vocab size v
    # fully determine the joins behind the score) are the exact,
    # hash-stable quantities; any rounded float — even a per-pair
    # round(ln,6) before a DECIMAL sum — can land on a binary
    # representation tie where two engines disagree in the last digit,
    # so the float score columns stay OUT of the hashed projection.
    # They still go through round→DECIMAL before summation: a raw
    # double sum would make the user-facing ppl depend on partition
    # arrival order (double addition is non-associative), i.e. the
    # same job could print a different last digit run to run.
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("_c2").alias("sum_c2"),
        F.sum("_c1").alias("sum_c1"),
        F.sum("_logp").alias("_sum_logp"),
    )
    avg_neg = -F.col("_sum_logp").cast("double") / F.col("n_bigrams").cast(
        "double"
    )
    out = agg.select(
        F.col(id_col),
        F.col("n_bigrams"),
        F.col("sum_c2"),
        F.col("sum_c1"),
        F.round(avg_neg, 6).alias("avg_neg_logp"),
        F.round(F.exp(avg_neg), 6).alias("ppl"),
    )
    # keep every input document: bigram-less docs get NULL scores
    return (
        df.select(id_col)
        .join(out, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.col("sum_c2"), F.lit(0)).alias("sum_c2"),
            F.coalesce(F.col("sum_c1"), F.lit(0)).alias("sum_c1"),
            "avg_neg_logp",
            "ppl",
        )
    )

"""Benchmark decontamination: n-gram overlap against an eval set.

Standard training-data hygiene (GPT-3 appendix C / PaLM / Llama data
cards all describe the same shape): a document is *contaminated* when
it shares at least ``min_hits`` distinct word n-grams with any document
of a held-out evaluation set. The eval side is small by construction
(benchmarks are thousands of rows, the corpus is billions), so the
Spark plan is the one you want at 100 TB:

- eval grams: distinct n-gram strings of the eval set — a few MB —
  collected into a **broadcast** hash relation;
- corpus side: explode each document's distinct grams, semi-join the
  broadcast (no shuffle of corpus data at all), then one groupBy on
  ``id_col`` counting surviving grams — the only shuffle, and it only
  carries (id, gram-hit) rows that actually matched, which is tiny for
  a mostly-clean corpus. ``decontaminate`` at ``min_hits <= 1`` needs
  no count: it anti-joins the semi-join's ids directly.

Tokenization matches dedup.ngram (lower, trim, split on whitespace,
grams joined by a single space) so the DuckDB oracle can replay the
gram construction verbatim.

Reference parity note: the reference engine has no decontamination
operator (CM4all/pond is a log store); this extends the training-data
curation surface alongside dedup/* per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pond_spark.util import fan_out


def _gram_strings(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, gram): exploded distinct word n-grams as strings."""
    # stage the split once — an inline split inside the gram lambda is
    # re-derived per position (HOF-vs-CSE trap, PERF_NOTES.md)
    staged = fan_out(df).select(
        F.col(id_col),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_t"),
    )
    toks = F.col("_t")
    if n == 1:
        grams = toks
    else:
        # <n words -> zero n-grams (a floored sequence would fabricate
        # one partial gram and make every short doc 'contaminated' by
        # any eval doc sharing its words — the r6 _word_ngrams fix)
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("gram")
    )


def _hit_grams(
    corpus: DataFrame, eval_set: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, gram) for every distinct corpus gram found in the eval set:
    the corpus grams semi-joined against the broadcast eval grams."""
    eval_grams = (
        _gram_strings(eval_set, text_col, id_col, n)
        .select("gram")
        .distinct()
    )
    doc_grams = _gram_strings(corpus, text_col, id_col, n)
    return doc_grams.join(F.broadcast(eval_grams), "gram", "left_semi")


def contamination_report(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Per contaminated corpus document: distinct eval grams it contains.

    Returns ``(id_col, hit_grams)`` with ``hit_grams >= min_hits``.
    Corpus documents that are also in the eval set are the caller's
    concern (pass a pre-filtered corpus, as ``decontaminate`` does).
    """
    hits = (
        _hit_grams(corpus, eval_set, text_col, id_col, n)
        .groupBy(id_col)
        .agg(F.count("gram").alias("hit_grams"))
    )
    return hits.filter(F.col("hit_grams") >= min_hits)


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """The corpus minus contaminated documents. At ``min_hits <= 1`` any
    hit contaminates, so the hit ids are anti-joined without the
    per-document count."""
    if min_hits <= 1:
        hits = _hit_grams(corpus, eval_set, text_col, id_col, n)
    else:
        hits = contamination_report(
            corpus, eval_set, text_col, id_col, n=n, min_hits=min_hits
        )
    return corpus.join(hits.select(id_col), id_col, "left_anti")

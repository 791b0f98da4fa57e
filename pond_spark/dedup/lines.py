"""Corpus-level line / paragraph deduplication (CCNet-style).

Training-data pipelines strip boilerplate by removing *lines* (or
paragraphs) that recur across many documents — navigation chrome,
cookie banners, license headers — while keeping each document's unique
prose (Wenzek et al., "CCNet", LREC 2020 §3.1).

Scale notes (100 TB): the corpus-wide duplicate-line table is built by
grouping on a 64-bit ``xxhash64`` of the line, never the line text —
the shuffle carries (8 B key, doc-count partial) pairs with map-side
combine. The strip phase joins the exploded lines against that table
on the same narrow key; reassembly is one ``groupBy(doc_id)`` with an
order-preserving sort inside the aggregation buffer (no window, no
second shuffle of full text). Three shuffles total, all on narrow
keys, independent of document size.

Line splitting is delimiter-generic. For corpora whose documents carry
no newlines (the synthetic ``documents`` fixture is single-line), the
``chunk_paragraphs`` helper materializes fixed-width word chunks as
pseudo-paragraphs so the same machinery — and its oracle — still
exercises split → count → strip → reassemble end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pond_spark.util import pin

__all__ = [
    "split_lines",
    "chunk_paragraphs",
    "duplicate_line_table",
    "strip_duplicate_lines",
]


def split_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
) -> DataFrame:
    """Explode ``text_col`` into ``(id, pos, line)`` rows.

    ``pos`` is the 0-based line index inside the document — kept so the
    surviving lines can be reassembled in original order.
    """
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(delimiter), -1)).alias(
            "pos", "line"
        ),
    )


def chunk_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_chunk: int = 4,
) -> DataFrame:
    """``(id, pos, line)`` where each line is a fixed-width word chunk.

    Built with one ``transform`` over a ``sequence`` + ``slice`` — a
    single explode, fully whole-stage-codegen; no double explode or
    groupBy re-assembly of the chunks themselves.
    """
    n = words_per_chunk
    # stage the split once — inline, the lambda re-derives it per
    # chunk position (HOF-vs-CSE trap, PERF_NOTES.md)
    staged = df.select(
        F.col(id_col), F.split(F.col(text_col), F.lit(" "), -1).alias("_ws")
    )
    ws = F.col("_ws")
    chunks = F.transform(
        F.sequence(F.lit(0), F.floor((F.size(ws) - F.lit(1)) / F.lit(n))),
        lambda i: F.array_join(F.slice(ws, i * n + 1, n), " "),
    )
    return staged.select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "line")
    )


def duplicate_line_table(
    lines: DataFrame, id_col: str = "doc_id", min_docs: int = 2
) -> DataFrame:
    """Hashes of lines occurring in ≥ ``min_docs`` distinct documents.

    Returns ``(line_hash, n_docs)``. The count is over *distinct*
    documents so a line repeated inside one document does not count as
    corpus-level boilerplate.
    """
    return (
        lines.select(
            F.xxhash64(F.col("line")).alias("line_hash"), F.col(id_col)
        )
        .groupBy("line_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= F.lit(min_docs))
    )


def strip_duplicate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_docs: int = 2,
    words_per_chunk: int | None = None,
) -> DataFrame:
    """Remove corpus-duplicated lines; reassemble surviving text.

    Returns ``(id, text_clean, n_lines, n_removed)`` for *every* input
    document — a document whose lines are all boilerplate survives with
    ``text_clean = ''`` (the caller decides whether to drop empties, as
    CCNet does with a length floor).
    """
    if words_per_chunk is not None:
        lines = chunk_paragraphs(df, text_col, id_col, words_per_chunk)
    else:
        lines = split_lines(df, text_col, id_col, delimiter)
    # the line frame feeds the duplicate table, the anti-join AND the
    # per-doc totals; persist so the split/chunk explode runs once
    # (guide §2.4 — no cross-branch CSE). Lifecycle: a util.pin, the
    # ngram-pin contract.
    lines = pin(lines.withColumn("line_hash", F.xxhash64(F.col("line"))))
    dup = duplicate_line_table(lines, id_col, min_docs)
    kept = lines.join(dup, on="line_hash", how="left_anti")
    sep = " " if words_per_chunk is not None else delimiter
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line,
            ),
            sep,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    # anchor on the INPUT ids, not the exploded lines: a NULL-text doc
    # produces zero line rows (split(NULL) explodes to nothing) and
    # would otherwise vanish, breaking the every-input-document
    # contract (same left-join shape substr.strip_duplicate_spans
    # uses; r4 review finding)
    return (
        df.select(F.col(id_col))
        .distinct()
        .join(totals, on=id_col, how="left")
        .join(reassembled, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            (
                F.coalesce(F.col("n_lines"), F.lit(0))
                - F.coalesce(F.col("n_kept"), F.lit(0))
            ).alias("n_removed"),
        )
    )

"""Persisted full-text (BM25) postings index — the lexical twin of the
IVF vector index (similarity/index.py): build once, search many times,
append without rebuilding, and make every search read ONLY the slivers
of the index its query terms live in.

Layout (segment directories + a JSON meta sidecar — the Lucene shape
re-expressed as parquet partitioning):

- ``build_text_index()`` tokenizes once and writes posting rows
  ``(word, doc_id, tf, dl)`` as ``segment-000000``, partitioned by
  ``word_bucket = pmod(xxhash64(word), n_buckets)`` and
  ``sortWithinPartitions(word)``. ``dl`` (doc length) is denormalized
  per row — a per-doc immutable stat, so it can never go stale.
- ``df`` (document frequency) and the corpus scalars are NOT baked
  into the postings: ``df`` is computed at query time from the pruned
  postings themselves (only the query terms' rows — a vocab-of-query
  sized aggregate), and (n_docs, sum_dl) are summed from the
  per-segment meta. That is what makes ``append()`` exact: a new
  segment never invalidates an old one.
- ``search()`` unions the segments, prunes ``word_bucket IN (...)``
  (partition filter — unread directories are never opened,
  plan-asserted in tests), filters ``word IN (...)`` (row-group
  skipping via the within-bucket sort), computes df with one narrow
  word-keyed aggregate over the matches, and scores with the SAME
  integer-quantized contribution expression as functions/bm25.py
  (identical literals and operation order — equal results by
  construction, asserted in tests and oracle-checked).
- ``append()`` = build over the new documents → next segment + meta
  update. ``compact()`` rewrites all segments as one (small-segment
  merge), changing no result.

At 100 TB: the build is the one full-corpus pass per segment (two
narrow groupBys + one partitioned write); each search touches
O(postings-of-query-terms) rows across segments — independent of
corpus size for selective terms. Zobel & Moffat, "Inverted files for
text search engines", CSUR 2006; no counterpart in the reference
(pond has no text retrieval).
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.catalog import _fs_for, read_replaced_text, replace_text
from pond_spark.functions.bm25 import bm25_contribution_q
from pond_spark.functions.text import _words

__all__ = ["build_text_index", "TextIndex"]

_META = "_text_index_meta.json"


def _next_segment_name(segments: list[dict]) -> str:
    """Strictly-increasing segment ids: max existing id + 1, NEVER the
    list length — after a compact the live segment keeps a high id
    while the list shrinks to 1, so len()-based naming would collide
    with (and overwrite) live data."""
    ids = [int(s["name"].split("-")[1]) for s in segments]
    return f"segment-{(max(ids) + 1 if ids else 0):06d}"


def _write_segment(
    df: DataFrame,
    seg_path: str,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> dict:
    """One corpus pass: postings + per-doc lengths, bucket-partitioned
    write; returns the segment's corpus scalars."""
    w = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_words(F.col(text_col))).alias("word"),
    )
    # persist the aggregated TF relation: it feeds the stats action,
    # the dl aggregate AND the postings join — without the pin the
    # corpus tokenize/explode pipeline re-runs per branch (the build
    # would cost ~2 full passes instead of one)
    tf = (
        w.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    try:
        dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        stats = dl.agg(
            F.sum("dl").alias("sum_dl"), F.count(F.lit(1)).alias("n_docs")
        ).first()
        postings = tf.join(dl, "doc_id").withColumn(
            "word_bucket", F.pmod(F.xxhash64("word"), F.lit(n_buckets))
        )
        if int(stats["n_docs"] or 0) == 0:
            # an EMPTY partitioned write emits no parquet files at all
            # and spark.read.parquet on the directory then fails schema
            # inference, poisoning every later search (r4 review
            # finding). Write the empty frame unpartitioned: a schema-
            # bearing zero-row file the reader unions harmlessly.
            postings.write.mode("overwrite").parquet(seg_path)
        else:
            (
                postings.repartition("word_bucket")
                .sortWithinPartitions("word")
                .write.mode("overwrite")
                .partitionBy("word_bucket")
                .parquet(seg_path)
            )
    finally:
        tf.unpersist()
    return {
        "n_docs": int(stats["n_docs"] or 0),
        "sum_dl": int(stats["sum_dl"] or 0),
    }


def build_text_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> "TextIndex":
    """Create segment-000000 and the meta sidecar."""
    seg = "segment-000000"
    stats = _write_segment(
        df, os.path.join(path, seg), text_col, id_col, n_buckets
    )
    meta = {
        "n_buckets": int(n_buckets),
        # the stored id type — the empty-index search fast path must
        # emit the same doc_id type as a populated search (r6 review)
        "id_type": dict(df.dtypes)[id_col],
        "segments": [{"name": seg, **stats}],
    }
    fs = _fs_for(df.sparkSession, path)
    replace_text(fs, os.path.join(path, _META), json.dumps(meta))
    return TextIndex(df.sparkSession, path)


def _xxhash64_py(spark: SparkSession, words: Sequence[str]) -> list[int]:
    """Driver-side xxhash64 of the query terms via a 1-row expression
    eval — keeps the bucket function defined in exactly ONE place (the
    JVM implementation) instead of re-implementing the hash in
    Python."""
    row = (
        spark.range(1)
        .select(
            *[
                F.xxhash64(F.lit(t)).alias(f"h{i}")
                for i, t in enumerate(words)
            ]
        )
        .first()
    )
    return [row[i] for i in range(len(words))]


class TextIndex:
    """Open a built index; ``search()`` / ``append()`` / ``compact()``
    are the serving surface. Single-writer, like DigestCatalog:
    append/compact are read-then-write with no commit protocol."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.fs = _fs_for(spark, path)
        self._load_meta()

    def _load_meta(self) -> None:
        meta = read_replaced_text(self.fs, os.path.join(self.path, _META))
        self.meta = json.loads(meta)

    def _save_meta(self) -> None:
        # staged + rename: a crash mid-write must not truncate the meta,
        # the source of truth for which segment directories are live
        meta = json.dumps(self.meta)
        replace_text(self.fs, os.path.join(self.path, _META), meta)

    @property
    def n_docs(self) -> int:
        return sum(s["n_docs"] for s in self.meta["segments"])

    @property
    def sum_dl(self) -> int:
        return sum(s["sum_dl"] for s in self.meta["segments"])

    def postings(self) -> DataFrame:
        # one scan per segment, unioned: multi-root partitioned reads
        # trip Spark's partition discovery (CONFLICTING_DIRECTORY_
        # STRUCTURES), and per-segment scans keep partition pruning +
        # row-group skipping on each directory tree independently
        out = None
        for s in self.meta["segments"]:
            seg = self.spark.read.parquet(os.path.join(self.path, s["name"]))
            # normalize the bucket dtype: partition discovery infers
            # int32 from directory names, while an empty (unpartitioned
            # schema-bearing) segment stores the pmod's int64
            seg = seg.withColumn(
                "word_bucket", F.col("word_bucket").cast("int")
            )
            out = seg if out is None else out.unionByName(seg)
        return out

    def append(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> "TextIndex":
        """Index new documents as the next segment — exact, no
        rebuild: df is query-time, dl is per-doc, the corpus scalars
        accumulate in the meta. (Callers own doc-id uniqueness across
        segments, as with any inverted index.)"""
        seg = _next_segment_name(self.meta["segments"])
        stats = _write_segment(
            df,
            os.path.join(self.path, seg),
            text_col,
            id_col,
            int(self.meta["n_buckets"]),
        )
        self.meta["segments"].append({"name": seg, **stats})
        self._save_meta()
        return self

    def compact(self) -> "TextIndex":
        """Merge all segments into one (fewer directories/files to
        open per search) — results unchanged; postings just re-write
        under the same bucketing.

        Crash-safety: the merged segment is written under a NEW
        directory name and the meta (the source of truth for which
        directories are live) flips to it in one sidecar write BEFORE
        the old segment dirs are deleted. A crash mid-compact leaves
        the meta pointing at directories that all still exist — either
        the old list or the new singleton — never at deleted ones;
        stray non-live segment dirs are garbage to re-compact, not
        corruption."""
        old_segments = list(self.meta["segments"])
        n_docs, sum_dl = self.n_docs, self.sum_dl
        seg = _next_segment_name(old_segments)  # ids only grow: unused
        merged = self.postings()
        if n_docs == 0:
            # same guard as _write_segment: an EMPTY partitioned write
            # emits no parquet files and poisons every later read with
            # a schema-inference failure (r4 finding; compact missed
            # the guard until the r6 review)
            merged.write.mode("overwrite").parquet(
                os.path.join(self.path, seg)
            )
        else:
            (
                merged.repartition("word_bucket")
                .sortWithinPartitions("word")
                .write.mode("overwrite")
                .partitionBy("word_bucket")
                .parquet(os.path.join(self.path, seg))
            )
        self.meta["segments"] = [
            {"name": seg, "n_docs": n_docs, "sum_dl": sum_dl}
        ]
        self._save_meta()
        for s in old_segments:
            self.fs.rmtree(os.path.join(self.path, s["name"]))
        return self

    def search(
        self,
        query_terms: Sequence[str],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Top-``k`` ``(doc_id, n_terms, score_q)`` — identical output
        to functions/bm25.bm25_search on the indexed corpus (same
        quantized contribution expression, same ordering)."""
        if not query_terms:
            raise ValueError("search needs at least one query term")
        terms = [t.lower() for t in query_terms]
        if self.n_docs == 0:
            # an empty index has no postings AND no avgdl (the ANSI
            # division would raise) — the correct result is simply
            # empty, with the search's output schema (doc_id typed as
            # the STORED id so both branches union cleanly; 'long'
            # covers metas written before id_type existed)
            id_t = self.meta.get("id_type", "long")
            return self.spark.createDataFrame(
                [], f"doc_id {id_t}, n_terms long, score_q long"
            )
        nb = int(self.meta["n_buckets"])
        hashes = _xxhash64_py(self.spark, terms)
        buckets = sorted({h % nb for h in hashes})

        n_docs = F.lit(int(self.n_docs))
        avgdl = F.lit(float(self.sum_dl)) / n_docs
        p = (
            self.postings()
            # partition filter first (directories pruned), then the
            # row-group-skippable residual on the sorted word column
            .filter(F.col("word_bucket").isin(buckets))
            .filter(F.col("word").isin(terms))
        )
        # query-time df: one narrow aggregate over ONLY the matching
        # postings (vocab-of-query rows out) — never stale on append
        dfc = p.groupBy("word").agg(
            F.count_distinct(F.col("doc_id")).alias("df")
        )
        p = p.join(F.broadcast(dfc), "word")
        # THE shared scoring definition (bm25.bm25_contribution_q) —
        # exact equality with bm25_search holds by construction
        contrib_q = bm25_contribution_q(
            F.col("tf"), F.col("df"), F.col("dl"), n_docs, avgdl, k1, b
        )
        return (
            p.select("doc_id", contrib_q.alias("cq"))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("cq").alias("score_q"),
            )
            .orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
            .limit(k)
        )

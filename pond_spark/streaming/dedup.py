"""Streaming deduplication — the live twin of dedup/exact.py.

A training-data ingest stream (crawler output, log tail) re-delivers
content: retried fetches, mirrored pages, at-least-once sources.
Structured Streaming's ``dropDuplicatesWithinWatermark`` keeps a state
store keyed by the dedup key and discards re-arrivals while the
watermark allows — state is evicted once an entry ages past the
watermark, so memory is bounded by (arrival rate × watermark), not by
stream history.

Scale notes: the state store is hash-partitioned on the dedup key
across executors — the same narrow-key sharding as the batch digest
groupBy. Keying on ``sha2(text)`` instead of the text keeps both the
shuffle and the per-entry state ~32 B. For exactly-once across
restarts, run the sink with a checkpoint location; the state store
recovers from it.

Batch/stream parity: ``dedup_key`` is exactly the batch digest
(dedup/exact.py), so a document admitted by the stream and one kept
by the batch job agree on identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["dedup_key", "dedup_stream"]


def dedup_key(text_col: str = "text") -> F.Column:
    """The canonical content identity: sha2-256 of the raw text (same
    digest as the batch exact-dedup path)."""
    return F.sha2(F.col(text_col), 256)


def dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "timestamp",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Drop re-deliveries of already-seen content from a stream.

    Uses ``dropDuplicatesWithinWatermark``: duplicates are suppressed
    as long as their event times fall within the watermark delay of
    the first arrival, and state is evicted afterwards (bounded memory;
    at-least-once re-delivery happens within seconds).
    """
    # NULL-text rows pass through untouched — absent content proves no
    # duplication (batch dedup_exact parity, r7 review fix: the
    # dedup treats NULL keys as EQUAL, so it used to swallow every
    # NULL-text row after the first)
    nulls = stream.filter(F.col(text_col).isNull())
    keyed = (
        stream.filter(F.col(text_col).isNotNull())
        .withColumn("_dedup_key", dedup_key(text_col))
        .withWatermark(ts_col, watermark)
    )
    out = keyed.dropDuplicatesWithinWatermark(["_dedup_key"])
    return out.drop("_dedup_key").unionByName(nulls)

"""Streaming ingest (S1, live): the continuous twin of
``pond_spark.sources.ingest.ingest_batch``.

The reference's receiver loop (/root/reference/src/Receiver.cxx:12-47)
runs forever: datagram → malformed check → rate limit → emplace, with
running counters. Here each micro-batch of raw payloads goes through
the same parse/validate pipeline, the per-site token bucket applies
per batch*, and ``foreachBatch`` hands each micro-batch to
``ingest_batch``, which lands a non-empty batch's one-row metrics file
in a metrics directory — the durable form of the reference's in-memory counters
(src/Instance.cxx:51-62), folded by ``operators.stats.ingest_stats`` —
before the survivors are appended to the ``LogStore``.

*The bucket here replays per batch (each micro-batch starts from a
full burst) — use ``rate_limit_stream`` upstream of this sink when
cross-batch bucket state matters; ``foreachBatch`` itself cannot host
``applyInPandasWithState`` (it sees plain batch frames).

Scale notes: the sink path is the store's write discipline
(date-partitioned, range-distributed, site-sorted); each non-empty
batch writes one small metrics file, with no Spark job (an empty batch
writes none). Nothing compacts the metrics directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pond_spark.sources.ingest import ingest_batch
from pond_spark.sources.store import LogStore


def ingest_stream(
    raw_stream: DataFrame,
    store: LogStore,
    metrics_dir: str,
    checkpoint_dir: str,
    payload_col: str = "payload",
    rate: float = 0.0,
):
    """Wire a raw-payload stream into the store. Returns the started
    StreamingQuery; callers own its lifecycle."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        res = ingest_batch(
            batch_df,
            payload_col=payload_col,
            rate=rate,
            metrics_dir=metrics_dir,
            batch_id=batch_id,
        )
        if res.n_received:
            store.append(res.stored)

    return (
        raw_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_metrics(spark: SparkSession, metrics_dir: str) -> DataFrame:
    return spark.read.parquet(metrics_dir)

"""Streaming per-site rate limiting (T6) — the live-ingest twin of
``pond_spark.sources.ingest.rate_limit``.

The reference applies its token bucket continuously at ingest
(/root/reference/src/Database.cxx:106-149); the batch operator replays
it per frame. For a live stream the bucket state (tokens, last refill
time) must survive across micro-batches, which is exactly
``applyInPandasWithState``: state is keyed by site, each micro-batch's
records for that site arrive as Arrow frames, and the updated bucket is
checkpointed with the query.

Semantics (identical to batch + reference test
test/TestDatabase.cxx:425-496): capacity ``burst`` (default 10·rate),
refill ``rate`` tokens/s by event time, one token per accepted
message-type record; non-message records and siteless messages are
exempt. Rows gain ``_discarded``.

Scale notes: state is two scalars per site (bounded key space —
the reference dimensions its per-site hash for 64k sites); the
stateful stage shuffles only message-type records on the site key.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pond_spark.sources.ingest import split_charged, token_bucket
from pond_spark.streaming.conf import set_state_partitions


def rate_limit_stream(
    sdf: DataFrame,
    rate: float,
    burst: float | None = None,
    site_col: str = "site",
    type_col: str = "type",
    message_type: str = "http_error",
    state_partitions: int | None = None,
) -> DataFrame:
    """Apply the per-site token bucket to a streaming DataFrame.
    ``state_partitions`` sizes the state-store partition count for
    this stream (sets the session's shuffle partitions, captured at
    query start and pinned by the checkpoint — streaming/conf.py)."""
    if rate <= 0:
        return sdf.withColumn("_discarded", F.lit(False))
    # only the stateful path sizes state partitions (rate<=0 builds
    # a stateless passthrough with nothing to size)
    set_state_partitions(sdf.sparkSession, state_partitions)
    cap = burst if burst is not None else 10.0 * rate

    out_schema = T.StructType(
        sdf.schema.fields + [T.StructField("_discarded", T.BooleanType())]
    )
    state_schema = T.StructType(
        [
            T.StructField("tokens", T.DoubleType()),
            T.StructField("last_us", T.LongType()),  # null = no timestamp yet
        ]
    )

    def bucket(
        key: Tuple,
        frames: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tokens, last_us = state.get
        else:
            tokens, last_us = float(cap), None
        # concatenate the group's frames BEFORE sorting: Arrow splits a
        # large group into multiple frames in no guaranteed order, so a
        # per-frame sort would process a later-frame-but-earlier-ts
        # event against an already-advanced clock (the cusum_stream
        # frame-order lesson). One concat = exact (ts, id) order
        # within the micro-batch; rows are pre-filtered to charged
        # ones, so every row pays a token.
        parts = [p for p in frames if len(p)]
        if not parts:
            state.update((float(tokens), last_us))
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            ["timestamp", "id"], na_position="first"
        )
        flags, tokens, last_us = token_bucket(
            pdf["timestamp"], tokens, last_us, rate, cap
        )
        pdf = pdf.copy()
        pdf["_discarded"] = flags
        state.update((float(tokens), last_us))
        yield pdf

    charged, exempt = split_charged(sdf, site_col, type_col, message_type)
    limited = charged.groupBy(site_col).applyInPandasWithState(
        bucket, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return limited.unionByName(exempt)

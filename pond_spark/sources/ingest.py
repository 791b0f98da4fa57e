"""Ingest pipeline (S1/S2 + T6): parse → validate → rate-limit → append.

Reference behavior reproduced:

- **malformed counting** (/root/reference/src/Receiver.cxx:12-47):
  datagrams that fail to parse — or hit the 4096-byte truncation guard
  (/root/reference/src/Instance.hxx:45) — are counted, not stored.
- **per-site rate limiting** (/root/reference/src/Database.cxx:106-149,
  test/TestDatabase.cxx:425-496): a token bucket (rate r/s, burst 10·r)
  applied ONLY to "message" records (type == http_error) that carry a
  site; no-site messages are exempt; non-message records always pass.
  Discards are counted (n_discarded).

The token bucket is inherently sequential per site, so it runs as
``applyInPandas`` grouped by site — each site's records are processed
in (timestamp, id) order inside one Arrow batch stream while sites
parallelize across the cluster. This is the textbook case for the
Pandas slow path: genuinely order-dependent state that built-in
operators can't express.
"""

from __future__ import annotations

import io
import uuid
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pond_spark.catalog import _fs_for
from pond_spark.schema import LOG_SCHEMA

MAX_DATAGRAM_SIZE = 4096  # src/Instance.hxx:45


def parse_datagrams(raw: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse a frame of raw JSON-encoded datagrams into the log schema,
    flagging malformed rows (``_malformed``) instead of dropping them —
    the caller counts then filters, mirroring the receiver's counters.

    The reference's wire format is libcommon's binary TLV; our
    transport encoding is JSON lines (the content, not the bytes, is
    the contract). Truncation guard: payloads of exactly
    MAX_DATAGRAM_SIZE bytes are malformed (truncated datagrams,
    src/Receiver.cxx:27-31).
    """
    p = F.col(payload_col)
    parsed = raw.withColumn("_rec", F.from_json(p.cast("string"), LOG_SCHEMA))
    return parsed.withColumn(
        "_malformed",
        p.isNull()
        | (F.length(p.cast("binary")) >= MAX_DATAGRAM_SIZE)
        | F.col("_rec").isNull()
        | F.col("_rec.id").isNull(),
    )


def token_bucket(
    timestamps, tokens: float, last_us: int | None, rate: float, cap: float
) -> tuple[list[bool], float, int | None]:
    """One site's token-bucket pass over its charged rows, in (ts, id)
    order; every row pays a token. Returns (discarded flags, tokens,
    last_us). ``last_us`` is the refill clock in epoch microseconds
    (None before the first timestamp): a null timestamp leaves it
    alone, and it only advances — a late event must not rewind it, or
    the next on-time event would re-credit refill time already granted
    (the streaming twin carries the clock across micro-batches, where
    sorting cannot reach)."""
    flags = []
    for ts in timestamps:
        if ts is not None and not pd.isna(ts):
            now_us = int(ts.value // 1000)
            if last_us is None:
                last_us = now_us
            elif now_us > last_us:
                tokens = min(cap, tokens + rate * (now_us - last_us) / 1e6)
                last_us = now_us
        if tokens >= 1.0:
            tokens -= 1.0
            flags.append(False)
        else:
            flags.append(True)
    return flags, tokens, last_us


def split_charged(
    df: DataFrame, site_col: str, type_col: str, message_type: str
) -> tuple[DataFrame, DataFrame]:
    """``(charged, exempt)``: the rows that pay a token (message-type
    records with a site) and the rest, with ``_discarded`` false. Both
    token buckets (this module's and ``rate_limit_stream``) split here.

    The two must PARTITION the frame under SQL three-valued logic: with
    a NULL type, (type == msg) is NULL, so both a plain filter and its
    ~negation exclude the row — it would silently vanish from the
    union. coalesce(..., False) makes the condition two-valued; exempt
    is then its exact complement."""
    is_charged = F.coalesce(
        (F.col(type_col) == message_type) & F.col(site_col).isNotNull(),
        F.lit(False),
    )
    exempt = df.filter(~is_charged).withColumn("_discarded", F.lit(False))
    return df.filter(is_charged), exempt


def rate_limit(
    df: DataFrame,
    rate: float,
    burst: float | None = None,
    site_col: str = "site",
    type_col: str = "type",
    message_type: str = "http_error",
    ts_col: str = "timestamp",
    id_col: str = "id",
) -> DataFrame:
    """Apply the per-site token bucket; appends ``_discarded``.

    Bucket: capacity ``burst`` (default 10·rate, src/Config.cxx:96-97),
    refill ``rate`` tokens/s, one token per accepted message record.
    Only message-type records with a non-null site are charged.
    """
    if rate <= 0:
        return df.withColumn("_discarded", F.lit(False))
    for c in (site_col, type_col, ts_col, id_col):
        if c not in df.columns:
            # fail on the driver with the column named — a missing
            # column would otherwise surface as an opaque KeyError
            # inside the Arrow worker on an executor
            raise ValueError(f"rate_limit: input has no column {c!r}")
    burst = burst if burst is not None else 10.0 * rate

    def bucket(key, pdf):
        # one pandas frame per site group, processed in (ts, id) order
        # — the token bucket is sequential by construction. Rows here
        # are pre-filtered to charged ones (type == message_type with
        # a site), so every row pays a token.
        pdf = pdf.sort_values([ts_col, id_col], na_position="first")
        flags, _, _ = token_bucket(pdf[ts_col], burst, None, rate, burst)
        pdf = pdf.copy()
        pdf["_discarded"] = flags
        return pdf

    charged, exempt = split_charged(df, site_col, type_col, message_type)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("_discarded", T.BooleanType())]
    )
    limited = charged.groupBy(site_col).applyInPandas(bucket, out_schema)
    return limited.unionByName(exempt)


@dataclass
class IngestResult:
    n_received: int
    n_malformed: int
    n_discarded: int
    stored: DataFrame


#: durable form of the reference's in-memory receiver counters
#: (src/Instance.cxx:51-62) — one row per ingest batch, folded back
#: into STATS by pond_spark.operators.stats.ingest_stats.
METRICS_SCHEMA = (
    "batch_id long, n_received long, n_malformed long, n_discarded long"
)


def _write_metrics_row(
    spark: SparkSession, metrics_dir: str, row: tuple[int, ...]
) -> None:
    """Land one METRICS_SCHEMA row as a Parquet file built in memory —
    four longs need no Spark job. The file is written under a
    ``_``-prefixed name, which Spark's file listing skips, then renamed
    into place, so readers never see a torn file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = [c.split()[0] for c in METRICS_SCHEMA.split(",")]
    table = pa.table({n: pa.array([v], pa.int64()) for n, v in zip(names, row)})
    buf = io.BytesIO()
    pq.write_table(table, buf)
    fs = _fs_for(spark, metrics_dir)
    fs.mkdirs(metrics_dir)
    base, name = metrics_dir.rstrip("/"), f"part-{uuid.uuid4()}.parquet"
    fs.write_bytes(f"{base}/_{name}", buf.getvalue())
    fs.rename(f"{base}/_{name}", f"{base}/{name}")


def ingest_batch(
    raw: DataFrame,
    payload_col: str = "payload",
    rate: float = 0.0,
    metrics_dir: str | None = None,
    batch_id: int = 0,
) -> IngestResult:
    """Full S1 pipeline on a batch of raw datagrams; returns counters
    (the STATS inputs, src/Instance.cxx:51-62) plus the storable rows.

    With ``metrics_dir`` set, a non-empty batch's counters also land as
    one small parquet file of one row (METRICS_SCHEMA), written without
    a Spark job — the persistent ingest-metrics table that gives STATS
    its n_received/n_malformed/n_discarded parity across restarts (the
    reference keeps them in process memory). A crash mid-write leaves at
    most one hidden ``_part-*.parquet`` staged file, which readers skip.
    An empty batch writes nothing."""
    # a malformed datagram has no record: its null type and site exempt
    # it from the bucket, so it never takes a token
    records = parse_datagrams(raw, payload_col).select(
        F.when(~F.col("_malformed"), F.col("_rec")).alias("_rec"), "_malformed"
    ).select("_rec.*", "_malformed")
    # the eager checkpoint is the one pass over the batch: it runs the
    # parse and the token-bucket stage once, the counters are observed
    # on it as rows pass, and `stored` reads it. The lazy one fills
    # inside that same job, so the bucket's charged and exempt branches
    # share one parse instead of each re-reading `raw`. The
    # ContextCleaner frees the lazy one's blocks after return, the eager
    # one's once `stored` is dropped.
    counters = Observation()
    flagged = (
        rate_limit(records.localCheckpoint(eager=False), rate)
        .observe(
            counters,
            F.count(F.lit(1)).alias("n_received"),
            F.count_if("_malformed").alias("n_malformed"),
            F.count_if("_discarded").alias("n_discarded"),
        )
        .localCheckpoint()
    )
    got = counters.get
    n_received, n_malformed, n_discarded = (
        got["n_received"], got["n_malformed"], got["n_discarded"]
    )
    stored = flagged.filter(~F.col("_malformed") & ~F.col("_discarded")).drop(
        "_malformed", "_discarded"
    )
    if metrics_dir is not None and n_received:
        _write_metrics_row(
            raw.sparkSession,
            metrics_dir,
            (batch_id, n_received, n_malformed, n_discarded),
        )
    return IngestResult(n_received, n_malformed, n_discarded, stored)

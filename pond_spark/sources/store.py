"""LogStore — the engine's storage layout for the one log table.

Write discipline (the Spark analog of the reference's index
structures, SURVEY.md §1.4):

- **partition by date** (`p_date=YYYY-MM-DD` derived from timestamp):
  since/until predicates prune whole directories — the skip-deque
  time-seek, at file-system granularity.
- **sort within partitions by (site, timestamp, id)** before write:
  Parquet row-group min/max stats on site and timestamp make both the
  per-site index (Q2) and the time seek effective inside each file.
- **clone (S3)** is a full-table copy job; **inject (S2)** an append.

At 100 TB: date partitioning bounds every time-ranged query to its
days; the site-major sort within files gives row-group pruning for
site-filtered scans without the small-files explosion a
partitionBy(site) would cause at ~50k sites.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pond_spark.schema import LOG_SCHEMA
from pond_spark.timeparse import naive_utc


@contextmanager
def _micros_output(spark: SparkSession):
    """Scope ``outputTimestampType=TIMESTAMP_MICROS`` to one write:
    INT96 (Spark's legacy default) writes no footer min/max statistics,
    which would silently kill both row-group time pruning and
    footer-based retention — but mutating the session conf permanently
    would leak the encoding into unrelated parquet writes elsewhere in
    the same session, so the old value is restored. (Parquet has no
    writer option for the timestamp type.)"""
    key = "spark.sql.parquet.outputTimestampType"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


class LogStore:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def _layout(self, df: DataFrame, num_partitions: int | None = None) -> DataFrame:
        """Partition + sort discipline shared by append, clone and
        compact (``num_partitions`` pins the range-shuffle width for
        compaction's file-size targeting; writers must run under
        ``_micros_output`` so footer min/max statistics exist).

        ``repartitionByRange(p_date, site, timestamp)`` (not
        ``repartition("p_date")``) so a single day spreads over many
        writers — one-task-per-date would serialize a multi-TB day at
        cluster scale — while keeping files within a date covering
        non-overlapping site ranges, which preserves row-group pruning
        for site-filtered scans."""
        np = [num_partitions] if num_partitions else []
        dated = df.withColumn(
            "p_date",
            F.coalesce(
                F.date_format("timestamp", "yyyy-MM-dd"), F.lit("unknown")
            ),
        )
        return dated.repartitionByRange(
            *np, "p_date", "site", "timestamp"
        ).sortWithinPartitions("site", "timestamp", "id")

    def append(self, df: DataFrame) -> None:
        """S2 INJECT_LOG_RECORD / ingest append."""
        with _micros_output(self.spark):
            self._layout(df).write.mode("append").partitionBy(
                "p_date"
            ).parquet(self.path)

    def read(self, since=None, until=None) -> DataFrame:
        """Read the store, optionally time-bounded.

        ``since``/``until`` (inclusive datetimes, F5 semantics) are
        applied BOTH as a ``p_date`` predicate — which Catalyst turns
        into partition pruning, the directory-level analog of the
        reference's skip-deque seek — AND as exact timestamp filters
        that push into the row-group stats. Without the derived
        ``p_date`` bound, a timestamp filter alone would scan every
        date directory. The 'unknown' partition (null timestamps) is
        excluded whenever a time bound is set: records without a
        timestamp fail a configured range (Filter.hxx:26-48). Aware
        bounds are converted to naive UTC first: ``p_date`` is the UTC
        date, and an aware value's own-zone date can miss a directory.
        """
        since, until = naive_utc(since), naive_utc(until)
        # copy — StructType.add would mutate the shared LOG_SCHEMA
        schema = T.StructType(
            LOG_SCHEMA.fields + [T.StructField("p_date", T.StringType())]
        )
        df = self.spark.read.schema(schema).parquet(self.path)
        if since is not None:
            df = df.filter(
                (F.col("p_date") >= since.strftime("%Y-%m-%d"))
                & (F.col("p_date") != "unknown")
                & (F.col("timestamp") >= F.lit(since))
            )
        if until is not None:
            df = df.filter(
                (F.col("p_date") <= until.strftime("%Y-%m-%d"))
                & (F.col("p_date") != "unknown")
                & (F.col("timestamp") <= F.lit(until))
            )
        return df.drop("p_date")

    def clone_from(self, other: "LogStore") -> None:
        """S3 CLONE (/root/reference/src/Clone.cxx:20-127): wholesale
        copy; clear-on-first-record → overwrite semantics."""
        df = other.read()
        with _micros_output(self.spark):
            (
                self._layout(df)
                .write.mode("overwrite")
                .partitionBy("p_date")
                .parquet(self.path)
            )

    def retain(
        self,
        max_age=None,
        max_bytes: int | None = None,
        now=None,
    ):
        """Ring-buffer + max_age eviction for the partitioned store
        (SURVEY.md §1.3): file-granular drops inside p_date dirs,
        emptied date directories pruned."""
        from pond_spark.sources.retention import apply_retention

        return apply_retention(
            self.path,
            max_age=max_age,
            max_bytes=max_bytes,
            now=now,
            spark=self.spark,
        )

    def compact(self, target_file_bytes: int = 128 << 20) -> dict[str, int]:
        """The reference's hourly ``Compress()`` analog
        (/root/reference/src/Instance.hxx:47, src/Database.cxx:76-89 —
        shrink-to-fit + GC of empty per-site lists): rewrite date
        partitions whose file count exceeds what their byte size needs,
        restoring the (site, timestamp, id) sort in the process.

        Returns {p_date: files_removed}. Uses dynamic partition
        overwrite (compact_partition_dirs — the skeleton shared with
        the IVF index's list compaction) so only touched dates are
        rewritten.
        """
        from pond_spark.util import compact_partition_dirs

        def rewrite(pdate: str, pdir: str, want: int) -> None:
            df = self.spark.read.schema(LOG_SCHEMA).parquet(pdir)
            # _layout re-derives p_date from the rows' timestamps,
            # which equals this directory's pdate by construction
            (
                self._layout(df, num_partitions=want)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("p_date")
                .parquet(self.path)
            )

        # _micros_output hoisted around the WHOLE pass (r11): session
        # conf is process-global, and the guide-§2.6 overlapped
        # rewrites below would otherwise race one thread's restore
        # against another's write — the INT96 fallback silently drops
        # the footer stats retention depends on. One save/restore,
        # identical encoding per file as before.
        with _micros_output(self.spark):
            return compact_partition_dirs(
                self.spark,
                self.path,
                "p_date=*",
                rewrite,
                target_file_bytes,
                # independent date dirs: 3 jobs in flight back-fill
                # each other's straggler tails (guide §2.6)
                max_workers=3,
            )


def auto_clone(
    store: "LogStore", candidate_paths: list[str]
) -> str | None:
    """S4 auto-clone, minus the Zeroconf hop (the reference discovers
    peers over mDNS and is a deployment concern — SURVEY §2.1; here
    candidates are passed explicitly). The selection rule IS the
    reference's (/root/reference/src/AutoClone.cxx:45-362): ask every
    peer for its STATS, pick the one holding the most records, clone
    wholesale from it; peers that fail the probe are skipped exactly
    as the reference skips peers that fail STATS. Returns the chosen
    path, or None when no candidate is readable/non-empty (the
    reference gives up and keeps its own DB)."""
    best_path, best_n = None, 0
    for p in candidate_paths:
        try:
            n = LogStore(store.spark, p).read().count()
        except Exception:  # unreadable peer — skip, like a failed STATS
            continue
        if n > best_n:
            best_path, best_n = p, n
    if best_path is None:
        return None
    store.clone_from(LogStore(store.spark, best_path))
    return best_path

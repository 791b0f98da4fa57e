"""Retention job — the Spark-storage analog of the reference's ring
buffer + max_age reaper (SURVEY.md §1.3).

The reference evicts oldest-first when the arena fills
(/root/reference/src/Database.cxx:31-51, test/TestDatabase.cxx:61-70)
and reaps records older than ``max_age`` once a minute
(/root/reference/src/Instance.cxx:34,190-203). With Parquet the
granularity is the file: drop whole files whose newest timestamp is
too old (max_age) and then oldest-first until under the size budget.

File-level min/max come from the Parquet footers (no data scan), so the
job's cost is O(#files). Readers get snapshot isolation per query (the
file listing is fixed at planning time) — strictly stronger than the
reference's live-cursor FixDeleted repair (src/Cursor.cxx:8-16).

Storage routing (round-9 #1): scheme-less paths list via glob/os (the
fast local path); schemed stores (hdfs://, file:, s3a://…) route
through the Hadoop FileSystem API, with footer stats read over a
seekable Py4J stream (catalog._JStreamReader) — still O(1) small reads
per file, never a data scan. Schemed paths need a SparkSession (the
active one is picked up, or pass ``spark=``).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from pond_spark.timeparse import naive_utc


@dataclass
class RetentionReport:
    dropped_age: list[str]
    dropped_size: list[str]
    remaining_bytes: int


def _file_stats(fs, path: str) -> tuple[int, dt.datetime | None]:
    """(bytes, max timestamp) from the parquet footer, via the store's
    filesystem primitives (local open or Hadoop stream)."""
    import pyarrow.parquet as pq

    size = fs.size(path)
    try:
        with fs.open_read(path) as f:
            md = pq.ParquetFile(f).metadata
            newest = None
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for c in range(row_group.num_columns):
                    col = row_group.column(c)
                    if col.path_in_schema not in ("timestamp", "ts"):
                        continue
                    stats = col.statistics
                    if stats is not None and stats.has_min_max:
                        mx = stats.max
                        if isinstance(mx, dt.datetime):
                            mx = naive_utc(mx)  # TIMESTAMP_MICROS is UTC-adjusted
                            if newest is None or mx > newest:
                                newest = mx
            return size, newest
    except Exception:
        return size, None


def apply_retention(
    store_dir: str,
    max_age: dt.timedelta | None = None,
    max_bytes: int | None = None,
    now: dt.datetime | None = None,
    spark=None,
) -> RetentionReport:
    """Drop aged files, then oldest-first down to the size budget.

    Works on local paths AND schemed stores: the listing, footer stats
    and deletes all go through the path's filesystem
    (catalog._fs_for_maintenance) — an hdfs:// store is reaped for
    real, not silently skipped (the r7/r8 silent-no-op bug class)."""
    from pond_spark.catalog import _fs_for_maintenance

    fs = _fs_for_maintenance(store_dir, spark)
    # file stats are naive-UTC; an aware `now` (the modern
    # datetime.now(timezone.utc) idiom) would make the age compare
    # raise TypeError — normalize instead of crashing the reaper
    now = naive_utc(now or dt.datetime.utcnow())
    # flat layouts and LogStore's p_date=… partition dirs both retain
    # at file granularity; emptied partition dirs are pruned afterwards
    safe_dir = fs.glob_escape(store_dir)
    files = sorted(
        fs.glob(os.path.join(safe_dir, "*.parquet"))
        + fs.glob(os.path.join(safe_dir, "p_date=*", "*.parquet"))
    )
    stats = {f: _file_stats(fs, f) for f in files}

    dropped_age: list[str] = []
    if max_age is not None:
        cutoff = now - max_age
        for f in files:
            _, newest = stats[f]
            if newest is not None and newest < cutoff:
                dropped_age.append(f)
    # SET membership for the per-file scans: list membership made the
    # reaper O(files * dropped) — quadratic at the ~800k-file counts
    # the module is dimensioned for (r6 review finding)
    dropped_age_set = set(dropped_age)
    live = [f for f in files if f not in dropped_age_set]

    dropped_size: list[str] = []
    if max_bytes is not None:
        total = sum(stats[f][0] for f in live)
        # oldest-first (ring-buffer eviction order): sort by newest ts,
        # files without stats considered oldest
        by_age = sorted(
            live, key=lambda f: (stats[f][1] or dt.datetime.min)
        )
        for f in by_age:
            if total <= max_bytes:
                break
            dropped_size.append(f)
            total -= stats[f][0]

    for f in dropped_age + dropped_size:
        fs.remove(f)
    for d in fs.glob(os.path.join(safe_dir, "p_date=*")):
        if not fs.glob(os.path.join(fs.glob_escape(d), "*.parquet")):
            # only checksum/marker droppings remain — clear them
            for leftover in fs.listdir(d):
                fs.remove(os.path.join(d, leftover))
            fs.rmdir(d)

    dropped_all = dropped_age_set | set(dropped_size)
    remaining = sum(stats[f][0] for f in files if f not in dropped_all)
    return RetentionReport(dropped_age, dropped_size, remaining)

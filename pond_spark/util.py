"""Shared plan utilities."""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_scopes = threading.local()


def pin(df: DataFrame) -> DataFrame:
    """``df.persist()``, released when the innermost :func:`pin_scope`
    open in this thread exits. Outside any scope the pin lives for the
    session: the CacheManager holds persisted frames strongly, so only
    ``unpersist``/``clearCache`` drops it."""
    df = df.persist()
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


@contextmanager
def pin_scope():
    """Unpersist every frame :func:`pin` pinned inside the block when it
    exits. A kept pin is matched to later plans by their scan's root
    paths, so a rewritten input would reuse the old pin's rows."""
    if not hasattr(_scopes, "stack"):
        _scopes.stack = []
    pins: list[DataFrame] = []
    _scopes.stack.append(pins)
    try:
        yield
    finally:
        _scopes.stack.pop()
        for df in pins:
            df.unpersist()


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Guarantee minimum parallelism for CPU-heavy per-row stages.

    A small input (one Parquet file → one split) otherwise pins an
    expensive map stage — shingling, fingerprinting, vector scoring,
    media decoding — to a single core. When the scan's file count is
    below the cluster's default parallelism, repartition up; on a real
    cluster where splits already exceed cores this is a no-op. On a
    small input the shuffle is not free: decontamination without it
    was faster on a one-file 600-doc stage input, but slower on the
    one-file 5000-doc sf0.1 documents, so it stays (PERF_NOTES.md,
    "Curation in fewer jobs").

    The probe uses ``df.inputFiles()`` — pure metadata. Checking
    ``df.rdd.getNumPartitions()`` instead would be a trap: with AQE
    enabled, ``.rdd`` eagerly materializes the query stages, silently
    executing the whole upstream plan once per call.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def compact_partition_dirs(
    spark,
    base_path: str,
    partition_glob: str,
    rewrite,
    target_file_bytes: int,
    max_workers: int = 1,
) -> dict:
    """Shared small-file compaction skeleton for partition-dir layouts
    (LogStore date partitions, IVFIndex inverted lists): for each
    directory matching ``partition_glob`` under ``base_path`` whose
    parquet file count exceeds what its byte size warrants, call
    ``rewrite(partition_value, partition_dir, want_files)``, which
    must overwrite only that partition (the writer option
    ``partitionOverwriteMode=dynamic``). Returns {partition_value:
    files_removed}. Listing routes through the path's filesystem
    (catalog._fs_for), so schemed stores (hdfs://, file:) compact for
    real — round-9 #1.

    ``max_workers`` (r11, guide §2.6): the per-partition rewrites are
    independent Spark jobs over DISJOINT directories — run serially,
    each job's straggler tail leaves the cluster idle. With
    ``max_workers > 1`` they are submitted from a small driver thread
    pool so the next rewrite's tasks back-fill freed cores (2-3 in
    flight is plenty — enough to fill the tail, not enough to fight).
    Dynamic-overwrite staging dirs are per-job (unique job UUID) and
    each commit replaces only its own partition values, so concurrent
    rewrites of disjoint partitions do not interact."""
    import math
    import os

    from pond_spark.catalog import _fs_for

    fs = _fs_for(spark, base_path)

    def one(pdir: str) -> tuple[str, int] | None:
        files = fs.glob(os.path.join(fs.glob_escape(pdir), "*.parquet"))
        nbytes = sum(fs.size(f) for f in files)
        want = max(1, math.ceil(nbytes / target_file_bytes))
        if len(files) <= want:
            return None
        pvalue = pdir.rstrip("/").rsplit("/", 1)[-1].split("=", 1)[1]
        rewrite(pvalue, pdir, want)
        # re-list for the TRUE removal count: the rewrite's range
        # partitioner can emit fewer non-empty files than `want`
        # (skew) or more (maxRecordsPerFile) — len(files) - want
        # would misstate it
        after = fs.glob(os.path.join(fs.glob_escape(pdir), "*.parquet"))
        return pvalue, len(files) - len(after)

    pdirs = fs.glob(os.path.join(fs.glob_escape(base_path), partition_glob))
    if max_workers <= 1:
        results = map(one, pdirs)
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            results = list(pool.map(one, pdirs))
    return dict(got for got in results if got)

"""SparkSession factory tuned for this engine.

Defaults follow the scale guidance in SURVEY.md §4: AQE on (runtime
re-planning, skew-join handling), shuffle partitions sized to the local
parallelism (the host's core count unless ``SPARK_GRAFT_CPUS`` says
otherwise; on a real cluster set ~2-3x total cores or rely on AQE
coalescing), Arrow enabled for the Pandas-UDF slow path, UTC session
timezone so timestamp semantics match the DuckDB oracle.

Python workers start from pond_spark's daemon module
(``pond_spark/pydaemon.py``): before each task a pyspark worker asks
every cached zip importer to re-read pyspark.zip's directory, about
250 ms of CPU per task on CPython < 3.13; the daemon re-reads an archive
only when it changed on disk. The directory holding ``pond_spark`` goes
on the workers' ``PYTHONPATH`` so the daemon imports from any working
directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory that holds the pond_spark package
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """Half of the host's RAM; 16g when /proc/meminfo is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"  # kB -> MiB / 2
    except (OSError, ValueError):
        pass
    return "16g"


def get_spark(
    app_name: str = "pond_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (default: the
    host's core count) and ``POND_SPARK_DRIVER_MEM`` for the heap
    (default: half the host's RAM).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # SPARK_GRAFT_CPUS accepts any local-parallelism spec local[...]
        # takes ('*' = all cores): a bare int() here crashed every
        # entry point on SPARK_GRAFT_CPUS='*' before a session could
        # build (r6 review finding)
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (the legacy default) has NO footer min/max stats —
        # row-group time pruning and footer-based retention both need
        # real timestamp statistics
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # testdata events.parquet carries TIMESTAMP(NANOS); read as long
        # and convert (see schema.events_as_logs)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "pond_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
        # single-JVM local mode: driver heap IS the executor heap; half
        # the RAM keeps GC pauses out and leaves room for Python workers
        .config(
            "spark.driver.memory",
            os.environ.get("POND_SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        # a 50-query session generates far more than 100 codegen
        # segments; the default class-cache size (100) thrashes, so
        # every rerun recompiles + re-JITs from scratch. Size the cache
        # to the workload and give the JIT room to keep compiled code.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

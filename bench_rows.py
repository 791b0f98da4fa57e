"""Bench-only rows for bench.py, outside the driver contract
(__spark_entry__.queries()): ``bench_queries()`` returns DataFrame rows
bench.py times like contract rows, ``bench_probes()`` self-timed
probes that return seconds."""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.filters import FilterSpec
from pond_spark.registry import dedup, similarity, text
from pond_spark.registry._common import _documents, _embeddings
from pond_spark.schema import events_as_logs
from pond_spark.util import fan_out as _fan


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Bench-only probes, NOT part of the correctness contract.

    The recall-harness rows (minhash_pairs, simhash_pairs) time the
    exact n-gram twin AND the approximate candidate operator together
    — a regression in the candidate stage would hide behind the exact
    stage's cost. These probes time the approximate operator alone
    (the exact stage alone is already benched as ngram_jaccard), so
    bench readers can attribute movement to the right stage."""

    def minhash_pairs_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pond_spark.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            _documents(spark, sf_dir), "text", "doc_id", threshold=0.8, n=3
        )

    def simhash_pairs_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pond_spark.dedup import simhash_near_pairs

        return simhash_near_pairs(
            _documents(spark, sf_dir),
            "text",
            "doc_id",
            max_hamming=12,
            n=3,
            block_col="lang",
        )

    def bm25_index_search_only(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the contract row (bm25_index_search) times build+search; this
        # probe times the SERVING stage alone against the index the
        # contract row already materialized (building it if absent, so
        # the probe is self-sufficient when run standalone)
        from pond_spark.functions.lexindex import TextIndex, build_text_index

        path = text.text_index_path(sf_dir)
        try:
            idx = TextIndex(spark, path)
            idx.meta["segments"]  # reject a pre-segment-layout meta
        except (FileNotFoundError, KeyError):
            idx = build_text_index(
                _fan(_documents(spark, sf_dir)), path, n_buckets=64
            )
        return idx.search(text.BM25_TERMS, k=25)

    # the catalog contract rows time register + probe; these time the
    # cross-run SERVING stage alone (key the new batch, probe the
    # stored keys) against the catalog the contract row registered —
    # the cost a nightly incremental run pays. A missing catalog is
    # built by running the contract row first.
    def minhash_catalog_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
        cat = dedup.mh_catalog(spark, sf_dir)
        if not os.path.exists(cat.path):
            dedup.q_minhash_catalog_incremental(spark, sf_dir)
        docs = _documents(spark, sf_dir)
        return cat.near_candidates(
            docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id"
        )

    def embedding_catalog_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
        cat = similarity.emb_catalog(spark, sf_dir)
        if not os.path.exists(cat.path):
            similarity.q_embedding_catalog_incremental(spark, sf_dir)
        emb = _embeddings(spark, sf_dir)
        return cat.near_candidates(emb.filter(F.col("vec_id") % 2 == 1))

    return {
        "minhash_pairs_approx": minhash_pairs_approx,
        "simhash_pairs_approx": simhash_pairs_approx,
        "bm25_index_search_only": bm25_index_search_only,
        "minhash_catalog_probe_only": minhash_catalog_probe_only,
        "embedding_catalog_probe_only": embedding_catalog_probe_only,
    }


def bench_probes() -> dict[str, Callable[[SparkSession, str], float]]:
    """Self-timed bench probes (VERDICT r4 asks #5 and #8) for the two
    surfaces a DataFrame-returning bench row cannot express:

    - **streaming micro-batch latency**: the batch bench never times
      the live path. Each stream probe materializes the sf events as K
      parquet files, drives them through the real streaming operator
      one file per trigger (availableNow), and reports the MEDIAN
      per-batch wall latency (first batch dropped — it carries stream
      startup). Median damps noise; bench.py still takes best-of-2.
    - **store retention + compaction**: the ring-buffer analog
      (§1.3). Setup (two appends into a throwaway store) is untimed;
      the probe times retain(max_bytes=60%) + compact() end to end.

    Each callable returns SECONDS; bench.py merges them into the
    per-query dict (outside the contract total, like bench_queries)."""
    import shutil
    import statistics
    import tempfile
    import time as _time

    N_FILES = 8

    def _stream_src(spark: SparkSession, sf_dir: str) -> str:
        """K-file parquet log dir (one file per micro-batch)."""
        tmp = tempfile.mkdtemp(prefix="pond_bench_stream_")
        events_as_logs(spark, sf_dir).repartition(N_FILES).write.mode(
            "overwrite"
        ).parquet(tmp)
        return tmp

    def _median_batch_sec(sdf: DataFrame) -> float:
        stamps: list[float] = []

        def sink(df: DataFrame, _bid: int) -> None:
            df.write.format("noop").mode("overwrite").save()
            stamps.append(_time.perf_counter())

        ckpt = tempfile.mkdtemp(prefix="pond_bench_ckpt_")
        try:
            q = (
                sdf.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        if len(stamps) < 3:
            raise RuntimeError(f"expected >=3 micro-batches, got {len(stamps)}")
        deltas = [b - a for a, b in zip(stamps, stamps[1:])]
        return round(statistics.median(deltas), 3)

    def _with_src(fn):
        def run(spark: SparkSession, sf_dir: str) -> float:
            src = _stream_src(spark, sf_dir)
            try:
                return fn(spark, src)
            finally:
                shutil.rmtree(src, ignore_errors=True)

        return run

    @_with_src
    def stream_follow_batch_p50(spark: SparkSession, src: str) -> float:
        """Q6 FOLLOW plan (mtime cut + filter + watermark): the cut is
        set to epoch so the prepared files count as 'new'."""
        import datetime as _dt

        from pond_spark.streaming.follow import follow_stream

        sdf = follow_stream(
            spark,
            src,
            spec=FilterSpec(status_begin=200, status_end=500),
            since_now=_dt.datetime(1970, 1, 2),
            max_files_per_trigger=1,
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_ratelimit_batch_p50(spark: SparkSession, src: str) -> float:
        """T6 per-site token bucket (applyInPandasWithState) on the
        live path — the stateful operator's per-batch cost."""
        from pond_spark.streaming.follow import continue_stream
        from pond_spark.streaming.ratelimit import rate_limit_stream

        sdf = rate_limit_stream(
            continue_stream(spark, src, max_files_per_trigger=1),
            rate=5.0,
            message_type="http_access",
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_trending_batch_p50(spark: SparkSession, src: str) -> float:
        """Windowed agg + watermark state (trending terms over the
        request URIs) — the windowed-state per-batch cost."""
        from pond_spark.streaming.follow import continue_stream
        from pond_spark.streaming.trending import trending_terms_stream

        sdf = trending_terms_stream(
            # watermark=None: trending defines its own watermark
            continue_stream(spark, src, watermark=None, max_files_per_trigger=1),
            text_col="http_uri",
            every="5 minutes",
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_cusum_batch_p50(spark: SparkSession, src: str) -> float:
        """Streaming CUSUM (applyInPandasWithState, three scalars per
        site) on the live path — the per-batch cost of the monitoring
        fold (streaming/anomaly.py, NEW r6)."""
        from pond_spark.streaming.anomaly import cusum_stream
        from pond_spark.streaming.follow import continue_stream

        sdf = cusum_stream(
            continue_stream(
                spark, src, watermark=None, max_files_per_trigger=1
            ),
            k=5,
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_kmv_batch_p50(spark: SparkSession, src: str) -> float:
        """Streaming KMV distinct-uniques (applyInPandasWithState,
        k bottom keys per site) on the live path — the per-batch cost
        of the bounded-state distinct estimator (streaming/kmv.py,
        NEW r6)."""
        from pond_spark.streaming.follow import continue_stream
        from pond_spark.streaming.kmv import kmv_uniques_stream

        sdf = kmv_uniques_stream(
            continue_stream(
                spark, src, watermark=None, max_files_per_trigger=1
            ),
            k=64,
        )
        return _median_batch_sec(sdf)

    @_with_src
    def stream_quantiles_batch_p50(spark: SparkSession, src: str) -> float:
        """Streaming bottom-k value quantiles (streaming/quantiles.py,
        NEW r7): per-batch cost of the k-row-per-site sample fold."""
        from pond_spark.streaming.follow import continue_stream
        from pond_spark.streaming.quantiles import value_quantiles_stream

        sdf = value_quantiles_stream(
            continue_stream(
                spark, src, watermark=None, max_files_per_trigger=1
            ),
            k=64,
            value_col="duration_us",
        )
        return _median_batch_sec(sdf)

    def stream_asof_batch_p50(
        spark: SparkSession, sf_dir: str, state_partitions: int | None = None
    ) -> float:
        """Streaming as-of join (streaming/asof.py, NEW r7): per-batch
        cost of the two chained stateful operators — watermarked
        left-outer time-interval join + windowed struct carry — with
        the log stream as the left side and a small per-site config
        stream as the right. The session conf is restored after the
        stream captures it (bench probes share the session)."""
        from pond_spark.streaming.asof import asof_join_stream
        from pond_spark.streaming.conf import SHUFFLE_PARTITIONS_CONF
        from pond_spark.streaming.follow import continue_stream

        src = _stream_src(spark, sf_dir)
        rdir = tempfile.mkdtemp(prefix="pond_bench_asof_r_")
        prev = spark.conf.get(SHUFFLE_PARTITIONS_CONF)
        try:
            logs = spark.read.parquet(src)  # _stream_src: µs LOG_SCHEMA
            marks = (
                logs.groupBy("site")
                .agg(F.min("timestamp").alias("timestamp"))
                .withColumn("cfg", F.concat(F.lit("v-"), F.col("site")))
            )
            for i in range(3):
                marks.withColumn(
                    "timestamp",
                    F.col("timestamp") + F.expr(f"INTERVAL {i * 600} SECOND"),
                ).coalesce(1).write.mode("append").parquet(rdir)
            right = (
                spark.readStream.schema("site string, timestamp timestamp, cfg string")
                .option("maxFilesPerTrigger", "1")
                .parquet(rdir)
            )
            sdf = asof_join_stream(
                continue_stream(
                    spark, src, watermark=None, max_files_per_trigger=1
                ),
                right,
                ["site"],
                horizon_seconds=3600,
                state_partitions=state_partitions,
            )
            return _median_batch_sec(sdf)
        finally:
            spark.conf.set(SHUFFLE_PARTITIONS_CONF, prev)
            shutil.rmtree(rdir, ignore_errors=True)
            shutil.rmtree(src, ignore_errors=True)

    def _live_close_lag(make_stream, hit_filter):
        """Close-delivery LATENCY for the live monitoring twins
        (VERDICT r6 ask #4): the ``*_batch_p50`` rows time micro-batch
        THROUGHPUT on a drained backlog; this probe times the lag a
        monitoring consumer actually feels — wall seconds from the
        WRITE of the record that triggers an emission (for CUSUM, the
        first later-hour event that closes the open hour) to the
        completion of the micro-batch that delivers the triggered row
        (file discovery + planning + the stateful fold + emission).
        One seeded history file opens the state; after the backfill
        batch drains, the closing file lands and the sink watches for
        the row it provokes."""

        def run(spark: SparkSession, sf_dir: str) -> float:
            import threading

            from pond_spark.streaming.follow import continue_stream

            src = tempfile.mkdtemp(prefix="pond_bench_lag_")
            ckpt = tempfile.mkdtemp(prefix="pond_bench_ckpt_")
            base = events_as_logs(spark, sf_dir).limit(256).withColumn(
                "site", F.lit("_lagprobe")
            )
            h_open = dt.datetime(2024, 1, 1, 0, 30, 0)
            h_close = dt.datetime(2024, 1, 1, 1, 0, 5)
            base.withColumn("timestamp", F.lit(h_open)).coalesce(
                1
            ).write.mode("append").parquet(src)
            history_done = threading.Event()
            hit = threading.Event()
            t_hit: list[float] = []
            t0_box: list[float] = [float("inf")]

            def sink(df: DataFrame, _bid: int) -> None:
                # evaluate the count UNCONDITIONALLY: Spark 4 validates
                # that foreachBatch processes every partition of a
                # stateful query's batch (state-store commit tracking);
                # short-circuiting behind the time guard would leave
                # batch 0's state uncommitted and kill the stream.
                n_hit = df.filter(hit_filter(df)).count()
                if n_hit > 0 and _time.perf_counter() > t0_box[0]:
                    t_hit.append(_time.perf_counter())
                    hit.set()
                history_done.set()

            q = (
                make_stream(continue_stream(spark, src, watermark=None))
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                if not history_done.wait(timeout=300):
                    raise RuntimeError("lag-probe backfill never drained")
                t0_box[0] = _time.perf_counter()
                base.withColumn("timestamp", F.lit(h_close)).coalesce(
                    1
                ).write.mode("append").parquet(src)
                if not hit.wait(timeout=300):
                    raise RuntimeError("closing row never delivered")
                return round(t_hit[0] - t0_box[0], 3)
            finally:
                q.stop()
                shutil.rmtree(ckpt, ignore_errors=True)
                shutil.rmtree(src, ignore_errors=True)

        return run

    def stream_cusum_close_lag(spark: SparkSession, sf_dir: str) -> float:
        """Hour-close lag of the streaming CUSUM: event closing hour H
        lands → wall time the (site, H, cnt, cusum) row is emitted."""
        from pond_spark.streaming.anomaly import cusum_stream

        return _live_close_lag(
            lambda s: cusum_stream(s, k=5),
            lambda df: (df.site == "_lagprobe")
            & (df.hour == dt.datetime(2024, 1, 1, 0, 0, 0)),
        )(spark, sf_dir)

    def stream_kmv_close_lag(spark: SparkSession, sf_dir: str) -> float:
        """Update-delivery lag of the streaming KMV estimator: the
        live batch lands → wall time its refreshed per-site
        (uniques_est, n_keys, theta) row is emitted. KMV has no hour
        close — every batch that touches a site re-emits — so the
        triggered row is simply the first post-write emission."""
        from pond_spark.streaming.kmv import kmv_uniques_stream

        return _live_close_lag(
            lambda s: kmv_uniques_stream(s, k=64),
            lambda df: df.site == "_lagprobe",
        )(spark, sf_dir)

    def stream_asof_close_lag(
        spark: SparkSession, sf_dir: str, state_partitions: int | None = None
    ) -> float:
        """Close-delivery lag of the live as-of join (the latency a
        consumer of enriched rows feels): seed left rows sit joined-
        but-unemitted until the event-time watermark passes their emit
        window; the probe measures wall seconds from the FIRST
        watermark-advancing write to the delivery of the seed rows
        with their carried payload. Three as-of-specific mechanics
        shape the setup (each measured the hard way): (a) the global
        watermark is the MIN over BOTH inputs, so an idle right stream
        pins it forever — the closing writes land on both sides;
        (b) the left-OUTER join holds its output watermark back by the
        HORIZON (join state retention), so the downstream window
        closes only once the watermark passes window_end + horizon —
        the closing timestamps must clear that, and the horizon is a
        latency dial, not just a state dial (asof.py docstring);
        (c) the chained stateful operators flush on successive
        triggers, so three advancing pairs land up front."""
        import threading

        ldir = tempfile.mkdtemp(prefix="pond_bench_asoflag_l_")
        rdir = tempfile.mkdtemp(prefix="pond_bench_asoflag_r_")
        ckpt = tempfile.mkdtemp(prefix="pond_bench_ckpt_")
        from pond_spark.streaming.asof import asof_join_stream
        from pond_spark.streaming.follow import continue_stream

        h_open = dt.datetime(2024, 1, 1, 0, 30, 0)
        seed = events_as_logs(spark, sf_dir).limit(256).withColumn(
            "site", F.lit("_lagprobe")
        ).withColumn("timestamp", F.lit(h_open))
        seed.coalesce(1).write.mode("append").parquet(ldir)
        rsch = "site string, timestamp timestamp, cfg string"
        spark.createDataFrame(
            [("_lagprobe", dt.datetime(2024, 1, 1, 0, 0, 0), "v1")], rsch
        ).coalesce(1).write.mode("append").parquet(rdir)

        history_done = threading.Event()
        hit = threading.Event()
        t_hit: list[float] = []
        t0_box: list[float] = [float("inf")]

        def sink(df: DataFrame, _bid: int) -> None:
            n_hit = df.filter(
                (df.site == "_lagprobe")
                & (df.timestamp == h_open)
                & df.cfg.isNotNull()
            ).count()
            if n_hit > 0 and _time.perf_counter() > t0_box[0]:
                t_hit.append(_time.perf_counter())
                hit.set()
            history_done.set()

        right = (
            spark.readStream.schema(rsch)
            .option("maxFilesPerTrigger", "1")
            .parquet(rdir)
        )
        from pond_spark.streaming.conf import SHUFFLE_PARTITIONS_CONF

        prev_parts = spark.conf.get(SHUFFLE_PARTITIONS_CONF)
        q = (
            asof_join_stream(
                continue_stream(spark, ldir, watermark=None),
                right,
                ["site"],
                # > the 1800 s seed gap, small enough that the closing
                # stamps below clear window_end + horizon
                horizon_seconds=1900,
                state_partitions=state_partitions,
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # the query captured its conf at start; restore the session's
        # (bench probes share it)
        spark.conf.set(SHUFFLE_PARTITIONS_CONF, prev_parts)
        try:
            if not history_done.wait(timeout=300):
                raise RuntimeError("asof lag-probe backfill never drained")
            t0_box[0] = _time.perf_counter()
            t0 = t0_box[0]
            # three advancing pairs: one to land past the emit window,
            # and spares because each of the two chained stateful
            # operators flushes on the NEXT trigger's watermark
            for m in (65, 70, 75):
                later = dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(
                    minutes=m
                )
                seed.limit(1).withColumn("site", F.lit("_zz")).withColumn(
                    "timestamp", F.lit(later)
                ).coalesce(1).write.mode("append").parquet(ldir)
                spark.createDataFrame(
                    [("_zz", later, "vx")], rsch
                ).coalesce(1).write.mode("append").parquet(rdir)
            if not hit.wait(timeout=300):
                raise RuntimeError("asof closing row never delivered")
            return round(t_hit[0] - t0, 3)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(ldir, ignore_errors=True)
            shutil.rmtree(rdir, ignore_errors=True)

    def stream_continue_first_live(spark: SparkSession, sf_dir: str) -> float:
        """Q7 CONTINUE catch-up→tail switchover (VERDICT r5 ask #5):
        the full sf events backfill drains as history, THEN a live
        file lands in the store — the probe reports seconds from the
        live write to the completion of the micro-batch that delivers
        it (file discovery + plan + execution on the tail path, the
        highest-state streaming transition: backfill history + live
        union in one query)."""
        import threading

        from pond_spark.streaming.follow import continue_stream

        src = _stream_src(spark, sf_dir)
        ckpt = tempfile.mkdtemp(prefix="pond_bench_ckpt_")
        history_done = threading.Event()
        live_done = threading.Event()
        t_live_seen: list[float] = []

        def sink(df: DataFrame, _bid: int) -> None:
            n_live = df.filter(df.site == "_liveprobe").count()
            if n_live > 0:
                t_live_seen.append(_time.perf_counter())
                live_done.set()
            history_done.set()

        q = (
            continue_stream(spark, src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            if not history_done.wait(timeout=300):
                raise RuntimeError("CONTINUE backfill never drained")
            logs = events_as_logs(spark, sf_dir)
            live = (
                logs.limit(64)
                .withColumn("site", F.lit("_liveprobe"))
            )
            t0 = _time.perf_counter()
            live.coalesce(1).write.mode("append").parquet(src)
            if not live_done.wait(timeout=300):
                raise RuntimeError("live record never delivered")
            return round(t_live_seen[0] - t0, 3)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(src, ignore_errors=True)

    def store_retain_compact(spark: SparkSession, sf_dir: str) -> float:
        """LogStore ring-buffer eviction + hourly-compress analog on a
        store built from the sf events (two appends -> every date has
        redundant files, so compact has real work)."""
        from pond_spark.sources.store import LogStore

        tmp = tempfile.mkdtemp(prefix="pond_bench_store_")
        try:
            store = LogStore(spark, tmp)
            logs = events_as_logs(spark, sf_dir)
            store.append(logs)
            store.append(logs)
            total = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _dn, fns in os.walk(tmp)
                for f in fns
            )
            t0 = _time.perf_counter()
            store.retain(max_bytes=int(total * 0.6))
            store.compact(target_file_bytes=1 << 22)
            return round(_time.perf_counter() - t0, 3)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    return {
        "stream_follow_batch_p50": stream_follow_batch_p50,
        "stream_ratelimit_batch_p50": stream_ratelimit_batch_p50,
        "stream_trending_batch_p50": stream_trending_batch_p50,
        "stream_cusum_batch_p50": stream_cusum_batch_p50,
        "stream_kmv_batch_p50": stream_kmv_batch_p50,
        "stream_asof_batch_p50": stream_asof_batch_p50,
        # stream_asof_batch_p50 at the DEPLOYED state-partition sizing
        # (state_partitions=4 via streaming/conf.py — VERDICT r7 ask
        # #3): the PERF_NOTES r7 addendum measured the chained as-of's
        # micro-batch cost as pure state-store fixed cost x shuffle
        # partitions (3.32 s @32 -> 0.87 s @4)
        "stream_asof_batch_p50_sized": lambda spark, sf_dir: (
            stream_asof_batch_p50(spark, sf_dir, state_partitions=4)
        ),
        "stream_quantiles_batch_p50": stream_quantiles_batch_p50,
        "stream_cusum_close_lag": stream_cusum_close_lag,
        "stream_asof_close_lag": stream_asof_close_lag,
        # the same delivery lag at the DEPLOYED monitoring sizing — the
        # 12 s default-sizing row is trigger fixed-cost x 32 partitions
        # x several rounds; this is what a sized deployment feels
        "stream_asof_close_lag_sized": lambda spark, sf_dir: (
            stream_asof_close_lag(spark, sf_dir, state_partitions=4)
        ),
        "stream_kmv_close_lag": stream_kmv_close_lag,
        "stream_continue_first_live": stream_continue_first_live,
        "store_retain_compact": store_retain_compact,
    }

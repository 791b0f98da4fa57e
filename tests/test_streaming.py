"""FOLLOW/CONTINUE streaming tests — behavior port of the reference's
AppendListener test (test/TestDatabase.cxx:498-551): interleaved sites,
listener sees only matches; continue sees history then live records."""

from __future__ import annotations

import datetime as dt
import time

import pytest

from pond_spark.filters import FilterSpec
from pond_spark.schema import LOG_SCHEMA
from pond_spark.streaming import continue_stream, follow_stream, follow_visitors


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(rows, LOG_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


def _rows(ids, site, t0):
    base = dict.fromkeys([f.name for f in LOG_SCHEMA.fields])
    out = []
    for i in ids:
        r = dict(base)
        r.update(
            id=i,
            timestamp=t0 + dt.timedelta(seconds=i),
            site=site,
            type="http_access",
            remote_host=f"10.0.0.{i % 5}",
        )
        out.append(r)
    return out


def _drain(stream, name, timeout=60):
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return q


def test_continue_history_then_live(spark, tmp_path):
    store = str(tmp_path / "store")
    t0 = dt.datetime(2024, 1, 1, 10)
    _write_batch(spark, store, _rows(range(1, 6), "a", t0))
    _write_batch(spark, store, _rows(range(6, 11), "b", t0))

    spec = FilterSpec(sites=frozenset({"a"}))
    stream = continue_stream(spark, store, spec)
    _drain(stream, "cont1")
    got = {r.id for r in spark.sql("select id from cont1").collect()}
    assert got == {1, 2, 3, 4, 5}  # history, site-filtered

    # live phase: new files arrive, only matches delivered
    _write_batch(spark, store, _rows(range(11, 14), "a", t0))
    _write_batch(spark, store, _rows(range(14, 16), "b", t0))
    stream2 = continue_stream(spark, store, spec)
    _drain(stream2, "cont2")
    got2 = {r.id for r in spark.sql("select id from cont2").collect()}
    assert got2 == {1, 2, 3, 4, 5, 11, 12, 13}


def test_follow_skips_history(spark, tmp_path):
    store = str(tmp_path / "store")
    t0 = dt.datetime(2024, 1, 1, 10)
    _write_batch(spark, store, _rows(range(1, 6), "a", t0))
    time.sleep(1.1)  # modifiedAfter has 1 s granularity
    # naive-UTC, matching the session timezone: local wall-clock would
    # skew the cut by the machine's UTC offset (follow.py docstring)
    subscribe_at = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    _write_batch(spark, store, _rows(range(6, 9), "a", t0))
    stream = follow_stream(spark, store, FilterSpec(sites=frozenset({"a"})),
                           since_now=subscribe_at)
    _drain(stream, "fol1")
    got = {r.id for r in spark.sql("select id from fol1").collect()}
    assert got == {6, 7, 8}  # no history (Q6: FOLLOW has no initial snapshot)


def test_follow_survives_retention_of_listed_files(spark, tmp_path):
    """Retention may delete files (and their emptied p_date dirs) that
    a live FOLLOW has listed but not yet delivered. Pond semantics: an
    evicted record is simply never sent — the stream must not die with
    FileNotFoundException."""
    from pond_spark.sources.store import LogStore

    store = LogStore(spark, str(tmp_path / "store"))
    subscribe_at = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    time.sleep(1.1)  # file mtimes have 1 s granularity
    rows = []
    for day in (2, 3, 4):
        rows += _rows(range(day * 100, day * 100 + 5), "a",
                      dt.datetime(2024, 1, day, 10))
    store.append(spark.createDataFrame(rows, LOG_SCHEMA))

    per_batch: dict[int, int] = {}

    def sink(df, batch_id):
        if batch_id == 1:
            # evict everything after the source listed (and planned)
            # this batch's file but before it is read
            store.retain(max_bytes=0)
        per_batch[batch_id] = df.count()

    q = (
        follow_stream(spark, store.path, since_now=subscribe_at,
                      max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert per_batch[0] > 0 and len(per_batch) > 1
    assert sum(n for b, n in per_batch.items() if b > 0) == 0


def test_follow_visitors_session_window(spark, tmp_path):
    store = str(tmp_path / "store")
    t0 = dt.datetime(2024, 1, 1, 10)
    base = dict.fromkeys([f.name for f in LOG_SCHEMA.fields])
    rows = []
    for i, (host, offset_s) in enumerate(
        [("h1", 0), ("h1", 60), ("h1", 4000), ("h2", 0)], start=1
    ):
        r = dict(base)
        r.update(id=i, timestamp=t0 + dt.timedelta(seconds=offset_s),
                 site="a", type="http_access", remote_host=host)
        rows.append(r)
    _write_batch(spark, store, rows)

    sessions = follow_visitors(continue_stream(spark, store))
    q = (
        sessions.writeStream.format("memory")
        .queryName("vis1")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        (r.remote_host, r.n_hits)
        for r in spark.sql("select remote_host, n_hits from vis1").collect()
    }
    # h1 splits into two sessions (gap > 30 min), h2 one session
    assert got == {("h1", 2), ("h1", 1), ("h2", 1)}


def test_rate_limit_stream_state_survives_batches(spark, tmp_path):
    """T6 streaming: bucket state must carry across micro-batches —
    batch 1 drains the burst, batch 2 only gets the event-time refill
    (a fresh bucket would pass everything in batch 2)."""
    from pond_spark.streaming import rate_limit_stream

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 10)

    def msg_rows(ids, ts):
        rows = _rows(ids, "a", t0)
        for r in rows:
            r["type"] = "http_error"
            r["timestamp"] = ts
        return rows

    # batch 1: 12 messages at t0 → burst 10 passes, 2 discarded
    _write_batch(spark, store, msg_rows(range(1, 13), t0))
    time.sleep(1.1)
    # batch 2: 5 messages at t0+2s → refill 2 tokens → 2 pass, 3 discarded
    _write_batch(spark, store, msg_rows(range(13, 18), t0 + dt.timedelta(seconds=2)))

    sdf = (
        spark.readStream.schema(LOG_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(store)
    )
    out = rate_limit_stream(sdf, rate=1.0)  # burst = 10
    q = (
        out.writeStream.format("memory")
        .queryName("rls")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select id, _discarded from rls").collect()
    assert len(rows) == 17
    discarded = {r.id for r in rows if r._discarded}
    batch1_discards = {r for r in discarded if r <= 12}
    batch2_discards = {r for r in discarded if r > 12}
    assert len(batch1_discards) == 2
    assert len(batch2_discards) == 3  # proves tokens carried over


def test_ingest_stream_end_to_end(spark, tmp_path):
    """S1 streaming: raw payload files → parse/validate → rate-limit →
    store append + per-batch metrics; STATS totals fold the metrics
    table, whose rows equal what ingest_batch(metrics_dir=) writes for
    the same payloads."""
    import json

    from pond_spark.operators.stats import ingest_stats
    from pond_spark.sources.ingest import ingest_batch
    from pond_spark.sources.store import LogStore
    from pond_spark.streaming import ingest_stream, read_metrics

    t0 = dt.datetime(2024, 1, 1, 10)

    def payload(i, site="a", type_="http_access"):
        return json.dumps(
            {"id": i, "timestamp": t0.isoformat(), "site": site, "type": type_}
        )

    def run(name, rows, rate):
        raw_dir = str(tmp_path / name / "raw")
        spark.createDataFrame(rows, "payload string").coalesce(1).write.mode(
            "append"
        ).format("text").option("compression", "none").save(raw_dir)
        store = LogStore(spark, str(tmp_path / name / "store"))
        raw = (
            spark.readStream.format("text")
            .load(raw_dir)
            .withColumnRenamed("value", "payload")
        )
        metrics_dir = str(tmp_path / name / "metrics")
        q = ingest_stream(
            raw,
            store,
            metrics_dir=metrics_dir,
            checkpoint_dir=str(tmp_path / name / "ckpt"),
            rate=rate,
        )
        q.awaitTermination(120)
        streamed = read_metrics(spark, metrics_dir)
        batch_dir = str(tmp_path / name / "batch_metrics")
        ingest_batch(
            spark.createDataFrame(rows, "payload string"),
            rate=rate,
            metrics_dir=batch_dir,
        )
        assert sorted(streamed.collect()) == sorted(
            read_metrics(spark, batch_dir).collect()
        )
        return store, ingest_stats(streamed).collect()[0]

    rows = [(payload(i),) for i in range(1, 8)]
    rows.append(("this is not json",))
    store, m = run("plain", rows, 0.0)
    assert store.read().count() == 7
    assert (m.n_received, m.n_malformed, m.n_discarded) == (8, 1, 0)

    # 7 same-second messages on one site at rate 0.5 (burst 5)
    burst = [(payload(10 + i, "m", "http_error"),) for i in range(7)]
    store, m = run("burst", burst, 0.5)
    assert sorted(r.id for r in store.read().collect()) == [10, 11, 12, 13, 14]
    assert (m.n_received, m.n_malformed, m.n_discarded) == (7, 0, 2)


def test_rollup_stream_watermark_drops_stale(spark, tmp_path):
    """Windowed streaming agg (T2 analog): the watermark persists in
    the checkpoint across runs; a row arriving after its window closed
    (event time far below the restored watermark) is dropped."""
    from pond_spark.streaming import rollup_stream

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def rows(specs):
        out = _rows([i for i, _ in specs], "a", t0)
        for r, (_, offset) in zip(out, specs):
            r["timestamp"] = t0 + dt.timedelta(seconds=offset)
        return out

    sink = str(tmp_path / "out")

    def run():
        sdf = (
            spark.readStream.schema(LOG_SCHEMA)
            .format("parquet")
            .load(store)
        )
        out = rollup_stream(
            sdf, every="30 seconds", dims=["site"], watermark="10 seconds"
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.bucket_start, r.n)
            for r in spark.read.parquet(sink).select("bucket_start", "n").collect()
        }

    # run 1: window [10:00:00, 10:00:30) gets 2 rows; the +120s row
    # advances the watermark to 110s, closing and emitting that window
    _write_batch(spark, store, rows([(1, 0), (2, 10), (3, 120)]))
    got1 = run()
    assert (t0, 2) in got1

    # run 2 (same checkpoint → watermark restored at 110s): a late row
    # for the closed window is dropped; a fresh row advances further
    _write_batch(spark, store, rows([(4, 5), (5, 200)]))
    new_rows = run() - got1  # the parquet sink is cumulative
    # id4 was dropped: no row re-emitted for the closed first window
    assert not any(b == t0 for b, _ in new_rows), new_rows
    # the +120s row's window [10:02:00, 10:02:30) finalized in run 2
    assert (t0 + dt.timedelta(seconds=120), 1) in new_rows


def test_dedup_stream_drops_redelivery(spark, tmp_path):
    """Streaming exact dedup: re-delivered content (same text, later
    arrival inside the watermark window) is suppressed; distinct
    content passes. Uses availableNow over a file source so the whole
    fixture drains in one run."""
    from pond_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "docs")
    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (1, t0, "alpha content"),
        (2, t0 + dt.timedelta(seconds=1), "alpha content"),  # re-delivery
        (3, t0 + dt.timedelta(seconds=2), "beta content"),
        (4, t0 + dt.timedelta(seconds=3), "alpha content"),  # re-delivery
        (5, t0 + dt.timedelta(seconds=4), "gamma content"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, timestamp timestamp, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, timestamp timestamp, text string")
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        dedup_stream(stream, "text", "timestamp", watermark="10 seconds")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).orderBy("doc_id").collect()
    assert [r.doc_id for r in got] == [1, 3, 5]
    assert {r.text for r in got} == {"alpha content", "beta content", "gamma content"}
    # the dedup key column does not leak into the output
    assert "_dedup_key" not in got[0].asDict()


def test_trending_terms_stream_topk(spark, tmp_path):
    """Windowed word counts finalize per bucket (append mode); the
    top-k finisher ranks each closed bucket deterministically."""
    from pond_spark.streaming.trending import (
        top_terms_per_bucket,
        trending_terms_stream,
    )

    src = str(tmp_path / "docs")
    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (1, t0, "spark spark flink"),
        (2, t0 + dt.timedelta(seconds=5), "spark duck duck"),
        # bucket 2, and far enough ahead to close bucket 1
        (3, t0 + dt.timedelta(seconds=90), "flink flink airflow"),
        # watermark pusher: closes bucket 2 as well
        (4, t0 + dt.timedelta(seconds=300), "tail"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, timestamp timestamp, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, timestamp timestamp, text string"
    ).parquet(src)
    out_dir = str(tmp_path / "out")
    q = (
        trending_terms_stream(stream, every="30 seconds", watermark="10 seconds")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    sunk = spark.read.parquet(out_dir)
    top = top_terms_per_bucket(sunk, k=2)
    got = {
        (r.bucket_start, r.rank): (r.word, r.n) for r in top.collect()
    }
    # bucket 1 [10:00:00, 10:00:30): spark x3, duck x2, flink x1
    assert got[(t0, 1)] == ("spark", 3)
    assert got[(t0, 2)] == ("duck", 2)
    # bucket 2 [10:01:30, 10:02:00): flink x2, airflow x1
    b2 = t0 + dt.timedelta(seconds=90)
    assert got[(b2, 1)] == ("flink", 2)
    assert got[(b2, 2)] == ("airflow", 1)


def test_attribution_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream interval join: conversions attribute
    to preceding triggers within the horizon; outside-horizon and
    wrong-order pairs never emit."""
    from pond_spark.streaming.attribution import attribute_conversions

    t0 = dt.datetime(2024, 1, 1, 10)
    tsrc, csrc = str(tmp_path / "trig"), str(tmp_path / "conv")
    spark.createDataFrame(
        [
            (1, t0, 1, "view"),
            (2, t0 + dt.timedelta(seconds=100), 2, "view"),
            (3, t0 + dt.timedelta(seconds=500), 3, "view"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    ).coalesce(1).write.mode("overwrite").parquet(tsrc)
    spark.createDataFrame(
        [
            (11, t0 + dt.timedelta(seconds=30), 1, "purchase"),   # in horizon
            (12, t0 + dt.timedelta(seconds=400), 2, "purchase"),  # too late
            (13, t0 + dt.timedelta(seconds=490), 3, "purchase"),  # BEFORE trigger
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    ).coalesce(1).write.mode("overwrite").parquet(csrc)

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    out_dir = str(tmp_path / "out")
    q = (
        attribute_conversions(
            spark.readStream.schema(schema).parquet(tsrc),
            spark.readStream.schema(schema).parquet(csrc),
            horizon_seconds=60,
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert [(r.user_id, r.trigger_id, r.conversion_id) for r in rows] == [
        (1, 1, 11)
    ]


def test_group_site_windowed_topk(spark, tmp_path):
    """Streaming GROUP_SITE: windowed per-site key counts finalize in
    append mode; the finisher ranks per (bucket, site) with the
    accumulate top,N ordering. NULL site folds to '' (F1 rule)."""
    from pond_spark.streaming.groupsite import (
        site_key_counts_stream,
        top_keys_per_site,
    )

    src = str(tmp_path / "ev")
    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (1, t0, "alpha", "/a"),
        (2, t0 + dt.timedelta(seconds=1), "alpha", "/a"),
        (3, t0 + dt.timedelta(seconds=2), "alpha", "/b"),
        (4, t0 + dt.timedelta(seconds=3), "beta", "/z"),
        (5, t0 + dt.timedelta(seconds=4), None, "/n"),
        # watermark pusher: closes the first bucket
        (6, t0 + dt.timedelta(seconds=300), "alpha", "/tail"),
    ]
    spark.createDataFrame(
        rows, "id long, timestamp timestamp, site string, uri string"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "id long, timestamp timestamp, site string, uri string"
    ).parquet(src)
    out_dir = str(tmp_path / "out")
    q = (
        site_key_counts_stream(stream, every="30 seconds", watermark="10 seconds")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    top = top_keys_per_site(spark.read.parquet(out_dir), k=1)
    got = {
        (r.bucket_start, r.site): (r.key, r.n)
        for r in top.collect()
    }
    assert got[(t0, "alpha")] == ("/a", 2)
    assert got[(t0, "beta")] == ("/z", 1)
    assert got[(t0, "")] == ("/n", 1)  # NULL site folded


def test_group_site_spacesaving_topk_bounded_state(spark, tmp_path):
    """Continuous per-site top-k: Space-Saving state carries across
    micro-batches, stays bounded at m counters under more distinct
    keys than m, and still ranks the true heavy hitters first with
    exact counts (err=0 for never-evicted keys)."""
    from pond_spark.streaming.groupsite import group_site_topk_stream

    store = str(tmp_path / "store")
    schema = "id long, site string, uri string"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(store)

    # batch 1: /hot x5, /warm x2 on site a
    write([(i, "a", "/hot") for i in range(5)] + [(10, "a", "/warm"), (11, "a", "/warm")])
    time.sleep(1.1)
    # batch 2: /hot x3 more, plus 12 distinct one-off keys (> m=8):
    # the sketch must evict noise, never the heavy hitter
    write(
        [(20 + i, "a", "/hot") for i in range(3)]
        + [(40 + i, "a", f"/noise{i}") for i in range(12)]
        + [(60, "b", "/solo")]
    )

    sdf = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(store)
    )
    out = group_site_topk_stream(sdf, key_col="uri", site_col="site", k=3, m=8)
    q = (
        out.writeStream.format("memory")
        .queryName("gsk")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("select * from gsk").collect()
    # latest ranking per site
    last_a = max(r.batch_id for r in rows if r.site == "a")
    fin = {r.rank: (r.key, r.n, r.err) for r in rows if r.site == "a" and r.batch_id == last_a}
    # the heavy hitter is NEVER evicted (count > count_min guarantee)
    # and its count is exact across micro-batches (state carried over:
    # 5 in batch 1 + 3 in batch 2)
    assert fin[1] == ("/hot", 8, 0)
    # Metwally bound: every tracked count overestimates by at most err,
    # so true count >= n - err; rank-2 must account for >= 1 real hit
    assert fin[2][1] - fin[2][2] >= 1
    # bounded state: never more than k rows emitted per batch
    assert all(r.rank <= 3 for r in rows)
    assert {r.key for r in rows if r.site == "b"} == {"/solo"}
    # batch 1 alone (before the noise flood) ranks exactly
    first_a = min(r.batch_id for r in rows if r.site == "a")
    b1 = {r.rank: (r.key, r.n, r.err) for r in rows if r.site == "a" and r.batch_id == first_a}
    assert b1[1] == ("/hot", 5, 0) and b1[2] == ("/warm", 2, 0)


def test_group_site_spacesaving_property_bounds(spark, tmp_path):
    """Property (Metwally '05 invariants) on a random skewed stream:
    every emitted count brackets the true count (n - err <= true <= n)
    and the dominant key ends at rank 1 with its exact count."""
    import random

    from pond_spark.streaming.groupsite import group_site_topk_stream

    rng = random.Random(71)
    store = str(tmp_path / "store")
    schema = "id long, site string, uri string"
    # zipf-ish: key0 dominant, long tail of one-offs
    stream_keys = (
        ["/k0"] * 30 + ["/k1"] * 8 + ["/k2"] * 5
        + [f"/t{i}" for i in range(25)]
    )
    rng.shuffle(stream_keys)
    half = len(stream_keys) // 2
    for j, part in enumerate((stream_keys[:half], stream_keys[half:])):
        if j:
            time.sleep(1.1)  # mtime order decides micro-batch order
        spark.createDataFrame(
            [(i, "s", k) for i, k in enumerate(part)], schema
        ).coalesce(1).write.mode("append").parquet(store)

    true = {}
    for k in stream_keys:
        true[k] = true.get(k, 0) + 1

    sdf = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(store)
    )
    out = group_site_topk_stream(sdf, key_col="uri", site_col="site", k=5, m=12)
    q = (
        out.writeStream.format("memory")
        .queryName("gsp")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from gsp").collect()
    last = max(r.batch_id for r in rows)
    fin = [r for r in rows if r.batch_id == last]
    # bracket invariant on the FINAL batch (true = full-stream counts)
    for r in fin:
        t = true.get(r.key, 0)
        assert t <= r.n, (r.key, t, r.n)
        assert r.n - r.err <= t, (r.key, t, r.n, r.err)
    # the dominant key is never evicted: exact count, rank 1
    top = {r.rank: (r.key, r.n, r.err) for r in fin}
    assert top[1] == ("/k0", 30, 0)


def test_rate_limit_stream_late_event_does_not_rewind_clock(spark, tmp_path):
    """Regression (r4 review): a late event in a later micro-batch
    must not rewind the bucket's last-refill clock — otherwise the
    next on-time event re-credits refill time already granted and
    over-admits. Batch 1 drains the burst at T; batch 2 is one LATE
    record (T-60s); batch 3 at T again must still be broke."""
    from pond_spark.streaming import rate_limit_stream

    store = str(tmp_path / "store")
    t0 = dt.datetime(2024, 1, 1, 10)

    def msg_rows(ids, ts):
        rows = _rows(ids, "a", t0)
        for r in rows:
            r["type"] = "http_error"
            r["timestamp"] = ts
        return rows

    _write_batch(spark, store, msg_rows(range(1, 12), t0))  # 11: drains 10
    time.sleep(1.1)
    _write_batch(spark, store, msg_rows([20], t0 - dt.timedelta(seconds=60)))
    time.sleep(1.1)
    _write_batch(spark, store, msg_rows([30, 31], t0))

    sdf = (
        spark.readStream.schema(LOG_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(store)
    )
    q = (
        rate_limit_stream(sdf, rate=1.0)
        .writeStream.format("memory")
        .queryName("rlw")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r.id: r._discarded for r in spark.sql("select id, _discarded from rlw").collect()}
    assert sum(1 for i in range(1, 12) if out[i]) == 1  # burst 10 passes
    assert out[20] is True          # late event: no tokens, no refill
    # with a rewound clock, batch 3 would refill 60 tokens and admit
    # these; with the monotonic clock they must still be discarded
    assert out[30] is True and out[31] is True


def test_cusum_stream_matches_batch_closed_hours(spark, tmp_path):
    """Streaming CUSUM: closed hours score IDENTICALLY to the batch
    closed form over the same data (gap hours included), state
    survives micro-batches, and the still-open tail hour is not yet
    emitted."""
    from pond_spark.operators.anomaly import cusum_scores
    from pond_spark.streaming import cusum_stream

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 3, 1, 8)

    def hr_rows(ids, site, hour, minute=5):
        rows = _rows(ids, site, t0)
        for j, r in enumerate(rows):
            r["timestamp"] = t0 + dt.timedelta(hours=hour, minutes=minute + j)
        return rows

    # batch 1: hour 0 has 5 events, hour 1 has 2 (site a); site b hour 0: 1
    _write_batch(
        spark, store,
        hr_rows(range(1, 6), "a", 0) + hr_rows(range(6, 8), "a", 1)
        + hr_rows([8], "b", 0),
    )
    # batch 2: site a jumps to hour 4 (hours 1-3 close, 2..3 as gaps),
    # 7 events; site b hour 1: 4 events
    _write_batch(
        spark, store,
        hr_rows(range(10, 17), "a", 4) + hr_rows(range(17, 21), "b", 1),
    )

    sdf = (
        spark.readStream.schema(LOG_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(store)
    )
    _drain(cusum_stream(sdf, k=2), "cus", timeout=120)
    got = {
        (r.site, r.hour): (r.cnt, r.cusum)
        for r in spark.sql("select * from cus").collect()
    }

    # the open tail hours (a@4, b@1) must NOT be emitted yet
    assert ("a", t0 + dt.timedelta(hours=4)) not in got
    assert ("b", t0 + dt.timedelta(hours=1)) not in got
    # every closed hour equals the batch closed form on the same rows
    batch_df = spark.read.parquet(store)
    exp = {
        (r.site, r.hour): (r.cnt, r.cusum)
        for r in cusum_scores(batch_df, k=2).collect()
    }
    for key, val in got.items():
        assert exp[key] == val, (key, val, exp[key])
    # closed set: site a hours 0..3 (2,3 are zero-count gaps closed by
    # the hour-4 event), site b hour 0
    assert set(got) == {
        ("a", t0), ("a", t0 + dt.timedelta(hours=1)),
        ("a", t0 + dt.timedelta(hours=2)), ("a", t0 + dt.timedelta(hours=3)),
        ("b", t0),
    }
    # spot-check the recursion: a@0 -> max(0, 5-2)=3; a@1 -> 3+2-2=3;
    # gaps decay by k each: a@2 -> 1, a@3 -> 0
    assert got[("a", t0)] == (5, 3)
    assert got[("a", t0 + dt.timedelta(hours=1))] == (2, 3)
    assert got[("a", t0 + dt.timedelta(hours=2))] == (0, 1)
    assert got[("a", t0 + dt.timedelta(hours=3))] == (0, 0)


def test_kmv_uniques_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming KMV: after the stream drains, the LAST emitted
    estimate per site equals the batch KMV estimate over the same
    rows (identical bottom-k keys by the merge identity), with state
    bounded at k keys; the exact-count regime (m < k) reports exact
    distincts."""
    from pond_spark.operators.kmv import build_kmv_sketches, kmv_uniques_over_range
    from pond_spark.streaming import kmv_uniques_stream

    store = str(tmp_path / "store")
    t0 = dt.datetime(2024, 3, 1, 8)

    def visitors(ids, site, users):
        rows = _rows(ids, site, t0)
        for r, u in zip(rows, users):
            r["remote_host"] = f"u{u}"
        return rows

    # site a: 120 distinct visitors across two batches (overlap 20);
    # site b: 9 distinct (stays in the exact regime at k=64)
    _write_batch(
        spark, store,
        visitors(range(0, 70), "a", range(0, 70))
        + visitors(range(70, 75), "b", range(0, 5)),
    )
    _write_batch(
        spark, store,
        visitors(range(100, 170), "a", range(50, 120))
        + visitors(range(170, 178), "b", range(1, 9)),
    )

    sdf = (
        spark.readStream.schema(LOG_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(store)
    )
    _drain(kmv_uniques_stream(sdf, k=64), "kmv_est", timeout=120)
    rows = spark.sql("select * from kmv_est").collect()
    # last emission per site (memory sink appends in batch order)
    last = {}
    for r in rows:
        last[r.site] = (r.uniques_est, r.n_keys, r.theta)

    batch_logs = spark.read.schema(LOG_SCHEMA).parquet(store)
    path = str(tmp_path / "kmv_batch")
    build_kmv_sketches(batch_logs, path, k=64)
    exp = {
        r.site: (r.uniques_est, r.n_keys, r.theta)
        for r in kmv_uniques_over_range(
            spark, path, "2024-03-01", "2024-03-01", k=64
        ).collect()
    }
    assert last == exp
    # exact regime: site b reports its true distinct count
    assert last["b"][0] == 9
    # bounded state: never more than k keys held
    assert all(r.n_keys <= 64 for r in rows)


def test_cusum_stream_frame_order_independent(spark, tmp_path):
    """One micro-batch whose group spans MANY Arrow frames delivered
    in no helpful order (rows written hour-DESCENDING, Arrow batch
    size forced tiny): per-hour counts must accumulate across frames
    before the fold walks hours sorted — no hour may be dropped as
    'late' by frame arrival order. Scores must equal the batch closed
    form on the closed hours."""
    from pond_spark.operators.anomaly import cusum_scores
    from pond_spark.streaming import cusum_stream

    store = str(tmp_path / "store")
    # site a: hours 0..5 with 40 events each, written hour-DESC so the
    # scan delivers later hours first; plus a terminal hour-6 event in
    # a SECOND file so hours 0..5 all close
    rows = []
    rid = 0
    t0 = dt.datetime(2024, 5, 1)
    for hour in range(5, -1, -1):
        for j in range(40):
            rid += 1
            r = _rows([rid], "a", t0)[0]
            r["timestamp"] = t0 + dt.timedelta(hours=hour, minutes=j % 50)
            rows.append(r)
    df = spark.createDataFrame(rows, LOG_SCHEMA).coalesce(1)
    df.write.mode("append").parquet(store)
    tail = _rows([9999], "a", t0)
    tail[0]["timestamp"] = t0 + dt.timedelta(hours=6)
    _write_batch(spark, store, tail)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        sdf = (
            spark.readStream.schema(LOG_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(store)
        )
        _drain(cusum_stream(sdf, k=30), "cus_frames", timeout=120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = {
        (r.site, r.hour): (r.cnt, r.cusum)
        for r in spark.sql("select * from cus_frames").collect()
    }
    batch_logs = spark.read.schema(LOG_SCHEMA).parquet(store)
    exp = {
        (r.site, r.hour): (r.cnt, r.cusum)
        for r in cusum_scores(batch_logs, k=30).collect()
        if r.hour < t0 + dt.timedelta(hours=6)  # open tail not emitted
    }
    assert got == exp
    assert len(got) == 6  # hours 0..5 all closed, none dropped


def test_rate_limit_stream_frame_order_independent(spark, tmp_path):
    """Regression (r6 review): one micro-batch whose site group spans
    many Arrow frames written timestamp-DESCENDING — the bucket must
    charge tokens in exact (ts, id) order across frame splits, i.e.
    the same rows pass as in the batch operator over the same data."""
    from pond_spark.sources.ingest import rate_limit
    from pond_spark.streaming import rate_limit_stream

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 4, 1, 9)

    rows = []
    # 120 messages over 2 minutes, written in REVERSE time order so a
    # frame-by-frame fold would see late seconds first
    for i in range(120, 0, -1):
        r = _rows([i], "a", t0)[0]
        r["type"] = "http_error"
        r["timestamp"] = t0 + dt.timedelta(seconds=i)
        rows.append(r)
    df = spark.createDataFrame(rows, LOG_SCHEMA).coalesce(1)
    df.write.mode("append").parquet(store)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        sdf = (
            spark.readStream.schema(LOG_SCHEMA)
            .format("parquet")
            .load(store)
        )
        out = rate_limit_stream(sdf, rate=0.5)  # burst 5, refill 0.5/s
        q = (
            out.writeStream.format("memory")
            .queryName("rls_frames")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {
        r.id: r._discarded
        for r in spark.sql("select id, _discarded from rls_frames").collect()
    }
    batch_logs = spark.read.schema(LOG_SCHEMA).parquet(store)
    exp = {
        r.id: r._discarded
        for r in rate_limit(batch_logs, rate=0.5).collect()
    }
    assert len(got) == 120
    assert got == exp


def test_rate_limit_stream_matches_batch_nulls_ties_sites(spark, tmp_path):
    """The batch and streaming token buckets share one step
    (sources/ingest.token_bucket): over one micro-batch with null
    timestamps, equal-timestamp ties and three sites, both flag exactly
    the same ids — site "c" sits before the epoch, where the stream's
    old -1 "no clock yet" sentinel never refilled."""
    from pond_spark.sources.ingest import rate_limit
    from pond_spark.streaming import rate_limit_stream

    store = str(tmp_path / "store")
    t0 = dt.datetime(2024, 5, 1, 12)
    # per site: (id, seconds after t0 or None); ids deliberately out
    # of time order so the (ts, id) sort decides every tie
    plan = {
        "a": [(7, None), (3, None), (1, 0), (2, 0), (9, 0), (4, 0),
              (5, 1), (6, 1), (8, 4), (10, 4), (11, None), (12, 9)],
        "b": [(21, 2), (22, 2), (23, 2), (20, None), (24, 2), (25, 2),
              (26, 3), (27, 30), (28, 30), (29, 30), (30, 30)],
        "c": [(31, -2e9), (32, -2e9), (33, -2e9), (34, -2e9), (35, -2e9),
              (36, -2e9 + 4), (37, -2e9 + 4), (38, None)],
    }
    rows = []
    for site, pairs in plan.items():
        for i, sec in pairs:
            r = _rows([i], site, t0)[0]
            r["type"] = "http_error"
            r["timestamp"] = None if sec is None else t0 + dt.timedelta(seconds=sec)
            rows.append(r)
    exempt = _rows([40, 41], "a", t0) + _rows([42], None, t0)
    exempt[-1]["type"] = "http_error"  # siteless message: exempt
    _write_batch(spark, store, rows + exempt)

    sdf = spark.readStream.schema(LOG_SCHEMA).format("parquet").load(store)
    q = (
        rate_limit_stream(sdf, rate=0.5, burst=3.0)
        .writeStream.format("memory")
        .queryName("rls_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.id: r._discarded
        for r in spark.sql("select id, _discarded from rls_parity").collect()
    }
    batch_logs = spark.read.schema(LOG_SCHEMA).parquet(store)
    exp = {
        r.id: r._discarded
        for r in rate_limit(batch_logs, rate=0.5, burst=3.0).collect()
    }
    assert len(got) == len(rows) + len(exempt)
    assert got == exp
    # non-trivial: both sites pass some rows and discard others
    for site, pairs in plan.items():
        flags = {exp[i] for i, _ in pairs}
        assert flags == {True, False}, site
    assert not any(exp[i] for i in (40, 41, 42))


def test_asof_join_stream_matches_batch_within_horizon(spark, tmp_path):
    """Streaming as-of (VERDICT r6 ask #8): emitted rows equal the
    batch twin's output with matches outside the horizon NULLed —
    including the single-struct carry (a latest right row with NULL
    slots wins WHOLE, never stitched), the equal-ts inclusive bound,
    the equal-ts payload-tuple tiebreak, and NULL padding for a key
    with no right rows."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from pond_spark.operators.asof import asof_join
    from pond_spark.streaming import asof_join_stream

    lsch = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    rsch = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("tag", T.StringType()),
            T.StructField("weight", T.LongType()),
            T.StructField("marker_ts", T.TimestampType()),
        ]
    )
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    t0 = dt.datetime(2024, 3, 1, 8)

    def at(sec):
        return t0 + dt.timedelta(seconds=sec)

    rrows = [
        ("k1", at(0), "A", 1, at(0)),
        ("k1", at(20), "B", 2, at(20)),
        ("k1", at(20), "B2", None, at(20)),  # tie: greater tuple wins
        ("k1", at(180), None, 9, at(180)),  # NULL-slot latest: carried whole
    ]
    lrows = [
        ("k1", at(10), 1),  # -> A
        ("k1", at(25), 2),  # -> B2 (tie winner at :20)
        ("k1", at(120), 3),  # batch -> B2, but 120-60 >= 20: horizon NULLs
        ("k1", at(20), 5),  # equal ts: inclusive -> B2
        ("k1", at(210), 6),  # -> the NULL-tag row WHOLE (None, 9, at(180))
        ("k2", at(60), 4),  # no rights at all -> NULLs
    ]
    spark.createDataFrame(lrows, lsch).coalesce(1).write.mode("append").parquet(ldir)
    spark.createDataFrame(rrows, rsch).coalesce(1).write.mode("append").parquet(rdir)
    # sentinel batches push the watermark so every data window closes
    # (their own windows never close; excluded from the comparison)
    for hh in (1, 2):
        spark.createDataFrame(
            [("kz", t0 + dt.timedelta(hours=hh), 999)], lsch
        ).coalesce(1).write.mode("append").parquet(ldir)
        spark.createDataFrame(
            [("kz", t0 + dt.timedelta(hours=hh), "Z", 0, None)], rsch
        ).coalesce(1).write.mode("append").parquet(rdir)

    ls = spark.readStream.schema(lsch).option("maxFilesPerTrigger", "1").parquet(ldir)
    rs = spark.readStream.schema(rsch).option("maxFilesPerTrigger", "1").parquet(rdir)
    _drain(
        asof_join_stream(ls, rs, ["key"], horizon_seconds=60),
        "asof_live",
        timeout=180,
    )
    got = {
        (r.key, r.timestamp, r.event_id): (r.tag, r.weight, r.marker_ts)
        for r in spark.sql(
            "select * from asof_live where key != 'kz'"
        ).collect()
    }

    # expected = batch twin with out-of-horizon matches NULLed (the
    # marker_ts payload column carries the matched right row's ts)
    batch = asof_join(
        spark.read.parquet(ldir).filter(F.col("key") != "kz"),
        spark.read.parquet(rdir).filter(F.col("key") != "kz"),
        ["key"],
    )
    exp = {}
    for r in batch.collect():
        hit = r.marker_ts is not None and (
            r.timestamp - r.marker_ts
        ) < dt.timedelta(seconds=60)
        exp[(r.key, r.timestamp, r.event_id)] = (
            (r.tag, r.weight, r.marker_ts) if hit else (None, None, None)
        )
    assert got == exp
    # and the fixture actually exercised every edge it claims to
    assert exp[("k1", at(10), 1)] == ("A", 1, at(0))
    assert exp[("k1", at(25), 2)] == ("B2", None, at(20))
    assert exp[("k1", at(120), 3)] == (None, None, None)
    assert exp[("k1", at(20), 5)] == ("B2", None, at(20))
    assert exp[("k1", at(210), 6)] == (None, 9, at(180))
    assert exp[("k2", at(60), 4)] == (None, None, None)


def test_asof_join_stream_fuzz_parity_with_batch(spark, tmp_path):
    """Randomized large-fixture parity: 30 keys x ~300 rows of left
    events and right markers with clustered timestamps (forcing
    in-horizon, out-of-horizon, equal-ts-tie, and no-match cases by
    volume), one stream run, every emitted row checked against the
    batch twin + horizon NULLing. One seeded draw per test run keeps
    it deterministic to debug while the fixture stays adversarial."""
    import random

    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from pond_spark.operators.asof import asof_join
    from pond_spark.streaming import asof_join_stream

    rng = random.Random(0xA50F)
    lsch = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    rsch = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("tag", T.StringType()),
            T.StructField("marker_ts", T.TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 3, 1, 8)
    horizon = 45
    lrows, rrows = [], []
    eid = 0
    for k in range(30):
        # one NULL-key group: the stream joins with eqNullSafe so a
        # NULL-key left row carries a NULL-key right row exactly like
        # the batch twin's Window.partitionBy (ADVICE r7)
        key = None if k == 7 else f"k{k}"
        # clustered seconds: many collisions at the same instant and
        # gaps larger than the horizon
        for _ in range(rng.randint(0, 8)):
            eid += 1
            sec = rng.choice([0, 5, 10, 40, 44, 45, 46, 120, 240])
            lrows.append((key, t0 + dt.timedelta(seconds=sec), eid))
        for _ in range(rng.randint(0, 8)):
            sec = rng.choice([0, 5, 10, 40, 120, 240])
            tag = rng.choice(["A", "B", "C", None])
            rrows.append(
                (key, t0 + dt.timedelta(seconds=sec), tag,
                 t0 + dt.timedelta(seconds=sec))
            )
    ldir, rdir = str(tmp_path / "fl"), str(tmp_path / "fr")
    spark.createDataFrame(lrows, lsch).coalesce(2).write.mode("append").parquet(ldir)
    spark.createDataFrame(rrows, rsch).coalesce(2).write.mode("append").parquet(rdir)
    for hh in (1, 2):  # watermark-advancing sentinels
        spark.createDataFrame(
            [("kz", t0 + dt.timedelta(hours=hh), 0)], lsch
        ).coalesce(1).write.mode("append").parquet(ldir)
        spark.createDataFrame(
            [("kz", t0 + dt.timedelta(hours=hh), "Z", None)], rsch
        ).coalesce(1).write.mode("append").parquet(rdir)

    ls = spark.readStream.schema(lsch).option("maxFilesPerTrigger", "1").parquet(ldir)
    rs = spark.readStream.schema(rsch).option("maxFilesPerTrigger", "1").parquet(rdir)
    _drain(
        asof_join_stream(ls, rs, ["key"], horizon_seconds=horizon),
        "asof_fuzz",
        timeout=240,
    )
    got = {
        (r.key, r.timestamp, r.event_id): (r.tag, r.marker_ts)
        for r in spark.sql(
            "select * from asof_fuzz where key IS DISTINCT FROM 'kz'"
        ).collect()
    }
    batch = asof_join(
        spark.read.parquet(ldir).filter(~F.col("key").eqNullSafe(F.lit("kz"))),
        spark.read.parquet(rdir).filter(~F.col("key").eqNullSafe(F.lit("kz"))),
        ["key"],
    )
    exp = {}
    for r in batch.collect():
        hit = r.marker_ts is not None and (
            r.timestamp - r.marker_ts
        ) < dt.timedelta(seconds=horizon)
        exp[(r.key, r.timestamp, r.event_id)] = (
            (r.tag, r.marker_ts) if hit else (None, None)
        )
    assert got == exp
    assert len(exp) >= 50  # the draw actually produced volume
    # the NULL-key group exists AND carried at least one real match —
    # proves the eqNullSafe key, not just NULL-padding symmetry
    assert any(k[0] is None and v[0] is not None for k, v in exp.items())
    # every regime is present in the expectation set
    outcomes = set(exp.values())
    assert (None, None) in outcomes
    assert any(v[0] is not None for v in outcomes)


def test_group_site_streams_drop_null_keys(spark, tmp_path):
    """r7 review fix: NULL keys are SKIPPED (batch accumulate parity —
    the reference skips records missing the attribute), not counted
    as an empty-string top entry; NULL site still maps to '' (F1)."""
    from pond_spark.streaming import (
        group_site_topk_stream,
        site_key_counts_stream,
    )

    store = str(tmp_path / "store")
    t0 = dt.datetime(2024, 3, 1, 8)
    rows = _rows(range(1, 7), "a", t0)
    for i, r in enumerate(rows):
        r["http_uri"] = None if i < 4 else "/real"
    rows += _rows([7, 8], None, t0)  # NULL site, real key
    for r in rows[-2:]:
        r["http_uri"] = "/nullsite"
    _write_batch(spark, store, rows)
    # sentinel to close the windowed variant's bucket
    late = _rows([9], "a", t0 + dt.timedelta(hours=2))
    late[0]["http_uri"] = "/late"
    _write_batch(spark, store, late)

    sdf = (
        spark.readStream.schema(LOG_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(store)
    )
    _drain(site_key_counts_stream(sdf, key_col="http_uri", every="1 hour"), "gs_nullw")
    got = {
        (r.site, r.key): r.n
        for r in spark.sql("select * from gs_nullw").collect()
    }
    assert got == {("a", "/real"): 2, ("", "/nullsite"): 2}

    sdf2 = (
        spark.readStream.schema(LOG_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "2")
        .load(store)
    )
    _drain(group_site_topk_stream(sdf2, key_col="http_uri", k=5, m=8), "gs_nullt")
    keys = {
        (r.site, r.key)
        for r in spark.sql("select * from gs_nullt").collect()
    }
    assert ("a", "") not in keys and ("a", "None") not in keys
    assert ("a", "/real") in keys and ("", "/nullsite") in keys


def test_dedup_stream_null_text_passes_through(spark, tmp_path):
    """r7 review fix: NULL-text rows are never 'duplicates of each
    other' — dropDuplicates* treats NULL keys as equal and used to
    swallow all but the first; they now bypass the state entirely."""
    from pond_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "docs")
    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (1, t0, None),
        (2, t0 + dt.timedelta(seconds=1), "alpha"),
        (3, t0 + dt.timedelta(seconds=2), None),
        (4, t0 + dt.timedelta(seconds=3), "alpha"),
        (5, t0 + dt.timedelta(seconds=4), None),
    ]
    spark.createDataFrame(
        rows, "doc_id long, timestamp timestamp, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, timestamp timestamp, text string"
    ).parquet(src)
    out_dir = str(tmp_path / "out")
    q = (
        dedup_stream(stream, "text", "timestamp", watermark="10 seconds")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got == {1, 2, 3, 5}  # all NULLs kept; one "alpha" kept


def test_asof_join_stream_multikey_and_empty_payload(spark, tmp_path):
    """Composite join keys resolve per (key pair); a right side with
    NO payload columns (keys + ts only) still drives the carry struct
    (degenerate single-field struct) — the output is then just the
    left rows, emitted once their window closes."""
    import pyspark.sql.types as T

    from pond_spark.streaming import asof_join_stream

    lsch = T.StructType(
        [
            T.StructField("k1", T.StringType()),
            T.StructField("k2", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    rsch = T.StructType(
        [
            T.StructField("k1", T.StringType()),
            T.StructField("k2", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("tag", T.StringType()),
        ]
    )
    ldir, rdir = str(tmp_path / "ml"), str(tmp_path / "mr")
    t0 = dt.datetime(2024, 3, 1, 8)
    spark.createDataFrame(
        [("a", 1, t0 + dt.timedelta(seconds=30), 1),
         ("a", 2, t0 + dt.timedelta(seconds=30), 2)],
        lsch,
    ).coalesce(1).write.mode("append").parquet(ldir)
    spark.createDataFrame(
        [("a", 1, t0, "one"), ("a", 2, t0, "two")], rsch
    ).coalesce(1).write.mode("append").parquet(rdir)
    for hh in (1, 2):
        spark.createDataFrame(
            [("z", 0, t0 + dt.timedelta(hours=hh), 9)], lsch
        ).coalesce(1).write.mode("append").parquet(ldir)
        spark.createDataFrame(
            [("z", 0, t0 + dt.timedelta(hours=hh), "zz")], rsch
        ).coalesce(1).write.mode("append").parquet(rdir)

    ls = spark.readStream.schema(lsch).option("maxFilesPerTrigger", "1").parquet(ldir)
    rs = spark.readStream.schema(rsch).option("maxFilesPerTrigger", "1").parquet(rdir)
    _drain(
        asof_join_stream(ls, rs, ["k1", "k2"], horizon_seconds=60),
        "asof_mk",
        timeout=180,
    )
    got = {
        (r.k1, r.k2, r.event_id): r.tag
        for r in spark.sql("select * from asof_mk where k1 != 'z'").collect()
    }
    # composite keys must not cross: (a,1) gets "one", (a,2) gets "two"
    assert got == {("a", 1, 1): "one", ("a", 2, 2): "two"}

    # empty payload (right = keys + ts only) REFUSES: with nothing
    # referencing the right side, Catalyst eliminates the join and the
    # right source while its watermark node pins the global watermark
    # at epoch — the stream would silently never emit
    rs2 = (
        spark.readStream.schema(rsch)
        .option("maxFilesPerTrigger", "1")
        .parquet(rdir)
        .drop("tag")
    )
    with pytest.raises(ValueError, match="no payload columns"):
        asof_join_stream(ls, rs2, ["k1", "k2"], horizon_seconds=60)


def test_value_quantiles_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming bottom-k value quantiles: after the stream drains,
    each site's LAST emitted row equals the batch sketch serve path
    (build_value_sketches + value_quantiles_over_range) on the same
    rows — the merge identity across micro-batches — and a re-
    delivered row does not skew the sample (dedupe on (bk, rid))."""
    from pond_spark.operators.sketches import (
        build_value_sketches,
        value_quantiles_over_range,
    )
    from pond_spark.streaming import value_quantiles_stream

    store = str(tmp_path / "store")
    t0 = dt.datetime(2024, 3, 1, 8)

    def vrows(ids, site):
        rows = _rows(ids, site, t0)
        for r in rows:
            r["duration_us"] = (r["id"] * 37) % 1000
        return rows

    _write_batch(spark, store, vrows(range(1, 40), "a") + vrows([100], "b"))
    _write_batch(spark, store, vrows(range(40, 80), "a") + vrows([101], "b"))
    _write_batch(spark, store, vrows(range(40, 50), "a"))  # re-delivery

    sdf = (
        spark.readStream.schema(LOG_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(store)
    )
    _drain(
        value_quantiles_stream(
            sdf, k=16, quantiles=(0.5, 0.9), value_col="duration_us"
        ),
        "vq_live",
        timeout=120,
    )
    rows = spark.sql("select * from vq_live").collect()
    # last emission per site (rows append in batch order)
    last = {}
    for r in rows:
        last[r.site] = (r.n_sample, r.q50, r.q90)

    path = str(tmp_path / "sk")
    build_value_sketches(
        spark.read.parquet(store).dropDuplicates(["id"]),
        path,
        k=16,
        value_col="duration_us",
    )
    exp = {
        r.site: (r.n_sample, r.q50, r.q90)
        for r in value_quantiles_over_range(
            spark, path, "2020-01-01", "2030-01-01", k=16
        ).collect()
    }
    assert last == exp
    assert last["a"][0] == 16  # site a saturated the sample
    assert last["b"][0] == 2  # site b exact while under k


def test_cusum_stream_state_survives_checkpoint_restart(spark, tmp_path):
    """Stateful-twin recovery: stop the CUSUM query after a partial
    run, land more data, restart a NEW query object on the SAME
    checkpoint — the open hour's count must resume from the restored
    state (an hour spanning the restart closes with the CROSS-RESTART
    total), with no duplicate or lost emissions in the sink."""
    from pond_spark.streaming import cusum_stream

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    t0 = dt.datetime(2024, 3, 1, 8)

    def hr_rows(ids, hour, minute=5):
        rows = _rows(ids, "a", t0)
        for j, r in enumerate(rows):
            r["timestamp"] = t0 + dt.timedelta(hours=hour, minutes=minute + j)
        return rows

    def run_available_now():
        sdf = (
            spark.readStream.schema(LOG_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(store)
        )
        q = (
            cusum_stream(sdf, k=2)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # phase 1: hour 0 (3 events) closes when hour 1 opens (2 events)
    _write_batch(spark, store, hr_rows(range(1, 4), 0))
    _write_batch(spark, store, hr_rows(range(4, 6), 1))
    run_available_now()
    got1 = {
        (r.hour, r.cnt, r.cusum)
        for r in spark.read.parquet(sink).collect()
    }
    assert got1 == {(t0, 3, 1)}  # s = max(0, 3-2) = 1

    # phase 2 (restart): 2 MORE hour-1 events, then hour 2 closes it —
    # cnt must be the cross-restart total 4, cusum folds from s=1
    _write_batch(spark, store, hr_rows(range(6, 8), 1, minute=40))
    _write_batch(spark, store, hr_rows([9], 2))
    run_available_now()
    got2 = {
        (r.hour, r.cnt, r.cusum)
        for r in spark.read.parquet(sink).collect()
    }
    assert got2 == {
        (t0, 3, 1),
        (t0 + dt.timedelta(hours=1), 4, 3),  # s = max(0, 1+4-2) = 3
    }


def test_state_partitions_parameter_sizes_state_store(spark, tmp_path):
    """VERDICT r7 ask #3: the shuffle-partition deployment rule made
    executable — ``state_partitions=`` on a streaming constructor sets
    the count the stateful operator's state store is created with
    (asserted against the checkpoint's state directory layout), and a
    RESTART from that checkpoint keeps the pinned count even when the
    parameter asks for a different one (Spark reuses the offset-log
    value; documented refusal semantics)."""
    import os

    import pyspark.sql.types as T

    from pond_spark.streaming import value_quantiles_stream

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    sch = T.StructType(
        [
            T.StructField("site", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "vsrc")
    rows = [(f"s{i % 5}", i, float(i)) for i in range(100)]
    spark.createDataFrame(rows, sch).coalesce(2).write.parquet(src)

    def run(ckpt, **kw):
        sdf = spark.readStream.schema(sch).parquet(src)
        q = (
            value_quantiles_stream(sdf, k=8, **kw)
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    def state_parts(ckpt):
        return sorted(
            d
            for d in os.listdir(os.path.join(ckpt, "state", "0"))
            if d.isdigit()
        )

    try:
        ck3 = str(tmp_path / "ck3")
        run(ck3, state_partitions=3)
        assert state_parts(ck3) == ["0", "1", "2"]
        # the conf the query captured is visible on the session
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"

        # restart the SAME checkpoint asking for 5: the checkpoint pins
        # 3 — the parameter has no effect on an existing stream
        run(ck3, state_partitions=5)
        assert state_parts(ck3) == ["0", "1", "2"]

        # a FRESH checkpoint honors the current ask
        ck2 = str(tmp_path / "ck2")
        run(ck2, state_partitions=2)
        assert state_parts(ck2) == ["0", "1"]

        import pytest as _pytest

        with _pytest.raises(ValueError, match="positive"):
            value_quantiles_stream(
                spark.readStream.schema(sch).parquet(src),
                state_partitions=0,
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_asof_stream_horizon_holds_back_emission(spark, tmp_path):
    """Pins the r8 in-round finding: the left-outer join delays its
    output watermark by the HORIZON (state retention), so the emit
    window closes only once the input watermark passes
    ``window_end + horizon``. A sentinel just SHORT of that line must
    deliver nothing; a sentinel past it must deliver the seed rows
    with their carried payload. Deterministic via two availableNow
    drains over one checkpoint."""
    import pyspark.sql.types as T

    from pond_spark.streaming import asof_join_stream

    lsch = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("site", T.StringType()),
            T.StructField("timestamp", T.TimestampType()),
        ]
    )
    rsch = T.StructType(
        [
            T.StructField("site", T.StringType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("cfg", T.StringType()),
        ]
    )
    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    h_open = t0 + dt.timedelta(minutes=30)
    horizon = 1900  # seconds; covers the 30-min seed gap
    ldir, rdir = str(tmp_path / "hl"), str(tmp_path / "hr")
    ckpt = str(tmp_path / "hckpt")
    spark.createDataFrame(
        [(i, "k", h_open) for i in range(3)], lsch
    ).coalesce(1).write.mode("append").parquet(ldir)
    spark.createDataFrame([("k", t0, "v1")], rsch).coalesce(1).write.mode(
        "append"
    ).parquet(rdir)
    # window [00:30, 00:31); close line = 00:31 + horizon (+ wm delay)
    close_line = h_open + dt.timedelta(minutes=1, seconds=horizon)

    def drain(name):
        got: set = set()

        def sink(df, _bid):
            got.update((r.site, r.cfg) for r in df.collect())

        ls = spark.readStream.schema(lsch).parquet(ldir)
        rs = spark.readStream.schema(rsch).parquet(rdir)
        q = (
            asof_join_stream(ls, rs, ["site"], horizon_seconds=horizon)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    def sentinel(ts):
        spark.createDataFrame([(99, "zz", ts)], lsch).coalesce(1).write.mode(
            "append"
        ).parquet(ldir)
        spark.createDataFrame([("zz", ts, "vx")], rsch).coalesce(1).write.mode(
            "append"
        ).parquet(rdir)

    # watermark lands ~1 min SHORT of the close line: nothing delivers
    sentinel(close_line - dt.timedelta(minutes=1))
    assert drain("asof_hold1") == set()
    # watermark clears the line (+ delay slack): the seed rows deliver
    sentinel(close_line + dt.timedelta(minutes=5))
    sentinel(close_line + dt.timedelta(minutes=10))
    assert ("k", "v1") in drain("asof_hold2")

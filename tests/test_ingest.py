"""Ingest pipeline tests: parse/malformed counters, the per-site token
bucket (behavior port of test/TestDatabase.cxx:425-496), retention
(port of the eviction test, TestDatabase.cxx:48-97), store round-trip."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import uuid
import warnings

import pytest

from pond_spark.sources import LogStore, apply_retention, ingest_batch, rate_limit


def _dg(i, ts=None, site=None, type_="http_access", **kw):
    rec = {"id": i, "type": type_}
    if ts is not None:
        rec["timestamp"] = ts.isoformat()
    if site is not None:
        rec["site"] = site
    rec.update(kw)
    return json.dumps(rec)


def test_ingest_counts_malformed(spark):
    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (_dg(1, t0, "a"),),
        ("not json at all",),
        (_dg(2, t0, "b"),),
        (None,),
        ("x" * 4096,),  # truncation guard: size >= 4096 ⇒ malformed
    ]
    raw = spark.createDataFrame(rows, "payload string")
    res = ingest_batch(raw)
    assert res.n_received == 5
    assert res.n_malformed == 3
    assert res.n_discarded == 0
    assert sorted(r.id for r in res.stored.collect()) == [1, 2]


def test_ingest_metrics_persist_and_stats_fold(spark, tmp_path):
    """ingest_batch(metrics_dir=...) appends one counter row per batch;
    stats(metrics=...) folds the table into the full STATS counter set
    (src/Protocol.hxx:240-264 parity)."""
    from pond_spark.operators.stats import stats

    t0 = dt.datetime(2024, 1, 1, 10)
    mdir = str(tmp_path / "metrics")
    raw1 = spark.createDataFrame(
        [(_dg(1, t0, "a"),), ("nope",), (_dg(2, t0, "b"),)], "payload string"
    )
    # batch 2: 7 same-second messages on one site at rate 0.5 (burst 5)
    msgs = [(_dg(10 + i, t0, "m", type_="http_error"),) for i in range(7)]
    raw2 = spark.createDataFrame(msgs, "payload string")

    r1 = ingest_batch(raw1, metrics_dir=mdir, batch_id=1)
    r2 = ingest_batch(raw2, rate=0.5, metrics_dir=mdir, batch_id=2)
    assert (r1.n_received, r1.n_malformed, r1.n_discarded) == (3, 1, 0)
    assert (r2.n_received, r2.n_malformed, r2.n_discarded) == (7, 0, 2)

    stored = r1.stored.unionByName(r2.stored)
    metrics = spark.read.parquet(mdir)
    row = stats(stored, metrics=metrics).collect()[0]
    assert row.n_records == 7
    assert (row.n_received, row.n_malformed, row.n_discarded) == (10, 1, 2)


def _new_executions(spark):
    """Snapshot the SQL status store; the returned function gives the
    job count of each SQL execution that started since the snapshot."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def newest(n):
        bus.waitUntilEmpty()
        total = store.executionsCount()
        if not total:
            return []
        seq = store.executionsList(max(0, total - n), min(total, n))
        return [seq.apply(i) for i in range(seq.size())]

    before = max([e.executionId() for e in newest(1)], default=-1)
    return lambda: [
        e.jobs().size() for e in newest(20) if e.executionId() > before
    ]


def _rate_batch(spark):
    """7 same-second messages on one site at rate 0.5 (burst 5), one
    exempt record and one malformed datagram: counters (9, 1, 2)."""
    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [(_dg(i, t0, "m", type_="http_error"),) for i in range(1, 8)]
    rows += [(_dg(20, t0, "a"),), ("nope",)]
    return spark.createDataFrame(rows, "payload string")


def test_ingest_batch_runs_one_sql_execution(spark):
    """A rate-limited batch is one pass: the only SQL execution that
    runs Spark jobs is the flagged frame's checkpoint, on which the
    three counters are observed as rows pass. The lazy checkpoint that
    lets the bucket's two branches share one parse is a second
    execution that runs no job."""
    raw = _rate_batch(spark)
    jobs = _new_executions(spark)
    res = ingest_batch(raw, rate=0.5)
    assert len([j for j in jobs() if j]) == 1, jobs()
    assert (res.n_received, res.n_malformed, res.n_discarded) == (9, 1, 2)
    assert sorted(r.id for r in res.stored.collect()) == [1, 2, 3, 4, 5, 20]


def test_ingest_batch_metrics_write_starts_no_job(spark, tmp_path):
    """Writing the metrics row starts no Spark job: the call with
    metrics_dir starts exactly as many jobs as the call without it."""
    raw = _rate_batch(spark)
    counts = []
    for mdir in (None, str(tmp_path / "metrics")):
        jobs = _new_executions(spark)
        res = ingest_batch(raw, rate=0.5, metrics_dir=mdir, batch_id=4)
        counts.append(sum(jobs()))
        assert (res.n_received, res.n_malformed, res.n_discarded) == (9, 1, 2)
    assert counts[0] == counts[1], counts
    rows = spark.read.parquet(str(tmp_path / "metrics")).collect()
    assert [tuple(r) for r in rows] == [(4, 9, 1, 2)]


def _ingest_returns(raw, **kw):
    """ingest_batch in a daemon thread: a counter read that blocks
    fails the test instead of hanging it."""
    out = []
    t = threading.Thread(
        target=lambda: out.append(ingest_batch(raw, **kw)), daemon=True
    )
    t.start()
    t.join(120)
    assert out, "ingest_batch did not return"
    return out[0]


@pytest.mark.parametrize("partitions", [0, 4])
def test_ingest_empty_batch_counts_zero_and_writes_no_row(
    spark, tmp_path, partitions
):
    sc = spark.sparkContext
    rdd = sc.parallelize([], partitions) if partitions else sc.emptyRDD()
    raw = spark.createDataFrame(rdd, "payload string")
    assert raw.rdd.getNumPartitions() == partitions
    mdir = tmp_path / "metrics"
    res = _ingest_returns(raw, rate=0.5, metrics_dir=str(mdir))
    assert (res.n_received, res.n_malformed, res.n_discarded) == (0, 0, 0)
    assert res.stored.count() == 0
    assert not mdir.exists()


def test_ingest_all_malformed_batch(spark, tmp_path):
    raw = spark.createDataFrame([("nope",), (None,)], "payload string")
    mdir = str(tmp_path / "metrics")
    res = _ingest_returns(raw, rate=0.5, metrics_dir=mdir, batch_id=7)
    assert (res.n_received, res.n_malformed, res.n_discarded) == (2, 2, 0)
    assert res.stored.count() == 0
    assert [tuple(r) for r in spark.read.parquet(mdir).collect()] == [
        (7, 2, 2, 0)
    ]


def test_ingest_rate_zero_discards_nothing(spark):
    res = _ingest_returns(_rate_batch(spark), rate=0.0)
    assert (res.n_received, res.n_malformed, res.n_discarded) == (9, 1, 0)
    assert sorted(r.id for r in res.stored.collect()) == [1, 2, 3, 4, 5, 6, 7, 20]


def _assert_metrics_totals(spark, mdir, stored, want):
    """read_metrics and stats(metrics=) both give the hand-summed
    (n_received, n_malformed, n_discarded) totals."""
    from pond_spark.operators.stats import stats
    from pond_spark.streaming import read_metrics

    rows = read_metrics(spark, mdir).collect()
    assert tuple(sum(r[c] for r in rows) for c in want) == tuple(want.values())
    row = stats(stored, metrics=read_metrics(spark, mdir)).collect()[0]
    assert tuple(row[c] for c in want) == tuple(want.values())


def test_metrics_writer_file_uri(spark, tmp_path):
    """A file: URI metrics_dir goes through the Hadoop FileSystem."""
    mdir = "file:" + str(tmp_path / "metrics")
    r1 = ingest_batch(_rate_batch(spark), rate=0.5, metrics_dir=mdir, batch_id=1)
    r2 = ingest_batch(_rate_batch(spark), metrics_dir=mdir, batch_id=2)
    # besides them only Hadoop's hidden .crc checksum files
    live = [n for n in os.listdir(tmp_path / "metrics") if n[0] != "."]
    assert len(live) == 2
    assert all(n.startswith("part-") and n.endswith(".parquet") for n in live)
    _assert_metrics_totals(
        spark,
        mdir,
        r1.stored.unionByName(r2.stored),
        {"n_received": 18, "n_malformed": 2, "n_discarded": 2},
    )


def test_metrics_writer_appends_to_spark_written_rows(spark, tmp_path):
    """A directory holding a row from a Spark parquet write (the older
    writer) reads back together with the rows written now."""
    from pond_spark.sources.ingest import METRICS_SCHEMA

    mdir = str(tmp_path / "metrics")
    spark.createDataFrame([(0, 5, 1, 1)], METRICS_SCHEMA).write.mode(
        "append"
    ).parquet(mdir)
    res = ingest_batch(_rate_batch(spark), rate=0.5, metrics_dir=mdir, batch_id=1)
    _assert_metrics_totals(
        spark,
        mdir,
        res.stored,
        {"n_received": 14, "n_malformed": 2, "n_discarded": 3},
    )


def test_metrics_reader_skips_staged_file(spark, tmp_path):
    """A staged ``_part-*.parquet`` left by a crash mid-write (here a
    torn one) is never read."""
    mdir = tmp_path / "metrics"
    res = ingest_batch(
        _rate_batch(spark), rate=0.5, metrics_dir=str(mdir), batch_id=1
    )
    (live,) = os.listdir(mdir)
    torn = (mdir / live).read_bytes()[:100]
    (mdir / f"_part-{uuid.uuid4()}.parquet").write_bytes(torn)
    _assert_metrics_totals(
        spark,
        str(mdir),
        res.stored,
        {"n_received": 9, "n_malformed": 1, "n_discarded": 2},
    )


def test_ingest_oversized_messages_take_no_token(spark):
    """Well-formed http_error datagrams with a site that hit the
    4096-byte guard are malformed: counted, not stored, and they never
    take a token from their site's bucket, even when they sort first."""
    t0 = dt.datetime(2024, 1, 1, 10)
    big = [
        (_dg(i, t0, "m", type_="http_error", message="x" * 4096),)
        for i in range(1, 4)
    ]
    assert all(len(p.encode()) >= 4096 for (p,) in big)
    # 7 same-second messages on the same site at rate 0.5 (burst 5)
    msgs = [(_dg(i, t0, "m", type_="http_error"),) for i in range(10, 17)]
    other = [(_dg(20, t0, "m"),), ("not json",)]
    raw = spark.createDataFrame(big + msgs + other, "payload string")
    res = ingest_batch(raw, rate=0.5)
    assert (res.n_received, res.n_malformed, res.n_discarded) == (12, 4, 2)
    assert sorted(r.id for r in res.stored.collect()) == [10, 11, 12, 13, 14, 20]


def test_rate_limit_raises_no_user_warning(spark):
    """The grouped map's function carries no partial type hints, so
    PySpark does not warn that it cannot infer the eval type."""
    df = _msg_rows(spark, 3, "a", dt.datetime(2024, 1, 1, 10))
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        out = rate_limit(df, rate=1.0)
    assert out.filter("_discarded").count() == 0


def _msg_rows(spark, n, site, t0, spacing_s=0.0):
    rows = []
    for i in range(n):
        ts = t0 + dt.timedelta(seconds=i * spacing_s)
        rows.append((i + 1, ts, site, "http_error"))
    return spark.createDataFrame(rows, "id long, timestamp timestamp, site string, type string")


def test_rate_limit_burst_then_discard(spark):
    # rate=10/s, burst=100: 150 messages in the same second → 100 pass
    t0 = dt.datetime(2024, 1, 1, 10)
    df = _msg_rows(spark, 150, "a", t0, spacing_s=0)
    out = rate_limit(df, rate=10.0)
    kept = out.filter("not _discarded").count()
    assert kept == 100
    # the *first* 100 in (timestamp, id) order are the ones kept
    kept_ids = sorted(r.id for r in out.filter("not _discarded").collect())
    assert kept_ids == list(range(1, 101))


def test_rate_limit_refill(spark):
    # after the burst is drained, 10/s refill admits ~10 more per second
    t0 = dt.datetime(2024, 1, 1, 10)
    burst = _msg_rows(spark, 100, "a", t0, spacing_s=0)
    later = spark.createDataFrame(
        [(1000 + i, t0 + dt.timedelta(seconds=5), "a", "http_error") for i in range(60)],
        "id long, timestamp timestamp, site string, type string",
    )
    out = rate_limit(burst.unionByName(later), rate=10.0)
    kept_later = out.filter("not _discarded and id >= 1000").count()
    assert kept_later == 50  # 5 s × 10/s refill


def test_rate_limit_per_site_independent(spark):
    t0 = dt.datetime(2024, 1, 1, 10)
    a = _msg_rows(spark, 120, "a", t0, spacing_s=0)
    b = _msg_rows(spark, 120, "b", t0, spacing_s=0).selectExpr(
        "id + 1000 as id", "timestamp", "site", "type"
    )
    out = rate_limit(a.unionByName(b), rate=10.0)
    assert out.filter("not _discarded and site = 'a'").count() == 100
    assert out.filter("not _discarded and site = 'b'").count() == 100


def test_rate_limit_only_messages_with_site(spark):
    t0 = dt.datetime(2024, 1, 1, 10)
    rows = (
        [(i, t0, "a", "http_access") for i in range(1, 201)]       # not messages
        + [(200 + i, t0, None, "http_error") for i in range(1, 201)]  # no site
    )
    df = spark.createDataFrame(rows, "id long, timestamp timestamp, site string, type string")
    out = rate_limit(df, rate=1.0)
    assert out.filter("_discarded").count() == 0


def test_retention_age_and_size(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    t0 = dt.datetime(2024, 1, 1)
    for day in range(1, 6):
        df = spark.createDataFrame(
            [(day * 100 + i, t0 + dt.timedelta(days=day, minutes=i)) for i in range(50)],
            "id long, timestamp timestamp",
        )
        df.coalesce(1).toPandas().to_parquet(f"{store}/day{day}.parquet")
    rep = apply_retention(
        store,
        max_age=dt.timedelta(days=3),
        now=t0 + dt.timedelta(days=5, hours=1),
    )
    assert [os.path.basename(f) for f in rep.dropped_age] == ["day1.parquet", "day2.parquet"]
    remaining = sorted(os.listdir(store))
    assert remaining == ["day3.parquet", "day4.parquet", "day5.parquet"]
    # size cap: keep only the newest file's worth of bytes
    one_file = os.path.getsize(f"{store}/day5.parquet")
    rep2 = apply_retention(store, max_bytes=one_file + 10)
    assert len(rep2.dropped_size) == 2
    assert sorted(os.listdir(store)) == ["day5.parquet"]


def test_store_roundtrip_and_clone(spark, tmp_path, logs):
    s1 = LogStore(spark, str(tmp_path / "s1"))
    s1.append(logs)
    back = s1.read()
    assert back.count() == 8
    assert sorted(r.id for r in back.select("id").collect()) == list(range(1, 9))
    # clone (S3): wholesale copy into a second store
    s2 = LogStore(spark, str(tmp_path / "s2"))
    s2.clone_from(s1)
    assert s2.read().count() == 8
    # inject (S2): append more rows
    s2.append(logs.limit(2))
    assert s2.read().count() == 10


def test_store_compact_merges_small_files(spark, tmp_path, logs):
    """Also: store writes run under TIMESTAMP_MICROS but must not leak
    ``outputTimestampType`` into the session — a preset INT96 survives
    both append and compact."""
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        s = LogStore(spark, str(tmp_path / "c"))
        for _ in range(4):  # repeated appends → many small files per date
            s.append(logs)
        assert spark.conf.get(key) == "INT96"  # append didn't leak
        before = s.read().count()
        pdirs = sorted(glob.glob(str(tmp_path / "c" / "p_date=*")))
        assert pdirs
        files_before = sum(
            len(glob.glob(os.path.join(d, "*.parquet"))) for d in pdirs
        )
        report = s.compact()
        assert spark.conf.get(key) == "INT96"  # compact didn't leak
    finally:
        spark.conf.set(key, old)
    files_after = sum(
        len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(str(tmp_path / "c" / "p_date=*"))
    )
    assert sum(report.values()) == files_before - files_after
    assert files_after < files_before
    assert s.read().count() == before  # data unchanged


def test_compactions_never_set_partition_overwrite_conf(
    spark, tmp_path, logs, monkeypatch
):
    """LogStore.compact and IVFIndex.compact overwrite only the
    partitions they rewrite through the writer option, never the
    process-global partitionOverwriteMode session conf (their rewrites
    run from several threads)."""
    from pond_spark.similarity.index import build_ivf_index

    store = LogStore(spark, str(tmp_path / "s"))
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    idx = build_ivf_index(vecs, str(tmp_path / "ivf"), n_centroids=2)
    for _ in range(3):
        store.append(logs)
        idx.append(vecs)
    keys = []
    real_set = spark.conf.set
    monkeypatch.setattr(
        spark.conf, "set", lambda k, v: (keys.append(k), real_set(k, v))
    )
    assert store.compact() and idx.compact()
    monkeypatch.undo()
    assert keys  # the spy saw the timestamp-type scoping
    assert not [k for k in keys if "partitionOverwriteMode" in k]


def test_store_retain_drops_aged_partitions(spark, tmp_path, logs):
    s = LogStore(spark, str(tmp_path / "r"))
    s.append(logs)
    assert s.read().count() == 8
    newest = max(
        r.timestamp
        for r in s.read().select("timestamp").collect()
        if r.timestamp is not None
    )
    rep = s.retain(max_age=dt.timedelta(0), now=newest + dt.timedelta(days=400))
    assert rep.dropped_age  # every dated file aged out
    remaining = glob.glob(str(tmp_path / "r" / "p_date=*"))
    # dated dirs pruned; the null-timestamp partition has no footer
    # time stats so age-based retention (correctly) leaves it
    assert remaining == [str(tmp_path / "r" / "p_date=unknown")]


def test_store_read_time_bounds_prune_partitions(spark, tmp_path, logs):
    from pond_spark.plans import formatted_plan

    s = LogStore(spark, str(tmp_path / "p"))
    s.append(logs)
    since, until = dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 2, 23)
    df = s.read(since=since, until=until)
    got = sorted(r.id for r in df.collect())
    want = sorted(
        r.id
        for r in s.read().collect()
        if r.timestamp is not None and since <= r.timestamp <= until
    )
    assert got == want and got  # non-trivial
    plan = formatted_plan(df)
    # the derived p_date predicate must reach the scan as a partition
    # filter (directory pruning), the timestamp bound as a data filter
    assert "PartitionFilters" in plan and "p_date" in plan.split("PartitionFilters")[1][:200]


def test_store_read_aware_bounds_use_utc_dates(spark, tmp_path):
    """An aware since/until names an instant; the p_date bound must be
    that instant's UTC date, not the date in the value's own zone (which
    pruned a whole day of matching rows)."""
    from pond_spark.schema import LOG_SCHEMA

    base = dict.fromkeys(f.name for f in LOG_SCHEMA.fields)
    rows = [
        {**base, "id": i, "timestamp": ts, "site": "s", "type": "t"}
        for i, ts in enumerate(
            [dt.datetime(2024, 1, 4, 23, 30), dt.datetime(2024, 1, 5, 2)]
        )
    ]
    s = LogStore(spark, str(tmp_path / "tz"))
    s.append(spark.createDataFrame(rows, LOG_SCHEMA))

    def ids(**bounds):
        return sorted(r.id for r in s.read(**bounds).select("id").collect())

    plus2 = dt.timezone(dt.timedelta(hours=2))
    minus5 = dt.timezone(dt.timedelta(hours=-5))
    # 2024-01-05T01:00+02:00 == 2024-01-04T23:00Z
    assert ids(since=dt.datetime(2024, 1, 5, 1, tzinfo=plus2)) == [0, 1]
    assert ids(since=dt.datetime(2024, 1, 4, 23)) == [0, 1]
    # 2024-01-04T23:45-05:00 == 2024-01-05T04:45Z
    assert ids(until=dt.datetime(2024, 1, 4, 23, 45, tzinfo=minus5)) == [0, 1]
    assert ids(until=dt.datetime(2024, 1, 5, 4, 45)) == [0, 1]


def test_rate_limit_null_type_rows_survive(spark):
    """Regression (r4 review): a row with type=NULL and a site set
    matched neither the charged filter nor its ~negation under
    three-valued logic and silently vanished from the union. It must
    pass through exempt with _discarded=False."""
    import datetime as dt

    from pond_spark.schema import LOG_SCHEMA
    from pond_spark.sources.ingest import rate_limit

    t0 = dt.datetime(2024, 1, 1, 10)
    base = dict.fromkeys([f.name for f in LOG_SCHEMA.fields])
    rows = []
    for i, typ in [(1, "http_error"), (2, None), (3, "http_access"), (4, "http_error")]:
        r = dict(base)
        r.update(id=i, timestamp=t0, site="s1", type=typ)
        rows.append(r)
    df = spark.createDataFrame(rows, LOG_SCHEMA)
    out = {r.id: r._discarded for r in rate_limit(df, rate=1.0).collect()}
    assert set(out) == {1, 2, 3, 4}  # nothing vanished
    assert out[2] is False and out[3] is False  # exempt rows

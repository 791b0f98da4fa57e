"""Operator tests: accumulate, age-only, stats, sessionization,
anonymize, sanitize, geoip, formatter."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pond_spark.functions.anonymize import anonymize_ip
from pond_spark.functions.format import OneLineOptions, one_line
from pond_spark.functions.geoip import geoip_country, ipv4_to_long, resolve_forwarded_to
from pond_spark.functions.sanitize import sanitize_site
from pond_spark.operators.accumulate import accumulate_more, accumulate_top, age_only
from pond_spark.operators.sessionize import track_visitors
from pond_spark.operators.stats import stats


def test_accumulate_top(logs):
    out = accumulate_top(logs, "remote_host", 2).collect()
    assert [(r["count"], r["value"]) for r in out] == [(3, "1.2.3.4"), (2, "1.2.3.5")]


def test_accumulate_top_drops_nulls(logs):
    out = accumulate_top(logs, "host", 10).collect()
    values = {r["value"] for r in out}
    assert None not in values
    assert ("h1") in values and ("") in values


def test_accumulate_more(logs):
    out = accumulate_more(logs, "site", 2).collect()
    assert {(r["count"], r["value"]) for r in out} == {(3, "a"), (2, "b")}


def test_age_only(logs):
    now = F.lit(dt.datetime(2024, 1, 3, 9))
    out = age_only(logs, now).collect()
    assert len(out) == 7  # NULL-timestamp record skipped
    # id 8 at 08:00:00.000001 — whole-second truncation before subtraction
    assert min(r.age_s for r in out) == 3600


def test_stats(logs):
    row = stats(logs).collect()[0]
    assert row.n_records == 8
    assert row.memory_usage > 0


def test_sessionize_gap_splits(spark):
    import pandas as pd

    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        # host A: 3 hits within 30 min → one session, then 31-min gap → new
        (1, t0, "A"),
        (2, t0 + dt.timedelta(minutes=10), "A"),
        (3, t0 + dt.timedelta(minutes=29), "A"),
        (4, t0 + dt.timedelta(minutes=60, seconds=1), "A"),
        # host B independent
        (5, t0, "B"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "timestamp", "remote_host"])
    )
    out = track_visitors(df, opaque=False).orderBy("id").collect()
    vids = [r.visitor_id for r in out]
    assert vids[0] == vids[1] == vids[2] == "A/1"
    assert vids[3] == "A/2"
    assert vids[4] == "B/1"


def test_sessionize_participation(spark):
    """Only http_access records with host+timestamp get visitor ids
    (ResultWriter.cxx:292-301); everyone else gets NULL — and does not
    break sessions or consume ordinals."""
    import pandas as pd

    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (1, t0, "A", "http_access"),
        (2, t0 + dt.timedelta(minutes=5), "A", "http_error"),  # wrong type
        (3, t0 + dt.timedelta(minutes=10), None, "http_access"),  # no host
        (4, None, "A", "http_access"),  # no timestamp
        (5, t0 + dt.timedelta(minutes=15), "A", "http_access"),
        # a 40-min gap for host A *as seen by participants only*
        (6, t0 + dt.timedelta(minutes=55), "A", "http_access"),
        (7, t0 + dt.timedelta(minutes=56), "A", None),  # NULL type
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "timestamp", "remote_host", "type"])
    )
    out = {r.id: r.visitor_id for r in track_visitors(df, opaque=False).collect()}
    assert out[1] == out[5] == "A/1"
    assert out[6] == "A/2"
    assert out[2] is None and out[3] is None and out[4] is None and out[7] is None


def test_sessionize_scope_reset(spark):
    import pandas as pd

    t0 = dt.datetime(2024, 1, 1, 10)
    df = spark.createDataFrame(
        pd.DataFrame(
            [(1, t0, "A", "s1"), (2, t0 + dt.timedelta(minutes=5), "A", "s2")],
            columns=["id", "timestamp", "remote_host", "site"],
        )
    )
    # per-file scope (P3 reset, ResultWriter.cxx:358-362): same host in two
    # scopes gets independent ordinals
    out = track_visitors(df, scope_col="site", opaque=False).orderBy("id").collect()
    assert [r.visitor_id for r in out] == ["s1/A/1", "s2/A/1"]


def test_anonymize(spark):
    df = spark.createDataFrame(
        [("1.2.3.4",), ("10.0.200.255",), ("2001:db8:1:2::5",), ("not-an-ip",), (None,)],
        "ip string",
    )
    out = [r.a for r in df.select(anonymize_ip(F.col("ip")).alias("a")).collect()]
    assert out == ["1.2.3.0", "10.0.200.0", "2001:db8::", "not-an-ip", None]


def test_sanitize(spark):
    df = spark.createDataFrame(
        [("foo.example",), ("a/b",), ("ok123",), ("!!!",), (None,)], "s string"
    )
    out = [r.x for r in df.select(sanitize_site(F.col("s")).alias("x")).collect()]
    assert out == ["foo_example", "a_b", "ok123", None, None]


def test_ipv4_to_long(spark):
    df = spark.createDataFrame([("0.0.0.1",), ("10.0.0.0",), ("junk",)], "ip string")
    out = [r.n for r in df.select(ipv4_to_long(F.col("ip")).alias("n")).collect()]
    assert out == [1, 167772160, None]


def test_geoip_country(spark):
    logs = spark.createDataFrame(
        [(1, "10.0.0.5"), (2, "10.9.9.9"), (3, "fe80::1"), (4, None)],
        "id long, remote_host string",
    )
    geo = spark.createDataFrame(
        [(167772160, 167772415, "DE")],  # 10.0.0.0 - 10.0.0.255
        "ip_start long, ip_end long, country string",
    )
    out = {r.id: r.country for r in geoip_country(logs, geo).collect()}
    assert out == {1: "DE", 2: "-", 3: "-", 4: "-"}


def test_resolve_forwarded_to(spark):
    logs = spark.createDataFrame(
        [(1, "10.0.0.1:8080"), (2, "10.0.0.9:8080"), (3, None)],
        "id long, forwarded_to string",
    )
    lut = spark.createDataFrame(
        [("10.0.0.1:8080", "backend-a")], "address string, name string"
    )
    out = {r.id: r.forwarded_to for r in resolve_forwarded_to(logs, lut).collect()}
    assert out == {1: "backend-a", 2: "10.0.0.9:8080", 3: None}


def test_one_line_format(logs):
    out = logs.filter(F.col("id") == 1).select(one_line()).collect()[0].line
    assert out == (
        'a 1.2.3.4 - - [01/Jan/2024:10:00:00 +0000] "GET /api/v1/x" 200 - "-" "-"'
    )


def test_one_line_toggles(logs):
    opts = OneLineOptions(show_site=False, show_host=True, iso8601=True,
                          show_referer=False, show_agent=False)
    out = logs.filter(F.col("id") == 4).select(one_line(opts)).collect()[0].line
    # empty-string host renders as the empty field (only NULL gets '-')
    assert out == '2001:db8::1  - - [2024-01-02T09:00:00.000Z] "HEAD /index.html" 204 -'


# ---------------------------------------------------------------------------
# skew salting


def test_salted_join_matches_plain_join(spark):
    from pond_spark.operators.skew import salted_join

    # skewed probe: one hot key dominating
    probe = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(k, 0) for k in range(2, 30)],
        "k long, payload long",
    )
    build = spark.createDataFrame(
        [(k, f"v{k}") for k in range(1, 25)], "k long, attr string"
    )
    plain = probe.join(build, ["k"]).collect()
    salted = salted_join(probe, build, ["k"], salt=4).collect()
    key = lambda r: (r.k, r.payload, r.attr)  # noqa: E731
    assert sorted(map(key, salted)) == sorted(map(key, plain))


def test_salted_join_left_keeps_unmatched(spark):
    from pond_spark.operators.skew import salted_join

    probe = spark.createDataFrame([(1, 10), (99, 20)], "k long, payload long")
    build = spark.createDataFrame([(1, "x")], "k long, attr string")
    got = {
        (r.k, r.attr)
        for r in salted_join(probe, build, ["k"], salt=3, how="left").collect()
    }
    assert got == {(1, "x"), (99, None)}


# ---------------------------------------------------------------------------
# as-of join


def test_asof_join_latest_at_or_before(spark):
    import datetime as dt

    from pond_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(0), "a"), (2, t(5), "a"), (3, t(10), "a"), (4, t(3), "b"),
         (5, None, "a")],
        "id long, timestamp timestamp, site string",
    )
    right = spark.createDataFrame(
        [("a", t(0), 100), ("a", t(5), 101), ("b", t(4), 200),
         ("a", None, 999)],
        "site string, timestamp timestamp, cfg long",
    )
    got = {r.id: r.cfg for r in asof_join(left, right, ["site"]).collect()}
    assert got[1] == 100   # tie: inclusive (right.ts <= left.ts)
    assert got[2] == 101   # exact match at t5
    assert got[3] == 101   # carry-forward past t5
    assert got[4] is None  # b's only cfg is later (t4 > t3)
    assert got[5] is None  # left without timestamp matches nothing


def test_asof_join_no_cross_row_stitching(spark):
    """r6 review fix: when the LATEST right match has NULL payload
    slots, the output must carry that row's NULLs — never combine an
    older row's non-NULL slot with the newest row's other slots."""
    import datetime as dt

    from pond_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(9), "a")], "id long, timestamp timestamp, site string"
    )
    right = spark.createDataFrame(
        [("a", t(0), 100, "old-note"), ("a", t(5), 101, None)],
        "site string, timestamp timestamp, cfg long, note string",
    )
    row = asof_join(left, right, ["site"]).collect()[0]
    assert row.cfg == 101
    assert row.note is None  # the stitch bug would resurrect 'old-note'


def test_asof_join_equal_ts_tiebreak_deterministic(spark):
    """Right rows sharing (key, ts) resolve to the greatest payload
    tuple (struct ordering, NULL smallest) — deterministically."""
    import datetime as dt

    from pond_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    left = spark.createDataFrame(
        [(1, t0, "a")], "id long, timestamp timestamp, site string"
    )
    right = spark.createDataFrame(
        [("a", t0, 7, "x"), ("a", t0, 9, None), ("a", t0, 9, "y")],
        "site string, timestamp timestamp, cfg long, note string",
    )
    row = asof_join(left, right, ["site"]).collect()[0]
    assert (row.cfg, row.note) == (9, "y")  # (9,'y') > (9,NULL) > (7,'x')


def test_asof_join_reserved_names_rejected(spark):
    import datetime as dt

    import pytest

    from pond_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0, "a", 0)], "id long, timestamp timestamp, site string, _side int"
    )
    right = spark.createDataFrame(
        [("a", t0, 1)], "site string, timestamp timestamp, cfg long"
    )
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, ["site"])


def test_rollup_by_time(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from pond_spark.operators.rollup import rollup_by_time

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 5), "a", 2.0),
        (2, dt.datetime(2024, 1, 1, 10, 55), "a", 3.0),
        (3, dt.datetime(2024, 1, 1, 11, 0), "a", 5.0),
        (4, dt.datetime(2024, 1, 1, 10, 30), "b", 7.0),
        (5, None, "a", 99.0),  # no bucket
    ]
    df = spark.createDataFrame(
        rows, "id long, timestamp timestamp, site string, value double"
    )
    out = {
        (r.bucket, r.site): (r.n, r.s)
        for r in rollup_by_time(
            df, "hour", ["site"], {"n": F.count(F.lit(1)), "s": F.sum("value")}
        ).collect()
    }
    h10 = dt.datetime(2024, 1, 1, 10)
    h11 = dt.datetime(2024, 1, 1, 11)
    assert out[(h10, "a")] == (2, 5.0)
    assert out[(h11, "a")] == (1, 5.0)
    assert out[(h10, "b")] == (1, 7.0)
    assert len(out) == 3  # null-ts row excluded


def test_rollup_hierarchy_levels_and_single_shuffle(spark):
    """ROLLUP computes every prefix level in ONE Expand+aggregate (a
    single shuffle), and gid separates aggregated-out NULLs from data
    NULLs."""
    import datetime as dt

    from pyspark.sql import functions as F

    from pond_spark.operators.rollup import rollup_hierarchy

    rows = [
        (1, dt.datetime(2024, 1, 1, 10), "a", "h1", 1.0),
        (2, dt.datetime(2024, 1, 1, 11), "a", "h2", 2.0),
        (3, dt.datetime(2024, 1, 2, 10), "b", None, 4.0),  # data NULL host
    ]
    df = spark.createDataFrame(
        rows, "id long, timestamp timestamp, site string, remote_host string, value double"
    )
    out = rollup_hierarchy(
        df, every="day", dims=["site", "remote_host"],
        aggs={"n": F.count(F.lit(1))},
    )
    got = out.collect()
    # levels: 3 leaf + 2 (bucket,site) + 2 (bucket) + 1 grand = 8
    assert len(got) == 8
    grand = [r for r in got if r.gid == 7]
    assert len(grand) == 1 and grand[0].n == 3
    # the data NULL keeps gid 0 at leaf level; the aggregated-out host
    # level carries gid 1
    leaf_null = [r for r in got if r.gid == 0 and r.remote_host is None]
    assert len(leaf_null) == 1 and leaf_null[0].site == "b"
    # single shuffle: exactly one Exchange in the final physical plan
    # (AQE's toString repeats it under "== Initial Plan ==")
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert final.count("Exchange") == 1
    assert "Expand" in final


def test_with_deltas_and_retention(spark):
    import datetime as dt

    from pond_spark.operators.rollup import (
        day_over_day_retention,
        rollup_by_time,
        with_deltas,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1, 10), "a", "u1", 1.0),
        (2, dt.datetime(2024, 1, 1, 11), "a", "u2", 1.0),
        (3, dt.datetime(2024, 1, 1, 11, 30), "a", "u1", 1.0),
        (4, dt.datetime(2024, 1, 2, 9), "a", "u1", 1.0),  # u1 retained
        (5, dt.datetime(2024, 1, 2, 9), "a", "u3", 1.0),  # u3 new
    ]
    df = spark.createDataFrame(
        rows,
        "id long, timestamp timestamp, site string, remote_host string, value double",
    )
    hourly = rollup_by_time(df, "hour", ["site"], {"n": F.count(F.lit(1))})
    d = {
        r.bucket.hour: r.n_delta
        for r in with_deltas(hourly, ["site"], "bucket", ["n"]).collect()
        if r.bucket.day == 1
    }
    assert d[10] is None  # first bucket has no predecessor
    assert d[11] == 1  # 2 events at 11h vs 1 at 10h

    ret = {r.day.day: r for r in day_over_day_retention(df).collect()}
    assert ret[1].active_users == 2 and ret[1].retained_users == 0
    assert ret[2].active_users == 2 and ret[2].retained_users == 1
    assert ret[2].retention == 0.5


def test_corpus_profile_integer_exact(spark):
    from pond_spark.operators.profile import corpus_profile

    docs = spark.createDataFrame(
        [
            (1, "one two three", "s1", "en"),
            (2, "one two three", "s1", "en"),  # exact dup of 1
            (3, "vier fünf", "s1", "de"),
            (4, "", "s2", "en"),
        ],
        ["doc_id", "text", "source", "lang"],
    )
    out = {(r.source, r.lang): r for r in corpus_profile(docs).collect()}
    en = out[("s1", "en")]
    assert (en.n_docs, en.n_tokens, en.n_unique) == (2, 6, 1)
    assert en.dup_ppm == 500_000  # half the slice is duplicate mass
    assert out[("s2", "en")].n_tokens == 0
    assert out[("s1", "de")].dup_ppm == 0


def test_chunk_documents_overlap_and_tail(spark):
    from pond_spark.operators.chunking import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, "")], ["doc_id", "text"]
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1)
    rows = sorted(
        ((r.doc_id, r.chunk_id, r.n_tokens, r.chunk_text) for r in out.collect())
    )
    # doc 1: stride 3 -> starts 0,3,6,9; start 9 covers only w9 which
    # is already inside the start-6 chunk's overlap? no: 6..9 covers
    # w6 w7 w8 w9; start 9 adds nothing beyond n=10 -> 9+1 < 10 fails
    assert [(c, t) for (d, c, n, t) in rows if d == 1] == [
        (0, "w0 w1 w2 w3"),
        (1, "w3 w4 w5 w6"),
        (2, "w6 w7 w8 w9"),
    ]
    # short doc -> one chunk, its full text
    assert [(c, n, t) for (d, c, n, t) in rows if d == 2] == [(0, 2, "a b")]
    # empty doc -> single empty-token chunk (split('') == [''])
    assert [(c, n) for (d, c, n, _) in rows if d == 3] == [(0, 1)]


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from pond_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_chunk_documents_property_full_coverage(spark):
    """Property (hypothesis over sizes/params): every token index is
    covered by >= 1 chunk, consecutive chunks overlap by exactly
    `overlap` token positions (except a shorter final chunk), and
    chunk 0 + the non-overlapped suffixes reconstruct the canonical
    token sequence."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pond_spark.operators.chunking import chunk_documents

    @settings(max_examples=8, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=40),
        chunk=st.integers(min_value=2, max_value=12),
        overlap=st.integers(min_value=0, max_value=6),
    )
    def check(n, chunk, overlap):
        if overlap >= chunk:
            return
        toks = [f"t{i}" for i in range(n)]
        docs = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
        rows = sorted(
            (r.chunk_id, r.chunk_text.split(" "))
            for r in chunk_documents(
                docs, chunk_tokens=chunk, overlap=overlap
            ).collect()
        )
        stride = chunk - overlap
        covered = set()
        rebuilt = []
        for cid, words in rows:
            s = cid * stride
            assert words == toks[s : s + chunk]
            covered.update(range(s, s + len(words)))
            rebuilt.extend(words if cid == 0 else words[overlap:])
        assert covered == set(range(n))
        assert rebuilt == toks

    check()


def test_funnel_empty_steps_same_error_both_twins():
    """r6 review fix: funnel_sql([]) raised IndexError while the Spark
    twin raised ValueError — twins must fail identically."""
    import pytest

    from pond_spark.operators.funnel import funnel_sql

    with pytest.raises(ValueError, match="at least one step"):
        funnel_sql([])


def test_funnel_greedy_frontier(spark):
    from pond_spark.operators.funnel import funnel

    t0 = dt.datetime(2024, 1, 1, 10)

    def ev(i, user, typ, mins):
        return (i, t0 + dt.timedelta(minutes=mins), user, typ)

    rows = [
        # user 1 completes A -> B -> C in order
        ev(1, 1, "A", 0), ev(2, 1, "B", 5), ev(3, 1, "C", 10),
        # user 2 does B BEFORE A — B must not count
        ev(4, 2, "B", 0), ev(5, 2, "A", 5),
        # user 3 only A
        ev(6, 3, "A", 0),
        # user 4 completes but outside the horizon
        ev(7, 4, "A", 0), ev(8, 4, "B", 300),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {r.step_idx: r for r in funnel(
        df, ["A", "B", "C"], within_seconds=3600
    ).collect()}
    assert out[1].n_users == 4
    assert out[2].n_users == 1  # only user 1 (user 2 out of order, 4 too late)
    assert out[3].n_users == 1
    assert out[1].conversion_ppm == 1_000_000
    assert out[2].conversion_ppm == 250_000


def test_event_transitions_counts(spark):
    from pond_spark.operators.funnel import event_transitions

    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (1, t0, 1, "A"), (2, t0 + dt.timedelta(minutes=1), 1, "B"),
        (3, t0 + dt.timedelta(minutes=2), 1, "A"),
        (4, t0, 2, "A"), (5, t0 + dt.timedelta(minutes=1), 2, "B"),
        (6, t0, 3, "C"),  # single event -> no transition
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {(r.from_type, r.to_type): r.n for r in event_transitions(df).collect()}
    assert got == {("A", "B"): 2, ("B", "A"): 1}


def test_range_join_inclusive_and_left(spark):
    from pond_spark.operators.rangejoin import range_join

    facts = spark.createDataFrame(
        [(1, 5.0), (2, 10.0), (3, 49.99), (4, 50.0), (5, 999.0)],
        ["id", "v"],
    )
    bands = spark.createDataFrame(
        [("a", 0.0, 9.99), ("b", 10.0, 49.99), ("c", 50.0, 100.0)],
        ["band", "lo", "hi"],
    )
    inner = {
        r.id: r.band
        for r in range_join(
            facts, bands, "v", "lo", "hi", bucket_width=10.0
        ).collect()
    }
    # bounds inclusive on both ends; out-of-band fact absent
    assert inner == {1: "a", 2: "b", 3: "b", 4: "c"}
    left = range_join(
        facts, bands, "v", "lo", "hi", bucket_width=10.0, how="left"
    )
    got = {r.id: r.band for r in left.collect()}
    assert got[5] is None and len(got) == 5
    # overlapping intervals: a point in two bands joins to both
    overlap = spark.createDataFrame(
        [("x", 0.0, 20.0), ("y", 5.0, 30.0)], ["band", "lo", "hi"]
    )
    both = range_join(
        facts.filter("id = 2"), overlap, "v", "lo", "hi", bucket_width=10.0
    ).collect()
    assert {r.band for r in both} == {"x", "y"}


def test_range_join_inverted_and_null_intervals_dropped(spark):
    """r6 review fix: start > end used to skip the span guard (negative
    span) and drive F.sequence into a negative-step explosion — a
    start=0/end=-1e12 interval at width 1.0 would build a trillion-
    element array. Inverted and NULL-bounded intervals now drop before
    bucketing; results are unchanged (the between-predicate could never
    hold) and the plan stays alive."""
    from pond_spark.operators.rangejoin import range_join

    facts = spark.createDataFrame([(1, 5.0), (2, 50.0)], ["id", "v"])
    bands = spark.createDataFrame(
        [("ok", 0.0, 9.99),
         ("inverted-huge", 0.0, -1.0e12),   # OOM-class without the fix
         ("nulllo", None, 9.99),
         ("nullhi", 0.0, None)],
        "band string, lo double, hi double",
    )
    inner = range_join(facts, bands, "v", "lo", "hi", bucket_width=1.0)
    assert {(r.id, r.band) for r in inner.collect()} == {(1, "ok")}
    left = range_join(
        facts, bands, "v", "lo", "hi", bucket_width=1.0, how="left"
    )
    got = {r.id: r.band for r in left.collect()}
    assert got == {1: "ok", 2: None}  # left keeps pointless facts


def test_range_join_plans_broadcast_hash_not_nested_loop(spark):
    from pond_spark.operators.rangejoin import range_join
    from pond_spark.plans import formatted_plan

    facts = spark.createDataFrame([(1, 5.0)], ["id", "v"])
    bands = spark.createDataFrame([("a", 0.0, 9.99)], ["band", "lo", "hi"])
    plan = formatted_plan(
        range_join(facts, bands, "v", "lo", "hi", bucket_width=10.0)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_range_join_shared_column_names_and_guards(spark):
    """Findings hardening: shared fact/interval column names must not
    make the join ambiguous; reserved names raise; an absurd
    bucket-width choice raises an actionable error, not an OOM."""
    import pytest as _pytest

    from pond_spark.operators.rangejoin import range_join

    # fact table carries its OWN 'lo' column (same name as the dim's):
    # the colliding interval column is prefixed so every output column
    # stays uniquely addressable
    facts = spark.createDataFrame([(1, 5.0, 99.0)], ["id", "v", "lo"])
    bands = spark.createDataFrame([("a", 0.0, 9.99)], ["band", "lo", "hi"])
    out = range_join(facts, bands, "v", "lo", "hi", bucket_width=10.0)
    assert sorted(out.columns) == ["band", "hi", "id", "interval_lo", "lo", "v"]
    row = out.collect()[0]
    assert (row.lo, row.interval_lo) == (99.0, 0.0)
    # prefixed fallback ALSO taken -> actionable error, not a dup column
    clash = facts.withColumn("interval_lo", facts["lo"])
    with _pytest.raises(ValueError, match="dim_prefix"):
        range_join(clash, bands, "v", "lo", "hi", bucket_width=10.0)

    with _pytest.raises(ValueError, match="reserved"):
        range_join(
            facts.withColumnRenamed("id", "_bkt"), bands, "v", "lo", "hi"
        )

    wide = spark.createDataFrame([("w", 0.0, 1e9)], ["band", "lo", "hi"])
    with _pytest.raises(Exception, match="buckets"):
        range_join(facts, wide, "v", "lo", "hi", bucket_width=1.0).count()


def test_funnel_property_matches_python(spark):
    """Property: the engine funnel equals a brute-force per-user
    Python walk on random event streams (with and without horizon)."""
    import random

    from pond_spark.operators.funnel import funnel

    rng = random.Random(23)
    steps = ["A", "B", "C"]
    t0 = dt.datetime(2024, 1, 1)
    for trial in range(3):
        rows = []
        eid = 0
        for u in range(8):
            for _ in range(rng.randint(0, 10)):
                eid += 1
                rows.append(
                    (eid, t0 + dt.timedelta(seconds=rng.randint(0, 5000)),
                     u, rng.choice(steps + ["X"]))
                )
        if not rows:
            continue
        horizon = rng.choice([None, 1000])
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        got = {r.step_idx: r.n_users for r in funnel(
            df, steps, within_seconds=horizon
        ).collect()}

        # python reference: greedy frontier walk per user
        per_user: dict = {}
        for _, ts, u, typ in sorted(rows, key=lambda r: r[1]):
            per_user.setdefault(u, []).append((ts, typ))
        counts = [0] * len(steps)
        for u, evs in per_user.items():
            t = None
            deadline = None
            for i, s in enumerate(steps):
                nxt = [
                    ts for ts, typ in evs
                    if typ == s
                    and (t is None or ts > t)
                    and (deadline is None or ts <= deadline)
                ]
                if not nxt:
                    break
                t = min(nxt)
                if i == 0 and horizon is not None:
                    deadline = t + dt.timedelta(seconds=horizon)
                counts[i] += 1
        assert got == {i + 1: c for i, c in enumerate(counts)}, trial


def test_uniques_sketches_merge_and_prune(spark, tmp_path):
    """Mergeable HLL cube: a range query unions daily sketches
    without double-counting returning visitors (sum of dailies would),
    stays inside the sketch error envelope, and reads only the range's
    day partitions (partition filter in the plan)."""
    from pond_spark.operators.sketches import (
        build_uniques_sketches,
        uniques_over_range,
    )
    from pond_spark.plans import formatted_plan

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    rid = 0
    # day 1: users 0..49 on site a; day 2: users 25..74 (25 returning)
    for day, lo_u, hi_u in ((0, 0, 50), (1, 25, 75)):
        for u in range(lo_u, hi_u):
            rid += 1
            rows.append(
                (rid, t0 + dt.timedelta(days=day, seconds=u), "a", f"u{u}")
            )
    # day 3 noise that the range query must NOT read
    for u in range(500):
        rid += 1
        rows.append((rid, t0 + dt.timedelta(days=2, seconds=u), "a", f"z{u}"))
    logs = spark.createDataFrame(
        rows, "id long, timestamp timestamp, site string, remote_host string"
    )
    path = str(tmp_path / "hll")
    build_uniques_sketches(logs, path)

    est_df = uniques_over_range(spark, path, "2024-03-01", "2024-03-02")
    est = est_df.collect()[0].uniques_est
    # true union = 75 (25 returning users counted once); daily sum = 100
    assert abs(est - 75) <= 0.1 * 75, est
    assert est < 95  # clearly below the double-counted sum

    plan = formatted_plan(est_df)
    assert "PartitionFilters" in plan and "day" in plan, plan

    # single-day query sees only that day's users
    one = uniques_over_range(spark, path, "2024-03-03", "2024-03-03").collect()
    assert abs(one[0].uniques_est - 500) <= 0.05 * 500


def test_uniques_sketches_incremental_update(spark, tmp_path):
    """update_uniques_sketches folds a new batch into only the touched
    day partitions and equals a full rebuild over old+new (HLL union
    absorbs new members exactly)."""
    from pond_spark.operators.sketches import (
        build_uniques_sketches,
        uniques_over_range,
        update_uniques_sketches,
    )

    t0 = dt.datetime(2024, 4, 1)
    schema = "id long, timestamp timestamp, site string, remote_host string"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    day1 = [(i, t0 + dt.timedelta(seconds=i), "a", f"u{i}") for i in range(40)]
    day2 = [
        (100 + i, t0 + dt.timedelta(days=1, seconds=i), "a", f"v{i}")
        for i in range(40)
    ]
    path = str(tmp_path / "cube")
    build_uniques_sketches(mk(day1 + day2), path)

    # late batch: 20 RETURNING day-1 users + 20 new ones, day 1 only
    late = [
        (200 + i, t0 + dt.timedelta(seconds=3600 + i), "a", f"u{i}")
        for i in range(20)
    ] + [
        (300 + i, t0 + dt.timedelta(seconds=7200 + i), "a", f"w{i}")
        for i in range(20)
    ]
    update_uniques_sketches(mk(late), path)

    # rebuilt-from-scratch reference
    ref = str(tmp_path / "ref")
    build_uniques_sketches(mk(day1 + day2 + late), ref)

    for lo, hi in (("2024-04-01", "2024-04-01"), ("2024-04-01", "2024-04-02")):
        got = uniques_over_range(spark, path, lo, hi).collect()[0].uniques_est
        want = uniques_over_range(spark, ref, lo, hi).collect()[0].uniques_est
        assert got == want, (lo, hi, got, want)
    # day 1 true uniques: 40 original + 20 new = 60 (20 returning absorbed)
    d1 = uniques_over_range(spark, path, "2024-04-01", "2024-04-01").collect()[0]
    assert abs(d1.uniques_est - 60) <= 0.1 * 60


def test_uniques_sketches_fold_refuses_other_lg_k(spark, tmp_path):
    """The build pins lg_k in the sidecar; a fold at another lg_k
    raises before writing, so no day mixes lg_k and range serves keep
    working (mixed-lg_k days fail every HLL union over them)."""
    from pond_spark.operators.sketches import (
        build_uniques_sketches,
        uniques_over_range,
        update_uniques_sketches,
    )

    t0 = dt.datetime(2024, 4, 1)
    logs = spark.createDataFrame(
        [(i, t0 + dt.timedelta(days=i % 2, seconds=i), "a", f"u{i}")
         for i in range(80)],
        "id long, timestamp timestamp, site string, remote_host string",
    )
    path = tmp_path / "cube"
    build_uniques_sketches(logs, str(path), lg_k=14)

    def files():
        return {
            f.relative_to(path): f.read_bytes()
            for f in path.glob("day=*/*")
        }

    before = files()
    with pytest.raises(ValueError, match="lg_k=14"):
        update_uniques_sketches(logs.limit(50), str(path), lg_k=12)
    assert files() == before
    got = uniques_over_range(spark, str(path), "2024-04-01", "2024-04-02")
    assert abs(got.collect()[0].uniques_est - 80) <= 0.1 * 80


def test_asof_join_shared_payload_column_name(spark):
    """Regression (r4 review): a right payload column whose name also
    exists on the left made left rows carry their OWN value through
    the ignorenulls carry-forward and emitted two identically-named
    columns. The payload now lands as asof_<name>."""
    from pond_spark.operators.asof import asof_join

    t = dt.datetime(2024, 1, 1)

    def ts(s):
        return t + dt.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(1, ts(10), 100.0), (1, ts(20), 200.0)],
        "k long, timestamp timestamp, value double",
    )
    right = spark.createDataFrame(
        [(1, ts(5), 999.0)], "k long, timestamp timestamp, value double"
    )
    out = asof_join(left, right, ["k"])
    assert sorted(out.columns) == ["asof_value", "k", "timestamp", "value"]
    rows = {r.value: r.asof_value for r in out.collect()}
    assert rows == {100.0: 999.0, 200.0: 999.0}  # right's value carried


def test_value_sketches_bottom_k_merge_exact(spark, tmp_path):
    """Bottom-k quantile sketch: the range query's merged sample must
    EQUAL the bottom-k computed directly over the raw range (the
    mergeability identity), day partitions outside the range are
    pruned, and the rank-selected quantiles are raw input values."""
    from pond_spark.operators.sketches import (
        BK_A,
        BK_C,
        BK_MOD,
        build_value_sketches,
        value_quantiles_over_range,
    )
    from pond_spark.plans import formatted_plan

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    rid = 0
    for day in range(3):
        for u in range(300):
            rid += 1
            rows.append(
                (rid, t0 + dt.timedelta(days=day, seconds=u), "a",
                 float((rid * 37) % 1000))
            )
    logs = spark.createDataFrame(
        rows, "id long, timestamp timestamp, site string, value double"
    )
    path = str(tmp_path / "bk")
    build_value_sketches(logs, path, k=32)

    out_df = value_quantiles_over_range(
        spark, path, "2024-03-01", "2024-03-02", k=32
    )
    out = out_df.collect()[0]
    assert out.n_sample == 32
    plan = formatted_plan(out_df)
    assert "PartitionFilters" in plan and "day" in plan, plan

    # replay the sketch definition directly over the raw range rows
    import math

    raw = [r for r in rows if r[1] < t0 + dt.timedelta(days=2)]
    keyed = sorted(raw, key=lambda r: ((r[0] * BK_A + BK_C) % BK_MOD, r[0]))
    sample = sorted((r[3], r[0]) for r in keyed[:32])
    vals = [v for v, _ in sample]
    assert out.q50 == vals[math.ceil(0.5 * 32) - 1]
    assert out.q90 == vals[math.ceil(0.9 * 32) - 1]
    # the estimate is a genuine quantile estimate of the raw data
    exact = sorted(r[3] for r in raw)
    rank = exact.index(out.q50) / len(exact)
    assert 0.25 <= rank <= 0.75, rank


def test_value_sketches_update_equals_rebuild(spark, tmp_path):
    """Incremental bottom-k maintenance == full rebuild over old+new
    (the merge identity), and untouched day partitions are not
    rewritten."""
    import os

    from pond_spark.operators.sketches import (
        build_value_sketches,
        update_value_sketches,
    )

    t0 = dt.datetime(2024, 3, 1)

    def mk(rid0, day, n):
        return [
            (rid0 + u, t0 + dt.timedelta(days=day, seconds=u), "a",
             float(((rid0 + u) * 41) % 997))
            for u in range(n)
        ]

    schema = "id long, timestamp timestamp, site string, value double"
    old = mk(0, 0, 200) + mk(1000, 1, 200)
    new = mk(2000, 1, 150)  # touches day 2 only

    inc_path, full_path = str(tmp_path / "inc"), str(tmp_path / "full")
    build_value_sketches(spark.createDataFrame(old, schema), inc_path, k=16)
    day1_dir = os.path.join(inc_path, "day=2024-03-01")
    mtimes_before = sorted(
        os.path.getmtime(os.path.join(day1_dir, f))
        for f in os.listdir(day1_dir) if f.endswith(".parquet")
    )
    update_value_sketches(spark.createDataFrame(new, schema), inc_path, k=16)
    build_value_sketches(
        spark.createDataFrame(old + new, schema), full_path, k=16
    )

    inc = sorted(map(tuple, spark.read.parquet(inc_path).collect()))
    full = sorted(map(tuple, spark.read.parquet(full_path).collect()))
    assert inc == full
    mtimes_after = sorted(
        os.path.getmtime(os.path.join(day1_dir, f))
        for f in os.listdir(day1_dir) if f.endswith(".parquet")
    )
    assert mtimes_before == mtimes_after  # day 1 untouched


def test_kanonymize_distinct_basis_exact_rollup(spark):
    """The distinct-user basis must be EXACT at every generalization
    level: a user spanning two suppressed groups counts ONCE in the
    merged cell — the sum-of-group-distincts shortcut would publish
    an under-k cell here (site b: sum 2+2=4 >= 3 but truly 2 users)."""
    from pond_spark.operators.kanon import OTHER, kanonymize_counts

    rows = (
        [("a", "d1", f"u{i}") for i in range(3)]          # keep: 3 users
        + [("b", "d1", "u1"), ("b", "d1", "u2")]           # suppressed
        + [("b", "d2", "u2"), ("b", "d2", "u1")]           # suppressed
        + [("c", "d1", "u9")]                              # suppressed
    )
    df = spark.createDataFrame(rows, "site string, day string, user string")
    out = {(r.site, r.day): r.n for r in kanonymize_counts(
        df, ("site", "day"), k=3, protect="user"
    ).collect()}
    assert out[("a", "d1")] == 3
    # site b must NOT get a published <other> rollup (2 users < 3)
    assert ("b", OTHER) not in out
    # the catchall pools b (4 rows, {u1,u2}) + c (1 row, u9): 3 users
    assert out[(OTHER, OTHER)] == 5
    assert set(out) == {("a", "d1"), (OTHER, OTHER)}


def test_kanonymize_row_basis_and_dropped_catchall(spark):
    from pond_spark.operators.kanon import OTHER, kanonymize_counts

    rows = [("x", f"r{i}") for i in range(5)] + [("y", "r0"), ("z", "r1")]
    df = spark.createDataFrame(rows, "site string, user string")
    out = {r.site: r.n for r in kanonymize_counts(
        df, ("site",), k=3
    ).collect()}
    assert out == {"x": 5}  # y+z pool 2 rows < 3: catchall dropped


def test_kanonymize_single_dim_protect_exact_catchall(spark):
    """Single dim + protect: the catchall basis must be the exact
    pooled distinct count, not a sum of per-group distincts. Sites b/c
    each hold users {u1,u2}: summed bases say 4 >= 3 but the pooled
    cell truly has 2 users and must be DROPPED (both engines)."""
    import duckdb

    from pond_spark.operators.kanon import (
        OTHER, kanonymize_counts, kanonymize_counts_sql,
    )

    rows = (
        [("a", f"u{i}") for i in range(3)]                 # keep: 3 users
        + [("b", "u1"), ("b", "u2"), ("b", "u2")]          # suppressed
        + [("c", "u1"), ("c", "u2")]                       # suppressed
    )
    df = spark.createDataFrame(rows, "site string, user string")
    out = {r.site: r.n for r in kanonymize_counts(
        df, ("site",), k=3, protect="user"
    ).collect()}
    assert out == {"a": 3}  # pooled b+c has 2 distinct users: dropped
    assert OTHER not in out

    values = ", ".join(f"('{s}', '{u}')" for s, u in rows)
    sql = kanonymize_counts_sql(
        f"(SELECT * FROM (VALUES {values}) AS t(site, \"user\"))",
        ("site",), k=3, protect='"user"',
    )
    got = {r[0]: r[1] for r in duckdb.sql(sql).fetchall()}
    assert got == {"a": 3}

    # and the publishable shape: add a 3-user site d to the pool so
    # the exact pooled basis {u1,u2,u7} reaches k and IS published
    rows2 = rows + [("d", "u7"), ("d", "u7")]
    df2 = spark.createDataFrame(rows2, "site string, user string")
    out2 = {r.site: r.n for r in kanonymize_counts(
        df2, ("site",), k=3, protect="user"
    ).collect()}
    assert out2 == {"a": 3, OTHER: 7}


def test_kanonymize_null_dims_suppress_correctly(spark):
    """NULL dim values are real groups; the suppressed-row join-back
    must be null-safe or their rows silently vanish from the pool."""
    from pond_spark.operators.kanon import OTHER, kanonymize_counts

    rows = (
        [("a", "d1", f"u{i}") for i in range(4)]
        + [(None, "d1", "u1"), (None, "d2", "u2"), (None, "d3", "u3")]
    )
    df = spark.createDataFrame(rows, "site string, day string, user string")
    out = {(r.site, r.day): r.n for r in kanonymize_counts(
        df, ("site", "day"), k=3, protect="user"
    ).collect()}
    assert out[("a", "d1")] == 4
    # NULL site generalizes to (NULL, <other>): 3 users -> published
    assert out[(None, OTHER)] == 3


# ---------------------------------------------------------------------------
# KMV / theta distinct sketches (operators/kmv.py)


def _kmv_logs(spark, gen):
    """Synthetic logs frame: gen(i) -> (day_offset, site, user)."""
    import datetime as dt

    rows = []
    for i in range(8000):
        d, site, user = gen(i)
        rows.append(
            (i, dt.datetime(2024, 1, 5) + dt.timedelta(days=d), site, str(user))
        )
    return spark.createDataFrame(
        rows, "id long, timestamp timestamp, site string, remote_host string"
    )


def test_kmv_churn_matches_duckdb_twin(spark, tmp_path):
    """The Spark sketch-table path and the DuckDB raw replay produce
    identical integer estimates — sketch determinism end to end,
    across an overlapping and a disjoint visitor shape."""
    import duckdb

    from pond_spark.operators.kmv import build_kmv_sketches, kmv_churn, kmv_churn_sql

    shapes = [
        lambda i: ((i * 31 + i // 13) % 10, f"s{(i * 7 + 3) % 2}", (i * 131) % 700),
        lambda i: (i % 10, f"s{i % 2}", (i * 17) % 500),
    ]
    for si, gen in enumerate(shapes):
        logs = _kmv_logs(spark, gen)
        path = str(tmp_path / f"kmv_{si}")
        build_kmv_sketches(logs, path, k=64)
        got = sorted(
            map(
                tuple,
                kmv_churn(
                    spark, path, "2024-01-05", "2024-01-09",
                    "2024-01-10", "2024-01-14", k=64,
                ).collect(),
            )
        )
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT * FROM (VALUES "
            + ",".join(
                f"(TIMESTAMP '{r[0]}', '{r[1]}', '{r[2]}')"
                for r in (
                    (
                        __import__("datetime").datetime(2024, 1, 5)
                        + __import__("datetime").timedelta(days=gen(i)[0]),
                        gen(i)[1],
                        gen(i)[2],
                    )
                    for i in range(8000)
                )
            )
            + ') AS t(ts, site, "user")'
        )
        cte = (
            'logs AS (SELECT ts AS "timestamp", site, '
            '"user" AS remote_host FROM t)'
        )
        exp = sorted(
            map(
                tuple,
                con.sql(
                    kmv_churn_sql(
                        cte, "2024-01-05", "2024-01-09",
                        "2024-01-10", "2024-01-14", k=64,
                    )
                ).fetchall(),
            )
        )
        assert got == exp, si


def test_kmv_estimates_near_truth(spark, tmp_path):
    """Accuracy envelope at k=64 (~12.5% expected relative error):
    every estimate within 30% of the exact distinct counts, and the
    returning/new split within the same band."""
    from pond_spark.operators.kmv import build_kmv_sketches, kmv_churn

    gen = lambda i: ((i * 31 + i // 13) % 10, f"s{(i * 7 + 3) % 2}", (i * 131) % 700)
    logs = _kmv_logs(spark, gen)
    path = str(tmp_path / "kmv_acc")
    build_kmv_sketches(logs, path, k=64)
    out = {
        r.site: r
        for r in kmv_churn(
            spark, path, "2024-01-05", "2024-01-09",
            "2024-01-10", "2024-01-14", k=64,
        ).collect()
    }
    import datetime as dt

    cut = dt.datetime(2024, 1, 10)
    a: dict = {}
    b: dict = {}
    for i in range(8000):
        d, site, user = gen(i)
        ts = dt.datetime(2024, 1, 5) + dt.timedelta(days=d)
        (a if ts < cut else b).setdefault(site, set()).add(user)
    for site in out:
        ta, tb = a.get(site, set()), b.get(site, set())
        r = out[site]
        assert abs(r.uniques_a - len(ta)) <= 0.3 * len(ta)
        assert abs(r.uniques_b - len(tb)) <= 0.3 * len(tb)
        assert abs(r.returning_est - len(ta & tb)) <= 0.3 * max(len(ta & tb), 20)
        assert abs(r.new_est - len(tb - ta)) <= 0.3 * max(len(tb - ta), 20)


def test_kmv_update_equals_rebuild(spark, tmp_path):
    """Dynamic-partition day rebuild converges to the full build —
    the incremental maintenance contract shared with the HLL/CM
    tables."""
    from pond_spark.operators.kmv import (
        build_kmv_sketches,
        kmv_churn,
        update_kmv_sketches,
    )

    gen = lambda i: ((i * 31 + i // 13) % 10, f"s{(i * 7 + 3) % 2}", (i * 131) % 700)
    logs = _kmv_logs(spark, gen)
    full = str(tmp_path / "kmv_full")
    inc = str(tmp_path / "kmv_inc")
    build_kmv_sketches(logs, full, k=64)
    # incremental: build without the last two days, then update them in
    import pyspark.sql.functions as F

    day = F.date_format("timestamp", "yyyy-MM-dd")
    build_kmv_sketches(logs.filter(day < "2024-01-13"), inc, k=64)
    update_kmv_sketches(logs, inc, ["2024-01-13", "2024-01-14"], k=64)
    args = ("2024-01-05", "2024-01-09", "2024-01-10", "2024-01-14")
    got = sorted(map(tuple, kmv_churn(spark, inc, *args, k=64).collect()))
    exp = sorted(map(tuple, kmv_churn(spark, full, *args, k=64).collect()))
    assert got == exp


def test_kmv_params_sidecar_guards(spark, tmp_path):
    """ADVICE r6: the KMV table carries a (k, seed) sidecar — serving
    with k above the build k or updating with a different seed/k must
    raise instead of silently returning biased estimates."""
    import os

    import pytest

    from pond_spark.operators.kmv import (
        build_kmv_sketches,
        kmv_churn,
        kmv_uniques_over_range,
        update_kmv_sketches,
    )

    gen = lambda i: ((i * 31) % 10, f"s{i % 2}", (i * 131) % 700)  # noqa: E731
    logs = _kmv_logs(spark, gen)
    path = str(tmp_path / "kmv_side")
    build_kmv_sketches(logs, path, k=32, seed=5)
    assert os.path.exists(path + ".params.json")
    args = ("2024-01-05", "2024-01-09", "2024-01-10", "2024-01-14")
    # matching k serves fine; smaller serve k is legal (still uniform)
    kmv_churn(spark, path, *args, k=32).collect()
    kmv_churn(spark, path, *args, k=16).collect()
    kmv_uniques_over_range(spark, path, "2024-01-05", "2024-01-14", k=16).collect()
    with pytest.raises(ValueError, match="would exceed"):
        kmv_churn(spark, path, *args, k=64)
    with pytest.raises(ValueError, match="would exceed"):
        kmv_uniques_over_range(spark, path, "2024-01-05", "2024-01-14", k=64)
    with pytest.raises(ValueError, match="seed"):
        update_kmv_sketches(logs, path, ["2024-01-14"], k=32, seed=6)
    with pytest.raises(ValueError, match="mix sample sizes"):
        update_kmv_sketches(logs, path, ["2024-01-14"], k=16, seed=5)


def test_cm_hash_version_sidecar_guards(spark, tmp_path):
    """ADVICE r6: CM tables are stamped with the hash-family version
    plus depth/width; update/serve refuse on mismatch instead of
    silently mixing incompatible grids."""
    import json
    import os

    import pytest

    from pond_spark.operators.cmjoin import cm_join_size
    from pond_spark.operators.sketches import (
        build_cm_sketches,
        cm_estimate_over_range,
        update_cm_sketches,
    )

    logs = _kmv_logs(spark, lambda i: ((i * 31) % 10, f"s{i % 2}", (i * 131) % 700))
    logs = logs.withColumnRenamed("remote_host", "message")
    path = str(tmp_path / "cm_side")
    build_cm_sketches(logs, path, key_col="message")
    assert os.path.exists(path + ".params.json")
    keys = spark.createDataFrame([("k1",)], ["key"])
    cm_estimate_over_range(spark, path, keys, "2024-01-05", "2024-01-14").collect()
    with pytest.raises(ValueError, match="incompatible"):
        cm_estimate_over_range(
            spark, path, keys, "2024-01-05", "2024-01-14", width=2048
        )
    with pytest.raises(ValueError, match="incompatible"):
        update_cm_sketches(logs, path, key_col="message", depth=8)
    # a table stamped with the OLD hash family refuses everywhere
    side = json.load(open(path + ".params.json"))
    side["hash_version"] = 1
    json.dump(side, open(path + ".params.json", "w"))
    with pytest.raises(ValueError, match="hash_version"):
        cm_estimate_over_range(spark, path, keys, "2024-01-05", "2024-01-14")
    with pytest.raises(ValueError, match="hash_version"):
        update_cm_sketches(logs, path, key_col="message")
    with pytest.raises(ValueError, match="hash_version"):
        cm_join_size(
            spark, path, "2024-01-05", "2024-01-09", "2024-01-10", "2024-01-14"
        )


def test_kmv_serve_prunes_day_partitions(spark, tmp_path):
    """The churn query reads only the two ranges' day partitions from
    the sketch table (partition filter in the plan), and everything
    after the scan is k-bounded."""
    from pond_spark.operators.kmv import build_kmv_sketches, kmv_churn
    from pond_spark.plans import formatted_plan

    gen = lambda i: (i % 10, f"s{i % 2}", (i * 131) % 700)
    logs = _kmv_logs(spark, gen)
    path = str(tmp_path / "kmv_prune")
    build_kmv_sketches(logs, path, k=64)
    df = kmv_churn(
        spark, path, "2024-01-05", "2024-01-06", "2024-01-07", "2024-01-08", k=64
    )
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "day" in plan, plan


# ---------------------------------------------------------------------------
# CM join-size estimation (operators/cmjoin.py)


def test_cm_join_size_exact_when_collision_free(spark, tmp_path):
    """With far fewer distinct keys than the grid width, every row's
    dot product equals the TRUE join size sum_key cntA*cntB, and the
    estimate row carries their min."""
    import datetime as dt

    from pond_spark.operators.cmjoin import cm_join_size
    from pond_spark.operators.sketches import build_cm_sketches

    rows = []
    for i in range(6000):
        rows.append(
            (
                i,
                dt.datetime(2024, 3, 1) + dt.timedelta(days=i % 6),
                "s",
                f"k{(i * i) % 37}",
            )
        )
    logs = spark.createDataFrame(
        rows, "id long, timestamp timestamp, site string, message string"
    )
    path = str(tmp_path / "cm")
    build_cm_sketches(logs, path, key_col="message")
    out = {
        r.row: r.dot
        for r in cm_join_size(
            spark, path, "2024-03-01", "2024-03-03", "2024-03-04", "2024-03-06"
        ).collect()
    }
    # truth
    from collections import Counter

    a: Counter = Counter()
    b: Counter = Counter()
    for i, ts, _s, k in rows:
        (a if ts < dt.datetime(2024, 3, 4) else b)[k] += 1
    truth = sum(a[k] * b[k] for k in a.keys() & b.keys())
    assert out[-1] == truth
    for r, dot in out.items():
        if r >= 0:
            assert dot == truth  # 37 keys in width-1024 rows: no collisions


def test_cm_join_size_never_underestimates(spark, tmp_path):
    """CM inner products only ADD collision cross terms: with many
    keys (forced collisions) the estimate stays >= truth."""
    import datetime as dt

    from pond_spark.operators.cmjoin import cm_join_size
    from pond_spark.operators.sketches import build_cm_sketches

    rows = []
    for i in range(8000):
        rows.append(
            (
                i,
                dt.datetime(2024, 3, 1) + dt.timedelta(days=i % 4),
                "s",
                f"key{(i * 13 + i // 4) % 3000}",
            )
        )
    logs = spark.createDataFrame(
        rows, "id long, timestamp timestamp, site string, message string"
    )
    path = str(tmp_path / "cm2")
    build_cm_sketches(logs, path, key_col="message")
    out = {
        r.row: r.dot
        for r in cm_join_size(
            spark, path, "2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04"
        ).collect()
    }
    from collections import Counter

    a: Counter = Counter()
    b: Counter = Counter()
    for i, ts, _s, k in rows:
        (a if ts < dt.datetime(2024, 3, 3) else b)[k] += 1
    truth = sum(a[k] * b[k] for k in a.keys() & b.keys())
    assert truth > 0  # the shapes genuinely overlap
    assert out[-1] >= truth
    # inner-product CM bound: est <= truth + eps*Na*Nb with
    # eps = e/width; allow 3x the expected slack
    na, nb = sum(a.values()), sum(b.values())
    assert out[-1] <= truth + 3 * int(2.72 / 1024 * na * nb) + 1


def test_value_sketch_k_sidecar_guards_merge_identity(spark, tmp_path):
    """Regression (r6 review): serving with k above the build-time k
    (or updating with a different k) silently broke the bottom-k merge
    identity — both now raise against the params sidecar."""
    import datetime as dt

    import pytest as _pytest

    from pond_spark.operators.sketches import (
        build_value_sketches,
        update_value_sketches,
        value_quantiles_over_range,
    )

    rows = [
        (i, dt.datetime(2024, 3, 1) + dt.timedelta(hours=i % 48), "a", float(i))
        for i in range(500)
    ]
    logs = spark.createDataFrame(
        rows, "id long, timestamp timestamp, site string, value double"
    )
    path = str(tmp_path / "bk_guard")
    build_value_sketches(logs, path, k=16)
    # serve at k <= build k: fine
    assert value_quantiles_over_range(
        spark, path, "2024-03-01", "2024-03-02", k=16
    ).count() == 1
    with _pytest.raises(ValueError, match="exceed"):
        value_quantiles_over_range(spark, path, "2024-03-01", "2024-03-02", k=64)
    with _pytest.raises(ValueError, match="mix sample sizes"):
        update_value_sketches(logs, path, k=64)
    with _pytest.raises(ValueError, match="incomparable"):
        update_value_sketches(logs, path, k=16, seed=99)


def test_sketch_sidecars_work_on_schemed_paths(spark, tmp_path):
    """ADVICE r7 (medium): the sketch params sidecars went through
    builtin open()/os.path while the parquet table itself supports
    hdfs://-style paths — on a schemed path the table wrote fine, the
    sidecar write raised FileNotFoundError, and the checks silently
    no-opped (defeating the mismatch guard). Sidecar I/O now routes
    through catalog._fs_for; exercised end-to-end on file:// (the
    RawLocalFileSystem implements the same API as the hdfs:// client)."""
    import datetime as dt

    import pytest as _pytest

    from pond_spark.catalog import _HadoopFS
    from pond_spark.operators.kmv import (
        build_kmv_sketches,
        kmv_uniques_over_range,
    )
    from pond_spark.operators.sketches import (
        build_cm_sketches,
        cm_estimate_over_range,
        update_cm_sketches,
    )

    rows = [
        (
            i,
            dt.datetime(2024, 3, 1) + dt.timedelta(hours=i % 24),
            "a",
            f"h{i % 7}",
            f"m{i % 5}",
        )
        for i in range(200)
    ]
    logs = spark.createDataFrame(
        rows,
        "id long, timestamp timestamp, site string, remote_host string,"
        " message string",
    )
    kpath = f"file://{tmp_path}/kmv_schemed"
    build_kmv_sketches(logs, kpath, k=16)
    fs = _HadoopFS(spark, kpath)
    assert fs.exists(kpath + ".params.json")  # sidecar landed remotely
    # and the guard actually fires on a schemed path (no silent no-op)
    with _pytest.raises(ValueError, match="exceed"):
        kmv_uniques_over_range(spark, kpath, "2024-03-01", "2024-03-01", k=64)
    assert (
        kmv_uniques_over_range(
            spark, kpath, "2024-03-01", "2024-03-01", k=16
        ).count()
        == 1
    )

    cpath = f"file://{tmp_path}/cm_schemed"
    build_cm_sketches(logs, cpath, depth=2, width=64)
    assert fs.exists(cpath + ".params.json")
    with _pytest.raises(ValueError, match="incompatible"):
        update_cm_sketches(logs, cpath, depth=2, width=32)
    keys = spark.createDataFrame([("m1",)], "key string")
    assert (
        cm_estimate_over_range(
            spark, cpath, keys, "2024-03-01", "2024-03-01", depth=2, width=64
        ).count()
        == 1
    )


def _sketch_events(spark, ids, days):
    rows = [
        (
            i,
            dt.datetime(2024, 3, days[i % len(days)], i % 24),
            f"s{i % 3}",
            f"h{i % 11}",
            f"m{i % 7}",
            float(i % 97),
        )
        for i in ids
    ]
    return spark.createDataFrame(
        rows,
        "id long, timestamp timestamp, site string, remote_host string,"
        " message string, value double",
    )


@pytest.mark.parametrize("family", ["hll", "value", "cm", "kmv"])
def test_sketch_update_never_rewrites_untouched_days(
    spark, tmp_path, monkeypatch, family
):
    """An update that touches one day rewrites only that day's
    directory: every other day keeps the same file names and bytes.
    The dynamic overwrite is a writer option, so the update never sets
    the process-global partitionOverwriteMode session conf."""
    from pond_spark.operators import kmv, sketches

    day = "2024-03-02"
    # family -> (build(logs, path), update(new events, all events, path))
    build, update = {
        "hll": (
            sketches.build_uniques_sketches,
            lambda new, every, p: sketches.update_uniques_sketches(new, p),
        ),
        "value": (
            lambda logs, p: sketches.build_value_sketches(logs, p, k=8),
            lambda new, every, p: sketches.update_value_sketches(new, p, k=8),
        ),
        "cm": (
            sketches.build_cm_sketches,
            lambda new, every, p: sketches.update_cm_sketches(new, p),
        ),
        "kmv": (
            lambda logs, p: kmv.build_kmv_sketches(logs, p, k=8),
            lambda new, every, p: kmv.update_kmv_sketches(every, p, [day], k=8),
        ),
    }[family]
    logs = _sketch_events(spark, range(300), [1, 2, 3])
    new = _sketch_events(spark, range(1000, 1100), [2])
    path = str(tmp_path / family)
    build(logs, path)

    def files():
        return {
            (d.name, f.name): f.read_bytes()
            for d in (tmp_path / family).glob("day=*")
            for f in d.iterdir()
        }

    before = files()
    conf_keys = []
    real_set = spark.conf.set
    monkeypatch.setattr(
        spark.conf, "set", lambda k, v: (conf_keys.append(k), real_set(k, v))
    )
    update(new, logs.unionByName(new), path)
    monkeypatch.undo()
    after = files()
    split = lambda snap: (  # noqa: E731
        {key: b for key, b in snap.items() if key[0] != f"day={day}"},
        {key for key in snap if key[0] == f"day={day}"},
    )
    (kept_before, touched_before), (kept_after, touched_after) = (
        split(before), split(after)
    )
    assert kept_before and kept_after == kept_before
    assert touched_after and touched_after != touched_before  # rewritten
    assert not [k for k in conf_keys if "partitionOverwriteMode" in k]


def test_cm_rows_are_collision_decorrelated():
    """Regression (r6 review): with a shared multiplier and per-row
    additive offsets, a key pair colliding in row 0 collided in every
    row, voiding the min-over-depth guarantee. With per-row
    multipliers the row-1 collision rate among row-0 colliders must be
    near 1/width, not near 1."""
    from pond_spark.operators.sketches import BK_C, BK_MOD, CM_WIDTH, cm_row_mult

    def col(kh, r):
        return ((kh * cm_row_mult(r) + BK_C) % BK_MOD) % CM_WIDTH

    # scan key pairs (kh, kh+d) for the d that collide in row 0
    row0_colliders = []
    for d in range(1, 400_000):
        if col(0, 0) == col(d, 0):
            row0_colliders.append(d)
        if len(row0_colliders) >= 200:
            break
    assert len(row0_colliders) >= 100  # enough colliding pairs found
    also_row1 = sum(1 for d in row0_colliders if col(0, 1) == col(d, 1))
    # independent rows: expected ~len/WIDTH (<1); allow generous slack
    assert also_row1 <= len(row0_colliders) * 0.05, (
        also_row1, len(row0_colliders)
    )


def test_asof_join_fuzz_matches_duckdb_asof(spark):
    """Randomized cross-engine fuzz for the r7 struct-carry rewrite:
    random (key, ts, payload-with-NULLs) draws, Spark asof_join vs
    DuckDB's native ASOF LEFT JOIN over the per-(key,ts) greatest-
    payload-tuple dedupe (the exact tiebreak the operator documents).
    Covers NULL left ts, NULL right ts (never matches), NULL payload
    slots on the latest row, equal-ts ties, and keys with no rights."""
    import random

    import duckdb
    import pandas as pd

    from pond_spark.operators.asof import asof_join

    rng = random.Random(0xA50F7)
    t0 = dt.datetime(2024, 1, 1)

    def ts_or_null(p_null=0.1):
        if rng.random() < p_null:
            return None
        return t0 + dt.timedelta(seconds=rng.randint(0, 40))

    for trial in range(3):
        keys = [f"k{i}" for i in range(6)]
        lrows = [
            (rng.choice(keys), ts_or_null(), i) for i in range(200)
        ]
        rrows = [
            (
                rng.choice(keys + ["k_no_left"]),
                ts_or_null(),
                rng.choice([None, "A", "B", "C"]),
                rng.choice([None] + [f"n{d}" for d in range(4)]),
            )
            for _ in range(120)
        ]
        left = spark.createDataFrame(
            lrows, "key string, timestamp timestamp, event_id long"
        )
        right = spark.createDataFrame(
            rrows, "key string, timestamp timestamp, tag string, note string"
        )
        got = {
            (r.key, r.timestamp, r.event_id): (r.tag, r.note)
            for r in asof_join(left, right, ["key"]).collect()
        }

        con = duckdb.connect()
        con.register(
            "l",
            pd.DataFrame(lrows, columns=["key", "ts", "event_id"]).astype(
                {"ts": "datetime64[us]"}
            ),
        )
        con.register(
            "r",
            pd.DataFrame(
                rrows, columns=["key", "ts", "tag", "note"]
            ).astype({"ts": "datetime64[us]"}),
        )
        exp_rows = con.execute(
            """
            WITH r1 AS (
              SELECT key, ts, tag, note FROM r WHERE ts IS NOT NULL
              QUALIFY row_number() OVER (
                PARTITION BY key, ts
                ORDER BY tag DESC NULLS LAST, note DESC NULLS LAST) = 1)
            SELECT l.key, l.ts, l.event_id, r1.tag, r1.note
            FROM l ASOF LEFT JOIN r1
              ON l.key = r1.key AND l.ts >= r1.ts
            WHERE l.ts IS NOT NULL
            UNION ALL
            -- a left row without a timestamp has nothing "at or
            -- before" it (SQL comparison semantics, the operator's
            -- documented rule); DuckDB's ASOF quirkily MATCHES a NULL
            -- probe, so encode the rule explicitly
            SELECT key, ts, event_id, NULL, NULL FROM l WHERE ts IS NULL
            """
        ).fetchall()
        con.close()
        exp = {
            (k, None if pd.isna(ts) else ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts, i): (tag, note)
            for k, ts, i, tag, note in exp_rows
        }
        assert got == exp, f"trial {trial}"


def test_kanonymize_null_lead_rows_reach_the_catchall(spark):
    """r7 review fix: a NULL-lead group that stays suppressed after
    generalization must contribute its rows AND its distinct basis to
    the final all-<other> bucket (the null-unsafe join-back silently
    dropped them, understating — or entirely suppressing — the
    catchall while the SQL twin counted them)."""
    from pond_spark.operators.kanon import OTHER, kanonymize_counts

    rows = (
        # NULL-lead group: 2 distinct users, under k at both levels
        [(None, "d1", f"nu{i % 2}") for i in range(6)]
        # two pool sites x 2 users: under k per level, pooled = 4
        + [(f"s{i % 2}", "d1", f"p{i % 2}-u{i % 4 // 2}") for i in range(8)]
    )
    df = spark.createDataFrame(rows, "site string, day string, user string")
    out = {
        (r.site, r.day): r.n
        for r in kanonymize_counts(
            df, ("site", "day"), k=5, protect="user"
        ).collect()
    }
    # pooled distinct = 2 (null) + 4 (pools) = 6 >= 5 -> catchall
    # publishes with ALL 14 rows; without the null-safe join-back it
    # would pool only 4 distinct users and publish nothing
    assert out == {(OTHER, OTHER): 14}


def test_quantile_col_names_unique_and_full_precision():
    """ADVICE r7: round(q*100) mapped (0.999, 1.0) both to 'q100'
    (duplicate StructFields in the stream state schema) and
    banker's-rounded 0.125 to 'q12'. Names now carry the decimal
    digits verbatim and collisions raise."""
    import pytest as _pytest

    from pond_spark.operators.sketches import quantile_col_names

    assert quantile_col_names((0.5, 0.9)) == ["q50", "q90"]
    assert quantile_col_names((0.999, 1.0)) == ["q999", "q100"]
    assert quantile_col_names((0.125, 0.135)) == ["q125", "q135"]
    assert quantile_col_names((0.05, 0.5)) == ["q05", "q50"]
    with _pytest.raises(ValueError, match="collide"):
        quantile_col_names((0.5, 0.50))
    with _pytest.raises(ValueError, match="out of range"):
        quantile_col_names((0.0,))

"""CLI grammar parity with the reference client
(/root/reference/src/client/Main.cxx:104-330)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pond_spark.cli import (
    UINT32_MAX,
    UINT64_MAX,
    build,
    parse_duration_us,
    parse_query_args,
)
from pond_spark.filters import QueryValidationError

NOW = dt.datetime(2024, 1, 10, 12, 0, 0)


def parse(*args):
    return parse_query_args(list(args), now=NOW)


def test_filters_parse():
    q = parse(
        "site=a",
        "site=b",
        "host=h1",
        "generator=g",
        "type=http_access",
        "status=500:600",
        "uri=/x",
        "duration_longer=5s",
    )
    assert q.sites == ["a", "b"]
    assert q.hosts == ["h1"] and q.generators == ["g"]
    assert q.type == "http_access"
    assert q.status == (500, 600)
    assert q.uri == "/x"
    assert q.duration_longer_us == 5_000_000


def test_single_status_becomes_half_open():
    assert parse("status=404").status == (404, 405)


@pytest.mark.parametrize(
    "bad",
    [
        ["status=700"],
        ["status=500:400"],
        ["status=abc"],
        ["type=nonsense"],
        ["uri="],
        ["uri-prefix="],
        ["method=FROB"],
        ["no_such=x"],
        ["--frobnicate"],
    ],
)
def test_bad_args_rejected(bad):
    with pytest.raises((QueryValidationError, ValueError)):
        parse(*bad)


def test_duplicates_rejected():
    for args in (
        ["site=a", "site=a"],
        ["host=h", "host=h"],
        ["generator=g", "generator=g"],
        ["window=5", "window=5"],
        ["group_site=5", "group_site=5"],
    ):
        with pytest.raises(QueryValidationError):
            parse(*args)


def test_site_group_site_exclusive_both_orders():
    with pytest.raises(QueryValidationError):
        parse("site=a", "group_site=5")
    with pytest.raises(QueryValidationError):
        parse("group_site=5", "site=a")


def test_group_site_window_grammar():
    q = parse("group_site=10@20", "window=100@5")
    assert q.group_site == (10, 20)
    assert q.window == (100, 5)
    # empty max = unlimited (Main.cxx: strtoul no-digits branch)
    assert parse("group_site=@3").group_site == (UINT32_MAX, 3)
    assert parse("window=@7").window == (UINT64_MAX, 7)
    with pytest.raises(QueryValidationError):
        parse("window=0")
    with pytest.raises(QueryValidationError):
        parse("group_site=5@")
    with pytest.raises(QueryValidationError):
        parse("window=5x")


def test_time_sugar():
    q = parse("since=-1h")
    assert q.since == NOW - dt.timedelta(hours=1)
    q = parse("time=2024-01-05")
    assert q.since == dt.datetime(2024, 1, 5)
    assert q.until == dt.datetime(2024, 1, 6)
    q = parse("today")
    assert q.since == dt.datetime(2024, 1, 10)
    assert q.until == dt.datetime(2024, 1, 11)
    q = parse("date=2024-01-03")
    assert q.since == dt.datetime(2024, 1, 3)


def test_method_list_and_unsafe_exclusion():
    q = parse("method=GET,POST")
    assert q.methods == ["GET", "POST"]
    # the exclusion fires at FilterSpec.validate (CommitQuery parity)
    spec = parse("method=GET", "unsafe_method").to_filter_spec()
    with pytest.raises(QueryValidationError):
        spec.validate()


def test_follow_continue_exclusive():
    with pytest.raises(QueryValidationError):
        parse("--follow", "--continue")
    with pytest.raises(QueryValidationError):
        parse("--continue", "--follow")


def test_output_options():
    q = parse(
        "--jsonl", "--no-referer", "--no-agent", "--iso8601",
        "--accumulate=remote_host,top,5",
    )
    o = q.options
    assert o.jsonl and o.iso8601
    assert not o.show_referer and not o.show_agent
    assert o.accumulate == ("remote_host", "top", 5)
    with pytest.raises(QueryValidationError):
        parse("--accumulate=bogus,top,5")
    with pytest.raises(QueryValidationError):
        parse("--accumulate=site,middling,5")
    with pytest.raises(QueryValidationError):
        parse("--per-site-file=x")  # requires --per-site


def test_parse_duration_units():
    assert parse_duration_us("90") == 90_000_000
    assert parse_duration_us("2m") == 120_000_000
    assert parse_duration_us("1h") == 3_600_000_000
    with pytest.raises(ValueError):
        parse_duration_us("5 parsecs")


# -- build() over a real frame ------------------------------------------


def test_build_end_to_end(spark):
    from tests.conftest import make_log_rows

    from pond_spark.schema import LOG_SCHEMA

    df = spark.createDataFrame(make_log_rows(), LOG_SCHEMA)
    q = parse("site=a", "--jsonl")
    out = build(spark, df, q, now=NOW)
    rows = out.collect()
    assert len(rows) > 0
    # one-line mode returns a single formatted column
    q2 = parse("site=a")
    lines = build(spark, df, q2, now=NOW).collect()
    assert len(lines) == len(rows)
    assert lines[0][0]  # non-empty formatted line


def test_build_last_and_window(spark):
    from tests.conftest import make_log_rows

    from pond_spark.schema import LOG_SCHEMA

    df = spark.createDataFrame(make_log_rows(), LOG_SCHEMA)
    assert build(spark, df, parse("--last", "--raw"), now=NOW).count() == 1
    n_all = build(spark, df, parse("--raw"), now=NOW).count()
    n_win = build(spark, df, parse("window=3@1", "--raw"), now=NOW).count()
    assert n_win == min(3, max(n_all - 1, 0))


def test_build_follow_raises(spark):
    from tests.conftest import make_log_rows

    from pond_spark.schema import LOG_SCHEMA

    df = spark.createDataFrame(make_log_rows(), LOG_SCHEMA)
    with pytest.raises(QueryValidationError):
        build(spark, df, parse("--follow"), now=NOW)


# -- main() subcommands in-process --------------------------------------


@pytest.fixture()
def store_dir(spark, tmp_path):
    from tests.conftest import make_log_rows

    from pond_spark.schema import LOG_SCHEMA
    from pond_spark.sources.store import LogStore

    d = str(tmp_path / "store")
    LogStore(spark, d).append(spark.createDataFrame(make_log_rows(), LOG_SCHEMA))
    return d


def test_main_stats(spark, store_dir, capsys):
    from pond_spark.cli import main

    assert main([f"--store={store_dir}", "stats"]) == 0
    out = capsys.readouterr().out
    assert "n_records=8" in out


def test_main_inject_and_query(spark, store_dir, tmp_path, capsys):
    import json

    from pond_spark.cli import main

    raw = tmp_path / "raw.jsonl"
    lines = [
        json.dumps(
            {"id": i, "timestamp": "2024-02-01T10:00:00", "site": "z",
             "type": "http_access"}
        )
        for i in range(100, 103)
    ] + ["not json"]
    raw.write_text("\n".join(lines))
    assert main([f"--store={store_dir}", "inject", str(raw)]) == 0
    out = capsys.readouterr().out
    assert "n_received=4" in out and "n_malformed=1" in out

    assert main([f"--store={store_dir}", "query", "site=z", "--jsonl"]) == 0
    q = capsys.readouterr().out
    assert q.count('"site":"z"') == 3


def test_main_clone(spark, store_dir, tmp_path, capsys):
    from pond_spark.cli import main

    dst = str(tmp_path / "dst")
    assert main([f"--store={dst}", "clone", store_dir]) == 0
    capsys.readouterr()
    assert main([f"--store={dst}", "stats"]) == 0
    assert "n_records=8" in capsys.readouterr().out


def test_main_per_site_tree(spark, store_dir, tmp_path, capsys):
    import os

    from pond_spark.cli import main

    tree = str(tmp_path / "tree")
    assert main([f"--store={store_dir}", "query", f"--per-site={tree}"]) == 0
    assert "wrote per-site tree" in capsys.readouterr().out
    dirs = {d.split("=")[-1] for d in os.listdir(tree) if "=" in d}
    assert {"a", "b"} <= dirs


def test_main_missing_store(capsys):
    from pond_spark.cli import main

    assert main(["stats"]) == 2


def test_accumulate_count_must_be_positive():
    """The reference parses the count into an unsigned integer, so
    zero/negative counts never parse there — mirror the rejection."""
    for cnt in ("0", "-1"):
        with pytest.raises(QueryValidationError):
            parse(f"--accumulate=site,top,{cnt}")
    assert parse("--accumulate=site,top,1").options.accumulate == (
        "site", "top", 1,
    )


def test_main_build_errors_exit_2_not_traceback(spark, store_dir, capsys):
    """QueryValidationError raised inside build() must take the
    stderr+exit-2 path like parse errors (--geoip without a table is
    the build-time case; --follow now STREAMS from main — the library
    build() still refuses it for batch use)."""
    import pytest as _pytest

    from pond_spark.cli import build, main, parse_query_args
    from pond_spark.filters import QueryValidationError
    from pond_spark.sources.store import LogStore

    assert main([f"--store={store_dir}", "query", "--geoip"]) == 2
    err = capsys.readouterr().err
    assert "geo" in err.lower()

    # the batch builder still refuses the streaming verbs
    df = LogStore(spark, store_dir).read()
    with _pytest.raises(QueryValidationError, match="streaming"):
        build(spark, df, parse_query_args(["--follow"]))

    # and a bounded --follow run drains and exits 0 (no history by Q6)
    assert (
        main([f"--store={store_dir}", "--follow-duration=0", "query", "--follow"])
        == 0
    )
    assert capsys.readouterr().out.strip() == ""


def test_main_follow_max_batch_rows_caps_collect(spark, store_dir, capsys):
    """--max-batch-rows=N truncates each micro-batch's driver collect
    (the --continue backfill safety valve): only N lines print, with a
    non-silent stderr warning; and a bad value exits 2."""
    from pond_spark.cli import main

    assert (
        main([
            f"--store={store_dir}", "--follow-duration=0",
            "--max-batch-rows=3", "query", "--continue",
        ])
        == 0
    )
    out, err = capsys.readouterr()
    lines = [ln for ln in out.strip().splitlines() if ln]
    assert len(lines) == 3
    assert "truncated" in err

    assert main([
        f"--store={store_dir}", "--max-batch-rows=lots", "query",
    ]) == 2
    # 0 / negative: bad options (silent output or a mid-stream limit()
    # crash), exit 2 without a traceback
    for bad in ("0", "-1"):
        assert main([
            f"--store={store_dir}", f"--max-batch-rows={bad}", "query",
        ]) == 2


def test_main_per_site_auto_group_site(spark, store_dir, tmp_path, capsys):
    """--per-site with no site filter auto-enables GROUP_SITE(max)
    (reference client Main.cxx:336-343): records without a site are
    not reachable via GROUP_SITE, so they stay out of the tree."""
    import os

    from pond_spark.cli import main

    tree = str(tmp_path / "tree2")
    assert main([f"--store={store_dir}", "query", f"--per-site={tree}"]) == 0
    capsys.readouterr()
    dirs = {d.split("=")[-1] for d in os.listdir(tree) if "=" in d}
    assert "__HIVE_DEFAULT_PARTITION__" not in dirs  # no NULL-site dir


def test_build_geoip_and_visitor_line_appends(spark):
    """--geoip / --track-visitors append ' COUNTRY' / ' VISITOR' to
    http_access one-lines only (ResultWriter.cxx:278-301)."""
    from tests.conftest import make_log_rows

    from pond_spark.schema import LOG_SCHEMA

    rows = make_log_rows()
    # the hard case the reference encodes (ResultWriter.cxx:292-301):
    # an http_access record in the geo range but WITHOUT a timestamp
    # does not participate in visitor tracking — its line must still
    # get the COUNTRY but a '-' visitor slot, never an opaque id
    extra = dict.fromkeys([f.name for f in LOG_SCHEMA.fields])
    extra.update(
        id=99, timestamp=None, site="a", type="http_access",
        remote_host="1.2.3.99",
    )
    rows.append(extra)
    df = spark.createDataFrame(rows, LOG_SCHEMA)
    geo = spark.createDataFrame(
        [(16909056, 16909311, "DE")],  # 1.2.3.0 - 1.2.3.255
        "ip_start long, ip_end long, country string",
    )
    q = parse("--geoip", "--track-visitors")
    lines = [
        r.line
        for r in build(spark, df, q, now=NOW, geo_df=geo)
        .orderBy(F.length("line").desc())
        .collect()
    ]
    # http_access lines from 1.2.3.x get " DE <opaque-visitor-id>"
    import re

    assert any(re.search(r" DE [0-9a-f]{16}$", ln) for ln in lines)
    # the injected timestamp-less http_access row: COUNTRY appends
    # (type-gated only) but the visitor slot stays '-' (participation
    # requires host AND timestamp)
    no_ts_http = [ln for ln in lines if "[-]" in ln and "1.2.3.99" in ln]
    assert no_ts_http, lines
    assert all(re.search(r" DE -$", ln) for ln in no_ts_http), no_ts_http
    # non-http records get neither append
    no_ts_other = [
        ln for ln in lines if "[-]" in ln and "1.2.3.99" not in ln
    ]
    assert no_ts_other and all(" DE" not in ln for ln in no_ts_other)


# -- grammar fuzz: arbitrary input never crashes unexpectedly ------------


def test_parse_fuzz_never_crashes_unexpectedly():
    """Any argument list either parses or raises the reference's
    validation errors (QueryValidationError / ValueError) — never an
    unhandled exception type."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    keys = [
        "site", "group_site", "window", "host", "generator", "since",
        "until", "time", "date", "duration_longer", "type", "status",
        "method", "uri", "uri-prefix", "--accumulate", "--per-site",
    ]
    arg = st.one_of(
        st.sampled_from(["today", "unsafe_method", "--follow", "--last",
                         "--jsonl", "--raw", "--iso8601"]),
        st.tuples(st.sampled_from(keys), st.text(max_size=12)).map(
            lambda kv: f"{kv[0]}={kv[1]}"
        ),
        st.text(max_size=16),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(arg, max_size=5))
    def run(args):
        try:
            parse_query_args(args, now=NOW)
        except (QueryValidationError, ValueError):
            pass

    run()


def test_cli_bad_time_specs_exit_2(tmp_path, spark):
    """Regression (r4 review): malformed time/duration/date specs must
    exit 2 with a message, not traceback (the module's own parse-error
    contract)."""
    from pond_spark.cli import main
    from pond_spark.sources.store import LogStore

    store = str(tmp_path / "s")
    LogStore(spark, store)  # empty store dir is fine; parse fails first
    for args in (
        ["since=bogus"],
        ["duration_longer=5x7"],
        ["date=2024-02-31"],
        ["until=not-a-time"],
    ):
        assert main([f"--store={store}", "query", *args]) == 2


def test_cli_per_site_honors_format_flags_and_filename(tmp_path, spark):
    """Regression (r4 review): the --per-site path ignored the line
    formatting flags and --per-site-file. Now per-site lines honor
    --iso8601/--no-agent etc. and each site dir holds one file with
    the requested name."""
    import glob
    import os

    from pond_spark.cli import main
    from pond_spark.schema import LOG_SCHEMA
    from pond_spark.sources.store import LogStore

    t0 = dt.datetime(2024, 1, 1, 10)
    base = dict.fromkeys([f.name for f in LOG_SCHEMA.fields])
    rows = []
    for i, site in ((1, "alpha"), (2, "beta")):
        r = dict(base)
        r.update(id=i, timestamp=t0, site=site, type="http_access",
                 remote_host="10.0.0.9")
        rows.append(r)
    store = str(tmp_path / "st")
    LogStore(spark, store).append(spark.createDataFrame(rows, LOG_SCHEMA))

    out = str(tmp_path / "tree")
    rc = main([
        f"--store={store}", "query",
        f"--per-site={out}", "--per-site-file=access.log",
        "--iso8601", "--no-agent", "--no-referer", "--anonymize",
    ])
    assert rc == 0
    files = sorted(glob.glob(os.path.join(out, "_site_dir=*", "access.log")))
    assert [os.path.basename(os.path.dirname(f)) for f in files] == [
        "_site_dir=alpha", "_site_dir=beta"
    ]
    line = open(files[0]).read().strip()
    assert "T" in line.split("[")[1]  # iso8601 timestamp honored
    assert "10.0.0.0" in line        # anonymize honored (/24 zeroed)


def test_cli_resolve_forwarded_requires_and_uses_table(tmp_path, spark):
    """Regression (r4 review): --resolve-forwarded-to silently showed
    raw addresses. It now requires --hostnames-table and resolves
    through it."""
    import io
    from contextlib import redirect_stdout

    from pond_spark.cli import main
    from pond_spark.schema import LOG_SCHEMA
    from pond_spark.sources.store import LogStore

    t0 = dt.datetime(2024, 1, 1, 10)
    base = dict.fromkeys([f.name for f in LOG_SCHEMA.fields])
    r = dict(base)
    r.update(id=1, timestamp=t0, site="a", type="http_access",
             remote_host="10.0.0.1", forwarded_to="10.1.1.1:80")
    store = str(tmp_path / "st2")
    LogStore(spark, store).append(spark.createDataFrame([r], LOG_SCHEMA))

    # without the table: exit 2 + message (no silent raw output)
    assert main([f"--store={store}", "query", "--resolve-forwarded-to"]) == 2

    lut = str(tmp_path / "names.csv")
    with open(lut, "w") as fh:
        fh.write("address,name\n10.1.1.1:80,backend-a\n")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main([
            f"--store={store}", f"--hostnames-table={lut}",
            "query", "--resolve-forwarded-to",
        ])
    assert rc == 0
    assert "backend-a" in buf.getvalue()


def test_cli_continue_streams_history_to_stdout(tmp_path, spark):
    """Q7 from the CLI: --continue with --follow-duration=0 drains the
    store's history through the streaming path and prints formatted
    lines (the reference client's history+tail, non-interactive)."""
    import io
    from contextlib import redirect_stdout

    from pond_spark.cli import main
    from pond_spark.schema import LOG_SCHEMA
    from pond_spark.sources.store import LogStore

    t0 = dt.datetime(2024, 1, 1, 10)
    base = dict.fromkeys([f.name for f in LOG_SCHEMA.fields])
    rows = []
    for i, site in ((1, "a"), (2, "b"), (3, "a")):
        r = dict(base)
        r.update(id=i, timestamp=t0 + dt.timedelta(seconds=i), site=site,
                 type="http_access", remote_host="10.0.0.1")
        rows.append(r)
    store = str(tmp_path / "fs")
    LogStore(spark, store).append(spark.createDataFrame(rows, LOG_SCHEMA))

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main([
            f"--store={store}", "--follow-duration=0",
            "query", "--continue", "site=a",
        ])
    assert rc == 0
    lines = [l for l in buf.getvalue().splitlines() if l.strip()]
    assert len(lines) == 2            # site filter applied
    assert all(l.startswith("a ") for l in lines)
    # chronological within the drained batch — compare PARSED times
    # (lexicographic CLF lines only sort correctly within one day)
    stamps = [
        dt.datetime.strptime(
            l.split("[", 1)[1].split("]", 1)[0], "%d/%b/%Y:%H:%M:%S %z"
        )
        for l in lines
    ]
    assert stamps == sorted(stamps)


def test_cli_sketch_group_kmv_roundtrip(spark, store_dir, tmp_path, capsys):
    """r6 ask #7: the sketch subcommand group — build a KMV table from
    the store, serve uniques and churn from the table alone, and hit
    the sidecar guard through the CLI error contract (exit 2)."""
    from pond_spark.cli import main

    path = str(tmp_path / "kmv")
    assert main([f"--store={store_dir}", "sketch", "build-kmv", path,
                 "--k=8"]) == 0
    out = capsys.readouterr().out
    assert f"built kmv path={path} k=8" in out
    assert main([f"--store={store_dir}", "sketch", "kmv-uniques", path,
                 "2020-01-01", "2030-01-01", "--k=8"]) == 0
    out = capsys.readouterr().out
    assert "uniques_est=" in out and "site=" in out
    assert main([f"--store={store_dir}", "sketch", "kmv-churn", path,
                 "2020-01-01", "2024-01-01", "2024-01-02", "2030-01-01",
                 "--k=8"]) == 0
    out = capsys.readouterr().out
    assert "returning_est=" in out and "new_est=" in out
    # serving k above the build k refuses via the sidecar (exit 2)
    assert main([f"--store={store_dir}", "sketch", "kmv-uniques", path,
                 "2020-01-01", "2030-01-01", "--k=64"]) == 2
    assert "exceed" in capsys.readouterr().err
    # bad arity is a usage error, not a traceback
    assert main([f"--store={store_dir}", "sketch", "kmv-uniques", path]) == 2
    assert main([f"--store={store_dir}", "sketch"]) == 2
    assert main([f"--store={store_dir}", "sketch", "no-such"]) == 2


def test_cli_sketch_group_cm_estimate_and_join_size(
    spark, store_dir, tmp_path, capsys
):
    from pond_spark.cli import main

    path = str(tmp_path / "cm")
    assert main([f"--store={store_dir}", "sketch", "build-cm", path,
                 "--key-col=site"]) == 0
    capsys.readouterr()
    assert main([f"--store={store_dir}", "sketch", "cm-estimate", path,
                 "2020-01-01", "2030-01-01", "a", "zzz-absent"]) == 0
    out = capsys.readouterr().out
    assert "key=a est=" in out and "key=zzz-absent est=" in out
    assert main([f"--store={store_dir}", "sketch", "cm-join-size", path,
                 "2020-01-01", "2024-01-01", "2024-01-02", "2030-01-01"]) == 0
    out = capsys.readouterr().out
    assert "est=" in out


def test_cli_sketch_update_cm_recomputes_named_days(spark, tmp_path, capsys):
    """``update-cm PATH DAY...`` recomputes the named days from the
    store, so repeating it is idempotent. It used to fold the whole
    store into cells that already held it: one update turned est=10
    into est=20."""
    from pond_spark.cli import main
    from pond_spark.schema import LOG_SCHEMA
    from pond_spark.sources.store import LogStore
    from tests.conftest import ts

    store = str(tmp_path / "store")
    blank = dict.fromkeys(f.name for f in LOG_SCHEMA.fields)
    rows = [{**blank, "id": i, "timestamp": ts(1, i), "site": "a"}
            for i in range(10)]
    LogStore(spark, store).append(spark.createDataFrame(rows, LOG_SCHEMA))
    path = str(tmp_path / "cm")
    base = [f"--store={store}", "sketch"]
    assert main([*base, "build-cm", path, "--key-col=site"]) == 0
    for _ in range(2):
        assert main([*base, "update-cm", path, "2024-01-01",
                     "--key-col=site"]) == 0
        assert "updated cm path=" in capsys.readouterr().out
        assert main([*base, "cm-estimate", path, "2020-01-01", "2030-01-01",
                     "a"]) == 0
        assert "key=a est=10" in capsys.readouterr().out


def test_cli_pack_summary_and_out(spark, store_dir, tmp_path, capsys):
    from pond_spark.cli import main

    src = str(tmp_path / "toks")
    spark.createDataFrame(
        [(i, 10 + (i * 7) % 50) for i in range(40)], "doc_id long, n_tokens long"
    ).write.parquet(src)
    assert main([f"--store={store_dir}", "pack", src, "--capacity=64"]) == 0
    out = capsys.readouterr().out
    assert "n_docs=40" in out and "n_bins=" in out
    dst = str(tmp_path / "packed")
    assert main([f"--store={store_dir}", "pack", src, "--capacity=64",
                 f"--out={dst}"]) == 0
    packed = spark.read.parquet(dst)
    assert packed.count() == 40
    assert set(packed.columns) == {"doc_id", "bucket", "bin", "n_tokens"}
    # missing capacity is a usage error
    assert main([f"--store={store_dir}", "pack", src]) == 2


def test_cli_catalog_group_minhash_and_digest(spark, store_dir, tmp_path, capsys):
    """r7: the catalog subcommand group — register/filter/candidates/
    compact over parquet doc tables, the sidecar guard through the CLI
    error contract, and --out writing the full result."""
    from pond_spark.cli import main

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "epsilon zeta eta theta")],
        "doc_id long, text string",
    ).write.parquet(docs)
    probe = str(tmp_path / "probe")
    spark.createDataFrame(
        [(10, "alpha beta gamma delta"), (11, "totally fresh words here")],
        "doc_id long, text string",
    ).write.parquet(probe)

    dcat = str(tmp_path / "dcat")
    assert main([f"--store={store_dir}", "catalog", "digest-register",
                 dcat, docs]) == 0
    assert "registered" in capsys.readouterr().out
    out_dir = str(tmp_path / "new_docs")
    assert main([f"--store={store_dir}", "catalog", "digest-filter",
                 dcat, probe, f"--out={out_dir}"]) == 0
    assert "rows=1" in capsys.readouterr().out  # only doc 11 is new
    assert {r.doc_id for r in spark.read.parquet(out_dir).collect()} == {11}

    mcat = str(tmp_path / "mcat")
    assert main([f"--store={store_dir}", "catalog", "minhash-register",
                 mcat, docs, "--k=16", "--bands=4"]) == 0
    capsys.readouterr()
    assert main([f"--store={store_dir}", "catalog", "minhash-candidates",
                 mcat, probe, "--k=16", "--bands=4"]) == 0
    assert "rows=2" in capsys.readouterr().out  # 10 collides with 1 and 2
    assert main([f"--store={store_dir}", "catalog", "minhash-filter",
                 mcat, probe, "--k=16", "--bands=4"]) == 0
    assert "rows=1" in capsys.readouterr().out
    assert main([f"--store={store_dir}", "catalog", "compact", "minhash",
                 mcat, "--k=16", "--bands=4"]) == 0
    assert "compacted" in capsys.readouterr().out
    # sidecar refusal via the CLI error contract: different bands
    assert main([f"--store={store_dir}", "catalog", "minhash-filter",
                 mcat, probe, "--k=16", "--bands=8"]) == 2
    assert capsys.readouterr().err  # message, no traceback
    # usage errors
    assert main([f"--store={store_dir}", "catalog"]) == 2
    assert main([f"--store={store_dir}", "catalog", "no-such", "a", "b"]) == 2
    assert main([f"--store={store_dir}", "catalog", "compact", "bogus",
                 mcat]) == 2


def test_cli_catalog_group_embedding(spark, store_dir, tmp_path, capsys):
    from pond_spark.cli import main

    vecs = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    ).write.parquet(vecs)
    probe = str(tmp_path / "vprobe")
    spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.0, 0.0, -1.0])],
        "vec_id long, embedding array<float>",
    ).write.parquet(probe)
    ecat = str(tmp_path / "ecat")
    assert main([f"--store={store_dir}", "catalog", "emb-register",
                 ecat, vecs, "--dim=3", "--nbits=4"]) == 0
    capsys.readouterr()
    assert main([f"--store={store_dir}", "catalog", "emb-candidates",
                 ecat, probe, "--dim=3", "--nbits=4"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("rows=")
    # --dim is required for the emb kind (hyperplane shape)
    assert main([f"--store={store_dir}", "catalog", "emb-filter",
                 ecat, probe]) == 2
    assert "--dim" in capsys.readouterr().err


def test_cli_index_group_text_and_ivf(spark, store_dir, tmp_path, capsys):
    """r7: the index subcommand group — build/append/search/compact
    the persisted BM25 and IVF indexes from parquet tables."""
    from pond_spark.cli import main

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "spark streams and windows"), (2, "vector hash windows"),
         (3, "totally unrelated prose")],
        "doc_id long, text string",
    ).write.parquet(docs)
    tix = str(tmp_path / "tix")
    assert main([f"--store={store_dir}", "index", "build-text", tix,
                 docs]) == 0
    assert "n_docs=3" in capsys.readouterr().out
    assert main([f"--store={store_dir}", "index", "search-text", tix,
                 "windows", "--topk=2"]) == 0
    out = capsys.readouterr().out
    assert "doc_id=" in out and "score_q=" in out
    more = str(tmp_path / "docs2")
    spark.createDataFrame(
        [(4, "windows again")], "doc_id long, text string"
    ).write.parquet(more)
    assert main([f"--store={store_dir}", "index", "append-text", tix,
                 more]) == 0
    assert "n_docs=4" in capsys.readouterr().out
    assert main([f"--store={store_dir}", "index", "compact-text", tix]) == 0
    capsys.readouterr()
    assert main([f"--store={store_dir}", "index", "search-text", tix,
                 "windows"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 3

    vecs = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
         for i in range(30)],
        "vec_id long, embedding array<float>",
    ).write.parquet(vecs)
    vix = str(tmp_path / "vix")
    assert main([f"--store={store_dir}", "index", "build-ivf", vix, vecs,
                 "--n-centroids=3"]) == 0
    capsys.readouterr()
    assert main([f"--store={store_dir}", "index", "search-ivf", vix,
                 "1.0,0.0,0.0", "--topk=3", "--nprobe=2"]) == 0
    out = capsys.readouterr().out
    assert out.count("cosine=1.0") == 3  # the exact-match third
    # usage errors
    assert main([f"--store={store_dir}", "index"]) == 2
    assert main([f"--store={store_dir}", "index", "no-such", "a"]) == 2
    assert main([f"--store={store_dir}", "index", "search-text", tix]) == 2


def test_cli_catalog_advise_skewed_fixture(spark, store_dir, tmp_path, capsys):
    """r8 (VERDICT r7 ask #4): ``catalog advise`` reports the bucket
    histogram of a registered catalog and recommends the hot-bucket
    cap (and nbits for embedding catalogs). The fixture plants a hub:
    40 identical boilerplate docs share every band key, 20 unique docs
    sit in singleton buckets — p99/max must surface the hub, and the
    recommended cap must silence it (cap < hub occupancy)."""
    from pond_spark.cli import main

    docs = str(tmp_path / "adocs")
    rows = [(i, "the same boilerplate text everywhere") for i in range(40)]
    # enough unique mass that the hub sits beyond p99 (as at real
    # scale — with a handful of buckets p99 IS the hub and the
    # recommendation would not discriminate)
    rows += [(1000 + i,
              f"w{i * 7} w{i * 13 + 1} w{i * 29 + 2} w{i * 31 + 3} "
              f"w{i * 37 + 4} w{i * 41 + 5}")
             for i in range(400)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs)

    mcat = str(tmp_path / "amcat")
    assert main([f"--store={store_dir}", "catalog", "minhash-register",
                 mcat, docs, "--k=16", "--bands=4"]) == 0
    capsys.readouterr()
    assert main([f"--store={store_dir}", "catalog", "advise", "minhash",
                 mcat, "--k=16", "--bands=4"]) == 0
    rep = dict(
        line.split("=", 1)
        for line in capsys.readouterr().out.strip().splitlines()
    )
    assert int(rep["occ_max"]) == 40  # the hub is visible
    assert int(rep["occ_p50"]) <= 2  # the working mass is not
    cap = int(rep["recommended_max_bucket_size"])
    assert 16 <= cap < 40  # silences the hub, spares the mass
    assert int(rep["hot_buckets"]) >= 4  # the hub's 4 band keys
    assert int(rep["pair_mass_capped"]) < int(rep["pair_mass"])

    # embedding catalog: hub vector repeated, nbits recommendation
    vecs = str(tmp_path / "avecs")
    vrows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]
    vrows += [(100 + i, [float(i % 3) - 1.0, float(i % 5) - 2.0,
                         float(i % 7) - 3.0, 1.0]) for i in range(20)]
    spark.createDataFrame(vrows, "vec_id long, embedding array<float>")\
        .write.parquet(vecs)
    ecat = str(tmp_path / "aecat")
    assert main([f"--store={store_dir}", "catalog", "emb-register",
                 ecat, vecs, "--dim=4", "--nbits=4"]) == 0
    capsys.readouterr()
    assert main([f"--store={store_dir}", "catalog", "advise", "emb",
                 ecat, "--dim=4", "--nbits=4", "--max-bucket-size=8"]) == 0
    erep = dict(
        line.split("=", 1)
        for line in capsys.readouterr().out.strip().splitlines()
    )
    assert int(erep["n_vectors"]) == 60
    assert int(erep["occ_max"]) >= 40
    assert int(erep["cap"]) == 8  # explicit cap respected
    assert int(erep["hot_buckets"]) >= 2  # the hub bucket in each table
    assert int(erep["recommended_nbits"]) == 4  # 60 vecs -> tiny table


def test_cli_catalog_advise_snapshot_history(spark, store_dir, tmp_path, capsys):
    """round-9 #4: `advise --snapshot` persists the histogram next to
    the catalog; a second register + snapshot grows the history, and
    `advise-history` replays it oldest-first without re-scanning."""
    import json as _json

    from pond_spark.cli import main

    d1 = str(tmp_path / "h1")
    spark.createDataFrame(
        [(i, f"w{i * 7} w{i * 13 + 1} w{i * 29 + 2} w{i * 31 + 3}")
         for i in range(30)],
        "doc_id long, text string",
    ).write.parquet(d1)
    d2 = str(tmp_path / "h2")
    spark.createDataFrame(
        [(1000 + i, f"v{i * 11} v{i * 17 + 1} v{i * 23 + 2} v{i * 43 + 3}")
         for i in range(30)],
        "doc_id long, text string",
    ).write.parquet(d2)

    cat = str(tmp_path / "hcat")
    flags = ["--k=16", "--bands=4"]
    assert main([f"--store={store_dir}", "catalog", "minhash-register",
                 cat, d1, *flags]) == 0
    assert main([f"--store={store_dir}", "catalog", "advise", "minhash",
                 cat, "--snapshot", *flags]) == 0
    assert main([f"--store={store_dir}", "catalog", "minhash-register",
                 cat, d2, *flags]) == 0
    assert main([f"--store={store_dir}", "catalog", "advise", "minhash",
                 cat, "--snapshot", *flags]) == 0
    capsys.readouterr()
    assert main([f"--store={store_dir}", "catalog", "advise-history",
                 "minhash", cat, *flags]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    snaps = [_json.loads(line) for line in lines]
    assert len(snaps) == 2
    assert snaps[1]["n_rows"] > snaps[0]["n_rows"]  # growth is visible
    assert all("ts" in s and "occ_p99" in s for s in snaps)
    # --delta: one adjacent-pair growth row with positive d_n_rows
    assert main([f"--store={store_dir}", "catalog", "advise-history",
                 "minhash", cat, "--delta", *flags]) == 0
    dl = [_json.loads(x) for x in
          capsys.readouterr().out.strip().splitlines()]
    assert len(dl) == 1 and dl[0]["d_n_rows"] > 0
    # the sidecar lives next to the catalog, one line per snapshot
    with open(cat + ".advise.jsonl") as f:
        assert len(f.read().strip().splitlines()) == 2


def test_minhash_register_snapshot_records_history(spark, tmp_path):
    """register(snapshot=True) appends the post-register histogram —
    the in-pipeline shape of the advisory trend (round-9 #4)."""
    from pond_spark.dedup.minhash import MinHashCatalog

    docs1 = spark.createDataFrame(
        [(i, f"a{i} b{i + 1} c{i + 2} d{i + 3}") for i in range(10)],
        "doc_id long, text string",
    )
    docs2 = spark.createDataFrame(
        [(100 + i, f"x{i} y{i + 1} z{i + 2} q{i + 3}") for i in range(10)],
        "doc_id long, text string",
    )
    cat = MinHashCatalog(spark, str(tmp_path / "rcat"), k=16, bands=4)
    cat.register(docs1, snapshot=True)
    cat.register(docs2, snapshot=True)
    hist = cat.advise_history()
    assert len(hist) == 2
    assert hist[1]["n_rows"] > hist[0]["n_rows"]


def test_cli_pipeline_run_and_status(spark, store_dir, tmp_path, capsys):
    """r8: the pipeline command group — `pipeline run` computes the
    stage chain into a work_dir, a second identical invocation resumes
    every stage, `status` reports completeness without running jobs,
    and a changed config hits the manifest pin through the CLI error
    contract (exit 2, message, no traceback)."""
    from pond_spark.cli import main

    docs = str(tmp_path / "pdocs")
    good = "clean prose with plenty of ordinary readable words " * 3
    spark.createDataFrame(
        [(1, good + "one"), (2, good + "one"), (3, good + "three"),
         (4, "too short")],
        "doc_id long, text string",
    ).write.parquet(docs)
    work = str(tmp_path / "pwork")
    base = [f"--store={store_dir}", "pipeline", "run", docs, work,
            "--stages=quality,exact_dedup,sample", "--sample-rate=1.0"]

    assert main(base) == 0
    out = capsys.readouterr().out
    assert out.count("computed") == 3 and "final=" in out

    assert main(base) == 0
    out = capsys.readouterr().out
    assert out.count("resumed") == 3

    assert main([f"--store={store_dir}", "pipeline", "status", work]) == 0
    out = capsys.readouterr().out
    assert out.count("complete") == 3 and "missing" not in out

    # manifest pin through the error contract
    assert main([f"--store={store_dir}", "pipeline", "run", docs, work,
                 "--stages=quality,sample"]) == 2
    assert "work_dir" in capsys.readouterr().err

    # usage errors
    assert main([f"--store={store_dir}", "pipeline"]) == 2
    capsys.readouterr()
    assert main([f"--store={store_dir}", "pipeline", "status",
                 str(tmp_path / "nowhere")]) == 2
    capsys.readouterr()


def test_cli_pipeline_run_incremental_catalogs(spark, store_dir, tmp_path, capsys):
    """round-9 #3 through the CLI: --digest-catalog adds the cross-run
    gate + after-ship registration; a second day's run through the
    SAME catalog drops already-shipped content, and status reports the
    gate stage and the registration marker."""
    from pond_spark.cli import main

    good = "clean prose with plenty of ordinary readable words " * 3
    cat = str(tmp_path / "cat")
    day1 = str(tmp_path / "d1")
    spark.createDataFrame(
        [(1, good + "one")], "doc_id long, text string"
    ).write.parquet(day1)
    assert main([f"--store={store_dir}", "pipeline", "run", day1,
                 str(tmp_path / "w1"), "--stages=quality",
                 f"--digest-catalog={cat}"]) == 0
    out = capsys.readouterr().out
    assert "catalog_gate" in out and "catalog_register" in out

    day2 = str(tmp_path / "d2")
    spark.createDataFrame(
        [(11, good + "one"), (12, good + "two")],
        "doc_id long, text string",
    ).write.parquet(day2)
    w2 = str(tmp_path / "w2")
    assert main([f"--store={store_dir}", "pipeline", "run", day2, w2,
                 "--stages=quality", f"--digest-catalog={cat}"]) == 0
    final = capsys.readouterr().out.splitlines()[-1].split("=", 1)[1]
    assert {r.doc_id for r in spark.read.parquet(final).collect()} == {12}

    assert main([f"--store={store_dir}", "pipeline", "status", w2]) == 0
    out = capsys.readouterr().out
    assert out.count("complete") == 3  # gate, quality, register
    assert "catalog_register" in out and "missing" not in out

    # status lists exactly the paths curate_run returns, in order (one
    # work-dir layout for both), and a stage that lost its _SUCCESS
    # shows missing
    import os

    from pond_spark.pipeline import CurationConfig, curate_run

    rows = curate_run(spark, day2, w2, CurationConfig(stages=("quality",)),
                      digest_catalog_path=cat)
    assert [r["status"] for r in rows] == ["resumed"] * 3
    assert main([f"--store={store_dir}", "pipeline", "status", w2]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split()[-1] for ln in lines] == [r["path"] for r in rows]
    os.remove(os.path.join(rows[1]["path"], "_SUCCESS"))
    assert main([f"--store={store_dir}", "pipeline", "status", w2]) == 0
    states = [ln.split()[:2] for ln in capsys.readouterr().out.splitlines()]
    assert states == [["complete", "catalog_gate"], ["missing", "quality"],
                      ["complete", "catalog_register"]]


def test_cli_pipeline_report_funnel(spark, store_dir, tmp_path, capsys):
    """`pipeline report` prints the per-stage funnel (pipeline.report)
    without touching a work_dir."""
    from pond_spark.cli import main

    good = "clean prose with plenty of ordinary readable words " * 3
    docs = str(tmp_path / "rdocs")
    spark.createDataFrame(
        [(1, good + "one"), (2, good + "one"), (3, "too short")],
        "doc_id long, text string",
    ).write.parquet(docs)
    assert main([f"--store={store_dir}", "pipeline", "report", docs,
                 "--stages=quality,exact_dedup", "--min-words=10"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].startswith("quality") and "in=         3" in out[0]
    assert out[1].startswith("exact_dedup") and "dropped=1" in out[1]


def test_cli_catalog_expire_and_retention_history(spark, store_dir, tmp_path, capsys):
    """catalog expire/retention-history: the age-eviction maintenance
    job through the operator CLI (--max-age computes the horizon from
    the wall clock; --before-ts pins it; exactly one required)."""
    import json as _json

    from pond_spark.cli import main
    from pond_spark.dedup.exact import DigestCatalog

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    ).write.parquet(docs)
    cat = str(tmp_path / "dcat")
    DigestCatalog(spark, cat).register(
        spark.read.parquet(docs), run_ts=1_000
    )
    assert main([f"--store={store_dir}", "catalog", "expire", "digest",
                 cat, "--before-ts=1500"]) == 0
    out = capsys.readouterr().out
    assert "rows_before=2" in out and "rows_kept=0" in out
    assert main([f"--store={store_dir}", "catalog", "retention-history",
                 "digest", cat]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert _json.loads(lines[0])["before_ts"] == 1_500
    # exactly one horizon flag: none or both is a usage error
    assert main([f"--store={store_dir}", "catalog", "expire", "digest",
                 cat]) == 2
    assert main([f"--store={store_dir}", "catalog", "expire", "digest",
                 cat, "--before-ts=1", "--max-age=1"]) == 2
    capsys.readouterr()
    # --max-age horizon: now - huge age keeps everything
    assert main([f"--store={store_dir}", "catalog", "expire", "digest",
                 cat, "--max-age=999999999"]) == 0
    assert "rows_kept=0" in capsys.readouterr().out  # already evicted


def test_cli_catalog_emb_verified_gate(spark, store_dir, tmp_path, capsys):
    """catalog emb-register --store-vectors + emb-filter --verify-cos:
    the exact-cosine verified gate through the operator CLI (a
    saturated nbits=1 bucket space false-drops nothing; only the true
    near-dup goes)."""
    from pond_spark.cli import main

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (4 - len(xs))

    d1 = str(tmp_path / "v1")
    spark.createDataFrame(
        [(1, v(1, 0)), (2, v(0, 1))], "vec_id long, embedding array<float>"
    ).write.parquet(d1)
    d2 = str(tmp_path / "v2")
    spark.createDataFrame(
        [(11, v(0.99, 0.01)), (12, v(0.6, -0.8))],
        "vec_id long, embedding array<float>",
    ).write.parquet(d2)
    cat = str(tmp_path / "vcat")
    flags = ["--dim=4", "--nbits=1", "--tables=2"]
    assert main([f"--store={store_dir}", "catalog", "emb-register",
                 cat, d1, "--store-vectors", *flags]) == 0
    capsys.readouterr()
    # bucket-only filter: the near-parallel probe (11) is a CERTAIN
    # collision (shares every sign bit with stored vector 1), so at
    # most the unrelated probe survives
    assert main([f"--store={store_dir}", "catalog", "emb-filter",
                 cat, d2, "--store-vectors", *flags]) == 0
    assert capsys.readouterr().out.strip() in ("rows=0", "rows=1")
    # ...the verified gate keeps the unrelated one
    out_dir = str(tmp_path / "fresh")
    assert main([f"--store={store_dir}", "catalog", "emb-filter",
                 cat, d2, "--verify-cos=0.9", f"--out={out_dir}",
                 *flags]) == 0
    assert "rows=1" in capsys.readouterr().out
    assert [r.vec_id for r in spark.read.parquet(out_dir).collect()] == [12]
    # opening a store_vectors catalog WITHOUT the flag refuses loudly
    assert main([f"--store={store_dir}", "catalog", "emb-filter",
                 cat, d2, *flags]) == 2
    assert "incomparable" in capsys.readouterr().err


def test_cli_catalog_emb_vector_buckets(spark, store_dir, tmp_path, capsys):
    """catalog emb-register --vector-buckets=N: the verify sibling's
    bucketed layout through the operator CLI — results identical to
    the plain sibling (layout invariance), sidecar-pinned (re-opening
    without the flag refuses)."""
    from pond_spark.cli import main

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (4 - len(xs))

    d1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [(1, v(1, 0)), (2, v(0, 1))], "vec_id long, embedding array<float>"
    ).write.parquet(d1)
    d2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(11, v(0.99, 0.01)), (12, v(0.6, -0.8))],
        "vec_id long, embedding array<float>",
    ).write.parquet(d2)
    cat = str(tmp_path / "bcat")
    flags = ["--dim=4", "--nbits=1", "--tables=2", "--store-vectors",
             "--vector-buckets=2"]
    assert main([f"--store={store_dir}", "catalog", "emb-register",
                 cat, d1, *flags]) == 0
    capsys.readouterr()
    out_dir = str(tmp_path / "bfresh")
    assert main([f"--store={store_dir}", "catalog", "emb-filter",
                 cat, d2, "--verify-cos=0.9", f"--out={out_dir}",
                 *flags]) == 0
    assert "rows=1" in capsys.readouterr().out
    assert [r.vec_id for r in spark.read.parquet(out_dir).collect()] == [12]
    # bucket count is pinned in the sidecar
    assert main([f"--store={store_dir}", "catalog", "emb-filter",
                 cat, d2, "--verify-cos=0.9", "--dim=4", "--nbits=1",
                 "--tables=2", "--store-vectors"]) == 2
    assert "incomparable" in capsys.readouterr().err


@pytest.fixture()
def no_spark(monkeypatch):
    """Fail the test if main() reaches get_spark: a usage error must be
    refused while parsing, before any JVM starts."""
    import pond_spark.session

    def refuse(*a, **kw):
        raise AssertionError("main() started Spark for a usage error")

    monkeypatch.setattr(pond_spark.session, "get_spark", refuse)


@pytest.mark.parametrize("argv,needle", [
    # misspelled flags used to be taken as data, with exit 0
    (["index", "search-text", "IX", "foo", "--top-k=3"], "--top-k=3"),
    (["sketch", "update-kmv", "P", "2024-01-01", "--seeed=7"], "--seeed=7"),
    (["pipeline", "report-runs", "W", "--lease-tll=60"], "--lease-tll=60"),
    (["catalog", "digest-register", "C", "D", "--text_col=t"], "--text_col=t"),
    (["pack", "P", "--capacity=8", "--out-dir=x"], "--out-dir=x"),
    # a value flag without a value, a bool flag with one
    (["index", "search-text", "IX", "a", "--topk"], "--topk"),
    (["index", "search-ivf", "IX", "1,0", "--adc=1"], "--adc=1"),
    # bad numbers used to raise ValueError out of main()
    (["sketch", "build-kmv", "P", "--k=abc"], "--k=abc"),
    (["catalog", "compact", "minhash", "C", "--bands=x"], "--bands=x"),
    (["index", "search-text", "I", "foo", "--topk=ten"], "--topk=ten"),
    (["pipeline", "status", "W", "--min-words=many"], "--min-words=many"),
    (["pack", "P", "--capacity=lots"], "--capacity=lots"),
    (["pack", "P", "--capacity=0"], "--capacity=0"),
    # wrong arity
    (["sketch", "kmv-uniques", "P"], "kmv-uniques"),
    (["sketch", "cm-estimate", "P", "LO", "HI"], "cm-estimate"),
    (["pack", "P", "Q", "--capacity=8"], "pack"),
    (["catalog", "compact", "minhash"], "compact"),
    (["index", "search-text", "IX"], "search-text"),
    (["pipeline", "run", "IN"], "run"),
    (["pipeline", "report-runs"], "report-runs"),
    # unknown or missing subcommand, kind or required flag
    (["sketch", "no-such"], "no-such"),
    (["catalog", "no-such", "a", "b"], "no-such"),
    (["catalog", "compact", "bogus", "C"], "bogus"),
    (["index", "no-such", "a"], "no-such"),
    (["pipeline", "no-such", "W"], "no-such"),
    (["sketch"], "usage"),
    (["catalog"], "usage"),
    (["index"], "usage"),
    (["pipeline"], "usage"),
    (["pack", "P"], "--capacity"),
])
def test_cli_group_usage_errors_exit_2_before_spark(no_spark, capsys, argv, needle):
    from pond_spark.cli import main

    assert main(["--store=/nonexistent", *argv]) == 2
    out, err = capsys.readouterr()
    assert out == ""
    assert needle in err and "Traceback" not in err
    assert f"usage: ... {argv[0]}" in err  # rendered from the group table


@pytest.mark.parametrize("argv,code", [
    (["inject"], 2),
    (["inject", "a", "b"], 2),
    (["clone"], 2),
    (["clone", "a", "b"], 2),
    (["sketch", "update-cm", "P"], 2),
    (["cancel"], 0),
])
def test_cli_plain_commands_start_no_spark(no_spark, capsys, argv, code):
    """inject/clone arity errors and cancel (which has nothing to do)
    return before a JVM starts."""
    from pond_spark.cli import main

    assert main(["--store=/nonexistent", *argv]) == code
    out, err = capsys.readouterr()
    assert out == "" and "Traceback" not in err
    assert ("usage" in err) == (code == 2)


def test_cli_query_usage_error_exits_2_before_spark(no_spark, capsys):
    from pond_spark.cli import main

    assert main(["--store=/nonexistent", "query", "status=abc"]) == 2
    assert "Bad status filter" in capsys.readouterr().err


def test_parse_group_keeps_negative_vector_positional():
    from pond_spark.cli import _parse_group

    sub, pos, opts = _parse_group(
        "index", ["search-ivf", "IX", "-0.5,1,0", "--topk=3", "--adc"]
    )
    assert (sub, pos, opts.topk, opts.adc) == (
        "search-ivf", ["IX", "-0.5,1,0"], 3, True
    )
    # a trailing NAME... folds into one list; defaults fill the rest
    sub, pos, opts = _parse_group("sketch", ["update-kmv", "P", "d1", "d2"])
    assert (pos, opts.k, opts.seed) == (["P", ["d1", "d2"]], 64, 1)


def test_cli_pipeline_run_passes_emb_vector_buckets(monkeypatch, capsys):
    """--emb-vector-buckets (documented, but never parsed before) lands
    in config.extra like the other --emb-* flags."""
    import pond_spark.pipeline
    import pond_spark.session
    from pond_spark.cli import main

    seen = {}

    def fake_curate_run(spark, inp, work, cfg, **kw):
        seen.update(inp=inp, work=work, extra=cfg.extra, **kw)
        return [{"status": "computed", "stage": "quality",
                 "path": work + "/stage_00_quality"}]

    monkeypatch.setattr(pond_spark.session, "get_spark", lambda *a, **k: None)
    monkeypatch.setattr(pond_spark.pipeline, "curate_run", fake_curate_run)
    assert main(["--store=/nonexistent", "pipeline", "run", "IN", "W",
                 "--embedding-catalog=E", "--emb-dim=4",
                 "--emb-vector-buckets=8"]) == 0
    assert seen["extra"] == {"emb_dim": 4, "emb_vector_buckets": 8}
    assert seen["embedding_catalog_path"] == "E"
    assert (seen["inp"], seen["work"]) == ("IN", "W")
    assert capsys.readouterr().out.splitlines()[-1] == (
        "final=W/stage_00_quality"
    )


def test_cli_catalog_expire_refuses_negative_max_age(
    spark, store_dir, tmp_path, capsys
):
    """--max-age=-N used to put the horizon N seconds in the future and
    evict the whole catalog; it is refused and the catalog untouched."""
    from pond_spark.cli import main
    from pond_spark.dedup.exact import DigestCatalog

    cat = str(tmp_path / "dcat")
    DigestCatalog(spark, cat).register(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
        ),
        run_ts=1_000,
    )
    assert main([f"--store={store_dir}", "catalog", "expire", "digest",
                 cat, "--max-age=-3600"]) == 2
    assert "--max-age=-3600" in capsys.readouterr().err
    assert main([f"--store={store_dir}", "catalog", "expire", "digest",
                 cat, "--before-ts=0"]) == 0
    out = capsys.readouterr().out
    assert "rows_before=2" in out and "rows_kept=2" in out


@pytest.mark.parametrize("duration", ["-1", "nan", "inf", "soon"])
def test_cli_follow_duration_refused_leaves_no_stream(
    spark, store_dir, capsys, duration
):
    from pond_spark.cli import main

    assert main([f"--store={store_dir}", f"--follow-duration={duration}",
                 "query", "--follow"]) == 2
    assert "Bad --follow-duration" in capsys.readouterr().err
    assert spark.streams.active == []

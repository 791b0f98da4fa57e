"""Reference-client-compatible query CLI.

Parses the exact argument grammar of the reference's ``pond query``
client (/root/reference/src/client/Main.cxx:104-330 ParseFilterItem)
into :class:`pond_spark.filters.FilterSpec` +
:class:`pond_spark.query.Query` + output options, so a user of the
reference can run their existing command lines against this engine::

    python -m pond_spark.cli --store=/data/logs \\
        site=example.com since=-1h status=500:600 --jsonl

Every validation message and mutual-exclusion rule mirrors the
reference client (duplicate site, site vs group_site, --follow vs
--continue, method= vs unsafe_method, …). Parsing is pure Python —
no SparkSession needed until :func:`build` — so the grammar is unit-
testable in milliseconds.
"""

from __future__ import annotations

import datetime as dt
import re
import sys
from dataclasses import dataclass, field

from pond_spark.filters import FilterSpec, QueryValidationError
from pond_spark.schema import HTTP_METHODS, RECORD_TYPES
from pond_spark.timeparse import parse_time_spec

UINT32_MAX = 2**32 - 1
UINT64_MAX = 2**64 - 1

_DURATION_RE = re.compile(r"^(\d+)([smhdw]?)$")
_DURATION_UNITS = {"": 1, "s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def parse_duration_us(s: str) -> int:
    """libcommon-style duration: bare seconds or N[smhdw]."""
    m = _DURATION_RE.match(s.strip())
    if not m:
        raise ValueError(f"Bad duration: {s!r}")
    return int(m.group(1)) * _DURATION_UNITS[m.group(2)] * 1_000_000


@dataclass
class OutputOptions:
    """QueryOptions of the reference client (Main.cxx:68-101)."""

    follow: bool = False
    continue_: bool = False
    last: bool = False
    age_only: bool = False
    raw: bool = False
    gzip: bool = False
    geoip: bool = False
    anonymize: bool = False
    track_visitors: bool = False
    show_host: bool = False
    show_forwarded_to: bool = False
    resolve_forwarded_to: bool = False
    show_referer: bool = True
    show_agent: bool = True
    show_content_type: bool = False
    iso8601: bool = False
    jsonl: bool = False
    accumulate: tuple[str, str, int] | None = None  # (field, type, count)
    per_site: str | None = None
    per_site_filename: str | None = None
    per_site_nested: bool = False


@dataclass
class ParsedQuery:
    sites: list[str] = field(default_factory=list)
    hosts: list[str] = field(default_factory=list)
    generators: list[str] = field(default_factory=list)
    group_site: tuple[int, int] | None = None  # (max, skip)
    window: tuple[int, int] | None = None
    since: dt.datetime | None = None
    until: dt.datetime | None = None
    duration_longer_us: int | None = None
    type: str | None = None
    status: tuple[int, int] | None = None  # half-open [begin, end)
    methods: list[str] = field(default_factory=list)
    unsafe_method: bool = False
    uri: str | None = None
    uri_prefix: str | None = None
    options: OutputOptions = field(default_factory=OutputOptions)

    def to_filter_spec(self) -> FilterSpec:
        kw: dict = {
            "sites": frozenset(self.sites),
            "hosts": frozenset(self.hosts),
            "generators": frozenset(self.generators),
            "since": self.since,
            "until": self.until,
            "duration_longer_us": self.duration_longer_us,
            "type": self.type,
            "methods": frozenset(self.methods),
            "unsafe_method": self.unsafe_method,
            "uri": self.uri,
            "uri_prefix": self.uri_prefix,
        }
        if self.status is not None:
            kw["status_begin"], kw["status_end"] = self.status
        return FilterSpec(**kw)


def _filter_value(arg: str, name: str) -> str | None:
    """IsFilter (Main.cxx:46-52): ``name=value`` → value, else None."""
    prefix = name + "="
    return arg[len(prefix):] if arg.startswith(prefix) else None


def _parse_max_at_skip(value: str, limit: int, what: str) -> tuple[int, int]:
    """``[max][@skip]`` with empty max → unlimited (Main.cxx:120-161)."""
    m = re.match(r"^(\d*)(?:@(\d*))?$", value)
    if not m:
        raise QueryValidationError(f"Garbage after {what} max")
    max_s, skip_s = m.group(1), m.group(2)
    maxv = limit if max_s == "" else int(max_s)
    if maxv == 0:
        raise QueryValidationError(f"{what} max must be positive")
    skip = 0
    if skip_s is not None:
        if skip_s == "":
            raise QueryValidationError(f"Number expected after {what}=...@")
        skip = int(skip_s)
    return maxv, skip


def parse_query_args(
    args: list[str], now: dt.datetime | None = None
) -> ParsedQuery:
    """ParseFilterItem × N (Main.cxx:104-330), same messages/rules."""
    q = ParsedQuery()
    o = q.options
    for p in args:
        if (v := _filter_value(p, "site")) is not None:
            if q.group_site is not None:
                raise QueryValidationError(
                    "site and group_site are mutually exclusive"
                )
            if v in q.sites:
                raise QueryValidationError("Duplicate site name")
            q.sites.append(v)
        elif (v := _filter_value(p, "group_site")) is not None:
            if q.sites:
                raise QueryValidationError(
                    "site and group_site are mutually exclusive"
                )
            if q.group_site is not None:
                raise QueryValidationError("Duplicate group_site")
            q.group_site = _parse_max_at_skip(v, UINT32_MAX, "group_site")
        elif (v := _filter_value(p, "window")) is not None:
            if q.window is not None:
                raise QueryValidationError("Duplicate window")
            q.window = _parse_max_at_skip(v, UINT64_MAX, "window")
        elif (v := _filter_value(p, "host")) is not None:
            if v in q.hosts:
                raise QueryValidationError("Duplicate host name")
            q.hosts.append(v)
        elif (v := _filter_value(p, "generator")) is not None:
            if v in q.generators:
                raise QueryValidationError("Duplicate generator name")
            q.generators.append(v)
        elif (v := _filter_value(p, "since")) is not None:
            q.since = parse_time_spec(v, now)[0]
        elif (v := _filter_value(p, "until")) is not None:
            # reference-verbatim: until = start + duration with the
            # inclusive filter compare (Main.cxx:173-174) — this admits
            # a record at exactly the NEXT span's first microsecond,
            # unlike timeparse.since_until's span-accurate -1µs bound
            # (divergence documented there)
            start, dur = parse_time_spec(v, now)
            q.until = start + dur
        elif (v := _filter_value(p, "time")) is not None:
            start, dur = parse_time_spec(v, now)
            q.since, q.until = start, start + dur
        elif (v := _filter_value(p, "date")) is not None:
            if not re.match(r"^\d{4}-\d{2}-\d{2}$", v):
                raise QueryValidationError("Bad date")
            start = dt.datetime.strptime(v, "%Y-%m-%d")
            q.since, q.until = start, start + dt.timedelta(days=1)
        elif p == "today":
            # same UTC-midnight resolution as time=today / since=today —
            # a local-wall-clock midnight would select a different day
            # window than the UTC-pinned store on non-UTC machines
            start, dur = parse_time_spec("today", now)
            q.since, q.until = start, start + dur
        elif (v := _filter_value(p, "duration_longer")) is not None:
            q.duration_longer_us = parse_duration_us(v)
        elif (v := _filter_value(p, "type")) is not None:
            if v not in RECORD_TYPES:
                raise QueryValidationError("Bad type filter")
            q.type = v
        elif (v := _filter_value(p, "status")) is not None:
            m = re.match(r"^(\d+)(?::(\d+))?$", v)
            if not m:
                raise QueryValidationError("Bad status filter")
            begin = int(m.group(1))
            if begin >= 600:
                raise QueryValidationError("Bad status filter")
            end = begin + 1
            if m.group(2) is not None:
                end = int(m.group(2))
                if end <= begin or end > 600:
                    raise QueryValidationError("Bad status filter")
            q.status = (begin, end)
        elif (v := _filter_value(p, "method")) is not None:
            for name in v.split(","):
                if name not in HTTP_METHODS:
                    raise QueryValidationError(f"Bad method: {name!r}")
                q.methods.append(name)
        elif p == "unsafe_method":
            q.unsafe_method = True
        elif (v := _filter_value(p, "uri")) is not None:
            if v == "":
                raise QueryValidationError("Bad URI")
            q.uri = v
        elif (v := _filter_value(p, "uri-prefix")) is not None:
            if v == "":
                raise QueryValidationError("Bad URI prefix")
            q.uri_prefix = v
        elif (v := _filter_value(p, "--per-site")) is not None:
            o.per_site = v
        elif (v := _filter_value(p, "--per-site-file")) is not None:
            if o.per_site is None:
                raise QueryValidationError("--per-site-file requires --per-site")
            o.per_site_filename = v
        elif p == "--per-site-nested":
            o.per_site_nested = True
        elif p == "--follow":
            if o.continue_:
                raise QueryValidationError(
                    "Cannot use both --follow and --continue"
                )
            o.follow = True
        elif p == "--continue":
            if o.follow:
                raise QueryValidationError(
                    "Cannot use both --follow and --continue"
                )
            o.continue_ = True
        elif p == "--last":
            o.last = True
        elif p == "--age-only":
            o.age_only = True
        elif p == "--raw":
            o.raw = True
        elif p == "--gzip":
            o.gzip = True
        elif p == "--geoip":
            o.geoip = True
        elif p == "--anonymize":
            o.anonymize = True
        elif p == "--track-visitors":
            o.track_visitors = True
        elif p == "--host":
            o.show_host = True
        elif p == "--forwarded-to":
            o.show_forwarded_to = True
        elif p == "--resolve-forwarded-to":
            o.show_forwarded_to = True
            o.resolve_forwarded_to = True
        elif p == "--no-referer":
            o.show_referer = False
        elif p == "--no-agent":
            o.show_agent = False
        elif p == "--content-type":
            o.show_content_type = True
        elif p == "--iso8601":
            o.iso8601 = True
        elif p == "--jsonl":
            o.jsonl = True
        elif (v := _filter_value(p, "--accumulate")) is not None:
            parts = v.split(",")
            if len(parts) != 3:
                raise QueryValidationError("Invalid number")
            fld, typ, cnt = parts
            if fld not in ("remote_host", "host", "site"):
                raise QueryValidationError("Unrecognized field")
            if typ not in ("top", "more"):
                raise QueryValidationError("Unrecognized type")
            try:
                count = int(cnt)
            except ValueError:
                raise QueryValidationError("Invalid number") from None
            if count < 1:
                # the reference parses into an unsigned count
                # (ParseIntegerTo), so negatives/zero never parse there
                raise QueryValidationError("Invalid number")
            o.accumulate = (fld, typ, count)
        else:
            raise QueryValidationError("Unrecognized query argument")
    return q


def build(
    spark,
    df,
    parsed: ParsedQuery,
    now: dt.datetime | None = None,
    geo_df=None,
    hostnames_df=None,
):
    """Compile a parsed command line onto a log DataFrame.

    Returns the batch result DataFrame (FOLLOW/CONTINUE raise here —
    stream with pond_spark.streaming.follow instead, same FilterSpec).
    """
    from pyspark.sql import functions as F

    from pond_spark.query import Query

    o = parsed.options
    if o.follow or o.continue_:
        raise QueryValidationError(
            "FOLLOW/CONTINUE are streaming verbs — use "
            "pond_spark.streaming.follow with this FilterSpec"
        )

    query = Query(df).filter(parsed.to_filter_spec())
    if parsed.group_site is not None:
        query = query.group_site(*parsed.group_site)
    if parsed.window is not None:
        query = query.window(*parsed.window)
    if o.last:
        query = query.last()
    out = query.to_df()

    if o.age_only:
        from pond_spark.operators.accumulate import age_only

        now_ = now or dt.datetime.now()
        return age_only(out, F.lit(now_))
    if o.accumulate is not None:
        from pond_spark.operators.accumulate import accumulate_more, accumulate_top

        fld, typ, count = o.accumulate
        fn = accumulate_top if typ == "top" else accumulate_more
        return fn(out, fld, count)
    if o.track_visitors:
        from pond_spark.operators.sessionize import track_visitors

        out = track_visitors(out)
    if o.geoip:
        if geo_df is None:
            # the reference links libgeoip's system database; we take
            # the range table as input
            raise QueryValidationError("--geoip requires a geo table (geo_df)")
        from pond_spark.functions.geoip import geoip_country

        out = geoip_country(out, geo_df)
    if o.resolve_forwarded_to:
        # the reference resolves live via its cached DNS resolver; the
        # engine takes the (address, name) lookup table as input — the
        # same deterministic stand-in contract as --geoip
        if hostnames_df is None:
            raise QueryValidationError(
                "--resolve-forwarded-to requires --hostnames-table "
                "(address, name)"
            )
        from pond_spark.functions.geoip import resolve_forwarded_to

        out = resolve_forwarded_to(out, hostnames_df)
    if o.raw or o.jsonl:
        if o.jsonl:
            from pond_spark.functions.format import to_json_projection

            return to_json_projection(out)
        return out
    from pond_spark.functions.format import OneLineOptions, one_line

    line = one_line(
        OneLineOptions(
            show_host=o.show_host,
            show_forwarded_to=o.show_forwarded_to,
            show_referer=o.show_referer,
            show_agent=o.show_agent,
            show_content_type=o.show_content_type,
            iso8601=o.iso8601,
            anonymize=o.anonymize,
        )
    )
    # reference appends " COUNTRY" / " VISITOR" to http_access lines
    # when --geoip / --track-visitors are on (ResultWriter.cxx:278-301)
    is_http = F.col("type") == F.lit("http_access")
    if o.geoip and "country" in out.columns:
        line = F.concat(
            line,
            F.when(
                is_http,
                F.concat(F.lit(" "), F.coalesce(F.col("country"), F.lit("-"))),
            ).otherwise(F.lit("")),
        )
    if o.track_visitors and "visitor_id" in out.columns:
        line = F.concat(
            line,
            F.when(
                is_http,
                F.concat(
                    F.lit(" "), F.coalesce(F.col("visitor_id"), F.lit("-"))
                ),
            ).otherwise(F.lit("")),
        )
    return out.select(line.alias("line"))


_COMMANDS = ("query", "stats", "inject", "clone", "cancel", "sketch", "pack", "catalog", "index", "pipeline")

_SKETCH_USAGE = (
    "usage: ... sketch SUBCOMMAND ARGS\n"
    "  build-kmv PATH [--k=64] [--seed=1] [--value-col=remote_host]\n"
    "  update-kmv PATH DAY... [--k=64] [--seed=1] [--value-col=remote_host]\n"
    "  kmv-uniques PATH LO HI [--k=64]\n"
    "  kmv-churn PATH A_LO A_HI B_LO B_HI [--k=64]\n"
    "  build-cm PATH [--key-col=message]\n"
    "  update-cm PATH [--key-col=message]\n"
    "  cm-estimate PATH LO HI KEY... \n"
    "  cm-join-size PATH A_LO A_HI B_LO B_HI"
)


def _run_sketch(spark, log_store, rest: list[str]) -> int:
    """``sketch`` command group — the operator-facing surface for the
    KMV/theta and Count-Min cubes (operators/kmv.py, sketches.py,
    cmjoin.py): build/update maintain the day-partitioned sketch
    tables from the store; the serve subcommands answer from the
    sketch tables ALONE (no raw-store scan). Output is one stable
    ``key=value`` line per row, like ``stats``."""
    k = 64
    seed = 1
    value_col = "remote_host"
    key_col = "message"
    args: list[str] = []
    for a in rest:
        if (v := _filter_value(a, "--k")) is not None:
            k = int(v)
        elif (v := _filter_value(a, "--seed")) is not None:
            seed = int(v)
        elif (v := _filter_value(a, "--value-col")) is not None:
            value_col = v
        elif (v := _filter_value(a, "--key-col")) is not None:
            key_col = v
        else:
            args.append(a)
    if not args:
        print(_SKETCH_USAGE, file=sys.stderr)
        return 2
    sub, args = args[0], args[1:]
    try:
        if sub == "build-kmv":
            from pond_spark.operators.kmv import build_kmv_sketches

            (path,) = args
            build_kmv_sketches(
                log_store.read(), path, k=k, value_col=value_col, seed=seed
            )
            print(f"built kmv path={path} k={k} seed={seed}")
            return 0
        if sub == "update-kmv":
            from pond_spark.operators.kmv import update_kmv_sketches

            path, days = args[0], args[1:]
            if not days:
                raise ValueError("update-kmv needs at least one DAY")
            update_kmv_sketches(
                log_store.read(), path, days, k=k, value_col=value_col, seed=seed
            )
            print(f"updated kmv path={path} days={','.join(days)}")
            return 0
        if sub == "kmv-uniques":
            from pond_spark.operators.kmv import kmv_uniques_over_range

            path, lo, hi = args
            for r in sorted(
                kmv_uniques_over_range(spark, path, lo, hi, k=k).collect(),
                key=lambda r: r.site or "",
            ):
                print(
                    f"site={r.site} uniques_est={r.uniques_est} "
                    f"n_keys={r.n_keys} theta={r.theta}"
                )
            return 0
        if sub == "kmv-churn":
            from pond_spark.operators.kmv import kmv_churn

            path, a_lo, a_hi, b_lo, b_hi = args
            for r in sorted(
                kmv_churn(spark, path, a_lo, a_hi, b_lo, b_hi, k=k).collect(),
                key=lambda r: r.site or "",
            ):
                print(
                    f"site={r.site} uniques_a={r.uniques_a} "
                    f"uniques_b={r.uniques_b} returning_est={r.returning_est} "
                    f"new_est={r.new_est}"
                )
            return 0
        if sub == "build-cm":
            from pond_spark.operators.sketches import build_cm_sketches

            (path,) = args
            build_cm_sketches(log_store.read(), path, key_col=key_col)
            print(f"built cm path={path} key_col={key_col}")
            return 0
        if sub == "update-cm":
            from pond_spark.operators.sketches import update_cm_sketches

            (path,) = args
            update_cm_sketches(log_store.read(), path, key_col=key_col)
            print(f"updated cm path={path} key_col={key_col}")
            return 0
        if sub == "cm-estimate":
            from pond_spark.operators.sketches import cm_estimate_over_range

            path, lo, hi, keys = args[0], args[1], args[2], args[3:]
            if not keys:
                raise ValueError("cm-estimate needs at least one KEY")
            kdf = spark.createDataFrame([(x,) for x in keys], "key string")
            for r in sorted(
                cm_estimate_over_range(spark, path, kdf, lo, hi).collect(),
                key=lambda r: r.key,
            ):
                print(f"key={r.key} est={r.est}")
            return 0
        if sub == "cm-join-size":
            from pond_spark.operators.cmjoin import cm_join_size

            path, a_lo, a_hi, b_lo, b_hi = args
            for r in sorted(
                cm_join_size(spark, path, a_lo, a_hi, b_lo, b_hi).collect(),
                key=lambda r: r.row,
            ):
                label = "est" if r.row == -1 else f"row{r.row}"
                print(f"{label}={r.dot}")
            return 0
    except (ValueError, TypeError) as e:
        # wrong arity / bad params (incl. sidecar refusals): user
        # error contract — message to stderr, exit 2, no traceback
        print(str(e) or _SKETCH_USAGE, file=sys.stderr)
        return 2
    print(_SKETCH_USAGE, file=sys.stderr)
    return 2


def _run_pack(spark, rest: list[str]) -> int:
    """``pack PARQUET --capacity=N [--out=PATH]`` — FFD sequence
    packing (operators/seqpack.py) over a (id, n_tokens) parquet;
    writes assignments to --out or prints the bin summary."""
    capacity = None
    out_path = None
    tokens_col = "n_tokens"
    id_col = "doc_id"
    n_buckets = 16
    args: list[str] = []
    for a in rest:
        if (v := _filter_value(a, "--capacity")) is not None:
            capacity = int(v)
        elif (v := _filter_value(a, "--out")) is not None:
            out_path = v
        elif (v := _filter_value(a, "--tokens-col")) is not None:
            tokens_col = v
        elif (v := _filter_value(a, "--id-col")) is not None:
            id_col = v
        elif (v := _filter_value(a, "--n-buckets")) is not None:
            n_buckets = int(v)
        else:
            args.append(a)
    if capacity is None or capacity < 1 or len(args) != 1:
        print(
            "usage: ... pack PARQUET --capacity=N [--out=PATH] "
            "[--tokens-col=n_tokens] [--id-col=doc_id] [--n-buckets=16]",
            file=sys.stderr,
        )
        return 2
    from pyspark.sql import functions as F

    from pond_spark.operators.seqpack import pack_sequences

    packed = pack_sequences(
        spark.read.parquet(args[0]),
        capacity,
        tokens_col=tokens_col,
        id_col=id_col,
        n_buckets=n_buckets,
    )
    if out_path:
        packed.write.mode("overwrite").parquet(out_path)
        print(f"packed to {out_path}")
        return 0
    agg = packed.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("bucket", "bin").alias("n_bins"),
        F.sum("n_tokens").alias("n_tokens"),
    ).collect()[0]
    print(
        f"n_docs={agg.n_docs} n_bins={agg.n_bins} n_tokens={agg.n_tokens} "
        f"capacity={capacity}"
    )
    return 0


_CATALOG_USAGE = (
    "usage: ... catalog SUBCOMMAND ARGS\n"
    "  digest-register  CAT DOCS_PARQUET [--text-col=text]\n"
    "  digest-filter    CAT DOCS_PARQUET [--text-col=] [--id-col=] [--out=]\n"
    "  minhash-register CAT DOCS_PARQUET [--text-col=] [--id-col=]\n"
    "                   [--k=64 --bands=16 --n=3 --seed=42]\n"
    "  minhash-filter   CAT DOCS_PARQUET [same flags] [--out=]\n"
    "  minhash-candidates CAT DOCS_PARQUET [same flags]\n"
    "                   [--max-bucket-size=N] [--out=]\n"
    "  emb-register     CAT VECS_PARQUET --dim=D [--vec-col=embedding]\n"
    "                   [--vector-buckets=N] — vec_id-bucketed verify\n"
    "                   sibling files (exchange-free payload joins)\n"
    "                   [--id-col=vec_id] [--nbits=8 --tables=2 --seed=42]\n"
    "                   [--store-vectors] — persist vectors for the\n"
    "                   exact-cosine verified gate\n"
    "  emb-filter       CAT VECS_PARQUET --dim=D [same flags] [--out=]\n"
    "                   [--verify-cos=C] — verified gate: drop only\n"
    "                   rows with a stored neighbor at cosine >= C\n"
    "  emb-candidates   CAT VECS_PARQUET --dim=D [same flags]\n"
    "                   [--max-bucket-size=N] [--out=]\n"
    "  compact          digest|minhash|emb CAT [open flags, --dim for emb]\n"
    "  advise           minhash|emb CAT [--max-bucket-size=N] [--snapshot]\n"
    "                   [open flags, --dim for emb] — bucket histogram\n"
    "                   + recommended cap (and nbits for emb);\n"
    "                   --snapshot appends it to CAT.advise.jsonl\n"
    "  advise-history   minhash|emb CAT [open flags] [--delta] — one\n"
    "                   JSON line per persisted snapshot, oldest\n"
    "                   first; --delta prints adjacent-snapshot growth\n"
    "  expire           digest|minhash|emb CAT (--before-ts=EPOCH |\n"
    "                   --max-age=SECONDS) [open flags] — age-evict\n"
    "                   rows registered before the horizon (re-seen\n"
    "                   content re-admits); compaction-integrated\n"
    "  retention-history digest|minhash|emb CAT [open flags] — one\n"
    "                   JSON line per recorded eviction, oldest first"
)


def _run_catalog(spark, rest: list[str]) -> int:
    """``catalog`` command group — the operator-facing surface for the
    three incremental dedup catalogs (dedup/exact.py DigestCatalog,
    dedup/minhash.py MinHashCatalog, similarity/catalog.py
    EmbeddingCatalog), so the scheduled register->probe->compact cycle
    is scriptable without writing PySpark. Inputs are parquet paths
    (catalogs gate DOCUMENT/EMBEDDING tables, not the log store).
    ``*-filter``/``*-candidates`` print ``rows=N`` and write the full
    result to ``--out`` when given; parameter-sidecar refusals follow
    the user-error contract (stderr + exit 2, no traceback)."""
    text_col, id_col, vec_col = "text", None, "embedding"
    # minhash defaults mirror the pipeline gate's near_* defaults
    # (pipeline._minhash_catalog: k=64/bands=16/n=3/seed=42) so a
    # catalog registered here with defaults opens cleanly from
    # `pipeline run --minhash-catalog` with defaults — the sidecar
    # refuses a mismatch loudly either way (ADVICE r8: n defaulted to
    # 1 here, a needless cross-surface footgun)
    k, bands, n, seed = 64, 16, 3, 42
    dim, nbits, tables = None, 8, 2
    max_bucket, out_path = None, None
    before_ts, max_age = None, None
    snapshot = delta = store_vectors = False
    verify_cos = None
    vector_buckets = None
    args: list[str] = []
    for a in rest:
        if (v := _filter_value(a, "--text-col")) is not None:
            text_col = v
        elif (v := _filter_value(a, "--id-col")) is not None:
            id_col = v
        elif (v := _filter_value(a, "--vec-col")) is not None:
            vec_col = v
        elif (v := _filter_value(a, "--k")) is not None:
            k = int(v)
        elif (v := _filter_value(a, "--bands")) is not None:
            bands = int(v)
        elif (v := _filter_value(a, "--n")) is not None:
            n = int(v)
        elif (v := _filter_value(a, "--seed")) is not None:
            seed = int(v)
        elif (v := _filter_value(a, "--dim")) is not None:
            dim = int(v)
        elif (v := _filter_value(a, "--nbits")) is not None:
            nbits = int(v)
        elif (v := _filter_value(a, "--tables")) is not None:
            tables = int(v)
        elif (v := _filter_value(a, "--max-bucket-size")) is not None:
            max_bucket = int(v)
        elif (v := _filter_value(a, "--out")) is not None:
            out_path = v
        elif (v := _filter_value(a, "--before-ts")) is not None:
            before_ts = int(v)
        elif (v := _filter_value(a, "--max-age")) is not None:
            max_age = int(v)
        elif a == "--snapshot":
            snapshot = True
        elif a == "--delta":
            delta = True
        elif a == "--store-vectors":
            store_vectors = True
        elif (v := _filter_value(a, "--verify-cos")) is not None:
            verify_cos = float(v)
        elif (v := _filter_value(a, "--vector-buckets")) is not None:
            vector_buckets = int(v)
        else:
            args.append(a)
    if not args:
        print(_CATALOG_USAGE, file=sys.stderr)
        return 2
    sub, args = args[0], args[1:]

    def open_digest(path):
        from pond_spark.dedup.exact import DigestCatalog

        return DigestCatalog(spark, path)

    def open_minhash(path):
        from pond_spark.dedup.minhash import MinHashCatalog

        return MinHashCatalog(spark, path, k=k, bands=bands, n=n, seed=seed)

    def open_emb(path):
        from pond_spark.similarity.catalog import EmbeddingCatalog

        if dim is None:
            raise ValueError("emb catalogs need --dim=D (hyperplane shape)")
        return EmbeddingCatalog(
            spark, path, dim=dim, nbits=nbits, n_tables=tables, seed=seed,
            store_vectors=store_vectors or verify_cos is not None,
            vector_buckets=vector_buckets,
        )

    def emit(df) -> int:
        if out_path:
            df.write.mode("overwrite").parquet(out_path)
            written = spark.read.parquet(out_path).count()
            print(f"rows={written} out={out_path}")
        else:
            print(f"rows={df.count()}")
        return 0

    known = (
        "compact", "advise", "advise-history", "digest-register", "digest-filter",
        "minhash-register", "minhash-filter", "minhash-candidates",
        "emb-register", "emb-filter", "emb-candidates",
        "expire", "retention-history",
    )
    if sub not in known:
        print(_CATALOG_USAGE, file=sys.stderr)
        return 2
    try:
        if sub == "compact":
            kind, path = args
            {"digest": open_digest, "minhash": open_minhash, "emb": open_emb}[
                kind
            ](path).compact()
            print(f"compacted kind={kind} path={path}")
            return 0
        if sub == "expire":
            # age eviction (reference max_age, Instance.cxx:190-203):
            # --before-ts is the explicit horizon; --max-age computes
            # it from the wall clock. Exactly one must be given.
            import time as _time

            kind, path = args
            if (before_ts is None) == (max_age is None):
                raise ValueError(
                    "expire needs exactly one of --before-ts=EPOCH or "
                    "--max-age=SECONDS"
                )
            horizon = (
                before_ts if before_ts is not None
                else int(_time.time()) - max_age
            )
            rec = {"digest": open_digest, "minhash": open_minhash,
                   "emb": open_emb}[kind](path).expire(horizon)
            for key in sorted(rec):
                print(f"{key}={rec[key]}")
            return 0
        if sub == "retention-history":
            import json as _json

            kind, path = args
            for evt in {"digest": open_digest, "minhash": open_minhash,
                        "emb": open_emb}[kind](path).retention_history():
                print(_json.dumps(evt, sort_keys=True))
            return 0
        if sub == "advise":
            # bucket histogram + tuning recommendation (VERDICT r7 #4);
            # --snapshot appends it to the advisory history (round-9 #4)
            kind, path = args
            rep = {"minhash": open_minhash, "emb": open_emb}[kind](
                path
            ).advise(max_bucket_size=max_bucket, snapshot=snapshot)
            for key in sorted(rep):
                print(f"{key}={rep[key]}")
            return 0
        if sub == "advise-history":
            # skew trend over the catalog's lifetime, no re-scan;
            # --delta prints adjacent-snapshot growth instead of the
            # raw snapshots
            import json as _json

            kind, path = args
            hist = {"minhash": open_minhash, "emb": open_emb}[kind](
                path
            ).advise_history()
            if delta:
                from pond_spark.catalog import history_deltas

                hist = history_deltas(hist)
            for snap in hist:
                print(_json.dumps(snap, sort_keys=True))
            return 0
        path, data = args
        docs = spark.read.parquet(data)
        if sub == "digest-register":
            open_digest(path).register(docs, text_col)
            print(f"registered path={path}")
            return 0
        if sub == "digest-filter":
            # default to the conventional id name like the minhash/emb
            # subcommands — docs.columns[0] was a positional guess that
            # could silently pick the text column as the id (ADVICE r7)
            return emit(
                open_digest(path).filter_new(docs, text_col, id_col or "doc_id")
            )
        mh_id = id_col or "doc_id"
        if sub == "minhash-register":
            open_minhash(path).register(docs, text_col, mh_id)
            print(f"registered path={path}")
            return 0
        if sub == "minhash-filter":
            return emit(open_minhash(path).filter_new(docs, text_col, mh_id))
        if sub == "minhash-candidates":
            return emit(
                open_minhash(path).near_candidates(
                    docs, text_col, mh_id, max_bucket_size=max_bucket
                )
            )
        emb_id = id_col or "vec_id"
        if sub == "emb-register":
            open_emb(path).register(docs, vec_col, emb_id)
            print(f"registered path={path}")
            return 0
        if sub == "emb-filter":
            # --verify-cos selects the exact-cosine VERIFIED gate
            # (needs a --store-vectors catalog; implied on open)
            return emit(
                open_emb(path).filter_new(
                    docs, vec_col, emb_id, verify_cos=verify_cos
                )
            )
        if sub == "emb-candidates":
            return emit(
                open_emb(path).near_candidates(
                    docs, vec_col, emb_id, max_bucket_size=max_bucket
                )
            )
    except KeyError:
        print(_CATALOG_USAGE, file=sys.stderr)
        return 2
    except (ValueError, TypeError) as e:
        print(str(e) or _CATALOG_USAGE, file=sys.stderr)
        return 2
    print(_CATALOG_USAGE, file=sys.stderr)
    return 2


_INDEX_USAGE = (
    "usage: ... index SUBCOMMAND ARGS\n"
    "  build-text   IX DOCS_PARQUET [--text-col=text] [--id-col=doc_id]\n"
    "               [--n-buckets=64]\n"
    "  append-text  IX DOCS_PARQUET [--text-col=] [--id-col=]\n"
    "  compact-text IX\n"
    "  search-text  IX TERM... [--topk=10]\n"
    "  build-ivf    IX VECS_PARQUET [--n-centroids=16] [--pq-m=N]\n"
    "               [--vec-col=embedding] [--id-col=vec_id]\n"
    "  append-ivf   IX VECS_PARQUET\n"
    "  compact-ivf  IX\n"
    "  search-ivf   IX V1,V2,... [--topk=10] [--nprobe=4] [--adc]"
)


def _run_index(spark, rest: list[str]) -> int:
    """``index`` command group — the operator-facing surface for the
    two persisted serving indexes (functions/lexindex.py TextIndex,
    similarity/index.py IVFIndex): build/append/compact maintain the
    segment/list directories; the search subcommands answer from the
    index alone. Output is one stable ``key=value`` line per hit."""
    text_col, id_col, vec_col = "text", None, "embedding"
    n_buckets, n_centroids, pq_m = 64, 16, None
    topk, nprobe, adc = 10, 4, False
    args: list[str] = []
    for a in rest:
        if (v := _filter_value(a, "--text-col")) is not None:
            text_col = v
        elif (v := _filter_value(a, "--id-col")) is not None:
            id_col = v
        elif (v := _filter_value(a, "--vec-col")) is not None:
            vec_col = v
        elif (v := _filter_value(a, "--n-buckets")) is not None:
            n_buckets = int(v)
        elif (v := _filter_value(a, "--n-centroids")) is not None:
            n_centroids = int(v)
        elif (v := _filter_value(a, "--pq-m")) is not None:
            pq_m = int(v)
        elif (v := _filter_value(a, "--topk")) is not None:
            topk = int(v)
        elif (v := _filter_value(a, "--nprobe")) is not None:
            nprobe = int(v)
        elif a == "--adc":
            adc = True
        else:
            args.append(a)
    if not args:
        print(_INDEX_USAGE, file=sys.stderr)
        return 2
    sub, args = args[0], args[1:]
    known = (
        "build-text", "append-text", "compact-text", "search-text",
        "build-ivf", "append-ivf", "compact-ivf", "search-ivf",
    )
    if sub not in known:
        print(_INDEX_USAGE, file=sys.stderr)
        return 2
    try:
        if sub == "build-text":
            from pond_spark.functions.lexindex import build_text_index

            path, data = args
            ix = build_text_index(
                spark.read.parquet(data), path,
                text_col, id_col or "doc_id", n_buckets,
            )
            print(f"built text index path={path} n_docs={ix.n_docs}")
            return 0
        if sub == "append-text":
            from pond_spark.functions.lexindex import TextIndex

            path, data = args
            ix = TextIndex(spark, path).append(
                spark.read.parquet(data), text_col, id_col or "doc_id"
            )
            print(f"appended path={path} n_docs={ix.n_docs}")
            return 0
        if sub == "compact-text":
            from pond_spark.functions.lexindex import TextIndex

            (path,) = args
            TextIndex(spark, path).compact()
            print(f"compacted path={path}")
            return 0
        if sub == "search-text":
            from pond_spark.functions.lexindex import TextIndex

            path, terms = args[0], args[1:]
            if not terms:
                raise ValueError("search-text needs at least one TERM")
            for r in TextIndex(spark, path).search(terms, k=topk).collect():
                print(
                    f"doc_id={r[0]} n_terms={r[1]} score_q={r[2]}"
                )
            return 0
        if sub == "build-ivf":
            from pond_spark.similarity.index import build_ivf_index

            path, data = args
            build_ivf_index(
                spark.read.parquet(data), path,
                n_centroids=n_centroids, vec_col=vec_col,
                id_col=id_col or "vec_id", pq_m=pq_m,
            )
            print(f"built ivf index path={path} n_centroids={n_centroids}")
            return 0
        if sub == "append-ivf":
            from pond_spark.similarity.index import IVFIndex

            path, data = args
            IVFIndex(spark, path).append(spark.read.parquet(data))
            print(f"appended path={path}")
            return 0
        if sub == "compact-ivf":
            from pond_spark.similarity.index import IVFIndex

            (path,) = args
            stats = IVFIndex(spark, path).compact()
            print(f"compacted path={path} {stats}")
            return 0
        if sub == "search-ivf":
            from pond_spark.similarity.index import IVFIndex

            path, qcsv = args
            qvec = [float(x) for x in qcsv.split(",")]
            ix = IVFIndex(spark, path)
            hits = (
                ix.search_adc(qvec, k=topk, nprobe=nprobe)
                if adc
                else ix.search(qvec, k=topk, nprobe=nprobe)
            )
            for r in hits.collect():
                print(f"{ix.id_col}={r[0]} cosine={r[1]}")
            return 0
    except (ValueError, TypeError) as e:
        print(str(e) or _INDEX_USAGE, file=sys.stderr)
        return 2
    except FileNotFoundError as e:
        print(f"no index at that path: {e}", file=sys.stderr)
        return 2
    print(_INDEX_USAGE, file=sys.stderr)
    return 2


def _run_follow(
    spark,
    store_dir: str,
    parsed,
    duration: float | None,
    max_batch_rows: int | None = None,
) -> int:
    """Q6/Q7 live tailing from the CLI — the reference client streams
    matches to stdout until interrupted (Main.cxx FOLLOW loop). Engine
    mapping: pond_spark.streaming.follow/continue on the store's
    parquet directory, each micro-batch printed through the one-line
    formatter via foreachBatch.

    ``--follow-duration=SECONDS`` (engine extension) bounds the run for
    scripting/tests; 0 drains exactly the available data
    (availableNow) and exits — with --continue that prints history then
    returns, the non-interactive twin of the reference's history+tail.
    Without the flag the stream runs until interrupted, like the
    reference.

    Each micro-batch is collected to the driver for stdout printing —
    correct for a tailer (a micro-batch is bounded by the trigger
    interval's arrivals), but an unfiltered ``--continue`` against a
    huge store backfills ALL history into the first batch.
    ``--max-batch-rows=N`` is the safety valve: batches are truncated
    to the first N rows in (timestamp, id) order, with a stderr
    warning so truncation is never silent."""
    from pyspark.sql import functions as F

    from pond_spark.functions.format import OneLineOptions, one_line
    from pond_spark.streaming.follow import continue_stream, follow_stream

    o = parsed.options
    spec = parsed.to_filter_spec()
    stream = (
        continue_stream(spark, store_dir, spec)
        if o.continue_
        else follow_stream(spark, store_dir, spec)
    )
    line = one_line(
        OneLineOptions(
            show_host=o.show_host,
            show_forwarded_to=o.show_forwarded_to,
            show_referer=o.show_referer,
            show_agent=o.show_agent,
            show_content_type=o.show_content_type,
            iso8601=o.iso8601,
            anonymize=o.anonymize,
        )
    )

    def _emit(batch_df, _bid):
        ordered = batch_df.select(
            F.col("timestamp").alias("_t"), F.col("id").alias("_i"), line
        ).orderBy(F.col("_t").asc_nulls_first(), F.col("_i").asc())
        if max_batch_rows is not None:
            rows = ordered.limit(max_batch_rows + 1).collect()
            if len(rows) > max_batch_rows:
                print(
                    f"warning: micro-batch truncated to "
                    f"--max-batch-rows={max_batch_rows}",
                    file=sys.stderr,
                )
                rows = rows[:max_batch_rows]
        else:
            rows = ordered.collect()
        for r in rows:
            print(r.line, flush=True)

    writer = stream.writeStream.foreachBatch(_emit).outputMode("append")
    if duration == 0:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return 0
    q = writer.start()
    q.awaitTermination(duration)
    q.stop()
    return 0


_PIPELINE_USAGE = (
    "usage: ... pipeline SUBCOMMAND ARGS\n"
    "  run    INPUT_PARQUET WORK_DIR [--stages=quality,exact_dedup,sample]\n"
    "         [--min-words=20 --max-words=100000] [--sample-rate=1.0]\n"
    "         [--sample-salt=curate] [--eval-set=PARQUET]\n"
    "         [--near-method=minhash --near-threshold=0.8 --near-n=3]\n"
    "         [--near-block-col=COL --near-max-bucket=N]\n"
    "         [--digest-catalog=PATH] [--minhash-catalog=PATH]\n"
    "         [--near-k=64 --near-bands=16]\n"
    "         [--embedding-catalog=PATH --emb-dim=D]\n"
    "         [--emb-col=embedding --emb-nbits=8 --emb-tables=2]\n"
    "         [--lease-ttl=SECONDS]\n"
    "         — compute-or-resume the stage chain (pipeline.curate_run);\n"
    "           the catalog flags add the cross-run incremental gate +\n"
    "           after-ship registration (daily-corpus mode); --lease-ttl\n"
    "           holds a writer lease on the work_dir + catalogs so a\n"
    "           scheduler double-fire refuses instead of racing\n"
    "  report INPUT_PARQUET [stage/config flags as for run]\n"
    "         — funnel audit: rows in/out per configured stage\n"
    "           (pipeline.report; counts are jobs — audit cadence)\n"
    "  report-runs WORK_DIR [WORK_DIR...]\n"
    "         — gate-aware cross-run funnel over completed curate_run\n"
    "           days: input -> gate drops -> stage drops -> shipped,\n"
    "           registration state, latest catalog advise/eviction\n"
    "           snapshots (pipeline.report_runs; reads persisted stage\n"
    "           outputs, no recomputation)\n"
    "  status WORK_DIR — per-stage complete/missing, no computation\n"
    "  run extra gate flags: [--emb-verify-cos=C] exact-cosine verified\n"
    "         gate (persists vectors); [--emb-max-overshoot=F] refuse a\n"
    "         verify-less gate whose predicted false-drop rate exceeds F;\n"
    "         [--emb-store-vectors] store vectors without verifying yet.\n"
    "         With the verified gate and no explicit --emb-nbits /\n"
    "         --emb-vector-buckets, curate_run derives the sized+bucketed\n"
    "         configuration from the day-1 input count, pins it in the\n"
    "         manifest, and adopts the catalog's stored params on later\n"
    "         days (round-11 default; measured 0.525x the saturated\n"
    "         day-2 cost at 10M/day)"
)


def _run_pipeline(spark, rest: list[str]) -> int:
    """``pipeline`` command group — the resumable curation driver
    (pipeline.curate_run) scriptable like the catalog/index groups: a
    scheduler re-invokes the SAME ``pipeline run`` after any crash and
    the chain resumes from its first incomplete stage; ``status``
    inspects a work_dir without touching Spark jobs."""
    stages = "quality,exact_dedup,sample"
    min_words, max_words = 20, 100_000
    sample_rate, sample_salt = 1.0, "curate"
    eval_set = None
    digest_catalog = minhash_catalog = embedding_catalog = None
    lease_ttl = None
    near: dict = {}
    args: list[str] = []
    for a in rest:
        if (v := _filter_value(a, "--stages")) is not None:
            stages = v
        elif (v := _filter_value(a, "--min-words")) is not None:
            min_words = int(v)
        elif (v := _filter_value(a, "--max-words")) is not None:
            max_words = int(v)
        elif (v := _filter_value(a, "--sample-rate")) is not None:
            sample_rate = float(v)
        elif (v := _filter_value(a, "--sample-salt")) is not None:
            sample_salt = v
        elif (v := _filter_value(a, "--eval-set")) is not None:
            eval_set = v
        elif (v := _filter_value(a, "--near-method")) is not None:
            near["near_method"] = v
        elif (v := _filter_value(a, "--near-threshold")) is not None:
            near["near_threshold"] = float(v)
        elif (v := _filter_value(a, "--near-n")) is not None:
            near["near_n"] = int(v)
        elif (v := _filter_value(a, "--near-block-col")) is not None:
            near["near_block_col"] = v
        elif (v := _filter_value(a, "--near-max-bucket")) is not None:
            near["near_max_bucket"] = int(v)
        elif (v := _filter_value(a, "--digest-catalog")) is not None:
            digest_catalog = v
        elif (v := _filter_value(a, "--minhash-catalog")) is not None:
            minhash_catalog = v
        elif (v := _filter_value(a, "--embedding-catalog")) is not None:
            embedding_catalog = v
        elif (v := _filter_value(a, "--emb-dim")) is not None:
            near["emb_dim"] = int(v)
        elif (v := _filter_value(a, "--emb-col")) is not None:
            near["emb_col"] = v
        elif (v := _filter_value(a, "--emb-nbits")) is not None:
            near["emb_nbits"] = int(v)
        elif (v := _filter_value(a, "--emb-tables")) is not None:
            near["emb_tables"] = int(v)
        elif (v := _filter_value(a, "--emb-verify-cos")) is not None:
            near["emb_verify_cos"] = float(v)
        elif (v := _filter_value(a, "--emb-max-overshoot")) is not None:
            near["emb_max_overshoot"] = float(v)
        elif a == "--emb-store-vectors":
            near["emb_store_vectors"] = True
        elif (v := _filter_value(a, "--near-k")) is not None:
            near["near_k"] = int(v)
        elif (v := _filter_value(a, "--near-bands")) is not None:
            near["near_bands"] = int(v)
        elif (v := _filter_value(a, "--lease-ttl")) is not None:
            lease_ttl = int(v)
        else:
            args.append(a)
    if not args:
        print(_PIPELINE_USAGE, file=sys.stderr)
        return 2
    sub, args = args[0], args[1:]
    from pond_spark.pipeline import CurationConfig

    cfg = CurationConfig(
        min_words=min_words,
        max_words=max_words,
        sample_rate=sample_rate,
        sample_salt=sample_salt,
        stages=tuple(s for s in stages.split(",") if s),
        extra=near,
    )
    try:
        if sub == "status":
            (work,) = args
            from pond_spark.catalog import _fs_for
            from pond_spark.pipeline import _pin_manifest, _stage_dirs

            fs = _fs_for(spark, work)
            stage_dirs, marker = _stage_dirs(work, _pin_manifest(fs, work))
            states = [
                (stage, path, fs.exists(path + "/_SUCCESS"))
                for stage, path in stage_dirs
            ]
            if marker:
                states.append(("catalog_register", marker, fs.exists(marker)))
            for stage, path, done in states:
                state = "complete" if done else "missing"
                print(f"{state:8s} {stage:14s} {path}")
            return 0
        if sub == "report-runs":
            if not args:
                print(_PIPELINE_USAGE, file=sys.stderr)
                return 2
            from pond_spark.pipeline import report_runs

            for day in report_runs(spark, args):
                reg = " registered" if day.get("registered") else ""
                comp = "" if day.get("complete") else " INCOMPLETE"
                print(
                    f"run {day['work_dir']}: in={day['input_rows']} "
                    f"shipped={day['shipped_rows']}{reg}{comp}"
                )
                for s in day["stages"]:
                    o = "?" if s["rows_out"] is None else s["rows_out"]
                    d = "?" if s["dropped"] is None else s["dropped"]
                    print(f"  {s['stage']:14s} out={o:>10} dropped={d}")
                for kind, snap in day.get("catalogs", {}).items():
                    adv = snap.get("advise", {})
                    ret = snap.get("retention", {})
                    bits = [f"  catalog[{kind}] {snap['path']}"]
                    if "predicted_gate_overshoot_ppm" in adv:
                        bits.append(
                            "overshoot_ppm="
                            f"{adv['predicted_gate_overshoot_ppm']}"
                        )
                    if "n_rows" in adv:
                        bits.append(f"rows={adv['n_rows']}")
                    if ret:
                        bits.append(
                            f"last_eviction_kept={ret.get('rows_kept')}"
                        )
                    print(" ".join(bits))
            return 0
        if sub == "report":
            (inp,) = args
            from pond_spark.pipeline import report

            eval_df = spark.read.parquet(eval_set) if eval_set else None
            docs = spark.read.parquet(inp)
            for r in report(docs, cfg, eval_df):
                dropped = r["rows_in"] - r["rows_out"]
                print(
                    f"{r['stage']:14s} in={r['rows_in']:>10d} "
                    f"out={r['rows_out']:>10d} dropped={dropped}"
                )
            return 0
        if sub == "run":
            inp, work = args
            from pond_spark.pipeline import curate_run, final_corpus_path

            rows = curate_run(
                spark,
                inp,
                work,
                cfg,
                eval_set_path=eval_set,
                digest_catalog_path=digest_catalog,
                minhash_catalog_path=minhash_catalog,
                embedding_catalog_path=embedding_catalog,
                lease_ttl=lease_ttl,
            )
            for r in rows:
                timing = f" ({r['seconds']}s)" if "seconds" in r else ""
                print(
                    f"{r['status']:8s} {r['stage']:14s} {r['path']}{timing}"
                )
            print(f"final={final_corpus_path(rows)}")
            return 0
        print(_PIPELINE_USAGE, file=sys.stderr)
        return 2
    except ValueError as e:  # user errors: message + exit 2, no traceback
        print(str(e), file=sys.stderr)
        return 2


def main(argv: list[str] | None = None) -> int:
    """``python -m pond_spark.cli --store=DIR COMMAND ...`` — the
    reference client's command surface (Main.cxx:672-745): query
    (default when omitted), stats, inject FILE, clone SRC_STORE;
    cancel is a no-op (no server connection to cancel)."""
    argv = sys.argv[1:] if argv is None else argv
    store = None
    geoip_table = None
    hostnames_table = None
    follow_duration: float | None = None
    max_batch_rows: int | None = None
    rest: list[str] = []
    for a in argv:
        if (v := _filter_value(a, "--store")) is not None:
            store = v
        elif (v := _filter_value(a, "--geoip-table")) is not None:
            # range table (ip_start BIGINT, ip_end BIGINT, country) —
            # the stand-in for the reference's libgeoip system database
            geoip_table = v
        elif (v := _filter_value(a, "--hostnames-table")) is not None:
            # (address, name) lookup — the stand-in for the reference's
            # cached DNS resolver behind --resolve-forwarded-to
            hostnames_table = v
        elif (v := _filter_value(a, "--follow-duration")) is not None:
            # engine extension: bound a --follow/--continue run for
            # scripting; 0 = drain-available-and-exit (availableNow)
            try:
                follow_duration = float(v)
            except ValueError:
                print(f"Bad --follow-duration: {v!r}", file=sys.stderr)
                return 2
        elif (v := _filter_value(a, "--max-batch-rows")) is not None:
            # safety valve on the per-micro-batch driver collect: an
            # unfiltered --continue against a huge store would pull
            # the whole backfill through the stdout formatter
            try:
                max_batch_rows = int(v)
            except ValueError:
                max_batch_rows = None
            if max_batch_rows is None or max_batch_rows < 1:
                # 0 would silently print nothing; negative values
                # raise inside the stream's limit() — both are bad
                # options, not crashes (exit-2 discipline)
                print(f"Bad --max-batch-rows: {v!r}", file=sys.stderr)
                return 2
        else:
            rest.append(a)
    if store is None:
        print(
            "usage: python -m pond_spark.cli --store=DIR "
            "[query|stats|inject FILE|clone SRC|cancel|sketch SUB|pack|catalog SUB|index SUB|pipeline SUB] "
            "[ARGS]",
            file=sys.stderr,
        )
        return 2

    command = "query"
    if rest and rest[0] in _COMMANDS:
        command = rest[0]
        rest = rest[1:]

    from pond_spark.session import get_spark
    from pond_spark.sources.store import LogStore

    spark = get_spark("pond_cli")
    log_store = LogStore(spark, store)

    if command == "cancel":
        print("nothing to cancel (no server connection)", file=sys.stderr)
        return 0
    if command == "stats":
        from pond_spark.operators.stats import stats as stats_op

        row = stats_op(log_store.read()).collect()[0]
        print(f"n_records={row.n_records} memory_usage={row.memory_usage}")
        return 0
    if command == "inject":
        if len(rest) != 1:
            print("usage: ... inject FILE", file=sys.stderr)
            return 2
        from pond_spark.sources.ingest import ingest_batch

        raw = (
            spark.read.format("text")
            .load(rest[0])
            .withColumnRenamed("value", "payload")
        )
        res = ingest_batch(raw)
        log_store.append(res.stored)
        print(
            f"n_received={res.n_received} "
            f"n_malformed={res.n_malformed} "
            f"n_discarded={res.n_discarded}"
        )
        return 0
    if command == "clone":
        if len(rest) != 1:
            print("usage: ... clone SRC_STORE_DIR", file=sys.stderr)
            return 2
        log_store.clone_from(LogStore(spark, rest[0]))
        print(f"cloned from {rest[0]}")
        return 0
    if command == "sketch":
        return _run_sketch(spark, log_store, rest)
    if command == "pack":
        return _run_pack(spark, rest)
    if command == "catalog":
        return _run_catalog(spark, rest)
    if command == "index":
        return _run_index(spark, rest)
    if command == "pipeline":
        return _run_pipeline(spark, rest)

    try:
        parsed = parse_query_args(rest)
    except (QueryValidationError, ValueError) as e:
        # parse_time_spec/parse_duration_us/strptime raise ValueError
        # for malformed specs — the user typo contract is the same:
        # message to stderr, exit 2, never a traceback
        print(str(e), file=sys.stderr)
        return 2

    df = log_store.read()

    if parsed.options.per_site is not None:
        # S10: --per-site writes the partitioned tree instead of stdout
        from pond_spark.query import Query
        from pond_spark.sinks.writers import write_per_site

        if not parsed.sites and parsed.group_site is None:
            # the reference client auto-enables GROUP_SITE(max) when
            # --per-site has neither a site filter nor an explicit
            # group_site (Main.cxx:336-343)
            parsed.group_site = (2**32 - 1, 0)
        from pond_spark.functions.format import OneLineOptions

        query = Query(df).filter(parsed.to_filter_spec())
        if parsed.group_site is not None:
            query = query.group_site(*parsed.group_site)
        filtered = query.to_df()
        po = parsed.options
        write_per_site(
            filtered,
            po.per_site,
            fmt="json" if po.jsonl else "text",
            shard=po.per_site_nested,
            visitors=po.track_visitors,
            gzip=po.gzip,
            # the per-site text lines honor the same formatting flags
            # the stdout path does (show_site stays off: records route
            # to their own site's file)
            opts=OneLineOptions(
                show_site=False,
                show_host=po.show_host,
                show_forwarded_to=po.show_forwarded_to,
                show_referer=po.show_referer,
                show_agent=po.show_agent,
                show_content_type=po.show_content_type,
                iso8601=po.iso8601,
                anonymize=po.anonymize,
            ),
            filename=po.per_site_filename,
        )
        print(f"wrote per-site tree: {po.per_site}")
        return 0

    def _load_table(path):
        return (
            spark.read.option("header", "true")
            .option("inferSchema", "true")
            .csv(path)
            if path.endswith(".csv")
            else spark.read.parquet(path)
        )

    geo_df = _load_table(geoip_table) if geoip_table is not None else None
    hostnames_df = (
        _load_table(hostnames_table) if hostnames_table is not None else None
    )
    if parsed.options.follow or parsed.options.continue_:
        return _run_follow(
            spark, store, parsed, follow_duration, max_batch_rows
        )

    try:
        # build() raises for option combinations only detectable after
        # parse (--geoip without a geo table, ...); those must exit 2
        # via stderr like parse errors, not surface as a traceback
        out = build(spark, df, parsed, geo_df=geo_df, hostnames_df=hostnames_df)
    except QueryValidationError as e:
        print(str(e), file=sys.stderr)
        return 2
    if parsed.options.jsonl:
        # to_json drops NULL fields — the reference's absent-if-null
        # JSONL rule (S6, src/client/FormatJson.cxx:24-88)
        from pyspark.sql import functions as F

        out = out.select(
            F.to_json(F.struct(*out.columns)).alias("line")
        )
    for row in out.toLocalIterator():
        vals = [str(v) for v in row]
        print("\t".join(vals) if len(vals) > 1 else vals[0])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

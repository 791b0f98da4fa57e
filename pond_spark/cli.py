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
testable in milliseconds. The engine command groups (sketch, pack,
catalog, index, pipeline) are declared once each, as a table their
parser, arity checks and usage text are built from, and :func:`main`
parses them before it starts Spark as well.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import re
import sys
import textwrap
import time
from dataclasses import dataclass, field, replace
from types import SimpleNamespace

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
    from pond_spark.functions.format import one_line

    line = one_line(_line_options(o))
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

def _line_options(o: OutputOptions):
    """The one-line formatter's options for these output flags — one
    mapping for the stdout path, ``--follow``/``--continue`` and the
    ``--per-site`` tree."""
    from pond_spark.functions.format import OneLineOptions

    return OneLineOptions(
        show_host=o.show_host,
        show_forwarded_to=o.show_forwarded_to,
        show_referer=o.show_referer,
        show_agent=o.show_agent,
        show_content_type=o.show_content_type,
        iso8601=o.iso8601,
        anonymize=o.anonymize,
    )


# Each engine command group is declared once, as a _Group: its flags
# (``--name`` → (type, default)) and its subcommands (name → positional
# names; a trailing ``NAME...`` takes one or more, an ``a|b`` name takes
# one of the listed words, and "" is the one subcommand of a group that
# takes none). _parse_group parses and checks every token against it and
# _usage renders the usage text from it. A flag lands in
# ``opts.<name>`` (dashes → underscores); a default of _EXTRA puts it in
# ``opts.extra`` (pipeline's ``config.extra``) only when given, and a
# default of ``...`` makes the flag required. Flags are group-wide.
_EXTRA = object()


@dataclass(frozen=True)
class _Group:
    flags: dict
    subs: dict


class _UsageError(Exception):
    pass


def _at_least(lo: int):
    def parse(v: str) -> int:
        if (n := int(v)) < lo:
            raise ValueError(v)
        return n

    return parse


def _usage(group: str) -> str:
    g = _GROUPS[group][0]

    def flag(name, typ, default):
        if typ is not bool:
            shown = default if default not in (None, _EXTRA, ...) else (
                {float: "X", str: "STR"}.get(typ, "N")
            )
            name = f"{name}={shown}"
        return name if default is ... else f"[{name}]"

    verb = "ARGS" if "" in g.subs else "SUBCOMMAND ARGS"
    return "\n".join([
        f"usage: ... {group} {verb} [FLAGS]",
        *("  " + " ".join(filter(None, (s, *n))) for s, n in g.subs.items()),
        textwrap.fill(
            " ".join(flag(n, *spec) for n, spec in g.flags.items()),
            width=72, initial_indent="flags: ", subsequent_indent="  ",
            break_on_hyphens=False,
        ),
    ])


def _parse_group(group: str, rest: list[str]):
    """Tokens after a group name → ``(subcommand, positionals, opts)``.

    A token is a flag only as ``--name=value``, or ``--name`` for a bool
    flag; any other token is a positional, so ``-0.5,1,0`` stays a
    vector. The positionals come back in declaration order, a trailing
    ``NAME...`` folded into one list. Raises :class:`_UsageError` for an
    unknown ``--`` token, a value that fails its type, a missing
    required flag, an unknown subcommand or a wrong positional count."""
    g = _GROUPS[group][0]
    dest = {name: name[2:].replace("-", "_") for name in g.flags}
    opts = SimpleNamespace(extra={})
    for name, (_, default) in g.flags.items():
        if default is not _EXTRA:
            setattr(opts, dest[name], default)
    pos: list[str] = []
    for tok in rest:
        if not tok.startswith("--"):
            pos.append(tok)
            continue
        name, eq, v = tok.partition("=")
        typ, default = g.flags.get(name, (None, None))
        if typ is None or (typ is bool) == bool(eq):
            raise _UsageError(f"unknown {group} flag: {tok!r}")
        try:
            val = True if typ is bool else typ(v)
        except ValueError:
            raise _UsageError(f"bad {group} flag value: {tok!r}") from None
        if default is _EXTRA:
            opts.extra[dest[name]] = val
        else:
            setattr(opts, dest[name], val)
    for name in g.flags:
        if getattr(opts, dest[name], None) is ...:
            raise _UsageError(f"{group} needs {name}=...")
    if "" in g.subs:
        sub = ""
    elif not pos:
        raise _UsageError(f"{group} needs a subcommand")
    else:
        sub, pos = pos[0], pos[1:]
    names = g.subs.get(sub)
    if names is None:
        raise _UsageError(f"unknown {group} subcommand: {sub!r}")
    many = names[-1].endswith("...")
    if len(pos) < len(names) or (len(pos) > len(names) and not many):
        raise _UsageError(f"{group} {sub}".rstrip() + f" takes {' '.join(names)}")
    for name, v in zip(names, pos):
        if "|" in name and v not in name.split("|"):
            raise _UsageError(f"{group} {sub}: {v!r} is not one of {name}")
    if many:
        pos = [*pos[: len(names) - 1], pos[len(names) - 1:]]
    return sub, pos, opts


_SKETCH = _Group(
    flags={
        "--k": (int, 64),
        "--seed": (int, 1),
        "--value-col": (str, "remote_host"),
        "--key-col": (str, "message"),
    },
    subs={
        "build-kmv": ("PATH",),
        "update-kmv": ("PATH", "DAY..."),
        "kmv-uniques": ("PATH", "LO", "HI"),
        "kmv-churn": ("PATH", "A_LO", "A_HI", "B_LO", "B_HI"),
        "build-cm": ("PATH",),
        "update-cm": ("PATH", "DAY..."),
        "cm-estimate": ("PATH", "LO", "HI", "KEY..."),
        "cm-join-size": ("PATH", "A_LO", "A_HI", "B_LO", "B_HI"),
    },
)


def _run_sketch(spark, log_store, sub: str, pos: list, o) -> int:
    """``sketch`` command group — the operator-facing surface for the
    KMV/theta and Count-Min cubes (operators/kmv.py, sketches.py,
    cmjoin.py): build/update maintain the day-partitioned sketch
    tables from the store; the serve subcommands answer from the
    sketch tables ALONE (no raw-store scan). Output is one stable
    ``key=value`` line per row, like ``stats``."""
    if sub == "build-kmv":
        from pond_spark.operators.kmv import build_kmv_sketches

        (path,) = pos
        build_kmv_sketches(
            log_store.read(), path, k=o.k, value_col=o.value_col, seed=o.seed
        )
        print(f"built kmv path={path} k={o.k} seed={o.seed}")
    elif sub == "update-kmv":
        from pond_spark.operators.kmv import update_kmv_sketches

        path, days = pos
        update_kmv_sketches(
            log_store.read(), path, days, k=o.k, value_col=o.value_col,
            seed=o.seed,
        )
        print(f"updated kmv path={path} days={','.join(days)}")
    elif sub == "kmv-uniques":
        from pond_spark.operators.kmv import kmv_uniques_over_range

        path, lo, hi = pos
        for r in sorted(
            kmv_uniques_over_range(spark, path, lo, hi, k=o.k).collect(),
            key=lambda r: r.site or "",
        ):
            print(
                f"site={r.site} uniques_est={r.uniques_est} "
                f"n_keys={r.n_keys} theta={r.theta}"
            )
    elif sub == "kmv-churn":
        from pond_spark.operators.kmv import kmv_churn

        for r in sorted(
            kmv_churn(spark, *pos, k=o.k).collect(),
            key=lambda r: r.site or "",
        ):
            print(
                f"site={r.site} uniques_a={r.uniques_a} "
                f"uniques_b={r.uniques_b} returning_est={r.returning_est} "
                f"new_est={r.new_est}"
            )
    elif sub == "build-cm":
        from pond_spark.operators.sketches import build_cm_sketches

        (path,) = pos
        build_cm_sketches(log_store.read(), path, key_col=o.key_col)
        print(f"built cm path={path} key_col={o.key_col}")
    elif sub == "update-cm":
        from pond_spark.operators.sketches import replace_cm_days

        path, days = pos
        replace_cm_days(log_store.read(), path, days, key_col=o.key_col)
        print(f"updated cm path={path} days={','.join(days)}")
    elif sub == "cm-estimate":
        from pond_spark.operators.sketches import cm_estimate_over_range

        path, lo, hi, keys = pos
        kdf = spark.createDataFrame([(x,) for x in keys], "key string")
        for r in sorted(
            cm_estimate_over_range(spark, path, kdf, lo, hi).collect(),
            key=lambda r: r.key,
        ):
            print(f"key={r.key} est={r.est}")
    else:  # cm-join-size
        from pond_spark.operators.cmjoin import cm_join_size

        for r in sorted(
            cm_join_size(spark, *pos).collect(), key=lambda r: r.row
        ):
            label = "est" if r.row == -1 else f"row{r.row}"
            print(f"{label}={r.dot}")
    return 0


_PACK = _Group(
    flags={
        "--capacity": (_at_least(1), ...),
        "--out": (str, None),
        "--tokens-col": (str, "n_tokens"),
        "--id-col": (str, "doc_id"),
        "--n-buckets": (int, 16),
    },
    subs={"": ("PARQUET",)},
)


def _run_pack(spark, log_store, sub: str, pos: list, o) -> int:
    """``pack PARQUET --capacity=N [--out=PATH]`` — FFD sequence
    packing (operators/seqpack.py) over a (id, n_tokens) parquet;
    writes assignments to --out or prints the bin summary."""
    from pyspark.sql import functions as F

    from pond_spark.operators.seqpack import pack_sequences

    packed = pack_sequences(
        spark.read.parquet(pos[0]),
        o.capacity,
        tokens_col=o.tokens_col,
        id_col=o.id_col,
        n_buckets=o.n_buckets,
    )
    if o.out:
        packed.write.mode("overwrite").parquet(o.out)
        print(f"packed to {o.out}")
        return 0
    agg = packed.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("bucket", "bin").alias("n_bins"),
        F.sum("n_tokens").alias("n_tokens"),
    ).collect()[0]
    print(
        f"n_docs={agg.n_docs} n_bins={agg.n_bins} n_tokens={agg.n_tokens} "
        f"capacity={o.capacity}"
    )
    return 0


_CATALOG = _Group(
    flags={
        "--text-col": (str, "text"),
        "--id-col": (str, None),
        "--vec-col": (str, "embedding"),
        # minhash defaults mirror the pipeline gate's near_* defaults
        # (pipeline._minhash_catalog: k=64/bands=16/n=3/seed=42) so a
        # catalog registered here with defaults opens cleanly from
        # `pipeline run --minhash-catalog` with defaults — the sidecar
        # refuses a mismatch loudly either way
        "--k": (int, 64),
        "--bands": (int, 16),
        "--n": (int, 3),
        "--seed": (int, 42),
        "--dim": (int, None),
        "--nbits": (int, 8),
        "--tables": (int, 2),
        "--max-bucket-size": (int, None),
        "--out": (str, None),
        "--before-ts": (int, None),
        "--max-age": (_at_least(0), None),
        "--snapshot": (bool, False),
        "--delta": (bool, False),
        "--store-vectors": (bool, False),
        "--verify-cos": (float, None),
        "--vector-buckets": (int, None),
    },
    subs={
        "digest-register": ("CAT", "DOCS_PARQUET"),
        "digest-filter": ("CAT", "DOCS_PARQUET"),
        "minhash-register": ("CAT", "DOCS_PARQUET"),
        "minhash-filter": ("CAT", "DOCS_PARQUET"),
        "minhash-candidates": ("CAT", "DOCS_PARQUET"),
        "emb-register": ("CAT", "VECS_PARQUET"),
        "emb-filter": ("CAT", "VECS_PARQUET"),
        "emb-candidates": ("CAT", "VECS_PARQUET"),
        "compact": ("digest|minhash|emb", "CAT"),
        "advise": ("minhash|emb", "CAT"),
        "advise-history": ("minhash|emb", "CAT"),
        "expire": ("digest|minhash|emb", "CAT"),
        "retention-history": ("digest|minhash|emb", "CAT"),
    },
)


def _run_catalog(spark, log_store, sub: str, pos: list, o) -> int:
    """``catalog`` command group — the operator-facing surface for the
    three incremental dedup catalogs (dedup/exact.py DigestCatalog,
    dedup/minhash.py MinHashCatalog, similarity/catalog.py
    EmbeddingCatalog), so the scheduled register->probe->compact cycle
    is scriptable without writing PySpark. Inputs are parquet paths
    (catalogs gate DOCUMENT/EMBEDDING tables, not the log store).
    ``*-filter``/``*-candidates`` print ``rows=N`` and write the full
    result to ``--out`` when given; parameter-sidecar refusals follow
    the user-error contract (stderr + exit 2, no traceback).

    Embedding catalogs need ``--dim``; ``--store-vectors`` persists the
    vectors for the exact-cosine verified gate (``emb-filter
    --verify-cos=C`` drops only rows with a stored neighbor at cosine
    >= C, and implies it on open); ``--vector-buckets=N`` buckets that
    vector sibling by vec_id. ``advise`` prints the bucket histogram
    and the recommended cap (and nbits for emb), ``--snapshot``
    appends it to CAT.advise.jsonl and ``advise-history [--delta]``
    replays those snapshots. ``expire`` age-evicts rows registered
    before ``--before-ts=EPOCH`` or ``--max-age=SECONDS`` ago (exactly
    one; re-seen content re-admits) and ``retention-history`` lists the
    recorded evictions."""

    def open_digest(path):
        from pond_spark.dedup.exact import DigestCatalog

        return DigestCatalog(spark, path)

    def open_minhash(path):
        from pond_spark.dedup.minhash import MinHashCatalog

        return MinHashCatalog(
            spark, path, k=o.k, bands=o.bands, n=o.n, seed=o.seed
        )

    def open_emb(path):
        from pond_spark.similarity.catalog import EmbeddingCatalog

        if o.dim is None:
            raise ValueError("emb catalogs need --dim=D (hyperplane shape)")
        return EmbeddingCatalog(
            spark, path, dim=o.dim, nbits=o.nbits, n_tables=o.tables,
            seed=o.seed,
            store_vectors=o.store_vectors or o.verify_cos is not None,
            vector_buckets=o.vector_buckets,
        )

    def emit(df) -> int:
        if o.out:
            df.write.mode("overwrite").parquet(o.out)
            written = spark.read.parquet(o.out).count()
            print(f"rows={written} out={o.out}")
        else:
            print(f"rows={df.count()}")
        return 0

    if sub in ("compact", "advise", "advise-history", "expire",
               "retention-history"):
        kind, path = pos
        if sub == "expire" and (o.before_ts is None) == (o.max_age is None):
            raise ValueError(
                "expire needs exactly one of --before-ts=EPOCH or "
                "--max-age=SECONDS"
            )
        cat = {"digest": open_digest, "minhash": open_minhash,
               "emb": open_emb}[kind](path)
        if sub == "compact":
            cat.compact()
            print(f"compacted kind={kind} path={path}")
        elif sub == "expire":
            # age eviction (reference max_age, Instance.cxx:190-203):
            # --before-ts is the explicit horizon; --max-age computes
            # it from the wall clock
            rec = cat.expire(
                o.before_ts if o.before_ts is not None
                else int(time.time()) - o.max_age
            )
            for key in sorted(rec):
                print(f"{key}={rec[key]}")
        elif sub == "retention-history":
            for evt in cat.retention_history():
                print(json.dumps(evt, sort_keys=True))
        elif sub == "advise":
            rep = cat.advise(
                max_bucket_size=o.max_bucket_size, snapshot=o.snapshot
            )
            for key in sorted(rep):
                print(f"{key}={rep[key]}")
        else:  # advise-history: the skew trend, no re-scan
            hist = cat.advise_history()
            if o.delta:
                from pond_spark.catalog import history_deltas

                hist = history_deltas(hist)
            for snap in hist:
                print(json.dumps(snap, sort_keys=True))
        return 0
    path, data = pos
    docs = spark.read.parquet(data)
    if sub == "digest-register":
        open_digest(path).register(docs, o.text_col)
    elif sub == "digest-filter":
        # default to the conventional id name like the minhash/emb
        # subcommands — docs.columns[0] was a positional guess that
        # could silently pick the text column as the id
        return emit(
            open_digest(path).filter_new(docs, o.text_col, o.id_col or "doc_id")
        )
    elif sub.startswith("minhash-"):
        cat, args = open_minhash(path), (docs, o.text_col, o.id_col or "doc_id")
        if sub == "minhash-filter":
            return emit(cat.filter_new(*args))
        if sub == "minhash-candidates":
            return emit(
                cat.near_candidates(*args, max_bucket_size=o.max_bucket_size)
            )
        cat.register(*args)
    else:
        cat, args = open_emb(path), (docs, o.vec_col, o.id_col or "vec_id")
        if sub == "emb-filter":
            return emit(cat.filter_new(*args, verify_cos=o.verify_cos))
        if sub == "emb-candidates":
            return emit(
                cat.near_candidates(*args, max_bucket_size=o.max_bucket_size)
            )
        cat.register(*args)
    print(f"registered path={path}")
    return 0


_INDEX = _Group(
    flags={
        "--text-col": (str, "text"),
        "--id-col": (str, None),
        "--vec-col": (str, "embedding"),
        "--n-buckets": (int, 64),
        "--n-centroids": (int, 16),
        "--pq-m": (int, None),
        "--topk": (int, 10),
        "--nprobe": (int, 4),
        "--adc": (bool, False),
    },
    subs={
        "build-text": ("IX", "DOCS_PARQUET"),
        "append-text": ("IX", "DOCS_PARQUET"),
        "compact-text": ("IX",),
        "search-text": ("IX", "TERM..."),
        "build-ivf": ("IX", "VECS_PARQUET"),
        "append-ivf": ("IX", "VECS_PARQUET"),
        "compact-ivf": ("IX",),
        "search-ivf": ("IX", "V1,V2,VN"),
    },
)


def _run_index(spark, log_store, sub: str, pos: list, o) -> int:
    """``index`` command group — the operator-facing surface for the
    two persisted serving indexes (functions/lexindex.py TextIndex,
    similarity/index.py IVFIndex): build/append/compact maintain the
    segment/list directories; the search subcommands answer from the
    index alone (``--adc`` scores IVF hits by PQ asymmetric distance).
    Output is one stable ``key=value`` line per hit."""
    from pond_spark.functions.lexindex import TextIndex, build_text_index
    from pond_spark.similarity.index import IVFIndex, build_ivf_index

    path = pos[0]
    try:
        if sub == "build-text":
            ix = build_text_index(
                spark.read.parquet(pos[1]), path,
                o.text_col, o.id_col or "doc_id", o.n_buckets,
            )
            print(f"built text index path={path} n_docs={ix.n_docs}")
        elif sub == "append-text":
            ix = TextIndex(spark, path).append(
                spark.read.parquet(pos[1]), o.text_col, o.id_col or "doc_id"
            )
            print(f"appended path={path} n_docs={ix.n_docs}")
        elif sub == "compact-text":
            TextIndex(spark, path).compact()
            print(f"compacted path={path}")
        elif sub == "search-text":
            for r in TextIndex(spark, path).search(pos[1], k=o.topk).collect():
                print(f"doc_id={r[0]} n_terms={r[1]} score_q={r[2]}")
        elif sub == "build-ivf":
            build_ivf_index(
                spark.read.parquet(pos[1]), path,
                n_centroids=o.n_centroids, vec_col=o.vec_col,
                id_col=o.id_col or "vec_id", pq_m=o.pq_m,
            )
            print(f"built ivf index path={path} n_centroids={o.n_centroids}")
        elif sub == "append-ivf":
            IVFIndex(spark, path).append(spark.read.parquet(pos[1]))
            print(f"appended path={path}")
        elif sub == "compact-ivf":
            stats = IVFIndex(spark, path).compact()
            print(f"compacted path={path} {stats}")
        else:  # search-ivf
            qvec = [float(x) for x in pos[1].split(",")]
            ix = IVFIndex(spark, path)
            search = ix.search_adc if o.adc else ix.search
            for r in search(qvec, k=o.topk, nprobe=o.nprobe).collect():
                print(f"{ix.id_col}={r[0]} cosine={r[1]}")
    except FileNotFoundError as e:
        raise ValueError(f"no index at that path: {e}") from None
    return 0


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

    from pond_spark.functions.format import one_line
    from pond_spark.streaming.follow import continue_stream, follow_stream

    o = parsed.options
    spec = parsed.to_filter_spec()
    stream = (
        continue_stream(spark, store_dir, spec)
        if o.continue_
        else follow_stream(spark, store_dir, spec)
    )
    line = one_line(_line_options(o))

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
    try:
        q.awaitTermination(duration)
    finally:
        q.stop()
    return 0


_PIPELINE = _Group(
    flags={
        "--stages": (str, "quality,exact_dedup,sample"),
        "--min-words": (int, 20),
        "--max-words": (int, 100_000),
        "--sample-rate": (float, 1.0),
        "--sample-salt": (str, "curate"),
        "--eval-set": (str, None),
        "--digest-catalog": (str, None),
        "--minhash-catalog": (str, None),
        "--embedding-catalog": (str, None),
        "--lease-ttl": (int, None),
        "--near-method": (str, _EXTRA),
        "--near-threshold": (float, _EXTRA),
        "--near-n": (int, _EXTRA),
        "--near-block-col": (str, _EXTRA),
        "--near-max-bucket": (int, _EXTRA),
        "--near-k": (int, _EXTRA),
        "--near-bands": (int, _EXTRA),
        "--emb-dim": (int, _EXTRA),
        "--emb-col": (str, _EXTRA),
        "--emb-nbits": (int, _EXTRA),
        "--emb-tables": (int, _EXTRA),
        "--emb-vector-buckets": (int, _EXTRA),
        "--emb-verify-cos": (float, _EXTRA),
        "--emb-max-overshoot": (float, _EXTRA),
        "--emb-store-vectors": (bool, _EXTRA),
    },
    subs={
        "run": ("INPUT_PARQUET", "WORK_DIR"),
        "report": ("INPUT_PARQUET",),
        "report-runs": ("WORK_DIR...",),
        "status": ("WORK_DIR",),
    },
)


def _run_pipeline(spark, log_store, sub: str, pos: list, o) -> int:
    """``pipeline`` command group — the resumable curation driver
    (pipeline.curate_run) scriptable like the catalog/index groups: a
    scheduler re-invokes the SAME ``pipeline run`` after any crash and
    the chain resumes from its first incomplete stage. The catalog
    flags add the cross-run incremental gate and after-ship
    registration (daily-corpus mode); ``--lease-ttl`` holds a writer
    lease on the work_dir and catalogs so a scheduler double-fire
    refuses instead of racing. ``report`` audits rows in/out per
    configured stage; ``report-runs`` is the gate-aware funnel over
    completed runs, read from their persisted stage outputs; ``status``
    inspects a work_dir without touching Spark jobs."""
    from pond_spark.pipeline import CurationConfig

    cfg = CurationConfig(
        min_words=o.min_words,
        max_words=o.max_words,
        sample_rate=o.sample_rate,
        sample_salt=o.sample_salt,
        stages=tuple(s for s in o.stages.split(",") if s),
        extra=o.extra,
    )
    if sub == "status":
        from pond_spark.catalog import _fs_for
        from pond_spark.pipeline import _pin_manifest, _stage_dirs

        (work,) = pos
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
    elif sub == "report-runs":
        from pond_spark.pipeline import report_runs

        for day in report_runs(spark, pos[0]):
            reg = " registered" if day.get("registered") else ""
            comp = "" if day.get("complete") else " INCOMPLETE"
            print(
                f"run {day['work_dir']}: in={day['input_rows']} "
                f"shipped={day['shipped_rows']}{reg}{comp}"
            )
            for s in day["stages"]:
                out = "?" if s["rows_out"] is None else s["rows_out"]
                d = "?" if s["dropped"] is None else s["dropped"]
                print(f"  {s['stage']:14s} out={out:>10} dropped={d}")
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
    elif sub == "report":
        from pond_spark.pipeline import report

        eval_df = spark.read.parquet(o.eval_set) if o.eval_set else None
        for r in report(spark.read.parquet(pos[0]), cfg, eval_df):
            dropped = r["rows_in"] - r["rows_out"]
            print(
                f"{r['stage']:14s} in={r['rows_in']:>10d} "
                f"out={r['rows_out']:>10d} dropped={dropped}"
            )
    else:  # run
        from pond_spark.pipeline import curate_run, final_corpus_path

        inp, work = pos
        rows = curate_run(
            spark,
            inp,
            work,
            cfg,
            eval_set_path=o.eval_set,
            digest_catalog_path=o.digest_catalog,
            minhash_catalog_path=o.minhash_catalog,
            embedding_catalog_path=o.embedding_catalog,
            lease_ttl=o.lease_ttl,
        )
        for r in rows:
            timing = f" ({r['seconds']}s)" if "seconds" in r else ""
            print(
                f"{r['status']:8s} {r['stage']:14s} {r['path']}{timing}"
            )
        print(f"final={final_corpus_path(rows)}")
    return 0


_GROUPS = {
    "sketch": (_SKETCH, _run_sketch),
    "pack": (_PACK, _run_pack),
    "catalog": (_CATALOG, _run_catalog),
    "index": (_INDEX, _run_index),
    "pipeline": (_PIPELINE, _run_pipeline),
}
_COMMANDS = ("query", "stats", "inject", "clone", "cancel", *_GROUPS)


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
                follow_duration = None
            if follow_duration is None or not 0 <= follow_duration < math.inf:
                # negative, inf and nan (which fails every comparison)
                # would reach the stream's awaitTermination and crash
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
    # parse before get_spark: a usage error starts no JVM
    try:
        if command in _GROUPS:
            sub, pos, opts = _parse_group(command, rest)
        elif command == "query":
            parsed = parse_query_args(rest)
    except _UsageError as e:
        print(f"{e}\n{_usage(command)}", file=sys.stderr)
        return 2
    except (QueryValidationError, ValueError) as e:
        # parse_time_spec/parse_duration_us/strptime raise ValueError
        # for malformed specs — the user typo contract is the same:
        # message to stderr, exit 2, never a traceback
        print(str(e), file=sys.stderr)
        return 2
    if command == "cancel":
        print("nothing to cancel (no server connection)", file=sys.stderr)
        return 0
    if command in ("inject", "clone") and len(rest) != 1:
        arg = "FILE" if command == "inject" else "SRC_STORE_DIR"
        print(f"usage: ... {command} {arg}", file=sys.stderr)
        return 2

    from pond_spark.session import get_spark
    from pond_spark.sources.store import LogStore

    spark = get_spark("pond_cli")
    log_store = LogStore(spark, store)

    if command == "stats":
        from pond_spark.operators.stats import stats as stats_op

        row = stats_op(log_store.read()).collect()[0]
        print(f"n_records={row.n_records} memory_usage={row.memory_usage}")
        return 0
    if command == "inject":
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
        log_store.clone_from(LogStore(spark, rest[0]))
        print(f"cloned from {rest[0]}")
        return 0
    if command in _GROUPS:
        try:
            return _GROUPS[command][1](spark, log_store, sub, pos, opts)
        except (ValueError, TypeError) as e:
            # bad params the tables cannot see (incl. sidecar
            # refusals): message to stderr, exit 2, no traceback
            print(str(e) or _usage(command), file=sys.stderr)
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
            opts=replace(_line_options(po), show_site=False),
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

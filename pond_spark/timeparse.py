"""Time-expression parser — the client-side sugar of the reference
(SURVEY.md F12/F13): relative and partial ISO8601 timestamps.

Reference behavior (doc/index.rst:353-383, used at
/root/reference/src/client/Main.cxx:169-187):

- ``now``, ``today``, ``yesterday``, ``tomorrow``
- relative offsets ``-1h``, ``+30s``, ``-2d`` … (s/m/h/d suffixes)
- partial ISO8601 dates/times; a partial spec implies a *duration* so
  that ``until=2019-02-04`` covers that whole day — the parser returns
  ``(start, duration)`` and the client uses ``start + duration`` for
  ``until`` (src/client/Main.cxx:169-178: ``t.first + t.second``).
- ``date=YYYY-MM-DD`` spans 24 h; ``today`` is the local-midnight window
  (we use UTC; session timezone is pinned to UTC engine-wide).

``parse_time_spec`` returns ``(start, duration)``; ``since_until``
applies the since/until convention.
"""

from __future__ import annotations

import datetime as dt
import re

_REL_RE = re.compile(r"^([+-])(\d+)([smhd])$")
_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400}

#: fixed-duration partial-ISO patterns. Year and month are NOT here:
#: their durations are calendar-aware (leap years, month lengths) and
#: handled inline in parse_time_spec — keeping a fixed-duration copy
#: in this table invited a silent disagreement between the two.
_PATTERNS: list[tuple[re.Pattern[str], str, dt.timedelta]] = [
    (re.compile(r"^(\d{4})-(\d{2})-(\d{2})$"), "%Y-%m-%d", dt.timedelta(days=1)),
    (
        re.compile(r"^(\d{4})-(\d{2})-(\d{2})[T ](\d{2}):(\d{2})$"),
        "%Y-%m-%dT%H:%M",
        dt.timedelta(minutes=1),
    ),
    (
        re.compile(r"^(\d{4})-(\d{2})-(\d{2})[T ](\d{2}):(\d{2}):(\d{2})$"),
        "%Y-%m-%dT%H:%M:%S",
        dt.timedelta(seconds=1),
    ),
    (re.compile(r"^(\d{2}):(\d{2})$"), "%H:%M", dt.timedelta(minutes=1)),
    (re.compile(r"^(\d{2}):(\d{2}):(\d{2})$"), "%H:%M:%S", dt.timedelta(seconds=1)),
]


def naive_utc(t: dt.datetime | None) -> dt.datetime | None:
    """``t`` as a naive UTC datetime, the engine-wide convention (the
    session timezone is UTC): aware values are converted, naive ones
    and None pass through."""
    if t is None or t.tzinfo is None:
        return t
    return t.astimezone(dt.timezone.utc).replace(tzinfo=None)


def _midnight(now: dt.datetime) -> dt.datetime:
    return now.replace(hour=0, minute=0, second=0, microsecond=0)


def parse_time_spec(
    spec: str, now: dt.datetime | None = None
) -> tuple[dt.datetime, dt.timedelta]:
    """Parse one time expression → (start, implied_duration)."""
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    spec = spec.strip()

    if spec == "now":
        return now, dt.timedelta(0)
    if spec == "today":
        return _midnight(now), dt.timedelta(days=1)
    if spec == "yesterday":
        return _midnight(now) - dt.timedelta(days=1), dt.timedelta(days=1)
    if spec == "tomorrow":
        return _midnight(now) + dt.timedelta(days=1), dt.timedelta(days=1)

    m = _REL_RE.match(spec)
    if m:
        sign = -1 if m.group(1) == "-" else 1
        secs = sign * int(m.group(2)) * _UNITS[m.group(3)]
        try:
            return now + dt.timedelta(seconds=secs), dt.timedelta(0)
        except OverflowError:
            raise ValueError(f"time spec out of range: {spec!r}") from None

    # Year / month need calendar-aware durations.
    m = re.match(r"^(\d{4})$", spec)
    if m:
        y = int(m.group(1))
        start = dt.datetime(y, 1, 1)
        return start, dt.datetime(y + 1, 1, 1) - start
    m = re.match(r"^(\d{4})-(\d{2})$", spec)
    if m:
        y, mo = int(m.group(1)), int(m.group(2))
        start = dt.datetime(y, mo, 1)
        end = dt.datetime(y + 1, 1, 1) if mo == 12 else dt.datetime(y, mo + 1, 1)
        return start, end - start

    for pat, fmt, dur in _PATTERNS:
        if pat.match(spec):
            if fmt.startswith("%H"):
                t = dt.datetime.strptime(spec, fmt).time()
                return dt.datetime.combine(now.date(), t), dur
            return dt.datetime.strptime(spec.replace(" ", "T"), fmt), dur

    raise ValueError(f"unparseable time spec: {spec!r}")


def since_until(
    since: str | None = None,
    until: str | None = None,
    time: str | None = None,
    date: str | None = None,
    today: bool = False,
    now: dt.datetime | None = None,
) -> tuple[dt.datetime | None, dt.datetime | None]:
    """Resolve the client's since/until/time/date/today sugar to an
    inclusive [since, until] pair (src/client/Main.cxx:163-187).

    ``until`` uses start+duration so a partial spec covers its whole
    span; the range filter itself is inclusive (Filter.hxx:42-47), so we
    subtract 1 µs from start+duration to stay within the span.

    **Deliberate divergence from the reference client**: Main.cxx sets
    until = start + duration with the inclusive compare, which ALSO
    matches a record timestamped exactly at the next span's first
    microsecond (until=2024-05-01 admits 2024-05-02T00:00:00.000000).
    cli.parse_query_args mirrors that reference behavior verbatim;
    this helper keeps the span-accurate bound instead. A record on the
    exact boundary microsecond is the only row the two paths disagree
    on.
    """
    # resolve "now" ONCE: with now=None, letting each parse_time_spec
    # take its own clock reading would anchor since and until at two
    # different instants (a record landing between the readings is
    # inconsistently classified)
    if now is None:
        now = dt.datetime.now()
    if today:
        time = "today"
    if date is not None:
        time = date
    if time is not None:
        start, dur = parse_time_spec(time, now)
        # zero-duration point specs (e.g. time="now", time="-1h") must
        # return the inclusive point, not an inverted empty range —
        # same guard as the until= path below
        end = start + dur - dt.timedelta(microseconds=1) if dur else start
        return start, end
    lo = hi = None
    if since is not None:
        lo = parse_time_spec(since, now)[0]
    if until is not None:
        start, dur = parse_time_spec(until, now)
        hi = start + dur - dt.timedelta(microseconds=1) if dur else start
    return lo, hi

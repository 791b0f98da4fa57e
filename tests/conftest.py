from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

# the checkout this conftest sits in, not some other copy on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pond_spark.schema import LOG_SCHEMA  # noqa: E402
from pond_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    return get_spark("pond_spark_tests", master="local[4]", shuffle_partitions=4)


def ts(day: int, h: int = 0, m: int = 0, s: int = 0, us: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, h, m, s, us)


def make_log_rows():
    """Hand-built corpus covering the §2.2 semantic corners: NULL vs
    empty site, NULL host, missing timestamps, status boundaries,
    safe/unsafe methods, duration NULLs, uri prefixes."""
    base = dict.fromkeys([f.name for f in LOG_SCHEMA.fields])
    rows = []

    def add(i, **kw):
        r = dict(base)
        r.update(id=i, **kw)
        rows.append(r)

    add(1, timestamp=ts(1, 10), site="a", type="http_access", http_method="GET",
        http_status=200, http_uri="/api/v1/x", host="h1", duration_us=1000,
        remote_host="1.2.3.4", generator="gen-a")
    add(2, timestamp=ts(1, 11), site="b", type="http_access", http_method="POST",
        http_status=404, http_uri="/api/v2/y", host="h2", duration_us=500_000,
        remote_host="1.2.3.5")
    add(3, timestamp=ts(1, 12), site=None, type="http_error", http_method=None,
        http_status=500, http_uri="/static/css", host=None, message="boom",
        remote_host="1.2.3.4")
    add(4, timestamp=ts(2, 9), site="", type="http_access", http_method="HEAD",
        http_status=204, http_uri="/index.html", host="", duration_us=None,
        remote_host="2001:db8::1", generator="")
    add(5, timestamp=None, site="a", type="submission", http_method="PUT",
        http_status=301, http_uri="/api/v1/z", host="h1", duration_us=2_000_000,
        remote_host="1.2.3.6")
    add(6, timestamp=ts(2, 10), site="a", type="http_access", http_method="DELETE",
        http_status=403, http_uri="/api/v1/x", host="h1", duration_us=30_000_000,
        remote_host="1.2.3.4", generator="gen-b")
    add(7, timestamp=ts(3, 8), site="c", type="ssh", http_method=None,
        http_status=None, http_uri=None, host=None, message="login",
        remote_host="9.9.9.9")
    add(8, timestamp=ts(3, 8, 0, 0, 1), site="b", type="http_access",
        http_method="GET", http_status=499, http_uri="/api", host="h3",
        duration_us=999, remote_host="1.2.3.5")
    return rows


@pytest.fixture(scope="session")
def logs(spark):
    return spark.createDataFrame(make_log_rows(), LOG_SCHEMA).cache()

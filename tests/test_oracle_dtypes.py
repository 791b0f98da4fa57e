"""Every registered query against its DuckDB twin at sf0.001.

One case per ``queries()`` name runs ``tools.oracle_check.check_query``
— the same comparison ``python tools/oracle_check.py`` makes: row
count, schema, order-insensitive value hash, and the oracle dtype lint.

The lint (VERDICT r7 ask #1b): DuckDB's HUGEINT — the return type of
un-cast integer arithmetic like ``sum()`` products — has no int64
mapping, so pandas (``.df()``) silently widens it to float64 and the
hasher sees ``"0.0"`` where Spark emits ``"0"``. This caused red rows
in rounds 3 (bm25/nbayes sums, fixed in bfd9e30) and 7 (corpus_profile
dup_ppm). ``fetch_oracle_df`` therefore fails any twin column that is
(a) declared HUGEINT/UHUGEINT/DECIMAL, or (b) declared integral but
materialized float64 without a NULL to explain it. NULL-caused float64
(nullable BIGINT with actual NULLs) is symmetric — Spark's toPandas
does the same — so it is exempt by design.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from tools.oracle_check import check_query, oracle_connect, oracle_dtype_drift

SF_DIR = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def oracle_con():
    con = oracle_connect(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def twins():
    # The lazy oracle builders derive sampled literals from
    # SPARK_GRAFT_ORACLE_SF_DIR at call time; pin it for this module
    # and restore afterwards so other tests see their own default.
    old = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR
    try:
        yield entrymod.oracle_sql()
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_ORACLE_SF_DIR", None)
        else:
            os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = old


def test_every_query_has_a_twin(twins):
    assert set(QUERIES) == set(twins)
    assert len(QUERIES) == 114


def test_registry_order_is_pinned():
    """The names and order of queries() are part of the driver
    contract; moving a query between registry modules must not
    change them."""
    import hashlib

    digest = hashlib.sha256("\n".join(QUERIES).encode()).hexdigest()
    assert digest == (
        "12aec8f7726d6a10fd35af34fd997e8fb9754932e18d2579664171c75612156c"
    )


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_twin(spark, oracle_con, twins, name):
    fn = QUERIES[name]
    assert check_query(spark, oracle_con, name, fn, twins.get(name), SF_DIR) == []


def test_hugeint_would_be_caught(oracle_con):
    """Self-test: the lint actually fires on the r7 failure shape."""
    sql = "SELECT sum(x) * 1000000 // count(*) AS dup_ppm FROM (VALUES (1), (2)) t(x)"
    native = [
        (r[0], r[1]) for r in oracle_con.execute(f"DESCRIBE {sql}").fetchall()
    ]
    odf = oracle_con.execute(sql).df()
    drift = oracle_dtype_drift(native, odf)
    assert drift and "dup_ppm" in drift[0]

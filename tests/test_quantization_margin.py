"""Measured adjudication of the floor(double)-in-hash surfaces
(VERDICT r4 ask #2).

Three ranking metrics quantize a log-based score with
``floor(x * 1e6)`` before it reaches a hashed column or an ordering
key: BM25 contributions (functions/bm25.py), Naive-Bayes
log-likelihoods (functions/nbayes.py) and tf-idf idf values
(functions/tfidf.py). A logarithm cannot be reformulated as exact
integer arithmetic, so the residual risk is a last-ulp difference
between the JVM's and DuckDB's ``ln`` landing exactly on a floor
boundary.

This test replaces the "measure-zero in practice" hand-wave with a
measurement on the actual correctness corpus (sf0.01): for every
quantized value the distance of ``x`` to its nearest integer boundary
must exceed 1000x the worst-case 1-ulp perturbation ``|x| * 2^-52``
(and an absolute floor of 1e-7). Measured margins at sf0.01 are
~6e6x (bm25), ~3.5e4x (nbayes) and ~4e7x (tfidf) the ulp effect —
if a future corpus ever lands near a boundary, THIS test goes red
before the driver's hash gate flakes.
"""

from __future__ import annotations

import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
DOCS = f"{SF_DIR}/documents.parquet"

#: 1-ulp relative perturbation of a double
ULP = 2.0 ** -52
#: required slack: 1000 one-ulp perturbations, floored at 1e-7
MIN_ABS_MARGIN = 1e-7

pytestmark = pytest.mark.skipif(
    not os.path.exists(DOCS), reason="sf0.01 testdata not present"
)

TOKENS = (
    "SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), "
    "'\\s+')) AS word FROM documents"
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS}')"
    )
    return con


def _assert_margin(con, label: str, values_cte: str) -> None:
    """``values_cte`` must yield a column v = the UNfloored scaled
    score. Asserts every v clears the boundary-margin policy."""
    margin, n, maxabs = con.execute(
        f"WITH x AS ({values_cte}) "
        "SELECT min(least(v - floor(v), 1 - (v - floor(v)))), count(*), "
        "max(abs(v)) FROM x"
    ).fetchone()
    assert n > 0, f"{label}: audit query matched no values"
    required = max(MIN_ABS_MARGIN, 1000.0 * maxabs * ULP)
    assert margin > required, (
        f"{label}: min boundary margin {margin:.3e} <= required "
        f"{required:.3e} (n={n}, max|x|={maxabs:.3e}) — a 1-ulp ln() "
        "difference could flip a hashed floor; re-adjudicate before "
        "trusting the hash gate on this corpus"
    )


def test_bm25_contribution_margins(duck):
    """Every per-(doc, term) BM25 contribution for the registered
    query terms (BM25_TERMS in pond_spark.registry.text) sits far from a
    floor boundary."""
    from pond_spark.registry.text import BM25_TERMS

    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    _assert_margin(duck, "bm25", f"""
      SELECT * FROM (
        WITH w AS ({TOKENS}),
        dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
        stats AS (SELECT sum(dl) AS sum_dl, count(*) AS n_docs FROM dl),
        tf AS (SELECT doc_id, word, count(*) AS tf FROM w
               WHERE word IN ({terms}) GROUP BY doc_id, word),
        dfc AS (SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word)
        SELECT ln(1.0 + ((s.n_docs - dfc.df) + 0.5) / (dfc.df + 0.5))
               * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75
                  * (dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))))
               * 1000000.0 AS v
        FROM tf JOIN dfc USING (word) JOIN dl USING (doc_id) CROSS JOIN stats s)
    """)


def test_nbayes_logq_and_prior_margins(duck):
    """Every Laplace log-likelihood reachable from the holdout tokens
    and every class prior clears the margin policy."""
    _assert_margin(duck, "nbayes-logq", f"""
      SELECT * FROM (
        WITH train AS (SELECT * FROM documents WHERE ((doc_id % 5) + 5) % 5 != 0),
        test AS (SELECT * FROM documents WHERE ((doc_id % 5) + 5) % 5 = 0),
        tw AS (SELECT lang AS cls, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word FROM train),
        counts AS (SELECT cls, word, count(*) AS cnt FROM tw GROUP BY cls, word),
        totals AS (SELECT cls, count(*) AS total_c FROM tw GROUP BY cls),
        vocab AS (SELECT count(DISTINCT word) AS v FROM tw),
        sw AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word FROM test)
        SELECT ln(CAST(coalesce(k.cnt, 0) + 1 AS DOUBLE) / (t.total_c + vb.v)) * 1000000.0 AS v
        FROM sw CROSS JOIN totals t CROSS JOIN vocab vb
        LEFT JOIN counts k ON k.cls = t.cls AND k.word = sw.word)
    """)
    _assert_margin(duck, "nbayes-prior", """
      SELECT * FROM (
        WITH train AS (SELECT * FROM documents WHERE ((doc_id % 5) + 5) % 5 != 0),
        cls_docs AS (SELECT lang AS cls, count(*) AS n FROM train GROUP BY 1),
        n_train AS (SELECT count(*) AS n FROM train)
        SELECT ln(CAST(cd.n AS DOUBLE) / nt.n) * 1000000.0 AS v
        FROM cls_docs cd CROSS JOIN n_train nt)
    """)


def test_dsir_ratio_margins(duck):
    """Both logq families of the DSIR ratio table (target and raw
    per-bucket smoothed likelihoods, functions/dsir.py) clear the
    margin policy — <= 2*n_buckets values total."""
    from pond_spark.functions.text import HASH_BASE, HASH_MOD

    B = 256
    w = f"""
      SELECT doc_id, t,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(word, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
               (acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD}) % {B}
               AS bucket
      FROM (SELECT doc_id, (lang = 'en') AS t,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
            FROM documents)
    """
    _assert_margin(duck, "dsir-ratio", f"""
      SELECT * FROM (
        WITH w AS ({w}),
        raw AS (SELECT bucket, count(*) AS n_r FROM w GROUP BY bucket),
        tgt AS (SELECT bucket, count(*) AS n_t FROM w WHERE t GROUP BY bucket),
        totals AS (SELECT count(*) AS r_total,
                          sum(CASE WHEN t THEN 1 ELSE 0 END) AS t_total FROM w)
        SELECT ln(CAST(coalesce(tgt.n_t, 0) + 1 AS DOUBLE)
                  / (tt.t_total + {B})) * 1000000.0 AS v
        FROM raw LEFT JOIN tgt ON tgt.bucket = raw.bucket CROSS JOIN totals tt
        UNION ALL
        SELECT ln(CAST(raw.n_r + 1 AS DOUBLE) / (tt.r_total + {B})) * 1000000.0
        FROM raw CROSS JOIN totals tt)
    """)


def test_tfidf_idf_margins(duck):
    """Every distinct idf value over the corpus vocabulary clears the
    margin policy (tf multiplies AFTER the floor, so the contribution
    set is exactly the distinct (n_docs, df) pairs)."""
    _assert_margin(duck, "tfidf-idf", f"""
      SELECT * FROM (
        WITH w AS ({TOKENS}),
        dfc AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        SELECT DISTINCT ln(CAST(n.n_docs AS DOUBLE) / dfc.df) * 1000000.0 AS v
        FROM dfc CROSS JOIN n)
    """)

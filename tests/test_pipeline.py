"""End-to-end curation pipeline (pond_spark/pipeline.py) on a planted
corpus exercising every stage."""

from __future__ import annotations

import pytest

from pond_spark.pipeline import CurationConfig, curate


@pytest.fixture(scope="module")
def corpus(spark):
    good = "clean prose with plenty of ordinary readable words " * 3
    rows = [
        (1, good + "unique one"),
        (2, good + "unique one"),  # exact dup of 1 (after quality both pass)
        (3, good + "unique three"),
        (4, "too short"),  # fails quality (min_words)
        (5, good + "contact me at alice@example.com thanks"),  # PII
        (6, good + "leaked eval content that matches the benchmark set"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_curate_full_chain(spark, corpus):
    eval_set = spark.createDataFrame(
        [(100, "leaked eval content that matches the benchmark set")],
        ["doc_id", "text"],
    )
    out = curate(
        corpus,
        CurationConfig(
            min_words=10,
            line_words_per_chunk=None,
            decontaminate_n=6,
            sample_rate=1.0,
            stages=(
                "quality",
                "exact_dedup",
                "pii",
                "decontaminate",
                "sample",
            ),
        ),
        eval_set=eval_set,
    )
    got = {r.doc_id: r.text for r in out.collect()}
    assert 4 not in got  # quality gate
    assert 2 not in got and 1 in got  # exact dedup keeps min id
    assert 6 not in got  # decontaminated
    assert 5 in got and "alice@example.com" not in got[5]  # PII scrubbed
    assert "[EMAIL]" in got[5] or "@" not in got[5]
    assert 3 in got


def test_curate_single_plan(spark, corpus):
    """The filter-only chain stays ONE Catalyst plan with the quality
    predicate evaluated before any shuffle (no intermediate actions)."""
    out = curate(
        corpus,
        CurationConfig(min_words=10, stages=("quality", "exact_dedup")),
    )
    # lazy: building the plan runs no jobs; the whole chain analyzes
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan  # dedup semi-join present in the single plan


def test_curate_quality_stage_is_one_map_only_pass(spark, corpus):
    """The quality gate is one per-document filter: its executed plan
    has no exchange and no cached relation, and it pins nothing."""
    jsc = spark.sparkContext._jsc
    pinned = jsc.getPersistentRDDs().size()
    out = curate(corpus, CurationConfig(stages=("quality",)))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final and "InMemoryRelation" not in final
    assert jsc.getPersistentRDDs().size() == pinned


#: quality-gate edge texts: empty, whitespace-only, NULL, one word
#: (ASCII and not), non-ASCII prose, a non-Latin script
_GATE_EDGE_ROWS = [
    (1, "hello"),
    (2, "hello world again and again"),
    (3, ""),
    (4, "  \t \n "),
    (5, None),
    (6, "Zürich"),
    (7, "héllo wörld ünïcode façade"),
    (8, "日本語 の テキスト です"),
    (9, "x"),
]


@pytest.mark.parametrize(
    "min_words, expected",
    [(1, {1, 2, 6, 7}), (2, {2, 7}), (0, {1, 2, 6, 7})],
)
def test_quality_gate_batch_stream_and_rules_agree(
    spark, tmp_path, min_words, expected
):
    """Batch curate, curate_stream and quality_rules keep the same ids,
    down to docs too short to have a word bigram (min_words <= 1)."""
    from pyspark.sql import functions as F

    from pond_spark.functions.text import quality_rules
    from pond_spark.pipeline import curate_stream

    schema = "doc_id long, text string"
    docs = spark.createDataFrame(_GATE_EDGE_ROWS, schema)
    config = CurationConfig(stages=("quality",), min_words=min_words)

    rules = {
        r.doc_id
        for r in docs.select("doc_id", *quality_rules(
            F.col("text"), min_words=min_words
        )).collect()
        if r.keep
    }
    batch = {r.doc_id for r in curate(docs, config).collect()}

    src = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(src)
    name = f"quality_gate_{min_words}"
    q = (
        curate_stream(spark.readStream.schema(schema).parquet(src), config)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = {r.doc_id for r in spark.table(name).collect()}
    spark.catalog.dropTempView(name)

    assert rules == batch == stream == expected


def test_curate_unknown_stage_rejected(spark, corpus):
    with pytest.raises(ValueError):
        curate(corpus, CurationConfig(stages=("nonsense",)))


def test_curate_sample_deterministic(spark, corpus):
    a = curate(
        corpus,
        CurationConfig(min_words=10, sample_rate=0.5, stages=("quality", "sample")),
    )
    b = curate(
        corpus,
        CurationConfig(min_words=10, sample_rate=0.5, stages=("quality", "sample")),
    )
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )


def test_curate_stream_end_to_end(spark, tmp_path):
    """Streaming curation: quality gate + watermark dedup + PII scrub
    over a file stream, drained with availableNow."""
    import datetime as dt

    from pond_spark.pipeline import curate_stream

    good = "clean prose with plenty of ordinary readable words " * 3
    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (1, t0, good + "unique one"),
        (2, t0 + dt.timedelta(seconds=1), good + "unique one"),  # re-delivery
        (3, t0 + dt.timedelta(seconds=2), "too short"),  # quality drop
        (4, t0 + dt.timedelta(seconds=3), good + "mail bob@example.com now"),
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "doc_id long, timestamp timestamp, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, timestamp timestamp, text string"
    ).parquet(src)
    out_dir = str(tmp_path / "out")
    q = (
        curate_stream(
            stream,
            CurationConfig(
                min_words=10, stages=("quality", "exact_dedup", "pii")
            ),
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.doc_id: r.text for r in spark.read.parquet(out_dir).collect()}
    assert set(got) == {1, 4}  # 2 deduped, 3 quality-dropped
    assert "bob@example.com" not in got[4]


def test_curate_foreach_batch_full_chain(spark, tmp_path):
    """Streaming parity for the FULL chain: line_dedup + decontaminate
    fold per micro-batch via foreachBatch (one file = one batch with
    maxFilesPerTrigger=1). Within a batch, a line shared by >=2 docs
    strips and eval-contaminated docs drop; a line unique within its
    own batch survives — proving the stage scope is the batch, and the
    whole flow is deterministic."""
    from pond_spark.pipeline import curate_foreach_batch

    good = "clean prose with plenty of ordinary readable words " * 3
    boiler = "same legal disclaimer on every page"
    eval_text = "leaked eval content that matches the benchmark set"
    src = str(tmp_path / "in")
    # batch A: boiler repeats (docs 1, 2) -> stripped; doc 3 contaminated
    spark.createDataFrame(
        [
            (1, boiler + "\n" + good + "unique alpha"),
            (2, boiler + "\n" + good + "unique bravo"),
            (3, good + eval_text),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    # batch B: boiler appears ONCE in this batch -> survives; 12 fails quality
    spark.createDataFrame(
        [(11, boiler + "\n" + good + "unique charlie"), (12, "too short")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)

    eval_set = spark.createDataFrame([(100, eval_text)], ["doc_id", "text"])
    cfg = CurationConfig(
        min_words=10,
        line_min_docs=2,
        decontaminate_n=6,
        stages=("quality", "exact_dedup", "line_dedup", "pii", "decontaminate"),
    )
    collected: dict[int, str] = {}

    def writer(df, batch_id):
        collected.update({r.doc_id: r.text for r in df.collect()})

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(curate_foreach_batch(writer, cfg, eval_set))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert set(collected) == {1, 2, 11}
    assert boiler not in collected[1] and boiler not in collected[2]
    assert "unique alpha" in collected[1]
    assert boiler in collected[11]  # unique within ITS batch -> kept


def test_curate_stream_rejects_corpus_stages(spark, tmp_path):
    import pytest as _pytest

    from pond_spark.pipeline import curate_stream

    stream = spark.readStream.schema(
        "doc_id long, timestamp timestamp, text string"
    ).parquet(str(tmp_path))
    with _pytest.raises(ValueError):
        curate_stream(stream, CurationConfig(stages=("line_dedup",)))
    with _pytest.raises(ValueError):
        curate_stream(stream, CurationConfig(stages=("decontaminate",)))


def test_curate_foreach_batch_digest_catalog(spark, tmp_path):
    """Cross-batch dedup via the persisted digest catalog: content
    shipped in batch A never re-admits in batch B (the in-memory
    streaming state can't promise that across restarts; the catalog
    can — it survives on disk)."""
    from pond_spark.pipeline import curate_foreach_batch

    good = "clean prose with plenty of ordinary readable words " * 3
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, good + "unique alpha"), (2, good + "unique bravo")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    import time as _time

    _time.sleep(1.1)  # mtime order decides micro-batch order (1 s res)
    spark.createDataFrame(
        [(11, good + "unique alpha"), (12, good + "unique charlie")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)

    cfg = CurationConfig(min_words=10, stages=("quality", "pii"))
    collected: dict[int, str] = {}

    def writer(df, batch_id):
        collected.update({r.doc_id: r.text for r in df.collect()})

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(
            curate_foreach_batch(
                writer, cfg,
                digest_catalog_path=str(tmp_path / "catalog"),
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # doc 11 duplicates batch A's doc 1 content -> dropped cross-batch
    assert set(collected) == {1, 2, 12}


def test_curate_foreach_batch_minhash_catalog(spark, tmp_path):
    """Cross-batch NEAR-dedup via the persisted MinHash catalog (the
    streaming twin of curate_run's gated mode): a batch-B doc that is
    a one-word mutation of shipped batch-A content shares band keys
    and is dropped; genuinely new content survives; exact repeats are
    also caught (a dup shares ALL band keys)."""
    import time as _time

    from pond_spark.pipeline import curate_foreach_batch

    base = "clean prose with plenty of ordinary readable words " * 5
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, base + "alpha version of the story ending")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)  # mtime order decides micro-batch order (1 s res)
    spark.createDataFrame(
        [
            (11, base + "alpha version of the story ENDING"),  # near-dup
            (12, "an unrelated essay about mountain weather patterns "
                 "and the long seasonal drift of alpine snow lines " * 5),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)

    cfg = CurationConfig(min_words=10, stages=("quality",))
    collected: dict[int, str] = {}

    def writer(df, batch_id):
        collected.update({r.doc_id: r.text for r in df.collect()})

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(
            curate_foreach_batch(
                writer, cfg,
                minhash_catalog_path=str(tmp_path / "bands"),
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert set(collected) == {1, 12}  # 11 near-dups batch A's doc 1


def test_curate_near_dedup_stage_minhash_and_ngram(spark, corpus):
    """r7 near_dedup stage: one min-id representative survives per
    near-duplicate cluster, near-dups of QUALITY-REJECTED docs are
    not dropped, and both pair sources agree on this corpus."""
    base = "clean prose with plenty of ordinary readable words " * 3
    near = spark.createDataFrame(
        [
            (7, base + "unique one extra"),   # near-dup of 1 and 2
            (8, "short junk"),                 # fails quality
            (9, base + "totally different tail content"),
        ],
        ["doc_id", "text"],
    )
    docs = corpus.union(near)
    for method in ("minhash", "ngram"):
        out = curate(
            docs,
            CurationConfig(
                min_words=10,
                sample_rate=1.0,
                stages=("quality", "near_dedup"),
                extra={
                    "near_method": method,
                    "near_threshold": 0.7,
                    "near_n": 3,
                },
            ),
        )
        got = {r.doc_id for r in out.collect()}
        # 1,2,7 cluster (1 survives as min id); 3,5,6,9 distinct tails
        # are below 0.7 three-gram jaccard of each other only if truly
        # dissimilar — they all share the long boilerplate prefix, so
        # assert the invariants that MUST hold instead of the exact set:
        assert 1 in got and 2 not in got and 7 not in got, (method, got)
        assert 4 not in got and 8 not in got  # quality, not clustering
        assert min(got) == 1


def test_curate_stream_rejects_near_dedup(spark, tmp_path):
    import pytest as _pytest

    from pond_spark.pipeline import curate_stream

    stream = spark.readStream.schema(
        "doc_id long, timestamp timestamp, text string"
    ).parquet(str(tmp_path))
    with _pytest.raises(ValueError):
        curate_stream(stream, CurationConfig(stages=("near_dedup",)))


def test_report_funnel_counts(spark, corpus):
    from pond_spark.pipeline import report

    eval_set = spark.createDataFrame(
        [(100, "leaked eval content that matches the benchmark set")],
        ["doc_id", "text"],
    )
    rows = report(
        corpus,
        CurationConfig(
            min_words=10,
            decontaminate_n=6,
            stages=("quality", "exact_dedup", "decontaminate"),
        ),
        eval_set=eval_set,
    )
    assert [r["stage"] for r in rows] == [
        "quality", "exact_dedup", "decontaminate",
    ]
    # corpus: 6 docs; quality drops doc 4; exact dedup drops doc 2;
    # decontaminate drops doc 6
    assert rows[0] == {"stage": "quality", "rows_in": 6, "rows_out": 5}
    assert rows[1] == {"stage": "exact_dedup", "rows_in": 5, "rows_out": 4}
    assert rows[2] == {
        "stage": "decontaminate", "rows_in": 4, "rows_out": 3,
    }


def test_curation_near_fuzz_oracle_parity(spark):
    """VERDICT r7 ask #6: the composed quality → ngram near-dedup
    (transitive closure, min-id representative) → hash-sample chain,
    randomized: 50 corpora with dup clusters of varying jaccard
    (mutation rate 0-25%), singleton docs, NULL text, empty and
    whitespace-only docs, two lang blocks — each compared row-set
    exact against the SAME parameterized recursive-CTE DuckDB replay
    the registry twin runs (pond_spark.registry.dedup.curation_near_oracle_sql),
    not a copy. One seeded draw keeps failures reproducible."""
    import random

    import duckdb

    from pond_spark.pipeline import CurationConfig, curate
    from pond_spark.registry.dedup import curation_near_oracle_sql

    rng = random.Random(0xC04A)
    vocab = [f"tok{i}" for i in range(200)]
    cfg = CurationConfig(
        stages=("quality", "near_dedup", "sample"),
        sample_rate=0.5,
        sample_salt="fuzz",
        extra={
            "near_method": "ngram",
            "near_block_col": "lang",
            "near_threshold": 0.8,
            "near_n": 3,
        },
    )
    nonempty_cases = 0
    for case in range(50):
        rows: list[tuple] = []
        did = 0
        langs = ["en", "de"]
        for _c in range(rng.randint(1, 5)):
            # a near-dup cluster: mutate 0-25% of the base tokens per
            # member — spans jaccard ~1.0 down to below the threshold
            base_len = rng.randint(4, 30)
            base = [rng.choice(vocab) for _ in range(base_len)]
            lang = rng.choice(langs)
            for _m in range(rng.randint(2, 4)):
                toks = list(base)
                for _ in range(rng.randint(0, max(1, base_len // 4))):
                    toks[rng.randrange(len(toks))] = rng.choice(vocab)
                did += 1
                rows.append((did, lang, " ".join(toks)))
        for _ in range(rng.randint(2, 10)):  # singletons, some too short
            did += 1
            rows.append(
                (
                    did,
                    rng.choice(langs),
                    " ".join(
                        rng.choice(vocab)
                        for _ in range(rng.randint(0, 12))
                    ),
                )
            )
        for _ in range(rng.randint(0, 3)):  # NULL text
            did += 1
            rows.append((did, rng.choice(langs), None))
        did += 1
        rows.append((did, "en", ""))  # empty doc
        did += 1
        rows.append((did, "en", "  \t "))  # whitespace-only doc

        sdocs = spark.createDataFrame(
            rows, "doc_id long, lang string, text string"
        )
        got = {
            (r.doc_id, r.lang, r.text)
            for r in curate(sdocs, cfg)
            .select("doc_id", "lang", "text")
            .collect()
        }

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE fuzz_docs"
                "(doc_id BIGINT, lang VARCHAR, text VARCHAR)"
            )
            con.executemany("INSERT INTO fuzz_docs VALUES (?, ?, ?)", rows)
            exp = {
                tuple(r)
                for r in con.execute(
                    curation_near_oracle_sql("fuzz_docs", salt="fuzz")
                ).fetchall()
            }
        finally:
            con.close()
        assert got == exp, (
            f"case {case}: spark-only={sorted(got - exp)[:5]} "
            f"duck-only={sorted(exp - got)[:5]}"
        )
        if exp:
            nonempty_cases += 1
    # the draws actually exercised the chain (the quality gate + 50%
    # sample legitimately empty some small corpora; seeded: 35/50)
    assert nonempty_cases >= 30


def test_curate_run_stage_level_resume(spark, corpus, tmp_path):
    """VERDICT r7 ask #8: the stage-materializing driver — a fresh run
    computes every stage, a re-run resumes all of them with an
    identical final corpus, a simulated crash (missing _SUCCESS on a
    middle stage) recomputes from there while keeping earlier outputs,
    and a changed config refuses the work_dir (manifest pin)."""
    import os

    from pond_spark.pipeline import curate_run

    docs_path = str(tmp_path / "docs_in")
    corpus.write.parquet(docs_path)
    eval_path = str(tmp_path / "eval_in")
    spark.createDataFrame(
        [(100, "leaked eval content that matches the benchmark set")],
        ["doc_id", "text"],
    ).write.parquet(eval_path)
    cfg = CurationConfig(
        min_words=10,
        decontaminate_n=6,
        sample_rate=1.0,
        stages=("quality", "exact_dedup", "decontaminate", "sample"),
    )
    work = str(tmp_path / "work")

    r1 = curate_run(spark, docs_path, work, cfg, eval_set_path=eval_path)
    assert [r["status"] for r in r1] == ["computed"] * 4
    assert all(r["seconds"] >= 0 for r in r1)  # computed rows timed
    final = {r.doc_id for r in spark.read.parquet(r1[-1]["path"]).collect()}
    inline = {
        r.doc_id
        for r in curate(
            spark.read.parquet(docs_path),
            cfg,
            eval_set=spark.read.parquet(eval_path),
        ).collect()
    }
    assert final == inline  # materialized chain == one-plan chain

    r2 = curate_run(spark, docs_path, work, cfg, eval_set_path=eval_path)
    assert [r["status"] for r in r2] == ["resumed"] * 4
    assert all("seconds" not in r for r in r2)  # metadata-only resume
    assert {
        r.doc_id for r in spark.read.parquet(r2[-1]["path"]).collect()
    } == final

    # simulated crash: stage 2 lost its _SUCCESS mid-write
    os.remove(os.path.join(r1[2]["path"], "_SUCCESS"))
    stage1_files = sorted(os.listdir(r1[1]["path"]))
    r3 = curate_run(spark, docs_path, work, cfg, eval_set_path=eval_path)
    assert [r["status"] for r in r3] == [
        "resumed", "resumed", "computed", "computed",
    ]
    assert sorted(os.listdir(r1[1]["path"])) == stage1_files  # untouched
    assert {
        r.doc_id for r in spark.read.parquet(r3[-1]["path"]).collect()
    } == final  # determinism: recompute equals the original

    # config drift refuses the work_dir
    import pytest as _pytest

    with _pytest.raises(ValueError, match="new work_dir"):
        curate_run(
            spark, docs_path, work,
            CurationConfig(
                min_words=11,
                decontaminate_n=6,
                sample_rate=1.0,
                stages=("quality", "exact_dedup", "decontaminate", "sample"),
            ),
            eval_set_path=eval_path,
        )


def test_curate_run_releases_stage_pins(spark, tmp_path):
    """curate_run unpersists every pin a stage made once the stage is
    written. A kept pin is matched to a later plan by its scan's root
    path, so a second run over an input rewritten in place reused the
    first run's quality pins and shipped 0 survivors."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pond_spark.pipeline import curate_run, final_corpus_path

    good = "clean prose with plenty of ordinary readable words " * 3
    docs = str(tmp_path / "docs")

    def write(ids):
        shutil.rmtree(docs, ignore_errors=True)
        os.makedirs(docs)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": [f"{good}unique {i}" for i in ids],
            }),
            os.path.join(docs, "part-0.parquet"),
        )

    def survivors(work, stages):
        rows = curate_run(
            spark, docs, str(tmp_path / work),
            CurationConfig(min_words=10, stages=stages),
        )
        path = final_corpus_path(rows)
        return {r.doc_id for r in spark.read.parquet(path).collect()}

    write(list(range(1, 41)))
    assert survivors("q1", ("quality",)) == set(range(1, 41))
    write(list(range(100, 140)))
    assert survivors("q2", ("quality",)) == set(range(100, 140))

    jsc = spark.sparkContext._jsc
    stages = ("quality", "exact_dedup", "line_dedup", "pii", "sample")
    pinned = jsc.getPersistentRDDs().size()
    survivors("r1", stages)
    after_one = jsc.getPersistentRDDs().size()
    survivors("r2", stages)
    survivors("r3", stages)
    assert jsc.getPersistentRDDs().size() == after_one == pinned


def test_curate_foreach_batch_releases_batch_pins(spark, tmp_path):
    """Each micro-batch unpersists the pins it made (the gate's `fresh`
    frame, the quality and line pins) once its writer returns."""
    from pond_spark.pipeline import curate_foreach_batch

    good = "clean prose with plenty of ordinary readable words " * 3
    batch = spark.createDataFrame(
        [(i, f"{good}unique {i}") for i in range(1, 9)],
        "doc_id long, text string",
    )
    got: list[int] = []
    apply = curate_foreach_batch(
        lambda df, _: got.extend(r.doc_id for r in df.collect()),
        CurationConfig(min_words=10, stages=("quality", "line_dedup")),
        digest_catalog_path=str(tmp_path / "catalog"),
    )
    jsc = spark.sparkContext._jsc
    pinned = jsc.getPersistentRDDs().size()
    apply(batch, 0)
    apply(batch, 1)  # all seen by batch 0: the digest gate drops them
    assert sorted(got) == list(range(1, 9))
    assert jsc.getPersistentRDDs().size() == pinned


def test_curate_run_cross_run_incremental_catalogs(spark, tmp_path):
    """round-9 #3: the daily-corpus shape — one work_dir per day, one
    shared Digest/MinHash catalog across days. Day 2 must drop content
    day 1 already shipped (exact via digest, near via LSH band
    collision), a resumed day neither re-registers nor skips a crashed
    registration, and the gate stage materializes like any other."""
    import os

    from pond_spark.pipeline import curate_run

    base = "clean prose with plenty of ordinary readable words " * 5
    digest_cat = str(tmp_path / "digests")
    minhash_cat = str(tmp_path / "bands")
    cfg = CurationConfig(
        min_words=10, sample_rate=1.0, stages=("quality", "exact_dedup")
    )

    t1 = base + "alpha version of the story ending"
    t2 = base + "beta entirely different tail content here"
    day1 = str(tmp_path / "day1_in")
    spark.createDataFrame(
        [(1, t1), (2, t2)], ["doc_id", "text"]
    ).write.parquet(day1)
    r1 = curate_run(
        spark, day1, str(tmp_path / "w1"), cfg,
        digest_catalog_path=digest_cat, minhash_catalog_path=minhash_cat,
    )
    assert [r["stage"] for r in r1] == [
        "catalog_gate", "quality", "exact_dedup", "catalog_register",
    ]
    assert all(r["status"] == "computed" for r in r1)
    # the resume format, byte for byte: manifest and registration marker
    import json

    assert (tmp_path / "w1" / "manifest.json").read_text() == json.dumps({
        "input_path": day1,
        "eval_set_path": None,
        "text_col": "text",
        "id_col": "doc_id",
        "stages": ["quality", "exact_dedup"],
        "digest_catalog_path": digest_cat,
        "minhash_catalog_path": minhash_cat,
        "embedding_catalog_path": None,
        "config": {
            "min_words": 10,
            "max_words": 100000,
            "line_min_docs": 2,
            "line_words_per_chunk": None,
            "decontaminate_n": 8,
            "sample_rate": 1.0,
            "sample_salt": "curate",
            "scrub_pii": True,
            "extra": {},
        },
    })
    assert (tmp_path / "w1" / "_REGISTERED").read_text() == json.dumps(
        {"source": str(tmp_path / "w1" / "stage_00_catalog_gate")}
    )
    assert {
        r.doc_id for r in spark.read.parquet(r1[-2]["path"]).collect()
    } == {1, 2}
    n_digests = spark.read.parquet(digest_cat).count()
    assert n_digests == 2

    # day 2: an exact repeat of t1 (new id), a near-dup of t2 (one
    # word changed in a ~250-word doc -> shares band keys with
    # near-certainty), and a genuinely new doc
    day2 = str(tmp_path / "day2_in")
    spark.createDataFrame(
        [
            (11, t1),
            (12, base + "beta entirely different tail content there"),
            (
                13,
                "an unrelated essay about mountain weather patterns "
                "and the long seasonal drift of alpine snow lines " * 5,
            ),
        ],
        ["doc_id", "text"],
    ).write.parquet(day2)
    w2 = str(tmp_path / "w2")
    r2 = curate_run(
        spark, day2, w2, cfg,
        digest_catalog_path=digest_cat, minhash_catalog_path=minhash_cat,
    )
    assert {
        r.doc_id for r in spark.read.parquet(r2[-2]["path"]).collect()
    } == {13}

    # full resume: nothing recomputes, nothing re-registers
    n_digests_after_day2 = spark.read.parquet(digest_cat).count()
    r2b = curate_run(
        spark, day2, w2, cfg,
        digest_catalog_path=digest_cat, minhash_catalog_path=minhash_cat,
    )
    assert all(r["status"] == "resumed" for r in r2b)
    assert spark.read.parquet(digest_cat).count() == n_digests_after_day2

    # crash between final stage and registration: marker missing ->
    # the resume registers from the materialized gate output
    os.remove(os.path.join(w2, "_REGISTERED"))
    r2c = curate_run(
        spark, day2, w2, cfg,
        digest_catalog_path=digest_cat, minhash_catalog_path=minhash_cat,
    )
    assert [r["status"] for r in r2c] == [
        "resumed", "resumed", "resumed", "computed",
    ]
    # re-registration appends (at-least-once); probes are multiplicity-
    # blind, and compact() restores the distinct set
    from pond_spark.dedup.exact import DigestCatalog

    DigestCatalog(spark, digest_cat).compact()
    assert spark.read.parquet(digest_cat).count() == n_digests_after_day2

    # a different catalog path refuses the pinned work_dir
    with pytest.raises(ValueError, match="new work_dir"):
        curate_run(
            spark, day2, w2, cfg,
            digest_catalog_path=str(tmp_path / "other"),
            minhash_catalog_path=minhash_cat,
        )


def test_curate_run_refuses_explicit_catalog_gate_stage(spark, tmp_path):
    """catalog_gate is synthetic — configuring it explicitly would
    double the gate (or run it without catalogs) and must refuse."""
    from pond_spark.pipeline import curate_run

    with pytest.raises(ValueError, match="catalog_gate"):
        curate_run(
            spark, str(tmp_path / "in"), str(tmp_path / "w"),
            CurationConfig(stages=("catalog_gate", "quality")),
        )


def test_curate_run_validates_stages_before_pinning(spark, tmp_path):
    """A refused stage list writes nothing: a misspelt stage, or
    decontaminate without eval_set_path, leaves no manifest behind, so
    the corrected rerun on the same work_dir computes instead of being
    refused for a run definition that never ran."""
    import os

    from pond_spark.pipeline import curate_run

    good = "clean prose with plenty of ordinary readable words " * 3
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, good + "one")], "doc_id long, text string"
    ).write.parquet(docs)
    work = str(tmp_path / "w")
    manifest = os.path.join(work, "manifest.json")
    with pytest.raises(ValueError, match="unknown curation stage"):
        curate_run(
            spark, docs, work,
            CurationConfig(min_words=10, stages=("qualty",)),
        )
    assert not os.path.exists(manifest)
    with pytest.raises(ValueError, match="eval_set"):
        curate_run(
            spark, docs, work,
            CurationConfig(min_words=10, stages=("quality", "decontaminate")),
        )
    assert not os.path.exists(manifest)
    r = curate_run(
        spark, docs, work, CurationConfig(min_words=10, stages=("quality",))
    )
    assert [x["status"] for x in r] == ["computed"]
    assert os.path.exists(manifest)


def test_curate_run_manifest_upgrade_and_register_guard(spark, tmp_path):
    """Late-r8 review findings: (a) a manifest written before the gated
    mode lacks the catalog keys — absent means ungated, and resume must
    not refuse across the upgrade; (b) recomputing the catalog_gate
    stage after the run registered would anti-join the run's OWN
    digests and silently ship an empty corpus — it must refuse."""
    import json
    import os
    import shutil

    from pond_spark.pipeline import curate_run

    good = "clean prose with plenty of ordinary readable words " * 3
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, good + "one")], "doc_id long, text string"
    ).write.parquet(docs)
    cfg = CurationConfig(min_words=10, stages=("quality",))

    # (a) strip the new keys from a completed ungated run's manifest
    w = str(tmp_path / "w")
    curate_run(spark, docs, w, cfg)
    mpath = os.path.join(w, "manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    del manifest["digest_catalog_path"], manifest["minhash_catalog_path"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    r = curate_run(spark, docs, w, cfg)  # must resume, not refuse
    assert [x["status"] for x in r] == ["resumed"]

    # (b) gated run, then lose the gate stage output after registration
    wg = str(tmp_path / "wg")
    cat = str(tmp_path / "cat")
    curate_run(spark, docs, wg, cfg, digest_catalog_path=cat)
    shutil.rmtree(os.path.join(wg, "stage_00_catalog_gate"))
    with pytest.raises(RuntimeError, match="already registered"):
        curate_run(spark, docs, wg, cfg, digest_catalog_path=cat)


def test_curate_run_embedding_gate(spark, tmp_path):
    """Cross-run SEMANTIC gate (EmbeddingCatalog): day 2 drops vectors
    sharing an RHP bucket with day-1 content (the same vector is a
    certain collision; its negation flips every sign bit and is a
    certain non-collision), and NULL vectors always pass."""
    from pond_spark.pipeline import curate_run, final_corpus_path

    good = "clean prose with plenty of ordinary readable words " * 3
    cfg = CurationConfig(
        min_words=10, stages=("quality",), extra={"emb_dim": 4}
    )
    cat = str(tmp_path / "ecat")
    schema = "doc_id long, text string, embedding array<float>"
    day1 = str(tmp_path / "d1")
    spark.createDataFrame(
        [(1, good + "one", [1.0, 2.0, 3.0, 4.0])], schema
    ).write.parquet(day1)
    curate_run(
        spark, day1, str(tmp_path / "w1"), cfg,
        embedding_catalog_path=cat,
    )
    day2 = str(tmp_path / "d2")
    spark.createDataFrame(
        [
            (11, good + "repeat", [1.0, 2.0, 3.0, 4.0]),     # collision
            (12, good + "negated", [-1.0, -2.0, -3.0, -4.0]),  # never
            (13, good + "absent", None),                       # passes
        ],
        schema,
    ).write.parquet(day2)
    rows = curate_run(
        spark, day2, str(tmp_path / "w2"), cfg,
        embedding_catalog_path=cat,
    )
    got = {
        r.doc_id
        for r in spark.read.parquet(final_corpus_path(rows)).collect()
    }
    assert got == {12, 13}

    # emb_dim is mandatory for the embedding gate
    with pytest.raises(ValueError, match="emb_dim"):
        curate_run(
            spark, day2, str(tmp_path / "w3"),
            CurationConfig(min_words=10, stages=("quality",)),
            embedding_catalog_path=str(tmp_path / "ecat2"),
        )


def test_curate_run_derives_sized_bucketed_verified_gate(spark, tmp_path):
    """VERDICT r10 ask #3: with the VERIFIED gate selected
    (emb_verify_cos) and no explicit emb_nbits/emb_vector_buckets,
    curate_run derives the sized configuration (advise()'s verify-mode
    formula from the day-1 input count), pins it in the work_dir
    manifest, and a day-2 run ADOPTS the catalog's stored params —
    identical values without any flags. Explicit values still win, and
    the verify-less bucket gate is never auto-sized."""
    import json
    import math

    from pond_spark.pipeline import curate_run
    from pond_spark.similarity.catalog import rhp_gate_coefficient

    good = "clean prose with plenty of ordinary readable words " * 3
    schema = "doc_id long, text string, embedding array<float>"
    rng_rows = [
        (i, good + str(i),
         [float((i * 7 + j * 3) % 11 - 5) for j in range(16)])
        for i in range(40)
    ]
    day1 = str(tmp_path / "d1")
    spark.createDataFrame(rng_rows, schema).write.parquet(day1)
    cat = str(tmp_path / "ecat")
    cfg = CurationConfig(
        min_words=10, stages=("quality",),
        extra={"emb_dim": 16, "emb_verify_cos": 0.95},
    )
    curate_run(
        spark, day1, str(tmp_path / "w1"), cfg,
        embedding_catalog_path=cat,
    )
    # the derived values in the pinned manifest: verify-mode nbits
    # from n=40 docs x 2 tables, no buckets below 1M vectors
    want_nbits = min(16, max(4, math.ceil(
        rhp_gate_coefficient(16) * math.log2(40 * 2))))
    man = json.loads((tmp_path / "w1" / "manifest.json").read_text())
    extra = man["config"]["extra"]
    assert extra["emb_nbits"] == want_nbits
    assert extra["emb_vector_buckets"] is None
    assert extra["emb_sizing_derived"] is True
    # the catalog's params sidecar pins the same derivation
    stored = json.loads((tmp_path / "ecat.params.json").read_text())
    assert stored["nbits"] == want_nbits
    assert stored["store_vectors"] is True

    # day 2, fresh work_dir, NO flags: adopts the stored sizing
    day2 = str(tmp_path / "d2")
    spark.createDataFrame(
        [(100, good + "new", [1.0] * 16)], schema
    ).write.parquet(day2)
    curate_run(
        spark, day2, str(tmp_path / "w2"), cfg,
        embedding_catalog_path=cat,
    )
    man2 = json.loads((tmp_path / "w2" / "manifest.json").read_text())
    assert man2["config"]["extra"]["emb_nbits"] == want_nbits

    # a flag-less STREAMING run against the derived catalog adopts the
    # stored sizing too (round 11: the pre-r11 literal default nbits=8
    # would refuse at open with a params mismatch); only the cost
    # dials adopt — semantic dials (store_vectors) still refuse
    from pond_spark.pipeline import curate_foreach_batch

    sink: list = []
    apply = curate_foreach_batch(
        lambda df, bid: sink.append(df.count()),
        cfg, text_col="text", id_col="doc_id",
        embedding_catalog_path=cat,
    )
    apply(spark.createDataFrame(
        # alternating signs: orthogonal to the registered [1.0]*16
        # (a [0.5]*16 vector would be a genuine cosine-1.0 near-dup
        # and the verified gate would rightly drop it)
        [(200, good + "streamed", [0.5, -0.5] * 8)], schema
    ), 0)
    assert sink == [1]

    # explicit sizing wins over derivation
    cat3 = str(tmp_path / "ecat3")
    cfg3 = CurationConfig(
        min_words=10, stages=("quality",),
        extra={"emb_dim": 16, "emb_verify_cos": 0.95,
               "emb_nbits": 6, "emb_vector_buckets": None},
    )
    curate_run(
        spark, day1, str(tmp_path / "w3"), cfg3,
        embedding_catalog_path=cat3,
    )
    stored3 = json.loads((tmp_path / "ecat3.params.json").read_text())
    assert stored3["nbits"] == 6

    # the verify-less bucket gate keeps its explicit default (8):
    # its false-drop rate rides on nbits, so auto-sizing is policy
    cat4 = str(tmp_path / "ecat4")
    curate_run(
        spark, day1, str(tmp_path / "w4"),
        CurationConfig(min_words=10, stages=("quality",),
                       extra={"emb_dim": 16}),
        embedding_catalog_path=cat4,
    )
    stored4 = json.loads((tmp_path / "ecat4.params.json").read_text())
    assert stored4["nbits"] == 8 and stored4["store_vectors"] is False


def test_curate_run_on_schemed_work_dir(spark, tmp_path):
    """The resumable driver's markers/manifests work through the
    Hadoop FS layer: a file://-schemed work_dir computes, resumes, and
    keeps the gate/registration discipline."""
    from pond_spark.pipeline import curate_run

    good = "clean prose with plenty of ordinary readable words " * 3
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, good + "one")], "doc_id long, text string"
    ).write.parquet(docs)
    cfg = CurationConfig(min_words=10, stages=("quality",))
    work = f"file://{tmp_path}/w"
    cat = f"file://{tmp_path}/cat"
    r1 = curate_run(spark, docs, work, cfg, digest_catalog_path=cat)
    assert [r["status"] for r in r1] == ["computed"] * 3
    r2 = curate_run(spark, docs, work, cfg, digest_catalog_path=cat)
    assert [r["status"] for r in r2] == ["resumed"] * 3


def test_writer_lease_gates_concurrent_runs(spark, tmp_path):
    """Cooperative single-writer lease (catalog.WriterLease): a held
    lease refuses a second writer, a released or stale lease admits
    one, renew() refreshes, and curate_run(lease_ttl=) holds leases on
    the work_dir and every catalog for the run's duration."""
    import json
    import time

    from pond_spark.catalog import LeaseHeldError, WriterLease
    from pond_spark.pipeline import curate_run

    path = str(tmp_path / "cat")
    a = WriterLease(spark, path, owner="a", ttl_s=3600)
    a.acquire()
    with pytest.raises(LeaseHeldError, match="held by 'a'"):
        WriterLease(spark, path, owner="b", ttl_s=3600).acquire()
    a.acquire()  # re-entrant for the same owner
    a.renew()
    a.release()
    b = WriterLease(spark, path, owner="b", ttl_s=3600)
    b.acquire()  # free after release
    # stale takeover: backdate the lease past its ttl
    with open(path + ".lease.json", "w") as f:
        json.dump({"owner": "b", "acquired_ts": int(time.time()) - 7200,
                   "ttl_s": 3600}, f)
    WriterLease(spark, path, owner="c", ttl_s=3600).acquire().release()

    # curate_run(lease_ttl=): refused while held, clean after release
    good = "clean prose with plenty of ordinary readable words " * 3
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, good + "one")], "doc_id long, text string"
    ).write.parquet(docs)
    cat = str(tmp_path / "dcat")
    holder = WriterLease(spark, cat, owner="other-run").acquire()
    cfg = CurationConfig(min_words=10, stages=("quality",))
    with pytest.raises(LeaseHeldError):
        curate_run(spark, docs, str(tmp_path / "w"), cfg,
                   digest_catalog_path=cat, lease_ttl=600)
    holder.release()
    r = curate_run(spark, docs, str(tmp_path / "w"), cfg,
                   digest_catalog_path=cat, lease_ttl=600)
    assert r[-1]["stage"] == "catalog_register"
    import os
    assert not os.path.exists(cat + ".lease.json")  # released after


def test_writer_lease_ownership_after_takeover(spark, tmp_path):
    """VERDICT r8 #2: after a ttl-expiry takeover, the ORIGINAL
    holder's release() must leave the new owner's lease intact and its
    renew() must raise — an ownership-blind release/renew would
    silently disarm the gate for a third writer."""
    import json
    import time

    from pond_spark.catalog import LeaseLostError, WriterLease

    path = str(tmp_path / "cat")
    a = WriterLease(spark, path, owner="a", ttl_s=3600).acquire()
    # backdate a's lease past its ttl, then b takes over
    with open(path + ".lease.json", "w") as f:
        json.dump({"owner": "a", "acquired_ts": int(time.time()) - 7200,
                   "ttl_s": 3600}, f)
    b = WriterLease(spark, path, owner="b", ttl_s=3600).acquire()
    # a's release leaves b's lease in place (warn, not delete)
    with pytest.warns(UserWarning, match="not releasing"):
        a.release()
    with open(path + ".lease.json") as f:
        assert json.load(f)["owner"] == "b"
    # a's renew refuses to overwrite b's lease
    a._held = True  # simulate a holder that never noticed the takeover
    with pytest.raises(LeaseLostError, match="took over"):
        a.renew()
    with open(path + ".lease.json") as f:
        assert json.load(f)["owner"] == "b"
    b.release()
    assert not (tmp_path / "cat.lease.json").exists()


def test_curate_run_renews_leases_between_stages(spark, tmp_path):
    """curate_run(lease_ttl=) renews every held lease at each stage
    boundary (ADVICE r8: a run longer than ttl_s was exposed to
    mid-run takeover), so the lease's acquired_ts advances during the
    run instead of staying at acquisition time."""
    import json
    import os

    from pond_spark.pipeline import curate_run

    good = "clean prose with plenty of ordinary readable words " * 3
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, good + "one"), (2, good + "two")], "doc_id long, text string"
    ).write.parquet(docs)
    cat = str(tmp_path / "cat")
    work = str(tmp_path / "work")
    cfg = CurationConfig(min_words=10, stages=("quality", "exact_dedup"))
    seen: list[int] = []

    import pond_spark.catalog as catmod

    orig = catmod.WriterLease.renew

    def spying_renew(self):
        seen.append(1)
        return orig(self)

    catmod.WriterLease.renew = spying_renew
    try:
        curate_run(spark, docs, work, cfg,
                   digest_catalog_path=cat, lease_ttl=600)
    finally:
        catmod.WriterLease.renew = orig
    # 2 leases (work_dir + catalog) x 3 stage boundaries
    # (catalog_gate, quality, exact_dedup)
    assert len(seen) == 6
    # leases released on completion
    assert not os.path.exists(cat + ".lease.json")
    assert not os.path.exists(work + ".lease.json")
    # and the acquired lease file is created even when the work_dir
    # parent does not exist yet (ADVICE r8: lease before mkdirs)
    deep = str(tmp_path / "a" / "b" / "work2")
    r = curate_run(spark, docs, deep, cfg,
                   digest_catalog_path=str(tmp_path / "cat2"),
                   lease_ttl=600)
    assert r[-1]["stage"] == "catalog_register"
    assert json.loads(
        (tmp_path / "a" / "b" / "work2" / "manifest.json").read_text()
    )["input_path"] == docs


def test_curation_incremental_fuzz_oracle_parity(spark, tmp_path):
    """Randomized cross-run gate parity (the curation_near fuzz
    pattern): 15 corpora with cross-day exact repeats, within-day dup
    groups, NULL/empty/whitespace docs — each day-split run through
    the REAL curate_run + DigestCatalog machinery and compared row-set
    exact against the SAME parameterized DuckDB replay the registry
    twin runs (pond_spark.registry.dedup.curation_incremental_oracle_sql)."""
    import random

    import duckdb

    from pond_spark.pipeline import CurationConfig, curate_run, final_corpus_path
    from pond_spark.registry.dedup import curation_incremental_oracle_sql

    rng = random.Random(0xD161)
    vocab = [f"w{i}" for i in range(60)]
    cfg = CurationConfig(stages=("exact_dedup",))
    nonempty = 0
    for case in range(15):
        rows: list[tuple] = []
        did = 0
        # dup groups whose members land on BOTH sides of the parity
        # split (consecutive ids alternate parity), so cross-day and
        # within-day duplication both occur
        for _g in range(rng.randint(1, 6)):
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10)))
            for _m in range(rng.randint(1, 4)):
                did += 1
                rows.append((did, text))
        for _ in range(rng.randint(0, 4)):  # NULL text (both days)
            did += 1
            rows.append((did, None))
        did += 1
        rows.append((did, ""))  # empty doc
        did += 1
        rows.append((did, "  \t "))  # whitespace-only doc

        root = tmp_path / f"case{case}"
        sdocs = spark.createDataFrame(rows, "doc_id long, text string")
        d1, d2 = str(root / "d1"), str(root / "d2")
        sdocs.filter("doc_id % 2 = 0").write.parquet(d1)
        sdocs.filter("doc_id % 2 = 1").write.parquet(d2)
        cat = str(root / "cat")
        curate_run(spark, d1, str(root / "w1"), cfg, digest_catalog_path=cat)
        r2 = curate_run(spark, d2, str(root / "w2"), cfg, digest_catalog_path=cat)
        got = {
            (r.doc_id, r.text)
            for r in spark.read.parquet(final_corpus_path(r2)).collect()
        }

        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE fuzz_docs (doc_id BIGINT, text VARCHAR)")
            con.executemany("INSERT INTO fuzz_docs VALUES (?, ?)", rows)
            want = {
                (r[0], r[1])
                for r in con.execute(
                    curation_incremental_oracle_sql("fuzz_docs")
                ).fetchall()
            }
        finally:
            con.close()
        assert got == want, f"case {case}: {got ^ want}"
        nonempty += bool(want)
    assert nonempty >= 10  # the fuzz exercised real survivors


def test_report_runs_two_day_funnel(spark, tmp_path, capsys):
    """VERDICT r8 ask #7: gate-aware cross-run funnel — two curate_run
    days against one digest catalog; report_runs reads the persisted
    stage outputs (no recomputation) and shows input -> gate drops ->
    stage drops -> shipped per day, registration state, and the
    catalog's latest advisory/eviction snapshots."""
    from pond_spark.pipeline import CurationConfig, curate_run, report_runs

    good = "clean prose with plenty of ordinary readable words " * 3
    d1 = str(tmp_path / "d1")
    spark.createDataFrame(
        [(1, good + "one"), (2, good + "two"), (3, "short")],
        "doc_id long, text string",
    ).write.parquet(d1)
    d2 = str(tmp_path / "d2")
    spark.createDataFrame(
        [(11, good + "one"),      # cross-day repeat -> gate drop
         (12, good + "three"),    # new
         (13, "tiny")],           # quality drop
        "doc_id long, text string",
    ).write.parquet(d2)
    cat = str(tmp_path / "cat")
    cfg = CurationConfig(min_words=10, stages=("quality", "exact_dedup"))
    w1, w2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    curate_run(spark, d1, w1, cfg, digest_catalog_path=cat)
    curate_run(spark, d2, w2, cfg, digest_catalog_path=cat)

    days = report_runs(spark, [w1, w2])
    assert [d["work_dir"] for d in days] == [w1, w2]
    day1, day2 = days
    assert day1["input_rows"] == 3 and day1["shipped_rows"] == 2
    assert day1["registered"] and day1["complete"]
    assert [s["stage"] for s in day1["stages"]] == [
        "catalog_gate", "quality", "exact_dedup"]
    assert day1["stages"][0]["dropped"] == 0      # empty catalog day 1
    assert day1["stages"][1]["dropped"] == 1      # "short"
    # day 2: the repeat drops at the gate, the tiny doc at quality
    assert day2["stages"][0]["dropped"] == 1
    assert day2["stages"][1]["dropped"] == 1
    assert day2["shipped_rows"] == 1
    assert day2["catalogs"]["digest"]["path"] == cat

    # incomplete day: missing _SUCCESS reports None rows, complete=False
    import os
    os.remove(os.path.join(w2, "stage_02_exact_dedup", "_SUCCESS"))
    day2b = report_runs(spark, [w2])[0]
    assert day2b["complete"] is False
    assert day2b["stages"][2]["rows_out"] is None
    assert day2b["shipped_rows"] == 1  # last COMPLETE stage (quality)

    # CLI surface
    from pond_spark.cli import main
    store = str(tmp_path / "store")
    assert main([f"--store={store}", "pipeline", "report-runs", w1]) == 0
    out = capsys.readouterr().out
    assert "shipped=2" in out and "catalog_gate" in out and "registered" in out
    assert main([f"--store={store}", "pipeline", "report-runs"]) == 2


def test_report_runs_reads_segmented_and_torn_snapshots(spark, tmp_path):
    """report_runs takes each gate catalog's latest snapshot with the
    stats_history reader: a file:-schemed catalog keeps its history in
    rotating .seg-NNNNNN sidecars, and a torn last line (append crash)
    is skipped, not fatal."""
    from pond_spark.dedup.exact import DigestCatalog
    from pond_spark.pipeline import curate_run, report_runs

    good = "clean prose with plenty of ordinary readable words " * 3
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, good + "one"), (2, good + "two")], "doc_id long, text string"
    ).write.parquet(docs)
    cfg = CurationConfig(min_words=10, stages=("quality",))
    schemed, local = f"file://{tmp_path}/scat", str(tmp_path / "lcat")
    ws, wl = str(tmp_path / "ws"), str(tmp_path / "wl")
    curate_run(spark, docs, ws, cfg, digest_catalog_path=schemed)
    curate_run(spark, docs, wl, cfg, digest_catalog_path=local)
    scat, lcat = DigestCatalog(spark, schemed), DigestCatalog(spark, local)
    scat.expire(before_ts=0)
    lcat.expire(before_ts=0)
    assert list(tmp_path.glob("scat.retention.jsonl.seg-*"))
    with open(local + ".retention.jsonl", "a") as f:
        f.write('{"rows_kept": 9')  # torn by a crash mid-append
    s_day, l_day = report_runs(spark, [ws, wl])
    assert s_day["catalogs"]["digest"]["retention"] == (
        scat.retention_history()[-1]
    )
    assert l_day["catalogs"]["digest"]["retention"] == (
        lcat.retention_history()[-1]
    )
    assert l_day["catalogs"]["digest"]["retention"]["rows_kept"] == 2


def test_embedding_gate_fuzz_oracle_parity(spark, tmp_path):
    """Round-10 #6 (model: the curation_near fuzz): 50 randomized
    vector corpora replayed through the q:embedding_gate_verified twin
    builder — planted near-dup clusters at varying cosine, NULL
    vectors, same-id re-deliveries (the r9 bug class: a re-delivered
    registered vector must drop no matter its id), saturated and
    sized nbits, 1-2 tables, plain and BUCKETED vector siblings. The
    oracle is the same literal-hyperplane DuckDB replay the registry
    twin runs (_sql_bucket/_sql_cos), not a copy of the operator.
    Coordinates are float32-exact (multiples of 1/256) and the verify
    threshold is nudged away from every observed cross cosine, so
    cross-engine float drift cannot flip a borderline pair."""
    import math
    import random

    import duckdb
    import numpy as np

    from pond_spark.registry._common import _sql_bucket, _sql_cos
    from pond_spark.similarity.catalog import (
        EmbeddingCatalog, rhp_gate_coefficient,
    )
    from pond_spark.similarity.lsh import hyperplanes

    rng = random.Random(0xE9B)
    nonempty_drops = 0
    for case in range(50):
        dim = rng.choice([8, 16])
        n_tables = rng.choice([1, 2])
        seed = rng.randrange(1000)

        def q(x):
            return round(x * 256.0) / 256.0  # float32-exact coords

        def rand_vec():
            return [q(rng.uniform(-1, 1)) for _ in range(dim)]

        def near_of(base, eps):
            return [q(b + rng.uniform(-eps, eps)) for b in base]

        run1, vid = [], 0
        bases = []
        for _ in range(rng.randint(2, 5)):
            base = rand_vec()
            bases.append(base)
            for _ in range(rng.randint(1, 3)):
                vid += 1
                run1.append((vid, near_of(base, rng.uniform(0, 0.3))))
        for _ in range(rng.randint(2, 8)):  # singletons
            vid += 1
            run1.append((vid, rand_vec()))

        run2 = []
        pid = 1000
        for base in bases:  # probes at varying closeness
            for _ in range(rng.randint(0, 2)):
                pid += 1
                run2.append((pid, near_of(base, rng.uniform(0, 0.5))))
        for _ in range(rng.randint(2, 6)):  # unrelated probes
            pid += 1
            run2.append((pid, rand_vec()))
        for _ in range(rng.randint(0, 2)):  # NULL always passes
            pid += 1
            run2.append((pid, None))
        # same-id re-deliveries (the r9 bug class)
        for row in rng.sample(run1, k=min(2, len(run1))):
            run2.append(row)

        # sized vs deliberately saturated nbits
        if rng.random() < 0.5:
            nbits = rng.choice([2, 3])  # saturated
        else:
            nbits = min(dim, 63, math.ceil(
                rhp_gate_coefficient(dim)
                * math.log2(max(2.0, len(run1) / 0.05))
            ))

        # threshold nudged away from every observed cross cosine
        thr = rng.choice([0.8, 0.9])
        cos_vals = []
        for _, a in run2:
            if a is None:
                continue
            for _, b in run1:
                na, nb = np.array(a), np.array(b)
                denom = float(np.linalg.norm(na) * np.linalg.norm(nb))
                if denom:
                    cos_vals.append(float(na @ nb) / denom)
        while any(abs(c - thr) < 1e-4 for c in cos_vals):
            thr += 3.1e-4

        sdf1 = spark.createDataFrame(
            run1, "vec_id long, embedding array<float>"
        )
        sdf2 = spark.createDataFrame(
            run2, "vec_id long, embedding array<float>"
        )
        path = str(tmp_path / f"fz{case}")
        cat = EmbeddingCatalog(
            spark, path, dim=dim, nbits=nbits, n_tables=n_tables,
            seed=seed, store_vectors=True,
            vector_buckets=4 if case % 5 == 0 else None,
        )
        cat.register(sdf1)
        got = {
            r.vec_id
            for r in cat.filter_new(sdf2, verify_cos=thr).collect()
        }

        buckets = [
            _sql_bucket(hyperplanes(dim, nbits, seed + t))
            for t in range(n_tables)
        ]
        sig_cols = ", ".join(
            f"{b} AS b{t}" for t, b in enumerate(buckets)
        )
        on = " OR ".join(f"s.b{t} = t.b{t}" for t in range(n_tables))
        sql = f"""
WITH s AS (SELECT vec_id, embedding, {sig_cols} FROM r2
           WHERE embedding IS NOT NULL),
t AS (SELECT vec_id, embedding, {sig_cols} FROM r1),
dropped AS (
  SELECT DISTINCT s.vec_id FROM s JOIN t ON ({on})
  WHERE {_sql_cos('s.embedding', 't.embedding')} >= {thr!r})
SELECT vec_id FROM r2 WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE r1(vec_id BIGINT, embedding DOUBLE[])")
            con.execute("CREATE TABLE r2(vec_id BIGINT, embedding DOUBLE[])")
            con.executemany("INSERT INTO r1 VALUES (?, ?)", run1)
            con.executemany("INSERT INTO r2 VALUES (?, ?)", run2)
            exp = {r[0] for r in con.execute(sql).fetchall()}
        finally:
            con.close()
        assert got == exp, (
            f"case {case} (dim={dim} nbits={nbits} tables={n_tables} "
            f"thr={thr}): spark-only={sorted(got - exp)[:5]} "
            f"duck-only={sorted(exp - got)[:5]}"
        )
        if len(exp) < len(run2):
            nonempty_drops += 1
    # the draws actually dropped content (seeded: same-id redeliveries
    # alone guarantee most cases drop)
    assert nonempty_drops >= 40


def test_foreach_batch_gate_check_cadence(spark, tmp_path):
    """ADVICE r9: the verify-less gate_check (full-catalog groupBy +
    collect) must not run on EVERY micro-batch — the streaming path
    checks on the first gated batch and then every
    emb_gate_check_every batches."""
    from unittest import mock

    from pond_spark.pipeline import CurationConfig, curate_foreach_batch
    from pond_spark.similarity.catalog import EmbeddingCatalog

    cfg = CurationConfig(
        stages=("exact_dedup",),
        extra={"emb_dim": 8, "emb_nbits": 4, "emb_tables": 1,
               "emb_gate_check_every": 3},
    )
    sink: list = []
    apply = curate_foreach_batch(
        lambda df, bid: sink.append(df.count()),
        cfg,
        text_col="text",
        id_col="doc_id",
        embedding_catalog_path=str(tmp_path / "egate"),
    )
    batch = spark.createDataFrame(
        [(i, f"doc {i}", [float(i + j) for j in range(8)])
         for i in range(4)],
        "doc_id long, text string, embedding array<float>",
    )
    with mock.patch.object(
        EmbeddingCatalog, "gate_check", autospec=True, return_value=0.0
    ) as gc:
        for bid in range(6):
            apply(
                batch.withColumn(
                    "doc_id", batch.doc_id + bid * 10
                ),
                bid,
            )
    # 6 batches, every=3 -> checks on batch 0 and 3 only
    assert gc.call_count == 2
    assert len(sink) == 6


def test_foreach_batch_refusal_bound_is_cadence_exempt(spark, tmp_path):
    """ADVICE r10: an explicitly configured emb_max_overshoot is a
    hard safety bound, not an advisory — registered volume grows
    every batch, so the predicted overshoot can cross the bound
    BETWEEN cadence checks and drops would go silent. The refusal
    check must therefore run on every gated batch, cadence or not."""
    from unittest import mock

    from pond_spark.pipeline import CurationConfig, curate_foreach_batch
    from pond_spark.similarity.catalog import EmbeddingCatalog

    cfg = CurationConfig(
        stages=("exact_dedup",),
        extra={"emb_dim": 8, "emb_nbits": 4, "emb_tables": 1,
               "emb_gate_check_every": 3, "emb_max_overshoot": 0.02},
    )
    sink: list = []
    apply = curate_foreach_batch(
        lambda df, bid: sink.append(df.count()),
        cfg,
        text_col="text",
        id_col="doc_id",
        embedding_catalog_path=str(tmp_path / "egate_bound"),
    )
    batch = spark.createDataFrame(
        [(i, f"doc {i}", [float(i + j) for j in range(8)])
         for i in range(4)],
        "doc_id long, text string, embedding array<float>",
    )
    with mock.patch.object(
        EmbeddingCatalog, "gate_check", autospec=True, return_value=0.0
    ) as gc:
        for bid in range(6):
            apply(
                batch.withColumn("doc_id", batch.doc_id + bid * 10),
                bid,
            )
    # the bound is checked on EVERY batch, each time with the
    # configured refusal threshold (never the advisory None)
    assert gc.call_count == 6
    assert all(c.args[1] == 0.02 for c in gc.call_args_list)
    assert len(sink) == 6


def test_concurrent_curate_runs_two_processes(spark, tmp_path):
    """Round-10 #2: the lease discipline driven by two REAL OS
    processes (own SparkSessions) racing one work_dir + shared digest
    catalog — the scheduler-double-fire and ttl-takeover scenarios the
    unit tests only fake in-process. Loser refuses loudly
    (LeaseHeldError), takeover victim aborts at renew (LeaseLostError)
    without registering, and the catalog equals the single-writer
    reference both times. Shares the child entry with
    tools/concurrent_curate_stress.py."""
    from tools.concurrent_curate_stress import run_legs

    report = run_legs(5_000, spark=spark, verbose=False)
    assert report["doublefire"]["b"] == "CHILD_ERR:LeaseHeldError"
    assert report["takeover"]["a"] == "CHILD_ERR:LeaseLostError"

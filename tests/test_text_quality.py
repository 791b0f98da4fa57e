"""Gopher-style quality rules and free-text PII scrubbing."""

from pyspark.sql import functions as F


def test_quality_rules_flags(spark):
    from pond_spark.functions.text import quality_rules

    prose = " ".join(
        f"word{i} some plain prose tokens here" for i in range(8)
    )  # 48 words, varied bigrams
    repeat = "spam ham " * 40  # 80 words but one bigram over and over
    short = "too short"
    symbols = " ".join("$$$" for _ in range(30))  # no alpha words
    df = spark.createDataFrame(
        [(1, prose), (2, repeat), (3, short), (4, symbols), (5, "")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in df.select("doc_id", *quality_rules(F.col("text"))).collect()
    }
    assert rows[1].keep
    assert not rows[2].keep and rows[2].dup_2gram_frac > 0.9
    assert not rows[3].keep and rows[3].n_words == 2
    assert not rows[4].keep and rows[4].alpha_word_frac == 0.0
    assert not rows[5].keep
    assert abs(rows[2].mean_word_len - 3.5) < 1e-9  # spam/ham = 4+3 / 2


def test_pii_scrub_patterns(spark):
    from pond_spark.functions.pii import pii_count, pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail alice.smith+tag@sub.example.co.uk now"),
            (2, "server at 192.168.001.1 responded"),
            (3, "call 555-867-5309 or +1 555 867 5309 today"),
            (4, "nothing sensitive here"),
            (5, "alice@example.com from 10.0.0.1 tel 555-010-0001"),
        ],
        "id long, t string",
    )
    out = {
        r.id: r
        for r in df.select(
            "id", pii_scrub(F.col("t")), pii_count(F.col("t"))
        ).collect()
    }
    assert out[1].scrubbed == "mail <EMAIL> now" and out[1].n_pii == 1
    assert out[2].scrubbed == "server at <IP> responded" and out[2].n_pii == 1
    assert "<PHONE>" in out[3].scrubbed and "5309" not in out[3].scrubbed
    assert out[3].n_pii == 2
    assert out[4].scrubbed == "nothing sensitive here" and out[4].n_pii == 0
    assert out[5].scrubbed == "<EMAIL> from <IP> tel <PHONE>"
    assert out[5].n_pii == 3


def test_pii_email_not_eaten_by_ip_rule(spark):
    """An address whose host looks dotted-numeric must scrub as one
    email, not an email-then-IP fragment — rule order is part of the
    contract."""
    from pond_spark.functions.pii import pii_scrub

    df = spark.createDataFrame([("x 1.2.3.4@example.com y",)], "t string")
    assert (
        df.select(pii_scrub(F.col("t")).alias("s")).first().s
        == "x <EMAIL> y"
    )


def test_perplexity_self_trained(spark):
    """Boilerplate (high-probability bigrams) scores lower perplexity
    than a doc of corpus-unique words; bigram-less docs get NULLs."""
    from pond_spark.functions.lm import perplexity

    rows = [
        (1, "the cat sat"),
        (2, "the cat sat"),
        (3, "the cat sat"),
        (4, "zyx wvu tsr qpo"),  # unseen-elsewhere words
        (5, "single"),  # no bigram
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in perplexity(df).collect()}
    assert len(out) == 5
    assert out[1].n_bigrams == 2 and out[5].n_bigrams == 0
    assert out[5].ppl is None
    # identical docs score identically; repeated content beats noise
    assert out[1].ppl == out[2].ppl == out[3].ppl
    assert out[1].ppl < out[4].ppl


def test_perplexity_reference_lm_broadcast(spark):
    """Score one corpus under an LM trained on another (the CCNet
    shape: a trusted reference corpus)."""
    from pond_spark.functions.lm import bigram_lm, perplexity

    ref = spark.createDataFrame(
        [(1, "good clean text"), (2, "good clean text")], ["doc_id", "text"]
    )
    tgt = spark.createDataFrame(
        [(10, "good clean text"), (11, "junk noise junk")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r
        for r in perplexity(tgt, lm=bigram_lm(ref)).collect()
    }
    assert out[10].ppl < out[11].ppl


def test_tfidf_keywords_ranks_distinctive_terms(spark):
    from pond_spark.functions.tfidf import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the rug"),
            (3, "the cat and the dog met"),
            (4, "quantum flux capacitor the the"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_keywords(docs, k=2)
    rows = {(r.doc_id, r.rank): r for r in out.collect()}
    # 'the' appears in every doc -> idf 0 -> never a top keyword over
    # any term with positive idf
    assert all(r.word != "the" for r in rows.values())
    # doc 4's uniquely-distinctive terms win, ties broken by term asc
    assert {rows[(4, 1)].word, rows[(4, 2)].word} <= {
        "quantum", "flux", "capacitor"
    }
    assert rows[(4, 1)].word < rows[(4, 2)].word  # same score_q -> lexicographic
    # per-doc cutoff respected, all hashed columns integer/string
    assert max(r.rank for r in rows.values()) == 2
    assert all(isinstance(r.score_q, int) for r in rows.values())


def test_nb_classify_learns_separable_classes(spark):
    from pond_spark.functions.nbayes import nb_classify

    rows = []
    for i in range(30):
        # ids where id % 5 == 0 form the holdout
        rows.append((i * 2, "aaa bbb ccc aaa", "A"))
        rows.append((i * 2 + 1, "xxx yyy zzz yyy", "B"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = nb_classify(docs).collect()
    assert len(out) == 12  # 60 docs, 1/5 held out
    assert all(r.correct == 1 for r in out)
    assert all(r.predicted == r.label for r in out)
    # integer-exact score, deterministic across runs
    again = {r.doc_id: r.score_q for r in nb_classify(docs).collect()}
    assert again == {r.doc_id: r.score_q for r in out}


def test_bm25_ranks_term_dense_docs(spark):
    from pond_spark.functions.bm25 import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "apple banana cherry durian elder fig grape"),
            (3, "cherry cherry cherry cherry"),
            (4, "unrelated words only here"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_search(docs, ["apple", "banana"], k=10).collect()
    ids = [r.doc_id for r in out]
    # doc 4 matches nothing -> absent; doc 3 matches nothing -> absent
    assert set(ids) == {1, 2}
    # doc 1: higher tf AND shorter -> ranks first
    assert ids[0] == 1
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n_terms == 2 and by_id[2].n_terms == 2
    assert isinstance(by_id[1].score_q, int) and by_id[1].score_q > by_id[2].score_q


def test_tfidf_property_matches_python(spark):
    """Property: the engine's quantized tf-idf ranking equals a pure-
    Python reference on random small corpora across k/min_df."""
    import math
    import random

    from pond_spark.functions.tfidf import IDF_SCALE, tfidf_keywords

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    for trial in range(3):
        docs = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15))))
            for d in range(6)
        ]
        k, min_df = rng.randint(1, 4), rng.randint(1, 2)
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            (r.doc_id, r.rank): (r.word, r.score_q)
            for r in tfidf_keywords(df, k=k, min_df=min_df).collect()
        }
        # python reference
        words = {d: t.split(" ") for d, t in docs}
        dfreq: dict = {}
        for d, ws in words.items():
            for w in set(ws):
                dfreq[w] = dfreq.get(w, 0) + 1
        n = len(docs)
        want = {}
        for d, ws in words.items():
            scored = []
            for w in sorted(set(ws)):
                if dfreq[w] < min_df:
                    continue
                tf = ws.count(w)
                sq = tf * math.floor(math.log(n / dfreq[w]) * IDF_SCALE)
                scored.append((-sq, w, sq))
            for rank, (_, w, sq) in enumerate(sorted(scored)[:k], start=1):
                want[(d, rank)] = (w, sq)
        assert got == want, (trial, k, min_df)


def test_bm25_property_matches_python(spark):
    """Property: the engine's quantized BM25 ranking equals a pure-
    Python Okapi implementation on random corpora and queries."""
    import math
    import random

    from pond_spark.functions.bm25 import BM25_SCALE, bm25_search

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(10)]
    k1, b = 1.2, 0.75
    for trial in range(3):
        docs = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
            for d in range(7)
        ]
        terms = rng.sample(vocab, rng.randint(1, 3))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = [
            (r.doc_id, r.score_q)
            for r in bm25_search(df, terms, k=10).collect()
        ]

        words = {d: t.split(" ") for d, t in docs}
        n_docs = len(docs)
        avgdl = sum(len(w) for w in words.values()) / n_docs
        dfreq = {
            t: sum(1 for w in words.values() if t in w) for t in terms
        }
        want = []
        for d, ws in words.items():
            sq = 0
            hit = False
            for t in terms:
                tf = ws.count(t)
                if not tf:
                    continue
                hit = True
                idf = math.log(
                    1.0 + ((n_docs - dfreq[t]) + 0.5) / (dfreq[t] + 0.5)
                )
                tfn = (tf * (k1 + 1.0)) / (
                    tf + k1 * ((1.0 - b) + b * (len(ws) / avgdl))
                )
                sq += math.floor(idf * tfn * BM25_SCALE)
            if hit:
                want.append((d, sq))
        want.sort(key=lambda x: (-x[1], x[0]))
        assert got == want, (trial, terms)


def test_rrf_fuse_and_hybrid_ordering(spark):
    """RRF: doc in both legs outranks single-leg docs at similar
    ranks; missing legs contribute zero; ties break by id; output is
    integer ranks only (hash-stability rule)."""
    from pond_spark.functions.hybrid import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(2, 1), (4, 2), (3, 3)], "doc_id long, rank long"
    )
    out = {r.doc_id: (r.rank_1, r.rank_2, r.rank)
           for r in rrf_fuse([a, b], k=10).collect()}
    # doc 2: 1/62 + 1/61 beats doc 1's 1/61 and doc 3's 1/63 + 1/63
    assert out[2][2] == 1
    assert out[2][:2] == (2, 1)
    # doc 3 (both legs, rank 3+3) beats single-leg doc 1 (1/61) ?
    # 2/63 = 0.0317 > 1/61 = 0.0164 -> yes
    assert out[3][2] == 2
    assert out[1][2] == 3 and out[1][1] is None
    assert out[4][2] == 4 and out[4][0] is None
    # all emitted columns are integers
    assert all(
        isinstance(v, int)
        for trio in out.values() for v in trio if v is not None
    )


def test_text_index_matches_bm25_and_prunes(spark, tmp_path):
    """Persisted postings index: search() returns EXACTLY what the
    in-query bm25_search computes on the same corpus, and the scan
    reads only the query terms' word_bucket partitions (partition
    filter in the plan, like the IVF index's list pruning)."""
    from pond_spark.functions.bm25 import bm25_search
    from pond_spark.functions.lexindex import TextIndex, build_text_index
    from pond_spark.plans import formatted_plan

    rows = [
        (1, "apple banana cherry apple"),
        (2, "banana banana date"),
        (3, "cherry elderberry fig grape"),
        (4, "apple fig"),
        (5, "unrelated words entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_text_index(docs, str(tmp_path / "tix"), n_buckets=8)

    terms = ["apple", "fig"]
    got = [
        (r.doc_id, r.n_terms, r.score_q)
        for r in idx.search(terms, k=10).collect()
    ]
    want = [
        (r.doc_id, r.n_terms, r.score_q)
        for r in bm25_search(docs, terms, k=10).collect()
    ]
    assert got == want and len(got) == 3

    plan = formatted_plan(idx.search(terms, k=10))
    assert "PartitionFilters" in plan and "word_bucket" in plan, plan

    # reopening by path works (meta sidecar)
    again = TextIndex(spark, str(tmp_path / "tix"))
    assert again.n_docs == 5
    assert [
        (r.doc_id, r.n_terms, r.score_q)
        for r in again.search(terms, k=10).collect()
    ] == want


def test_text_index_append_and_compact_stay_exact(spark, tmp_path):
    """Segments: append() indexes new docs without touching old
    segments and search equals a fresh bm25_search over the UNION
    corpus (df computed query-time, corpus scalars from the metas);
    compact() merges segments with zero result change."""
    from pond_spark.functions.bm25 import bm25_search
    from pond_spark.functions.lexindex import build_text_index

    old = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana date"), (3, "cherry fig")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(4, "apple apple fig"), (5, "apple grape")],
        "doc_id long, text string",
    )
    idx = build_text_index(old, str(tmp_path / "seg"), n_buckets=8)
    idx.append(new)
    assert idx.n_docs == 5 and len(idx.meta["segments"]) == 2

    terms = ["apple", "fig"]
    want = [
        (r.doc_id, r.n_terms, r.score_q)
        for r in bm25_search(old.unionAll(new), terms, k=10).collect()
    ]
    got = [
        (r.doc_id, r.n_terms, r.score_q)
        for r in idx.search(terms, k=10).collect()
    ]
    assert got == want and len(got) == 4

    idx.compact()
    assert len(idx.meta["segments"]) == 1 and idx.n_docs == 5
    assert [
        (r.doc_id, r.n_terms, r.score_q)
        for r in idx.search(terms, k=10).collect()
    ] == want


def test_rrf_property_matches_python(spark):
    """Property: rrf_fuse equals a pure-Python RRF on random rank
    lists (random overlap, 2-3 legs)."""
    import random

    from pond_spark.functions.hybrid import RRF_K0, rrf_fuse

    rng = random.Random(53)
    for trial in range(3):
        n_legs = rng.randint(2, 3)
        ids = list(range(20))
        legs = []
        for _ in range(n_legs):
            picked = rng.sample(ids, rng.randint(3, 8))
            legs.append({d: r + 1 for r, d in enumerate(picked)})
        dfs = [
            spark.createDataFrame(
                [(d, r) for d, r in leg.items()], "doc_id long, rank long"
            )
            for leg in legs
        ]
        k = 50
        got = [
            (r.doc_id, r.rank)
            for r in rrf_fuse(dfs, k=k).orderBy("rank").collect()
        ]

        union = sorted({d for leg in legs for d in leg})
        scored = sorted(
            union,
            key=lambda d: (
                -sum(1.0 / (RRF_K0 + leg[d]) for leg in legs if d in leg),
                d,
            ),
        )
        want = [(d, i + 1) for i, d in enumerate(scored)][:k]
        assert got == want, (trial, got, want)


def test_text_index_property_matches_bm25(spark, tmp_path):
    """Property: build+append segments over a random corpus split;
    search equals bm25_search over the whole corpus for random
    queries."""
    import random

    from pond_spark.functions.bm25 import bm25_search
    from pond_spark.functions.lexindex import build_text_index

    rng = random.Random(61)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10))))
        for d in range(12)
    ]
    cut = rng.randint(3, 9)
    df_all = spark.createDataFrame(docs, ["doc_id", "text"])
    idx = build_text_index(
        spark.createDataFrame(docs[:cut], ["doc_id", "text"]),
        str(tmp_path / "pix"),
        n_buckets=4,
    )
    idx.append(spark.createDataFrame(docs[cut:], ["doc_id", "text"]))
    for _ in range(3):
        terms = rng.sample(vocab, rng.randint(1, 3))
        got = [
            (r.doc_id, r.n_terms, r.score_q)
            for r in idx.search(terms, k=12).collect()
        ]
        want = [
            (r.doc_id, r.n_terms, r.score_q)
            for r in bm25_search(df_all, terms, k=12).collect()
        ]
        assert got == want, (terms, got, want)


def test_text_index_segment_names_never_collide(spark, tmp_path):
    """Regression (round-4 review): segment ids must only GROW —
    len()-based naming made append-after-compact overwrite the live
    compacted segment, and a second compact pick a live name then
    delete its own output. Exercise build→append→compact→append→
    append→compact→search and compare against fresh BM25 throughout."""
    from pond_spark.functions.bm25 import bm25_search
    from pond_spark.functions.lexindex import build_text_index

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    b1 = [(1, "apple banana"), (2, "banana fig")]
    b2 = [(3, "apple cherry")]
    b3 = [(4, "apple apple fig")]
    b4 = [(5, "fig grape apple")]
    idx = build_text_index(docs(b1), str(tmp_path / "sx"), n_buckets=4)
    idx.append(docs(b2))
    idx.compact()
    idx.append(docs(b3))   # r4 bug: reused a live segment name
    idx.append(docs(b4))
    idx.compact()          # r4 bug: compacted INTO a live name
    names = [s["name"] for s in idx.meta["segments"]]
    assert len(names) == len(set(names)) == 1

    terms = ["apple", "fig"]
    got = [
        (r.doc_id, r.n_terms, r.score_q)
        for r in idx.search(terms, k=10).collect()
    ]
    want = [
        (r.doc_id, r.n_terms, r.score_q)
        for r in bm25_search(docs(b1 + b2 + b3 + b4), terms, k=10).collect()
    ]
    assert got == want and idx.n_docs == 5


def test_digest_catalog_refuses_bootstrap_on_compact_remnant(spark, tmp_path):
    """Regression (round-4 review): if a compact() died between its
    two renames, the catalog data sits at path+'._old' — _read must
    raise with the recovery command, not silently start empty."""
    import os

    import pytest as _pytest

    from pond_spark.dedup.exact import DigestCatalog

    path = str(tmp_path / "cat")
    cat = DigestCatalog(spark, path)
    cat.register(spark.createDataFrame([(1, "seen")], ["doc_id", "text"]))
    # simulate the crash window
    os.rename(path, path + "._old")
    with _pytest.raises(RuntimeError, match="compaction remnant"):
        cat.filter_new(
            spark.createDataFrame([(2, "seen")], ["doc_id", "text"])
        ).count()
    # the documented recovery restores filtering
    os.rename(path + "._old", path)
    assert (
        cat.filter_new(
            spark.createDataFrame([(2, "seen"), (3, "new")], ["doc_id", "text"])
        ).count()
        == 1
    )


def test_catalog_store_routes_schemes_and_hadoop_fs_primitives(spark, tmp_path):
    """ADVICE r6: a catalog on a non-local scheme must NOT silently
    no-op its sidecar/remnant/compact IO through os.path. _fs_for
    routes schemed paths to the Hadoop FileSystem adapter; the adapter
    itself is exercised end-to-end against file:// (RawLocalFileSystem
    implements the same API the hdfs:// client does)."""
    import os

    from pond_spark.catalog import CatalogStore, _fs_for, _HadoopFS, _LocalFS

    from pond_spark.catalog import _is_local_path

    assert isinstance(_fs_for(spark, str(tmp_path / "x")), _LocalFS)
    assert isinstance(_fs_for(spark, f"file://{tmp_path}/x"), _HadoopFS)
    # schemed paths route to the Hadoop adapter (constructing an
    # hdfs:// client here would need a reachable namenode — the
    # routing decision is what's under test)
    assert not _is_local_path("hdfs://nn/x")
    assert not _is_local_path("s3a://bucket/x")
    # single-slash URI forms Hadoop accepts and Spark emits are NOT
    # local — os.path.exists('file:/tmp/x') is False, so treating them
    # as local silently no-ops sidecar validation (ADVICE r7)
    assert not _is_local_path("file:/tmp/x")
    assert not _is_local_path("hdfs:/nn/x")
    assert isinstance(_fs_for(spark, f"file:{tmp_path}/x"), _HadoopFS)
    assert _is_local_path("/plain/abs/path")
    assert _is_local_path("relative/path")

    # primitives through the Hadoop API on the local FS
    fs = _HadoopFS(spark, f"file://{tmp_path}")
    side = f"file://{tmp_path}/cat.params.json"
    assert not fs.exists(side)
    fs.write_text(side, '{"n": 3}')
    assert fs.exists(side)
    assert fs.read_text(side) == '{"n": 3}'
    d1, d2 = f"file://{tmp_path}/d1", f"file://{tmp_path}/d2"
    os.makedirs(tmp_path / "d1")
    (tmp_path / "d1" / "f").write_text("x")
    fs.rename(d1, d2)
    assert not fs.exists(d1) and fs.exists(d2)
    fs.rmtree(d2)
    assert not fs.exists(d2)

    # a CatalogStore on file:// uses the full discipline end-to-end
    path = f"file://{tmp_path}/store_cat"
    cs = CatalogStore(spark, path, "k long", "test catalog", params={"p": 1})
    cs.append(spark.createDataFrame([(1,), (2,), (2,)], "k long"))
    cs.compact()
    assert sorted(r.k for r in cs.read().collect()) == [1, 2]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="incomparable"):
        CatalogStore(spark, path, "k long", "test catalog", params={"p": 9})


def test_text_index_empty_batches_are_harmless(spark, tmp_path):
    """Regression (r4 review): an empty build/append wrote a segment
    directory with no parquet files, and every later search died on
    schema inference. Empty segments are now schema-bearing and
    unioned harmlessly."""
    from pond_spark.functions.lexindex import build_text_index

    empty = spark.createDataFrame([], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "apple fig"), (2, "apple")], "doc_id long, text string"
    )
    # build from empty, then append real docs
    idx = build_text_index(empty, str(tmp_path / "ei"), n_buckets=4)
    assert idx.n_docs == 0
    assert idx.search(["apple"], k=5).collect() == []
    idx.append(docs)
    got = [(r.doc_id, r.n_terms) for r in idx.search(["apple"], k=5).collect()]
    # doc 2 is shorter -> higher BM25 for the same tf
    assert [g[0] for g in got] == [2, 1]
    # append an empty batch onto a live index
    idx.append(empty)
    assert [
        (r.doc_id, r.n_terms) for r in idx.search(["apple"], k=5).collect()
    ] == got


# -- DSIR importance selection (functions/dsir.py) -----------------------


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs sharing the target slice's vocabulary must out-weigh docs
    that don't — the defining property of the likelihood-ratio
    selector. Target = label 't'; 'mystery' doc shares its words."""
    from pyspark.sql import functions as F

    from pond_spark.functions.dsir import dsir_weights

    rows = (
        # target slice: clearly "spark-flavored" vocabulary
        [(i, "spark shuffle partition broadcast join", "t") for i in range(6)]
        # raw-only noise: different vocabulary
        + [(10 + i, "cats dogs birds fish hamsters llamas", "r") for i in range(6)]
        # probes, both in the raw pool
        + [(100, "spark shuffle partition broadcast join", "r"),
           (101, "cats dogs birds fish hamsters llamas", "r")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, label string")
    out = {
        r.doc_id: r.weight_q
        for r in dsir_weights(
            docs, F.col("label") == "t", n_buckets=64
        ).collect()
    }
    assert out[100] > out[101]
    # every doc gets a weight, token counts included
    assert len(out) == 14


def test_dsir_topk_is_deterministic_and_ranked(spark):
    from pyspark.sql import functions as F

    from pond_spark.functions.dsir import dsir_topk

    rows = [(i, f"word{i % 3} filler text", "t" if i % 3 == 0 else "r")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, label string")
    a = dsir_topk(docs, F.col("label") == "t", k=5).collect()
    b = dsir_topk(docs, F.col("label") == "t", k=5).collect()
    assert a == b
    assert [r.rank for r in a] == [1, 2, 3, 4, 5]
    ws = [r.weight_q for r in a]
    assert ws == sorted(ws, reverse=True)


# ---------------------------------------------------------------------------
# closed-form linear regression (functions/linreg.py)


def test_linreg_exact_fit_zero_residuals(spark):
    """If y is exactly linear in (x1, x2), every scaled residual is
    exactly zero — the integer Cramer identity det*(y - w.x) == 0."""
    rows = [(i, i % 37, (i * 7) % 11, 5 + 2 * (i % 37) + 3 * ((i * 7) % 11))
            for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, x1 long, x2 long, y long")
    from pond_spark.functions.linreg import linreg_outliers

    out = linreg_outliers(df, "x1", "x2", "y", "doc_id", k=10, sample_mod=4)
    rows_out = out.collect()
    top = [r for r in rows_out if r.rank <= 100]
    assert len(top) == 10
    assert all(r.resid == "0" for r in top)
    model = {r.rank: r.resid for r in rows_out if r.rank > 100}
    det = int(model[101])
    assert det != 0
    # recovered weights: det0/det=5, det1/det=2, det2/det=3 exactly
    assert (int(model[102]), int(model[103]), int(model[104])) == (
        5 * det, 2 * det, 3 * det)


def test_linreg_sql_twin_equivalence(spark):
    """Fuzz: identical output (ranking, exact residual strings, model
    rows) from the Spark DECIMAL path and the DuckDB HUGEINT twin."""
    import random

    import duckdb

    from pond_spark.functions.linreg import linreg_outliers, linreg_outliers_sql

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        rows = [
            (i, rng.randint(1, 99), rng.randint(0, 30),
             rng.randint(0, 2000))
            for i in range(500)
        ]
        df = spark.createDataFrame(rows, "doc_id long, a long, b long, y long")
        got = sorted(
            (r.rank, r.doc, r.y, r.x1, r.x2, r.resid)
            for r in linreg_outliers(
                df, "a", "b", "y", "doc_id", k=15, sample_mod=5
            ).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ",".join(map(str, rows))
            + ") AS t(doc_id, a, b, y)"
        )
        exp = sorted(map(tuple, con.sql(
            linreg_outliers_sql("a", "b", "y", k=15, sample_mod=5)
        ).fetchall()))
        assert got == exp, seed


def test_linreg_singular_sample_still_deterministic(spark):
    """Collinear features make the normal matrix singular (det = 0);
    the output is then degenerate but DEFINED, and both engines must
    still agree exactly — the determinism contract holds even off the
    happy path."""
    import duckdb

    from pond_spark.functions.linreg import linreg_outliers, linreg_outliers_sql

    rows = [(i, i % 50, 2 * (i % 50), 10 + 3 * (i % 50)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, a long, b long, y long")
    got = sorted(
        (r.rank, r.doc, r.y, r.x1, r.x2, r.resid)
        for r in linreg_outliers(
            df, "a", "b", "y", "doc_id", k=10, sample_mod=3
        ).collect()
    )
    model = {r[0]: r[5] for r in got if r[0] > 100}
    assert model[101] == "0"  # singular: det is exactly zero
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(map(str, rows))
        + ") AS t(doc_id, a, b, y)"
    )
    exp = sorted(map(tuple, con.sql(
        linreg_outliers_sql("a", "b", "y", k=10, sample_mod=3)
    ).fetchall()))
    assert got == exp


def test_text_index_compact_on_empty_index_stays_readable(spark, tmp_path):
    """Regression (r6 review): compacting a zero-doc index must write
    a schema-bearing segment (the _write_segment guard) — the old
    partitioned empty write left a fileless directory that poisoned
    every later search after an append."""
    from pond_spark.functions.lexindex import TextIndex, build_text_index

    path = str(tmp_path / "tix_empty")
    empty = spark.createDataFrame([], "doc_id long, text string")
    idx = build_text_index(empty, path, n_buckets=8)
    idx.compact()  # must not poison the index
    idx2 = TextIndex(spark, path)
    idx2.append(
        spark.createDataFrame(
            [(1, "apple banana"), (2, "apple cherry")], "doc_id long, text string"
        )
    )
    out = idx2.search(["apple"], k=5).collect()
    assert {r.doc_id for r in out} == {1, 2}


def test_text_index_empty_search_matches_stored_id_type(spark, tmp_path):
    """Regression (r6 review): the empty-index search fast path must
    type doc_id as the STORED id (string here), so both branches of
    search() union cleanly."""
    from pond_spark.functions.lexindex import build_text_index

    path = str(tmp_path / "tix_str")
    empty = spark.createDataFrame([], "doc_id string, text string")
    idx = build_text_index(empty, path, id_col="doc_id", n_buckets=8)
    out = idx.search(["apple"], k=5)
    assert out.schema["doc_id"].dataType.typeName() == "string"
    assert out.count() == 0


def test_short_docs_have_zero_ngrams(spark):
    """Regression (r6 review): a doc with fewer than n words has ZERO
    n-grams — the old floored sequence fabricated one partial gram,
    scoring every 1-word doc as maximally repetitive."""
    from pond_spark.functions.repetition import repetition_metrics

    df = spark.createDataFrame(
        [(1, "hello"), (2, "two words"), (3, "three little words")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert out[1].top_2gram_char_frac == 0.0  # no bigram exists
    assert out[1].dup_3gram_frac == 0.0
    assert out[2].dup_3gram_frac == 0.0  # no trigram exists
    assert out[3].top_2gram_char_frac > 0.0  # real bigrams scored


def test_text_index_works_on_schemed_paths(spark, tmp_path):
    """The index meta goes through the path's filesystem like the
    segments do: build, search, append and compact on a ``file:`` URI
    (builtin open() cannot address one), and the meta is replaced
    through a staged sibling that never outlives the write."""
    from pond_spark.catalog import _HadoopFS
    from pond_spark.functions.bm25 import bm25_search
    from pond_spark.functions.lexindex import TextIndex, build_text_index

    old = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana date")], "doc_id long, text string"
    )
    new = spark.createDataFrame([(3, "apple fig")], "doc_id long, text string")
    path = f"file:{tmp_path}/tix"
    idx = build_text_index(old, path, n_buckets=4)
    idx.append(new)
    idx = TextIndex(spark, path)  # reopen: the meta reads back remotely
    assert idx.n_docs == 3 and len(idx.meta["segments"]) == 2
    want = [
        (r.doc_id, r.score_q)
        for r in bm25_search(old.unionAll(new), ["apple"], k=5).collect()
    ]
    assert [
        (r.doc_id, r.score_q) for r in idx.search(["apple"], k=5).collect()
    ] == want
    idx.compact()
    assert len(TextIndex(spark, path).meta["segments"]) == 1
    fs = _HadoopFS(spark, path)
    assert fs.exists(f"{path}/_text_index_meta.json")
    assert not fs.exists(f"{path}/_text_index_meta.json._staged")

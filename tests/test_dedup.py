"""Dedup family tests: exact keeper semantics, minhash recall vs exact
Jaccard, simhash self-consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pond_spark.dedup import (
    dedup_exact,
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),      # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),      # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "the quick brown fox jumps over a lazy dog today"),  # near dup of 1
        (6, "zzz yyy xxx www vvv uuu ttt sss"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicate_groups(docs):
    groups = {r.keep_id: r.n_dups for r in exact_duplicate_groups(docs).collect()}
    assert groups[1] == 2          # ids 1+2 collapse
    assert sum(groups.values()) == 6
    assert len(groups) == 5


def test_dedup_exact_keeps_min_id(docs):
    kept = sorted(r.doc_id for r in dedup_exact(docs, "text", "doc_id").collect())
    assert kept == [1, 3, 4, 5, 6]


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs  # one-token substitution
    assert (4, 6) not in pairs


def test_minhash_finds_exact_pairs_as_candidates(docs):
    """LSH with enough bands must recover the high-jaccard pairs the
    exact method finds (identical verify step → same jaccard values)."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    mh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.7, k=64, bands=32).collect()
    }
    # identical-docs pair is always found (every band collides)
    assert (1, 2) in mh and mh[(1, 2)] == 1.0
    # minhash candidates are a subset of exact pairs after verification
    for pair, j in mh.items():
        assert pair in exact
        assert abs(j - exact[pair]) < 1e-9


def test_simhash_identical_and_distant(docs):
    fps = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    assert fps[1] == fps[2]  # identical text → identical fingerprint
    # near-dup pair at small hamming distance
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs(docs, max_hamming=12).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs
    assert (4, 6) not in pairs


def test_simhash_pairs_respect_hamming_bound(docs):
    for r in simhash_near_pairs(docs, max_hamming=3).collect():
        assert r.hamming <= 3


def test_connected_components_chains_and_islands(spark):
    from pond_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20

    # the driver union-find fast path and the distributed
    # large-star/small-star loop must label identically
    dist = {
        r.node: r.component
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert dist == comp


def test_minhash_hot_bucket_cap_skips_boilerplate(spark):
    """Skew guard: a boilerplate cluster (60 identical docs) shares
    every band key — quadratic candidates. With max_bucket_size the
    hot buckets drop, the planted near-dup pair in normal-sized
    buckets is still found, and no boilerplate pair is emitted
    (mega-clusters are exact-dup territory)."""
    from pond_spark.dedup import minhash_lsh_pairs

    boiler = "the same legal disclaimer text repeated on every page of site"
    a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    b = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo mike"
    rows = [(i, boiler) for i in range(60)] + [(100, a), (101, b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = minhash_lsh_pairs(
        docs, threshold=0.8, n=1, max_bucket_size=30
    ).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in got
    assert all(p[0] >= 100 for p in got), f"boilerplate leaked: {got}"

    # uncapped finds the boilerplate pairs too (60*59/2 of them)
    uncapped = minhash_lsh_pairs(docs, threshold=0.8, n=1).count()
    assert uncapped == 60 * 59 // 2 + 1


def test_minhash_salted_verify_join_splits_hot_id(spark):
    """Skew wiring: a boilerplate cluster of m docs makes its low-id
    members hot keys in the verify join (each appears in ~m candidate
    rows). Auto detection must flip to the salted path — visible in
    the plan as joins on (id, _salt), i.e. the hot key split
    salt-ways — and the result set must be identical to the plain
    join (salting redistributes work, never changes semantics)."""
    from pond_spark.dedup import minhash_lsh_pairs
    from pond_spark.plans import formatted_plan

    boiler = "the same legal disclaimer text repeated on every page of site"
    a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    b = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo mike"
    rows = [(i, boiler) for i in range(80)] + [(100, a), (101, b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    salted = minhash_lsh_pairs(docs, threshold=0.8, n=1, skew_salt="auto")
    plan = formatted_plan(salted)
    assert "_salt" in plan, plan
    plain = minhash_lsh_pairs(docs, threshold=0.8, n=1, skew_salt=None)
    assert "_salt" not in formatted_plan(plain)
    assert {(r.id_a, r.id_b, r.jaccard) for r in salted.collect()} == {
        (r.id_a, r.id_b, r.jaccard) for r in plain.collect()
    }
    # the fixture really is pathological: the 80-clique emits 80*79/2
    # boilerplate pairs plus the one planted near-dup
    assert salted.count() == 80 * 79 // 2 + 1


def test_salted_join_randomized_equivalence(spark):
    """Property-fuzz salted_join (VERDICT r5 ask #6): 100 randomized
    cases — skewed/uniform key distributions, NULL-bearing values,
    duplicate build keys, salt 1..10, inner and left — must each
    produce EXACTLY the plain join's multiset of rows (salting
    redistributes work, never changes semantics). Cases are built
    driver-side and unioned into ONE frame keyed by case id, so the
    whole sweep is two jobs, not 200."""
    import random

    from pond_spark.operators.skew import salted_join

    rng = random.Random(0x5EED)
    probe_rows, build_rows, case_how, case_salt = [], [], {}, {}
    for case in range(100):
        keys = [f"k{j}" for j in range(rng.randint(1, 5))]
        hot = rng.choice(keys)
        n_probe = rng.randint(1, 12)
        for i in range(n_probe):
            # ~60% of probe rows land on the hot key
            key = hot if rng.random() < 0.6 else rng.choice(keys)
            val = rng.choice([None, rng.randint(0, 3)])
            probe_rows.append((case, key, val))
        for i in range(rng.randint(0, 6)):
            # duplicate build keys allowed; some keys unmatched
            key = rng.choice(keys + ["unmatched"])
            build_rows.append((case, key, rng.randint(100, 103)))
        case_how[case] = rng.choice(["inner", "left"])
        case_salt[case] = rng.randint(1, 10)
    probe = spark.createDataFrame(
        probe_rows, "case int, key string, val int"
    )
    build = spark.createDataFrame(
        build_rows, "case int, key string, bval int"
    )
    for how in ("inner", "left"):
        for salt in sorted({case_salt[c] for c in case_salt}):
            cases = [
                c for c in case_how
                if case_how[c] == how and case_salt[c] == salt
            ]
            if not cases:
                continue
            def srt(rows):
                return sorted(
                    (tuple(r) for r in rows),
                    key=lambda t: tuple((v is None, v) for v in t),
                )

            p = probe.filter(F.col("case").isin(cases))
            b = build.filter(F.col("case").isin(cases))
            got = srt(
                salted_join(
                    p, b, ["case", "key"], salt=salt, how=how
                ).collect()
            )
            exp = srt(p.join(b, ["case", "key"], how).collect())
            assert got == exp, (how, salt)


def test_minhash_auto_salt_stays_plain_on_uniform_data(spark):
    """No hot ids (max candidate multiplicity <= threshold) → the auto
    probe must keep the plain join: salting replicates the build side,
    a cost worth paying only under skew."""
    from pond_spark.dedup import minhash_lsh_pairs
    from pond_spark.plans import formatted_plan

    a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    b = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo mike"
    docs = spark.createDataFrame(
        [(100, a), (101, b)], "doc_id long, text string"
    )
    out = minhash_lsh_pairs(docs, threshold=0.8, n=1, skew_salt="auto")
    assert "_salt" not in formatted_plan(out)
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(100, 101)}


def test_simhash_hot_bucket_cap_and_blocking(spark):
    """Skew guard for the simhash chunk join: a boilerplate cluster
    shares every chunk key; max_bucket_size drops those hot buckets
    while the planted near-dup pair survives. block_col restricts
    chunk joins to within a block — a cross-language chunk collision
    must not produce a pair."""
    boiler = "the same legal disclaimer text repeated on every page of site"
    a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    b = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo mike"
    rows = [(i, boiler, "en") for i in range(60)] + [
        (100, a, "en"),
        (101, b, "en"),
        # identical text in another block: would pair with the "en"
        # copies on every chunk key if blocking were ignored
        (200, a, "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    capped = simhash_near_pairs(
        docs, max_hamming=7, max_bucket_size=30, block_col="lang"
    ).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in got
    assert all(p[0] >= 100 for p in got), f"boilerplate leaked: {got}"
    # (100, 200) is hamming 0 but crosses blocks — must be absent
    assert (100, 200) not in got

    # uncapped, unblocked finds the boilerplate cluster and the
    # cross-block twin
    unc = {
        (r.id_a, r.id_b)
        for r in simhash_near_pairs(docs, max_hamming=7).collect()
    }
    assert (100, 200) in unc and (0, 1) in unc


def test_connected_components_long_chain_logarithmic(spark):
    """Adversarial high-diameter graph: a 200-node path. Plain
    min-label propagation needs ~200 rounds; large-star/small-star
    must finish well inside max_iter=12 (O(log n)) — and the run
    crosses the localCheckpoint cadence, exercising lineage
    truncation."""
    from pond_spark.dedup import connected_components

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    comp = {
        r.node: r.component
        for r in connected_components(
            pairs, max_iter=12, driver_threshold=0
        ).collect()
    }
    assert len(comp) == n + 1
    assert set(comp.values()) == {0}


def test_dedup_near_keep_best(spark, docs):
    from pond_spark.dedup import dedup_near_keep_best, ngram_jaccard_pairs
    from pyspark.sql import functions as F

    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    scored = docs.withColumn("quality", F.length("text").cast("double"))
    kept = sorted(
        r.doc_id
        for r in dedup_near_keep_best(scored, pairs, quality_col="quality").collect()
    )
    # docs 1,2,3,5 cluster (pairwise >=0.5 jaccard via 1); keep id 5
    # (longest text); 4 and 6 are singletons
    assert kept == [4, 5, 6]


def test_contamination_report_and_decontaminate(spark, docs):
    from pond_spark.dedup import contamination_report, decontaminate

    eval_set = docs.filter("doc_id = 1")
    corpus = docs.filter("doc_id <> 1")
    rep = contamination_report(corpus, eval_set, "text", "doc_id", n=4)
    hits = {r["doc_id"]: r["hit_grams"] for r in rep.collect()}
    # 2 is an exact copy (all 6 4-grams hit); 3 and 5 share spans;
    # 4 and 6 share nothing
    assert set(hits) == {2, 3, 5}
    assert hits[2] == 6
    clean = decontaminate(corpus, eval_set, "text", "doc_id", n=4)
    assert {r["doc_id"] for r in clean.collect()} == {4, 6}


def test_contamination_min_hits_threshold(spark, docs):
    from pond_spark.dedup import contamination_report

    eval_set = docs.filter("doc_id = 1")
    corpus = docs.filter("doc_id <> 1")
    rep = contamination_report(corpus, eval_set, "text", "doc_id", n=4, min_hits=4)
    hits = {r["doc_id"] for r in rep.collect()}
    assert 2 in hits          # exact dup always above threshold
    assert 6 not in hits
    # decontaminate's counted branch: the corpus minus the report's ids
    from pond_spark.dedup import decontaminate

    ids = {r["doc_id"] for r in corpus.collect()}
    kept = decontaminate(corpus, eval_set, "text", "doc_id", n=4, min_hits=4)
    assert {r["doc_id"] for r in kept.collect()} == ids - hits
    # ...and its uncounted branch drops the near dups sharing fewer grams
    kept1 = decontaminate(corpus, eval_set, "text", "doc_id", n=4, min_hits=1)
    assert {r["doc_id"] for r in kept1.collect()} == {4, 6}


def test_contamination_eval_side_broadcasts(spark, docs):
    from pond_spark.dedup import contamination_report

    rep = contamination_report(
        docs.filter("doc_id <> 1"), docs.filter("doc_id = 1"), "text", "doc_id"
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_substring_dup_planted(spark):
    """ExactSubstr token windows: a 9-token span shared by two docs
    (at DIFFERENT offsets) flags both; unique text flags 0; docs under
    n tokens emit no shingles."""
    shared = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    rows = [
        (1, shared + " unique tail one two three four five six"),
        (2, "different head words going first then " + shared),
        (3, "entirely unique content with no repeats at all whatsoever kept"),
        (4, "tiny"),
    ]
    from pond_spark.dedup.substr import substring_dup_stats

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in substring_dup_stats(df, n=8).collect()}
    assert len(out) == 4
    assert out[1].n_dup > 0 and out[2].n_dup > 0  # shared block found
    assert out[3].n_dup == 0
    assert out[4].n_shingles == 0 and out[4].dup_frac == 0.0
    assert 0 < out[1].dup_frac < 1


def test_substring_dup_self_repeat_not_flagged(spark):
    """A span repeated WITHIN one doc is not corpus duplication
    (min_docs counts distinct documents)."""
    from pond_spark.dedup.substr import substring_dup_stats

    block = "repeat me " * 8  # 16 tokens
    df = spark.createDataFrame(
        [(1, block + block), (2, "other words entirely here padding padding")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in substring_dup_stats(df, n=8).collect()}
    assert out[1].n_dup == 0


def test_strip_duplicate_spans(spark):
    """Removal: the shared 9-token span is cut from both docs (all 9
    tokens sit inside flagged 8-windows); unique text survives; order
    preserved."""
    from pond_spark.dedup.substr import strip_duplicate_spans

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, shared + " keep these five tail words here"),
        (2, "head words stay first then " + shared),
        (3, "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in strip_duplicate_spans(df, n=8).collect()}
    assert out[1].text_clean == "keep these five tail words here"
    assert out[2].text_clean == "head words stay first then"
    assert out[1].n_removed == 9 and out[2].n_removed == 9
    assert out[3].text_clean == "short doc" and out[3].n_removed == 0


def test_digest_catalog_incremental(spark, tmp_path):
    """Cross-run dedup: batch 2 drops everything batch 1 registered,
    plus its own within-batch dups; the catalog grows digest-only."""
    from pond_spark.dedup.exact import DigestCatalog

    cat = DigestCatalog(spark, str(tmp_path / "catalog"))
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]
    )
    fresh1 = cat.filter_new(b1)
    assert {r.doc_id for r in fresh1.collect()} == {1, 2}  # 3 is a batch dup
    cat.register(fresh1)

    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "beta")],
        ["doc_id", "text"],
    )
    fresh2 = cat.filter_new(b2)
    assert {r.doc_id for r in fresh2.collect()} == {11}
    cat.register(fresh2)
    assert cat._read().count() == 3  # alpha, beta, gamma — digests only
    # idempotent: re-running batch 2 yields nothing new
    assert cat.filter_new(b2).count() == 0


def test_digest_catalog_compact(spark, tmp_path):
    """compact(): many append files + injected duplicate digests
    rewrite to one distinct set; filtering behavior is unchanged."""
    import glob

    from pond_spark.dedup.exact import DigestCatalog

    path = str(tmp_path / "cat")
    cat = DigestCatalog(spark, path)
    for i in range(4):
        b = spark.createDataFrame(
            [(i * 10 + j, f"doc {i} {j}") for j in range(3)],
            ["doc_id", "text"],
        )
        cat.register(cat.filter_new(b))
    # simulate a concurrent-writer race: the same digest appended twice
    dup = spark.createDataFrame([(99, "doc 0 0")], ["doc_id", "text"])
    cat.register(dup)
    assert cat._read().count() == 13  # 12 distinct + 1 dup row

    files_before = len(glob.glob(path + "/part-*"))
    cat.compact()
    assert cat._read().count() == 12  # dup row gone
    assert len(glob.glob(path + "/part-*")) < files_before
    # behavior unchanged: everything already seen still filters out
    again = spark.createDataFrame([(100, "doc 0 0"), (101, "new")], ["doc_id", "text"])
    assert {r.doc_id for r in cat.filter_new(again).collect()} == {101}


_CAT_A = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
_CAT_A2 = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
_CAT_B = "one two three four five six seven eight nine ten eleven twelve"


def test_minhash_catalog_incremental(spark, tmp_path):
    """Cross-run near-dedup: run 2 probes run 1's band keys without
    re-banding run 1; near-identical docs collide, unrelated docs pass
    filter_new; re-probing a registered batch is idempotent
    (self-pairs dropped)."""
    from pond_spark.dedup.minhash import MinHashCatalog

    cat = MinHashCatalog(spark, str(tmp_path / "mhcat"))
    run1 = spark.createDataFrame(
        [(1, _CAT_A), (2, _CAT_B)], ["doc_id", "text"]
    )
    cat.register(run1)
    run2 = spark.createDataFrame(
        [(11, _CAT_A2), (12, "totally different words entirely here now")],
        ["doc_id", "text"],
    )
    cand = {(r.new_id, r.old_id) for r in cat.near_candidates(run2).collect()}
    assert (11, 1) in cand  # near-identical to run 1's doc 1
    assert all(n != 12 for n, _ in cand)  # unrelated doc collides nowhere
    fresh = {r.doc_id for r in cat.filter_new(run2).collect()}
    assert 12 in fresh and 11 not in fresh
    # idempotency: registered docs produce no self-pairs
    assert cat.near_candidates(run1).filter(
        F.col("new_id") == F.col("old_id")
    ).count() == 0


def test_minhash_catalog_gate_no_false_negatives(spark, tmp_path):
    """filter_new must pass ONLY docs the in-query LSH join (same
    params) would also find no partner for: every minhash_lsh_pairs
    candidate pair between the batch and the registered corpus implies
    a shared band key, hence a catalog collision."""
    from pond_spark.dedup import minhash_lsh_pairs
    from pond_spark.dedup.minhash import MinHashCatalog

    olds = [(i, f"{_CAT_A} variant {i} {'x' * (i % 3)}") for i in range(10)]
    news = [(100 + i, f"{_CAT_A} variant {i}") for i in range(5)] + [
        (200, "entirely unrelated content with no overlap whatsoever")
    ]
    old_df = spark.createDataFrame(olds, ["doc_id", "text"])
    new_df = spark.createDataFrame(news, ["doc_id", "text"])
    cat = MinHashCatalog(spark, str(tmp_path / "mhcat2"))
    cat.register(old_df)
    fresh = {r.doc_id for r in cat.filter_new(new_df).collect()}
    # in-query candidates over the union, restricted to cross pairs
    pairs = minhash_lsh_pairs(
        old_df.unionByName(new_df), threshold=0.0, skew_salt=None
    )
    crossed = {
        max(r.id_a, r.id_b)
        for r in pairs.collect()
        if (r.id_a < 100) != (r.id_b < 100)
    }
    assert fresh.isdisjoint(crossed)
    assert 200 in fresh


def test_minhash_catalog_params_pinned_and_compact(spark, tmp_path):
    """Opening with different signature params must refuse (band keys
    are incomparable across params); compact() merges append files
    without changing probe results."""
    import glob

    from pond_spark.dedup.minhash import MinHashCatalog

    path = str(tmp_path / "mhcat3")
    cat = MinHashCatalog(spark, path, k=64, bands=16)
    for i in range(3):
        cat.register(spark.createDataFrame(
            [(i, f"{_CAT_A} batch {i}")], ["doc_id", "text"]
        ))
    with pytest.raises(ValueError, match="incomparable"):
        MinHashCatalog(spark, path, k=64, bands=8)

    probe = spark.createDataFrame([(50, _CAT_A2)], ["doc_id", "text"])
    before = {(r.new_id, r.old_id) for r in cat.near_candidates(probe).collect()}
    files_before = len(glob.glob(path + "/part-*"))
    cat.compact()
    assert len(glob.glob(path + "/part-*")) < files_before
    after = {(r.new_id, r.old_id) for r in cat.near_candidates(probe).collect()}
    assert before == after and before  # nonempty, unchanged


def test_dedup_exact_non_unique_ids(spark):
    """Regression (r4 review): the semi-join keyed on id alone, so a
    reused id kept duplicate content. The (digest, id) key drops it."""
    from pond_spark.dedup.exact import dedup_exact

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (2, "y")], ["id", "text"]
    )
    out = sorted((r.id, r.text) for r in dedup_exact(df).collect())
    assert out == [(1, "x"), (2, "y")]


def test_hamming_near_pairs_exact_match_mode(spark):
    """Regression (r4 review): max_hamming=0 (exact 64-bit fingerprint
    dedup) crashed on the (1<<64)-1 mask literal — width 64 uses -1
    (all bits) instead."""
    from pond_spark.dedup.simhash import hamming_near_pairs

    fps = spark.createDataFrame(
        [(1, 42), (2, 42), (3, -7), (4, -7), (5, 99)],
        "doc_id long, simhash long",
    )
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_pairs(fps, max_hamming=0).collect()
    )
    assert got == [(1, 2, 0), (3, 4, 0)]


def test_strip_duplicate_spans_preserves_case(spark):
    """Regression (r4 review): reassembly used the lowercased
    detection tokens, silently rewriting EVERY document. Detection
    stays canonical (case-insensitive) but surviving text keeps its
    original case/punctuation."""
    from pond_spark.dedup.substr import strip_duplicate_spans

    boiler = "THIS Legal Disclaimer Applies To All Pages Of This Site."
    docs = spark.createDataFrame(
        [
            (1, f"Unique Opening Words Here One. {boiler}"),
            (2, f"{boiler} Different Closing Words Here Two!"),
            (3, "No Duplication In This Document At All, Period."),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in strip_duplicate_spans(docs, n=8).collect()}
    # untouched doc keeps its text EXACTLY (single-spaced already)
    assert out[3].text_clean == "No Duplication In This Document At All, Period."
    assert out[3].n_removed == 0
    # the boilerplate span is gone; survivors keep original case
    assert "Disclaimer" not in out[1].text_clean
    assert out[1].text_clean.startswith("Unique Opening Words Here One.")
    assert out[2].text_clean.endswith("Different Closing Words Here Two!")


def test_dedup_exact_null_text_rows_are_unique(spark, tmp_path):
    """r7 review fix: NULL-text rows pass through dedup_exact (absent
    content is never a duplicate — before the fix the null-unsafe
    semi-join silently DELETED all of them), are excluded from
    exact_duplicate_groups, and neither register into nor gate against
    a DigestCatalog."""
    from pond_spark.dedup.exact import DigestCatalog

    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None), (5, "other")],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in dedup_exact(df, "text", "doc_id").collect()}
    assert kept == {1, 3, 4, 5}
    groups = exact_duplicate_groups(df, "text", "doc_id").collect()
    assert {(r.keep_id, r.n_dups) for r in groups} == {(1, 2), (5, 1)}

    cat = DigestCatalog(spark, str(tmp_path / "cat"))
    cat.register(df, "text")
    assert cat._read().filter(F.col("content_sha").isNull()).count() == 0
    probe = spark.createDataFrame(
        [(10, "same"), (11, None), (12, "fresh")], "doc_id long, text string"
    )
    new = {r.doc_id for r in cat.filter_new(probe, "text", "doc_id").collect()}
    assert new == {11, 12}  # NULL text is always new; "same" is gated


def test_minhash_catalog_null_text_never_a_duplicate(spark, tmp_path):
    """Late-r8 review finding: NULL text used to band to a degenerate
    all-NULL signature shared by EVERY NULL-text doc, so one registered
    NULL row made filter_new drop all future NULL rows — violating the
    r7 rule (absent content is never a duplicate) that the digest
    catalog enforces. NULL text now contributes no band keys on either
    side of the catalog."""
    from pond_spark.dedup.minhash import MinHashCatalog

    cat = MinHashCatalog(spark, str(tmp_path / "cat"), k=16, bands=4)
    day1 = spark.createDataFrame(
        [(1, "a real document body with several words"), (2, None)],
        "doc_id long, text string",
    )
    cat.register(day1)
    # a NULL row registers nothing: only doc 1's bands are stored
    assert spark.read.parquet(str(tmp_path / "cat")).select(
        "doc_id"
    ).distinct().count() == 1
    day2 = spark.createDataFrame(
        [(11, None), (12, "a real document body with several words"),
         (13, "entirely unrelated fresh material here")],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in cat.filter_new(day2).collect()}
    assert kept == {11, 13}  # NULL passes; the repeat is gated
    # and NULL probes produce no candidate pairs either
    assert cat.near_candidates(day2).filter("new_id = 11").count() == 0


def test_catalog_retention_expire_readmits_old_content(spark, tmp_path):
    """VERDICT r8 missing #3: age eviction on the gate catalogs
    (reference max_age, src/Instance.cxx:190-203). Rows registered
    before the horizon are dropped — the evicted content re-admits
    through filter_new and re-registers with a fresh stamp — while
    newer registrations keep gating. Compaction-integrated: the
    rewrite merges duplicate key rows keeping the NEWEST stamp, so a
    re-registered digest survives an expire that predates only its
    oldest registration."""
    from pond_spark.dedup.exact import DigestCatalog

    day1 = spark.createDataFrame(
        [(1, "alpha content one"), (2, "beta content two")],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [(3, "gamma content three")], "doc_id long, text string"
    )
    cat = DigestCatalog(spark, str(tmp_path / "cat"))
    cat.register(day1, run_ts=1_000)
    cat.register(day2, run_ts=2_000)
    probe = day1.unionByName(day2)
    assert cat.filter_new(probe).count() == 0  # all gated

    rec = cat.expire(before_ts=1_500)
    assert rec == {
        "rows_before": 3, "rows_kept": 1,
        "before_ts": 1_500, "ts": rec["ts"],
    }
    # day1 content re-admitted, day2 still gated
    assert {r.doc_id for r in cat.filter_new(probe).collect()} == {1, 2}
    # eviction recorded in the retention history sidecar
    hist = cat.retention_history()
    assert len(hist) == 1 and hist[0]["rows_kept"] == 1

    # re-registration beats eviction: same digest stamped at 1_000 AND
    # 3_000 merges to its newest stamp, so expire(2_500) keeps it
    cat2 = DigestCatalog(spark, str(tmp_path / "cat2"))
    cat2.register(day1, run_ts=1_000)
    cat2.register(day1, run_ts=3_000)
    cat2.expire(before_ts=2_500)
    assert cat2.filter_new(day1).count() == 0  # still gated
    # compact() also merges to one row per key with the newest stamp
    cat2.compact()
    from pond_spark.catalog import TS_COL
    rows = spark.read.parquet(str(tmp_path / "cat2")).collect()
    assert len(rows) == 2 and all(r[TS_COL] == 3_000 for r in rows)


def test_catalog_retention_pre_migration_files_expire_first(spark, tmp_path):
    """A catalog written BEFORE the retention column existed reads as
    registered_ts NULL; expire treats NULL as epoch 0, so legacy rows
    are the oldest and age out at any positive horizon."""
    from pond_spark.dedup.exact import DigestCatalog

    path = str(tmp_path / "legacy")
    # simulate a pre-retention catalog: key column only, no stamp
    spark.createDataFrame(
        [("aaaa",), ("bbbb",)], "content_sha string"
    ).write.parquet(path)
    cat = DigestCatalog(spark, path)
    day2 = spark.createDataFrame(
        [(9, "fresh nine")], "doc_id long, text string"
    )
    cat.register(day2, run_ts=2_000)  # mixed old/new files read fine
    assert cat._read().count() == 3
    rec = cat.expire(before_ts=1)
    assert rec["rows_before"] == 3 and rec["rows_kept"] == 1
    assert cat.filter_new(day2).count() == 0  # new row survived


def test_minhash_and_embedding_catalog_expire(spark, tmp_path):
    """The same max_age discipline on the band-key and bucket-key
    stores: expired docs/vectors re-admit; newer ones keep gating."""
    from pond_spark.dedup.minhash import MinHashCatalog
    from pond_spark.similarity.catalog import EmbeddingCatalog

    d1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    d2 = spark.createDataFrame(
        [(2, "zeta eta theta iota kappa")], "doc_id long, text string"
    )
    mcat = MinHashCatalog(spark, str(tmp_path / "mcat"), k=16, bands=4, n=1)
    mcat.register(d1, run_ts=1_000)
    mcat.register(d2, run_ts=2_000)
    mcat.expire(before_ts=1_500)
    assert {r.doc_id for r in
            mcat.filter_new(d1.unionByName(d2)).collect()} == {1}
    assert mcat.retention_history()[0]["before_ts"] == 1_500

    v1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    v2 = spark.createDataFrame(
        [(2, [-1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    ecat = EmbeddingCatalog(spark, str(tmp_path / "ecat"), dim=4, nbits=4)
    ecat.register(v1, run_ts=1_000)
    ecat.register(v2, run_ts=2_000)
    ecat.expire(before_ts=1_500)
    assert {r.vec_id for r in
            ecat.filter_new(v1.unionByName(v2)).collect()} == {1}


def test_catalog_mutations_lease_by_default(spark, tmp_path):
    """Round-9 #8: register/compact/expire acquire a WriterLease by
    default, so DIRECT catalog users get the scheduler-double-fire
    gate — a foreign live lease refuses the mutation; the same
    process's outer lease is re-entrant; and the lease is released
    (not leaked) after each mutation."""
    import pytest as _pytest

    from pond_spark.catalog import LeaseHeldError, WriterLease
    from pond_spark.dedup.exact import DigestCatalog

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    path = str(tmp_path / "cat")
    cat = DigestCatalog(spark, path)
    cat.register(docs)
    assert not (tmp_path / "cat.lease.json").exists()  # released

    # a foreign writer (another process would have a different owner)
    foreign = WriterLease(spark, path, owner="other-host:pid-1").acquire()
    with _pytest.raises(LeaseHeldError):
        cat.register(docs)
    with _pytest.raises(LeaseHeldError):
        cat.compact()
    with _pytest.raises(LeaseHeldError):
        cat.expire(before_ts=1)
    foreign.release()

    # same-process outer lease (process-stable default owner) is
    # re-entrant: the mutation runs, and the OUTER lease survives it
    outer = WriterLease(spark, path).acquire()
    cat.register(docs)
    assert (tmp_path / "cat.lease.json").exists()
    outer.release()
    assert not (tmp_path / "cat.lease.json").exists()


# -- r11 shared-gram-base paths: the recall harnesses feed ONE pinned
# gram_hashes frame to both their exact and approx branches (guide
# §1.2). These pin the parity contracts the optimization relies on.


@pytest.fixture(scope="module")
def edge_docs(spark):
    """>=3-word near-dups + the sub-n/empty/NULL edge shapes of
    _DEDUP_EDGE_ROWS (entry file)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),
        (3, "the quick brown fox leaps over the lazy dog", "en"),
        (4, "completely different content about spark engines", "en"),
        (5, "tiny dup", "en"),      # 2 words: zero 3-grams
        (6, "tiny dup", "en"),
        (7, "", "en"),              # empty: zero tokens
        (8, "  \t  ", "en"),        # whitespace-only: zero tokens
        (9, None, "en"),            # NULL text
        (10, "solo", "en"),         # 1 word
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).cache()


def test_minhash_signatures_from_grams_parity(edge_docs):
    """Signatures from gram_hashes equal the shingle-path signatures
    for every >= n-word doc (array_min is order-insensitive over the
    same distinct hash set); zero-gram docs (sub-n/empty/NULL) are
    DROPPED rather than given a shared degenerate signature."""
    from pond_spark.dedup import gram_hashes, minhash_signatures
    from pond_spark.dedup.minhash import minhash_signatures_from_grams

    via_shingles = {
        r.doc_id: r._sig
        for r in minhash_signatures(edge_docs, n=3).collect()
    }
    grams = gram_hashes(edge_docs, n=3)
    via_grams = {
        r.doc_id: r._sig
        for r in minhash_signatures_from_grams(grams).collect()
    }
    # >= 3-word docs: bit-identical signatures
    for d in (1, 2, 3, 4):
        assert via_grams[d] == via_shingles[d], d
    # sub-n / empty / NULL rows dropped from the grams path
    assert set(via_grams) == {1, 2, 3, 4}


def test_simhash64_from_hashes_bit_identical(edge_docs):
    """simhash64_from_hashes over gram_hashes output matches simhash64
    for EVERY row — same _words/_word_ngrams feature rules, fold is
    order-insensitive, NULL propagates on both paths."""
    from pond_spark.dedup import gram_hashes, simhash64
    from pond_spark.dedup.simhash import simhash64_from_hashes

    direct = {r.doc_id: r.simhash for r in simhash64(edge_docs, n=3).collect()}
    grams = gram_hashes(edge_docs, n=3, carry_cols=("lang",))
    via = {
        r.doc_id: r.simhash
        for r in simhash64_from_hashes(
            grams, hashes_col="_grams", carry_cols=("lang",)
        ).collect()
    }
    assert via == direct


def test_recall_harness_shared_base_output_invariant(edge_docs):
    """The exact ⋉ candidates semi-join — what the contract rows
    compute — is IDENTICAL with and without the shared gram base,
    edge rows included (a sub-n-word doc has no n-grams, so it can
    never appear in the exact set, and only such docs' candidates
    differ between the paths)."""
    from pond_spark.dedup import (
        gram_hashes,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )

    def harness(cand):
        exact = ngram_jaccard_pairs(
            edge_docs, block_col="lang", threshold=0.8, n=3, base=base
        )
        return sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in exact.join(
                cand.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
            ).collect()
        )

    base = gram_hashes(edge_docs, n=3, carry_cols=("lang",)).persist()
    legacy_mh = minhash_lsh_pairs(edge_docs, threshold=0.8, n=3)
    shared_mh = minhash_lsh_pairs(
        edge_docs, threshold=0.8, n=3,
        grams_df=base.select("doc_id", "_grams"),
    )
    assert harness(shared_mh) == harness(legacy_mh)
    legacy_sh = simhash_near_pairs(
        edge_docs, max_hamming=12, n=3, block_col="lang"
    )
    shared_sh = simhash_near_pairs(
        edge_docs, max_hamming=12, n=3, block_col="lang",
        hashes_df=base.select("doc_id", "lang", "_grams"),
    )
    assert harness(shared_sh) == harness(legacy_sh)
    # the harness must be non-trivially populated (dup pairs exist)
    assert harness(shared_mh), "fixture lost its planted near-dups"
    base.unpersist()


def test_minhash_catalog_grams_mode_query_invariant(edge_docs, tmp_path):
    """Catalog register/near_candidates in grams mode: candidates
    match the default path exactly on >= n-word docs; the contract
    query's semi-join output is identical."""
    from pond_spark.dedup import MinHashCatalog, gram_hashes, ngram_jaccard_pairs

    base = gram_hashes(edge_docs, n=3, carry_cols=("lang",)).persist()
    even = F.col("doc_id") % 2 == 0

    def run(path, grams_mode):
        cat = MinHashCatalog(edge_docs.sparkSession, str(path), n=3)
        if grams_mode:
            cat.register(None, grams=base.filter(even))
            cand = cat.near_candidates(None, grams=base.filter(~even))
        else:
            cat.register(edge_docs.filter(even))
            cand = cat.near_candidates(edge_docs.filter(~even))
        return {(r.new_id, r.old_id) for r in cand.collect()}

    default_cand = run(tmp_path / "cat_default", False)
    grams_cand = run(tmp_path / "cat_grams", True)
    # grams-mode candidates are a subset; the difference involves only
    # sub-n-word docs (ids 5..10 in the fixture)
    assert grams_cand <= default_cand
    assert all(
        a >= 5 or b >= 5 for (a, b) in default_cand - grams_cand
    )
    # query-level: exact cross-run pairs ⋉ candidates is unchanged
    exact = ngram_jaccard_pairs(
        edge_docs, block_col="lang", threshold=0.8, n=3, base=base
    )
    odd_a = F.col("id_a") % 2 == 1
    cross = exact.filter(
        (F.col("id_a") % 2) != (F.col("id_b") % 2)
    ).select(
        F.when(odd_a, F.col("id_a")).otherwise(F.col("id_b")).alias("new_id"),
        F.when(odd_a, F.col("id_b")).otherwise(F.col("id_a")).alias("old_id"),
        "jaccard",
    )
    spark = edge_docs.sparkSession

    def semi(cand_set):
        cdf = spark.createDataFrame(
            list(cand_set) or [(None, None)], "new_id long, old_id long"
        )
        return sorted(
            (r.new_id, r.old_id, r.jaccard)
            for r in cross.join(cdf, ["new_id", "old_id"], "left_semi").collect()
        )

    assert semi(grams_cand) == semi(default_cand)
    base.unpersist()

"""Similarity-search tests: brute-force correctness, LSH recall."""

from __future__ import annotations

import math
import random

import pytest

from pond_spark.similarity import brute_force_topk, embedding_near_pairs, lsh_topk
from pond_spark.similarity.brute import knn_join


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(7)
    dim = 16
    rows = []
    for i in range(100):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # plant two vectors nearly identical to vector 0
    base = rows[0][1]
    rows.append((100, [x + 0.01 for x in base]))
    rows.append((101, [x * 1.001 for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def py_cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_brute_force_matches_python(vectors):
    rows = {r.vec_id: r.embedding for r in vectors.collect()}
    q = rows[0]
    expected = sorted(
        ((round(py_cosine(v, q), 6), -i) for i, v in rows.items()),
        reverse=True,
    )[:5]
    got = brute_force_topk(vectors, q, k=5).collect()
    assert [r.vec_id for r in got] == [-e[1] for e in expected]
    for r, e in zip(got, expected):
        assert abs(r.cosine - e[0]) < 1e-9
    # the planted near-dups rank directly behind the query vector itself
    assert {got[0].vec_id, got[1].vec_id, got[2].vec_id} == {0, 100, 101}


def test_lsh_topk_recall(vectors):
    rows = {r.vec_id: r.embedding for r in vectors.collect()}
    q = rows[0]
    brute = [r.vec_id for r in brute_force_topk(vectors, q, k=5).collect()]
    approx = [r.vec_id for r in lsh_topk(vectors, q, k=5, nbits=4).collect()]
    # near-identical vectors share every sign bit with the query →
    # guaranteed same bucket → the top hits must be recalled
    assert set(brute[:3]) <= set(approx)


def test_embedding_near_pairs_finds_planted(vectors):
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_pairs(vectors, dim=16, threshold=0.999, nbits=4).collect()
    }
    assert (0, 100) in pairs and (0, 101) in pairs and (100, 101) in pairs


def test_knn_join(vectors):
    small = vectors.filter("vec_id in (0, 100, 101, 5, 6)")
    out = knn_join(small, small, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append((r.nid, r.cosine))
    for q, ns in by_q.items():
        # self always scores 1.0; rank-1 must score 1.0 too (ties with
        # an exactly-parallel vector break by id, e.g. 101's top is 0)
        assert ns[0][1] == 1.0
        # the query's own row is in its list UNLESS an exactly-parallel
        # vector with a smaller id crowded it out of the top-k — in
        # that case every listed neighbor ties at cosine 1.0
        assert q in {n for n, _ in ns} or all(c == 1.0 for _, c in ns)
        assert len(ns) == 2
    # non-parallel vectors 5 and 6 rank themselves first
    assert by_q[5][0][0] == 5
    assert by_q[6][0][0] == 6


def test_knn_join_guards_large_right_side(vectors):
    """The broadcast-cartesian scale-killer refuses big right sides
    (VERDICT r1 item 7); an explicit max_right_rows override lets a
    knowing caller proceed."""
    import pytest

    small = vectors.filter("vec_id in (0, 100, 101)")
    with pytest.raises(ValueError, match="scale-killer"):
        knn_join(small, vectors, k=2, max_right_rows=10)
    # same call, explicit override: runs
    assert knn_join(small, vectors, k=2, max_right_rows=10**6).count() == 6


def test_cross_scores_guard_boundary_fuzz(spark, vectors):
    """Property-fuzz the limit-probe guard (VERDICT r5 ask #6): for
    120 randomized (right_rows, max_right_rows) pairs around the
    boundary, cross_scores must refuse iff right_rows > max — an
    off-by-one in the limit(max+1) probe would show up here. The
    non-raising branch stays lazy, so each case costs one tiny count
    job."""
    import random

    import pytest

    from pond_spark.similarity.brute import cross_scores

    rng = random.Random(0xC0FFEE)
    left = vectors.filter("vec_id = 0")
    total = vectors.count()
    for _ in range(120):
        n = rng.randint(1, min(20, total))
        # max around the boundary: n-2 .. n+2, floor 1
        m = max(1, n + rng.randint(-2, 2))
        right = vectors.limit(n)
        if n > m:
            with pytest.raises(ValueError, match="scale-killer"):
                cross_scores(left, right, max_right_rows=m)
        else:
            # must NOT raise; plan construction + guard probe only
            cross_scores(left, right, max_right_rows=m)


def test_ivf_topk_recall(vectors):
    """IVF with all lists probed == brute force; with nprobe=4/8 the
    planted near-dups of vector 0 must still be found when querying
    with vector 0's embedding."""
    from pond_spark.similarity import brute_force_topk, ivf_topk

    q = [r.embedding for r in vectors.filter("vec_id = 0").collect()][0]
    exact = [r.vec_id for r in brute_force_topk(vectors, q, k=5).collect()]
    full = [
        r.vec_id
        for r in ivf_topk(vectors, q, k=5, n_centroids=8, nprobe=8).collect()
    ]
    assert full == exact  # probing every list degenerates to brute force
    probed = [
        r.vec_id
        for r in ivf_topk(vectors, q, k=5, n_centroids=8, nprobe=4).collect()
    ]
    # the planted near-identical vectors live in the query's own list
    assert {0, 100, 101} <= set(probed)


def test_ivf_assign_is_deterministic(vectors):
    from pond_spark.similarity import ivf_assign, train_centroids

    c1 = train_centroids(vectors, n_centroids=4)
    c2 = train_centroids(vectors, n_centroids=4)
    assert c1 == c2
    a = ivf_assign(vectors, c1).select("vec_id", "ivf_list").collect()
    assert all(0 <= r.ivf_list < 4 for r in a)


def test_ivf_index_build_search_prunes_partitions(vectors, tmp_path):
    """Persisted IVF index: search results equal the in-query ivf_topk
    (same centroids → same lists → same rounded cosine), and the
    ivf_list IN-filter prunes at the PARTITION level — the plan must
    show partition filters, not a full scan of all lists."""
    from pond_spark.plans import formatted_plan
    from pond_spark.similarity.index import IVFIndex, build_ivf_index
    from pond_spark.similarity.ivf import ivf_topk, train_centroids

    q = [0.5] * 16
    cent = train_centroids(vectors, n_centroids=4, sample_n=102)
    idx = build_ivf_index(
        vectors, str(tmp_path / "ivf"), n_centroids=4, centroids=cent
    )
    got = idx.search(q, k=5, nprobe=2).collect()
    want = ivf_topk(vectors, q, k=5, nprobe=2, centroids=cent).collect()
    assert [(r.vec_id, r.cosine) for r in got] == [
        (r.vec_id, r.cosine) for r in want
    ]

    plan = formatted_plan(idx.search(q, k=5, nprobe=2))
    assert "PartitionFilters" in plan and "ivf_list" in plan, plan

    # reopening from disk restores the quantizer
    idx2 = IVFIndex(vectors.sparkSession, str(tmp_path / "ivf"))
    assert idx2.centroids == cent
    assert idx2.read().count() == 102


def test_semantic_pairs_find_planted(vectors):
    """SemDeDup: the planted near-identical vectors (0, 100, 101) land
    in one cluster and pair at cosine ~1."""
    from pond_spark.similarity.semdedup import semantic_pairs

    pairs = semantic_pairs(
        vectors, threshold=0.95, n_centroids=4, sample_n=102
    ).collect()
    got = {(r.keep_id, r.drop_id) for r in pairs}
    assert {(0, 100), (0, 101), (100, 101)} <= got
    assert all(r.keep_id < r.drop_id for r in pairs)
    assert all(r.cosine >= 0.95 for r in pairs)


def test_semantic_dedup_keeps_min_id(vectors):
    from pond_spark.similarity.semdedup import semantic_dedup

    kept = {
        r.vec_id
        for r in semantic_dedup(
            vectors, threshold=0.95, n_centroids=4, sample_n=102
        ).collect()
    }
    # 100 and 101 duplicate 0 → dropped; 0 survives
    assert 0 in kept and 100 not in kept and 101 not in kept
    assert len(kept) == 100


def test_semantic_pairs_cluster_cap(vectors):
    """cluster_cap=1 removes every cluster from pairing → no pairs."""
    from pond_spark.similarity.semdedup import semantic_pairs

    assert (
        semantic_pairs(
            vectors, threshold=0.0, n_centroids=4, sample_n=102, cluster_cap=1
        ).count()
        == 0
    )


def test_pq_encode_shape_and_determinism(vectors):
    from pond_spark.similarity.pq import pq_encode, train_pq

    books = train_pq(vectors, m=4, ksub=8, sample_n=64)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 4
    coded = pq_encode(vectors, books).select("vec_id", "pq_code")
    a = {r.vec_id: r.pq_code for r in coded.collect()}
    b = {r.vec_id: r.pq_code for r in coded.collect()}
    assert a == b
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in a.values())
    # near-identical vectors quantize to the same code word
    assert a[0] == a[100] == a[101]


def test_pq_topk_recall(vectors):
    from pond_spark.similarity.pq import pq_topk

    rows = {r.vec_id: r.embedding for r in vectors.collect()}
    q = rows[0]
    brute = [r.vec_id for r in brute_force_topk(vectors, q, k=5).collect()]
    approx = pq_topk(vectors, q, k=5, m=4, ksub=8, refine=4, sample_n=64)
    got = [r.vec_id for r in approx.collect()]
    # the planted near-dups share the query's code word -> ADC ranks
    # them at the top of the shortlist; exact re-rank must recall them
    assert set(brute[:3]) <= set(got)
    # re-ranked scores are exact cosines in descending order
    scores = [r.cosine for r in approx.collect()]
    assert scores == sorted(scores, reverse=True)


def test_ivfpq_index_adc_search(vectors, tmp_path):
    """IVFPQ: build stores pq_code next to each vector; search_adc
    prunes partitions AND ranks the shortlist from the code column
    alone (the ADC scan's ReadSchema must not include the vector
    column), then re-ranks exactly — the planted near-dups of the
    query vector must come back on top."""
    from pond_spark.plans import formatted_plan
    from pond_spark.similarity.index import IVFIndex, build_ivf_index

    rows = {r.vec_id: r.embedding for r in vectors.collect()}
    q = rows[0]
    idx = build_ivf_index(
        vectors, str(tmp_path / "ivfpq"), n_centroids=4, sample_n=102,
        pq_m=4, pq_ksub=8,
    )
    got = idx.search_adc(q, k=5, nprobe=2, refine=4).collect()
    assert {got[0].vec_id, got[1].vec_id, got[2].vec_id} == {0, 100, 101}
    scores = [r.cosine for r in got]
    assert scores == sorted(scores, reverse=True)

    # the ADC shortlist stage reads codes, not vectors: assert on the
    # scan schema of the shortlist plan alone
    books = idx.pq_codebooks
    from pyspark.sql import functions as F

    from pond_spark.similarity.pq import adc_cosine_expr

    shortlist = (
        idx.read()
        .filter(F.col("ivf_list").isin([0, 1]))
        .select("vec_id", adc_cosine_expr(F.col("pq_code"), books, q).alias("adc"))
    )
    plan = formatted_plan(shortlist)
    readschema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert readschema and all("embedding" not in l for l in readschema), plan

    # reopen restores the codebooks; flat search still works
    idx2 = IVFIndex(vectors.sparkSession, str(tmp_path / "ivfpq"))
    assert idx2.pq_codebooks == books
    assert idx2.search(q, k=3, nprobe=2).count() == 3


def test_ivf_index_append_no_retrain(vectors, tmp_path):
    """Appended vectors are assigned with the STORED quantizer and
    become searchable; existing rows are untouched."""
    from pond_spark.similarity.index import build_ivf_index

    idx = build_ivf_index(
        vectors, str(tmp_path / "ivf_app"), n_centroids=4, sample_n=102,
        pq_m=4, pq_ksub=8,
    )
    q = [r.embedding for r in vectors.filter("vec_id = 0").collect()][0]
    before = idx.read().count()
    extra = vectors.sparkSession.createDataFrame(
        [(500, [x + 0.005 for x in q])], "vec_id long, embedding array<double>"
    )
    idx.append(extra)
    assert idx.read().count() == before + 1
    # the appended near-dup of the query lands in the searched lists
    got = [r.vec_id for r in idx.search_adc(q, k=5, nprobe=2).collect()]
    assert 500 in got and 0 in got


def test_ivf_index_compact_merges_append_files(vectors, tmp_path):
    """Repeated appends accumulate small files; compact merges each
    oversized list to its byte-warranted file count without changing
    a single search result."""
    import glob as _glob

    from pond_spark.similarity.index import build_ivf_index

    idx = build_ivf_index(
        vectors, str(tmp_path / "ivf_c"), n_centroids=4, sample_n=102
    )
    q = [r.embedding for r in vectors.filter("vec_id = 0").collect()][0]
    extra = vectors.sparkSession.createDataFrame(
        [(600 + i, [x + 0.001 * i for x in q]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    for i in range(4):
        idx.append(extra.filter(f"vec_id = {600 + i}"))
    before = idx.search(q, k=8, nprobe=4).collect()
    nfiles_before = len(_glob.glob(str(tmp_path / "ivf_c" / "*" / "*.parquet")))
    report = idx.compact()
    nfiles_after = len(_glob.glob(str(tmp_path / "ivf_c" / "*" / "*.parquet")))
    assert report and nfiles_after < nfiles_before
    after = idx.search(q, k=8, nprobe=4).collect()
    assert [(r.vec_id, r.cosine) for r in before] == [
        (r.vec_id, r.cosine) for r in after
    ]


def test_hard_negative_pairs_same_cluster_no_self(vectors):
    from pond_spark.similarity.ivf import ivf_assign, train_centroids
    from pond_spark.similarity.negatives import hard_negative_pairs

    cent = train_centroids(vectors, n_centroids=4, sample_n=102)
    out = hard_negative_pairs(vectors, k=2, centroids=cent).collect()
    clusters = {
        r.vec_id: r.c
        for r in ivf_assign(vectors, cent, out_col="c").collect()
    }
    assert out, "expected pairs"
    for r in out:
        assert r.anchor_id != r.negative_id
        assert clusters[r.anchor_id] == clusters[r.negative_id] == r.cluster
        assert r.negative_id > r.anchor_id  # lead over id order
        assert r.offset in (1, 2)
    # deterministic across runs
    again = hard_negative_pairs(vectors, k=2, centroids=cent).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # the planted near-dups of vector 0 share its cluster -> they pair
    pairs = {(r.anchor_id, r.negative_id) for r in out}
    assert any(a in (0, 100, 101) and b in (0, 100, 101) for a, b in pairs)


def test_lsh_multiprobe_knob_widens_candidates(vectors):
    """Regression (r4 review): multiprobe was multiplied by nbits so
    every value >= 1 probed ALL flip neighbors. Now it is the count of
    query-directed 1-bit flips: 0 = exact bucket only, higher values
    only ADD candidates, None = all flips (the old behavior)."""
    q = [(i % 5) / 5.0 for i in range(16)]

    def ids(mp):
        return {
            r.vec_id
            for r in lsh_topk(
                vectors, q, k=50, nbits=4, multiprobe=mp
            ).collect()
        }

    exact = ids(0)
    two = ids(2)
    alln = ids(None)
    assert exact <= two <= alln
    assert len(alln) > len(exact)  # flips really add buckets here


def test_zero_norm_embeddings_are_inert(spark):
    """Regression (r4 review): a zero embedding aborted cosine queries
    under ANSI mode (DIVIDE_BY_ZERO) or, with ANSI off, scored NaN —
    which passes >= filters and sorts FIRST in top-k. Zero vectors now
    get NULL cosine: excluded from pairs and never in the top-k."""
    rows = [(0, [0.0] * 8)] + [
        (i, [(i + j) % 5 / 4.0 + 0.1 for j in range(8)]) for i in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [0.5] * 8
    top = brute_force_topk(df, q, k=10, vec_col="embedding").collect()
    assert 0 not in {r.vec_id for r in top}
    assert all(r.cosine is not None for r in top)

    pairs = embedding_near_pairs(df, dim=8, threshold=0.5, nbits=2).collect()
    assert all(0 not in (r.id_a, r.id_b) for r in pairs)

    out = knn_join(df.filter("vec_id > 0"), df, k=3).collect()
    assert all(r.nid != 0 for r in out)


def test_bitext_margin_suppresses_hub(spark):
    """The ratio margin must prefer a mutually-exclusive near-identical
    pair over a hub vector that is moderately close to EVERY source —
    raw cosine alone would sometimes pick the hub (Artetxe & Schwenk's
    motivating failure)."""
    from pond_spark.similarity.bitext import bitext_mine

    def v(x, y):
        return [float(x), float(y)] + [0.0] * 6

    src = spark.createDataFrame(
        [(1, v(1, 0)), (2, v(0, 1)), (3, v(0.8, -0.6))],
        "vec_id long, embedding array<float>",
    )
    # t11 ~ s1, t12 ~ s2, t13 ~ s3, hub equally close to s1 and s2
    tgt = spark.createDataFrame(
        [(11, v(0.99, 0.01)), (12, v(0.01, 0.99)),
         (13, v(0.79, -0.61)), (99, v(0.72, 0.69))],
        "vec_id long, embedding array<float>",
    )
    out = {r.sid: r for r in bitext_mine(
        src, tgt, k=2, margin_threshold_bp=0
    ).collect()}
    assert out[1].tid == 11
    assert out[2].tid == 12
    assert out[3].tid == 13
    # determinism
    again = {r.sid: r.tid for r in bitext_mine(
        src, tgt, k=2, margin_threshold_bp=0
    ).collect()}
    assert again == {s: r.tid for s, r in out.items()}


def test_embedding_catalog_incremental(spark, tmp_path):
    """Cross-run semantic near-dedup: run 2 probes run 1's bucket keys
    without re-bucketing run 1; a near-identical vector collides, an
    orthogonal one passes filter_new; re-probes are idempotent."""
    from pond_spark.similarity.catalog import EmbeddingCatalog

    from pyspark.sql import functions as F

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (8 - len(xs))

    run1 = spark.createDataFrame(
        [(1, v(1, 0)), (2, v(0, 1))], "vec_id long, embedding array<float>"
    )
    run2 = spark.createDataFrame(
        [(11, v(0.99, 0.01)), (12, v(-1, -1))],
        "vec_id long, embedding array<float>",
    )
    cat = EmbeddingCatalog(spark, str(tmp_path / "ecat"), dim=8, nbits=6)
    cat.register(run1)
    cand = {(r.new_id, r.old_id) for r in cat.near_candidates(run2).collect()}
    assert (11, 1) in cand  # near-parallel to run 1's vector 1
    fresh = {r.vec_id for r in cat.filter_new(run2).collect()}
    assert 11 not in fresh
    # idempotency: registered vectors produce no self-pairs
    assert cat.near_candidates(run1).filter(
        F.col("new_id") == F.col("old_id")
    ).count() == 0


def test_embedding_catalog_gate_vs_near_pairs(spark, tmp_path, vectors):
    """Table 0 reproduces embedding_near_pairs' candidate stage at
    equal nbits/seed: any cross near-pair the in-query bucket join
    finds implies a catalog collision, so filter_new survivors are
    disjoint from the in-query pair set."""
    from pond_spark.similarity import embedding_near_pairs
    from pond_spark.similarity.catalog import EmbeddingCatalog

    olds = vectors.filter("vec_id < 100")
    news = vectors.filter("vec_id >= 100")
    cat = EmbeddingCatalog(spark, str(tmp_path / "ecat2"), dim=16, nbits=4)
    cat.register(olds)
    fresh = {r.vec_id for r in cat.filter_new(news).collect()}
    pairs = embedding_near_pairs(vectors, dim=16, threshold=0.0, nbits=4)
    crossed = {
        max(r.id_a, r.id_b)
        for r in pairs.collect()
        if (r.id_a < 100) != (r.id_b < 100)
    }
    assert fresh.isdisjoint(crossed)


def test_embedding_catalog_params_pinned_and_compact(spark, tmp_path):
    import glob

    import pytest as _pytest
    from pyspark.sql import functions as F

    from pond_spark.similarity.catalog import EmbeddingCatalog

    path = str(tmp_path / "ecat3")
    rows = [
        (i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cat = EmbeddingCatalog(spark, path, dim=8, nbits=4, n_tables=2)
    for i in range(3):
        cat.register(df.filter(F.col("vec_id") % 3 == i))
    with _pytest.raises(ValueError, match="incomparable"):
        EmbeddingCatalog(spark, path, dim=8, nbits=6, n_tables=2)

    # near-copy of vec 0 ([(0*7+j)%5-2 ...]) so it shares its buckets
    probe = spark.createDataFrame(
        [(50, [x + 0.01 for x in rows[0][1]])],
        "vec_id long, embedding array<float>",
    )
    before = {(r.new_id, r.old_id) for r in cat.near_candidates(probe).collect()}
    files_before = len(glob.glob(path + "/part-*"))
    cat.compact()
    assert len(glob.glob(path + "/part-*")) < files_before
    after = {(r.new_id, r.old_id) for r in cat.near_candidates(probe).collect()}
    assert before == after and before


def test_embedding_catalog_verified_gate(spark, tmp_path):
    """VERDICT r8 #2: the exact-cosine verify leg. At tiny nbits the
    bucket gate false-drops unrelated vectors (shared bucket, low
    cosine); with store_vectors=True + verify_cos the drop decision is
    the exact cosine against the persisted vectors, so only TRUE
    near-dups drop regardless of bucket occupancy."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pond_spark.similarity.catalog import (
        EmbeddingCatalog, GateOvershootError,
    )

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (8 - len(xs))

    # nbits=1: 2 buckets/table — everything collides with something
    run1 = spark.createDataFrame(
        [(1, v(1, 0)), (2, v(0, 1))], "vec_id long, embedding array<float>"
    )
    run2 = spark.createDataFrame(
        [(11, v(0.99, 0.01)),        # true near-dup of 1
         (12, v(0.6, -0.8)),         # unrelated (cos<=0.6 to both)
         (13, None)],                # NULL always passes
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "vcat")
    cat = EmbeddingCatalog(
        spark, path, dim=8, nbits=1, n_tables=2, store_vectors=True
    )
    cat.register(run1)
    # bucket gate at nbits=1 drops the unrelated vector too
    bucket_fresh = {r.vec_id for r in cat.filter_new(run2).collect()}
    assert 11 not in bucket_fresh and 13 in bucket_fresh
    # verified gate: only the true near-dup drops
    fresh = {
        r.vec_id
        for r in cat.filter_new(run2, verify_cos=0.9).collect()
    }
    assert fresh == {12, 13}
    # the verify leg needs the vector store
    nocat = EmbeddingCatalog(spark, str(tmp_path / "nv"), dim=8, nbits=1)
    nocat.register(run1)
    with _pytest.raises(ValueError, match="store_vectors"):
        nocat.filter_new(run2, verify_cos=0.9)
    # a pre-r9 sidecar (no store_vectors key) opens as False
    import json as _json
    side = _json.loads((tmp_path / "nv.params.json").read_text())
    side.pop("store_vectors")
    (tmp_path / "nv.params.json").write_text(_json.dumps(side))
    EmbeddingCatalog(spark, str(tmp_path / "nv"), dim=8, nbits=1)  # no raise

    # occupancy guard: nbits=1 with both buckets occupied predicts
    # ~100% false drops — gate_check warns without a bound, refuses
    # with one, and advise() sizes the gate explicitly
    assert cat.predicted_gate_overshoot() > 0.5
    with _pytest.warns(UserWarning, match="false-drop"):
        cat.gate_check()
    with _pytest.raises(GateOvershootError, match="exceeds the bound"):
        cat.filter_new(run2, max_overshoot=0.05)
    rep = cat.advise()
    assert rep["predicted_gate_overshoot_ppm"] > 500_000
    assert rep["recommended_gate_nbits"] >= 4
    # expire keeps key store and vector store in lockstep
    path2 = str(tmp_path / "vcat2")
    cat2 = EmbeddingCatalog(
        spark, path2, dim=8, nbits=1, n_tables=2, store_vectors=True
    )
    cat2.register(run1, run_ts=1_000)
    cat2.register(
        spark.createDataFrame(
            [(3, v(-1, 0))], "vec_id long, embedding array<float>"
        ),
        run_ts=2_000,
    )
    cat2.expire(before_ts=1_500)
    assert spark.read.parquet(path2 + ".vectors").select(
        "vec_id"
    ).distinct().count() == 1
    # verified probe of the evicted content re-admits it
    fresh2 = {
        r.vec_id
        for r in cat2.filter_new(
            run1.withColumn("vec_id", F.col("vec_id") + 100),
            verify_cos=0.9,
        ).collect()
    }
    assert fresh2 == {101, 102}


def test_curate_run_embedding_verified_gate(spark, tmp_path):
    """The pipeline wiring (pipeline._CatalogGate): emb_verify_cos turns
    the cross-run semantic gate into the verified mode — unrelated
    vectors survive a saturated bucket space; emb_max_overshoot makes
    the verify-less mode refuse loudly instead."""
    import pytest as _pytest

    from pond_spark.pipeline import CurationConfig, curate_run, final_corpus_path
    from pond_spark.similarity.catalog import GateOvershootError

    good = "clean prose with plenty of ordinary readable words " * 3

    def day(path, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, embedding array<float>"
        ).write.mode("overwrite").parquet(str(path))
        return str(path)

    e1 = [1.0, 0.0, 0.0, 0.0]
    e1b = [0.99, 0.01, 0.0, 0.0]   # near-dup of e1
    e2 = [0.6, -0.8, 0.0, 0.0]     # unrelated
    d1 = day(tmp_path / "d1", [(1, good + "one", e1)])
    d2 = day(tmp_path / "d2", [(2, good + "two", e1b),
                               (3, good + "three", e2)])
    cat = str(tmp_path / "ecat")
    cfg = CurationConfig(
        min_words=10, stages=("quality",),
        extra={"emb_dim": 4, "emb_nbits": 1, "emb_tables": 2,
               "emb_verify_cos": 0.9},
    )
    curate_run(spark, d1, str(tmp_path / "w1"), cfg,
               embedding_catalog_path=cat)
    r2 = curate_run(spark, d2, str(tmp_path / "w2"), cfg,
                    embedding_catalog_path=cat)
    kept = {
        r.doc_id
        for r in spark.read.parquet(final_corpus_path(r2)).collect()
    }
    assert kept == {3}  # near-dup gated, unrelated survived nbits=1
    # verify-less mode at the same nbits refuses via the bound
    cfg_refuse = CurationConfig(
        min_words=10, stages=("quality",),
        extra={"emb_dim": 4, "emb_nbits": 1, "emb_tables": 2,
               "emb_store_vectors": True,  # same sidecar, bucket probe
               "emb_max_overshoot": 0.05},
    )
    with _pytest.raises(GateOvershootError):
        curate_run(spark, d2, str(tmp_path / "w3"), cfg_refuse,
                   embedding_catalog_path=cat)


def test_bitext_ann_full_probe_equals_exact(spark):
    """With nbits=1 and multiprobe=1 every source row probes both
    buckets, so the ANN candidate set is the full cross matrix and
    bitext_mine_ann must EQUAL bitext_mine exactly — same margin
    arithmetic over the same scores."""
    from pond_spark.similarity.bitext import bitext_mine, bitext_mine_ann

    emb = [
        (i, [float((i * 13 + j * 5) % 9 - 4) for j in range(8)])
        for i in range(24)
    ]
    src = spark.createDataFrame(
        emb[:12], "vec_id long, embedding array<float>"
    )
    tgt = spark.createDataFrame(
        emb[12:], "vec_id long, embedding array<float>"
    )
    exact = sorted(
        (r.sid, r.tid, r.cos_q, r.margin_bp)
        for r in bitext_mine(src, tgt, k=3, margin_threshold_bp=0).collect()
    )
    ann = sorted(
        (r.sid, r.tid, r.cos_q, r.margin_bp)
        for r in bitext_mine_ann(
            src, tgt, dim=8, k=3, margin_threshold_bp=0,
            nbits=1, multiprobe=1,
        ).collect()
    )
    assert ann == exact
    assert len(exact) > 0


def test_bitext_margin_small_neighborhood_counts(spark):
    """A side with fewer than k neighbors must be averaged over its
    ACTUAL neighbor count (ADVICE r5): with one source and two
    targets at k=4, sum_s covers 2 terms and each sum_t covers 1 —
    the margin is cos/((avg_s+avg_t)/2), not the fixed-2k-deflated
    value."""
    from pond_spark.similarity.bitext import bitext_mine

    src = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    tgt = spark.createDataFrame(
        [(11, [1.0, 0.0]), (12, [0.8, 0.6])],
        "vec_id long, embedding array<float>",
    )
    rows = bitext_mine(src, tgt, k=4, margin_threshold_bp=0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.sid, r.tid) == (1, 11)
    # cosines: (1,11)=1.0, (1,12)=0.8 -> cos_q 1_000_000 / 800_000
    # sum_s=1_800_000 cnt_s=2; sum_t(11)=1_000_000 cnt_t=1
    # margin = 1e6 * 2e4 * 2 * 1 div (1.8e6*1 + 1e6*2) = 10526
    assert r.cos_q == 1_000_000
    assert r.margin_bp == (
        1_000_000 * 2 * 10_000 * 2 * 1
        // (1_800_000 * 1 + 1_000_000 * 2)
    )


def test_bitext_all_integer_projection(spark):
    """Hashed columns are integers end to end — no float crosses a
    row boundary (the PERF_NOTES grouping-order rule)."""
    from pond_spark.similarity.bitext import bitext_mine

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
         for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    df = bitext_mine(
        emb.filter("vec_id < 10"), emb.filter("vec_id >= 10"),
        k=3, margin_threshold_bp=0,
    )
    kinds = dict(df.dtypes)
    assert kinds == {"sid": "bigint", "tid": "bigint",
                     "cos_q": "bigint", "margin_bp": "bigint"}
    assert df.count() > 0


def test_ivf_index_zero_query_returns_empty(spark, tmp_path):
    """Regression (r6 review): a zero-norm query has no cosine to any
    vector — the serving path must return empty like the in-query twin
    (ivf_topk), not k arbitrary rows scored 0.0."""
    from pond_spark.similarity.index import IVFIndex, build_ivf_index
    from pond_spark.similarity.ivf import ivf_topk

    rows = [
        (i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_zero")
    build_ivf_index(df, path, n_centroids=4, pq_m=4)
    idx = IVFIndex(spark, path)
    zero = [0.0] * 8
    assert idx.search(zero, k=5).count() == 0
    assert idx.search_adc(zero, k=5).count() == 0
    assert ivf_topk(df, zero, k=5, n_centroids=4).count() == 0  # the twin


def test_lloyd_centroids_empty_sample_raises_clearly():
    import pytest as _pytest

    from pond_spark.similarity.ivf import lloyd_centroids

    with _pytest.raises(ValueError, match="empty training sample"):
        lloyd_centroids([], n_centroids=4)


def test_embedding_catalog_bucketed_vector_sibling(spark, tmp_path):
    """Round-10 #3: ``vector_buckets`` hash-buckets the verify
    corpus's files on vec_id, so the verified gate's payload join
    plans with the vector scan bucketed and one fewer shuffle than
    the plain sibling — identical survivors either way."""
    from pyspark.sql import functions as F

    from pond_spark.plans.inspect import count_exchanges, formatted_plan
    from pond_spark.similarity.catalog import EmbeddingCatalog

    rows = [
        (i, [float((i * 13 + j) % 7 - 3) for j in range(8)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    run1 = emb.filter(F.col("vec_id") % 2 == 0)
    run2 = emb.filter(F.col("vec_id") % 2 == 1)

    plain = EmbeddingCatalog(
        spark, str(tmp_path / "vp"), dim=8, nbits=2, n_tables=1,
        store_vectors=True,
    )
    bucketed = EmbeddingCatalog(
        spark, str(tmp_path / "vb"), dim=8, nbits=2, n_tables=1,
        store_vectors=True, vector_buckets=4,
    )
    plain.register(run1)
    bucketed.register(run1)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out_p = plain.filter_new(run2, verify_cos=0.9)
        out_b = bucketed.filter_new(run2, verify_cos=0.9)
        assert "Bucketed: true" in formatted_plan(out_b)
        assert count_exchanges(out_b) < count_exchanges(out_p)
        assert (
            {r.vec_id for r in out_b.collect()}
            == {r.vec_id for r in out_p.collect()}
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # the sibling params are pinned: reopening without buckets refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="incomparable"):
        EmbeddingCatalog(
            spark, str(tmp_path / "vb"), dim=8, nbits=2, n_tables=1,
            store_vectors=True,
        )


def test_embedding_register_shares_one_timestamp(spark, tmp_path):
    """ADVICE r9: the bucket rows and their verify vectors must carry
    the SAME registration stamp — separately-resolved clocks let an
    expire horizon fall between them and evict vectors whose bucket
    keys survive (silent re-admission)."""
    from pond_spark.similarity.catalog import EmbeddingCatalog

    cat = EmbeddingCatalog(
        spark, str(tmp_path / "ts"), dim=8, nbits=2, n_tables=2,
        store_vectors=True,
    )
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    cat.register(emb)  # wall-clock path (no run_ts)
    bucket_ts = {r.registered_ts for r in cat._read().collect()}
    vec_ts = {r.registered_ts for r in cat._vstore.read().collect()}
    assert len(bucket_ts) == 1 and bucket_ts == vec_ts


def test_rhp_gate_coefficient_dim_aware(spark, tmp_path):
    """Round-10 #1: the gate-sizing coefficient is a measured per-dim
    curve (tools/gate_dim_calibration.py), monotone non-increasing in
    dim, anchored at the r9-validated dim=64 value; advise() surfaces
    it and derives both gate- and verify-mode nbits from it."""
    from pond_spark.similarity.catalog import (
        EmbeddingCatalog, rhp_gate_coefficient,
    )

    c16, c64, c128, c256, c1024 = (
        rhp_gate_coefficient(d) for d in (16, 64, 128, 256, 1024)
    )
    assert c16 > c64 > c128 > c256 > c1024  # finite-dim cost falls
    assert abs(c64 - 1.27) < 1e-9  # the r9-validated anchor
    assert rhp_gate_coefficient(8) == c16      # clamped below
    assert rhp_gate_coefficient(4096) == c1024  # clamped above

    cat = EmbeddingCatalog(
        spark, str(tmp_path / "adv"), dim=16, nbits=4, n_tables=1
    )
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 - 2) for j in range(16)])
         for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    cat.register(emb)
    stats = cat.advise()
    assert stats["gate_sizing_coefficient"] == round(c16, 4)
    # verify-mode sizing sits BELOW the gate sizing (epsilon=1 vs
    # 0.05: ~coef*log2(20) fewer planes) and both cap at min(dim, 63)
    assert stats["recommended_verify_nbits"] <= stats["recommended_gate_nbits"]
    assert stats["recommended_gate_nbits"] <= 16
    # at dim=16 and 300 vectors the uncapped want exceeds dim
    assert stats["gate_nbits_capped_by_dim"] is True


def _hof_rhp_bucket(vec, planes):
    """Reference RHP signature as a JVM expression: per plane, the HOF
    fold of ``brute._dot`` (ascending index, double) against literal
    plane values, bit i set when that dot is ``>= 0``. A NULL dot
    (NULL vector, null element, wrong length) falls to ``otherwise``."""
    from pyspark.sql import functions as F

    out = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in p]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(dot >= 0, F.lit(1 << i).cast("long")).otherwise(0)
    return out


def test_rhp_bucket_bit_exact(spark):
    """rhp_bucket's Arrow kernel must equal the HOF fold bit for bit —
    catalogs pin bucket keys across runs. Random vectors plus the
    degenerate rows, in float32, double and bigint frames."""
    from pyspark.sql import functions as F

    from pond_spark.plans import formatted_plan
    from pond_spark.similarity import lsh

    rng = random.Random(0xB17)
    sizes = ((64, 4), (64, 6), (16, 8), (64, 24), (256, 28), (1024, 20))
    for dim, nbits in sizes:
        rnd = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(300)]
        degenerate = {
            9001: None,
            9002: [0.5] * (dim - 1),                     # wrong length
            9003: [math.nan] + [0.1] * (dim - 1),        # NaN element
            9004: [None] + [0.1] * (dim - 1),            # null element
            9005: [math.inf] + [0.1] * (dim - 1),
            9006: [math.inf, -math.inf] + [0.1] * (dim - 2),
            9007: [3e38] * dim,
            9008: [0.0] * dim,
        }
        big = [
            [rng.randint(-(1 << 60), 1 << 60) for _ in range(dim)]
            for _ in range(50)
        ]
        frames = {
            "float": (rnd, degenerate),
            "double": (rnd, {**degenerate, 9009: [1e308] * dim}),
            "bigint": (big, {
                9001: None,
                9002: [3] * (dim + 1),
                9004: [7] * (dim - 1) + [None],
                9008: [0] * dim,
                9010: [(1 << 53) + 1] * dim,  # rounds like long -> double
            }),
        }
        planes = lsh.hyperplanes(dim, nbits)
        for etype, (vecs, extra) in frames.items():
            rows = list(enumerate(vecs)) + list(extra.items())
            df = spark.createDataFrame(
                rows, f"vec_id long, embedding array<{etype}>"
            )
            out = lsh.rhp_bucket(df, dim, nbits).withColumn(
                "ref", _hof_rhp_bucket(F.col("embedding"), planes)
            )
            assert "ArrowEvalPython" in formatted_plan(out)
            got = {r.vec_id: (r.bucket, r.ref) for r in out.collect()}
            diff = sorted(k for k, (b, ref) in got.items() if b != ref)
            assert not diff, (dim, nbits, etype, [(k, got[k]) for k in diff[:3]])
            # NULL, wrong length and null element make a NULL dot -> 0;
            # a NaN dot passes >= 0 in Spark, so NaN sets every bit
            assert got[9001][0] == got[9002][0] == got[9004][0] == 0
            if etype != "bigint":
                assert got[9003][0] == (1 << nbits) - 1


def test_rhp_bucket_keys_pinned(spark):
    """Bucket keys computed by the HOF and pandas signature paths that
    preceded the Arrow kernel: a catalog registered then probes the
    same buckets now."""
    from pond_spark.similarity.lsh import rhp_bucket

    rng = random.Random(20240917)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    expected = {
        6: [8, 20, 39, 33, 30, 49, 22, 35],
        32: [1148246472, 723639316, 3880204327, 6468513,
             2917267998, 2215784753, 2760181526, 2752637603],
    }
    for nbits, keys in expected.items():
        out = rhp_bucket(df, 64, nbits).orderBy("vec_id").collect()
        assert [r.bucket for r in out] == keys, nbits


def test_rhp_bucket_refuses_bad_nbits(spark, vectors):
    """A signature needs 1..64 bits and lsh_topk cannot probe a bucket
    with bit 63 set: both refuse on the driver. 64-bit signatures
    still compute, bit 63 wrapping to the sign bit."""
    from pond_spark.similarity.lsh import rhp_bucket

    for bad in (0, -3, 65):
        with pytest.raises(ValueError, match="nbits"):
            rhp_bucket(vectors, 16, bad)
    with pytest.raises(ValueError, match="nbits"):
        lsh_topk(vectors, [1.0] * 16, nbits=64)
    df = spark.createDataFrame(
        [(0, [math.nan] * 16), (1, [0.0] * 16)],
        "vec_id long, embedding array<double>",
    )
    assert [r.bucket for r in rhp_bucket(df, 16, 64).collect()] == [-1, -1]


def _jvm_cross_scores(left, right):
    """Reference ``(qid, nid, cosine)`` frame: ``cosine_similarity`` (the
    HOF fold) over an explicit cross join, NULL cosines dropped."""
    from pyspark.sql import functions as F

    from pond_spark.similarity.brute import cosine_similarity

    l = left.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("_a"))
    r = right.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("_b"))
    return (
        l.crossJoin(r)
        .select(
            "qid",
            "nid",
            cosine_similarity(F.col("_a"), F.col("_b")).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
    )


def _score_map(df):
    rows = df if isinstance(df, list) else df.collect()
    return {
        (r.qid, r.nid): "nan" if math.isnan(r.cosine) else r.cosine
        for r in rows
    }


def _score_bag(rows):
    """``(qid, nid, cosine)`` multiset: keeps repeated keys apart."""
    from collections import Counter

    return Counter(
        (r.qid, r.nid, "nan" if math.isnan(r.cosine) else r.cosine)
        for r in rows
    )


def test_cross_scores_vectorized_bit_exact(spark):
    """cross_scores' Arrow/numpy fold must equal the JVM HOF fold
    (cosine_similarity over a cross join) row for row: random vectors
    plus the degenerate rows (NULL vector, null element, NaN, +-inf,
    zero norm, squares that overflow to inf, lengths off by one) in
    double and float32, and int / bigint / decimal elements — bigints
    beyond 2^53 round to nearest like Java's long -> double."""
    from decimal import Decimal

    from pond_spark.similarity.brute import cross_scores

    rng = random.Random(0xC05)
    dim = 8

    # (q, r) pairs whose cosine sits on a 6-decimal rounding boundary:
    # summing the products in any other order flips the rounded value
    boundary = [
        (
            [-0.5424746012490332, 0.8905413911078446, 0.8028549152229671,
             -0.9388200339328929, -0.9491082780130784, 0.08282494558699316,
             0.8782983255570211, -0.23759152462357513],
            [-0.5668012057387732, -0.15576684883456537, -0.9419184248502641,
             -0.5566166674539299, -0.12422481269885588, -0.008375517236298702,
             -0.5338310994848547, -0.5382669169180314],
        ),
        (
            [-0.562437827068626, -0.08079306852453283, -0.42043677081902886,
             -0.9570205894681822, 0.6751559513251457, 0.11290864530486688,
             0.28458872586489115, -0.6281874682105646],
            [0.9850868243521302, 0.7198930575905798, -0.7582200803883872,
             -0.3346096292797418, 0.44296881516653674, 0.4223835393905593,
             0.8728811735989193, -0.15578600007716958],
        ),
        (
            [-0.25059381061057534, -0.12207673991087375, 0.016852976499963646,
             0.5568852300002916, 0.041876835226290376, -0.21348981007154788,
             -0.02061295907548355, -0.9408500720661859],
            [-0.9130254192869451, 0.406764177207672, 0.9663754346193478,
             0.18636746076011512, -0.21280062724417204, -0.6593016062886374,
             0.004477116866966169, 0.9641532750770685],
        ),
    ]

    def float_side(base: int, big: float, pick: int):
        rows = [
            (base + i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(30)
        ]
        rows += [
            (base + 100, None),
            (base + 101, [None] + [0.1] * (dim - 1)),
            (base + 102, [math.nan] + [0.1] * (dim - 1)),
            (base + 103, [math.inf] + [0.1] * (dim - 1)),
            (base + 104, [-math.inf] + [0.1] * (dim - 1)),
            (base + 105, [0.0] * dim),
            (base + 106, [big] * dim),
            (base + 107, [0.3] * (dim - 1)),
            (base + 108, [0.2] * (dim + 1)),
            (base + 109, [rng.uniform(-1, 1) for _ in range(dim + 1)]),
        ]
        return rows + [(base + 110 + i, b[pick]) for i, b in enumerate(boundary)]

    def exact_side(base: int, num):
        def vec(n):
            return [num(rng.uniform(-1, 1)) for _ in range(n)]

        rows = [(base + i, vec(dim)) for i in range(30)]
        return rows + [
            (base + 100, None),
            (base + 101, [None] + vec(dim - 1)),
            (base + 105, [num(0.0)] * dim),
            (base + 107, vec(dim - 1)),
            (base + 108, vec(dim + 1)),
            (base + 109, vec(dim + 1)),
        ]

    big_ints = [[2**53 + 1] + [3] * (dim - 1), [2**53 + 3] * dim,
                [-(2**63), 2**63 - 1] + [1] * (dim - 2)]
    cases = {
        # float32 cannot hold 1e200: use its own overflow-prone magnitude
        "double": (float_side(0, 1e200, 0), float_side(1000, 1e200, 1)),
        "float": (float_side(0, 1e30, 0), float_side(1000, 1e30, 1)),
        "int": tuple(
            exact_side(b, lambda x: int(x * 1000)) for b in (0, 1000)
        ),
        "bigint": tuple(
            exact_side(b, lambda x: int(x * 2**62))
            + [(b + 120 + i, v) for i, v in enumerate(big_ints)]
            for b in (0, 1000)
        ),
        "decimal(10,3)": tuple(
            exact_side(b, lambda x: Decimal(f"{x * 1000:.3f}")) for b in (0, 1000)
        ),
    }
    for elem, (lrows, rrows) in cases.items():
        schema = f"vec_id long, embedding array<{elem}>"
        left = spark.createDataFrame(lrows, schema)
        right = spark.createDataFrame(rrows, schema)
        jvm = _score_map(_jvm_cross_scores(left, right))
        vec = _score_map(cross_scores(left, right))
        diff = sorted(set(vec.items()) ^ set(jvm.items()), key=str)
        assert vec == jvm, (elem, diff[:5])
        # null vector/element and zero-norm rows never score
        assert not {(0, 1100), (101, 1000), (105, 1000)} & jvm.keys()
        # a length mismatch never scores; equal odd lengths do
        assert (108, 1000) not in jvm and (108, 1109) in jvm
        if elem in ("double", "float"):
            assert "nan" in jvm.values()
        if elem == "bigint":
            assert {(120, 1121), (122, 1120)} <= jvm.keys()


def _fold_cos(a, b):
    """knn_join's unrounded cosine with the engine's arithmetic: each
    sum folded left to right in double."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def test_knn_join_fused_topk_matches_jvm(spark):
    """knn_join's fused path (the Arrow kernel keeps each left row's
    top-k superset, the JVM ranks it) must equal an all-JVM rank —
    cosine_similarity over a cross join, row_number over (cosine desc,
    nid asc) — row for row: an exact tie, a rounding-level tie and a
    tie with NULL right ids (which a window sorts first) at the k-th
    slot, cosines either side of a 6-decimal rounding
    boundary there, NaN / +-inf / null-element / zero-norm / short /
    long / NULL vectors, mixed lengths, and k larger than the right
    side. The rounding-level tie is the case that fails if the kernel
    prunes at the k-th best cosine without a margin."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    dim = 8
    rng = random.Random(0xF05E)

    def plane(i, a, b):
        """a*e_i + b*e_(i+1): rows built in disjoint coordinate planes
        score exactly 0 against each other's queries."""
        v = [0.0] * dim
        v[i], v[i + 1] = a, b
        return v

    # rounding-level tie against e0: r_a (nid 1001) is unrounded lower
    # than r_b (nid 1002), yet both round to the same 6 decimals, so
    # the nid puts r_a at rank 2
    e0 = plane(0, 1.0, 0.0)
    r_a, r_b = plane(0, 1.0, 0.5000003), plane(0, 1.0, 0.5)
    c_a, c_b = _fold_cos(e0, r_a), _fold_cos(e0, r_b)
    assert c_a < c_b and round(c_a, 6) == round(c_b, 6)
    # rounding boundary against e2: bisect b for cos(e2, (1, b)) = boundary
    boundary, lo, hi = 0.8944275, 0.4, 0.6
    e2 = plane(2, 1.0, 0.0)
    for _ in range(200):
        mid = (lo + hi) / 2
        if _fold_cos(e2, plane(2, 1.0, mid)) > boundary:
            lo = mid
        else:
            hi = mid
    r_up, r_dn = plane(2, 1.0, lo - 1e-9), plane(2, 1.0, hi + 1e-9)
    assert _fold_cos(e2, r_dn) < boundary < _fold_cos(e2, r_up)

    # fillers live in the last plane: cosine 0 against the designed queries
    right = [
        (i, plane(6, rng.uniform(-1, 1), rng.uniform(-1, 1))) for i in range(250)
    ]
    right += [
        (1000, e0), (1001, r_a), (1002, r_b),
        (1010, e2), (1011, r_dn), (1012, r_up),
        (1020, plane(4, 1.0, 0.0)),
        (1021, plane(4, 1.0, 0.5)),
        (1022, plane(4, 1.0, 0.5)),
        # against e5: 1024 first, then NULL, NULL, 1023 tied — a
        # window's nid asc puts the NULL ids first
        (None, plane(4, 0.5, 1.0)),
        (1023, plane(4, 0.5, 1.0)),
        (None, plane(4, 0.5, 1.0)),
        (1024, plane(4, 0.0, 1.0)),
        (1100, None),
        (1101, [None] + [0.1] * (dim - 1)),
        (1102, [0.0] * dim),
        (1103, [0.3] * (dim - 1)),
        (1104, [1e200] * dim),
    ]
    right += [
        (1110 + i, [rng.uniform(-1, 1) for _ in range(dim + 1)]) for i in range(3)
    ]
    poison = [
        (1200, [math.nan] + [0.1] * (dim - 1)),
        (1201, [math.inf] + [0.1] * (dim - 1)),
        (1202, [-math.inf] + [0.1] * (dim - 1)),
    ]
    left = [(0, e0), (1, e2), (2, plane(4, 1.0, 0.0)), (3, plane(4, 0.0, 1.0))]
    left += [(10 + i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(30)]
    left += [
        (100, None),
        (101, [None] + [0.1] * (dim - 1)),
        (102, [math.nan] + [0.1] * (dim - 1)),
        (103, [math.inf] + [0.1] * (dim - 1)),
        (104, [-math.inf] + [0.1] * (dim - 1)),
        (105, [0.0] * dim),
        (106, [0.3] * (dim - 1)),
        (107, [1e200] * dim),
        (108, [rng.uniform(-1, 1) for _ in range(dim + 1)]),
        (109, [rng.uniform(-1, 1) for _ in range(dim + 1)]),
    ]
    schema = "vec_id long, embedding array<double>"
    ldf = spark.createDataFrame(left, schema)

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid").asc())

    for rows in (right, right + poison):
        rdf = spark.createDataFrame(rows, schema)
        for k in (2, 400):
            fused_df = knn_join(ldf, rdf, k=k)
            plan = fused_df._jdf.queryExecution().executedPlan().toString()
            assert "MapInArrow" in plan
            fused_rows = fused_df.collect()
            jvm_rows = (
                _jvm_cross_scores(ldf, rdf)
                .withColumn("_rank", F.row_number().over(w))
                .filter(F.col("_rank") <= k)
                .collect()
            )
            fused, jvm = _score_map(fused_rows), _score_map(jvm_rows)
            diff = sorted(set(fused.items()) ^ set(jvm.items()), key=str)
            assert fused == jvm, (len(rows), k, diff[:6])
            # the NULL nids are two rows each: compare as multisets too
            assert _score_bag(fused_rows) == _score_bag(jvm_rows)
            if k == 2 and len(rows) == len(right):
                # the designed slots really sit at rank k
                assert {(0, 1000), (0, 1001)} <= jvm.keys()
                assert (0, 1002) not in jvm
                assert jvm[(1, 1012)] == 0.894428
                assert (1, 1011) not in jvm
                assert {(2, 1020), (2, 1021)} <= jvm.keys()
                assert (2, 1022) not in jvm
                # one of the tied NULL ids takes the k-th slot
                assert {(3, 1024), (3, None)} <= jvm.keys()
                assert (3, 1023) not in jvm
                assert _score_bag(jvm_rows)[(3, None, 0.894427)] == 1
            if k == 400:
                # k past the right side: every scorable pair is kept
                assert jvm[(1, 1011)] == 0.894427
                # long and short rows score only against their own length
                assert (108, 1110) in jvm
                assert (106, 1103) in jvm


def test_knn_join_side_actions_never_scan_the_left(spark):
    """knn_join runs exactly one SQL execution before its ranked
    action: the right side's (id, vector) toArrow, which is also the
    row-cap guard. It never reads the left (the caller's query
    batch). The ranked action itself is one Spark job."""
    rng = random.Random(11)
    right = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    left = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(8)],
        "batch_qid long, embedding array<double>",
    )
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def latest(n):
        """The newest ``n`` SQL executions, oldest first. The store keeps
        a bounded number, so counts stop growing in a long session."""
        bus.waitUntilEmpty()
        total = store.executionsCount()
        seq = store.executionsList(max(0, total - n), min(total, n))
        return [seq.apply(i) for i in range(seq.size())]

    def since(before):
        return [e for e in latest(10) if e.executionId() > before]

    before = max([e.executionId() for e in latest(1)], default=-1)
    out = knn_join(left, right, k=3, left_id="batch_qid")
    plans = [e.physicalPlanDescription() for e in since(before)]
    assert len(plans) == 1, plans
    # the right side's (nid, vector) collect, no separate count
    assert "_nv" in plans[0] and "count(" not in plans[0], plans
    assert "batch_qid" not in plans[0], plans
    # the ranking runs in the scoring stage: no shuffle, no window,
    # and the ranked collect is one Spark job
    ranked = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in ranked and "Window" not in ranked, ranked
    before = max(e.executionId() for e in latest(1))
    assert len(out.collect()) == 8 * 3
    (action,) = since(before)
    assert action.jobs().size() == 1, action.physicalPlanDescription()


def test_knn_join_ranks_each_left_row_apart(spark):
    """Each left row gets its own k neighbours: rows that share an id,
    or have a NULL id, are never merged into one top-k — in one
    partition or spread over several."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rng = random.Random(0xD0B)
    dim, k = 6, 3
    schema = "vec_id long, embedding array<double>"

    def vec():
        return [rng.uniform(-1, 1) for _ in range(dim)]

    right = spark.createDataFrame([(i, vec()) for i in range(40)], schema)
    a, b = vec(), vec()
    lrows = [(7, a), (7, a), (7, b), (None, a), (None, b), (8, b)]
    # reference: rank each left row by its position, then report its id
    by_pos = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(lrows)], schema
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid").asc())
    want = _score_bag(
        Row(**(r.asDict() | {"qid": lrows[r.qid][0]}))
        for r in _jvm_cross_scores(by_pos, right)
        .withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .collect()
    )
    assert sum(want.values()) == len(lrows) * k
    left = spark.createDataFrame(lrows, schema)
    for parts in (left.coalesce(1), left.repartition(3)):
        got = _score_bag(knn_join(parts, right, k=k).collect())
        assert got == want, sorted((got - want) + (want - got), key=str)


def test_cross_scores_unguarded_collect_is_capped(spark, vectors):
    """cross_scores' one collect reads at most max_right_rows + 1 right
    rows and refuses beyond that, instead of an unbounded toArrow onto
    the driver."""
    from pond_spark.similarity.brute import cross_scores

    left = vectors.filter("vec_id < 3")
    n = vectors.count()
    with pytest.raises(ValueError, match="exceeds max_right_rows"):
        cross_scores(left, vectors, max_right_rows=n - 1)
    big = spark.range(300).selectExpr(
        "id AS vec_id", "array(1.0D, CAST(id AS DOUBLE)) AS embedding"
    )
    with pytest.raises(ValueError, match="exceeds max_right_rows"):
        cross_scores(left.limit(1), big, max_right_rows=299)
    out = cross_scores(left, vectors, max_right_rows=n)
    assert out.count() == 3 * n


def test_ivf_index_works_on_schemed_paths(vectors, tmp_path):
    """build_ivf_index writes, and IVFIndex reads, the quantizer meta
    through the path's filesystem: a ``file:`` URI (which builtin
    open() cannot address) builds, reopens and searches."""
    from pond_spark.similarity.index import IVFIndex, build_ivf_index

    path = f"file:{tmp_path}/ivf_schemed"
    idx = build_ivf_index(vectors, path, n_centroids=4, sample_n=102)
    again = IVFIndex(vectors.sparkSession, path)
    assert again.centroids == idx.centroids
    q = [0.5] * 16
    assert [r.vec_id for r in again.search(q, k=5, nprobe=2).collect()] == [
        r.vec_id for r in idx.search(q, k=5, nprobe=2).collect()
    ]

"""The shared gate-catalog base (pond_spark.catalog.GateCatalog) under
MinHashCatalog and EmbeddingCatalog: occupancy counts distinct ids per
key, so a storage-only compact() never moves a gate result, and a
capped advise() runs one histogram pass."""

from __future__ import annotations

import random

import pytest


def _minhash(spark, path):
    from pond_spark.dedup.minhash import MinHashCatalog

    old = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over the lazy dog {i % 2}")
         for i in range(10)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog 0")
         for i in range(2)],
        "doc_id long, text string",
    )
    return MinHashCatalog(spark, path, n=3), old, new


def _emb(spark, path):
    from pond_spark.similarity.catalog import EmbeddingCatalog

    rng = random.Random(5)
    # a tight cluster of 10 (one bucket per table) plus scattered
    # vectors that leave singleton buckets
    hub = [[1.0 + 0.01 * rng.random() for _ in range(8)] for _ in range(10)]
    spread = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(12)]
    old = spark.createDataFrame(
        list(enumerate(hub + spread)), "vec_id long, embedding array<double>"
    )
    new = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(hub[:2] + spread[:2])],
        "vec_id long, embedding array<double>",
    )
    return EmbeddingCatalog(spark, path, dim=8, nbits=4), old, new


@pytest.mark.parametrize("family", ["minhash", "emb"])
def test_compact_never_changes_gate_results(spark, tmp_path, family):
    """Register the same batch twice, so every key row is stored twice:
    the capped candidate join, the capped advisory and the embedding
    overshoot prediction are the same before and after compact(),
    which merges the twins. The cap (15) sits between the hub's
    distinct ids (10) and its raw rows (20)."""
    cat, old, new = {"minhash": _minhash, "emb": _emb}[family](
        spark, str(tmp_path / family)
    )
    cat.register(old, run_ts=1)
    cat.register(old, run_ts=2)

    def observe():
        pairs = sorted(
            tuple(r) for r in cat.near_candidates(new, max_bucket_size=15)
            .collect()
        )
        adv = cat.advise(max_bucket_size=15)
        adv.pop("ts", None)
        over = cat.predicted_gate_overshoot() if family == "emb" else None
        return pairs, adv, over

    before = observe()
    assert before[0], "the hub must produce candidate pairs"
    assert before[1]["hot_buckets"] == 0
    cat.compact()
    assert observe() == before


def test_advise_with_a_cap_runs_one_histogram_pass(spark, tmp_path):
    """advise(max_bucket_size=N) needs no cap recommendation, so it runs
    one SQL execution (the capped histogram); without a cap it runs
    two (the uncapped pass picks the cap)."""
    cat, old, _ = _minhash(spark, str(tmp_path / "mh"))
    cat.register(old)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def newest_id():
        bus.waitUntilEmpty()
        total = store.executionsCount()
        seq = store.executionsList(max(0, total - 1), min(total, 1))
        return max((seq.apply(i).executionId() for i in range(seq.size())),
                   default=-1)

    def executions(call):
        before = newest_id()
        call()
        return newest_id() - before

    assert executions(lambda: cat.advise(max_bucket_size=16)) == 1
    assert executions(lambda: cat.advise()) == 2

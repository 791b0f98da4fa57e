"""Plan-quality assertions: the scale guarantees SURVEY.md §4 maps to
Catalyst must actually appear in the physical plans — filters reach the
Parquet scan, small dims broadcast, aggregates combine map-side, scans
prune columns, and shuffle counts stay at the plan minimum. These are
the properties that keep the same code fast at 100 TB."""

from __future__ import annotations

import pytest

from pond_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregate,
    has_sort_merge_join,
    pushed_filters,
    read_schema_columns,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def test_pricing_summary_pushdown_partial_agg_single_shuffle(spark, entry):
    df = entry.queries()["pricing_summary"](spark, SF)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    assert has_partial_aggregate(df)
    # scan → partial agg → one exchange → final agg: exactly 1 shuffle
    assert count_exchanges(df) == 1, formatted_plan(df)
    # column pruning: only the 7 referenced lineitem columns are read
    (cols,) = read_schema_columns(df)
    assert len(cols) == 7, cols


def test_top_revenue_join_broadcasts_dims(spark, entry):
    df = entry.queries()["top_revenue_join"](spark, SF)
    assert has_broadcast_join(df)
    # the fact table must not be sort-merge-joined
    assert not has_sort_merge_join(df), formatted_plan(df)
    # predicate pushdown into both dim scans
    pushed = pushed_filters(df)
    assert any("c_mktsegment" in p for p in pushed), pushed
    assert any("o_orderdate" in p for p in pushed), pushed


def test_scan_window_filter_reaches_scan(spark, entry):
    df = entry.queries()["scan_window"](spark, SF)
    # site/timestamp predicates cannot ALL push (coalesce(site,'')
    # wraps site), but the time range must reach the scan
    plan = formatted_plan(df)
    assert "ts" in str(pushed_filters(df)) or "GreaterThanOrEqual" in str(
        pushed_filters(df)
    ), plan


def test_last_is_limit_1_not_global_sort(spark, entry):
    df = entry.queries()["last"](spark, SF)
    # reverse seek maps to TakeOrderedAndProject, not a full Sort
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_accumulate_top_uses_take_ordered(spark, entry):
    df = entry.queries()["accumulate_top"](spark, SF)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert has_partial_aggregate(df)


def test_geoip_broadcasts_range_dim(spark, entry):
    df = entry.queries()["geoip"](spark, SF)
    # the bucketed range join must plan as a broadcast HASH join —
    # a nested-loop probe would be O(rows × ranges) against a real
    # ~400k-range GeoIP table
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not has_sort_merge_join(df)


def test_resolve_forwarded_broadcasts_lut(spark, entry):
    df = entry.queries()["resolve_forwarded"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_dedup_exact_partial_agg(spark, entry):
    df = entry.queries()["dedup_exact"](spark, SF)
    assert has_partial_aggregate(df)


def test_minhash_no_cartesian(spark, entry):
    df = entry.queries()["minhash_pairs"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_no_cartesian(spark, entry):
    df = entry.queries()["ngram_jaccard"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_media_meta_stays_jvm_side(spark, entry):
    # metadata extraction must not cross into Python: no
    # ArrowEvalPython / BatchEvalPython stages in the plan
    df = entry.queries()["media_meta"](spark, SF)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan


def test_format_one_line_is_pure_projection(spark, entry):
    df = entry.queries()["format_one_line"](spark, SF)
    assert count_exchanges(df) == 0, formatted_plan(df)


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory, entry):
    """Co-located join: bucketing both sides on the join key at write
    time removes the Exchange entirely — the cluster-wide fact shuffle
    becomes a file-local merge."""
    import uuid

    from pond_spark.sources import read_table, write_bucketed

    suffix = uuid.uuid4().hex[:8]
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    write_bucketed(li, f"li_b_{suffix}", ["l_orderkey"], buckets=8)
    write_bucketed(orders, f"ord_b_{suffix}", ["o_orderkey"], buckets=8)

    # disable broadcast so the join must co-locate on the bucket spec
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lt = read_table(spark, f"li_b_{suffix}")
        ot = read_table(spark, f"ord_b_{suffix}")
        j = lt.join(ot, lt.l_orderkey == ot.o_orderkey)
        assert count_exchanges(j) == 0, formatted_plan(j)
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS li_b_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS ord_b_{suffix}")


def test_time_rollup_partial_agg_single_shuffle(spark, entry):
    df = entry.queries()["time_rollup"](spark, SF)
    assert has_partial_aggregate(df)
    assert count_exchanges(df) == 1, formatted_plan(df)


def test_daily_uniques_expands_two_level(spark, entry):
    # count(distinct) must plan as partial-dedup + count, not a
    # single-reducer global dedup
    df = entry.queries()["daily_uniques"](spark, SF)
    assert has_partial_aggregate(df)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 3, plan


def test_asof_join_single_shuffle(spark, entry):
    df = entry.queries()["asof_join"](spark, SF)
    # union + one window partitioned by key: exactly one shuffle
    assert count_exchanges(df) == 1, formatted_plan(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_promo_revenue_broadcast_single_shuffle(spark, entry):
    df = entry.queries()["promo_revenue"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)
    assert has_partial_aggregate(df)
    assert count_exchanges(df) == 1, formatted_plan(df)


def test_pack_shards_no_global_window_on_table(spark, entry):
    """The full-table prefix sum must run per-bucket (partitioned
    window); the only un-partitioned window is over the tiny bucket
    totals. A `Window ... Exchange SinglePartition` directly over the
    table scan would be the single-task sort scale-killer."""
    df = entry.queries()["pack_shards"](spark, SF)
    plan = formatted_plan(df)
    # bucket offsets join back via broadcast, not a shuffle join
    assert has_broadcast_join(df), plan
    # exactly one SinglePartition exchange (bucket totals), not two —
    # the per-row window partitions on the bucket key instead
    assert plan.count("SinglePartition") == 1, plan


def test_chunk_documents_is_shuffle_free(spark, entry):
    """Chunking claims embarrassing parallelism: tokenize → sequence →
    explode → slice with no joins or windows — the plan must contain
    ZERO exchanges beyond the fan-out repartition of the one-file scan
    (which disappears on a real cluster)."""
    from pond_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = chunk_documents(docs, chunk_tokens=64, overlap=8)
    assert count_exchanges(df) == 0, formatted_plan(df)


def test_tfidf_partial_aggregates(spark, entry):
    """Both groupBys (per-(doc, term) TF and per-term DF) must combine
    map-side before their shuffles."""
    df = entry.queries()["tfidf_keywords"](spark, SF)
    assert has_partial_aggregate(df), formatted_plan(df)


def test_corpus_profile_two_level_distinct(spark, entry):
    """One groupBy over per-row derived columns. The exact
    count-distinct digest forces Spark's two-level distinct plan —
    partial by (group, digest), exchange, then the final group merge —
    so exactly TWO exchanges and map-side partials, never a third."""
    from pond_spark.operators.profile import corpus_profile

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = corpus_profile(docs)
    assert count_exchanges(df) == 2, formatted_plan(df)
    assert has_partial_aggregate(df), formatted_plan(df)


def test_bm25_partial_aggregates_and_broadcast_stats(spark, entry):
    """BM25: the TF/DF/doc-length groupBys combine map-side; the
    single-row corpus-stats frame joins as a broadcast, never a
    sort-merge."""
    df = entry.queries()["bm25_search"](spark, SF)
    plan = formatted_plan(df)
    assert has_partial_aggregate(df), plan
    assert has_broadcast_join(df), plan


def test_nb_classify_broadcasts_class_dims(spark, entry):
    """Naive Bayes: the classes/priors and vocab-size dims are tiny
    and must broadcast; only the (word, class) count table shuffles."""
    df = entry.queries()["nb_classify"](spark, SF)
    plan = formatted_plan(df)
    assert has_broadcast_join(df), plan
    assert has_partial_aggregate(df), plan


def test_image_dhash_pairs_no_cartesian(spark, entry):
    """The perceptual-hash pair join goes through the pigeonhole
    chunk keys — never a cartesian/broadcast-nested-loop product."""
    df = entry.queries()["media_dhash_pairs"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_group_site_broadcasts_site_rank(spark, entry):
    """Q5's ranked-sites frame must BROADCAST back onto the fact table
    (VERDICT r4 ask #4): the fact scan feeds the join with no exchange
    on the fact side, no SortMergeJoin anywhere, and the only
    exchanges are the two site-cardinality aggregations plus the final
    range exchange for the contract (site_rank, ts, id) order."""
    df = entry.queries()["group_site"](spark, SF)
    plan = formatted_plan(df)
    assert not has_sort_merge_join(df), plan
    assert has_broadcast_join(df), plan
    # first-seen groupBy + matched-sites distinct + final sort = 3;
    # a regression that shuffles the fact table for the join adds a 4th
    assert count_exchanges(df) == 3, plan


def test_window_offset_fuses_into_take_ordered(spark, entry):
    """Q4 max@skip pagination must compile to ONE TakeOrderedAndProject
    (limit+offset fused per-partition top-k, no global sort exchange) —
    the shape that stays cheap when the filter matches 10^9 rows."""
    from pond_spark.filters import FilterSpec
    from pond_spark.query import Query
    from pond_spark.schema import events_as_logs

    logs = events_as_logs(spark, SF)
    df = (
        Query(logs)
        .filter(FilterSpec(sites=frozenset({"site-001"})))
        .window(max=50, skip=10)
        .to_df()
    )
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert count_exchanges(df) == 0, plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0], plan


def test_window_skip_without_limit_is_global_sort(spark, entry):
    """The unlimited-max + skip corner is the one Q4 shape that NEEDS
    the global order (offset over the full stream): expect exactly the
    range exchange + Sort + CollectLimit, nothing more."""
    from pond_spark.filters import FilterSpec
    from pond_spark.query import Query
    from pond_spark.schema import events_as_logs

    logs = events_as_logs(spark, SF)
    df = (
        Query(logs)
        .filter(FilterSpec(sites=frozenset({"site-001"})))
        .window(max=(1 << 40), skip=5)
        .to_df()
    )
    plan = formatted_plan(df)
    assert "CollectLimit" in plan, plan
    assert count_exchanges(df) == 1, plan


def test_dsir_broadcasts_ratio_table(spark, entry):
    """DSIR's scoring join must broadcast the n_buckets-row ratio
    table onto the per-(doc, bucket) counts — a SortMergeJoin here
    would shuffle the corpus-sized side on a 256-value key."""
    df = entry.queries()["dsir_weights"](spark, SF)
    assert has_broadcast_join(df), formatted_plan(df)
    assert not has_sort_merge_join(df), formatted_plan(df)
    assert has_partial_aggregate(df)


def test_pack_sequences_single_bucket_exchange(spark, entry):
    """FFD packing must shuffle ONCE on the bucket key (the
    applyInPandas group exchange) and ship only (id, n_tokens) into
    it — never the text, and never a global sort."""
    from pond_spark.functions.text import token_count
    from pond_spark.operators.seqpack import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from pyspark.sql import functions as F

    packed = pack_sequences(
        docs.select("doc_id", token_count(F.col("text"))), 256, n_buckets=16
    )
    plan = formatted_plan(packed)
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan, plan
    assert count_exchanges(packed) == 1, plan
    assert "SinglePartition" not in plan, plan
    # column pruning: the exchange carries no text column
    assert "text" not in plan.split("Exchange", 1)[1].split("Scan", 1)[0], plan


def test_quality_outliers_broadcast_model_scoring(spark, entry):
    """The normal-equation sums are ONE map-side-combinable aggregate;
    the four determinants broadcast back so scoring the corpus is
    map-only — no sort-merge join, and the only global sort is the
    bounded top-k (TakeOrdered), not a full Sort. Audited with the
    model checkpoint off (the contract query checkpoints the 1-row
    model so the sums scan runs once for its two consumers)."""
    from pyspark.sql import functions as F

    from pond_spark.functions.linreg import linreg_outliers
    from pond_spark.functions.text import bpe_token_count, token_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    feats = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("t_ws"),
        bpe_token_count(F.col("text")).alias("t_bpe"),
        F.col("n_chars"),
    )
    df = linreg_outliers(
        feats, "t_ws", "t_bpe", "n_chars", "doc_id", checkpoint_model=False
    )
    plan = formatted_plan(df)
    assert has_broadcast_join(df), plan
    assert not has_sort_merge_join(df), plan
    assert has_partial_aggregate(df), plan
    assert "TakeOrderedAndProject" in plan, plan
    # the contract query's plan shows the checkpoint boundary instead
    cdf = entry.queries()["quality_outliers"](spark, SF)
    cplan = formatted_plan(cdf)
    assert "ExistingRDD" in cplan or "LogicalRDD" in cplan, cplan


def test_read_schema_columns_handles_nested_types(spark, tmp_path):
    """Regression (r6 review): a lazy `(.*?)>` capture stopped at the
    FIRST '>' of any nested type, silently dropping every column after
    an array/struct column — pruning assertions then passed/failed
    vacuously. The depth scan must return all top-level columns."""
    from pond_spark.plans import read_schema_columns

    p = str(tmp_path / "nested")
    spark.createDataFrame(
        [(1, ["a", "b"], "s0", 2.5)],
        "id long, tags array<string>, site string, score double",
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).select("id", "tags", "site", "score")
    cols = read_schema_columns(df.filter("id > 0"))
    assert cols and set(cols[0]) == {"id", "tags", "site", "score"}

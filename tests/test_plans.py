"""Physical-plan property tests: the 100 TB design assertions.

A correct answer with a bad plan fails at scale, so the plan IS part of the
contract: filters must reach the parquet scan, projections must prune the
read schema, dimension joins must broadcast, and hot paths must stay out of
row-at-a-time Python. These tests freeze those properties for the headline
queries so a refactor can't silently regress them.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from fund_data_pipeline_spark.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].spark(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 7 referenced columns — no full-width scan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_comment" not in read_schema
    # partial + final aggregate (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2


def test_top_unshipped_orders_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top_unshipped_orders")
    assert plan.count("BroadcastHashJoin") >= 1  # no sort-merge on a dim join
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    # top-k via TakeOrderedAndProject, never a global sort of the agg output
    assert "TakeOrderedAndProject" in plan


def test_regional_supplier_volume_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "regional_supplier_volume")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "pricing_summary",
        "text_statistics",
        "exact_dedup",
        "embedding_topk_cosine",
        "doc_chunking",
        "language_rebalance_mixture",
    ],
)
def test_headline_hot_paths_stay_jvm_side(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    # no Python evaluation anywhere in a headline plan: row-at-a-time UDFs
    # show as BatchEvalPython, Arrow stages as ArrowEvalPython/MapInPandas
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan
    assert "Scan parquet" in plan  # columnar source, not an RDD conversion


def test_asof_join_is_single_pass(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "asof_last_click_before_purchase")
    # as-of via union + window: exactly one window sort, no self-join blowup
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-bucketed tables join with zero shuffles — the 100 TB merge layout."""
    import contextlib, io

    from fund_data_pipeline_spark import bucketing

    a = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn("va", F.col("k") * 2)
    b = spark.range(500, 1500).withColumnRenamed("id", "k").withColumn("vb", F.col("k") * 3)
    bucketing.write_bucketed(a, "bt_a", ["k"], n_buckets=4)
    bucketing.write_bucketed(b, "bt_b", ["k"], n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the planner must pick the shuffle-or-bucket
        # path — at real scale both sides are far beyond any broadcast limit
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketing.cobucketed_join(spark, "bt_a", "bt_b", ["k"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan  # neither side shuffles
        assert "Bucketed: true" in plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_fact_dim_broadcast_hints_bounded_dims_only(spark, sf_dir):
    """Hard broadcast hints are reserved for dims bounded at every SF
    (nation=25 rows, region=5). customer/supplier sizing is left to AQE —
    a forced broadcast of a 15M-row customer table at sf100 is an
    executor-OOM, while AQE still broadcasts it when genuinely small."""
    for name, n_hints in (("nation_pair_revenue", 2), ("regional_supplier_volume", 2)):
        df = QUERIES[name].spark(spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint (strategy=broadcast)") == n_hints, name


def test_bucketed_merge_shuffles_batch_only(spark, tmp_path):
    """The daily-merge scale shape: a full-outer MERGE against a bucketed
    target must reuse the bucket layout (zero target-side Exchange); the one
    remaining Exchange is the O(batch) shuffle of the source."""
    import contextlib, io

    from fund_data_pipeline_spark import bucketing
    from fund_data_pipeline_spark.merge import merge_as_dataframe

    t = (
        spark.range(0, 10_000)
        .withColumnRenamed("id", "k")
        .withColumn("v", F.col("k") * 2)
        .withColumn("row_hash", F.md5(F.col("k").cast("string")))
    )
    src = (
        spark.range(9_000, 11_000)
        .withColumnRenamed("id", "k")
        .withColumn("v", F.col("k") * 3)
        .withColumn("row_hash", F.md5((F.col("k") + 1).cast("string")))
    )
    import shutil
    for name in ("bm_target", "bm_target_v2"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)
    bucketing.write_bucketed(t, "bm_target", ["k"], n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        merged = merge_as_dataframe(
            spark.table("bm_target"), src, ["k"], null_safe_keys=False
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            merged.explain()  # simple mode: each node printed once
        plan = buf.getvalue()
        assert plan.count("Exchange") == 1, plan  # source side only
        assert "Bucketed: true" in plan

        out = bucketing.bucketed_merge(spark, "bm_target", "bm_target_v2", src, ["k"], n_buckets=4)
        assert out.count() == 11_000
        got = {r["k"]: r["v"] for r in out.filter(F.col("k").isin(0, 9_500, 10_500)).collect()}
        assert got == {0: 0, 9_500: 28_500, 10_500: 31_500}  # keep / update / insert
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bm_target")
        spark.sql("DROP TABLE IF EXISTS bm_target_v2")


def test_event_ts_predicates_push_to_scan(spark, sf_dir):
    """Event-time filters must reach the parquet scan. This is exactly what
    the scan-level timestamp read buys (inferTimestampNTZ off in
    normalize_session): a post-read NTZ->TIMESTAMP cast would strip the
    pushdown, turning every time-range query into a full scan at 100 TB."""
    from fund_data_pipeline_spark.queries.registry import table

    ev = table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ev.filter(F.col("ts") >= "2024-01-02").explain("formatted")
    plan = buf.getvalue()
    assert "GreaterThanOrEqual(ts" in plan, plan


def test_boilerplate_scrub_broadcasts_hot_set(spark, sf_dir):
    """The hot-segment set is small by construction (doc-freq > K bounds it
    at corpus/K); the anti-join against it must be a broadcast, never a
    shuffled join of the full segment relation against itself."""
    plan = plan_of(spark, sf_dir, "boilerplate_scrub")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_token_vocabulary_partial_agg_and_topk(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "token_vocabulary")
    # map-side combine before the shuffle, top-k without a global sort
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan


def test_deterministic_shuffle_has_no_global_sort(spark, sf_dir):
    """The seeded shuffle must be shard-parallel: one hash Exchange for the
    per-shard window, and NO range partitioning (a global ORDER BY would be
    a single-pass total sort — the exact thing the sharded design avoids)."""
    plan = plan_of(spark, sf_dir, "deterministic_shuffle_order")
    assert "rangepartitioning" not in plan.lower()
    # exactly one exchange node (formatted mode prints each node twice:
    # once in the tree, once as a detail section)
    assert plan.count("+- Exchange") == 1, plan
    assert "hashpartitioning" in plan
    # scan pruned to the single key column
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in read_schema and "doc_id" in read_schema


def test_characteristic_terms_broadcasts_df_relation(spark, sf_dir):
    """The doc-frequency relation is vocabulary-sized. r12 (per the r11
    verdict): the broadcast is no longer FORCED — a hint turns an
    unbounded vocabulary into a driver OOM — so the static plan may show a
    sort-merge join; what the design requires is that AQE's measured size
    converts it to broadcast at runtime while the relation genuinely fits,
    which is what this asserts on the executed (final adaptive) plan."""
    df = QUERIES["characteristic_terms"].spark(spark, sf_dir)
    df.collect()  # materialize so AQE finalizes the plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "AdaptiveSparkPlan" in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_incremental_near_dup_broadcasts_batch_side(spark, sf_dir):
    """Batch-vs-index dedup: the new-batch bands broadcast; the corpus
    index is scanned once, never self-joined."""
    plan = plan_of(spark, sf_dir, "incremental_near_dup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scd2_history_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "scd2_priority_history")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


#: queries whose plan legitimately contains BroadcastNestedLoopJoin: each
#: crossJoins a literally-1-row broadcast relation (scalar total / probe
#: vector), which executes as O(n) — not a pair blowup. Anything NEW that
#: shows up here must be justified or fixed.
_ONE_ROW_BNLJ_OK = {
    "conversion_funnel",
    "embedding_topk_cosine",
    "key_skew_profile",
    # r9: each crossJoins ONE aggregate row of global stats (N/total_dl/df,
    # total/V, n_total) broadcast back over the scan — O(n), not a pair blowup
    "bm25_doc_search",
    "unigram_likelihood_quality",
    "corpus_mix_drift",
    # r9: crossJoins the ONE-row min(stratum count) aggregate into the
    # |strata|-sized threshold relation before the broadcast equi-join
    "temperature_rebalance_mixture",
    # r9: crossJoins the ONE-row per-dimension min/max stats arrays (64
    # structs folded into a single row) back over the embedding scan — O(n)
    "embedding_int8_quantization",
    # r9: two one-row broadcasts — the BM25 global-stats row over the doc
    # scan (same as bm25_doc_search) and the query-vector row over the
    # <= 20-row candidate relation
    "hybrid_bm25_cosine_rerank",
    # r11: crossJoins the ONE-row (total, v) LM-stats aggregate over the
    # per-doc scored relation — O(n), same shape as unigram_likelihood
    "bigram_lm_quality_gate",
    # r11: crossJoins the ONE-row global-max aggregate over the
    # |suppliers|-sized rev relation — replaces an unpartitioned window
    # that serialized every supplier through a single task
    "top_supplier_revenue",
}


def test_whole_catalog_plan_hygiene(spark, sf_dir, monkeypatch):
    """Catalog-wide scale audit: no batch query's physical plan may contain
    a cartesian product, an unexpected nested-loop join, a single-partition
    exchange outside top-k, a global range sort, or a row-at-a-time Python
    UDF. This is the frozen form of the per-round .explain sweep.

    localCheckpoint is no-op'd for the audit (review r10): an eager
    checkpoint truncates lineage to `Scan ExistingRDD`, so every plan
    UPSTREAM of a pin (the dedup pipeline's md5 window, the hybrid
    reranker's BM25 stage) would otherwise be invisible to this gate and
    a regression there would ship unseen."""
    from pyspark.sql import DataFrame
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    # BOTH classes: instances are classic.DataFrame, which OVERRIDES the
    # base method, so patching pyspark.sql.DataFrame alone never
    # intercepted — the gate silently audited post-checkpoint stubs for
    # every pinned query until r15 (review r15)
    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    monkeypatch.setattr(
        ClassicDataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    problems = []
    for name, spec in QUERIES.items():
        if name.startswith("streaming_"):
            continue  # drains at build; the returned sink df's plan is trivial
        plan = plan_of(spark, sf_dir, name)
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _ONE_ROW_BNLJ_OK:
            problems.append(f"{name}: BroadcastNestedLoopJoin")
        if "Exchange SinglePartition" in plan and "TakeOrderedAndProject" not in plan:
            problems.append(f"{name}: single-partition exchange")
        if "rangepartitioning" in plan.lower():
            problems.append(f"{name}: global range sort")
        if "BatchEvalPython" in plan:
            problems.append(f"{name}: row-at-a-time Python UDF")
    assert not problems, "; ".join(problems)


def test_bpe_round_relations_plan_hygiene(spark, sf_dir):
    """bpe_train_merges builds its result driver-side (createDataFrame of
    k collected rows), so the catalog sweep sees only a LocalTableScan —
    the loop's actual distributed relations are audited here directly:
    the corpus-sized vocabulary seed and one round's pair-count plan must
    be shuffle-clean, and the merge application must stay a map-side
    projection over the pinned vocabulary."""
    import contextlib
    import io as _io

    from fund_data_pipeline_spark.operators.bpe import (
        _apply_merge,
        initial_vocab,
        pair_counts,
    )
    from fund_data_pipeline_spark.queries.registry import table

    docs = table(spark, sf_dir, "documents")
    vocab = initial_vocab(docs)
    applied = vocab.select("freq", _apply_merge(F.col("syms"), "t", "h").alias("syms"))
    for label, df, allow_sort in (
        ("initial_vocab", vocab, False),
        ("pair_counts", pair_counts(vocab), True),  # TakeOrdered feeds limit(1)
        ("apply_merge", applied, False),
    ):
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "CartesianProduct" not in plan, label
        assert "BroadcastNestedLoopJoin" not in plan, label
        assert "BatchEvalPython" not in plan, label
        if not allow_sort:
            assert "rangepartitioning" not in plan.lower(), label
    # the merge application is map-side: it adds ZERO exchanges beyond
    # the vocabulary seed's own word-count shuffle
    def n_exchanges(df):
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue().count("Exchange ")

    assert n_exchanges(applied) == n_exchanges(vocab)


def _ancestors_of(node, name: str, above: tuple = ()):
    """Yield the ancestor node names of every ``name`` node of a physical
    plan, descending into adaptive plans (their current physical plan)."""
    here = node.nodeName()
    if here == name:
        yield above
    if here.startswith("AdaptiveSparkPlan"):
        kids = [node.executedPlan()]
    else:
        seq = node.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    for kid in kids:
        yield from _ancestors_of(kid, name, above + (here,))


@pytest.mark.parametrize("layout", ["flat", "manifest", "hive_pruned", "hive_backfill"])
def test_merge_observation_is_the_writers_last_node(spark, tmp_path, monkeypatch, layout):
    """merge_upsert counts its MergeStats with an Observation on the frame
    each layout hands to the parquet writer. There it runs in the write's
    result stage, where Spark applies each partition's accumulator update
    once; under an Exchange it would run in a shuffle-map stage, where a
    retried or speculative task's update can be applied twice. So on the
    create and the merge path no Exchange may sit above the plan's one
    CollectMetrics node (on the hive layout: the observation must follow
    the writer's repartition)."""
    from fund_data_pipeline_spark import merge as M

    kw = {
        "flat": {},
        "manifest": {"layout": "manifest"},
        "hive_pruned": {"partition_col": "dt"},
        "hive_backfill": {"partition_col": "dt"},
    }[layout]
    if layout == "hive_backfill":
        monkeypatch.setattr(M, "_ISIN_PRUNE_MAX", 1)  # 2 touched dates: semi-join prune

    def batch(value):
        df = spark.createDataFrame(
            [("A", "2024-01-01", value), ("B", "2024-01-02", 1.0)],
            "ticker string, dt string, value double",
        )
        return df.withColumn("row_hash", F.md5(F.col("value").cast("string")))

    placements = []
    frame_cls = type(spark.range(1))
    write_prop = frame_cls.write

    def write(df):
        plan = df._jdf.queryExecution().executedPlan()
        placements.append(list(_ancestors_of(plan, "CollectMetrics")))
        return write_prop.fget(df)

    monkeypatch.setattr(frame_cls, "write", property(write))
    path = str(tmp_path / layout)
    M.merge_upsert(spark, path, batch(1.0), keys=["ticker", "dt"], **kw)  # create
    stats = M.merge_upsert(spark, path, batch(2.0), keys=["ticker", "dt"], **kw)
    assert (stats.inserted, stats.updated, stats.unchanged) == (0, 1, 1)
    assert len(placements) == 2
    for ancestors in placements:
        assert len(ancestors) == 1, ancestors
        assert not [n for n in ancestors[0] if "Exchange" in n], ancestors

"""Physical-plan audits — the scale contract.

Correctness says the right rows come back; these tests pin the plan
properties that decide whether the same query survives 100 TB:
column pruning reaches the scan, filters are pushed, dim joins
broadcast, top-k avoids global sorts, partition pruning works, and
bucketed joins run without exchanges.  A regression here would pass
every value check and still melt a 1000-executor cluster.
"""

import pytest
from pyspark.sql import functions as F

from tmp_parquet_merge_spark.plans.explain import (
    codegen_plan,
    executes_before,
    formatted_plan,
    has_broadcast_join,
    plan_tree,
    pushed_filters,
    read_schema_columns,
)
from tmp_parquet_merge_spark.queries import REGISTRY


def build(name, spark, sf_dir):
    return REGISTRY[name].build(spark, sf_dir)


def test_projection_prunes_scan(spark, sf_dir):
    df = build("q_project_one", spark, sf_dir)
    assert read_schema_columns(df) == ["l_orderkey"]


def test_agg_prunes_to_needed_columns(spark, sf_dir):
    df = build("q_agg_basic", spark, sf_dir)
    cols = set(read_schema_columns(df))
    # 11-column table; Q1 needs only 7
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_returnflag"} <= cols


def test_filters_reach_parquet_scan(spark, sf_dir):
    df = build("q_filter_pushdown", spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_dim_join_broadcasts(spark, sf_dir):
    assert has_broadcast_join(build("q_join_inner", spark, sf_dir))


def test_multiway_join_all_broadcast_at_local_scale(spark, sf_dir):
    # at test scale every dim fits the broadcast threshold: zero
    # shuffle joins at all
    tree = plan_tree(build("q_join_multiway", spark, sf_dir))
    assert tree.count("BroadcastHashJoin") == 4
    assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") == 0


def test_multiway_join_shuffles_fact_once_at_scale(spark, sf_dir):
    # the 100 TB shape: auto-broadcast off (orders no longer "small"),
    # explicit hints keep the true dims broadcast — the fact table
    # shuffles exactly once (lineitem⋈orders)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tree = plan_tree(build("q_join_multiway", spark, sf_dir))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert tree.count("BroadcastHashJoin") == 3
    assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") == 1


def test_topk_uses_heap_not_global_sort(spark, sf_dir):
    plan = formatted_plan(build("q_topk_orders", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_partition_pruning_in_plan(spark, sf_dir):
    df = build("q_partition_pruning", spark, sf_dir)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "o_year" in plan.split("PartitionFilters", 1)[1][:200]


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    df = build("q_bucketed_join", spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_embedding_lsh_dedup_avoids_cartesian(spark, sf_dir):
    # the scale twin of q_dedup_embedding: candidates come from a
    # bucket equi-join on (band, key), never an all-pairs product —
    # and since the r11 oracle graduation dropped the 1-row
    # pair_recall stamp (the only sanctioned nested-loop), NEITHER the
    # operator NOR the registered query may contain any nested-loop
    # join at all.
    from tmp_parquet_merge_spark.operators import similarity

    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    op_tree = plan_tree(
        similarity.embedding_dedup_pairs_lsh(emb, threshold=0.4)
    )
    assert "CartesianProduct" not in op_tree
    assert "BroadcastNestedLoopJoin" not in op_tree

    q_tree = plan_tree(build("q_dedup_embedding_lsh", spark, sf_dir))
    assert "CartesianProduct" not in q_tree
    assert "BroadcastNestedLoopJoin" not in q_tree, q_tree


def test_tpch_q6_filters_all_pushed(spark, sf_dir):
    df = build("q_sql_tpch_q6", spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed


def test_asof_join_single_shuffle(spark, sf_dir):
    plan = formatted_plan(build("q_join_asof", spark, sf_dir))
    # union-merge as-of: exactly one hash exchange for the window (the
    # orders-side pre-agg adds its own); crucially NO join operator at
    # all — nothing can explode per key
    assert "Join" not in plan.replace("JoinedRow", "")


def test_range_join_broadcasts_bands(spark, sf_dir):
    df = build("q_join_range", spark, sf_dir)
    assert has_broadcast_join(df)


def test_scan_count_reads_zero_columns(spark, sf_dir):
    plan = formatted_plan(build("q_scan_count", spark, sf_dir))
    # COUNT(*) materializes no columns — the scan's ReadSchema is empty
    # (parquet v1 path; row counts come from row-group headers)
    assert "ReadSchema: struct<>" in plan


def test_similarity_prunes_before_shuffle(spark, sf_dir):
    df = build("q_topk_similarity", spark, sf_dir)
    # the BLAS scoring pass and the per-batch WindowGroupLimit prune
    # both run BEFORE the single exchange: only ~k rows per (query,
    # batch) ever shuffle
    assert executes_before(df, "Scan parquet", "Exchange")
    assert executes_before(df, "MapInPandas", "Exchange")
    assert executes_before(df, "WindowGroupLimit", "Exchange")


def test_ann_lsh_reads_the_corpus_once_in_one_python_stage(spark, sf_dir):
    """The exact re-rank runs inside the sketch scan: one embeddings
    scan, one MapInPandas, no unit/dot pandas UDF, one exchange that
    both ranking windows share."""
    df = build("q_ann_lsh", spark, sf_dir)
    tree = plan_tree(df)
    assert tree.count("Scan parquet") == 1
    assert tree.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in tree
    assert tree.count("Exchange") == 1
    assert executes_before(df, "WindowGroupLimit", "Exchange")


def test_lang_id_normalizes_each_document_once(spark, sf_dir):
    """The language gate stages the normalized text and the ratios as
    columns: one regexp_replace in the whole plan, not one per copy of
    each ratio in the argmax."""
    assert formatted_plan(build("q_lang_id", spark, sf_dir)).count(
        "regexp_replace"
    ) == 1


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir):
    # AQE wraps the plan in AdaptiveSparkPlan and reports 0 codegen
    # subtrees until execution — disable it for this static probe
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("q_agg_basic", "q_text_stats", "q_dedup_exact"):
            plan = codegen_plan(build(name, spark, sf_dir))
            assert "Found 0 WholeStageCodegen" not in plan, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_global_sort_range_partitions(spark, sf_dir):
    df = build("q_sort_global", spark, sf_dir)
    plan = formatted_plan(df)
    assert "rangepartitioning" in plan.lower()
    # and the output really is totally ordered
    rows = df.collect()
    keys = [(-r.o_totalprice, r.o_orderkey) for r in rows]
    assert keys == sorted(keys)


def test_dpp_join_prunes_dynamically(spark, sf_dir):
    df = build("q_dpp_join", spark, sf_dir)
    plan = formatted_plan(df)
    assert "dynamicpruning" in plan.lower()


def test_tfidf_doc_count_broadcasts(spark, sf_dir):
    # N rides as a broadcast 1-row aggregate — a shuffle here would
    # serialize the whole corpus through one reducer
    plan = formatted_plan(build("q_tfidf", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_resample_grid_broadcasts(spark, sf_dir):
    plan = formatted_plan(build("q_resample_ffill", spark, sf_dir))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_corpus_mix_total_broadcasts(spark, sf_dir):
    plan = formatted_plan(build("q_corpus_mix", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_media_metadata_prunes_payload(spark, sf_dir):
    # the multimodal scan contract: a metadata-only aggregate over the
    # stored media table must never read the binary payload column —
    # its ReadSchema carries only the meta struct
    df = build("q_media_metadata", spark, sf_dir)
    plan = formatted_plan(df)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, "no parquet scan in plan"
    assert all("payload" not in ln for ln in scan), scan
    assert any("meta" in ln for ln in scan), scan


def test_media_neardup_avoids_cartesian(spark, sf_dir):
    # perceptual near-dup (r11): candidates must come from the banded
    # equi-join on (band, bval) — the pigeonhole-exact generator —
    # never a pairwise product, and the Hamming verify joins packed
    # longs back by id (equi-joins throughout)
    q_tree = plan_tree(build("q_media_neardup", spark, sf_dir))
    assert "CartesianProduct" not in q_tree
    assert "BroadcastNestedLoopJoin" not in q_tree, q_tree


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    # 100 TB pattern: when the dim side of a shuffled join carries a
    # selective filter, Spark injects a runtime bloom filter on the
    # fact side so non-joining fact rows die at the scan, not at the
    # join.  (With broadcast joins the same role is played by DPP /
    # broadcast pruning — forced off here to exercise the SMJ path.)
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 500000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_window_topk_uses_group_limit(spark, sf_dir):
    # grouped top-k must run as WindowGroupLimit (per-partition heaps
    # keep k rows per bucket before the window exchange), not rank the
    # whole aggregate table
    tree = plan_tree(build("q_window_topk", spark, sf_dir))
    assert "WindowGroupLimit" in tree, tree


def test_chunking_is_shuffle_free(spark, sf_dir):
    # chunking is per-row: the plan must be a single narrow pass with
    # a pruned scan (doc_id + text only), no Exchange anywhere
    df = build("q_chunk_docs", spark, sf_dir)
    tree = plan_tree(df)
    assert "Exchange" not in tree, tree
    assert set(read_schema_columns(df)) == {"doc_id", "text"}


def test_weighted_sample_heap_not_global_sort(spark, sf_dir):
    tree = plan_tree(build("q_sample_weighted", spark, sf_dir))
    assert "TakeOrderedAndProject" in tree, tree


def test_vocab_topk_before_id_window(spark, sf_dir):
    # the id-assigning window must run over the top-k survivors, i.e.
    # downstream of TakeOrderedAndProject — never over the full vocab
    df = build("q_vocab", spark, sf_dir)
    tree = plan_tree(df)
    assert "TakeOrderedAndProject" in tree, tree
    assert executes_before(df, "TakeOrderedAndProject", "Window")


def test_tpch_q5_dims_broadcast(spark, sf_dir):
    # the region→nation→supplier dim chain must broadcast; only the
    # customer⋈orders⋈lineitem spine may shuffle
    tree = plan_tree(build("q_sql_tpch_q5", spark, sf_dir))
    assert tree.count("BroadcastHashJoin") >= 3, tree


def test_winsorize_broadcasts_quantile_row(spark, sf_dir):
    # the 1-row quantile aggregate joins the corpus as a broadcast
    # build side — the corpus itself is scanned exactly once
    tree = plan_tree(build("q_winsorize", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in tree, tree


def test_sql_exists_decorrelates_to_semi_anti(spark, sf_dir):
    # correlated EXISTS / NOT EXISTS must decorrelate into semi/anti
    # joins — never a per-row subquery
    tree = plan_tree(build("q_sql_exists", spark, sf_dir))
    assert "LeftSemi" in tree, tree
    assert "LeftAnti" in tree, tree


def test_attribution_join_single_user_shuffle(spark, sf_dir):
    # the batch attribution twin joins on user_id equality with a ts
    # range residual: the equality key must drive the join (hash or
    # sort-merge on user_id), not a nested-loop cross product
    tree = plan_tree(build("q_attribution", spark, sf_dir))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert any(
        j in tree
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    ), tree


def test_tpch_q1_prunes_to_needed_columns(spark, sf_dir):
    # the wide aggregate reads only the 7 referenced columns, plus —
    # ONLY while the r14 conditional parallelism floor is active on
    # this deficient single-row-group local file (registry.t_spread;
    # a no-op on any real multi-file table, where ReadSchema is again
    # exactly the 7) — the l_orderkey spread key.  The keyed spread is
    # deliberate: order/lineitem joins elsewhere reuse the orderkey
    # exchange, and the one extra int column is the price of running
    # the 8-aggregate map side on 32 cores instead of 1.
    df = build("q_sql_tpch_q1", spark, sf_dir)
    cols = set(read_schema_columns(df))
    assert cols and cols <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate", "l_orderkey",
    }, cols
    assert "l_shipdate" in " ".join(pushed_filters(df))
    tree = plan_tree(df)
    # partial/final agg + final sort (+ the conditional spread)
    assert tree.count("Exchange") <= 3


def test_tpch_q14_part_broadcasts(spark, sf_dir):
    tree = plan_tree(build("q_sql_tpch_q14", spark, sf_dir))
    assert "BroadcastHashJoin" in tree
    df = build("q_sql_tpch_q14", spark, sf_dir)
    assert "l_shipdate" in " ".join(pushed_filters(df))


def test_tpch_q19_disjunction_stays_map_side(spark, sf_dir):
    # part broadcasts; the OR-of-arms runs as join residual, no extra
    # shuffle beyond the single aggregate
    tree = plan_tree(build("q_sql_tpch_q19", spark, sf_dir))
    assert "BroadcastHashJoin" in tree
    assert tree.count("SortMergeJoin") == 0


def test_tpch_q4_exists_becomes_semi_join(spark, sf_dir):
    tree = plan_tree(build("q_sql_tpch_q4", spark, sf_dir))
    assert "LeftSemi" in tree


def test_tpch_q22_not_exists_becomes_anti_join(spark, sf_dir):
    tree = plan_tree(build("q_sql_tpch_q22", spark, sf_dir))
    assert "LeftAnti" in tree


def test_sessionize_single_user_exchange(spark, sf_dir):
    # both window passes and the session agg key on user_id: exactly
    # one hash exchange in the whole plan (plus no range/global sort)
    tree = plan_tree(build("q_sessionize", spark, sf_dir))
    assert tree.count("Exchange") == 1


def test_ewma_single_window_pass(spark, sf_dir):
    # 8 LAGs share one frame → one WindowExec, one exchange, one sort
    tree = plan_tree(build("q_ewma", spark, sf_dir))
    assert tree.count("Window") == 1
    assert tree.count("Exchange") == 1


def test_collocations_totals_broadcast(spark, sf_dir):
    # corpus totals ride broadcast nested-loop joins of 1-row aggs;
    # no real cartesian over data
    tree = plan_tree(build("q_collocations", spark, sf_dir))
    assert tree.count("BroadcastNestedLoopJoin") == 2
    assert "CartesianProduct" not in tree


def test_quantile_norm_no_single_partition_exchange(spark, sf_dir):
    # r3 advice: the naive global rank window planned Exchange
    # SinglePartition (every row through one task).  The bucketed
    # two-pass rank must not — the only exchange is hash(bucket).
    tree = plan_tree(build("q_quantile_norm", spark, sf_dir))
    assert "Exchange SinglePartition" not in tree, tree


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join — the session default that makes every shuffled
    join here survive a hot key at 100 TB — actually fires: a 95%-hot
    join key under lowered skew thresholds ends with skew=true on the
    final SortMergeJoin (the hot partition was split), and the result
    is exact."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    orig = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 100_000).select(
            F.when(F.col("id") < 95_000, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 2000).select(
            F.col("id").alias("k"), F.lit("r").alias("rv")
        )
        j = left.join(right, "k")
        # only k=0 matches (hot key): 95k left rows × 1 right row
        assert len(j.collect()) == 95_000
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p
        assert "skew=true" in p, "AQE did not split the skewed partition"
    finally:
        for k, v in orig.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_typed_writer_plan_shuffle_free(spark, tmp_path):
    """write_parquet_typed's manifest job must carry zero Exchanges:
    each partition streams its Arrow batches straight into one pyarrow
    file (same one-file-per-partition layout as the native writer) —
    a shuffle here would re-cluster 100 TB just to write it."""
    from tmp_parquet_merge_spark.sources import fixtures, parquet_io

    df = fixtures.alltypes_df(spark, 200).coalesce(2)
    out = str(tmp_path / "typed_plan")
    files = parquet_io.write_parquet_typed(df, out)
    assert len(files) == 2
    # audit the same shape the writer executes: mapInArrow over the
    # coalesced input
    audited = df.mapInArrow(lambda it: it, df.schema)
    assert "Exchange" not in plan_tree(audited)


@pytest.mark.parametrize("nparts", [4, None], ids=["pinned", "default"])
def test_iterative_loop_reuses_persisted_edge_partitioning(spark, nparts):
    """Round-7 pagerank/dedup_clusters fix, pinned at the plan level:
    a loop-invariant edge list persisted pre-partitioned + sorted on
    the join key must enter each round's sort-merge join from its
    InMemoryTableScan with NO Exchange and NO Sort above it —
    localCheckpoint (the old spelling) surfaces UnknownPartitioning
    and re-shuffles + re-sorts the full edge list every round (the
    r6 25× stress's 86 s PageRank was exactly this).  Regressing this
    silently multiplies iterative-loop cost by the round count.

    ``default`` pins the num_partitions=None spelling pagerank /
    dedup_clusters use when the caller does not pin a layout:
    ``repartition("src")`` (session shuffle-partition count) — a bare
    persist WITHOUT the repartition leaves the cache on the input's
    arbitrary partitioning and the per-round edge re-shuffle comes
    back silently."""
    from pyspark import StorageLevel

    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.range(20000).select(
            (F.col("id") % 500).alias("src"),
            ((F.col("id") * 7) % 500).alias("dst"),
        )
        edges = (
            edges.repartition(nparts, "src")
            if nparts
            else edges.repartition("src")
        )
        edges = edges.sortWithinPartitions("src").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        edges.count()
        state = (
            spark.range(500)
            .select(
                F.col("id").alias("node"),
                F.lit(3).alias("deg"),
                F.lit(0.1).alias("rank"),
            )
        )
        if nparts:
            state = state.repartition(nparts, "node")
        state = state.localCheckpoint()
        contribs = (
            state.filter(F.col("deg") > 0)
            .join(edges, state.node == edges.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        plan = contribs._jdf.queryExecution().executedPlan().toString()
        # outer plan only — the cached relation's own build plan
        # (inside InMemoryRelation) legitimately contains the one-time
        # repartition Exchange
        outer = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in outer
        assert "SortMergeJoin" in outer
        # exactly two exchanges: the state side + the partial-agg
        # shuffle; the edge side must contribute none
        assert outer.count("Exchange") == 2, outer
        # and the edge side needs no re-sort: the only Sort in the
        # round is the state side's
        assert outer.count("Sort ") <= 1, outer
        edges.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)


def test_compaction_read_phase_footer_scan_feeds_aggregate(spark, sf_dir):
    """r10 advisor #3: the compaction queries' READ phases got a
    looser (2 s) bench flag floor because their cost rides writeback/
    page-cache weather — which means a genuine plan regression (e.g.
    losing the executor-side footer scan to a driver loop) could ride
    under the time buffer.  Pair the loose floor with a plan-shape
    pin: the read phase must contain the MapInPandas footer-scan node
    (metadata_stats' executor-side pyarrow reads) feeding an
    aggregate — never a collected/driver-side spelling, which would
    show an empty plan or a LocalTableScan of pre-computed rows."""
    for name in ("q_merge_compaction", "q_merge_incremental"):
        tree = plan_tree(build(name, spark, sf_dir))
        assert "MapInPandas" in tree, (name, tree)
        assert "HashAggregate" in tree or "SortAggregate" in tree, (
            name,
            tree,
        )
        # the footer relation is built from the file list, not from a
        # driver-side collect of already-read footers
        assert "LocalTableScan" in tree or "Scan ExistingRDD" in tree, (
            name,
            tree,
        )


def test_dsir_weights_lambda_joins_broadcast(spark, sf_dir):
    """The λ table (2048 rows) and the 1-row totals must ride
    broadcasts back onto the checkpointed (doc, bucket, cnt) relation
    — a shuffled join here would re-exchange the whole per-doc bucket
    relation at corpus scale for a 2048-row build side."""
    tree = plan_tree(build("q_dsir_weights", spark, sf_dir))
    assert "BroadcastHashJoin" in tree       # λ join on bucket
    assert "BroadcastNestedLoopJoin" in tree  # 1-row totals cross
    assert "CartesianProduct" not in tree
    assert "SortMergeJoin" not in tree


def test_perplexity_bucket_single_window_pass(spark, sf_dir):
    """rank + per-lang count stack as two Window ops over ONE shared
    Sort/Exchange pair — a second sort would double the per-lang
    pass.  And the corpus is scanned ONCE: tf is checkpointed, so the
    broadcast build sides (per-lang model, totals) must not re-run
    the scan+explode pipeline."""
    tree = plan_tree(build("q_perplexity_bucket", spark, sf_dir))
    assert tree.count("Window") == 2
    assert tree.count("Sort") == 1
    assert tree.count("Scan parquet") <= 1
    assert "SortMergeJoin" not in tree


def test_shard_balance_no_single_partition_exchange(spark, sf_dir):
    """The global descending rank must use the two-phase bucketed
    form — a naive ROW_NUMBER() over an unpartitioned window plans
    Exchange SinglePartition, the classic 100 TB scale-killer."""
    plan = formatted_plan(build("q_shard_balance", spark, sf_dir))
    assert "SinglePartition" not in plan


def test_compaction_read_phase_is_distributed_footer_scan(spark, sf_dir):
    """Plan fingerprint paired with bench's 2 s compaction read floor
    (r11 advisor): the floor's buffer could hide losing the
    DISTRIBUTED footer scan — metadata_stats collapsing into a
    driver-side pq.ParquetFile loop would still return identical rows
    and could hide under ±2 s of I/O weather at sf0.1.  Pin the shape:
    the read phase of both compaction queries must contain the
    executor-side MapInPandas footer scan (one per metadata_stats
    consumer), with the file list entering as a materialized local
    relation — NOT footer rows pre-computed on the driver."""
    df = build("q_merge_compaction", spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan_tree(df)  # executor footer scan survives
    # the only driver-materialized relations are FILE LISTS feeding the
    # scan: every local/RDD leaf must carry only the file column — a
    # leaf already holding footer fields means the stats were computed
    # on the driver and MapInPandas became a pass-through
    import re

    for block in re.split(r"\n\n", plan):
        if block.lstrip().startswith(("(", " ")) and (
            "Scan ExistingRDD" in block or "LocalTableScan" in block
        ):
            assert "num_row_groups" not in block and "num_rows" not in block

    inc = build("q_merge_incremental", spark, sf_dir)
    inc_tree = plan_tree(inc)
    # two consumers: the manifest-join side (input footers) and the
    # written-output side — both must stay distributed
    assert inc_tree.count("MapInPandas") >= 2


def test_winnowing_hashes_before_shuffle(spark, sf_dir):
    """The winnowing per-doc window shuffle must carry (id, pos, v,
    npos) ints only — hashing BEFORE the exchange.  If the text
    column ever reaches an Exchange, a 100 TB corpus shuffles its
    bodies."""
    plan = formatted_plan(build("q_winnowing", spark, sf_dir))
    for block in plan.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.split("\n")[0]:
            assert "__norm" not in block and "text#" not in block


def test_zipf_fit_heap_cut_no_global_sort(spark, sf_dir):
    """The top-1000 type cut must be TakeOrderedAndProject (heap), and
    the only Sort may be the bounded 1000-row rank window's."""
    tree = plan_tree(build("q_zipf_fit", spark, sf_dir))
    assert "TakeOrderedAndProject" in tree


def test_late_data_single_user_exchange(spark, sf_dir):
    """Late-data accounting is one exchange on user_id: the window and
    the final aggregate share the user_id partitioning."""
    tree = plan_tree(build("q_late_data", spark, sf_dir))
    assert tree.count("Exchange") == 1


def test_novelty_lsh_no_nested_loop(spark, sf_dir):
    """The near-dup novelty gate must never plan a nested-loop or
    cartesian join — candidates come from the band-key equi-join."""
    tree = plan_tree(build("q_novelty_lsh", spark, sf_dir))
    assert "NestedLoop" not in tree and "Cartesian" not in tree


def test_winnow_overlap_no_nested_loop_and_no_text_shuffle(spark, sf_dir):
    """MOSS matching joins on fingerprint hashes (ints); no nested
    loop, and no Exchange carries the text column."""
    plan = formatted_plan(build("q_winnow_overlap", spark, sf_dir))
    tree = plan.split("\n\n", 1)[0]
    assert "NestedLoop" not in tree and "Cartesian" not in tree
    for block in plan.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.split("\n")[0]:
            assert "__norm" not in block and "text#" not in block


def test_semijoin_reduce_prunes_fact_before_join(spark, sf_dir):
    """The semi-join reduction must appear as a BROADCAST LeftSemi on
    the fact side BEFORE the real join — only qualifying lineitem rows
    may enter the join; and no cartesian/nested-loop anywhere."""
    tree = plan_tree(build("q_semijoin_reduce", spark, sf_dir))
    assert "LeftSemi" in tree
    assert "BroadcastHashJoin" in tree
    assert "Cartesian" not in tree and "NestedLoop" not in tree


def test_heaps_fit_vocabulary_bounded(spark, sf_dir):
    """Heaps fit: the per-type min-agg and the 10-row running sum are
    the only shuffles; the final fit aggregates exactly 10 rows (no
    corpus-sized sort)."""
    tree = plan_tree(build("q_heaps_fit", spark, sf_dir))
    assert "Cartesian" not in tree and "NestedLoop" not in tree

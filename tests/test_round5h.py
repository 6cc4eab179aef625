"""Plan-shape pins for the continuation-session operators: the scale
claims in each docstring, made regression-testable."""

from gcp_cloudsql_to_bigquery_spark.plans import inspect
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def _plan(spark, name):
    return queries()[name](spark, SF0001)


def test_feature_hashing_single_shuffle(spark):
    # explode + md5 bucketing are narrow; the ONLY exchange is the
    # (doc, feature) aggregate — no vocabulary pass, no dictionary join
    df = _plan(spark, "text_feature_hashing")
    assert inspect.exchange_count(df) == 1, inspect.physical_plan(df)
    assert inspect.broadcast_join_count(df) == 0


def test_benford_single_aggregate_exchange(spark):
    # 9-digit domain: one partial-agg exchange; the share window runs on
    # the aggregate, adding a single-partition exchange of 9 rows
    df = _plan(spark, "dq_benford_law")
    assert inspect.exchange_count(df) <= 2, inspect.physical_plan(df)


def test_dp_counts_single_exchange(spark):
    # hash draw + CASE ladder are per-group expressions on the aggregate
    df = _plan(spark, "sec_dp_noisy_counts")
    assert inspect.exchange_count(df) == 1, inspect.physical_plan(df)


def test_ip_cidr_block_join_is_broadcast(spark):
    # the CIDR dim must broadcast: the fact side is never shuffled for
    # the range join, only for the final bounded groupBy
    df = _plan(spark, "fn_ip_cidr_lookup")
    assert inspect.count_occurrences(df, "BroadcastNestedLoopJoin") >= 1, (
        inspect.physical_plan(df)
    )


def test_percentile_window_and_agg_share_exchange(spark):
    # ranking window and final groupBy both key on pri: one exchange
    df = _plan(spark, "agg_percentile_exact_grouped")
    assert inspect.exchange_count(df) == 1, inspect.physical_plan(df)


def test_subject_access_fact_joins_are_broadcast(spark):
    # the subject list must broadcast against every store — a shuffled
    # fact-to-subject join would be the 100 TB mistake
    df = _plan(spark, "sec_subject_access_export")
    assert inspect.broadcast_join_count(df) >= 3, inspect.physical_plan(df)
    assert inspect.sort_merge_join_count(df) == 0


def test_winsorize_threshold_join_is_broadcast(spark):
    df = _plan(spark, "curation_winsorize_clip")
    assert inspect.broadcast_join_count(df) >= 1, inspect.physical_plan(df)


def test_kneser_ney_counts_reduce_before_join(spark):
    # the top-200 head drives the joins; left/cont count tables join onto
    # it, the scalar broadcast-binds — no fact-sized join anywhere
    df = _plan(spark, "text_bigram_kneser_ney")
    assert inspect.count_occurrences(df, "BroadcastNestedLoopJoin") == 1, (
        inspect.physical_plan(df)
    )


def test_point_in_polygon_no_shuffle(spark):
    # stateless codegen arithmetic: zero exchanges
    df = _plan(spark, "geo_point_in_polygon")
    assert inspect.exchange_count(df) == 0, inspect.physical_plan(df)
    # codegen stages render as "*(n)" prefixes in executedPlan strings
    assert "*(1)" in inspect.physical_plan(df)


def test_tiff_walk_prunes_to_two_columns(spark):
    # the synthesize stage reads only (doc_id, n_chars) — payload-free scan
    df = _plan(spark, "multimodal_tiff_metadata")
    for cols in inspect.read_schema_columns(df):
        assert set(cols) <= {"doc_id", "n_chars"}, cols


def test_cdc_chunking_exchanges_bounded(spark):
    # doc-keyed window (chunking) + fingerprint groupBy + frequency join:
    # digest-keyed exchanges only, bounded count
    df = _plan(spark, "text_cdc_chunk_dedup")
    assert inspect.exchange_count(df) <= 5, inspect.physical_plan(df)


def test_allen_pairs_equi_join_on_custkey(spark):
    # the pair join must be a hash/sort-merge EQUI join on ck, never a
    # nested-loop over all orders
    df = _plan(spark, "join_allen_intervals")
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

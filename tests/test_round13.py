"""Round-13 witnesses.

Wave 1: the ADVICE r12 closures —
- ``running_user_stats`` NULL-value fold (NaN→INT64_MIN corruption) and
  the SQL NULL-on-empty-sum / count(DISTINCT)-skips-NULL contracts;
- ``fn_pandas_udaf_geomean`` all-NULL group returns NULL, not NaN;
- the ``_nonzero_sql()`` interpolation drift-guard (the zero-norm
  exclusion contract is now stated ONCE and interpolated into every
  oracle that names it);
- ``interval_join`` inverted-interval guard (end < start explodes a
  DESCENDING bucket sequence; now dropped before the explode).
"""

import pandas as pd
import pytest

from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import assert_matches_oracle, events_pdf


# ---------------------------------------------------------------------------
# stateful NULL-value fold (ADVICE r12, medium)
# ---------------------------------------------------------------------------


class _FakeState:
    """Minimal GroupState stand-in for driving the fold function directly."""

    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def _run_fold(batches):
    from gcp_cloudsql_to_bigquery_spark.streaming.stateful import running_user_stats

    state = _FakeState()
    out = None
    for pdf in batches:
        out = list(running_user_stats((7,), iter([pdf]), state))[-1]
    return out.iloc[0]


def test_stateful_fold_masks_null_values():
    """A NULL value row must not floor NaN into INT64_MIN (ADVICE r12)."""
    row = _run_fold(
        [
            pd.DataFrame({"value": [1.25, None, 2.5], "event_type": ["a", "b", "a"]}),
        ]
    )
    assert row["n_events"] == 3  # count(*) counts the NULL-value row
    assert row["total_value"] == pytest.approx(3.75)
    assert row["distinct_types"] == 2


def test_stateful_fold_all_null_values_yield_null_total():
    """sum() over zero non-null rows is SQL NULL, not 0.0."""
    row = _run_fold([pd.DataFrame({"value": [None, None], "event_type": ["a", "a"]})])
    assert row["n_events"] == 2
    assert row["total_value"] is None or pd.isna(row["total_value"])
    assert row["distinct_types"] == 1


def test_stateful_fold_skips_null_event_type():
    """count(DISTINCT event_type) skips NULLs; the state fold must too."""
    row = _run_fold(
        [pd.DataFrame({"value": [1.0, 1.0], "event_type": [None, "x"]})]
    )
    assert row["distinct_types"] == 1


def test_stateful_fold_null_total_stays_null_across_batches():
    """The non-null counter lives in state: a second all-NULL batch must not
    resurrect a 0.0 total."""
    from gcp_cloudsql_to_bigquery_spark.streaming.stateful import running_user_stats

    state = _FakeState()
    list(running_user_stats((7,), iter([pd.DataFrame({"value": [None], "event_type": ["a"]})]), state))
    out = list(
        running_user_stats(
            (7,), iter([pd.DataFrame({"value": [None], "event_type": ["b"]})]), state
        )
    )[-1].iloc[0]
    assert out["n_events"] == 2
    assert out["total_value"] is None or pd.isna(out["total_value"])
    # ...and a later real value starts the sum from 0, not INT64_MIN
    out2 = list(
        running_user_stats(
            (7,), iter([pd.DataFrame({"value": [4.0], "event_type": ["b"]})]), state
        )
    )[-1].iloc[0]
    assert out2["total_value"] == pytest.approx(4.0)


def test_geomean_all_null_group_is_null(spark, allnull_price_sf):
    """A group whose every value is NULL has a NULL geo mean, not NaN, and
    every group matches the oracle on this geometry."""
    sdf = queries()["fn_pandas_udaf_geomean"](spark, allnull_price_sf)
    srows = {r["o_orderpriority"]: r["geo_mean"] for r in sdf.collect()}
    assert "1-URGENT" in srows and srows["1-URGENT"] is None
    assert_matches_oracle(spark, allnull_price_sf, "fn_pandas_udaf_geomean")


# ---------------------------------------------------------------------------
# _nonzero_sql interpolation drift-guard (ADVICE r12, low)
# ---------------------------------------------------------------------------


def test_nonzero_contract_interpolated_into_oracles():
    from gcp_cloudsql_to_bigquery_spark.operators.similarity import _nonzero_sql

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    for name in ("ann_bruteforce_topk", "ann_ivf_topk", "ann_ivf_kmeans_topk",
                 "dedup_semdedup"):
        assert _nonzero_sql() in oracles[name], name
    assert _nonzero_sql("v") in oracles["ann_pq_rerank"]


# ---------------------------------------------------------------------------
# interval_join inverted-interval guard (VERDICT r12 item 2)
# ---------------------------------------------------------------------------


def test_interval_join_drops_inverted_intervals(spark):
    from gcp_cloudsql_to_bigquery_spark.operators.joins import interval_join

    points = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00"), (2, "2024-01-01 12:00:00")],
        "k int, t string",
    ).selectExpr("k", "CAST(t AS TIMESTAMP) AS t")
    intervals = spark.createDataFrame(
        [
            # valid: contains the point
            (1, "2024-01-01 00:00:00", "2024-01-02 00:00:00", "ok"),
            # inverted: end 3 days BEFORE start — must contribute zero rows
            # (pre-guard it exploded a descending 3-day bucket range)
            (2, "2024-01-04 00:00:00", "2024-01-01 00:00:00", "bad"),
        ],
        "k int, s string, e string, tag string",
    ).selectExpr(
        "k", "CAST(s AS TIMESTAMP) AS s", "CAST(e AS TIMESTAMP) AS e", "tag"
    )
    out = interval_join(
        points, intervals, "k", "k", "t", "s", "e", bucket_width_sec=3600
    )
    tags = [r["tag"] for r in out.collect()]
    assert tags == ["ok"]


def test_interval_join_inverted_explodes_no_buckets(spark):
    """The guard must act BEFORE the explode: an all-inverted interval side
    produces an empty join input, not a descending garbage fan-out."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.operators.joins import interval_join

    points = spark.createDataFrame(
        [(1, "2024-01-03 00:00:00")], "k int, t string"
    ).selectExpr("k", "CAST(t AS TIMESTAMP) AS t")
    inverted = spark.createDataFrame(
        [(1, "2024-01-05 00:00:00", "2024-01-01 00:00:00")],
        "k int, s string, e string",
    ).selectExpr("k", "CAST(s AS TIMESTAMP) AS s", "CAST(e AS TIMESTAMP) AS e")
    out = interval_join(points, inverted, "k", "k", "t", "s", "e", 3600)
    assert out.count() == 0


NULLKEYS_FIXED = [
    "agg_crosstab",
    "agg_heavy_hitters_mg",
    "agg_incremental_maintenance",
    "analytics_cohort_ltv",
    "analytics_event_transitions",
    "analytics_fifo_allocation",
    "analytics_peak_concurrency",
    "analytics_repurchase_intervals",  # r14: NULLS FIRST ts pin (ADVICE r13)
    "analytics_rfm_segmentation",
    "analytics_state_durations",
    "analytics_top_paths",  # r14: NULLS FIRST ts pin (ADVICE r13)
    "ann_bruteforce_topk",
    "ann_ivf_kmeans_topk",
    "ann_matryoshka_rerank",
    "ann_recall_report",
    "curation_kfold_split",
    "curation_pack_sequences",
    "dedup_semdedup",
    "elt_bad_records_quarantine",
    "elt_delimiter_sniffing",
    "elt_format_migration_chain",
    "elt_incremental_join_maintenance",
    "elt_scd2_dimension",
    "elt_write_audit_publish",
    "fn_generators_posexplode_outer",
    "fn_pandas_on_spark_api",
    "fn_pandas_udf_iter",
    "join_asof",
    "join_asof_nearest",
    "multimodal_audio_spectral",
    "multimodal_bmff_box_walk",
    "multimodal_decode_ppm",
    "multimodal_decode_wav",
    "multimodal_frame_sample",
    "multimodal_image_histogram",
    "multimodal_phash_dedup",
    "multimodal_phash_thumbnail_match",
    "multimodal_png_integrity",
    "multimodal_resample_wav",
    "multimodal_resize_ppm",
    "multimodal_shot_boundaries",
    "multimodal_tiff_metadata",
    "sec_impossible_travel",
    "sessionize_batch",
    "src_fixed_width_trailer",
    "src_python_datasource",
    "src_python_datasource_stream",
    "stream_elt_file_arrival",
    "stream_incremental_sessionize",
    "stream_session_window",
    "stream_session_window_dynamic_gap",
    "stream_sliding_window",
    "stream_tumbling_window",
    "text_bigram_kneser_ney",
    "text_cdc_chunk_dedup",
    "ts_anomaly_seasonal_residual",
    "ts_anomaly_zscore",
    "ts_cusum_changepoint",
    "ts_forecast_mase",
    "ts_holt_linear",
    "ts_ma_decompose",
    "ts_max_drawdown",
    "ts_moving_median",
    "window_distinct_running",
    "window_lag_lead",
    "window_moving_avg",
    "window_running_sum",
    "window_session_batch",
]


@pytest.mark.parametrize("name", NULLKEYS_FIXED)
def test_nullkeys_fixed_query_matches_oracle(spark, hostile_nullkeys_sf, name):
    assert_matches_oracle(spark, hostile_nullkeys_sf, name)


def test_top_paths_null_start_trigram_is_null_path(spark, nulltype_events_sf):
    """The planted NULL event types reach the top 20 as a NULL path, and
    the ranking matches the oracle on this geometry."""
    rows = queries()["analytics_top_paths"](spark, nulltype_events_sf).collect()
    assert any(r["path"] is None for r in rows), "fixture must surface a NULL path"
    assert_matches_oracle(spark, nulltype_events_sf, "analytics_top_paths")


def test_holt_linear_pure_python_recompute(spark, hostile_nullkeys_sf):
    import math

    import __spark_entry__ as entry

    pdf = events_pdf(hostile_nullkeys_sf)
    pdf = pdf[pdf["ts"].notna()].copy()
    pdf["h"] = pdf["ts"].dt.floor("h")
    cents = (pdf["value"] * 100 + 0.5).apply(math.floor).astype("int64")
    pdf["c"] = cents
    # NULL event_type is ONE series (the null-safe contract under test)
    key = pdf["event_type"].where(pdf["event_type"].notna(), "\x00NULL")
    expected = {}
    for et, g in pdf.groupby(key):
        hourly = g.groupby("h")["c"].sum().sort_index()
        lv = tr = None
        for h, x in hourly.items():
            if lv is None:
                lv, tr = float(x), 0.0
            else:
                lt = 0.5 * float(x) + 0.5 * (lv + tr)
                tr = 0.5 * (lt - lv) + 0.5 * tr
                lv = lt
            q = lambda v: math.floor(v / 100.0 * 1e4 + 0.5)  # noqa: E731
            et_out = None if et == "\x00NULL" else et
            expected[(et_out, h.to_pydatetime())] = (q(lv), q(tr), q(lv + tr))
    out = entry.queries()["ts_holt_linear"](spark, hostile_nullkeys_sf).collect()
    assert len(out) == len(expected)
    for r in out:
        got = (r["level_x10k"], r["trend_x10k"], r["forecast_next_x10k"])
        assert expected[(r["event_type"], r["h"])] == got, r


def test_max_drawdown_pure_python_recompute(spark, hostile_nullkeys_sf):
    import math

    import __spark_entry__ as entry

    pdf = events_pdf(hostile_nullkeys_sf)
    pdf = pdf[pdf["ts"].notna()].copy()
    pdf["d"] = pdf["ts"].dt.date
    pdf["net"] = ((pdf["value"] - 50.0) * 100 + 0.5).apply(math.floor).astype("int64")
    key = pdf["event_type"].where(pdf["event_type"].notna(), "\x00NULL")
    expected = {}
    for et, g in pdf.groupby(key):
        daily = g.groupby("d")["net"].sum().sort_index()
        equity = peak = 0
        mdd, trough, peak_eq = -1, None, None
        run_eq = []
        for d, net in daily.items():
            equity += int(net)
            run_eq.append((d, equity))
        peak = None
        for d, eq in run_eq:
            peak = eq if peak is None else max(peak, eq)
            dd = peak - eq
            if dd > mdd:
                mdd, trough = dd, d
        peak_eq = max(eq for _, eq in run_eq)
        et_out = None if et == "\x00NULL" else et
        expected[et_out] = (mdd, trough, peak_eq)
    out = entry.queries()["ts_max_drawdown"](spark, hostile_nullkeys_sf).collect()
    assert len(out) == len(expected)
    for r in out:
        mdd, trough, peak_eq = expected[r["event_type"]]
        assert r["max_drawdown_cents"] == mdd, r
        assert r["trough_date"] == trough, r
        assert r["peak_equity_cents"] == peak_eq, r

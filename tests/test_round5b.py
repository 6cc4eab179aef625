"""Invariant tests for the round-5 second-wave operators (DSIR importance
resampling, containment dedup, Unicode NFC normalization, SQL surface)."""

import unicodedata

from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def test_importance_resampling_ranks_and_pool(spark):
    rows = queries()["curation_importance_resampling"](spark, SF0001).collect()
    assert rows, "expected a non-empty selection"
    ranks = sorted(r["rnk"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1)), "ranks must be dense 1..N"
    assert all(r["lang"] != "en" for r in rows), "target-pool docs must not be scored"
    # scores must be non-increasing in rank order
    by_rank = sorted(rows, key=lambda r: r["rnk"])
    scores = [r["score_fp"] for r in by_rank]
    assert scores == sorted(scores, reverse=True)


def test_containment_bounds_and_best_container(spark):
    rows = queries()["dedup_containment"](spark, SF0001).collect()
    seen = set()
    for r in rows:
        assert r["doc_a"] not in seen, "one best container per contained doc"
        seen.add(r["doc_a"])
        assert r["doc_a"] != r["doc_b"]
        assert 0 < r["n_inter"] <= r["n_a"]
        assert 50 <= r["containment_pct"] <= 100


def test_unicode_normalize_recomposes(spark):
    df = queries()["text_unicode_normalize"](spark, SF0001)
    rows = df.limit(50).collect()
    assert rows
    for r in rows:
        assert r["n_nfc"] <= r["n_deco"]
    # cross-check one row end-to-end against stdlib on the raw text
    from gcp_cloudsql_to_bigquery_spark.catalog import load

    raw = (
        load(spark, SF0001, "documents")
        .filter("doc_id = %d" % rows[0]["doc_id"])
        .collect()[0]["text"]
    )
    deco = raw[:120].replace("e", "e\u0301")
    assert rows[0]["n_deco"] == len(deco)
    assert rows[0]["n_nfc"] == len(unicodedata.normalize("NFC", deco))


def test_range_partition_layout_disjoint_ordered_balanced(spark):
    rows = {r["pid"]: r for r in queries()["elt_range_partition_layout"](spark, SF0001).collect()}
    assert set(rows) == {0, 1, 2, 3}
    # ranges disjoint and ordered
    for pid in range(3):
        assert rows[pid]["hi"] <= rows[pid + 1]["lo"]
    # ~25% balance (disc boundaries on distinct-ish values)
    total = sum(r["n"] for r in rows.values())
    for r in rows.values():
        assert abs(r["n"] - total / 4) <= total * 0.05 + 2


def test_semdedup_dup_targets_have_lower_keeper(spark):
    rows = queries()["dedup_semdedup"](spark, SF0001).collect()
    for r in rows:
        assert r["dup_of"] < r["vec_id"]
        assert r["best_cos_fp"] >= 400000


def test_attribution_channels_and_conversion_bound(spark):
    from gcp_cloudsql_to_bigquery_spark.catalog import load

    rows = queries()["analytics_attribution_last_touch"](spark, SF0001).collect()
    assert rows
    assert {r["channel"] for r in rows} <= {"view", "click", "signup"}
    n_purch = load(spark, SF0001, "events").filter("event_type = 'purchase'").count()
    assert sum(r["n_conversions"] for r in rows) <= n_purch


def test_top_paths_dense_ranks(spark):
    rows = sorted(queries()["analytics_top_paths"](spark, SF0001).collect(), key=lambda r: r["rnk"])
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    ns = [r["n"] for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_ab_ttest_counts_partition_purchases(spark):
    from gcp_cloudsql_to_bigquery_spark.catalog import load

    r = queries()["agg_ab_ttest"](spark, SF0001).collect()[0]
    n_purch = load(spark, SF0001, "events").filter("event_type = 'purchase'").count()
    assert r["n_a"] + r["n_b"] == n_purch
    assert (abs(r["t_stat_x1e6"]) > 1_960_000) == r["significant_95"]


def test_label_centroid_arrow_matches_numpy(spark):
    import numpy as np

    from gcp_cloudsql_to_bigquery_spark.catalog import load

    got = {
        (r["label"], r["dim"]): (r["n"], r["centroid_micro"])
        for r in queries()["embedding_label_centroid_arrow"](spark, SF0001).collect()
    }
    raw = load(spark, SF0001, "embeddings").select("label", "embedding").collect()
    by_label = {}
    for r in raw:
        by_label.setdefault(r["label"], []).append(np.asarray(r["embedding"], dtype="float64"))
    for label, vecs in by_label.items():
        m = np.floor(np.stack(vecs) * 1e6 + 0.5).astype("int64")
        n = m.shape[0]
        cent = (2 * m.sum(axis=0) + n) // (2 * n)
        for d in range(m.shape[1]):
            assert got[(label, d + 1)] == (n, cent[d])


def test_kcore_is_fixpoint_and_subgraph(spark):
    """Every 2-core member keeps degree >= 2 WITHIN the core (the defining
    fixpoint property), and the core is a subgraph of the dup graph."""
    from gcp_cloudsql_to_bigquery_spark.workload import queries as q

    rows = q()["graph_kcore"](spark, SF0001).collect()
    for r in rows:
        assert r["core_degree"] >= 2, r


def test_sequence_match_counts_consistent(spark):
    rows = queries()["analytics_sequence_match"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert r["n_vcp"] <= r["n_vp"] + r["n_vcp"]  # vcp consumes a v..p too
        assert r["has_conversion_path"] == (r["n_vcp"] > 0)
        assert r["seq_len"] > 0


def test_aes_roundtrip_restores_names(spark):
    from gcp_cloudsql_to_bigquery_spark.catalog import load

    got = {r["c_custkey"]: r for r in queries()["fn_aes_roundtrip"](spark, SF0001).collect()}
    base = {
        r["c_custkey"]: r["c_name"]
        for r in load(spark, SF0001, "customer").filter("c_custkey <= 500").collect()
    }
    assert set(got) == set(base)
    for k, name in base.items():
        assert got[k]["decrypted"] == name
        assert got[k]["cipher_len"] % 16 == 0 and got[k]["cipher_len"] > len(name)


def test_quantile_sketch_contains_exact(spark):
    rows = queries()["agg_quantile_sketch"](spark, SF0001).collect()
    assert {r["p_x100"] for r in rows} == {50, 95, 99}
    for r in rows:
        assert r["contained"], r  # true quantile must land in the chosen bucket
        assert abs(r["est_mid_cents"] - r["exact_cents"]) <= 468750 // 2 + 1


def test_mad_outliers_bounded(spark):
    rows = queries()["ts_outlier_mad"](spark, SF0001).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_outliers"] < r["n"]
        assert r["mad4"] >= 0


def test_incremental_topk_matches_batch(spark):
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from pyspark.sql import functions as F

    got = {
        (r["event_id"], r["cents"], r["rnk"])
        for r in queries()["stream_incremental_topk"](spark, SF0001).collect()
    }
    ev = (
        load(spark, SF0001, "events")
        .filter("event_type = 'purchase'")
        .select("event_id", F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"))
        .orderBy(F.col("cents").desc(), "event_id")
        .limit(20)
        .collect()
    )
    want = {(r["event_id"], r["cents"], i + 1) for i, r in enumerate(ev)}
    assert got == want


def test_dedup_pipeline_funnel_monotone(spark):
    rows = {r["stage"]: r for r in queries()["curation_dedup_pipeline"](spark, SF0001).collect()}
    order = ["stage0_raw", "stage1_exact_dedup", "stage2_near_dedup", "stage3_quality"]
    assert set(rows) == set(order)
    for earlier, later in zip(order, order[1:]):
        assert rows[later]["n_docs"] <= rows[earlier]["n_docs"]
        assert rows[later]["total_chars"] <= rows[earlier]["total_chars"]


def test_copurchase_symmetric_and_ranked(spark):
    rows = queries()["graph_copurchase_similarity"](spark, SF0001).collect()
    pairs = {(r["part"], r["similar_part"]): r["cos_fp"] for r in rows}
    for r in rows:
        assert r["part"] != r["similar_part"]
        assert 1 <= r["rnk"] <= 5
        assert r["cooc"] >= 2
        # symmetry of the score where both directions survived top-5
        back = pairs.get((r["similar_part"], r["part"]))
        if back is not None:
            assert back == r["cos_fp"]


def test_freshness_audit_full_month(spark):
    rows = queries()["dq_freshness_partition_audit"](spark, SF0001).collect()
    assert len(rows) == 30  # one partition per January day
    for r in rows:
        assert r["n_rows"] > 0 and r["n_users"] > 0
        assert 0 <= r["freshness_lag_sec"] < 86400
        assert r["fresh_within_1h"] == (r["freshness_lag_sec"] < 3600)


def test_bfs_layers_seeds_at_depth_zero(spark):
    rows = queries()["graph_bfs_layers"](spark, SF0001).collect()
    if not rows:
        return  # no dup edges at this SF
    by_depth = {}
    for r in rows:
        by_depth.setdefault(r["depth"], set()).add(r["doc_id"])
    assert 0 in by_depth
    for n in by_depth[0]:
        assert n % 100 == 0
    assert max(by_depth) <= 6


def test_early_arriving_facts_partition_cleanly(spark):
    from gcp_cloudsql_to_bigquery_spark.catalog import load

    rows = queries()["elt_early_arriving_facts"](spark, SF0001).collect()
    total = sum(r["n"] for r in rows)
    n_facts = (
        load(spark, SF0001, "orders")
        .filter("o_orderdate >= timestamp '1998-01-01'")
        .count()
    )
    assert total == n_facts  # phase1 + retry partition the fact set exactly
    assert {r["resolved_in"] for r in rows} == {"phase1", "retry"}


def test_bloom_filter_never_false_negative(spark):
    rows = queries()["scale_bloom_filter_audit"](spark, SF0001).collect()
    cells = {(r["is_member"], r["maybe_present"]): r["n"] for r in rows}
    assert (True, False) not in cells, "Bloom filters must never miss a member"
    assert cells.get((True, True), 0) > 0


def test_morton_parent_child_containment(spark):
    rows = queries()["geo_morton_rollup"](spark, SF0001).collect()
    for r in rows:
        assert r["cell_fine"] >> 4 == r["cell_coarse"], r

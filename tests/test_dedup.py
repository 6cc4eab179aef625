"""Dedup operator tests: LSH vs exact ground truth, SimHash properties,
approx-distinct accuracy (SURVEY.md §5 strategy for non-SQL-expressible ops)."""

from pyspark.sql import functions as F

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.operators import dedup
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def test_minhash_lsh_matches_exact_ground_truth(spark):
    # verified-LSH output must be a subset of exact Jaccard >= 0.8 pairs,
    # with recall ~1 at this threshold (1-(1-j^4)^16 >= 0.9996)
    exact = {
        (r.doc_a, r.doc_b)
        for r in queries()["dedup_ngram_jaccard"](spark, SF0001).filter(F.col("jaccard") >= 0.8).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in queries()["dedup_minhash_lsh"](spark, SF0001).collect()}
    assert lsh <= exact  # verification step guarantees no false positives
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.95, f"LSH recall {recall} below 0.95 ({len(lsh)}/{len(exact)})"


def test_simhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, ["spark", "batch", "window"]), (2, ["spark", "batch", "window"]), (3, ["zzz", "qqq"])],
        "doc_id long, toks array<string>",
    )
    sigs = {r.doc_id: r.sim for r in df.select("doc_id", dedup.simhash64("toks").alias("sim")).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_simhash_deterministic_across_runs(spark):
    df = load(spark, SF0001, "documents").limit(20).select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    a = sorted((r.doc_id, r.sim) for r in df.select("doc_id", dedup.simhash64("toks").alias("sim")).collect())
    b = sorted((r.doc_id, r.sim) for r in df.select("doc_id", dedup.simhash64("toks").alias("sim")).collect())
    assert a == b


def test_approx_count_distinct_within_rsd(spark):
    exact = {
        r.l_returnflag: (r.n_part, r.n_orders)
        for r in load(spark, SF0001, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_part"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .collect()
    }
    rows = {r.l_returnflag: r for r in
            queries()["agg_approx_count_distinct"](spark, SF0001).collect()}
    for k, (p, o) in exact.items():
        r = rows[k]
        assert r.exact_parts == p and r.exact_orders == o, (k, r, p, o)
        assert r.parts_within_15pct and r.orders_within_15pct, (k, r)


def test_anchor_lsh_candidates_subset_of_bruteforce_space(spark):
    # every surviving LSH pair must have both endpoints sharing a bucket and
    # cosine >= threshold — structural sanity on the scale path
    out = queries()["ann_anchor_lsh"](spark, SF0001).collect()
    assert all(r.cosine >= 0.2 for r in out)
    assert all(r.vec_a < r.vec_b for r in out)


def test_connected_components_properties(spark):
    from gcp_cloudsql_to_bigquery_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "doc_a long, doc_b long",
    )
    labels = {r.node: r.label for r in connected_components(edges).collect()}
    assert labels[1] == labels[2] == labels[3] == 1   # chain collapses to min
    assert labels[10] == labels[11] == 10
    assert labels[20] == labels[21] == labels[22] == 20  # cycle
    assert labels[1] != labels[10] != labels[20]


def test_hll_sketch_rollup_estimates_match_exact(spark):
    # the union-of-sketches region estimate must agree with the exact
    # distinct count within HLL tolerance (default lgConfigK=12 → ~1.6% rsd),
    # proving the merge path loses nothing vs re-aggregating the base table
    exact = {
        r.n_regionkey: r.n
        for r in load(spark, SF0001, "customer")
        .join(load(spark, SF0001, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey")
        .agg(F.countDistinct("c_custkey").alias("n"))
        .collect()
    }
    rows = {r.n_regionkey: r for r in queries()["agg_hll_sketch_rollup"](spark, SF0001).collect()}
    assert set(rows) == set(exact)
    for k, n in exact.items():
        assert rows[k].exact_customers == n, (k, rows[k].exact_customers, n)
        assert rows[k].hll_within_5pct, (k, n)
